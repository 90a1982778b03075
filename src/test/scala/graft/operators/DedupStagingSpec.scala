package graft.operators

import graft.SparkSpec

/** Durable-staging switch for the dedup tier: with
  * spark.graft.stagingDir set, the multi-pass hashed-shingle
  * table stages to parquet (fault-tolerant — lost executors recompute
  * from files) instead of localCheckpoint, and the LSH pipeline
  * produces identical pairs. */
class DedupStagingSpec extends SparkSpec {

  test("q51 LSH pairs are identical under parquet staging vs localCheckpoint") {
    val dir = sf("sf0.001")
    val local = DedupOps.q51LshJaccardPairs.fn(spark, dir).collect().map(_.toString)
    val staging = java.nio.file.Files.createTempDirectory("graft-dedup-stage").toString
    spark.conf.set(graft.Staging.Key, staging)
    try {
      val durable = DedupOps.q51LshJaccardPairs.fn(spark, dir).collect().map(_.toString)
      assert(durable.toSeq == local.toSeq)
      // the staged table actually landed on disk as parquet
      val staged = new java.io.File(staging).listFiles()
      assert(staged != null && staged.exists(_.getName.startsWith("hashed_")))
    } finally spark.conf.unset(graft.Staging.Key)
  }

  test("q95 semantic dedup is identical under corpus parquet staging") {
    val dir = sf("sf0.001")
    val local = MixOps.q95SemanticDedup.fn(spark, dir).collect().map(_.toString)
    val staging = java.nio.file.Files.createTempDirectory("graft-corpus-stage").toString
    spark.conf.set(graft.Staging.Key, staging)
    try {
      val durable = MixOps.q95SemanticDedup.fn(spark, dir).collect().map(_.toString)
      assert(durable.toSeq == local.toSeq)
      val staged = new java.io.File(staging).listFiles()
      assert(staged != null && staged.exists(_.getName.startsWith("semdedup_assign_")))
    } finally spark.conf.unset(graft.Staging.Key)
  }

  test("q96 perplexity and q101 DSIR are identical under corpus parquet staging") {
    val dir = sf("sf0.001")
    val localNll = LmOps.q96LmPerplexity.fn(spark, dir).collect().map(_.toString)
    val localDsir = LmOps.q101Dsir.fn(spark, dir).collect().map(_.toString)
    val staging = java.nio.file.Files.createTempDirectory("graft-lm-stage").toString
    spark.conf.set(graft.Staging.Key, staging)
    try {
      assert(LmOps.q96LmPerplexity.fn(spark, dir).collect().map(_.toString).toSeq
        == localNll.toSeq)
      assert(LmOps.q101Dsir.fn(spark, dir).collect().map(_.toString).toSeq
        == localDsir.toSeq)
      val staged = new java.io.File(staging).listFiles()
      assert(staged != null && staged.exists(_.getName.startsWith("lm_bigrams_")))
      assert(staged.exists(_.getName.startsWith("dsir_raw_")))
    } finally spark.conf.unset(graft.Staging.Key)
  }

  test("Staging.cleanup deletes every tracked staged directory, and only then") {
    val dir = sf("sf0.001")
    val staging = java.nio.file.Files.createTempDirectory("graft-cleanup").toString
    spark.conf.set(graft.Staging.Key, staging)
    try {
      LmOps.q96LmPerplexity.fn(spark, dir).collect()
      val before = graft.Staging.stagedPaths.filter(_.startsWith(staging))
      assert(before.nonEmpty, "durable mode must track what it stages")
      assert(before.forall(p => new java.io.File(p).exists()))
      graft.Staging.cleanup(spark)
      assert(before.forall(p => !new java.io.File(p).exists()),
        "cleanup left staged directories behind")
      assert(graft.Staging.stagedPaths.intersect(before).isEmpty,
        "cleaned paths must leave the tracking set")
    } finally spark.conf.unset(graft.Staging.Key)
  }

  test("q90 pigeonhole banding finds EVERY pair within the Hamming bound (vs brute force)") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val banded = DedupOps.q90SimhashHamming.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force: all-pairs Hamming over the q53 signature table
    val sigs = DedupOps.q53Simhash.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val brute = (for {
      (ida, sa) <- sigs; (idb, sb) <- sigs if ida < idb
      h = sa.zip(sb).count { case (x, y) => x != y }
      if h <= 7
    } yield (ida, idb, h.toLong)).toSet
    assert(banded === brute,
      s"banding missed ${(brute -- banded).size} pairs / invented ${(banded -- brute).size}")
    assert(brute.nonEmpty, "test corpus should contain at least one near-dup pair")
  }

  test("tuneLshBands: budget respected, S-curve midpoint tracks the threshold, selectivity monotone") {
    Seq(0.2, 0.5, 0.8).foreach { t =>
      val (b, r) = DedupOps.tuneLshBands(128, t)
      assert(b * r <= 128 && b >= 1 && r >= 1)
      // the S-curve's 50% collision point (1/b)^(1/r) sits near the
      // target threshold when the FP/FN weights are balanced
      val mid = math.pow(1.0 / b, 1.0 / r)
      assert(math.abs(mid - t) < 0.15, s"t=$t -> (b=$b, r=$r), midpoint $mid")
    }
    // a stricter threshold needs longer bands (more selective rows)
    val loose = DedupOps.tuneLshBands(128, 0.2)._2
    val strict = DedupOps.tuneLshBands(128, 0.8)._2
    assert(strict > loose, s"rows/band must grow with the threshold: $loose -> $strict")
    // weighting false negatives harder can only lower the miss rate
    // side of the curve: rows per band should not increase
    val fnHeavy = DedupOps.tuneLshBands(128, 0.5, fpWeight = 0.1, fnWeight = 0.9)._2
    val balanced = DedupOps.tuneLshBands(128, 0.5)._2
    assert(fnHeavy <= balanced)
  }

  test("q112 edit-distance verify: exact Levenshtein over q90's candidates, identical texts score 1") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val rows = DedupOps.q112EditDistPairs.fn(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))).toMap
    val candidates = DedupOps.q90SimhashHamming.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the verify stage scores exactly the banded candidate set
    assert(rows.keySet === candidates)
    val texts = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { case ((a, b), (lev, sim, dup)) =>
      assert(sim >= 0.0 && sim <= 1.0)
      assert(dup === (sim >= 0.8))
      if (texts(a) == texts(b))
        assert(lev === 0L && sim === 1.0, s"identical pair ($a,$b) scored $sim")
    }
    // byte-identical near-dups exist in the corpus, so the gate bites
    // in both directions on real data
    assert(rows.values.exists(_._3), "no pair passed the dup gate")
    assert(rows.values.exists(v => !v._3), "every candidate passed — gate adds nothing")
  }

  test("q91 label propagation yields a consistent fixpoint over the pair graph") {
    val dir = sf("sf0.001")
    val canon = DedupOps.q91DupClusters.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every edge's endpoints landed in the same cluster
    DedupOps.q90SimhashHamming.fn(spark, dir).collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(canon(a) === canon(b), s"edge ($a,$b) split across clusters")
    }
    // canonicals are fixpoints and cluster minima
    canon.foreach { case (doc, c) =>
      assert(canon(c) === c, s"canonical $c of $doc is not its own canonical")
      assert(c <= doc, "canonical must be the cluster minimum")
    }
  }

  test("q131 calibration: same pairs as q51, estimates quantized, banding floor holds") {
    val dir = sf("sf0.001")
    val cal = DedupOps.q131MinhashCalibration.fn(spark, dir).collect()
    val q51 = DedupOps.q51LshJaccardPairs.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cal.nonEmpty, "LSH must surface candidate pairs on testdata")
    assert(cal.map(r => (r.getLong(0), r.getLong(1))).toSet === q51.keySet,
      "the audit must cover exactly q51's candidate set")
    cal.foreach { r =>
      val (est, ex, err) = (r.getDouble(r.fieldIndex("est_jaccard")),
        r.getDouble(r.fieldIndex("jaccard")), r.getDouble(r.fieldIndex("abs_err")))
      // a candidate collided on >= 1 full band -> >= 2 of 8 components agree
      assert(est >= 0.25 - 1e-9, s"banding floor violated: $r")
      // estimates are exact i/8 binary fractions
      assert((est * 8).round.toDouble === est * 8, s"unquantized estimate: $r")
      assert(math.abs(ex - q51((r.getLong(0), r.getLong(1)))) < 1e-9,
        "exact Jaccard must equal q51's verify value")
      assert(math.abs(err - math.abs(est - ex)) < 2e-6, s"abs_err inconsistent: $r")
    }
  }

  test("q134 histogram is exactly q91's components re-counted; docs conserve") {
    val dir = sf("sf0.001")
    val hist = DedupOps.q134ClusterHistogram.fn(spark, dir).collect()
    val canon = DedupOps.q91DupClusters.fn(spark, dir).collect()
      .map(r => r.getLong(1))
    val sizes = canon.groupBy(identity).map(_._2.length.toLong)
      .groupBy(identity).map { case (sz, xs) => sz -> xs.size.toLong }
    assert(hist.map(r => r.getLong(0) -> r.getLong(1)).toMap === sizes)
    hist.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_docs")) === r.getLong(0) * r.getLong(1))
      assert(r.getLong(r.fieldIndex("dup_docs")) === (r.getLong(0) - 1) * r.getLong(1))
    }
    assert(hist.map(r => r.getLong(r.fieldIndex("n_docs"))).sum === canon.length.toLong,
      "histogram must conserve every document")
  }

  test("q129 saturation curve conserves docs and ends at the exact distinct count") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.01")
    val rows = DedupOps.q129DedupSaturation.fn(spark, dir).collect()
    val d = graft.Tables.load(spark, dir, "documents")
    val nDocs = d.count()
    val nUnique = d.select(sha2(col("text"), 256)).distinct().count()
    assert(rows.nonEmpty)
    // buckets come out in order; cumulatives are consistent running sums
    var (cd, cu) = (0L, 0L)
    rows.foreach { r =>
      val (n, nw) = (r.getLong(r.fieldIndex("n_docs")), r.getLong(r.fieldIndex("new_docs")))
      assert(nw >= 0L && nw <= n, s"new_docs out of range: $r")
      cd += n; cu += nw
      assert(r.getLong(r.fieldIndex("cum_docs")) === cd)
      assert(r.getLong(r.fieldIndex("cum_unique")) === cu)
      assert(r.getDouble(r.fieldIndex("cum_unique_frac")) <= 1.0 + 1e-9)
    }
    assert(cd === nDocs, "every doc must land in exactly one bucket")
    assert(cu === nUnique, "the curve must end at the corpus's exact distinct count")
  }

  test("q183: recall audit is consistent — truth shrinks with tau, recall climbs, hits bounded") {
    val rows = DedupOps.q183LshRecall.fn(spark, "/root/testdata/sf0.01")
      .collect().sortBy(_.getDouble(0))
    assert(rows.length === 3)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "hits cannot exceed truth")
      assert(r.getDouble(4) ===
        math.rint(r.getLong(2).toDouble / r.getLong(1) * 10000) / 10000)
    }
    // truth set is monotone shrinking in the threshold
    assert(rows.sliding(2).forall(p => p.length < 2 ||
      p(0).getLong(1) >= p(1).getLong(1)))
    // the banding S-curve: recall must not fall as tau rises
    assert(rows.sliding(2).forall(p => p.length < 2 ||
      p(0).getDouble(4) <= p(1).getDouble(4) + 1e-9))
    // high-similarity pairs must essentially all surface at b=8, r=2
    assert(rows.last.getDouble(4) >= 0.9,
      s"recall at tau=0.7 is ${rows.last.getDouble(4)} — banding badly tuned")
  }

  test("q192: span rollup is consistent with the q91 cluster structure") {
    val dir = "/root/testdata/sf0.01"
    val rows = DedupOps.q192CrossSourceDups.fn(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nc, nd, red) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nd >= 2 * nc, "every counted cluster has >= 2 members")
      assert(red === nd - nc, "redundant copies = members minus one per cluster")
      if (r.getString(0) == "within_source")
        assert(r.getLong(4) === 1L, "within-source clusters span one source")
      else assert(r.getLong(4) >= 2L)
    }
    // totals match q91's non-singleton membership
    val members = DedupOps.q91DupClusters.fn(spark, dir).collect()
      .groupBy(_.getLong(1)).filter(_._2.length >= 2)
    assert(rows.map(_.getLong(2)).sum === members.values.map(_.length.toLong).sum,
      "span rollup must cover exactly the clustered docs")
    assert(rows.map(_.getLong(1)).sum === members.size.toLong,
      "cluster counts must match q91's component count")
  }
}
