package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Invariants of the corpus-composition tier beyond the row-hash
  * oracle: split determinism under re-ingest, mixture monotonicity,
  * decontamination sensitivity, semantic-dedup survivor rules. */
class MixOpsSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("q93: buckets live in [0,100) and split follows the content hash") {
    val rows = MixOps.q93SplitAssign.fn(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b = r.getLong(r.fieldIndex("bucket"))
      val sp = r.getString(r.fieldIndex("split"))
      assert(b >= 0 && b < 100)
      val expected = if (b < 80) "train" else if (b < 90) "val" else "test"
      assert(sp === expected, s"bucket $b mapped to $sp")
    }
    // content-keyed: identical text always lands in the same split,
    // whatever its doc_id — the no-leakage-on-reingest property
    val d = graft.Tables.load(spark, dir, "documents")
    val samePerHash = MixOps.q93SplitAssign.fn(spark, dir)
      .join(d.select(col("doc_id"), sha2(col("text"), 256).as("h")), "doc_id")
      .groupBy("h").agg(countDistinct("split").as("n"))
      .filter(col("n") > 1).count()
    assert(samePerHash === 0L)
  }

  test("q94: kept is exactly bucket < rate, rates follow the mixture table") {
    val rows = MixOps.q94DomainMix.fn(spark, dir).collect()
    assert(rows.nonEmpty)
    val rateOf = Map("en" -> 90L, "de" -> 60L, "fr" -> 60L)
    rows.foreach { r =>
      val (lang, b, rate, kept) = (r.getString(r.fieldIndex("lang")),
        r.getLong(r.fieldIndex("bucket")), r.getLong(r.fieldIndex("rate")),
        r.getBoolean(r.fieldIndex("kept")))
      assert(rate === rateOf.getOrElse(lang, 30L))
      assert(kept === (b < rate))
    }
    // the mixture bites: a lower-rate language keeps a smaller or equal
    // fraction than the top-rate one on any non-trivial corpus slice
    val frac = rows.groupBy(_.getString(1)).map { case (l, rs) =>
      l -> rs.count(_.getBoolean(4)).toDouble / rs.length
    }
    for (l <- frac.keys if l != "en" && frac(l) > 0)
      assert(frac(l) <= frac("en") + 0.35, s"$l kept more than the en-heavy mixture allows")
  }

  test("q92: a doc sharing a 5-gram with the benchmark set is flagged") {
    // benchmark membership is doc_id % 10 == 7; craft a corpus where
    // doc 3 copies benchmark doc 7's text and doc 4 shares nothing
    val tmp = java.nio.file.Files.createTempDirectory("graft-mix").toString
    import spark.implicits._
    val benchText = "the quick brown fox jumps over the lazy dog today"
    Seq(
      (3L, benchText, "en", "s0", 1L),
      (4L, "completely different words that never touch the benchmark suite", "en", "s0", 1L),
      (7L, benchText, "en", "s0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = MixOps.q92Decontaminate.fn(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("is_contaminated"))).toMap
    assert(out(3L), "the benchmark copy must flag")
    assert(!out(4L), "the clean doc must not flag")
    assert(!out.contains(7L), "benchmark docs are not part of the scored corpus")
  }

  test("q95: canonical survivors are never dups; min vec_id survives its cluster") {
    val rows = MixOps.q95SemanticDedup.fn(spark, dir).collect()
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_.getLong(rows.head.fieldIndex("cluster")))
    byCluster.foreach { case (c, rs) =>
      val minId = rs.map(_.getLong(0)).min
      val minRow = rs.find(_.getLong(0) == minId).get
      assert(!minRow.getBoolean(minRow.fieldIndex("is_dup")),
        s"cluster $c: the lowest vec_id can have no lower-id neighbor")
    }
    // every embedding is assigned to exactly one cluster
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
    assert(rows.length ===
      graft.Tables.load(spark, dir, "embeddings").count().toInt)
  }

  // ---- plan-shape assertions: the scale contracts, not just results ----

  test("q109: graded contamination agrees with q92's flag and bounds the fraction") {
    val frac = MixOps.q109ContamFraction.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toMap
    val flag = MixOps.q92Decontaminate.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(frac.keySet === flag.keySet)
    frac.foreach { case (id, (nGrams, nOverlap, f, dirty)) =>
      assert(nOverlap === flag(id)._1, s"doc $id overlap diverges from q92")
      assert(nOverlap <= nGrams && f >= 0.0 && f <= 1.0)
      // the graded gate is strictly laxer than the any-overlap flag
      assert(!dirty || flag(id)._2, s"doc $id dirty without q92 contamination")
    }
    // grading must separate: some contaminated docs sit under the 1/8 gate
    val contaminated = frac.filter { case (id, _) => flag(id)._2 }
    assert(contaminated.nonEmpty)
    assert(contaminated.exists(!_._2._4),
      "every contaminated doc is over the dirty gate — grading adds nothing")
  }

  test("semDedup with trained k-means centroids catches >= the deterministic pick") {
    val e = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // exact all-pairs near-dup set (the un-blocked ground truth)
    val exactDups = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id") &&
        expr("dot_product_f(a.embedding, b.embedding) > 0.35"))
      .select(col("b.vec_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(exactDups.nonEmpty, "testdata has no near-dup pairs to measure")

    def flagged(cents: org.apache.spark.sql.DataFrame): Set[Long] =
      MixOps.semDedup(e, cents).filter(col("is_dup"))
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val det = flagged(e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec")))
    val trained = flagged(graft.ml.VectorML.trainCentroids(e, "embedding", 8)
      .select(col("cid").cast("long").as("cid"), col("cv").as("cvec")))

    // cluster blocking can only LOSE candidate pairs, never invent them
    assert(det.subsetOf(exactDups), "deterministic pick flagged a non-dup")
    assert(trained.subsetOf(exactDups), "trained centroids flagged a non-dup")
    // the production quality claim: k-means cells co-locate near-dups at
    // least as well as the arbitrary first-8 pick
    assert(trained.size >= det.size,
      s"trained recall ${trained.size}/${exactDups.size} < " +
        s"deterministic ${det.size}/${exactDups.size}")
  }

  test("q92 plan: the benchmark gram set rides a broadcast, never a shuffle join") {
    val df = MixOps.q92Decontaminate.fn(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
  }

  test("q93/q94 plans: one narrow pass — no hash-partition exchange at all") {
    for (qd <- Seq(MixOps.q93SplitAssign, MixOps.q94DomainMix)) {
      val df = qd.fn(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"${qd.name} shuffles where a narrow map suffices:\n${plan.take(600)}")
    }
  }

  test("q95 plan: cluster-blocked pair join is equi-keyed, never cartesian") {
    val df = MixOps.q95SemanticDedup.fn(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"pair join degenerated to a cross product:\n${plan.take(600)}")
  }

  test("q127: outliers sit below their cluster mean; z-scores center near zero") {
    val rows = MixOps.q127EmbeddingOutliers.fn(spark, dir).collect()
    assert(rows.nonEmpty)
    // same cluster assignment as q95 (shared machinery)
    val q95 = MixOps.q95SemanticDedup.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getLong(1) === q95(r.getLong(0))))
    val byCluster = rows.filterNot(_.isNullAt(3)).groupBy(_.getLong(1))
    byCluster.foreach { case (c, rs) =>
      val zs = rs.map(_.getDouble(3))
      assert(math.abs(zs.sum / zs.length) < 0.01, s"cluster $c z-mean off zero")
      rs.filter(_.getBoolean(4)).foreach { r =>
        assert(r.getDouble(3) < -2.0, "flag must match the z rule")
        val mean = rs.map(_.getDouble(2)).sum / rs.length
        assert(r.getDouble(2) < mean, "an outlier must sit below its cluster mean")
      }
    }
    // flags are rare by construction (z < -2 is the 2-sigma tail)
    val frac = rows.count(_.getBoolean(4)).toDouble / rows.length
    assert(frac < 0.15, s"outlier fraction $frac implausibly high")
  }

  test("q132: clusters equal a driver-side union-find over the mutual-kNN edges") {
    val e = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val got = MixOps.q132KnnClusters.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent reference: collect the exact top-5 graph, build the
    // mutual edge set, union-find it
    val knn = AnnOps.knnGraphExact(e, 5).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id")))
    val knnSet = knn.toSet
    val mutual = knn.filter { case (a, b) => knnSet.contains((b, a)) }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    mutual.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ids = e.collect().map(_.getLong(0))
    assert(got.keySet === ids.toSet)
    ids.foreach { v =>
      assert(got(v) === find(v), s"vector $v: cluster ${got(v)} != reference ${find(v)}")
    }
    // sanity on this testdata: the kNN relation is asymmetric somewhere,
    // so mutualization actually prunes (not an invariant of the operator)
    assert(mutual.length < knn.length, "every kNN edge was mutual — symmetrization did nothing")
    // representatives are cluster minima and fixpoints
    got.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keys.min === c, s"cluster $c rep is not its minimum")
    }
  }

  test("q122: overlap matrix is the upper triangle with consistent Jaccard") {
    val rows = MixOps.q122SourceOverlap.fn(spark, dir).collect()
    assert(rows.nonEmpty, "synthetic sources share template grams")
    rows.foreach { r =>
      val (s1, s2) = (r.getString(0), r.getString(1))
      val (n1, n2, sh) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(s1 < s2, "upper triangle only")
      assert(sh >= 1 && sh <= math.min(n1, n2))
      val expect = BigDecimal(sh.toDouble / (n1 + n2 - sh))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(5) - expect) < 1e-9)
    }
    // spot-check one pair against a direct set intersection
    val d = graft.Tables.load(spark, dir, "documents")
    val g = CorpusOps.fiveGramsOf(d)
      .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), explode(col("shingles")).as("sh"))
      .collect().groupBy(_.getString(0))
      .map { case (s, rs) => s -> rs.map(_.getString(1)).toSet }
    val r0 = rows.head
    val (a, b) = (g(r0.getString(0)), g(r0.getString(1)))
    assert(r0.getLong(4) === a.intersect(b).size.toLong)
    assert(r0.getLong(2) === a.size.toLong && r0.getLong(3) === b.size.toLong)
  }

  test("q209: MMD² decomposes as moment + 2·mean terms, non-negative, and replays exactly from the raw vectors") {
    val rows = MixOps.q209MmdDrift.fn(spark, dir).collect()
    assert(rows.length === 45, "10 labels → 45 unordered pairs")
    rows.foreach { r =>
      val (m2, o2, mmd) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(m2 >= 0.0 && o2 >= 0.0 && mmd >= 0.0)
      // decomposition holds up to the two addends' own 1e-6 rounding
      assert(math.abs(mmd - (o2 + 2.0 * m2)) < 3e-6)
    }
    // driver-side exact replay of one pair from the raw vectors
    val vecs = graft.Tables.load(spark, dir, "embeddings")
      .select(col("label"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .groupBy(_._1).map { case (l, rs) => l -> rs.map(_._2) }
    def mu(vs: Array[Array[Double]]): Array[Double] =
      (0 until 64).map(i => vs.map(_(i)).sum / vs.length).toArray
    def mom(vs: Array[Array[Double]]): Array[Array[Double]] =
      (0 until 64).map(i => (0 until 64).map(j =>
        vs.map(v => v(i) * v(j)).sum / vs.length).toArray).toArray
    val (va, vb) = (vecs(0), vecs(1))
    val (ma, mb) = (mu(va), mu(vb))
    val meanD = (0 until 64).map(i => math.pow(ma(i) - mb(i), 2)).sum
    val (oa, ob) = (mom(va), mom(vb))
    val momD = (for (i <- 0 until 64; j <- 0 until 64)
      yield math.pow(oa(i)(j) - ob(i)(j), 2)).sum
    val r01 = rows.find(r => r.getInt(0) == 0 && r.getInt(1) == 1).get
    assert(math.abs(r01.getDouble(2) - meanD) < 1e-5, "mean term replay")
    assert(math.abs(r01.getDouble(3) - momD) < 1e-5, "moment term replay")
  }
}
