package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Invariants of the training-set construction tier beyond the
  * row-hash oracle: temperature-rate monotonicity, soft-dedup
  * expectation bounds, triplet label constraints, stratified quota
  * exactness, OOV-curve monotonicity. */
class SampleOpsSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("q115: smallest source keeps everything; rates fall with source size") {
    val rows = SampleOps.q115TemperatureResample.fn(spark, dir).collect()
    assert(rows.nonEmpty)
    val bySource = rows.groupBy(_.getString(1))
    // thresh = floor(65536·sqrt(n_min/n_s)): the min-count source hits
    // 65536 exactly (rate 1.0) and every bucket is < 65536 → all kept
    val nmin = rows.map(_.getLong(2)).min
    rows.filter(_.getLong(2) == nmin).foreach { r =>
      assert(r.getLong(3) === 65536L, "smallest source must have rate 1")
      assert(r.getBoolean(4), "smallest source must keep every doc")
    }
    // monotone: bigger source → smaller-or-equal threshold
    val threshByN = rows.map(r => (r.getLong(2), r.getLong(3))).distinct.sortBy(_._1)
    threshByN.sliding(2).foreach {
      case Array((n1, t1), (n2, t2)) => assert(n1 < n2 && t2 <= t1)
      case _ => ()
    }
    // τ=0.5 flattening keeps a sublinear share of large sources: the
    // largest source's kept fraction must sit near its sqrt rate
    val largest = bySource.maxBy(_._2.head.getLong(2))._2
    val rate = largest.head.getLong(3).toDouble / 65536
    val kept = largest.count(_.getBoolean(4)).toDouble / largest.length
    assert(math.abs(kept - rate) < 0.35, s"kept=$kept far from rate=$rate")
  }

  test("q116: unique docs always survive; duplicate clusters thin to ~1 in expectation") {
    val rows = SampleOps.q116SoftDedup.fn(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.filter(_.getLong(1) == 1L).foreach { r =>
      assert(r.getBoolean(2), s"singleton doc ${r.getLong(0)} must be kept (p=1)")
    }
    // per-cluster: kept count can never exceed the cluster size, and
    // across all m>=2 clusters the total survivors track the cluster
    // count (expectation 1 per cluster, loose 3-sigma style bound)
    val d = graft.Tables.load(spark, dir, "documents")
    val withHash = SampleOps.q116SoftDedup.fn(spark, dir)
      .join(d.select(col("doc_id"), sha2(col("text"), 256).as("h")), "doc_id")
    val perCluster = withHash.filter(col("grp_size") >= 2)
      .groupBy("h").agg(first("grp_size").as("m"),
        sum(when(col("kept"), 1).otherwise(0)).as("survivors"))
      .collect()
    if (perCluster.nonEmpty) {
      perCluster.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
      val clusters = perCluster.length.toDouble
      val survivors = perCluster.map(_.getLong(2)).sum.toDouble
      assert(survivors <= 3 * clusters + 3,
        s"$survivors survivors across $clusters clusters — far above E[1]/cluster")
    }
  }

  test("q118: positives share the anchor label, negatives don't, ids are distinct") {
    val rows = SampleOps.q118TripletMining.fn(spark, dir).collect()
    assert(rows.nonEmpty)
    val e = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      val (aId, aLabel) = (r.getLong(0), r.getInt(1))
      val (posId, negId) = (r.getLong(r.fieldIndex("pos_id")), r.getLong(r.fieldIndex("neg_id")))
      assert(e(aId) === aLabel)
      assert(posId !== aId, "positive must not be the anchor itself")
      assert(e(posId) === aLabel, "positive must share the anchor label")
      assert(e(negId) !== aLabel, "negative must have a different label")
    }
  }

  test("q118: mined positive is the true same-label argmax (vs brute force)") {
    val e = graft.Tables.load(spark, dir, "embeddings")
    val anchor = e.filter(col("vec_id") === 3)
      .select(col("embedding").as("av"), col("label").as("al"))
    val brute = e.crossJoin(broadcast(anchor))
      .filter(col("vec_id") =!= 3 && col("label") === col("al"))
      .select(col("vec_id"), round(expr("dot_product_f(embedding, av)"), 6).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(1).collect().head
    val mined = SampleOps.q118TripletMining.fn(spark, dir)
      .filter(col("a_id") === 3).collect().head
    assert(mined.getLong(mined.fieldIndex("pos_id")) === brute.getLong(0))
    assert(mined.getDouble(mined.fieldIndex("pos_sim")) === brute.getDouble(1))
  }

  test("IVF triplet mining at full probe equals the brute miner; pruned probes stay valid") {
    val e = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    val centroids = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val brute = SampleOps.q118TripletMining.fn(spark, dir)
      .collect().map(_.toString).toSeq
    // nprobe = C: every cell probed → identical to the brute miner
    val full = SampleOps.tripletMiningIvf(e, 8, centroids, nprobe = 16)
      .collect().map(_.toString).toSeq
    assert(full === brute)
    // nprobe < C: still one valid triplet per anchor, sims can only drop
    val pruned = SampleOps.tripletMiningIvf(e, 8, centroids, nprobe = 4).collect()
    assert(pruned.length === 8)
    val bruteSim = SampleOps.q118TripletMining.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("pos_sim"))).toMap
    pruned.foreach { r =>
      assert(r.getDouble(r.fieldIndex("pos_sim")) <= bruteSim(r.getLong(0)) + 1e-9)
    }
  }

  test("q119: every source holds out exactly ceil(n/10) docs") {
    val rows = SampleOps.q119StratifiedSplit.fn(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(1)).foreach { case (src, rs) =>
      val n = rs.head.getLong(3)
      assert(rs.length.toLong === n)
      val evalN = rs.count(_.getBoolean(4)).toLong
      assert(evalN === (n + 9) / 10, s"source $src: $evalN held out of $n")
      // the held-out rows are exactly the lowest ranks
      assert(rs.filter(_.getBoolean(4)).map(_.getInt(2)).max.toLong === (n + 9) / 10)
    }
  }

  test("q121: allocation respects the budget, caps only the largest sources") {
    val rows = SampleOps.q121UnimaxAlloc.fn(spark, dir).collect()
    assert(rows.nonEmpty)
    val szs = rows.map(_.getLong(1))
    val allocs = rows.map(_.getLong(3))
    val budget = szs.sum / 2
    rows.foreach(r => assert(r.getLong(3) <= r.getLong(1), "alloc never exceeds size"))
    assert(allocs.sum <= budget)
    // floor remainder bound: what's left unallocated is < #capped sources
    val nCapped = rows.count(!_.getBoolean(2))
    if (nCapped > 0) assert(budget - allocs.sum < nCapped)
  }

  test("unimaxAlloc on a skewed corpus: small sources fully taken, big ones level-capped") {
    import spark.implicits._
    // sizes 10, 20, 1000, 2000 chars (one 1-doc source each): total 3030,
    // budget 1515 → both small sources full, level = (1515-30)/2 = 742
    val d = Seq(("a", 10L), ("b", 20L), ("c", 1000L), ("d", 2000L))
      .toDF("source", "n_chars")
    val got = SampleOps.unimaxAlloc(d).collect()
      .map(r => r.getString(0) -> (r.getBoolean(2), r.getLong(3))).toMap
    assert(got("a") === (true, 10L))
    assert(got("b") === (true, 20L))
    assert(got("c") === (false, 742L))
    assert(got("d") === (false, 742L))
    // degenerate: budget >= total takes everything (every source full)
    // with sizes 1,1 → budget = 1: nobody full, level = 0
    val tiny = Seq(("x", 1L), ("y", 1L)).toDF("source", "n_chars")
    val t = SampleOps.unimaxAlloc(tiny).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(t("x") === 0L && t("y") === 0L)
  }

  test("q120: OOV rate is monotone non-increasing in V and exact at the ends") {
    val rows = SampleOps.q120VocabCoverage.fn(spark, dir).collect()
    assert(rows.length === 5)
    val byV = rows.sortBy(_.getInt(0))
    byV.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getDouble(4) >= b.getDouble(4), "oov must not grow with V")
        assert(a.getLong(3) <= b.getLong(3), "covered must not shrink with V")
      case _ => ()
    }
    val total = byV.head.getLong(2)
    byV.foreach { r =>
      assert(r.getLong(2) === total, "total token count constant across rows")
      assert(r.getLong(3) <= total)
      // identity: oov = 1 - covered/total (rounded)
      val expect = BigDecimal(1.0 - r.getLong(3).toDouble / total)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(4) - expect) < 1e-9)
    }
    // vocab larger than V=4096? then coverage < 1; otherwise exact 1
    val nVocab = byV.head.getLong(1)
    if (nVocab <= 4096) assert(byV.last.getDouble(4) === 0.0)
  }

  test("q156: exact per-source quota, true bottom-k by hash, monotone under removal") {
    val rows = SampleOps.q156BottomkSample.fn(spark, dir).collect()
    val bySource = rows.groupBy(_.getString(0))
    val d = graft.Tables.load(spark, dir, "documents")
    val sizes = d.groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // quota: exactly min(10, group size) rows, ranks dense from 1
    sizes.foreach { case (src, n) =>
      val got = bySource.getOrElse(src, Array.empty)
      assert(got.length === math.min(10L, n).toInt, s"quota for $src")
      assert(got.map(_.getLong(1)).sorted.toSeq === (1L to got.length).toSeq)
    }
    // independent recomputation: the picks are the true bottom-k
    def sha(s: String) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val all = d.select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        Integer.parseInt(sha(r.getString(2)).substring(0, 4), 16).toLong))
    all.groupBy(_._2).foreach { case (src, docs) =>
      val expect = docs.sortBy(t => (t._3, t._1)).take(10).map(_._1).toSeq
      val got = bySource(src).sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
      assert(got === expect, s"bottom-k drift for $src")
    }
    // mergeability: restricting the corpus can only let picks IN, never
    // evict a surviving pick (bottom-k is monotone under removal)
    val half = d.filter(col("doc_id") % 2 === 0)
    val halfPicks = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("bucket"), col("doc_id"))
      half.withColumn("bucket",
          expr(MixOps.bucketExpr("sha2(text, 256)", 65536)).cast("long"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
        .collect().map(r => r.getAs[Long]("doc_id")).toSet
    }
    rows.filter(_.getLong(2) % 2 == 0).foreach { r =>
      assert(halfPicks.contains(r.getLong(2)),
        s"doc ${r.getLong(2)} picked from full corpus but not from its subset")
    }
  }

  test("q151: pairs are same-cluster extremes with a strictly positive margin") {
    val rows = SampleOps.q151PreferencePairs.fn(spark, dir).collect()
    assert(rows.nonEmpty, "sf0.001 must yield at least one preference pair")
    rows.foreach { r =>
      val (chosenTtr, rejectedTtr, margin) =
        (r.getDouble(2), r.getDouble(4), r.getDouble(5))
      assert(r.getLong(1) !== r.getLong(3), "chosen and rejected must differ")
      assert(margin > 0, "zero-margin pairs carry no preference signal")
      assert(math.abs(margin - BigDecimal(chosenTtr - rejectedTtr)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
    // independent recomputation: chosen/rejected must be the true
    // quality extremes of their SimHash component
    val pairs = DedupOps.q90SimhashHamming.fn(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    val clusters = DedupOps.minLabelComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tk = split(trim(col("text")), "\\s+")
    val ttr = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        round(size(array_distinct(tk)).cast("double") / size(tk), 6).as("ttr"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      val cluster = r.getLong(0)
      assert(clusters(r.getLong(1)) === cluster, "chosen outside its cluster")
      assert(clusters(r.getLong(3)) === cluster, "rejected outside its cluster")
      val memberTtrs = clusters.collect {
        case (id, c) if c == cluster => ttr(id)
      }
      assert(r.getDouble(2) === memberTtrs.max, "chosen must be the max-ttr member")
      assert(r.getDouble(4) === memberTtrs.min, "rejected must be the min-ttr member")
    }
  }

  test("q165: epoch shuffle is a deterministic permutation with dense per-shard positions") {
    val a = SampleOps.q165EpochShuffle.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val b = SampleOps.q165EpochShuffle.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(a.toSeq == b.toSeq, "rerun must reproduce the identical order")
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(a.map(_._1).distinct.length.toLong == nDocs, "every doc exactly once")
    assert(a.forall { case (_, s, _) => s >= 0 && s < 16 })
    // positions are 1..n_shard dense within each shard
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
  }

  test("q166: selection = naive greedy prefix; budget respected; everything-fits branch") {
    val got = SampleOps.q166BudgetSelect.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // driver-side naive reference: sort by (score desc, doc_id), prefix <= B
    val all = SampleOps.q166BudgetSelect.fn(spark, dir) // schema source only
    val scored = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect().map { r =>
        val toks = r.getString(1).trim.toLowerCase.split("\\s+")
        val stop = Set("the", "a", "an", "of", "to", "and", "in", "is", "on",
          "for", "with", "as", "by", "at", "it")
        val score = BigDecimal(toks.count(stop) / toks.length.toDouble)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (r.getLong(0), score, toks.length.toLong)
      }
    var cum = 0L
    val want = scored.sortBy { case (id, s, _) => (-s, id) }.flatMap {
      case (id, s, n) =>
        cum += n
        if (cum <= 5000L) Some((id, s, n)) else None
    }.sortBy(_._1)
    assert(got.toSeq == want.toSeq)
    assert(got.map(_._3).sum <= 5000L, "budget is a hard ceiling")
    assert(all != null)
  }

  test("q167: per-bin boundary offsets are dense, end at sum_tokens, count n_docs+1") {
    CorpusOps.q167CuSeqlens.fn(spark, dir).collect().foreach { r =>
      val nDocs = r.getLong(2)
      val sumTokens = r.getLong(3)
      val cu = r.getString(4).split(",").map(_.toLong)
      assert(cu.length == nDocs + 1, "one boundary per doc plus the leading 0")
      assert(cu.head == 0L && cu.last == sumTokens)
      assert(cu.sliding(2).forall(p => p(0) <= p(1)), "offsets monotone")
    }
  }

  test("q171: PPS inclusion matches the integer rule; HT weighting is calibrated") {
    val rows = SampleOps.q171PpsSample.fn(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    val wTotal = rows.map(_.getLong(1)).sum.toDouble
    // expected sample size = sum of inclusion probabilities ≈ n = 100
    val expSize = rows.map(_.getDouble(2)).sum
    assert(math.abs(expSize - 100.0) < 1.0,
      s"sum of inclusion probs $expSize must be ~100 (caps may shave a little)")
    // realized size within 4 sigma of the Poisson-binomial expectation
    val realized = rows.count(_.getBoolean(3))
    assert(math.abs(realized - expSize) < 4 * math.sqrt(expSize),
      s"realized $realized vs expected $expSize")
    // Horvitz-Thompson: sum over sampled of w_i/pi_i estimates W
    val ht = rows.filter(_.getBoolean(3))
      .map(r => r.getLong(1) * r.getDouble(4)).sum
    assert(math.abs(ht / wTotal - 1.0) < 0.25,
      s"HT estimate $ht must be within 25% of true total $wTotal")
    // membership is the pure integer rule — recompute it driver-side
    rows.foreach { r =>
      val hex = java.security.MessageDigest.getInstance("SHA-256")
        .digest(r.getLong(0).toString.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      val u = Integer.parseInt(hex.substring(0, 4), 16)
      val lhs = u.toLong * wTotal.toLong
      val rhs = 100L * r.getLong(1) * 65536L
      assert(r.getBoolean(3) === (lhs < rhs), s"doc ${r.getLong(0)} membership")
    }
  }

  test("q219: replicate weights replay from the hash CDF; SE brackets the theoretical rate") {
    val rows = SampleOps.q219PoissonBootstrap.fn(spark, dir).collect()
    assert(rows.length === 20)
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cdf = Seq(0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
      0.9810118431238462, 0.9963401531726563, 0.9994058151824183)
    def bucket(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.take(4), 16) % 65536
    }
    rows.foreach { r =>
      val b = r.getLong(0)
      var (nEff, sx) = (0L, 0L)
      docs.foreach { case (id, nc) =>
        val u = (bucket(s"${id}_$b").toDouble + 0.5) / 65536.0
        val w = cdf.count(u >= _).toLong
        nEff += w; sx += w * nc
      }
      assert(r.getLong(1) === nEff, s"replicate $b effective size")
      assert(math.abs(r.getDouble(2) - BigDecimal(sx.toDouble / nEff)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
      // Poisson(1) reweighting keeps each replicate near the corpus size
      assert(math.abs(nEff - docs.length) < 5 * math.sqrt(docs.length.toDouble))
    }
    // the bootstrap SE should sit near sd/sqrt(N) (loose: B = 20 is noisy)
    val se = rows.head.getDouble(4)
    val xs = docs.map(_._2.toDouble)
    val m = xs.sum / xs.length
    val theory = math.sqrt(xs.map(x => (x - m) * (x - m)).sum /
      (xs.length - 1)) / math.sqrt(xs.length.toDouble)
    assert(se > theory / 3 && se < theory * 3,
      s"bootstrap SE $se vs theoretical $theory")
  }
}
