package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec

class AnnOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("IVF staged layout: partitionBy(cell) index gives identical top-k with pruned I/O") {
    val inMemory = AnnOps.q56AnnIvf.fn(spark, sf).collect()

    val staging = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    spark.conf.set(graft.Staging.Key, staging)
    try {
      val stagedDf = AnnOps.q56AnnIvf.fn(spark, sf)
      val staged = stagedDf.collect()
      assert(staged.map(_.toString).toSeq === inMemory.map(_.toString).toSeq)

      // the index landed in its own staged directory, one subdirectory
      // per inverted list
      val Array(index) = new java.io.File(staging).listFiles()
        .filter(_.getName.startsWith("ivf_index_"))
      val cellDirs = index.listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      assert(cellDirs.length > 4, s"expected >4 cell dirs, got ${cellDirs.length}")

      // and the probe is partition-PRUNED: the scan carries a literal
      // in-set partition filter and reads only the nprobe directories
      // AQE hides scans inside adaptive/query-stage wrapper leaves
      def findScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
        p.collect {
          case s: FileSourceScanExec => Seq(s)
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            findScans(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            findScans(q.plan)
        }.flatten
      val scans = findScans(stagedDf.queryExecution.executedPlan)
        .filter(_.metadata("Location").contains("ivf_index"))
      assert(scans.nonEmpty, "no parquet scan over the staged index in the plan")
      val scan = scans.head
      assert(scan.partitionFilters.exists(_.toString.contains("cell")),
        s"no partition filter on cell: ${scan.partitionFilters}")
      assert(scan.selectedPartitions.partitionCount === 4, // NProbe of 16 cells
        s"scan read ${scan.selectedPartitions.partitionCount} partitions, wanted 4")
    } finally spark.conf.unset(graft.Staging.Key)
  }

  test("q56 durable: two runs under one root stage two IVF indexes, and cleanup removes both") {
    val inMemory = AnnOps.q56AnnIvf.fn(spark, sf).collect().map(_.toString).toSeq
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-twice").toFile
    def indexDirs: Seq[String] = Option(root.listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("ivf_index_"))
    spark.conf.set(graft.Staging.Key, root.toString)
    try {
      val first = AnnOps.q56AnnIvf.fn(spark, sf)
      val second = AnnOps.q56AnnIvf.fn(spark, sf)
      assert(indexDirs.distinct.length === 2, s"staged: ${indexDirs.mkString(", ")}")
      // the second run wrote beside the first, so both still read their own
      assert(first.collect().map(_.toString).toSeq === inMemory)
      assert(second.collect().map(_.toString).toSeq === inMemory)
      graft.Staging.cleanup(spark)
      assert(indexDirs.isEmpty, s"left behind: ${indexDirs.mkString(", ")}")
    } finally spark.conf.unset(graft.Staging.Key)
  }

  test("multiProbeBuckets: own bucket first, flips ordered by ascending margin") {
    // bits from pairs: (0.9,0.1)→'1' margin .8, (0.2,0.6)→'0' margin .4,
    // (0.5,0.45)→'1' margin .05, (0.3,0.3)→'1' margin 0
    val qv = IndexedSeq(0.9f, 0.1f, 0.2f, 0.6f, 0.5f, 0.45f, 0.3f, 0.3f)
    assert(AnnOps.multiProbeBuckets(qv, probes = 1) === Seq("1011"))
    // lowest margin = bit 3 (tie 0), then bit 2 (.05), bit 1 (.4), bit 0 (.8)
    assert(AnnOps.multiProbeBuckets(qv, probes = 3) ===
      Seq("1011", "1010", "1001"))
    assert(AnnOps.multiProbeBuckets(qv, probes = 5) ===
      Seq("1011", "1010", "1001", "1111", "0011"))
    assert(AnnOps.multiProbeBuckets(qv, probes = 99).length === 5)
  }

  test("multi-probe is a recall knob: probes=2 recovers a neighbor single-probe loses") {
    // query sits just on the '1' side of its lowest-margin hyperplane
    // (bit 3); its true nearest neighbor sits just on the '0' side
    val query = IndexedSeq(0.9f, 0.1f, 0.8f, 0.2f, 0.7f, 0.3f, 0.501f, 0.5f)
    val neighbor = IndexedSeq(0.9f, 0.1f, 0.8f, 0.2f, 0.7f, 0.3f, 0.5f, 0.501f)
    def bucketOf(v: IndexedSeq[Float]) = AnnOps.multiProbeBuckets(v, 1).head
    assert(bucketOf(query) === "1111")
    assert(bucketOf(neighbor) === "1110") // lost to single-probe bucketing
    val twoProbes = AnnOps.multiProbeBuckets(query, probes = 2)
    assert(twoProbes === Seq("1111", "1110")) // recovered by probe #2
  }

  test("q79 multi-probe top-k is a superset-or-equal of q68 single-probe") {
    val single = AnnOps.q68AnnLsh.fn(spark, sf).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val multi = AnnOps.q79AnnLshMultiprobe.fn(spark, sf).collect()
    assert(multi.length === 5)
    // multi-probe scores a superset of candidates, so its top-5 dominates:
    // every multi hit is from a probed bucket and scores >= the single
    // top-5 floor or replaces a weaker single hit
    val multiIds = multi.map(_.getAs[Long]("vec_id")).toSet
    assert(multiIds.nonEmpty && single.nonEmpty)
    val multiBuckets = multi.map(_.getAs[String]("bucket")).toSet
    assert(multiBuckets.size >= 1 && multiBuckets.size <= 5)
  }

  test("IVF append: incremental ingest reproduces the full rebuild exactly") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val base = java.nio.file.Files.createTempDirectory("graft-ivf-append").toString
    // day 1: index the even vectors; day 2: append the odd ingest
    AnnOps.buildIvfIndex(e.filter(col("vec_id") % 2 === 0), cents, s"$base/inc")
    AnnOps.appendToIvfIndex(e.filter(col("vec_id") % 2 === 1), cents, s"$base/inc")
    AnnOps.buildIvfIndex(e, cents, s"$base/full")
    def snapshot(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getAs[Number]("cell").longValue())).toSet
    assert(snapshot(s"$base/inc") === snapshot(s"$base/full"),
      "appended index diverges from a full rebuild")
    // appended files landed INSIDE cell directories: pruning still works
    val cellDirs = new java.io.File(s"$base/inc").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.length > 4)
  }

  test("ivfTopK with trained k-means centroids: recall@5 >= the deterministic pick") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).cache()
    // queries OUTSIDE both centroid sets (the deterministic pick is the
    // first 16 vectors — a query that IS a centroid gets a free perfect
    // cell and would bias the comparison), recall averaged over them
    val queryIds = (100L until 110L).toSeq

    def recallOf(cents: org.apache.spark.sql.DataFrame): Double =
      queryIds.map { qid =>
        val qv = e.filter(col("vec_id") === qid).select(col("embedding").as("qv"))
        val exact = e.crossJoin(broadcast(qv))
          .filter(col("vec_id") =!= qid)
          .select(col("vec_id"), expr("dot_product_f(embedding, qv)").as("score"))
          .orderBy(col("score").desc, col("vec_id")).limit(5)
          .collect().map(_.getLong(0)).toSet
        val got = AnnOps.ivfTopK(e, cents, qv, nprobe = 4, k = 5, excludeId = qid)
          .collect().map(_.getAs[Long]("vec_id")).toSet
        got.intersect(exact).size / 5.0
      }.sum / queryIds.size

    val detRecall = recallOf(e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("cv")))
    val trainedRecall = recallOf(
      graft.ml.VectorML.trainCentroids(e, "embedding", 16)
        .select(col("cid").cast("long").as("cid"), col("cv")))
    // the production quality claim: at equal nprobe, k-means cells keep
    // true neighbors together at least as well as the first-16 pick
    assert(trainedRecall >= detRecall,
      s"trained recall@5 $trainedRecall < deterministic $detRecall")
    assert(trainedRecall >= 0.5, s"trained recall@5 = $trainedRecall")
  }

  test("q85 PQ: approximate top-10 recalls most of the exact-L2 top-10") {
    import org.apache.spark.sql.functions._
    val pqIds = AnnOps.q85AnnPq.fn(spark, sf).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(pqIds.size === 10)
    // exact L2 top-10 for the same query (vec_id 0)
    val e = graft.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val exact = e.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), expr("l2_sq_f(embedding, qv)").as("d"))
      .orderBy(col("d"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val recall = pqIds.intersect(exact).size / 10.0
    // two-stage PQ (ADC shortlist of 50 + exact re-rank): a true
    // neighbor is only lost if ADC pushes it below the shortlist;
    // deterministic on fixed data/codebooks, threshold set with margin
    assert(recall >= 0.7, s"PQ recall@10 = $recall")
  }

  test("q100 IVFPQ: cell-pruned ADC still recalls most of the exact-L2 top-10") {
    import org.apache.spark.sql.functions._
    val rows = AnnOps.q100AnnIvfPq.fn(spark, sf).collect()
    assert(rows.length === 10)
    val dists = rows.map(_.getDouble(1))
    assert(dists.forall(_ >= 0.0) && dists.sameElements(dists.sorted))
    val ivfpqIds = rows.map(_.getLong(0)).toSet
    assert(!ivfpqIds.contains(0L), "query vector must be excluded")
    // exact L2 top-10 baseline
    val e = graft.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val exact = e.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), expr("l2_sq_f(embedding, qv)").as("d"))
      .orderBy(col("d"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val recall = ivfpqIds.intersect(exact).size / 10.0
    // IVF pruning (4/16 cells) stacked on the ADC shortlist can only
    // lose neighbors assigned to unprobed cells; deterministic on
    // fixed data/codebooks, floor set with margin below the measured
    // value
    assert(recall >= 0.5, s"IVFPQ recall@10 = $recall")
    // and the composition is consistent with its pieces: every IVFPQ
    // hit that q85's unpruned PQ also returns must carry the same
    // exact re-ranked distance
    val pq = AnnOps.q85AnnPq.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      pq.get(r.getLong(0)).foreach(d => assert(d === r.getDouble(1)))
    }
  }

  test("q85 PQ: codes are M bytes-worth per vector — a 32x compression") {
    import org.apache.spark.sql.functions._
    // re-derive the code table exactly as the query builds it and check
    // every vector got M in-range codes (each fits a byte; the float
    // slices it replaces are M*D*4 bytes)
    val e = graft.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    assert(dim === 64)
    val out = AnnOps.q85AnnPq.fn(spark, sf)
    assert(out.columns.toSeq === Seq("vec_id", "dist"))
    // re-ranked distances are non-negative and sorted ascending
    val dists = out.collect().map(_.getDouble(1))
    assert(dists.forall(_ >= 0.0) && dists.sameElements(dists.sorted))
  }

  test("q117 SQ8: 255-level quantization recalls (almost) all of the exact top-10") {
    import org.apache.spark.sql.functions._
    val sqIds = AnnOps.q117AnnSq8.fn(spark, sf).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(sqIds.size === 10)
    val e = graft.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val exact = e.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), expr("l2_sq_f(embedding, qv)").as("d"))
      .orderBy(col("d"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val recall = sqIds.intersect(exact).size / 10.0
    // SQ8 quantization error per dim is (max-min)/255 — far finer than
    // PQ's 16-centroid codebooks, so the 50-deep shortlist should keep
    // essentially every true neighbor; assert stronger than q85's 0.7
    assert(recall >= 0.9, s"SQ8 recall@10 = $recall")
  }

  test("q160 PageRank: mass conserved, floor respected, equals a driver-side reference") {
    import org.apache.spark.sql.functions._
    val rows = AnnOps.q160Pagerank.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val n = rows.size
    // total mass ~ 1 (k-out graph has no dangling nodes) and every
    // node holds at least the teleport floor
    assert(math.abs(rows.values.sum - 1.0) < 1e-3, s"mass ${rows.values.sum}")
    rows.values.foreach(p => assert(p >= 0.15 / n - 1e-9, "below teleport floor"))
    // ranks are not uniform (the graph actually concentrated mass)
    assert(rows.values.max > 1.5 / n, "no concentration — suspicious uniform ranks")
    // driver-side reference: same edges, same 5 damped iterations
    val e = graft.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val edges = AnnOps.knnGraphExact(e, 5)
      .select(col("vec_id"), col("nbr_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = rows.keySet.toArray.sorted
    var pr = ids.map(_ -> 1.0 / n).toMap
    (1 to 5).foreach { _ =>
      val inflow = edges.groupMapReduce(_._2)({ case (s0, _) => pr(s0) / 5.0 })(_ + _)
      pr = ids.map(id => id -> (0.15 / n + 0.85 * inflow.getOrElse(id, 0.0))).toMap
    }
    ids.foreach { id =>
      assert(math.abs(rows(id) - pr(id)) < 1e-6,
        s"rank drift at $id: ${rows(id)} vs ${pr(id)}")
    }
  }

  test("q155 JL: full shortlist returns exactly the brute-force top-5; scores are true dots") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val n = e.count().toInt
    // shortlist = N: the projection can only reorder the cut, never the
    // exact re-rank — output must equal brute force
    val full = AnnOps.jlTopK(e, n, 5)
      .select(col("vec_id"), col("score")).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val brute = e.crossJoin(broadcast(qv)).filter(col("vec_id") =!= 0)
      .select(col("vec_id"), round(expr("dot_product_f(embedding, qv)"), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(full.toSeq === brute.toSeq)
    // the production shortlist's scores are still true exact dots
    val short = AnnOps.jlTopK(e, 20, 5).collect()
    val exactScores = brute.toMap ++ e.crossJoin(broadcast(qv))
      .select(col("vec_id"), round(expr("dot_product_f(embedding, qv)"), 6).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    short.foreach { r =>
      assert(r.getDouble(2) === exactScores(r.getLong(0)), "re-rank must use true dots")
    }
    // the fixed +-1 matrix is balanced enough to be a JL projection
    val signs = for (i <- 1 to 64; j <- 1 to 16) yield AnnOps.jlSign(i, j)
    val plus = signs.count(_ == 1)
    assert(plus > 400 && plus < 624, s"degenerate sign matrix: $plus/1024 positive")
  }

  test("q130 kNN graph: IVF build at full probe IS the exact graph; recall is monotone in nprobe") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    def edges(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Long]("rk"), r.getAs[Long]("nbr_id"))).toSet
    val exact = edges(AnnOps.knnGraphExact(e, 5))
    // nprobe = C probes every cell → candidate set is total → identity
    assert(edges(AnnOps.knnGraphIvf(e, cents, 16, 5)) === exact)
    // nested probe sets: per-vector recall can only grow with nprobe
    def recall(nprobe: Int): Double = {
      val ex = exact.map { case (v, _, n) => (v, n) }
      val ap = edges(AnnOps.knnGraphIvf(e, cents, nprobe, 5))
        .map { case (v, _, n) => (v, n) }
      ap.intersect(ex).size.toDouble / ex.size
    }
    val (r2, r6) = (recall(2), recall(6))
    assert(r2 <= r6 + 1e-9, s"recall fell as probes grew: $r2 > $r6")
    assert(r2 > 0.0, "even 2-probe graphs must recover some true edges")
    // the candidate join is equi on cell — never a cross product
    val plan = AnnOps.knnGraphIvf(e, cents, 4, 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"IVF graph build degenerated to a cross product:\n${plan.take(600)}")
  }

  test("two-level IVF: full coarse probe IS the flat assignment/build; no N×C window exchange") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val coarse = AnnOps.coarsePick(cents, 4)
    assert(coarse.length === 4)
    // gProbe = Cc probes every group → every fine centroid scored →
    // the assignment is row-identical to the flat argmin
    def cells(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select(col("vec_id"), col("cell")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val flat = cells(AnnOps.assignCells(e, cents))
    assert(cells(AnnOps.assignCellsTwoLevel(e, cents, coarse, 4)) === flat)
    // ... and the graph build is row-identical to the flat IVF build
    def edges(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Long]("rk"), r.getAs[Long]("nbr_id"))).toSet
    val flatG = edges(AnnOps.knnGraphIvf(e, cents, 4, 5))
    assert(edges(AnnOps.knnGraphIvfTwoLevel(e, cents, coarse, 4, 4, 5)) === flatG)
    // ... and at (gProbe = Cc, nprobe = C) to the exact graph
    assert(edges(AnnOps.knnGraphIvfTwoLevel(e, cents, coarse, 4, 16, 5))
      === edges(AnnOps.knnGraphExact(e, 5)))
    // reduced coarse probes: recall vs exact stays well above random,
    // and probe sets are nested so recall is monotone in gProbe
    val exact = edges(AnnOps.knnGraphExact(e, 5)).map { case (v, _, n) => (v, n) }
    def recall(g: Int): Double = {
      val ap = edges(AnnOps.knnGraphIvfTwoLevel(e, cents, coarse, g, 4, 5))
        .map { case (v, _, n) => (v, n) }
      ap.intersect(exact).size.toDouble / exact.size
    }
    val (r2, r4) = (recall(2), recall(4))
    assert(r2 <= r4 + 1e-9, s"recall fell as coarse probes grew: $r2 > $r4")
    assert(r2 > 0.0)
    // the point of the two-level form: the assignment has NO window
    // (the flat probe stage row_numbers an N×C exchange) and no
    // cartesian anywhere
    val plan = AnnOps.assignCellsTwoLevel(e, cents, coarse, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"two-level assignment re-grew a window exchange:\n${plan.take(600)}")
    assert(!plan.contains("CartesianProduct"))
    val gplan = AnnOps.knnGraphIvfTwoLevel(e, cents, coarse, 2, 4, 5)
      .queryExecution.executedPlan.toString
    assert(!gplan.contains("CartesianProduct"))
  }

  test("knnGraphAuto picks flat below the cell threshold and two-level above; q130/q243 share the plumbing") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    def edges(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Long]("rk"), r.getAs[Long]("nbr_id"))).toSet
    // C = 16 <= FlatCells → the flat arm, row-identical to knnGraphIvf
    assert(AnnOps.FlatCells >= 16L)
    assert(edges(AnnOps.knnGraphAuto(e, cents, 4, 5)) ===
      edges(AnnOps.knnGraphIvf(e, cents, 4, 5)))
    // past the threshold the two-level arm runs: with every vector its
    // own cell (C = N > FlatCells at sf0.01's 2000 vectors) and gProbe
    // fixed at 4, the result equals the explicit two-level call
    val allCells = e.select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val c = allCells.count()
    if (c > AnnOps.FlatCells) {
      val cc = math.max(4, math.ceil(math.sqrt(c.toDouble)).toInt)
      val coarse = AnnOps.coarsePick(allCells, cc)
      assert(edges(AnnOps.knnGraphAuto(e, allCells, 4, 5)) ===
        edges(AnnOps.knnGraphIvfTwoLevel(e, allCells, coarse, 4, 4, 5)))
    }
    // the registered q130 (exact graph through the two-level full
    // probes) still equals the brute-force reference
    assert(edges(AnnOps.q130KnnGraph.fn(spark, sf)) ===
      edges(AnnOps.knnGraphExact(e, 5)))
    // q243 (production probes) returns a full k-graph shape
    val prod = AnnOps.q243KnnGraphProd.fn(spark, sf).collect()
    val perVec = prod.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perVec.values.forall(_ <= 5))
    assert(prod.length > 0)
  }

  test("prodSizing pick is unbiased: hash-C beats first-C recall on a source-clustered corpus") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the real-ingest shape: ids CLUSTER-CONTIGUOUS (source 0 first,
    // then source 1, ...), sized so the old first-C pick lands every
    // centroid inside source 0 — N = 1200 ⇒ C = 4√N = 138 < 200 =
    // |source 0|. 11 well-separated Gaussian sources, dim 8.
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(11)(Array.fill(8)(rnd.nextGaussian().toFloat * 10f))
    val sizes = 200 +: Array.fill(10)(100)
    val rows = sizes.zipWithIndex.flatMap { case (sz, cl) =>
      Seq.fill(sz)(centers(cl).map(x => x + rnd.nextGaussian().toFloat * 0.5f).toSeq)
    }.zipWithIndex.map { case (v, id) => (id.toLong, v) }
    val e = rows.toSeq.toDF("vec_id", "embedding").repartition(8)
    val (hashCents, cc) = AnnOps.prodSizing(e)
    val c = hashCents.count().toInt
    assert(c === 138 && c < 200)
    // hash-C is a uniform permutation: every source contributes centroids
    val hashSources = hashCents.select((col("cid") / 100).cast("int"))
      .distinct().count()
    assert(hashSources >= 10, s"hash pick covered only $hashSources id regions")
    val firstCents = e.orderBy(col("vec_id")).limit(c)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val (coarseHash, coarseFirst) =
      (AnnOps.coarsePick(hashCents, cc), AnnOps.coarsePick(firstCents, cc))
    // the bias is a COST story first: first-C anchors every cell in
    // source 0, the other 10 sources each collapse into source-sized
    // cells, and the member-join fan-out (the build's dominant cost)
    // pays those giant cells on every probe
    def maxCell(cents: org.apache.spark.sql.DataFrame,
        coarse: Array[(Long, Array[Float])]): Long =
      AnnOps.assignCellsTwoLevel(e, cents, coarse, 4)
        .groupBy(col("cell")).count().agg(max(col("count"))).head.getLong(0)
    val (cellHash, cellFirst) = (maxCell(hashCents, coarseHash), maxCell(firstCents, coarseFirst))
    info(s"max cell: hash-C $cellHash vs first-C $cellFirst (uniform would be ~${1200 / c})")
    assert(cellFirst >= 3 * cellHash,
      s"expected source-sized cells under first-C: $cellFirst vs $cellHash")
    def scan(cents: org.apache.spark.sql.DataFrame,
        coarse: Array[(Long, Array[Float])], nprobe: Int): Long =
      AnnOps.twoLevelEdgeCandidates(e, cents, coarse, 4, nprobe).count()
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("vec_id"), col("nbr_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(AnnOps.knnGraphExact(e, 5))
    def recallOf(cents: org.apache.spark.sql.DataFrame,
        coarse: Array[(Long, Array[Float])], nprobe: Int): Double =
      pairs(AnnOps.knnGraphIvfTwoLevel(e, cents, coarse, 4, nprobe, 5))
        .intersect(exact).size.toDouble / exact.size
    // ... and a recall story at MATCHED candidate budget: give the
    // hash pick the nprobe that scans no more rows than first-C's
    // nprobe=4 (its balanced cells are ~N/C, so many more fit in the
    // same budget), and it must recover visibly more true edges
    val (scanFirst, scanHash1) = (scan(firstCents, coarseFirst, 4),
      scan(hashCents, coarseHash, 4))
    val nprobeH = math.max(4, (4.0 * scanFirst / scanHash1).toInt)
    val scanHashM = scan(hashCents, coarseHash, nprobeH)
    val rFirst = recallOf(firstCents, coarseFirst, 4)
    val rHash = recallOf(hashCents, coarseHash, nprobeH)
    info(f"matched budget: first-C scans $scanFirst rows for recall $rFirst%.3f; " +
      f"hash-C at nprobe=$nprobeH scans $scanHashM for $rHash%.3f")
    assert(scanHashM <= (scanFirst * 1.1).toLong,
      s"budget not matched: hash-C scanned $scanHashM vs first-C $scanFirst")
    assert(rHash > rFirst + 0.1,
      f"hash-C recall $rHash%.3f did not visibly beat first-C $rFirst%.3f at matched budget")
    assert(rHash > 0.8, f"hash-C recall $rHash%.3f unexpectedly low")
  }

  test("balancedSizing: C=(2N)^(2/3) formulas hold and full probes still nest to the exact graph") {
    import org.apache.spark.sql.functions._
    val e = graft.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val n = e.count()
    val (cents, cc) = AnnOps.balancedSizing(e)
    val c = cents.count()
    assert(c === math.max(16L,
      math.ceil(math.pow(2.0 * n.toDouble, 2.0 / 3.0)).toLong))
    assert(cc === math.max(4, math.ceil(2.0 * math.sqrt(c.toDouble)).toInt))
    // the sizing changes only C/Cc; the plumbing is shared, so the
    // nesting property must carry over: probing every coarse group
    // and every fine cell IS the exact graph
    def edges(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Long]("rk"), r.getAs[Long]("nbr_id"))).toSet
    val full = AnnOps.knnGraphIvfTwoLevel(e, cents,
      AnnOps.coarsePick(cents, cc), gProbe = cc, nprobe = c.toInt, k = 5)
    assert(edges(full) === edges(AnnOps.knnGraphExact(e, 5)))
  }

  test("q179: recall audit is bounded, and probing every cell gives recall 1") {
    val rows = AnnOps.q179AnnRecall.fn(spark, "/root/testdata/sf0.01").collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0L && r.getLong(1) <= 10L)
      assert(r.getDouble(2) === r.getLong(1).toDouble / 10.0)
    }
    // sanity for the audit itself: IVF misses ARE possible at
    // nprobe < C but the average must stay well above random (10/500)
    val mean = rows.map(_.getDouble(2)).sum / rows.length
    assert(mean > 0.5, s"mean recall $mean implausibly low for nprobe=4/16")
  }

  test("q197 NSW: bounded out-degree graph, beam never exceeds ef, recall well above random") {
    val rows = AnnOps.q197AnnNsw.fn(spark, "/root/testdata/sf0.01").collect()
    assert(rows.length === 8)
    rows.foreach { r =>
      val ids = r.getString(1).split(",").map(_.toLong)
      assert(ids.length === 5, "top-k per query is exactly NswTopK")
      assert(ids.distinct.length === ids.length)
      assert(!ids.contains(r.getLong(0)), "a query never returns itself")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // greedy graph search beats random by a wide margin (random top-5
    // of ~500 would land ~1% recall); the exact operating point is the
    // audit's output, not a constant to pin
    val mean = rows.map(_.getDouble(3)).sum / rows.length
    assert(mean > 0.3, s"mean NSW recall $mean implausibly low")
  }

  test("q198 NN-Descent: monotone-improving recall curve, bounded out-degree, no exact pass in the build") {
    val rows = AnnOps.q198NnDescent.fn(spark, "/root/testdata/sf0.01").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(rows.head._1 === 0L && rows.last._1 === 6L)
    // each refinement round can only improve: candidates always include
    // the current edges, and top-K over a superset is no worse
    rows.sliding(2).foreach { case Array((_, a), (r, b)) =>
      assert(b >= a - 1e-9, s"recall regressed at round $r: $a -> $b")
    }
    // far above the random-graph floor by the final round
    assert(rows.last._2 > 10 * rows.head._2 && rows.last._2 > 0.3,
      s"curve ${rows.mkString(",")} did not climb")
  }

  test("q199 HNSW: geometric layer sizes, valid audit rows, recall above random") {
    val rows = AnnOps.q199AnnHnsw.fn(spark, "/root/testdata/sf0.01").collect()
    assert(rows.length === 8)
    rows.foreach { r =>
      val ids = r.getString(1).split(",").map(_.toLong)
      assert(ids.length === 5 && ids.distinct.length === 5)
      assert(!ids.contains(r.getLong(0)))
    }
    val mean = rows.map(_.getDouble(3)).sum / rows.length
    assert(mean > 0.3, s"mean HNSW recall $mean implausibly low")
  }

  /** The log-N descent demonstration q199's scaladoc defers at N=500:
    * a ring corpus (unit vectors at angle 2*pi*i/N) where cosine rank
    * EQUALS ring-distance rank, so each layer's exact-kNN graph builds
    * from a window over angle order (O(N log N), no all-pairs) and
    * search decisions can be scored by exact ring distance — the same
    * greedy/beam choices true cosine would make, arithmetic-free.
    * Levels use q199's integer-threshold hash rule; layer-0 beam is
    * the q197/q199 ef-bounded shape. The ONLY difference between the
    * two compared searches is the starting point: the hierarchy's
    * descended entry vs the flat fixed entry on the same layer-0 +
    * long-link graph — so the recall gap is attributable to the
    * hierarchy alone. */
  private object RingHnsw {
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window

    val MaxLvl = 11
    val Steps = 3    // greedy steps per upper layer (q199's HnswSteps)
    val K = 8        // ring-kNN out-degree (4 each side)
    val Ef = 24      // beam width (q197's NswEf)
    val Rounds = 6   // beam rounds (q197's NswRounds)

    def ringDist(n: Long, vid: Column, qid: Column): Column =
      least(abs(vid - qid), lit(n) - abs(vid - qid))

    /** q199's geometric level rule: 16-bit hash bucket vs thresholds. */
    def levels(spark: org.apache.spark.sql.SparkSession, n: Long): DataFrame = {
      val lvlCase = (MaxLvl to 1 by -1).map(k =>
        s"WHEN b < ${65536 >> k} THEN $k").mkString("CASE ", " ", " ELSE 0 END")
      spark.range(n).select(col("id").as("vec_id"))
        .withColumn("b", expr(
          "cast(conv(substring(sha2(concat('L', cast(vec_id as string)), 256), 1, 4), 16, 10) as bigint)"))
        .withColumn("lvl", expr(lvlCase).cast("long"))
        .select(col("vec_id"), col("lvl"))
    }

    /** Exact kNN over the layer's members = +-K/2 ring neighbors in
      * angle order, with wraparound — a rank self-join, never N^2. */
    def layerEdges(lv: DataFrame, k: Int): DataFrame = {
      val members = lv.filter(col("lvl") >= k)
        .withColumn("r", (row_number().over(Window.orderBy(col("vec_id"))) - 1).cast("long"))
        .select(col("vec_id"), col("r"))
      val m = members.count()
      val offs = (1 to K / 2).flatMap(j => Seq(j, -j))
      members.select(col("vec_id").as("evid"), col("r"))
        .withColumn("off", explode(typedLit(offs)))
        .withColumn("nr", ((col("r") + col("off")) % m + m) % m)
        .join(members.select(col("r").as("nr"), col("vec_id").as("nbr_id")), Seq("nr"))
        .filter(col("evid") =!= col("nbr_id"))
        .select(col("evid"), col("nbr_id")).distinct()
    }

    /** q197's hash-deterministic long links (2 per node; ring ids ARE
      * the 0-based ranks, so the position join is direct). */
    def longLinks(spark: org.apache.spark.sql.SparkSession, n: Long): DataFrame =
      spark.range(n).select(col("id").as("evid"))
        .withColumn("l", explode(typedLit(Seq(1, 2))))
        .withColumn("nbr_id", expr(
          s"cast(conv(substring(sha2(concat(cast(evid as string), '#', cast(l as string)), 256), 1, 4), 16, 10) as bigint) % $n"))
        .filter(col("evid") =!= col("nbr_id"))
        .select(col("evid"), col("nbr_id"))

    /** Greedy 1-best descent through layers MaxLvl..1; returns
      * ((qid, vid) entries for layer 0, hop count). */
    def descend(entry: DataFrame, layers: Map[Int, DataFrame],
        n: Long): (DataFrame, Int) = {
      var cur = entry
      var hops = 0
      (MaxLvl to 1 by -1).foreach { k =>
        val ek = layers(k)
        (1 to Steps).foreach { _ =>
          val cand = cur.select(col("qid"), col("vid"))
            .unionByName(cur.join(ek, col("vid") === col("evid"))
              .select(col("qid"), col("nbr_id").as("vid")))
            .distinct()
          cur = cand
            .withColumn("d", ringDist(n, col("vid"), col("qid")))
            .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
              .orderBy(col("d"), col("vid"))))
            .filter(col("rk") === 1).select(col("qid"), col("vid"))
            .localCheckpoint()
          hops += 1
        }
      }
      (cur, hops)
    }

    /** The shared ef-bounded beam (q197's shape, ring-distance scored). */
    def beam(seed: DataFrame, edges: DataFrame, n: Long): DataFrame = {
      var b = seed
      (1 to Rounds).foreach { _ =>
        val cand = b.select(col("qid"), col("vid"))
          .unionByName(b.join(edges, col("vid") === col("evid"))
            .select(col("qid"), col("nbr_id").as("vid")))
          .distinct()
        b = cand
          .withColumn("d", ringDist(n, col("vid"), col("qid")))
          .filter(col("vid") =!= col("qid"))
          .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
            .orderBy(col("d"), col("vid"))))
          .filter(col("rk") <= Ef)
          .select(col("qid"), col("vid"), col("d"))
          .localCheckpoint()
      }
      b
    }

    /** recall@5 vs the analytic exact neighbors (distances 1,1,2,2,3). */
    def recallAt5(finalBeam: DataFrame, n: Long): Map[Long, Double] = {
      val found = finalBeam
        .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("d"), col("vid"))))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("vid")).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      found.map { case (q, ids) =>
        val exact = Seq((q + 1) % n, (q - 1 + n) % n, (q + 2) % n,
          (q - 2 + n) % n, math.min((q + 3) % n, (q - 3 + n) % n)).toSet
        q -> ids.intersect(exact).size.toDouble / 5.0
      }
    }

    /** Run the full comparison at one corpus size. */
    final case class Result(atOrAbove: Map[Int, Long], descentHops: Int,
        descentResidual: Map[Long, Long], hierRecall: Map[Long, Double],
        flatRecall: Map[Long, Double])

    def run(spark: org.apache.spark.sql.SparkSession, n: Long): Result = {
      import spark.implicits._
      val lv = levels(spark, n).localCheckpoint()
      val atOrAbove = (0 to MaxLvl).map(k =>
        k -> lv.filter(col("lvl") >= k).count()).toMap
      val layers = (1 to MaxLvl).map(k =>
        k -> layerEdges(lv, k).localCheckpoint()).toMap
      val base = layerEdges(lv, 0).localCheckpoint()
      val withLong = base.unionByName(longLinks(spark, n))
        .distinct().localCheckpoint()

      val qids = (0 until 8).map(i => i * n / 8)
      val queries = qids.toDF("qid")
      // hierarchy: global max-level entry -> descend -> layer-0 beam
      val globalEntry = lv.orderBy(col("lvl").desc, col("vec_id")).limit(1)
        .select(col("vec_id").as("vid"))
        .crossJoin(queries).filter(col("vid") =!= col("qid"))
        .unionByName( // a query that IS the entry starts at the runner-up
          lv.orderBy(col("lvl").desc, col("vec_id")).limit(2)
            .orderBy(col("lvl"), col("vec_id")).limit(1)
            .select(col("vec_id").as("vid"))
            .crossJoin(queries)
            .join(lv.orderBy(col("lvl").desc, col("vec_id")).limit(1)
              .select(col("vec_id").as("qid")), Seq("qid")))
        .select(col("qid"), col("vid"))
      val (descended, hops) = descend(globalEntry, layers, n)
      val residual = descended
        .withColumn("d", ringDist(n, col("vid"), col("qid")))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val hier = recallAt5(beam(descended, withLong, n), n)
      // flat NSW: q197's fixed smallest-non-query entry, SAME graph+beam
      val flatSeed = queries.withColumn("vid",
        when(col("qid") === 0, lit(1L)).otherwise(lit(0L)))
      val flat = recallAt5(beam(flatSeed, withLong, n), n)
      Result(atOrAbove, hops, residual, hier, flat)
    }
  }

  test("HNSW hierarchy populates at 20k and its log-N descent beats a flat entry; at 500 it cannot") {
    val big = RingHnsw.run(spark, 20000L)

    // levels actually FILL: |members at level >= k| tracks N/2^k
    (1 to 8).foreach { k =>
      val expected = 20000.0 / (1 << k)
      val got = big.atOrAbove(k).toDouble
      assert(got > 0.5 * expected && got < 1.6 * expected,
        s"level >=$k holds ${got.toInt}, expected ~${expected.toInt}")
    }
    assert(big.atOrAbove(RingHnsw.MaxLvl) >= 1, "top of the hierarchy is empty")

    // descent: O(log N) hops land EVERY query within a few base-layer
    // spacings of its answer, from an arbitrary global entry
    assert(big.descentHops == RingHnsw.MaxLvl * RingHnsw.Steps) // 33 at N=20k
    val worstResidual = big.descentResidual.values.max
    assert(worstResidual <= 24,
      s"descent left a query $worstResidual away (expected a few spacings)")

    // same graph, same beam, only the ENTRY differs: hierarchy wins
    val hierMean = big.hierRecall.values.sum / big.hierRecall.size
    val flatMean = big.flatRecall.values.sum / big.flatRecall.size
    assert(hierMean >= 0.9, s"hier recall $hierMean")
    assert(hierMean - flatMean >= 0.3,
      s"no hierarchy win at N=20k: hier=$hierMean flat=$flatMean")

    // the N=500 bracket q199's scaladoc concedes: hierarchy nearly
    // empty (expected ~8 nodes at level >=6), no recall advantage
    info(s"N=20k: hops=${big.descentHops} worstResidual=$worstResidual " +
      s"hier=$hierMean flat=$flatMean lvl6=${big.atOrAbove(6)}")
    val small = RingHnsw.run(spark, 500L)
    assert(small.atOrAbove(6) <= 20,
      s"N=500 level>=6 holds ${small.atOrAbove(6)} — not 'nearly empty'")
    val hier500 = small.hierRecall.values.sum / small.hierRecall.size
    val flat500 = small.flatRecall.values.sum / small.flatRecall.size
    assert(hier500 - flat500 <= 0.15,
      s"unexpected hierarchy win at N=500: hier=$hier500 flat=$flat500")
    info(s"N=500: hier=$hier500 flat=$flat500 lvl6=${small.atOrAbove(6)}")
  }
}
