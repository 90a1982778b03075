package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VectorMLSpec extends SparkSpec {

  private lazy val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")

  test("k-means centroids: k cells, all vectors assigned") {
    val cells = VectorML.assignCells(emb, "embedding", k = 8)
    assert(cells.count() == 500)
    val nCells = cells.select("cell").distinct().count()
    assert(nCells == 8, s"expected 8 cells, got $nCells")
    // cells are reasonably balanced (no empty/dominant cell)
    val sizes = cells.groupBy("cell").count().select("count")
      .collect().map(_.getLong(0))
    assert(sizes.min > 0 && sizes.max < 500)
  }

  test("LSH nearest neighbors approximate the brute-force top-k") {
    val qRow = emb.filter(col("vec_id") === 0)
      .select("embedding").collect().head.getSeq[Float](0)
    val idx = new VectorML.LshIndex(emb, "embedding", bucketLength = 1.0, numTables = 5)
    val approx = idx.nearest(qRow, 10).select("vec_id")
      .collect().map(_.getLong(0)).toSet

    // brute force: exact top-10 by L2 (excluding none — LSH sees all)
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val exact = emb.crossJoin(broadcast(qv))
      .select(col("vec_id"), expr("l2_sq_f(embedding, qv)").as("d"))
      .orderBy(col("d"), col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val recall = (approx intersect exact).size / 10.0
    assert(recall >= 0.5, s"LSH recall too low: $recall (approx=$approx exact=$exact)")
  }

  test("LSH self-join finds the close pairs the exact join finds") {
    val idx = new VectorML.LshIndex(emb, "embedding", bucketLength = 1.0, numTables = 5)
    val pairs = idx.neardupPairs(threshold = 1.1, idCol = "vec_id")
    assert(pairs.count() > 0)
    assert(pairs.filter(col("l2_dist") > 1.1).count() == 0)
  }

  test("quality filter: held-out target docs outscore the raw pool") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val target = docs.filter(col("doc_id") % 10 === 3)
    val raw = docs.filter(col("doc_id") % 10 =!= 3)
    // train on the even half of the target slice; evaluate on the odd
    // half the model never saw
    val score = VectorML.fitQualityFilter(raw,
      target.filter(col("doc_id") % 20 === 3))
    def mean(d: org.apache.spark.sql.DataFrame): Double =
      d.agg(avg("quality")).head().getDouble(0)
    val heldOutTarget = mean(score(target.filter(col("doc_id") % 20 === 13)))
    val rawMean = mean(score(raw))
    assert(heldOutTarget > rawMean,
      s"held-out target $heldOutTarget must outscore raw pool $rawMean")
    // probabilities are probabilities
    score(docs).collect().foreach { r =>
      val q = r.getDouble(1)
      assert(q >= 0.0 && q <= 1.0)
    }
  }

  test("jacobiEigen reconstructs the matrix it decomposed") {
    // small symmetric matrix with known structure
    val a = Array(
      Array(4.0, 1.0, 0.5),
      Array(1.0, 3.0, 0.25),
      Array(0.5, 0.25, 2.0))
    val (lam, v) = VectorML.jacobiEigen(a)
    // A == V diag(lam) V^T, entrywise
    for (i <- 0 until 3; j <- 0 until 3) {
      val recon = (0 until 3).map(k => v(i)(k) * lam(k) * v(j)(k)).sum
      assert(math.abs(recon - a(i)(j)) < 1e-9, s"recon drift at ($i,$j)")
    }
    // eigenvectors orthonormal
    for (p <- 0 until 3; q <- 0 until 3) {
      val dot = (0 until 3).map(k => v(k)(p) * v(k)(q)).sum
      assert(math.abs(dot - (if (p == q) 1.0 else 0.0)) < 1e-9)
    }
    // trace preserved
    assert(math.abs(lam.sum - 9.0) < 1e-9)
  }

  test("ZCA whitening: the whitened covariance is the identity") {
    val (whitened, mu, w) = VectorML.zcaWhiten(emb, "embedding", 64)
    // W is symmetric (the ZCA choice among whitening transforms)
    for (i <- 0 until 64; j <- i until 64)
      assert(math.abs(w(i)(j) - w(j)(i)) < 1e-9, s"W not symmetric at ($i,$j)")
    // distributed re-computation of cov(white): must be ~I
    val (muW, covW) = VectorML.covariance(
      whitened.select(col("white")), "white", 64)
    muW.foreach(m => assert(math.abs(m) < 1e-6, "whitened mean must be 0"))
    for (i <- 0 until 64; j <- 0 until 64) {
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(covW(i)(j) - expect) < 1e-6,
        s"cov(white)[$i][$j] = ${covW(i)(j)}, expected $expect")
    }
    // original mean is what centering removed
    val (muOrig, _) = VectorML.covariance(emb.select(col("embedding")), "embedding", 64)
    assert(muOrig.toSeq === mu.toSeq)
  }

  test("embedding classifier separates labels far better than chance") {
    val scored = VectorML.trainEmbeddingClassifier(emb, "embedding", "label")
    val acc = scored.filter(col("prediction") === col("label")).count().toDouble /
      scored.count()
    // 10 labels → chance = 0.1; the synthetic clusters overlap heavily
    // (within-label cosine max ≈ 0.47), so 3× chance is the sane bar
    assert(acc > 0.3, s"train accuracy $acc")
  }
}
