package graft.operators

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** q245's recall guarantee: probing with the ⌊0.2·|A|⌋+1 smallest
  * hashes finds EVERY pair whose small-side containment is ≥ 0.8
  * (pigeonhole: |A\B| < probe count forces a shared probed hash), and
  * the operator exhibits exactly the subset pairs the
  * resemblance-recalled q241 provably misses. */
class ContainmentRecallSpec extends SparkSpec {

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-contain").toString
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  // τ is a knob (CurationConfig.containmentTau); the probe fraction is
  // derived as 1−τ, so the pigeonhole recall-1 bound must hold at EVERY
  // τ — proved brute-force at the default and a tighter setting.
  for (tau <- Seq(0.8, 0.9))
    test(s"banded recall equals brute-force containment >= $tau on the real corpus") {
      val dir = sf("sf0.001")
      val hashed = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), trim(col("text")).as("t"),
          split(trim(col("text")), "\\s+").as("w"))
        .withColumn("shingles", expr(
          """case when size(w) >= 3
            | then array_distinct(transform(sequence(1, size(w) - 2),
            |   i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))))
            | else array(t) end""".stripMargin))
        .select(col("doc_id"),
          expr("transform(shingles, s -> sha2(s, 256))").as("hashes"))
      // brute: every small-side-oriented pair with containment >= tau
      val brute = hashed.as("a").join(hashed.as("b"),
          col("a.doc_id") =!= col("b.doc_id") &&
            (size(col("a.hashes")) < size(col("b.hashes")) ||
              (size(col("a.hashes")) === size(col("b.hashes")) &&
                col("a.doc_id") < col("b.doc_id"))))
        .select(col("a.doc_id").as("s"), col("b.doc_id").as("bg"),
          (size(array_intersect(col("a.hashes"), col("b.hashes"))).cast("double") /
            size(col("a.hashes"))).as("c"))
        .filter(col("c") >= tau)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = DedupOps.containmentRecallOf(hashed, tau, s"spec_$tau")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === brute,
        s"tau=$tau got=${got.size} brute=${brute.size} — containment recall bound broken")
    }

  test("tau literals render exactly and tighter tau shrinks the probe sketch") {
    // exact decimal rendering: the same text reaches Spark and DuckDB
    assert(DedupOps.containTauStr(0.8) === "0.8")
    assert(DedupOps.containFracStr(0.8) === "0.2")
    assert(DedupOps.containFracStr(0.9) === "0.1")
    assert(DedupOps.containFracStr(0.75) === "0.25")
    import spark.implicits._
    val hashed = Seq((1L, (1 to 40).map(i => f"h$i%03d")))
      .toDF("doc_id", "hashes")
    def probes(tau: Double): Long =
      DedupOps.containProbes(hashed, tau).count()
    assert(probes(0.8) === 9L)  // floor(0.2*40)+1
    assert(probes(0.9) === 5L)  // floor(0.1*40)+1
  }

  test("q245 finds the subset pair q241's resemblance bands miss") {
    // doc 2 is a CONTIGUOUS prefix of doc 1 → its shingles are a
    // strict subset (containment 1.0) but resemblance ≈ 10/58 ≈ 0.17,
    // far below any near-dup band threshold
    val big = (1 to 60).map(i => s"tok$i").mkString(" ")
    val small = (1 to 12).map(i => s"tok$i").mkString(" ")
    val dir = writeDocs(Seq((1L, big), (2L, small),
      (3L, (100 to 140).map(i => s"other$i").mkString(" "))))
    val q241 = DedupOps.q241ContainmentPairs.fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!q241.contains((1L, 2L)) && !q241.contains((2L, 1L)),
      "construction failed: the subset pair must NOT be a resemblance candidate")
    val q245 = DedupOps.q245ContainmentRecall.fn(spark, dir).collect()
    val hit = q245.filter(r => r.getLong(0) == 2L && r.getLong(1) == 1L)
    assert(hit.length == 1, s"q245 must recall the subset pair, got ${q245.toSeq}")
    assert(hit.head.getAs[Double]("containment") === 1.0)
    assert(hit.head.getAs[String]("relation") === "subset")
  }

  test("containment gate projects and prices the probe-index join") {
    val dir = sf("sf0.01")
    val r = DedupOps.preflightFor(spark, dir, "containment", 1000.0)
      .collect().head
    assert(r.getAs[Long]("sample_docs") > 0L)
    assert(r.getAs[Long]("sample_pairs") >= 0L)
    assert(Set("ok", "refuse")(r.getAs[String]("verdict")))
  }
}
