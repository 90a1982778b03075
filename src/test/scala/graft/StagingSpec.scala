package graft

import graft.operators.{EventsOps, SuffixOps}

/** The one staging key reaches tiers the per-tier staging specs do not
  * cover: each query runs with `spark.graft.stagingDir` unset
  * (localCheckpoint) and set (parquet under the root), must return
  * identical rows, and must leave its staged frame under the root. */
class StagingSpec extends SparkSpec {

  private def sameRowsWhenStaged(q: QueryDef, tag: String): Unit = {
    val dir = sf("sf0.001")
    val local = q.fn(spark, dir).collect().map(_.toString).toSeq
    val root = java.nio.file.Files.createTempDirectory("graft-stage").toString
    spark.conf.set(Staging.Key, root)
    try {
      val durable = q.fn(spark, dir).collect().map(_.toString).toSeq
      assert(local.nonEmpty, s"${q.name} returned no rows on sf0.001")
      assert(durable === local)
      val staged = new java.io.File(root).listFiles()
      assert(staged != null && staged.exists(_.getName.startsWith(tag + "_")),
        s"${q.name} staged nothing named ${tag}_* under $root")
    } finally spark.conf.unset(Staging.Key)
  }

  test("q193 retention half-life is identical under durable staging (events tier)") {
    sameRowsWhenStaged(EventsOps.q193RetentionHalfLife, "retention")
  }

  test("q164 longest dup is identical under durable staging (suffix-array tier)") {
    sameRowsWhenStaged(SuffixOps.q164LongestDup, "q164_nb")
  }
}
