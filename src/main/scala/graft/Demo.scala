package graft

import graft.pipeline._

/** Demo main: the extraction-pipeline surface end-to-end with the mock
  * LLM on the sf0.001 documents — `sbt "runMain graft.Demo"`. */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = GraftExtensions.session("graft-demo", 4)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val specs = Seq(
      PromptSpec("n_batch", "count of word 'batch'", "number"),
      PromptSpec("has_spark", "does it mention 'spark'", "boolean"),
      PromptSpec("first", "first word", "text"))
    val out = Extraction.extract(docs, "text", specs, () => new MockLLM)
    out.select("doc_id", "n_batch", "has_spark", "first").show(5, truncate = false)
    println("EXTRACT_ROWS=" + out.count())

    // edge rows: empty text, NA-only text
    val edge = Seq((99L, ""), (100L, "NA na  NA")).toDF("doc_id", "text")
    Extraction.extract(edge, "text", specs, () => new MockLLM)
      .show(truncate = false)

    // tool surface: classify + enrich the scanned docs
    val classified = ToolRegistry.get("classifier").get(docs, Map())
    val enriched = ToolRegistry.get("lookup_enrichment").get(classified, Map("field" -> "lang"))
    enriched.groupBy("classification", "lang_enriched").count()
      .orderBy("classification", "lang_enriched").show(30, truncate = false)

    // JSON repair over a messy "LLM answer"
    val messy = Seq("""Sure! ```json {'total': 12.5, items: 3,}```""").toDF("raw")
    messy.select(graft.functions.JsonRepair.parseWithRepair(
      org.apache.spark.sql.functions.col("raw"), "total DOUBLE, items INT").as("parsed"))
      .show(truncate = false)

    // multimodal plumbing on binary columns
    val media = Seq(("img.png", Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 1, 2))).toDF("file_name", "content")
    graft.multimodal.Multimodal.withMediaFeatures(media, "content", "file_name")
      .select("file_name", "media_meta.format", "features").show(truncate = false)
    // retrieval strategies over an inline chunk table
    val chunks = Seq(
      ("d1", 0L, "spark joins and shuffles", Seq(1f, 0f, 0f, 0f)),
      ("d1", 1L, "window functions in spark", Seq(0.9f, 0.1f, 0f, 0f)),
      ("d2", 0L, "cooking recipes", Seq(0f, 0f, 1f, 0f))
    ).toDF("doc_id", "chunk_id", "text", "embedding")
    val query = Retrievers.Query(Seq(1f, 0f, 0f, 0f), "spark joins?")
    Retrievers.simple(chunks, query, 2).show(truncate = false)
    Retrievers.fusion(chunks, Seq(query), 2).show(truncate = false)
    println("DEMO_OK")
    spark.stop()
  }
}
