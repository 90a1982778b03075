package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Retrieval strategies (SURVEY.md D5-D9) over a chunk table
  * `(doc_id, chunk_id, text, embedding ARRAY<FLOAT>)`.
  *
  * Strategy dispatch mirrors the reference's 7 retriever plugins
  * (workers/executor/executors/retrievers/). Every strategy returns the
  * same contract: (doc_id, chunk_id, text, score) top-k rows for a query
  * vector. Embedding the query happens once at the driver (1 vector),
  * the chunk side never leaves its partitions except for the final
  * TakeOrdered(k).
  */
object Retrievers {

  /** Query-side inputs: the embedded question (+ optional variations). */
  final case class Query(vector: Seq[Float], text: String = "")

  private def qvCol(q: Query): Column =
    lit(q.vector.toArray).cast("array<float>")

  private def scored(chunks: DataFrame, q: Query): DataFrame =
    chunks.withColumn("__qv", qvCol(q))
      .withColumn("score", expr("dot_product_f(embedding, __qv)"))
      .drop("__qv")

  /** D5 simple: top-k by similarity, score ≤ 0 dropped, doc filter
    * (retrievers/simple.py:11-52). */
  def simple(chunks: DataFrame, q: Query, k: Int = 5,
      docId: Option[String] = None): DataFrame = {
    val base = docId.map(d => chunks.filter(col("doc_id") === d)).getOrElse(chunks)
    scored(base, q)
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("chunk_id"))
      .limit(k)
  }

  /** D6 subquestion: decompose into sub-queries (caller provides the
    * decomposition — the reference asks an LLM), union of per-sub simple
    * retrievals, distinct chunks (retrievers/subquestion.py:13-76). */
  def subquestion(chunks: DataFrame, subs: Seq[Query], k: Int = 5): DataFrame =
    subs.map(q => simple(chunks, q, k))
      .reduce(_ unionByName _)
      .dropDuplicates("doc_id", "chunk_id")

  /** D7 fusion: N query variations × 3 k-scales (k, 2k, k/2), fused by
    * reciprocal rank (retrievers/fusion.py:12-104).
    *
    * ONE scan per variation (not per variation × k-scale): the score
    * depends only on the query, and every k-scale list is a prefix of
    * the top-2k list under the same (score desc, chunk_id) order — so a
    * row of global rank r contributes 1/(60+r) once for every k-scale
    * ≥ r, a pure projection over the ≤2k survivors. At 100 TB the full
    * chunk-table scan is the dominant cost; this is N scans where the
    * naive per-list form pays 3N. */
  def fusion(chunks: DataFrame, variations: Seq[Query], k: Int = 5): DataFrame = {
    val kks = Seq(k, 2 * k, math.max(k / 2, 1))
    val lists = for (q <- variations) yield {
      // TakeOrdered the top-2k, then rank only the survivors — no
      // single-partition funnel of all vectors, no window at all
      // (Ranks.sequenceNumber numbers the sorted set in place).
      val top = scored(chunks, q)
        .orderBy(col("score").desc, col("chunk_id"))
        .limit(kks.max)
      val ranked = graft.operators.Ranks
        .sequenceNumber(top, Seq(col("score").desc, col("chunk_id")), "rank")
      val contribution = kks.map(kk =>
        when(col("rank") <= kk, lit(1.0) / (lit(60) + col("rank")))
          .otherwise(lit(0.0))).reduce(_ + _)
      ranked.select(col("doc_id"), col("chunk_id"), col("text"),
        contribution.as("rrf_part"))
    }
    lists.reduce(_ unionByName _)
      .groupBy(col("doc_id"), col("chunk_id"), col("text"))
      .agg(sum(col("rrf_part")).as("score"))
      .orderBy(col("score").desc, col("chunk_id"))
      .limit(k)
  }

  /** D8 keyword_table: inverted keyword index (explode tokens → match
    * query keywords → rank by hit count). */
  def keywordTable(chunks: DataFrame, keywords: Seq[String], k: Int = 5): DataFrame = {
    val kws = keywords.map(_.toLowerCase)
    chunks
      .withColumn("__tok", explode(split(lower(trim(col("text"))), "\\s+")))
      .filter(col("__tok").isin(kws: _*))
      .groupBy(col("doc_id"), col("chunk_id"), col("text"))
      .agg(countDistinct(col("__tok")).cast("double").as("score"))
      .orderBy(col("score").desc, col("chunk_id"))
      .limit(k)
  }

  /** D8 automerging: when ≥ `threshold` of a parent's children match,
    * replace them with the parent chunk (hierarchical rollup join —
    * retrievers/automerging.py). `parents` maps chunk → parent. */
  def automerging(leaves: DataFrame, parents: DataFrame, q: Query,
      k: Int = 5, threshold: Double = 0.5): DataFrame = {
    val hits = simple(leaves, q, 4 * k)
    val withParent = hits.join(parents, Seq("doc_id", "chunk_id"), "left_outer")
    val parentStats = withParent.filter(col("parent_id").isNotNull)
      .groupBy(col("doc_id"), col("parent_id"))
      .agg(count(lit(1)).as("hit_children"), max(col("score")).as("pscore"))
      .join(parents.groupBy("doc_id", "parent_id").agg(count(lit(1)).as("n_children")),
        Seq("doc_id", "parent_id"))
      .filter(col("hit_children") >= col("n_children") * threshold)
    // output ids are strings: merged rows carry the parent id, kept rows
    // the stringified leaf chunk id
    val merged = parentStats
      .select(col("doc_id"), col("parent_id").cast("string").as("chunk_id"),
        lit("<merged-parent>").as("text"), col("pscore").as("score"))
    val kept = withParent.join(parentStats.select("doc_id", "parent_id"),
        Seq("doc_id", "parent_id"), "left_anti")
      .select(col("doc_id"), col("chunk_id").cast("string").as("chunk_id"),
        col("text"), col("score"))
    kept.unionByName(merged)
      .orderBy(col("score").desc, col("chunk_id"))
      .limit(k)
  }

  /** D8 recursive: retrieve over root/summary nodes; a hit that is a
    * reference node (has children in the hierarchy table) is REPLACED by
    * its children re-scored against the query, while leaf hits pass
    * through — one reference level of llama-index RecursiveRetriever
    * (retrievers/recursive.py:12-86).
    *
    * `roots`: (doc_id, chunk_id, text, embedding) summary nodes;
    * `children`: (doc_id, parent_id, chunk_id, text, embedding).
    * Scale: the hit set is k-bounded, so the expansion join broadcasts
    * the hit keys — the child table is probed, never shuffled. */
  def recursive(roots: DataFrame, children: DataFrame, q: Query,
      k: Int = 5): DataFrame = {
    val hits = simple(roots, q, k).select("doc_id", "chunk_id", "text", "score")
    val hitKeys = hits.select(col("doc_id"), col("chunk_id").as("parent_id"))
    val expanded = scored(children.join(broadcast(hitKeys), Seq("doc_id", "parent_id")), q)
      .filter(col("score") > 0)
      .select(col("doc_id"), col("chunk_id"), col("text"), col("score"))
    val refParents = children.select(col("doc_id"),
      col("parent_id").as("chunk_id")).distinct()
    val leafHits = hits.join(refParents, Seq("doc_id", "chunk_id"), "left_anti")
    leafHits.unionByName(expanded)
      .orderBy(col("score").desc, col("chunk_id"))
      .limit(k)
  }

  /** D8 router: pick a strategy by a driver-side decision (the reference
    * asks an LLM; callers pass the decision fn). */
  def router(chunks: DataFrame, q: Query, pick: String => String,
      keywords: Seq[String] = Nil, k: Int = 5): DataFrame =
    pick(q.text) match {
      case "keyword" => keywordTable(chunks, keywords, k)
      case "fusion"  => fusion(chunks, Seq(q), k)
      case _         => simple(chunks, q, k)
    }

  /** D9 full-context: chunk_size==0 shortcut — whole doc as one context
    * row (retrieval.py:90-113). */
  def fullContext(docs: DataFrame, docId: String): DataFrame =
    docs.filter(col("doc_id") === docId)
      .select(col("doc_id"), lit(0L).as("chunk_id"),
        col("text"), lit(1.0).as("score"))
}
