package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval operators (SURVEY.md D5-D9, A6-A7, J4, W3) over the
  * `embeddings` table: top-k similarity, per-group k-NN, reciprocal-rank
  * fusion, distinct-context collection.
  *
  * Scale design: the query vector is a 1-row broadcast — the score pass
  * is a narrow map over the (partitioned) vector table followed by a
  * TakeOrdered(k), no shuffle of the vectors themselves. At 100 TB the
  * brute-force pass swaps for the IVF route (DedupOps/AnnOps) behind the
  * same top-k contract.
  */
object RetrievalOps {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** The deterministic "query" vector: vec_id 0's embedding. */
  private def queryVec(e: DataFrame): DataFrame =
    e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))

  private val oracleDot =
    "list_sum(list_transform(list_zip(embedding::DOUBLE[], qv), x -> x[1] * x[2]))"

  /** D5: simple top-k retrieval — cosine score, drop ≤ 0, top 5
    * (retrievers/simple.py:11-52; TOP_K sdk1/index.py:40-41). */
  val q30TopkCosine: QueryDef = QueryDef(
    "q30_topk_cosine",
    (s, dir) => {
      val e = emb(s, dir)
      e.crossJoin(broadcast(queryVec(e)))
        .select(col("vec_id"), round(expr("dot_product_f(embedding, qv)"), 6).as("score"))
        .filter(col("vec_id") =!= 0 && col("score") > 0)
        .orderBy(col("score").desc, col("vec_id"))
        .limit(5)
    },
    Some(s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
      SELECT vec_id, score FROM (
        SELECT vec_id, round($oracleDot, 6) AS score FROM embeddings, q) x
      WHERE vec_id <> 0 AND score > 0
      ORDER BY score DESC, vec_id LIMIT 5"""),
    headline = true)

  /** W3/J4: per-label k-NN — top-3 per label partition via row_number. */
  val q31KnnPerLabel: QueryDef = QueryDef(
    "q31_knn_per_label",
    (s, dir) => {
      val e = emb(s, dir)
      val w = Window.partitionBy(col("label"))
        .orderBy(col("score").desc, col("vec_id"))
      e.crossJoin(broadcast(queryVec(e)))
        .select(col("label"), col("vec_id"),
          round(expr("dot_product_f(embedding, qv)"), 6).as("score"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .orderBy(col("label"), col("rk"))
    },
    Some(s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      scored AS (SELECT label, vec_id, round($oracleDot, 6) AS score FROM embeddings, q)
      SELECT label, vec_id, score, rk FROM (
        SELECT label, vec_id, score,
          row_number() OVER (PARTITION BY label ORDER BY score DESC, vec_id) AS rk
        FROM scored) x
      WHERE rk <= 3 ORDER BY label, rk"""))

  /** D7/A6: reciprocal-rank fusion of three retrievers (dot, -L2, -L1),
    * RRF score sum(1/(60+rank)) over each top-20 list
    * (retrievers/fusion.py:12-104). */
  val q32RrfFusion: QueryDef = QueryDef(
    "q32_rrf_fusion",
    (s, dir) => {
      val e = emb(s, dir)
      // all three metrics in one projection, then PERSIST: the three
      // TakeOrdered passes below reuse the 24-bytes-per-row scored frame
      // instead of re-scanning + re-scoring the full embedding table
      // (at 100 TB the embedding scan is the dominant cost; the cached
      // frame is ~0.5% of its width)
      val scored = e.crossJoin(broadcast(queryVec(e)))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          expr("dot_product_f(embedding, qv)").as("m_dot"),
          (-expr("l2_sq_f(embedding, qv)")).as("m_l2"),
          (-expr("l1_f(embedding, qv)")).as("m_l1"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val lists = Seq("m_dot", "m_l2", "m_l1").map { m =>
        // orderBy+limit compiles to TakeOrderedAndProject (per-partition
        // heaps, no full sort), so only the ≤20 survivors get ranked; a
        // full-set unpartitioned window would funnel every vector through
        // one task. Ranking the survivors uses the distributed
        // sequence-number helper — no window at all.
        val top = scored.select(col("vec_id"), col(m))
          .orderBy(col(m).desc, col("vec_id"))
          .limit(20)
        Ranks.sequenceNumber(top, Seq(col(m).desc, col("vec_id")), "rank")
          .select(col("vec_id"), col("rank"))
      }
      lists.reduce(_ union _)
        .groupBy(col("vec_id"))
        .agg(round(sum(lit(1.0) / (lit(60) + col("rank"))), 6).as("rrf"),
          count(lit(1)).as("n_lists"))
        .orderBy(col("rrf").desc, col("vec_id"))
        .limit(10)
    },
    Some(s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      scored AS (SELECT vec_id,
          $oracleDot AS m_dot,
          -list_sum(list_transform(list_zip(embedding::DOUBLE[], qv), x -> (x[1]-x[2])*(x[1]-x[2]))) AS m_l2,
          -list_sum(list_transform(list_zip(embedding::DOUBLE[], qv), x -> abs(x[1]-x[2]))) AS m_l1
        FROM embeddings, q WHERE vec_id <> 0),
      ranked AS (
        SELECT vec_id, row_number() OVER (ORDER BY m_dot DESC, vec_id) AS rank FROM scored
        UNION ALL SELECT vec_id, row_number() OVER (ORDER BY m_l2 DESC, vec_id) FROM scored
        UNION ALL SELECT vec_id, row_number() OVER (ORDER BY m_l1 DESC, vec_id) FROM scored)
      SELECT vec_id, round(sum(1.0/(60+rank)), 6) AS rrf, count(*) AS n_lists
      FROM ranked WHERE rank <= 20 GROUP BY vec_id
      ORDER BY rrf DESC, vec_id LIMIT 10"""))

  /** A7/SO2: distinct retrieved context set per group (collect_set →
    * sorted join, retrievers/simple.py:42-52). */
  val q33DistinctContext: QueryDef = QueryDef(
    "q33_distinct_context",
    (s, dir) =>
      Tables.load(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(concat_ws("|", array_sort(collect_set(col("source")))).as("sources"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("lang")),
    Some("""SELECT lang, string_agg(DISTINCT source, '|' ORDER BY source) AS sources,
      count(DISTINCT source) AS n_sources
      FROM documents GROUP BY lang ORDER BY lang"""))

  /** D8 keyword_table: inverted keyword index over documents — explode
    * tokens, match the keyword set, rank by distinct hits then doc_id. */
  val q44KeywordRetrieval: QueryDef = QueryDef(
    "q44_keyword_retrieval",
    (s, dir) =>
      Tables.loadParallel(s, dir, "documents")
        .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .filter(col("tok").isin("spark", "vector", "stream"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("tok")).as("hits"))
        .orderBy(col("hits").desc, col("doc_id"))
        .limit(20),
    Some("""SELECT doc_id, hits FROM (
      SELECT doc_id, count(DISTINCT tok) AS hits FROM (
        SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        FROM documents) t
      WHERE tok IN ('spark', 'vector', 'stream')
      GROUP BY doc_id) x
      ORDER BY hits DESC, doc_id LIMIT 20"""))

  /** D6 subquestion: two decomposed sub-queries (vec 0 and vec 1), union
    * of the per-sub top-5 retrievals, distinct vectors. */
  val q57Subquestion: QueryDef = QueryDef(
    "q57_subquestion",
    (s, dir) => {
      val e = emb(s, dir)
      def sub(qid: Int) = {
        val qv = e.filter(col("vec_id") === qid).select(col("embedding").as("qv"))
        e.crossJoin(broadcast(qv))
          .filter(col("vec_id") =!= qid)
          .select(col("vec_id"), round(expr("dot_product_f(embedding, qv)"), 6).as("score"))
          .filter(col("score") > 0)
          .orderBy(col("score").desc, col("vec_id"))
          .limit(5)
      }
      sub(0).unionByName(sub(1))
        .groupBy(col("vec_id"))
        .agg(round(max(col("score")), 6).as("best_score"), count(lit(1)).as("n_subs"))
        .orderBy(col("vec_id"))
    },
    Some("""WITH s0 AS (
        SELECT vec_id, score FROM (
          SELECT e.vec_id,
            round(list_sum(list_transform(list_zip(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), x -> x[1]*x[2])), 6) AS score
          FROM embeddings e, embeddings q WHERE q.vec_id = 0 AND e.vec_id <> 0) x
        WHERE score > 0 ORDER BY score DESC, vec_id LIMIT 5),
      s1 AS (
        SELECT vec_id, score FROM (
          SELECT e.vec_id,
            round(list_sum(list_transform(list_zip(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), x -> x[1]*x[2])), 6) AS score
          FROM embeddings e, embeddings q WHERE q.vec_id = 1 AND e.vec_id <> 1) x
        WHERE score > 0 ORDER BY score DESC, vec_id LIMIT 5)
      SELECT vec_id, round(max(score), 6) AS best_score, count(*) AS n_subs
      FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1) u
      GROUP BY vec_id ORDER BY vec_id"""))

  /** D8 recursive retrieval: a synthetic two-level hierarchy over the
    * embeddings table — vec_id % 10 == 0 are root/summary nodes; roots
    * divisible by 20 are REFERENCE nodes whose children are the next 4
    * vec_ids. Top-3 root hits; reference hits are replaced by their
    * re-scored children, leaf hits pass through; top-5 overall
    * (retrievers/recursive.py:12-86).
    *
    * Scale: root scoring is a narrow map + TakeOrdered(3); the child
    * expansion broadcasts the 3 hit keys and probes the child table —
    * nothing large ever shuffles. */
  val q59RecursiveRetrieval: QueryDef = QueryDef(
    "q59_recursive_retrieval",
    (s, dir) => {
      val e = emb(s, dir)
      val qv = queryVec(e)
      val roots = e.filter(col("vec_id") % 10 === 0 && col("vec_id") =!= 0)
        .select(col("vec_id").as("chunk_id"), col("embedding"))
      val children = e.filter(
          (col("vec_id") % 10).between(1, 4) &&
          (col("vec_id") - col("vec_id") % 10) % 20 === 0)
        .select((col("vec_id") - col("vec_id") % 10).as("parent_id"),
          col("vec_id").as("chunk_id"), col("embedding"))
      val rootHits = roots.crossJoin(broadcast(qv))
        .select(col("chunk_id"), expr("dot_product_f(embedding, qv)").as("score"))
        .orderBy(col("score").desc, col("chunk_id"))
        .limit(3)
      val hitKeys = rootHits.select(col("chunk_id").as("parent_id"))
      val expanded = children.join(broadcast(hitKeys), Seq("parent_id"))
        .crossJoin(broadcast(qv))
        .select(col("chunk_id"),
          expr("dot_product_f(embedding, qv)").as("score"),
          lit("child").as("origin"))
      val leaf = rootHits
        .join(children.select(col("parent_id").as("chunk_id")).distinct(),
          Seq("chunk_id"), "left_anti")
        .select(col("chunk_id"), col("score"), lit("root").as("origin"))
      leaf.unionByName(expanded)
        .select(col("chunk_id"), round(col("score"), 6).as("score"), col("origin"))
        .orderBy(col("score").desc, col("chunk_id"))
        .limit(5)
    },
    Some(s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      roots AS (SELECT vec_id AS chunk_id, $oracleDot AS score
        FROM embeddings, q WHERE vec_id % 10 = 0 AND vec_id <> 0),
      top_roots AS (SELECT chunk_id, score FROM roots
        ORDER BY score DESC, chunk_id LIMIT 3),
      children AS (SELECT (vec_id - vec_id % 10) AS parent_id,
          vec_id AS chunk_id, embedding FROM embeddings
        WHERE vec_id % 10 BETWEEN 1 AND 4 AND (vec_id - vec_id % 10) % 20 = 0),
      expanded AS (SELECT c.chunk_id,
          list_sum(list_transform(list_zip(c.embedding::DOUBLE[], q.qv), x -> x[1]*x[2])) AS score,
          'child' AS origin
        FROM children c JOIN top_roots t ON c.parent_id = t.chunk_id, q),
      leaf AS (SELECT t.chunk_id, t.score, 'root' AS origin FROM top_roots t
        WHERE t.chunk_id NOT IN (SELECT DISTINCT parent_id FROM children))
      SELECT chunk_id, round(score, 6) AS score, origin
      FROM (SELECT * FROM leaf UNION ALL SELECT * FROM expanded) u
      ORDER BY score DESC, chunk_id LIMIT 5"""))

  // ---------------------------------------------------------------
  // q161: retrieval evaluation metrics (recall@k, MRR, nDCG@k)
  // ---------------------------------------------------------------

  /** Offline retrieval evaluation: for each of the first 10 vectors as
    * queries, rank the corpus by cosine (excluding self), mark
    * same-label vectors relevant, and report the three standard ranked
    * metrics — recall@10, MRR, and binary-relevance nDCG@10 (IDCG from
    * the gold count via an in-plan HOF sum, so no ideal-run join). The
    * evaluation loop every retriever change in this engine should be
    * gated on (the D19 EVALUATION discipline applied to the retrieval
    * tier itself).
    *
    * Scale: the query batch is broadcast (q31's shape) — one corpus
    * scan scores ALL queries; ranking windows key on qid; gold counts
    * come from the label-sized count table broadcast back; everything
    * after the rank cut is per-query arithmetic on ≤ k rows. */
  val q161RetrievalMetrics: QueryDef = QueryDef(
    "q161_retrieval_metrics",
    (s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("label").as("qlabel"))
      val goldCounts = e.groupBy(col("label"))
        .agg(count(lit(1)).as("n_label"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("vec_id"))
      val ranked = e.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
          round(expr("dot_product_f(embedding, qv)"), 6).as("score"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 10)
        .withColumn("rel", (col("label") === col("qlabel")).cast("double"))
      ranked
        .join(broadcast(goldCounts.withColumnRenamed("label", "qlabel")), "qlabel")
        // gold excludes the query itself
        .withColumn("n_gold", col("n_label") - 1)
        .groupBy(col("qid"), col("n_gold"))
        .agg(
          sum(col("rel")).cast("long").as("hits"),
          max(when(col("rel") === 1.0, lit(1.0) / col("rk"))).as("mrr0"),
          sum(when(col("rel") === 1.0, lit(1.0) / log2(col("rk") + 1))).as("dcg"))
        .select(col("qid"), col("n_gold"), col("hits"),
          round(col("hits").cast("double") / least(lit(10L), col("n_gold")), 6)
            .as("recall_at_10"),
          round(coalesce(col("mrr0"), lit(0.0)), 6).as("mrr"),
          round(coalesce(col("dcg"), lit(0.0)) /
            expr("aggregate(sequence(1, cast(least(10, n_gold) as int)), 0D, (acc, i) -> acc + 1.0 / log2(i + 1))"),
            6).as("ndcg_at_10"))
        .orderBy(col("qid"))
    },
    Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e WHERE vec_id < 10),
      gold AS (SELECT label, CAST(count(*) AS BIGINT) AS n_label FROM e GROUP BY label),
      scored AS (SELECT q.qid, q.qlabel, e.vec_id, e.label,
          round(list_sum(list_transform(list_zip(e.v, q.qv), x -> x[1]*x[2])), 6) AS score
        FROM e, q WHERE e.vec_id <> q.qid),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY score DESC, vec_id) AS rk FROM scored),
      cut AS (SELECT qid, qlabel, rk,
          CASE WHEN label = qlabel THEN 1.0 ELSE 0.0 END AS rel
        FROM ranked WHERE rk <= 10),
      agg AS (SELECT c.qid, g.n_label - 1 AS n_gold,
          CAST(sum(rel) AS BIGINT) AS hits,
          max(CASE WHEN rel = 1.0 THEN 1.0 / rk END) AS mrr0,
          sum(CASE WHEN rel = 1.0 THEN 1.0 / log2(rk + 1) END) AS dcg
        FROM cut c JOIN gold g ON c.qlabel = g.label
        GROUP BY c.qid, g.n_label)
      SELECT qid, n_gold, hits,
        round(CAST(hits AS DOUBLE) / least(10, n_gold), 6) AS recall_at_10,
        round(coalesce(mrr0, 0.0), 6) AS mrr,
        round(coalesce(dcg, 0.0) / list_sum(list_transform(
          range(1, CAST(least(10, n_gold) AS INT) + 1),
          i -> 1.0 / log2(i + 1))), 6) AS ndcg_at_10
      FROM agg ORDER BY qid"""))

  val all: Seq[QueryDef] = Seq(
    q30TopkCosine, q31KnnPerLabel, q32RrfFusion, q33DistinctContext,
    q44KeywordRetrieval, q57Subquestion, q59RecursiveRetrieval,
    q161RetrievalMetrics)
}
