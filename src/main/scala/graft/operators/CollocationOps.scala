package graft.operators

import graft.{QueryDef, Staging, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-order novelty and collocation statistics — the two remaining
  * profile passes a pretraining data pipeline runs between dedup and
  * mixing: "how much of this document is NEW relative to everything
  * already ingested" (crawl-freshness / snapshot-growth accounting,
  * the per-doc view of what q129's saturation curve reports per
  * batch), and "which word pairs are corpus-level collocations"
  * (PMI — Church & Hanks 1990 — the classic lexicon-induction signal,
  * also the `min_pmi` phrase-merge rule of word2vec's phrase builder).
  */
object CollocationOps {

  // ---------------------------------------------------------------
  // q200: corpus-order novelty profile
  // ---------------------------------------------------------------

  /** Per-document novelty: the fraction of a doc's distinct 5-gram
    * shingles whose FIRST corpus occurrence (by doc_id ingest order)
    * is this document. Early documents score ~1, later near-dups ~0;
    * the per-doc complement of q129's batch saturation curve and the
    * signal incremental-crawl dedup thresholds on (keep a re-crawled
    * page only if it contributes enough first-seen content).
    *
    * Shingles are q81's (CorpusOps.fiveGrams — distinct per doc,
    * whole-text fallback under 5 words), so the boilerplate and
    * novelty passes profile the same gram space.
    *
    * Scale: ONE gram-keyed shuffle builds (gram → min doc_id) with
    * map-side partial min; "novel per doc" is then a group-by over
    * THAT vocabulary-sized table (never a join back onto the corpus
    * gram stream), and the final doc-keyed join unites two slim
    * per-doc count tables. Nothing corpus × corpus, no window. */
  val q200NoveltyProfile: QueryDef = QueryDef(
    "q200_novelty_profile",
    (s, dir) => {
      // the gram-ARRAY frame is pinned once and feeds both legs:
      // firstSeen explodes it; totals is size(shingles) per doc — the
      // same integer as counting the exploded rows (shingles are
      // distinct per doc and never empty), without a second pass over
      // the exploded stream (pinning the EXPLODED rows instead was
      // measured slower: the checkpoint carries doc_id per gram and
      // the explode itself moves inside the serial job)
      val sh = Staging.materialize(CorpusOps.fiveGrams(s, dir), "q200_sh")
      val grams = sh.select(col("doc_id"), explode(col("shingles")).as("sh"))
      val firstSeen = grams.groupBy(col("sh"))
        .agg(min(col("doc_id")).as("first_doc"))
      val novel = firstSeen.groupBy(col("first_doc").as("doc_id"))
        .agg(count(lit(1)).as("n_novel"))
      val totals = sh
        .select(col("doc_id"), size(col("shingles")).cast("long").as("n_grams"))
      totals.join(novel, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"))
        .withColumn("novelty_frac",
          round(col("n_novel").cast("double") / col("n_grams"), 6))
        .orderBy(col("doc_id"))
    },
    Some("""WITH tok AS (SELECT doc_id, trim(text) AS t,
        regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
      sh AS (SELECT doc_id,
        CASE WHEN len(w) >= 5
          THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
                              for i in range(1, len(w) - 3)])
          ELSE [t] END AS shingles FROM tok),
      grams AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
      firstg AS (SELECT sh, min(doc_id) AS first_doc FROM grams GROUP BY sh),
      novel AS (SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_novel
        FROM firstg GROUP BY 1),
      totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        FROM grams GROUP BY 1)
      SELECT t.doc_id, t.n_grams,
        CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
        round(CAST(coalesce(n.n_novel, 0) AS DOUBLE) / t.n_grams, 6) AS novelty_frac
      FROM totals t LEFT JOIN novel n USING (doc_id)
      ORDER BY t.doc_id"""),
    headline = true)

  // ---------------------------------------------------------------
  // q201: PMI collocations
  // ---------------------------------------------------------------

  private val MinPairCount = 5 // collocation support floor
  private val TopPairs = 20

  /** Top-[[TopPairs]] adjacent-word collocations by pointwise mutual
    * information: lift = p(ab) / (p(a)·p(b)) with p(ab) over the
    * bigram stream and p(a), p(b) over the token stream, support
    * floor [[MinPairCount]]. PMI = log(lift) is monotone in lift, so
    * ranking on lift IS the PMI ranking with no transcendental to
    * cross-check between engines; the division chain is written in one
    * fixed order (each step a correctly-rounded IEEE op on exact
    * integer counts — bigram/token totals stay well inside 2^53) so
    * both engines produce bit-identical doubles, rounded 6 BEFORE the
    * rank as usual.
    *
    * Tokens are q96's (lowercased whitespace split, LmOps.tokenizedOf)
    * so collocations, LM perplexity, and TF-IDF all speak the same
    * vocabulary.
    *
    * Scale: the bigram count is one (w1, w2)-keyed shuffle with
    * map-side combine (vocabulary²-bounded but Zipf-truncated by the
    * support floor BEFORE the unigram joins, so the joined side is the
    * frequent-pair sliver); the two unigram joins are token-keyed
    * equi-joins between count tables (both vocabulary-sized, never
    * corpus-sized); the final cut is TakeOrdered, no global sort. */
  val q201PmiCollocations: QueryDef = QueryDef(
    "q201_pmi_collocations",
    (s, dir) => {
      val tok = LmOps.tokenizedOf(Tables.loadParallel(s, dir, "documents"))
      val bc = LmOps.bigramsOfTokens(tok)
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= MinPairCount)
      val uc = tok.select(explode(col("w")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val nTok = tok.select(sum(size(col("w"))).as("n_tok"))
      val nBg = tok.select(
        sum(greatest(size(col("w")) - 1, lit(0))).as("n_bg"))
      bc
        .join(uc.select(col("tok").as("w1"), col("c").as("c_a")), Seq("w1"))
        .join(uc.select(col("tok").as("w2"), col("c").as("c_b")), Seq("w2"))
        .crossJoin(broadcast(nTok))
        .crossJoin(broadcast(nBg))
        .withColumn("lift", round(
          (col("c_ab").cast("double") / col("n_bg").cast("double")) /
            (col("c_a").cast("double") / col("n_tok").cast("double")) /
            (col("c_b").cast("double") / col("n_tok").cast("double")), 6))
        .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
          col("lift"))
        .orderBy(col("lift").desc, col("w1"), col("w2"))
        .limit(TopPairs)
    },
    Some(s"""WITH tok AS (SELECT doc_id,
        regexp_split_to_array(lower(trim(text)), '\\s+') AS w FROM documents),
      uni AS (SELECT unnest(w) AS tok FROM tok),
      uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY tok),
      nt AS (SELECT CAST(count(*) AS DOUBLE) AS n_tok FROM uni),
      bg AS (SELECT w[i] AS w1, w[i+1] AS w2
        FROM tok, unnest(range(1, len(w))) t(i) WHERE len(w) >= 2),
      bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
        FROM bg GROUP BY 1, 2 HAVING count(*) >= $MinPairCount),
      nb AS (SELECT CAST(count(*) AS DOUBLE) AS n_bg FROM bg)
      SELECT b.w1, b.w2, b.c_ab, a.c AS c_a, d.c AS c_b,
        round((CAST(b.c_ab AS DOUBLE) / nb.n_bg) /
              (CAST(a.c AS DOUBLE) / nt.n_tok) /
              (CAST(d.c AS DOUBLE) / nt.n_tok), 6) AS lift
      FROM bc b JOIN uc a ON b.w1 = a.tok JOIN uc d ON b.w2 = d.tok, nb, nt
      ORDER BY lift DESC, b.w1, b.w2 LIMIT $TopPairs"""),
    headline = false)

  // ---------------------------------------------------------------
  // q206: TextRank keywords
  // ---------------------------------------------------------------

  private val TrDamp = 0.85
  private val TrIters = 6
  private val TrTopK = 20

  /** One un-materialized weighted-PageRank round over the undirected
    * co-occurrence graph — the TextRank recurrence WS(v) = (1−d) +
    * d·Σ_{u∈N(v)} (w_uv / Σ_x w_ux)·WS(u) (Mihalcea & Tarau, EMNLP
    * 2004, eq. 2). Separated so the plan auditor can assert the
    * round's shuffle shape (the loop materializes each round, which
    * hides it from the final plan). The contribution expression is
    * written in ONE fixed order (score · w / ow, left to right) and
    * replayed character-for-character in the oracle so both engines
    * run the identical IEEE op chain. */
  private[graft] def textRankRound(nodes: DataFrame, edges: DataFrame,
      outw: DataFrame, scores: DataFrame): DataFrame = {
    val inflow = edges
      .join(outw, "u")
      .join(scores.withColumnRenamed("tok", "u"), "u")
      .groupBy(col("v").as("tok"))
      .agg(sum(col("score") * col("w") / col("ow")).as("s"))
    nodes.join(inflow, Seq("tok"), "left_outer")
      .select(col("tok"),
        (lit(1 - TrDamp) + lit(TrDamp) * coalesce(col("s"), lit(0.0)))
          .as("score"))
  }

  /** Top-[[TrTopK]] corpus keywords by TextRank: weighted PageRank
    * over the adjacent-token co-occurrence graph (window 2 — the
    * bigram stream q201 already counts, so collocations and keywords
    * profile the same graph), support floor [[MinPairCount]] on the
    * unordered pair, [[TrIters]] damped rounds at d = [[TrDamp]],
    * initial score 1 per node (the paper's formulation carries no 1/N
    * normalization). The oracle replays every round as chained CTEs,
    * pinning the distributed loop round-for-round like q160.
    *
    * Scale: the graph build is one (a, b)-keyed count with map-side
    * combine, Zipf-truncated by the support floor; each round joins
    * the EDGE table against two vocabulary-sized side tables (scores,
    * out-weights) and aggregates on the destination token — the same
    * per-round shuffle class as q160's PageRank, state one row per
    * surviving vocabulary word. The final cut is TakeOrdered, no
    * global sort. */
  val q206Textrank: QueryDef = {
    val iterCtes = (1 to TrIters).map { t =>
      s"""p$t AS (SELECT nd.tok, ${1 - TrDamp} + $TrDamp * coalesce(c.s, 0) AS score
         |        FROM nd LEFT JOIN (
         |          SELECT e.v AS tok, sum(p${t - 1}.score * e.c / o.ow) AS s
         |          FROM ed e JOIN ow o ON o.u = e.u
         |          JOIN p${t - 1} ON p${t - 1}.tok = e.u GROUP BY e.v) c
         |        ON c.tok = nd.tok)""".stripMargin
    }.mkString(",\n      ")
    QueryDef(
      "q206_textrank",
      (s, dir) => {
        val tok = LmOps.tokenizedOf(Tables.loadParallel(s, dir, "documents"))
        val und = LmOps.bigramsOfTokens(tok)
          .filter(col("w1") =!= col("w2"))
          .select(least(col("w1"), col("w2")).as("a"),
            greatest(col("w1"), col("w2")).as("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
          .filter(col("w") >= MinPairCount)
        val edges = Staging.materialize(
          und.select(col("a").as("u"), col("b").as("v"), col("w"))
            .unionByName(
              und.select(col("b").as("u"), col("a").as("v"), col("w"))),
          "textrank_edges")
        val outw = Staging.materialize(
          edges.groupBy(col("u")).agg(sum(col("w")).as("ow")),
          "textrank_outw")
        val nodes = edges.select(col("u").as("tok")).distinct()
        var scores = nodes.withColumn("score", lit(1.0))
        (1 to TrIters).foreach { t =>
          scores = Staging.materialize(
            textRankRound(nodes, edges, outw, scores),
            s"textrank$t")
        }
        scores
          .select(col("tok"), round(col("score"), 6).as("textrank"))
          .orderBy(col("textrank").desc, col("tok"))
          .limit(TrTopK)
      },
      Some(s"""WITH tok AS (SELECT doc_id,
          regexp_split_to_array(lower(trim(text)), '\\s+') AS w FROM documents),
        bg AS (SELECT w[i] AS w1, w[i+1] AS w2
          FROM tok, unnest(range(1, len(w))) t(i) WHERE len(w) >= 2),
        und AS (SELECT least(w1, w2) AS a, greatest(w1, w2) AS b,
            CAST(count(*) AS BIGINT) AS c
          FROM bg WHERE w1 <> w2 GROUP BY 1, 2 HAVING count(*) >= $MinPairCount),
        ed AS (SELECT a AS u, b AS v, c FROM und
          UNION ALL SELECT b, a, c FROM und),
        ow AS (SELECT u, sum(c) AS ow FROM ed GROUP BY u),
        nd AS (SELECT DISTINCT u AS tok FROM ed),
        p0 AS (SELECT tok, CAST(1.0 AS DOUBLE) AS score FROM nd),
        $iterCtes
        SELECT tok, round(score, 6) AS textrank FROM p$TrIters
        ORDER BY textrank DESC, tok LIMIT $TrTopK"""),
      headline = false)
  }

  val all: Seq[QueryDef] = Seq(q200NoveltyProfile, q201PmiCollocations,
    q206Textrank)
}
