package graft.operators

import graft.{QueryDef, Staging, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Statistical-LM corpus operators for the training-data tier: the
  * scoring passes a pretraining pipeline runs AFTER rule gates (q82)
  * and BEFORE mixing (q94) — n-gram language-model perplexity
  * filtering (the CCNet/KenLM shape, Wenzek et al. 2020), BM25 ranked
  * keyword retrieval (Robertson/Spärck Jones, the lexical leg a RAG
  * fusion pipeline pairs with q30's dense leg), and exact-substring
  * span dedup (Lee et al. 2022's ExactSubstr, approximated with
  * fixed-length token windows). All public-knowledge designs.
  *
  * Shared scale theme (same as MixOps): every corpus-global model
  * built here — the bigram count table, the document-frequency table —
  * is vocabulary-sized, orders of magnitude smaller than the corpus,
  * so it broadcasts; the corpus side stays in narrow explode/agg
  * stages whose only shuffle is keyed on (doc_id) or (span hash),
  * never a corpus self-join.
  */
object LmOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.loadParallel(s, dir, "documents")

  /** (doc_id, token array) — materialized so the downstream bigram
    * transform doesn't re-run the regex split per element_at (the
    * project-collapse inlining hazard measured in DedupOps.shingled).
    *
    * Measured (r9): an exchange barrier instead of the checkpoint does
    * NOT get ReuseExchange'd across this table's consumers — each
    * consumer's column pruning rewrites the subtree below the
    * repartition, the canonical plans diverge, and q96/q108 end up
    * scanning + splitting once PER MODEL TABLE (three exchanges in
    * q96's plan, zero reused). The checkpoint stays. */
  private[graft] def tokenizedOf(d: DataFrame): DataFrame =
    Staging.materialize(d.select(col("doc_id"),
      split(lower(trim(col("text"))), "\\s+").as("w")), "lm_tok")

  private def tokenized(s: SparkSession, dir: String): DataFrame =
    tokenizedOf(docs(s, dir))

  private val tokSqlCte =
    """tok AS (SELECT doc_id,
      |    regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents)""".stripMargin

  // ---------------------------------------------------------------
  // q96: n-gram LM perplexity filtering (CCNet shape)
  // ---------------------------------------------------------------

  private val Alpha = 0.1 // add-alpha smoothing mass per continuation

  /** Per-document bigram negative log-likelihood under an add-alpha
    * bigram model trained on the corpus itself: CCNet trains KenLM on
    * a trusted corpus and drops the worst-perplexity tail; the operator
    * shape — train counts once, broadcast the model, score every doc in
    * one narrow pass — is identical, with the trusted corpus standing
    * in for itself on the synthetic data.
    *
    * P(w2|w1) = (c(w1 w2) + α) / (c(w1·) + α·V), summed as
    * -ln P over a doc's bigrams, averaged per bigram. Docs shorter than
    * two tokens have no bigram and score null (kept by convention).
    *
    * Scale: c(w1 w2) and c(w1·) are groupBy counts whose result is
    * VOCABULARY-sized (Heaps' law: ~10⁷-10⁸ rows at 100 TB; the
    * `trainLm(ref, topV)` overload applies KenLM's top-V + <unk>
    * cutoff to hard-bound them) — they broadcast,
    * while the corpus side is one explode + one broadcast hash join +
    * one groupBy(doc_id) whose shuffle carries only (doc_id, nll)
    * partials. The corpus never self-joins, and the model-build pass
    * shuffles (w1, w2) pairs once with map-side partial aggregation. */
  private def bigramsOf(d: DataFrame): DataFrame =
    bigramsDirect(d)

  /** (doc_id, w1, w2) bigram rows from an already-tokenized frame —
    * the form Curation.run uses to share ONE tokenization pass across
    * its LM stages. */
  private[graft] def bigramsOfTokens(tok: DataFrame): DataFrame =
    tok.filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(w) - 1),
          |  i -> struct(element_at(w, i) as w1, element_at(w, i + 1) as w2))""".stripMargin)).as("bg"))
      .select(col("doc_id"), col("bg.w1"), col("bg.w2"))

  /** (doc_id, w1, w2) in ONE codegen stage straight from raw text —
    * for consumers whose token arrays have no second reader, where the
    * tokenizedOf checkpoint is a pure serial barrier (a full extra job
    * + a token-array materialization). The r9 inlining hazard (split()
    * re-evaluated per element_at once CollapseProject merges the
    * projections) is avoided structurally: split appears ONLY as a
    * top-level argument (slice/size), never inside the lambda, so
    * whole-stage codegen's subexpression elimination evaluates it once
    * per row; zip_with pairs adjacent tokens from the two slices.
    * Docs with <2 tokens yield an empty array and vanish at the
    * explode — the same rows the old size(w)>=2 filter dropped. */
  private[graft] def bigramsDirect(d: DataFrame,
      extra: Seq[String] = Nil): DataFrame = {
    val w = split(lower(trim(col("text"))), "\\s+")
    val n1 = greatest(size(w) - 1, lit(0))
    val keep = col("doc_id") +: extra.map(col)
    d.select(keep :+ explode(zip_with(
        slice(w, lit(1), n1), slice(w, lit(2), n1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"): _*)
      .select(keep :+ col("bg.w1") :+ col("bg.w2"): _*)
  }

  /** A trained bigram model: the three broadcastable count frames,
    * each materialized so repeated scoring (every micro-batch of a
    * stream, every stage of a pipeline) reuses them instead of
    * re-scanning the reference corpus. `vocab` is set by the top-V
    * pruned trainer: scored text is OOV-rewritten against it so
    * unknown words hit the model's `<unk>` rows. */
  final case class LmModel(bgCounts: DataFrame, ctxCounts: DataFrame,
      vocabSize: DataFrame, vocab: Option[DataFrame] = None)

  /** Train the add-alpha bigram model once over a reference corpus. */
  def trainLm(ref: DataFrame): LmModel =
    trainLmFrom(Staging.materialize(bigramsOf(ref), "lm_ref_bigrams"), vocab = None)

  /** The sentinel OOV words collapse to under the top-V prune. */
  val UnkToken = "<unk>"

  /** Train with KenLM's vocabulary cutoff: only the `topV` most
    * frequent words (by bigram-position occurrences, ties broken
    * lexicographically) keep their identity; every other word is
    * rewritten to [[UnkToken]] BEFORE counting, so OOV mass
    * accumulates on real `<unk>` count rows and flows through the
    * same α-floor at scoring time. This puts a HARD bound on the
    * model frames (≤ topV+1 contexts) — the knob that keeps them
    * broadcastable when the raw vocabulary hits 10⁸ words at 100 TB.
    * [[avgNllWith]] rewrites the SCORED text's OOV words to `<unk>`
    * too (the model carries its vocabulary), matching KenLM's
    * query-time mapping. Corpus text that literally contains
    * "<unk>" merges with the OOV class, as in KenLM. */
  def trainLm(ref: DataFrame, topV: Int): LmModel = {
    val bigrams = Staging.materialize(bigramsOf(ref), "lm_ref_bigrams")
    val vocab = Staging.materialize(
      bigrams.select(explode(array(col("w1"), col("w2"))).as("wd"))
        .groupBy(col("wd")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("wd"))
        .limit(topV)
        .select(col("wd")), "lm_vocab")
    trainLmFrom(Staging.materialize(rewriteOov(bigrams, vocab), "lm_ref_pruned"),
      vocab = Some(vocab))
  }

  private def trainLmFrom(bigrams: DataFrame,
      vocab: Option[DataFrame]): LmModel =
    LmModel(
      Staging.materialize(bigrams.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c2")), "lm_c2"),
      Staging.materialize(bigrams.groupBy(col("w1"))
        .agg(count(lit(1)).as("c1")), "lm_c1"),
      Staging.materialize(bigrams.agg(countDistinct(col("w2")).as("v")), "lm_v"),
      vocab)

  /** OOV words → [[UnkToken]], both bigram positions: two broadcast
    * membership joins against the (driver-bounded) vocab frame — a
    * narrow rewrite, the corpus never shuffles. */
  private def rewriteOov(bigrams: DataFrame, vocab: DataFrame): DataFrame =
    bigrams
      .join(broadcast(vocab.select(col("wd").as("w1"), lit(true).as("k1"))),
        Seq("w1"), "left_outer")
      .join(broadcast(vocab.select(col("wd").as("w2"), lit(true).as("k2"))),
        Seq("w2"), "left_outer")
      .select(col("doc_id"),
        when(col("k1"), col("w1")).otherwise(lit(UnkToken)).as("w1"),
        when(col("k2"), col("w2")).otherwise(lit(UnkToken)).as("w2"))

  /** Score bigram rows against trained model counts. `strict = true`
    * inner-joins (every bigram known — the self-trained q96 case);
    * `strict = false` left-joins with the α-smoothed OOV floor (the
    * against-reference case). */
  private def scoreNll(bigrams: DataFrame, bgCounts: DataFrame,
      ctxCounts: DataFrame, vocabSize: DataFrame, strict: Boolean): DataFrame = {
    val how = if (strict) "inner" else "left_outer"
    bigrams
      .join(broadcast(bgCounts), Seq("w1", "w2"), how)
      .join(broadcast(ctxCounts), Seq("w1"), how)
      .crossJoin(broadcast(vocabSize))
      .select(col("doc_id"),
        (-log((coalesce(col("c2"), lit(0L)) + Alpha) /
          (coalesce(col("c1"), lit(0L)) + col("v") * Alpha))).as("nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("nll")), 6).as("avg_nll"))
  }

  /** Per-doc (doc_id, n_bigrams, avg_nll) over any (doc_id, text)
    * frame, model trained on the frame itself — the library form
    * `Curation.run`'s perplexity gate calls; q96 is its oracle-checked
    * table form. Docs with fewer than two tokens have no bigram and
    * are absent from the output. */
  def avgNllOf(d: DataFrame): DataFrame =
    // single-reader tokens: fuse scan→split→explode into the bigram
    // checkpoint's one job (bigramsDirect) instead of paying the
    // tokenizedOf checkpoint as a serial barrier first
    avgNllFromBigrams(Staging.materialize(bigramsDirect(d), "lm_bigrams"))

  private[graft] def avgNllOfTokens(tok: DataFrame): DataFrame =
    avgNllFromBigrams(Staging.materialize(bigramsOfTokens(tok), "lm_bigrams"))

  private def avgNllFromBigrams(bigrams: DataFrame): DataFrame = {
    // q108's vocab-side composition applied to the add-alpha model
    // (guide §2.3/§2.4 — fewer corpus passes): the corpus-sized bigram
    // frame is aggregated ONCE to the (w1, w2) type table; c1 = Σ_w2 c2
    // and V = |distinct w2| are the SAME integers read off that
    // vocab-sized table instead of two more corpus-wide aggregation
    // scans (stage-attributed at sf0.1: the c1/v scans were ~9 s of
    // q96's 18 s task-time). The per-TYPE nll is then composed on the
    // model side and probed with ONE broadcast join — identical
    // doubles row-for-row (same expression over the same counts,
    // evaluated per bigram type instead of per token), oracle
    // unchanged.
    val c2t = Staging.materialize(bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2")), "lm_c2t")
    val c1t = c2t.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val vt = c2t.agg(countDistinct(col("w2")).as("v"))
    val scored = c2t
      .join(broadcast(c1t), Seq("w1"))
      .crossJoin(broadcast(vt))
      .select(col("w1"), col("w2"),
        (-log((col("c2") + Alpha) / (col("c1") + col("v") * Alpha)))
          .as("nll"))
    bigrams
      .join(broadcast(scored), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("nll")), 6).as("avg_nll"))
  }

  /** Score `d` against a pre-trained model — the incremental-ingest
    * form: [[trainLm]] once offline, then score each micro-batch in
    * foreachBatch (see EventStreamsSpec) without re-scanning the
    * reference corpus. Bigrams and contexts unseen in the reference
    * back off to the α-smoothed OOV floor, so out-of-domain text
    * scores high instead of dropping out. */
  def avgNllWith(d: DataFrame, m: LmModel): DataFrame = {
    val raw = bigramsOf(d)
    val bg = m.vocab.map(v => rewriteOov(raw, v)).getOrElse(raw)
    scoreNll(bg, m.bgCounts, m.ctxCounts, m.vocabSize, strict = false)
  }

  /** The q96 model + per-doc score as shared oracle CTEs (ending in
    * `nll(doc_id, n_bigrams, avg_nll)`) — one copy of the smoothing
    * formula, used verbatim by q96 and q102 so the two oracles cannot
    * drift. */
  private val nllSqlCtes =
    s"""bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
       |        FROM tok, unnest(range(1, len(w))) AS t(i)
       |        WHERE len(w) >= 2),
       |      v AS (SELECT count(DISTINCT w2) AS v FROM bg),
       |      c1t AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
       |      c2t AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
       |      nll AS (SELECT bg.doc_id, count(*) AS n_bigrams,
       |          round(avg(-ln((c2t.c2 + $Alpha) / (c1t.c1 + $Alpha * v.v))), 6) AS avg_nll
       |        FROM bg JOIN c2t ON bg.w1 = c2t.w1 AND bg.w2 = c2t.w2
       |          JOIN c1t ON bg.w1 = c1t.w1, v
       |        GROUP BY bg.doc_id)""".stripMargin

  val q96LmPerplexity: QueryDef = QueryDef(
    "q96_lm_perplexity",
    (s, dir) => avgNllOf(docs(s, dir)).orderBy(col("doc_id")),
    Some(s"""WITH $tokSqlCte,
      $nllSqlCtes
      SELECT doc_id, n_bigrams, avg_nll FROM nll ORDER BY doc_id"""),
    headline = true)

  // ---------------------------------------------------------------
  // q108: interpolated Kneser-Ney perplexity
  // ---------------------------------------------------------------

  private val KnD = 0.75 // absolute discount (Chen & Goodman's fixed-D form)

  /** Per-document perplexity under an INTERPOLATED KNESER-NEY bigram
    * model (Kneser & Ney 1995; Chen & Goodman 1999) — the smoothing
    * KenLM actually ships, where q96's add-alpha is the teaching
    * baseline:
    *
    *   P(w2|w1) = (max(c(w1 w2) − D, 0) + D·N1+(w1·)·Pcont(w2)) / c(w1·)
    *   Pcont(w2) = N1+(·w2) / N1+(··)
    *
    * N1+(w1·) = distinct continuation types of w1, N1+(·w2) = distinct
    * context types of w2, N1+(··) = distinct bigram types. Trained on
    * the corpus itself (q96's convention) every scored bigram is known,
    * so the join is strict and no OOV floor is needed; the lower-order
    * distribution is the continuation-count unigram — KN's defining
    * idea ("how many contexts does this word complete?"), not raw
    * frequency.
    *
    * Scale: ONE corpus-side broadcast join. The whole KN score
    * composes on the vocabulary side first — c1 = Σc2 and N1+fwd come
    * from a single groupBy over the c2 TABLE (never a second corpus
    * aggregation), N1+bwd and the 1-row total likewise, and the
    * per-TYPE nll is computed once on that vocab-sized frame — so the
    * corpus stream pays one explode + one broadcast-hash probe +
    * groupBy(doc_id), instead of r10's four probes and a second
    * corpus-wide count. Identical doubles row-for-row (same expression
    * over the same inputs, evaluated per bigram type instead of per
    * token), so the oracle is unchanged. The `trainLm(ref, topV)`
    * vocabulary cutoff composes unchanged. */
  val q108KnPerplexity: QueryDef = QueryDef(
    "q108_kn_perplexity",
    (s, dir) => {
      val bigrams = Staging.materialize(bigramsOf(docs(s, dir)), "kn_bigrams")
      val c2t = Staging.materialize(bigrams.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c2")), "kn_c2")
      // c(w1·) = Σ_w2 c(w1 w2): the SAME integer as counting the
      // corpus stream, computed from the vocab-sized table
      val fw = c2t.groupBy(col("w1"))
        .agg(count(lit(1)).as("nf"), sum(col("c2")).as("c1"))
      val n1b = c2t.groupBy(col("w2")).agg(count(lit(1)).as("nb"))
      val np = c2t.agg(count(lit(1)).as("npairs"))
      val scored = c2t
        .join(broadcast(fw), Seq("w1"))
        .join(broadcast(n1b), Seq("w2"))
        .crossJoin(broadcast(np))
        .select(col("w1"), col("w2"),
          (-log((greatest(col("c2") - KnD, lit(0.0)) +
            lit(KnD) * col("nf") * (col("nb") / col("npairs"))) / col("c1")))
            .as("nll"))
      bigrams
        .join(broadcast(scored), Seq("w1", "w2"))
        .select(col("doc_id"), col("nll"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(col("nll")), 6).as("avg_nll"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $tokSqlCte,
      bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
        FROM tok, unnest(range(1, len(w))) AS t(i) WHERE len(w) >= 2),
      c2t AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
      c1t AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
      n1f AS (SELECT w1, count(*) AS nf FROM c2t GROUP BY w1),
      n1b AS (SELECT w2, count(*) AS nb FROM c2t GROUP BY w2),
      np AS (SELECT count(*) AS npairs FROM c2t)
      SELECT bg.doc_id, count(*) AS n_bigrams,
        round(avg(-ln((greatest(c2t.c2 - $KnD, 0.0) + $KnD * n1f.nf * (n1b.nb / np.npairs)) / c1t.c1)), 6) AS avg_nll
      FROM bg JOIN c2t ON bg.w1 = c2t.w1 AND bg.w2 = c2t.w2
        JOIN c1t ON bg.w1 = c1t.w1
        JOIN n1f ON bg.w1 = n1f.w1
        JOIN n1b ON bg.w2 = n1b.w2, np
      GROUP BY bg.doc_id ORDER BY bg.doc_id"""),
    headline = true)

  // ---------------------------------------------------------------
  // q97: BM25 ranked retrieval
  // ---------------------------------------------------------------

  private val K1 = 1.2
  private val B = 0.75
  private val QueryTerms = Seq("spark", "vector", "stream")

  /** BM25 over the documents table for a fixed query — the scored
    * upgrade of q44's boolean keyword hits, and the lexical leg of an
    * RRF fusion (q32) at scale:
    *
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))
    *   idf(t)   = ln(1 + (N - df + 0.5)/(df + 0.5))
    *
    * Scale: N/avgdl are one tiny global aggregate; df is one row per
    * query term (broadcast); tf is a groupBy(doc_id, term) over the
    * term-filtered explode — the filter cuts the exploded stream to
    * query-term hits BEFORE any shuffle, so the shuffle volume is
    * hits, not tokens. An inverted-index layout (bucketBy(term))
    * would serve interactive QPS; this is the batch-scoring shape. */
  private val bm25SqlCtes =
    s"""stats AS (SELECT count(*) AS n_docs, avg(len(w)) AS avgdl FROM tok),
       |      hits AS (SELECT doc_id, len(w) AS dl, tok
       |        FROM (SELECT doc_id, w, unnest(w) AS tok FROM tok) x
       |        WHERE tok IN (${QueryTerms.map(t => s"'$t'").mkString(", ")})),
       |      tf AS (SELECT doc_id, dl, tok, count(*) AS tf FROM hits GROUP BY doc_id, dl, tok),
       |      df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM hits GROUP BY tok),
       |      lex AS (SELECT doc_id, round(sum(s), 6) AS bm25, count(*) AS n_terms FROM (
       |        SELECT tf.doc_id,
       |          ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5)) *
       |            (tf.tf * ($K1 + 1)) /
       |            (tf.tf + $K1 * (1.0 - $B + $B * tf.dl / stats.avgdl)) AS s
       |        FROM tf JOIN df ON tf.tok = df.tok, stats) x
       |      GROUP BY doc_id)""".stripMargin

  /** (doc_id, bm25, n_terms) for every doc hitting >= 1 query term —
    * shared by q97 (the ranked table form) and q99 (the lexical leg). */
  private def bm25Scores(toks: DataFrame): DataFrame = {
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      avg(size(col("w"))).as("avgdl"))
    val hits = toks
      .select(col("doc_id"), size(col("w")).as("dl"), explode(col("w")).as("tok"))
      .filter(col("tok").isin(QueryTerms: _*))
    val tf = hits.groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val df_ = hits.groupBy(col("tok"))
      .agg(countDistinct(col("doc_id")).as("df"))
    tf.join(broadcast(df_), Seq("tok"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        // operand order kept textually identical to the oracle SQL:
        // K1*(1 - B + B*dl/avgdl) — a different association could
        // diverge by an ulp and flip a 6-decimal rounding boundary
        (log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (K1 + 1)) /
          (col("tf") + lit(K1) * (lit(1.0) - B + lit(B) * col("dl") / col("avgdl")))).as("s"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("s")), 6).as("bm25"), count(lit(1)).as("n_terms"))
  }

  val q97Bm25: QueryDef = QueryDef(
    "q97_bm25",
    (s, dir) =>
      bm25Scores(tokenized(s, dir))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20),
    Some(s"""WITH $tokSqlCte,
      $bm25SqlCtes
      SELECT doc_id, bm25, n_terms FROM lex
      ORDER BY bm25 DESC, doc_id LIMIT 20"""))

  // ---------------------------------------------------------------
  // q102: CCNet head/middle/tail perplexity buckets
  // ---------------------------------------------------------------

  /** CCNet's published corpus partitioning (Wenzek et al. 2020): within
    * each language, split documents into perplexity terciles — head
    * (lowest avg_nll, most fluent), middle, tail — so downstream runs
    * can train on head+middle or weight the buckets. Cut points are
    * exact interpolated terciles of q96's per-doc score, rounded like
    * every computed aggregate so both engines compare against the same
    * cuts.
    *
    * Scale: the cut-point table is two doubles per language — a
    * broadcast — so bucketing is one narrow comparison pass; no
    * per-language global sort (the percent_rank formulation would
    * shuffle the corpus by a skewed lang key). Computing exact
    * percentiles per lang is one aggregate whose shuffle carries
    * (lang, nll) pairs; at 100 TB swap in approx_percentile with a
    * fixed error budget — the operator shape is unchanged.
    *
    * Accepted cross-engine risk (the q97 operand-order convention):
    * the oracle pairs Spark `percentile` with DuckDB `quantile_cont`,
    * which share the same linear-interpolation definition but not a
    * bit-for-bit arithmetic guarantee — a last-ulp difference at an
    * exact x.xxxxxx5 boundary could flip a rounded cut between
    * engines. Green on the testdata; a deterministic rank-based cut
    * shared by both engines is the escape hatch if it ever flips. */
  val q102CcnetBuckets: QueryDef = QueryDef(
    "q102_ccnet_buckets",
    (s, dir) => {
      val d = docs(s, dir)
      // materialized: `scored` feeds BOTH the tercile-cut aggregate and
      // the final bucket join — unpinned, the whole q96 probe+agg
      // subtree would run once per consumer (narrow (doc_id, lang,
      // nll) rows, ~docs-sized, checkpoint-cheap)
      val scored = Staging.materialize(avgNllOf(d)
        .join(d.select(col("doc_id"), col("lang")), "doc_id"), "ccnet_scored")
      val cuts = scored.groupBy(col("lang")).agg(
        round(expr("percentile(avg_nll, 1.0D/3)"), 6).as("c1"),
        round(expr("percentile(avg_nll, 2.0D/3)"), 6).as("c2"))
      scored.join(broadcast(cuts), "lang")
        .select(col("doc_id"), col("lang"), col("avg_nll"),
          when(col("avg_nll") <= col("c1"), "head")
            .when(col("avg_nll") <= col("c2"), "middle")
            .otherwise("tail").as("bucket"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $tokSqlCte,
      $nllSqlCtes,
      scored AS (SELECT nll.doc_id, d.lang, nll.avg_nll
        FROM nll JOIN documents d ON nll.doc_id = d.doc_id),
      cuts AS (SELECT lang, round(quantile_cont(avg_nll, 1.0/3), 6) AS c1,
          round(quantile_cont(avg_nll, 2.0/3), 6) AS c2
        FROM scored GROUP BY lang)
      SELECT s.doc_id, s.lang, s.avg_nll,
        CASE WHEN s.avg_nll <= c.c1 THEN 'head'
             WHEN s.avg_nll <= c.c2 THEN 'middle'
             ELSE 'tail' END AS bucket
      FROM scored s JOIN cuts c ON s.lang = c.lang
      ORDER BY s.doc_id"""))

  // ---------------------------------------------------------------
  // q101: DSIR importance-weight data selection
  // ---------------------------------------------------------------

  private val DsirBuckets = 1024 // hashed-feature space (divides 16⁴)
  private val DsirAlpha = 0.1    // add-alpha smoothing per bucket

  /** Portable hashed-feature bucket in [0, DsirBuckets) — q93's shared
    * positional-hex derivation (MixOps.bucketExpr), modulo the DSIR
    * feature-space size. */
  private def featBucket(hashSql: String): String =
    MixOps.bucketExpr(hashSql, DsirBuckets)

  /** DSIR (Xie et al. 2023, public): select raw-corpus documents whose
    * hashed n-gram distribution looks like the target domain. Every
    * bigram hashes to one of [[DsirBuckets]] buckets; per-bucket
    * probabilities are estimated separately on the target slice
    * (stand-in: doc_id % 10 == 3, as q92's benchmark stand-in) and the
    * raw rest; a raw doc's importance weight is its mean
    * ln(p_target/p_raw) over its bigram buckets. High scorers read
    * like the target domain and get sampled in.
    *
    * Scale: both estimated models are FIXED-size (B buckets — DSIR's
    * reason for hashing features) however large the corpus, so they
    * broadcast trivially; scoring is the same narrow explode +
    * broadcast join + groupBy(doc_id) shape as q96, and the hashed
    * bucket id (an int) is what shuffles, never the bigram text. */
  /** (doc_id, hashed bigram bucket) rows from a tokenized frame.
    * `tag = None` skips the staging checkpoint — the single-consumer
    * form (the target leg is aggregated once, so a checkpoint would be
    * pure write cost; the raw leg IS reused — model + probe — and
    * keeps its checkpoint). */
  private def dsirBucketsTokens(tok: DataFrame,
      tag: Option[String]): DataFrame = {
    val rows = tok
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(w) - 1),
          |  i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1)))""".stripMargin)).as("bg"))
      .select(col("doc_id"),
        expr(featBucket("sha2(bg, 256)")).cast("long").as("b"))
    tag.fold(rows)(t => Staging.materialize(rows, t))
  }

  /** Per-raw-doc DSIR weights (doc_id, n_bigrams, avg_logratio) for an
    * arbitrary target frame — the library form `Curation.run`'s
    * dsirTarget stage calls; q101 is its oracle-checked table form.
    * Docs with fewer than two tokens are unscored (absent). */
  def dsirWeights(raw: DataFrame, target: DataFrame): DataFrame =
    dsirWeightsTokens(tokenizedOf(raw), tokenizedOf(target))

  private[graft] def dsirWeightsTokens(rawTok: DataFrame,
      tgtTok: DataFrame): DataFrame = {
    val rb = dsirBucketsTokens(rawTok, Some("dsir_raw"))
    val tb = dsirBucketsTokens(tgtTok, None)
    // Both models are ≤ B = DsirBuckets rows, so everything past the
    // two bucket-count aggregations composes on the model side (guide
    // §2.3): the totals are Σ of the per-bucket counts (the SAME
    // integers as counting the corpus streams — saves one full pass
    // over each leg), and the per-BUCKET log-ratio is computed once on
    // the ≤B-row frame, leaving the corpus probe a single broadcast
    // join. Every rb bucket is in rCounts by construction, so the
    // left-join semantics against tCounts are preserved verbatim.
    // materialized: each count frame (≤B rows) feeds two consumers
    // (its total and the per-bucket score) — without the pin each
    // consumer would re-run the corpus-side aggregation scan
    val tCounts = Staging.materialize(
      tb.groupBy(col("b")).agg(count(lit(1)).as("ct")), "dsir_tc")
    val rCounts = Staging.materialize(
      rb.groupBy(col("b")).agg(count(lit(1)).as("cr")), "dsir_rc")
    val totals = tCounts.agg(coalesce(sum(col("ct")), lit(0L)).as("nt"))
      .crossJoin(rCounts.agg(coalesce(sum(col("cr")), lit(0L)).as("nr")))
    val scoredBucket = rCounts
      .join(tCounts, Seq("b"), "left_outer")
      .crossJoin(totals)
      .select(col("b"),
        (log((coalesce(col("ct"), lit(0L)) + DsirAlpha) /
            (col("nt") + DsirBuckets * DsirAlpha)) -
          log((col("cr") + DsirAlpha) /
            (col("nr") + DsirBuckets * DsirAlpha))).as("lr"))
    rb.join(broadcast(scoredBucket), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("lr")), 6).as("avg_logratio"))
  }

  val q101Dsir: QueryDef = QueryDef(
    "q101_dsir",
    (s, dir) => {
      // one tokenize pass + one checkpoint over ALL docs, the two legs
      // filtered off the shared frame — tokenizing each filtered leg
      // separately scanned the parquet twice and checkpointed twice
      // for the same total split work
      val tokAll = tokenizedOf(docs(s, dir))
      dsirWeightsTokens(tokAll.filter(col("doc_id") % 10 =!= 3),
          tokAll.filter(col("doc_id") % 10 === 3))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $tokSqlCte,
      bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
        FROM tok, unnest(range(1, len(w))) AS t(i)
        WHERE len(w) >= 2),
      bk AS (SELECT doc_id, CAST(${featBucket("sha256(bg)")} AS BIGINT) AS b FROM bg),
      tc AS (SELECT b, count(*) AS ct FROM bk WHERE doc_id % 10 = 3 GROUP BY b),
      rc AS (SELECT b, count(*) AS cr FROM bk WHERE doc_id % 10 <> 3 GROUP BY b),
      tot AS (SELECT
          sum(CASE WHEN doc_id % 10 = 3 THEN 1 ELSE 0 END) AS nt,
          sum(CASE WHEN doc_id % 10 <> 3 THEN 1 ELSE 0 END) AS nr FROM bk)
      SELECT bk.doc_id, count(*) AS n_bigrams,
        round(avg(
          ln((coalesce(tc.ct, 0) + $DsirAlpha) / (tot.nt + $DsirBuckets * $DsirAlpha)) -
          ln((rc.cr + $DsirAlpha) / (tot.nr + $DsirBuckets * $DsirAlpha))), 6) AS avg_logratio
      FROM bk LEFT JOIN tc ON bk.b = tc.b
        JOIN rc ON bk.b = rc.b, tot
      WHERE bk.doc_id % 10 <> 3
      GROUP BY bk.doc_id ORDER BY bk.doc_id"""),
    headline = true)

  // ---------------------------------------------------------------
  // q99: hybrid lexical + dense retrieval (RRF fusion)
  // ---------------------------------------------------------------

  private val RrfK = 60
  private val TopPerLeg = 20
  private val QueryText = QueryTerms.mkString(" ")

  /** q58's deterministic mock embedder over a 16-hex-char digest column
    * named by `h`: element k = (byte k of the digest)/255 - 0.5. */
  private def embedSql(h: String): String =
    s"""transform(sequence(0, 7), k ->
       |  (
       |    (instr('0123456789abcdef', substr($h, k * 2 + 1, 1)) - 1) * 16 +
       |    (instr('0123456789abcdef', substr($h, k * 2 + 2, 1)) - 1)
       |  ) / 255.0D - 0.5D)""".stripMargin

  private def embedDuck(h: String): String =
    s"""[((instr('0123456789abcdef', substr($h, k * 2 + 1, 1)) - 1) * 16 +
       |  (instr('0123456789abcdef', substr($h, k * 2 + 2, 1)) - 1)) / 255.0 - 0.5
       | for k in range(0, 8)]""".stripMargin

  /** Hybrid retrieval: the BM25 lexical leg (q97) and a dense cosine
    * leg (q58's mock embedder, query vector = the embedded query
    * string) fused by reciprocal-rank fusion — the standard hybrid
    * search a production RAG stack runs, with RRF (Cormack et al.)
    * exactly as q32 fuses dense metrics.
    *
    * Scale: each leg independently reduces the corpus to its top-20
    * via TakeOrdered (never a global sort); fusion then runs on
    * 2 × 20 rows on the driver-side-sized tail. The dense leg's query
    * vector is a constant-folded literal; the lexical leg's model
    * tables broadcast as in q97. The two legs share no shuffle. */
  val q99HybridRrf: QueryDef = QueryDef(
    "q99_hybrid_rrf",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val lex = bm25Scores(tokenized(s, dir))
        .orderBy(col("bm25").desc, col("doc_id")).limit(TopPerLeg)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("bm25").desc, col("doc_id"))))
        .select(col("doc_id"), col("rank"))
      // raw-double dot product: both engines run the same sequential
      // fold (q58's precedent), so leg ranks agree bit-for-bit
      val dense = docs(s, dir)
        .select(col("doc_id"), expr("substr(sha2(text, 256), 1, 16)").as("h"))
        .withColumn("emb", expr(embedSql("h")))
        .withColumn("qv", expr(embedSql(s"substr(sha2('$QueryText', 256), 1, 16)")))
        .select(col("doc_id"),
          expr("aggregate(zip_with(emb, qv, (x, y) -> x * y), 0D, (a, x) -> a + x)").as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(TopPerLeg)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))))
        .select(col("doc_id"), col("rank"))
      lex.unionByName(dense)
        .groupBy(col("doc_id"))
        .agg(round(sum(lit(1.0) / (col("rank") + RrfK)), 6).as("rrf"),
          count(lit(1)).as("n_legs"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
    },
    Some(s"""WITH $tokSqlCte,
      $bm25SqlCtes,
      emb AS (SELECT doc_id, ${embedDuck("h")} AS emb
        FROM (SELECT doc_id, substr(sha256(text), 1, 16) AS h FROM documents) x),
      q AS (SELECT ${embedDuck(s"substr(sha256('$QueryText'), 1, 16)")} AS qv),
      dense AS (SELECT doc_id,
          list_sum(list_transform(list_zip(emb, qv), x -> x[1] * x[2])) AS score
        FROM emb, q),
      lexr AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank FROM lex),
      denser AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM dense),
      ranked AS (SELECT doc_id, rank FROM lexr WHERE rank <= $TopPerLeg
        UNION ALL SELECT doc_id, rank FROM denser WHERE rank <= $TopPerLeg)
      SELECT doc_id, round(sum(1.0/($RrfK + rank)), 6) AS rrf, count(*) AS n_legs
      FROM ranked GROUP BY doc_id ORDER BY rrf DESC, doc_id LIMIT 10"""))

  // ---------------------------------------------------------------
  // q98: exact-substring span dedup (ExactSubstr shape)
  // ---------------------------------------------------------------

  private val SpanLen = 10 // tokens per window

  /** Cross-document duplicated spans: for every [[SpanLen]]-token
    * sliding window, count the windows that also occur in some OTHER
    * document — the fixed-window approximation of Lee et al. 2022's
    * suffix-array ExactSubstr dedup (which removes any ≥50-token span
    * appearing twice). Output is per-doc: total spans, spans shared
    * with another doc, and the dup ratio a filter would gate on.
    *
    * Scale: spans are hashed to 64 bits (first 16 hex chars of sha256)
    * so the shuffle key is fixed-width, not 10 tokens of text; the
    * aggregate over span hashes is vocabulary-shaped (distinct spans ≪
    * total spans at 100 TB since duplication is why we're here) with
    * map-side partial aggregation; the join back to spans is equi on
    * the hash. No corpus self-join, no N². Distinct-doc counting uses
    * the exact two-level count only per span hash — bounded fan-in. */
  /** Every [[SpanLen]]-token window as (doc_id, h) — or (doc_id, i, h)
    * with the window's start position when `withPos`. BOTH forms end
    * in one h-keyed exchange (`repartition(h)`) and are materialized
    * by their callers (the r15 double-scan fix: the executed x100 plan
    * showed ReuseExchange never deduplicating the probe side and the
    * shared-hash aggregate, so the tokenize+sha2 Generate ran twice).
    * HashPartitioning(h) is the partitioning the shared-hash aggregate
    * needs anyway, and the checkpoint preserves it, so after
    * materialization neither consumer pays a further h-exchange —
    * the SHUFFLE_HASH-hinted join-back is sort-free on both sides.
    * q98/q106 take the position-free form (materializing `i` for
    * consumers that drop it pays its width on every scan — the r7
    * bench regression); only q107, which merges on position, asks
    * for it. */
  private def spanWindows(s: SparkSession, dir: String,
      withPos: Boolean = false): DataFrame =
    spanWindowsOf(tokensRaw(s, dir), withPos)

  /** Unmaterialized (doc_id, w) for the span family: the explode
    * consumer sits behind a Generate boundary, so Catalyst keeps the
    * split projection a separate once-per-row Project (no per-window
    * recompute) and the lm_tok checkpoint would be pure overhead
    * here — q96-style consumers that index tokens per element keep
    * using [[tokenizedOf]]. */
  private def tokensRaw(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      split(lower(trim(col("text"))), "\\s+").as("w"))

  private def spanWindowsOf(tok: DataFrame,
      withPos: Boolean): DataFrame =
    // Span identity is xxhash64 over the window's token ARRAY: h is
    // internal to every consumer (q98/q106 output counts, q107
    // positions, q150 rebuilt text — no h ever surfaces), so the only
    // requirement is 64-bit collision resistance — the SAME class as
    // the previous substr(sha2,1,16) hex form, which also kept 64
    // bits. What changes is cost, attributed at heaps-x100 (SCALE.md
    // Round 16): the Generate computed 23M sha256es of ~70-byte
    // concat_ws strings and shuffled 16-char keys; xxhash64 is
    // codegen'd, hashes the sliced array directly (no concat
    // allocation, element boundaries preserved — tokens are
    // space-free post-split), and ships an 8-byte long. The oracles
    // keep DuckDB sha256 — outputs are hash-free, so they agree
    // unless the two functions collide differently (~n²/2⁶⁴).
    if (withPos)
      tok
        .filter(size(col("w")) >= SpanLen)
        .select(col("doc_id"), explode(expr(
          s"""transform(sequence(1, size(w) - ${SpanLen - 1}),
             |  i -> struct(i as i, xxhash64(slice(w, i, $SpanLen)) as h))""".stripMargin)).as("p"))
        .select(col("doc_id"), col("p.i").as("i"), col("p.h").as("h"))
        .repartition(col("h"))
    else
      tok
        .filter(size(col("w")) >= SpanLen)
        .select(col("doc_id"), explode(expr(
          s"""transform(sequence(1, size(w) - ${SpanLen - 1}),
             |  i -> xxhash64(slice(w, i, $SpanLen)))""".stripMargin)).as("h"))
        .repartition(col("h"))

  /** Window hashes appearing in >= 2 distinct documents.
    *
    * "≥ 2 distinct docs" tested as `min(doc_id) != max(doc_id)` — the
    * same predicate as count(DISTINCT doc_id) >= 2 (the oracle's
    * spelling) but as two simple partial-aggregatable mins/maxes, so
    * the planner never builds the Expand + two-level distinct
    * aggregate: map-side combine collapses each partition's copies of
    * a hash to one row before the h-shuffle. */
  private def sharedSpans(spans: DataFrame): DataFrame =
    spans.groupBy(col("h"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("h"))

  /** Per-doc span statistics (doc_id, n_spans, n_dup_spans,
    * dup_ratio) — q98's body, shared with the q106 audit rollup. */
  private def spanStats(s: SparkSession, dir: String): DataFrame = {
    // materialized ONCE: the join's probe side and the shared-hash
    // aggregate both consume the exploded span frame, and the x100
    // executed plan showed exchange reuse NOT deduplicating them —
    // the tokenize+sha2 Generate ran twice (SCALE.md Round 15). The
    // localCheckpoint keeps the h-partitioning the frame ends in, so
    // the aggregate and the join still need no further exchange. The
    // shared side is SHUFFLE_HASH-hinted: both sides are already
    // h-partitioned, so the hint turns the x100 SortMergeJoin (two
    // 26.5M-row sorts) into a sort-free hash join against the small
    // aggregated side; at bench scale AQE still upgrades it to
    // broadcast when the side is tiny.
    val spans = Staging.materialize(spanWindows(s, dir), "q98_spans")
    val shared = sharedSpans(spans).withColumn("dup", lit(1))
    spans.join(shared.hint("shuffle_hash"), Seq("h"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("dup"), lit(0))).as("n_dup_spans"))
      .withColumn("dup_ratio",
        round(col("n_dup_spans").cast("double") / col("n_spans"), 6))
  }

  /** Shared q98/q106 oracle CTEs ending in
    * `spanstats(doc_id, n_spans, n_dup_spans, dup_ratio)`. */
  private val spanSqlCtes =
    s"""spans AS (SELECT doc_id,
       |          substr(sha256(array_to_string(w[i:i+${SpanLen - 1}], ' ')), 1, 16) AS h
       |        FROM tok, unnest(range(1, len(w) - ${SpanLen - 2})) AS t(i)
       |        WHERE len(w) >= $SpanLen),
       |      shared AS (SELECT h FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
       |      spanstats AS (SELECT s.doc_id, count(*) AS n_spans,
       |          CAST(sum(CASE WHEN sh.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       |          round(sum(CASE WHEN sh.h IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS dup_ratio
       |        FROM spans s LEFT JOIN shared sh ON s.h = sh.h
       |        GROUP BY s.doc_id)""".stripMargin

  val q98DupSpans: QueryDef = QueryDef(
    "q98_dup_spans",
    (s, dir) => spanStats(s, dir).orderBy(col("doc_id")),
    Some(s"""WITH $tokSqlCte,
      $spanSqlCtes
      SELECT doc_id, n_spans, n_dup_spans, dup_ratio FROM spanstats
      ORDER BY doc_id"""),
    headline = true)

  // ---------------------------------------------------------------
  // q107: maximal duplicated spans (ExactSubstr, merged windows)
  // ---------------------------------------------------------------

  /** Maximal duplicated spans: q98's duplicated fixed windows, merged
    * into maximal contiguous regions — the actual ExactSubstr operator
    * of Lee et al. 2022, which removes any long-enough span appearing
    * twice, not individual windows. Two duplicated windows merge when
    * their coverage overlaps or touches (start gap <= [[SpanLen]]); a
    * span is the maximal merged region, reported as (doc_id,
    * start_tok, span_len, n_windows) so a removal gate (the paper uses
    * >= 50 tokens) is one filter on span_len.
    *
    * Scale: rides q98's machinery — fixed-width span hashes, the
    * vocabulary-shaped shared-hash aggregate — then merges per
    * document with lag + a running sum over (doc_id, i): one shuffle
    * keyed by doc_id over the DUPLICATED windows only (a small
    * fraction of the corpus), islands-and-gaps, fully codegen'd. */
  val q107MaxDupSpans: QueryDef = QueryDef(
    "q107_max_dup_spans",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // same double-consumption as q98 (probe + shared aggregate), same
      // fix: one materialized explode, sort-free semi join. Here BOTH
      // consumers use the full (doc_id, i, h) width, so the r7 note
      // about paying i's width for consumers that drop it doesn't apply.
      val spans = Staging.materialize(spanWindows(s, dir, withPos = true), "q107_spans")
      val dupw = spans.join(sharedSpans(spans).hint("shuffle_hash"),
        Seq("h"), "left_semi")
      val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      dupw
        .withColumn("prev", lag(col("i"), 1).over(w))
        .withColumn("brk",
          when(col("prev").isNull || col("i") - col("prev") > SpanLen, 1L)
            .otherwise(0L))
        .withColumn("island", sum(col("brk")).over(w))
        .groupBy(col("doc_id"), col("island"))
        .agg(min(col("i")).cast("long").as("start_tok"),
          (max(col("i")) - min(col("i")) + SpanLen).cast("long").as("span_len"),
          count(lit(1)).as("n_windows"))
        .select(col("doc_id"), col("start_tok"), col("span_len"), col("n_windows"))
        .orderBy(col("doc_id"), col("start_tok"))
    },
    Some(s"""WITH $tokSqlCte,
      spansi AS (SELECT doc_id, i,
          substr(sha256(array_to_string(w[i:i+${SpanLen - 1}], ' ')), 1, 16) AS h
        FROM tok, unnest(range(1, len(w) - ${SpanLen - 2})) AS t(i)
        WHERE len(w) >= $SpanLen),
      sharedi AS (SELECT h FROM spansi GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      dupw AS (SELECT s.doc_id, s.i FROM spansi s
        WHERE s.h IN (SELECT h FROM sharedi)),
      flagged AS (SELECT doc_id, i,
          CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
                 OR i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > $SpanLen
               THEN 1 ELSE 0 END AS brk
        FROM dupw),
      isl AS (SELECT doc_id, i,
          sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island
        FROM flagged)
      SELECT doc_id, min(i) AS start_tok,
        max(i) - min(i) + $SpanLen AS span_len, count(*) AS n_windows
      FROM isl GROUP BY doc_id, island
      ORDER BY doc_id, start_tok"""),
    headline = true)

  // ---------------------------------------------------------------
  // q106: per-source dedup audit rollup
  // ---------------------------------------------------------------

  /** The duplication report a curation team reads before deciding
    * thresholds: per source, how many docs are byte-exact duplicates
    * (non-canonical copies under q22's min-doc_id keep rule) and how
    * duplicated the surviving text is at span level (q98's ratio,
    * averaged; share of docs carrying any cross-doc span).
    *
    * Scale: composes two already-scale-shaped passes — the sha256
    * groupBy (shuffles one hash per doc) and the span-stat pass — then
    * one groupBy(source) over slim per-doc rows. Nothing new shuffles
    * document text. */
  val q106DedupAudit: QueryDef = QueryDef(
    "q106_dedup_audit",
    (s, dir) => {
      val d = docs(s, dir)
        .select(col("doc_id"), col("source"), sha2(col("text"), 256).as("hh"))
      val canon = d.groupBy(col("hh"))
        .agg(min(col("doc_id")).as("canonical"), count(lit(1)).as("copies"))
      d.join(canon, Seq("hh"))
        .withColumn("is_exact_dup",
          col("copies") > 1 && col("doc_id") =!= col("canonical"))
        .join(spanStats(s, dir), Seq("doc_id"), "left_outer")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_exact_dup"), 1L).otherwise(0L)).as("n_exact_dups"),
          round(avg(col("dup_ratio")), 6).as("avg_span_dup_ratio"),
          round(sum(when(col("n_dup_spans") > 0, 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 6).as("frac_docs_with_dup_span"))
        .orderBy(col("source"))
    },
    Some(s"""WITH $tokSqlCte,
      $spanSqlCtes,
      d AS (SELECT doc_id, source, sha256(text) AS hh FROM documents),
      canon AS (SELECT hh, min(doc_id) AS canonical, count(*) AS copies
        FROM d GROUP BY hh)
      SELECT d.source, count(*) AS n_docs,
        CAST(sum(CASE WHEN canon.copies > 1 AND d.doc_id <> canon.canonical
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups,
        round(avg(ss.dup_ratio), 6) AS avg_span_dup_ratio,
        round(sum(CASE WHEN ss.n_dup_spans > 0 THEN 1 ELSE 0 END)::DOUBLE
          / count(*), 6) AS frac_docs_with_dup_span
      FROM d JOIN canon ON d.hh = canon.hh
        LEFT JOIN spanstats ss ON d.doc_id = ss.doc_id
      GROUP BY d.source ORDER BY d.source"""))

  // ---------------------------------------------------------------
  // q114: per-source data card
  // ---------------------------------------------------------------

  /** The per-source "data card" (the Datasheets-for-Datasets /
    * pretraining-data-card reporting practice): one row per source
    * with the composition numbers a curation team publishes — doc and
    * token volume, exact-duplicate count (q22/q106's min-doc_id keep
    * rule), benchmark-contamination count (q92's 5-gram overlap,
    * benchmark members excluded from scoring), language spread and the
    * dominant language's share.
    *
    * Scale: composes already-scale-shaped passes — the token count is
    * a narrow projection, dedup shuffles one hash per doc, the
    * benchmark gram set broadcasts (q92), and the lang stats shuffle
    * slim (source, lang) pairs; the final rollup groups a
    * sources-sized frame. */
  val q114DataCard: QueryDef = QueryDef(
    "q114_data_card",
    (s, dir) => {
      val d = docs(s, dir)
      val base = d.select(col("doc_id"), col("source"), col("lang"),
        CorpusOps.nTokens(col("text")).as("n_tokens"),
        sha2(col("text"), 256).as("hh"))
      val canon = base.groupBy(col("hh"))
        .agg(min(col("doc_id")).as("canonical"))
      val withDup = base.join(canon, Seq("hh"))
        .withColumn("is_exact_dup", col("doc_id") =!= col("canonical"))
      // q92's contamination flag, benchmark members (doc_id%10=7) unscored
      val grams = CorpusOps.fiveGrams(s, dir)
        .select(col("doc_id"), explode(col("shingles")).as("sh"))
      val benchGrams = grams.filter(col("doc_id") % 10 === 7)
        .select(col("sh")).distinct()
      val contam = grams.filter(col("doc_id") % 10 =!= 7)
        .join(broadcast(benchGrams), Seq("sh"), "left_semi")
        .select(col("doc_id")).distinct()
        .withColumn("is_contam", lit(true))
      val flagged = withDup.join(contam, Seq("doc_id"), "left_outer")
        .withColumn("is_contam", coalesce(col("is_contam"), lit(false)))
      val langTop = base.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
            .orderBy(col("n").desc, col("lang"))))
        .filter(col("rk") === 1)
        .select(col("source"), col("lang").as("top_lang"),
          col("n").as("top_n"))
      flagged.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          round(avg(col("n_tokens")), 6).as("avg_tokens"),
          sum(when(col("is_exact_dup"), 1L).otherwise(0L)).as("n_exact_dups"),
          sum(when(col("is_contam"), 1L).otherwise(0L)).as("n_contaminated"),
          countDistinct(col("lang")).as("n_langs"))
        .join(langTop, Seq("source"))
        .withColumn("top_lang_share",
          round(col("top_n").cast("double") / col("n_docs"), 6))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          col("avg_tokens"), col("n_exact_dups"), col("n_contaminated"),
          col("n_langs"), col("top_lang"), col("top_lang_share"))
        .orderBy(col("source"))
    },
    Some("""WITH base AS (SELECT doc_id, source, lang,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) END AS n_tokens,
        sha256(text) AS hh FROM documents),
      canon AS (SELECT hh, min(doc_id) AS canonical FROM base GROUP BY hh),
      tok AS (SELECT doc_id, trim(text) AS t,
        regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
      sh AS (SELECT doc_id,
        CASE WHEN len(w) >= 5
          THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
                              for i in range(1, len(w) - 3)])
          ELSE [t] END AS shingles FROM tok),
      grams AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
      bench AS (SELECT DISTINCT sh FROM grams WHERE doc_id % 10 = 7),
      contam AS (SELECT DISTINCT c.doc_id FROM grams c
        WHERE c.doc_id % 10 <> 7 AND c.sh IN (SELECT sh FROM bench)),
      flagged AS (SELECT b.*, (b.doc_id <> canon.canonical) AS is_exact_dup,
          (contam.doc_id IS NOT NULL) AS is_contam
        FROM base b JOIN canon ON b.hh = canon.hh
        LEFT JOIN contam ON b.doc_id = contam.doc_id),
      langtop AS (SELECT source, lang AS top_lang, n AS top_n FROM (
        SELECT source, lang, count(*) AS n,
          row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, lang) AS rk
        FROM base GROUP BY source, lang) x WHERE rk = 1)
      SELECT f.source, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        round(avg(n_tokens), 6) AS avg_tokens,
        CAST(sum(CASE WHEN is_exact_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups,
        CAST(sum(CASE WHEN is_contam THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        any_value(lt.top_lang) AS top_lang,
        round(any_value(lt.top_n)::DOUBLE / count(*), 6) AS top_lang_share
      FROM flagged f JOIN langtop lt ON f.source = lt.source
      GROUP BY f.source ORDER BY f.source"""))

  // ---------------------------------------------------------------
  // q150: ExactSubstr rewrite (the removal step of Lee et al. 2022)
  // ---------------------------------------------------------------

  /** The ACTUAL text surgery of ExactSubstr dedup: q107 reports the
    * maximal duplicated spans; this removes them. Every duplicated
    * window keeps exactly its corpus-first occurrence (min
    * (doc_id, position) over the window's hash — the paper's
    * "all but one" rule); every later copy's windows merge into
    * maximal islands (q107's merge) and the covered tokens are cut,
    * the doc rebuilt from what survives. Window granularity makes
    * the cut boundary-greedy by up to [[SpanLen]]−1 tokens at each
    * edge versus the paper's exact character ranges — the standard
    * fixed-window approximation, stated here once.
    *
    * Scale: rides the q98/q107 machinery end-to-end — fixed-width
    * span hashes, shared-hash aggregate, first-occurrence = one
    * integer min per hash; the island merge shuffles ONLY non-first
    * duplicated windows keyed by doc_id; the rebuild joins a
    * per-doc spans ARRAY (islands are few and disjoint) back onto
    * the token table and filters indices in one codegen'd
    * higher-order pass — the corpus is never re-scanned and nothing
    * is all-pairs. */
  /** Library entry: the rewrite over an arbitrary (doc_id, text)
    * frame. */
  def exactSubstrRewriteOf(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = tokenizedOf(d)
    val spans = spanWindowsOf(tok, withPos = true)
    val dupw = spans.join(sharedSpans(spans), Seq("h"), "left_semi")
    val firsts = dupw.groupBy(col("h"))
      .agg(min(col("doc_id") * 1000000L + col("i")).as("fk"))
    val rem = dupw.join(firsts, Seq("h"))
      .filter(col("doc_id") * 1000000L + col("i") =!= col("fk"))
      .select(col("doc_id"), col("i"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val islands = rem
      .withColumn("prev", lag(col("i"), 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("i") - col("prev") > SpanLen, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("i")).as("s"), (max(col("i")) + SpanLen - 1).as("e"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("sps"))
    tok
      .join(islands, Seq("doc_id"), "left_outer")
      .withColumn("keep_idx", expr(
        """filter(sequence(1, size(w)), idx ->
          |  sps is null or not exists(sps, sp -> idx >= sp.s and idx <= sp.e))"""
          .stripMargin))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        (size(col("w")) - size(col("keep_idx"))).cast("long").as("tokens_removed"),
        expr("array_join(transform(keep_idx, idx -> element_at(w, idx)), ' ')")
          .as("text_rewrite"))
  }

  val q150ExactSubstrRewrite: QueryDef = QueryDef(
    "q150_exactsubstr_rewrite",
    (s, dir) => exactSubstrRewriteOf(docs(s, dir)).orderBy(col("doc_id")),
    Some(s"""WITH $tokSqlCte,
      spansi AS (SELECT doc_id, i,
          substr(sha256(array_to_string(w[i:i+${SpanLen - 1}], ' ')), 1, 16) AS h
        FROM tok, unnest(range(1, len(w) - ${SpanLen - 2})) AS t(i)
        WHERE len(w) >= $SpanLen),
      sharedi AS (SELECT h FROM spansi GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      dupw AS (SELECT s.doc_id, s.i, s.h FROM spansi s
        WHERE s.h IN (SELECT h FROM sharedi)),
      firsts AS (SELECT h, min(doc_id*1000000 + i) AS fk FROM dupw GROUP BY h),
      rem AS (SELECT d.doc_id, d.i FROM dupw d JOIN firsts f ON d.h = f.h
        WHERE d.doc_id*1000000 + d.i <> f.fk),
      flagged AS (SELECT doc_id, i,
          CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
                 OR i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > $SpanLen
               THEN 1 ELSE 0 END AS brk
        FROM rem),
      isl AS (SELECT doc_id, i,
          sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island
        FROM flagged),
      sp AS (SELECT doc_id, min(i) AS s, max(i) + ${SpanLen - 1} AS e
        FROM isl GROUP BY doc_id, island),
      toks AS (SELECT doc_id, CAST(i AS BIGINT) AS idx, w[i] AS tokv
        FROM tok, unnest(range(1, len(w) + 1)) AS u(i)),
      cov AS (SELECT t.doc_id, t.idx FROM toks t JOIN sp
        ON t.doc_id = sp.doc_id AND t.idx >= sp.s AND t.idx <= sp.e)
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        CAST(count(*) FILTER (WHERE c.idx IS NOT NULL) AS BIGINT) AS tokens_removed,
        coalesce(string_agg(t.tokv, ' ' ORDER BY t.idx) FILTER (WHERE c.idx IS NULL),
          '') AS text_rewrite
      FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.idx = c.idx
      GROUP BY t.doc_id ORDER BY t.doc_id"""))

  // ---------------------------------------------------------------
  // q162: per-source KL divergence from the corpus distribution
  // ---------------------------------------------------------------

  /** Distribution-drift audit: KL(p_source ‖ p_corpus) over unigram
    * token distributions — how far each source's language sits from
    * the corpus mixture. High-KL sources are the ones temperature
    * resampling (q115) and DoReMi-style reweighting act on, and a
    * source whose KL JUMPS between snapshots signals an upstream
    * extraction change (the q152 diff's distributional sibling).
    * Every source token appears in the corpus by construction, so
    * p_corpus > 0 wherever p_source > 0 and no smoothing is needed.
    *
    * Scale: one (source, token)-keyed count — the same shuffle class
    * as every vocab aggregate in this tier; the corpus-marginal count
    * table is vocab-sized and joins back per token, the per-source
    * totals are a sources-row broadcast, and the KL sum reduces the
    * (source × vocab) table to one row per source. Corpus scanned
    * once. */
  val q162SourceKl: QueryDef = QueryDef(
    "q162_source_kl",
    (s, dir) => {
      val toks = docs(s, dir)
        .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      val bySrc = toks.groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).cast("double").as("n_st"))
      val srcTot = bySrc.groupBy(col("source"))
        .agg(sum(col("n_st")).as("n_s"))
      val marginal = bySrc.groupBy(col("tok"))
        .agg(sum(col("n_st")).as("n_t"))
      val total = srcTot.agg(sum(col("n_s")).as("n"))
      bySrc
        .join(broadcast(srcTot), "source")
        .join(marginal, "tok")
        .crossJoin(broadcast(total))
        .select(col("source"), col("n_s"),
          ((col("n_st") / col("n_s"))
            * log((col("n_st") / col("n_s")) / (col("n_t") / col("n")))).as("term"))
        .groupBy(col("source"), col("n_s"))
        .agg(round(sum(col("term")), 6).as("kl"))
        .select(col("source"), col("n_s").cast("long").as("n_tokens"), col("kl"))
        .orderBy(col("source"))
    },
    Some("""WITH toks AS (SELECT source,
          unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
      bysrc AS (SELECT source, tok, CAST(count(*) AS DOUBLE) AS n_st
        FROM toks GROUP BY 1, 2),
      srctot AS (SELECT source, sum(n_st) AS n_s FROM bysrc GROUP BY source),
      marg AS (SELECT tok, sum(n_st) AS n_t FROM bysrc GROUP BY tok),
      tot AS (SELECT sum(n_s) AS n FROM srctot)
      SELECT b.source, CAST(st.n_s AS BIGINT) AS n_tokens,
        round(sum((b.n_st / st.n_s) * ln((b.n_st / st.n_s) / (m.n_t / tot.n))), 6) AS kl
      FROM bysrc b
      JOIN srctot st ON b.source = st.source
      JOIN marg m ON b.tok = m.tok
      CROSS JOIN tot
      GROUP BY b.source, st.n_s
      ORDER BY b.source"""))

  // ---------------------------------------------------------------
  // q173: DoReMi-style domain reweighting (multiplicative weights
  //       over per-domain excess loss)
  // ---------------------------------------------------------------

  private val DoremiRounds = 5
  /** Most distinct `source` values q173 reads into its driver-side
    * dictionary; a corpus with more fails instead of collecting them. */
  private[operators] val MaxSources = 1000
  private val DoremiSmooth = 0.01 // uniform-mixing floor c
  private val DoremiKeep = 0.99   // 1 − c as its OWN literal: both engines
                                  // parse "0.99" rather than one computing
                                  // 1.0 − 0.01 (a possible last-ulp drift)

  /** Domain mixture weights by EXCESS LOSS, the DoReMi recipe (Xie et
    * al. 2023) in its offline one-proxy-round form: DoReMi runs Group
    * DRO — domains with more reducible loss get multiplicatively
    * upweighted each step, smoothed toward uniform — and here the
    * reducible-loss signal is computed once and the multiplicative-
    * weights loop replayed T=5 rounds over it:
    *
    *   excess_i = max(0, ℓ_generic(i) − ℓ_domain(i))
    *   α ← (1−c) · normalize(α · exp(excess)) + c/k
    *
    * ℓ_generic(i) = domain i's mean per-doc NLL under the CORPUS-wide
    * bigram model (q96's exact table); ℓ_domain(i) = the same docs
    * under a model trained only on domain i (all k domain models fall
    * out of ONE (source, w1, w2) grouped count). A domain whose own
    * model beats the generic model by a lot is distinctive —
    * learnable, under-served by uniform mixing — and DRO pushes weight
    * onto it; near-zero excess means the generic model already covers
    * it. The published full loop retrains the proxy between rounds;
    * the fixed-excess replay is the deterministic, oracle-checkable
    * core (stated, not hidden).
    *
    * Cross-engine parity: per-doc NLLs are rounded at 6 (q96's rule),
    * per-domain means rounded at 6, so `excess` is bit-identical on
    * both engines; the tiny k-row weight iteration tolerates the
    * engines' exp/sum ulp drift because the output rounds at 6.
    *
    * Scale: the domain-model counts are (domains × vocab)-sized —
    * Heaps-law sublinear, broadcastable per the q96 argument; the
    * corpus is scanned once for tokens (the tokenized table is shared
    * with the q96 leg via the staging seam) and the only corpus-wide
    * shuffles carry (doc_id, nll) partials. The weight loop itself
    * touches k rows (one per domain) — driver-side by construction,
    * like AnnOps' codebook folds: bounded by domain count, never by
    * corpus size. */
  val q173DoremiWeights: QueryDef = QueryDef(
    "q173_doremi_weights",
    (s, dir) => {
      val d = docs(s, dir)
      // ONE materialized (doc_id, sid, w1, w2) table feeds BOTH
      // scoring legs — the corpus model ignores the domain column, the
      // domain models group by it (avgNllOfTokens would re-explode and
      // re-checkpoint its own bigram table; measured ~0.5 s at sf0.1).
      // The domain rides the tokenize scan instead of a bigrams⋈srcOf
      // rejoin (guide §3.3: explode multiplies the join's shuffle —
      // the rejoin shuffled all 23M bigram rows; carrying the column
      // from the scan shuffles nothing), and scan→split→explode fuses
      // into the checkpoint's single job (bigramsDirect).
      //
      // `source` is DICTIONARY-ENCODED to a dense int (sid) before
      // anything corpus-sized (guide §2.3 narrower types): the domain
      // set is tiny (≤ dozens of values) but its string key previously
      // rode every corpus-sized exchange — the bigram checkpoint, the
      // c2s build's (source, w1, w2) map-side partials, and the probe's
      // (doc_id, source) partials. The dict is a LITERAL MAP from one
      // collect of at most MaxSources distinct sources (the same k-row
      // class as the multiplicative-weights replay collect below), so encode
      // and decode are map lookups fused into their stages — a first
      // cut as a broadcast join + window dict measured SLOWER than the
      // string form at sf0.1 (2.45 vs 1.65 s min-wall: two extra
      // distinct+window exchange chains and a join in the scan stage);
      // the literal map adds no exchange and no join. sorted() keeps
      // the sid assignment deterministic; bijective by construction,
      // so every sid-keyed groupBy groups exactly the rows the source-
      // keyed one did.
      // null-safe: a null source stays null through encode AND decode
      // (element_at on a missing/null key yields null), so null-keyed
      // groups behave exactly as they did with the string key.
      // Plain load for the dict leg: loadParallel's round-robin
      // exchange is for CPU-heavy narrow maps, not a column-pruned
      // distinct (its own doc) — this keeps the serial dict job at
      // scan → partial distinct → one k-row exchange.
      val srcs = Tables.load(s, dir, "documents")
        .select(col("source")).where(col("source").isNotNull).distinct()
        .take(MaxSources + 1).map(_.getString(0)).sorted
      if (srcs.length > MaxSources) throw new IllegalStateException(
        s"q173_doremi_weights: more than $MaxSources distinct sources; " +
        "the source dictionary and the weight replay run on the driver")
      val sidOf = map(srcs.zipWithIndex.flatMap { case (nm, i) =>
        Seq(lit(nm), lit(i + 1)) }.toIndexedSeq: _*)
      val srcOf = map(srcs.zipWithIndex.flatMap { case (nm, i) =>
        Seq(lit(i + 1), lit(nm)) }.toIndexedSeq: _*)
      val bgs = Staging.materialize(
        bigramsDirect(d.withColumn("sid", element_at(sidOf, col("source"))),
          Seq("sid")), "doremi_bg")
      // FUSED scoring, composed on the model side (q108's idiom, guide
      // §2.3): the corpus-sized bgs frame is aggregated ONCE — to the
      // finest model table c2s(source, w1, w2) — and every other count
      // both model families need is the SAME integer read off that
      // vocab×domains-sized frame: c2t = Σ_src c2s, c1s = Σ_w2 c2s,
      // c1t = Σ_src c1s, vt/vs = |distinct w2| (a (source,w1,w2) type
      // exists iff the bigram occurred). Both legs' per-TYPE nll is
      // then composed into ONE scored frame and probed with ONE
      // broadcast join — before, six model subtrees each re-scanned
      // the 23M-row checkpoint (stage-attributed ~5 s task-time
      // apiece at sf0.1, ~30 of the query's 40 s). Values are
      // bit-identical: strict inner joins (every bigram is in both
      // models by construction) and the same -ln((c2+α)/(c1+v·α))
      // chain per leg, evaluated per bigram TYPE instead of per
      // token, each rounded at 6 per doc exactly as before.
      val c2s = Staging.materialize(
        bgs.groupBy(col("sid"), col("w1"), col("w2"))
          .agg(count(lit(1)).as("c2s")), "doremi_c2s")
      val c2t = c2s.groupBy(col("w1"), col("w2"))
        .agg(sum(col("c2s")).as("c2t"))
      val c1s = c2s.groupBy(col("sid"), col("w1"))
        .agg(sum(col("c2s")).as("c1s"))
      val c1t = c2s.groupBy(col("w1")).agg(sum(col("c2s")).as("c1t"))
      val vt = c2s.agg(countDistinct(col("w2")).as("vt"))
      val vs = c2s.groupBy(col("sid"))
        .agg(countDistinct(col("w2")).as("vs"))
      val scoredType = c2s
        .join(broadcast(c2t), Seq("w1", "w2"))
        .join(broadcast(c1t), Seq("w1"))
        .crossJoin(broadcast(vt))
        .join(broadcast(c1s), Seq("sid", "w1"))
        .join(broadcast(vs), Seq("sid"))
        .select(col("sid"), col("w1"), col("w2"),
          (-log((col("c2t") + Alpha) / (col("c1t") + col("vt") * Alpha)))
            .as("ref_nll"),
          (-log((col("c2s") + Alpha) / (col("c1s") + col("vs") * Alpha)))
            .as("fit_nll"))
      val scoredDoc = bgs
        .join(broadcast(scoredType), Seq("sid", "w1", "w2"))
        .groupBy(col("doc_id"), col("sid"))
        .agg(round(avg(col("ref_nll")), 6).as("avg_nll"),
          round(avg(col("fit_nll")), 6).as("fit_nll"))
      val perSource = scoredDoc
        .groupBy(col("sid"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("avg_nll")), 6).as("l_ref"),
          round(avg(col("fit_nll")), 6).as("l_fit"))
        .withColumn("excess", greatest(lit(0.0), col("l_ref") - col("l_fit")))
        // decode: re-attach the source string via the literal map —
        // the replay below reads source by position, same layout as
        // the pre-encoding frame
        .withColumn("source", element_at(srcOf, col("sid")))
        .select(col("source"), col("n_docs"), col("l_ref"), col("l_fit"),
          col("excess"))
      // k-row multiplicative-weights replay (k = domain count, ≤ dozens)
      val rows = perSource.orderBy(col("source")).collect()
      val k = rows.length
      val excess = rows.map(_.getDouble(4))
      var w = Array.fill(k)(1.0 / k)
      (1 to DoremiRounds).foreach { _ =>
        val up = Array.tabulate(k)(i => w(i) * math.exp(excess(i)))
        val total = up.sum
        w = up.map(u => DoremiKeep * u / total + DoremiSmooth / k)
      }
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      import s.implicits._
      rows.indices.map { i =>
        (rows(i).getString(0), rows(i).getLong(1), rows(i).getDouble(2),
          rows(i).getDouble(3), r6(excess(i)), r6(w(i)), r6(w(i) * k))
      }.toDF("source", "n_docs", "l_ref", "l_fit", "excess", "weight",
        "rel_uniform")
        .orderBy(col("source"))
    },
    Some {
      val unrolled = (1 to DoremiRounds).map { r =>
        s"""w$r AS (SELECT source, n_docs, l_ref, l_fit, excess,
           |  $DoremiKeep * (w * exp(excess)) / (sum(w * exp(excess)) OVER ())
           |    + $DoremiSmooth / (SELECT k FROM kk) AS w FROM w${r - 1})""".stripMargin
      }.mkString(",\n      ")
      s"""WITH $tokSqlCte,
      $nllSqlCtes,
      src AS (SELECT doc_id, source FROM documents),
      bgs AS (SELECT b.doc_id, s.source, b.w1, b.w2 FROM bg b JOIN src s USING (doc_id)),
      vs AS (SELECT source, count(DISTINCT w2) AS v FROM bgs GROUP BY source),
      c1s AS (SELECT source, w1, count(*) AS c1 FROM bgs GROUP BY 1, 2),
      c2s AS (SELECT source, w1, w2, count(*) AS c2 FROM bgs GROUP BY 1, 2, 3),
      fit AS (SELECT b.doc_id, b.source,
          round(avg(-ln((c2s.c2 + $Alpha) / (c1s.c1 + $Alpha * vs.v))), 6) AS fit_nll
        FROM bgs b
        JOIN c2s ON b.source = c2s.source AND b.w1 = c2s.w1 AND b.w2 = c2s.w2
        JOIN c1s ON b.source = c1s.source AND b.w1 = c1s.w1
        JOIN vs ON b.source = vs.source
        GROUP BY 1, 2),
      ps AS (SELECT s.source, CAST(count(*) AS BIGINT) AS n_docs,
          round(avg(n.avg_nll), 6) AS l_ref
        FROM nll n JOIN src s USING (doc_id) GROUP BY 1),
      pf AS (SELECT source, round(avg(fit_nll), 6) AS l_fit FROM fit GROUP BY 1),
      e AS (SELECT ps.source, ps.n_docs, ps.l_ref, pf.l_fit,
          greatest(0.0, ps.l_ref - pf.l_fit) AS excess
        FROM ps JOIN pf USING (source)),
      kk AS (SELECT count(*) AS k FROM e),
      w0 AS (SELECT source, n_docs, l_ref, l_fit, excess, 1.0 / (SELECT k FROM kk) AS w FROM e),
      $unrolled
      SELECT source, n_docs, l_ref, l_fit, round(excess, 6) AS excess,
        round(w, 6) AS weight, round(w * (SELECT k FROM kk), 6) AS rel_uniform
      FROM w$DoremiRounds ORDER BY source"""
    },
    headline = true)

  // ---------------------------------------------------------------
  // q187: worst-window perplexity (localized gibberish detection)
  // ---------------------------------------------------------------

  private val WorstWin = 10 // bigrams per sliding window

  /** Per-document WORST sliding-window NLL — where q96 scores whole
    * documents (CCNet's unit), this finds the worst REGION: a 10-bigram
    * sliding window of per-bigram NLL under the corpus model, reporting
    * each document's maximum window and its offset. A document can
    * carry a healthy average over a corrupted insert (OCR garbage, a
    * pasted hexdump, template debris); the worst-window statistic is
    * what a surgical-removal policy (q150's rewrite machinery) keys
    * on, and the (doc, offset) output is directly actionable.
    *
    * Ties and parity: windows rank on the ROUNDED (6) window mean with
    * the earliest offset winning, so cross-engine selection is
    * deterministic; per-bigram NLL is q96's exact smoothing formula.
    *
    * Scale: the model tables broadcast (q96's argument); positions ride
    * the existing tokenized table; the sliding mean is a doc_id-keyed
    * window — partition-local after one slim (doc_id, i, nll) shuffle,
    * frame a constant 10 rows. Nothing new is corpus-global. */
  val q187WorstWindow: QueryDef = QueryDef(
    "q187_worst_window",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tok = tokenizedOf(docs(s, dir))
      val bgPos = tok.filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(w) - 1),
            |  i -> struct(i, element_at(w, i) as w1, element_at(w, i + 1) as w2))""".stripMargin)).as("x"))
        .select(col("doc_id"), col("x.i").as("i"), col("x.w1"), col("x.w2"))
      val bg = bigramsOfTokens(tok)
      val c2t = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      val c1t = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val vt = bg.agg(countDistinct(col("w2")).as("v"))
      val scored = bgPos
        .join(broadcast(c2t), Seq("w1", "w2"))
        .join(broadcast(c1t), Seq("w1"))
        .crossJoin(broadcast(vt))
        .select(col("doc_id"), col("i"),
          (-log((col("c2") + Alpha) / (col("c1") + col("v") * Alpha))).as("nll"))
      val frame = Window.partitionBy(col("doc_id")).orderBy(col("i"))
        .rowsBetween(0, WorstWin - 1)
      val wins = scored
        .withColumn("wn", count(col("nll")).over(frame))
        .withColumn("wavg", round(avg(col("nll")).over(frame), 6))
        .filter(col("wn") === WorstWin)
      wins
        .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("wavg").desc, col("i"))))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("i").cast("long").as("worst_start"),
          col("wavg").as("worst_nll"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $tokSqlCte,
      bgp AS (SELECT doc_id, t.i AS i, w[t.i] AS w1, w[t.i + 1] AS w2
        FROM tok, unnest(range(1, len(w))) AS t(i)
        WHERE len(w) >= 2),
      v AS (SELECT count(DISTINCT w2) AS v FROM bgp),
      c1t AS (SELECT w1, count(*) AS c1 FROM bgp GROUP BY w1),
      c2t AS (SELECT w1, w2, count(*) AS c2 FROM bgp GROUP BY w1, w2),
      scored AS (SELECT bgp.doc_id, bgp.i,
          -ln((c2t.c2 + $Alpha) / (c1t.c1 + $Alpha * v.v)) AS nll
        FROM bgp JOIN c2t ON bgp.w1 = c2t.w1 AND bgp.w2 = c2t.w2
          JOIN c1t ON bgp.w1 = c1t.w1, v),
      wins AS (SELECT doc_id, i,
          round(avg(nll) OVER (PARTITION BY doc_id ORDER BY i
            ROWS BETWEEN CURRENT ROW AND ${WorstWin - 1} FOLLOWING), 6) AS wavg,
          count(nll) OVER (PARTITION BY doc_id ORDER BY i
            ROWS BETWEEN CURRENT ROW AND ${WorstWin - 1} FOLLOWING) AS wn
        FROM scored),
      best AS (SELECT doc_id, i, wavg,
          row_number() OVER (PARTITION BY doc_id ORDER BY wavg DESC, i) AS rn
        FROM wins WHERE wn = $WorstWin)
      SELECT doc_id, CAST(i AS BIGINT) AS worst_start, wavg AS worst_nll
      FROM best WHERE rn = 1 ORDER BY doc_id"""),
    headline = false)

  // ---------------------------------------------------------------
  // q189: relative-entropy bigram pruning (Stolcke-style)
  // ---------------------------------------------------------------

  private val PruneTheta = 0.00001 // relative-entropy keep threshold

  /** LM pruning by relative entropy (Stolcke 1998's criterion in its
    * bigram-vs-unigram-backoff form — the step that turns a trained
    * count model into the SMALL model a pipeline actually ships, as
    * CCNet does with pruned KenLM binaries): a bigram earns its table
    * row by the weighted evidence it adds over the backoff,
    *
    *   d(w1,w2) = (c2/N) · ln( p(w2|w1) / p_uni(w2) )
    *
    * with both probabilities from the q96 add-alpha family. Low-|d|
    * rows predict almost exactly what the unigram already predicts —
    * dropping them shrinks the broadcast model with bounded entropy
    * cost. Output: the 30 highest-evidence bigrams (the rows pruning
    * must keep) with their kept flags, plus the global kept/total
    * counts under θ — the size-vs-fidelity audit read before
    * shipping.
    *
    * Determinism: d ranks ROUNDED (6) with (w1, w2) tiebreaks; the
    * counters compare the rounded d to the θ literal.
    *
    * Scale: everything aggregates over the BIGRAM TABLE (already
    * vocab-sized, the q96 Heaps argument) — the corpus is not
    * re-scanned; the unigram marginal is one more vocab-sized
    * aggregate; the top-30 is a TakeOrdered epilogue. */
  val q189ModelPrune: QueryDef = QueryDef(
    "q189_model_prune",
    (s, dir) => {
      val bg = bigramsOfTokens(tokenizedOf(docs(s, dir)))
      val c2t = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      val c1t = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val u2t = c2t.groupBy(col("w2")).agg(sum(col("c2")).as("u2"))
      val tot = bg.agg(count(lit(1)).as("n"), countDistinct(col("w2")).as("v"))
      val scored = c2t
        .join(c1t, Seq("w1"))
        .join(u2t, Seq("w2"))
        .crossJoin(broadcast(tot))
        .withColumn("d", round(
          (col("c2").cast("double") / col("n")) *
            log(((col("c2") + Alpha) / (col("c1") + col("v") * Alpha)) /
              ((col("u2") + Alpha) / (col("n") + col("v") * Alpha))), 6))
      val counts = scored.agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("d") >= PruneTheta, 1L).otherwise(0L)).as("n_kept"))
      scored
        .select(col("w1"), col("w2"), col("c2"), col("d"),
          (col("d") >= PruneTheta).as("kept"))
        .orderBy(col("d").desc, col("w1"), col("w2")).limit(30)
        .crossJoin(broadcast(counts))
        .orderBy(col("d").desc, col("w1"), col("w2"))
    },
    Some(s"""WITH $tokSqlCte,
      bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
        FROM tok, unnest(range(1, len(w))) AS t(i) WHERE len(w) >= 2),
      c2t AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2),
      c1t AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
      u2t AS (SELECT w2, CAST(sum(c2) AS BIGINT) AS u2 FROM c2t GROUP BY 1),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(count(DISTINCT w2) AS BIGINT) AS v FROM bg),
      scored AS (SELECT c2t.w1, c2t.w2, c2t.c2,
          round((CAST(c2t.c2 AS DOUBLE) / tot.n) *
            ln(((c2t.c2 + $Alpha) / (c1t.c1 + $Alpha * tot.v)) /
               ((u2t.u2 + $Alpha) / (tot.n + $Alpha * tot.v))), 6) AS d
        FROM c2t JOIN c1t USING (w1) JOIN u2t USING (w2), tot),
      counts AS (SELECT CAST(count(*) AS BIGINT) AS n_bigrams,
          CAST(sum(CASE WHEN d >= $PruneTheta THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM scored),
      top AS (SELECT w1, w2, c2, d, d >= $PruneTheta AS kept
        FROM scored ORDER BY d DESC, w1, w2 LIMIT 30)
      SELECT t.w1, t.w2, t.c2, t.d, t.kept, c.n_bigrams, c.n_kept
      FROM top t, counts c ORDER BY t.d DESC, t.w1, t.w2"""),
    headline = false)

  // ---------------------------------------------------------------
  // q208: Moore-Lewis cross-entropy difference selection
  // ---------------------------------------------------------------

  /** The in-domain seed slice the q208 selector targets. */
  private val MlInDomainSource = "src0"

  /** Moore & Lewis 2010 ("Intelligent Selection of Language Model
    * Training Data") — THE classic domain-data selector, distinct from
    * q101's DSIR (importance ratios over hashed features) in using two
    * full n-gram LMs: score every candidate document by
    *
    *   ml_score = H_in(d) − H_gen(d)
    *
    * the cross-entropy under an IN-DOMAIN model minus the cross-entropy
    * under a GENERAL model (both q96's add-alpha bigram family, scored
    * with the α-floor left-join so unseen bigrams back off instead of
    * dropping out). Negative score = the doc looks more like the
    * in-domain seed than like the general corpus → keep. The in-domain
    * seed here is the [[MlInDomainSource]] slice standing in for the
    * curated seed corpus the published recipe assumes.
    *
    * Scale: the corpus is tokenized and exploded to bigrams ONCE
    * (materialized through the durable staging seam); both model
    * triples are vocabulary-sized aggregates of that same frame (the
    * in-domain one of a filtered subset), so they broadcast; each
    * scoring pass is broadcast-hash joins + one (doc_id)-keyed partial
    * agg, and the two per-doc score frames join on doc_id. The corpus
    * never self-joins, and adding more candidate sources changes only
    * the general-model counts, not the plan shape. */
  val q208MooreLewis: QueryDef = QueryDef(
    "q208_moore_lewis",
    (s, dir) => {
      val tok = Staging.materialize(docs(s, dir)
        .select(col("doc_id"), col("source"),
          split(lower(trim(col("text"))), "\\s+").as("w")), "ml_tok")
      val bg = Staging.materialize(
        tok.filter(size(col("w")) >= 2)
          .select(col("doc_id"), col("source"), explode(expr(
            """transform(sequence(1, size(w) - 1),
              |  i -> struct(element_at(w, i) as w1, element_at(w, i + 1) as w2))""".stripMargin)).as("b"))
          .select(col("doc_id"), col("source"), col("b.w1"), col("b.w2")),
        "ml_bg")
      def model(b: DataFrame, tag: String): (DataFrame, DataFrame, DataFrame) = (
        Staging.materialize(b.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("c2")), s"ml_${tag}_c2"),
        Staging.materialize(b.groupBy(col("w1"))
          .agg(count(lit(1)).as("c1")), s"ml_${tag}_c1"),
        Staging.materialize(b.agg(countDistinct(col("w2")).as("v")), s"ml_${tag}_v"))
      val (inC2, inC1, inV) =
        model(bg.filter(col("source") === MlInDomainSource), "in")
      val (gC2, gC1, gV) = model(bg, "gen")
      def score(c2: DataFrame, c1: DataFrame, v: DataFrame,
          out: String): DataFrame =
        bg.join(broadcast(c2), Seq("w1", "w2"), "left_outer")
          .join(broadcast(c1), Seq("w1"), "left_outer")
          .crossJoin(broadcast(v))
          .select(col("doc_id"),
            (-log((coalesce(col("c2"), lit(0L)) + Alpha) /
              (coalesce(col("c1"), lit(0L)) + col("v") * Alpha))).as("nll"))
          .groupBy(col("doc_id"))
          .agg(round(avg(col("nll")), 6).as(out))
      score(inC2, inC1, inV, "ce_in")
        .join(score(gC2, gC1, gV, "ce_gen"), Seq("doc_id"))
        .select(col("doc_id"), col("ce_in"), col("ce_gen"),
          round(col("ce_in") - col("ce_gen"), 6).as("ml_score"))
        .withColumn("keep", col("ml_score") < 0.0)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH tok AS (SELECT doc_id, source,
          regexp_split_to_array(lower(trim(text)), '\\s+') AS w FROM documents),
      bg AS (SELECT doc_id, source, w[i] AS w1, w[i+1] AS w2
        FROM tok, unnest(range(1, len(w))) AS t(i) WHERE len(w) >= 2),
      inb AS (SELECT * FROM bg WHERE source = '$MlInDomainSource'),
      ic2 AS (SELECT w1, w2, count(*) AS c2 FROM inb GROUP BY 1, 2),
      ic1 AS (SELECT w1, count(*) AS c1 FROM inb GROUP BY 1),
      iv AS (SELECT count(DISTINCT w2) AS v FROM inb),
      gc2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
      gc1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
      gv AS (SELECT count(DISTINCT w2) AS v FROM bg),
      si AS (SELECT bg.doc_id,
          round(avg(-ln((coalesce(ic2.c2, 0) + $Alpha) /
            (coalesce(ic1.c1, 0) + iv.v * $Alpha))), 6) AS ce_in
        FROM bg LEFT JOIN ic2 ON bg.w1 = ic2.w1 AND bg.w2 = ic2.w2
          LEFT JOIN ic1 ON bg.w1 = ic1.w1, iv
        GROUP BY bg.doc_id),
      sg AS (SELECT bg.doc_id,
          round(avg(-ln((coalesce(gc2.c2, 0) + $Alpha) /
            (coalesce(gc1.c1, 0) + gv.v * $Alpha))), 6) AS ce_gen
        FROM bg LEFT JOIN gc2 ON bg.w1 = gc2.w1 AND bg.w2 = gc2.w2
          LEFT JOIN gc1 ON bg.w1 = gc1.w1, gv
        GROUP BY bg.doc_id)
      SELECT si.doc_id, si.ce_in, sg.ce_gen,
        round(si.ce_in - sg.ce_gen, 6) AS ml_score,
        round(si.ce_in - sg.ce_gen, 6) < 0.0 AS keep
      FROM si JOIN sg ON si.doc_id = sg.doc_id
      ORDER BY si.doc_id"""),
    headline = false)

  // ---------------------------------------------------------------
  // q216: Good-Turing missing-mass audit
  // ---------------------------------------------------------------

  /** Per-source Good-Turing vocabulary audit (Good 1953; the simple-GT
    * reading of Gale & Sampson 1995): from each source's token
    * frequency spectrum, the leave-one-out estimate of the probability
    * mass on UNSEEN types,
    *
    *   P₀ = N₁/N   (N₁ = hapax count, N = tokens)
    *
    * plus the GT-adjusted singleton count r* = 2·N₂/N₁ — the "how much
    * vocabulary has this source not shown us yet" number that tells a
    * crawl scheduler which sources still pay for more ingest (the
    * per-source dual of q129's dedup-saturation curve, on types
    * instead of documents; also exactly the smoothing mass a Katz/GT
    * LM would reserve). A source with high missing mass is
    * under-sampled; one near zero is exhausted.
    *
    * Scale: ONE (source, token)-keyed count — vocab-sized per source
    * by Heaps' law — then a source-keyed rollup of the spectrum;
    * the corpus is scanned once and never self-joined. */
  val q216GoodTuring: QueryDef = QueryDef(
    "q216_good_turing",
    (s, dir) => {
      val counts = docs(s, dir)
        .filter(length(trim(col("text"))) > 0)
        .select(col("source"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      counts.groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("vocab"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("n2"))
        .select(col("source"), col("n_tokens"), col("vocab"), col("n1"),
          col("n2"),
          round(col("n1").cast("double") / col("n_tokens"), 6)
            .as("missing_mass"),
          when(col("n1") > 0,
            round(lit(2.0) * col("n2") / col("n1"), 6)).as("r_star"))
        .orderBy(col("source"))
    },
    Some("""WITH cnt AS (SELECT source, tok, count(*) AS c
        FROM (SELECT source,
            unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
          FROM documents WHERE length(trim(text)) > 0)
        GROUP BY 1, 2)
      SELECT source,
        CAST(sum(c) AS BIGINT) AS n_tokens,
        CAST(count(*) AS BIGINT) AS vocab,
        CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
          sum(c), 6) AS missing_mass,
        CASE WHEN sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) > 0 THEN
          round(2.0 * sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) /
            sum(CASE WHEN c = 1 THEN 1 ELSE 0 END), 6)
        END AS r_star
      FROM cnt GROUP BY source ORDER BY source"""),
    headline = false)

  // ---------------------------------------------------------------
  // q228: empirical conditional entropy of the bigram process
  // ---------------------------------------------------------------

  /** Per-source conditional entropy H(W₂|W₁) of the EMPIRICAL bigram
    * distribution (Shannon 1951's printed-English estimate, the
    * model-free entropy-rate proxy):
    *
    *   H = Σ_{w1,w2} (c₂/N) · ln(c₁/c₂),   ppl = e^H
    *
    * with c₂ the source's bigram count, c₁ its context count, N its
    * bigram total. Where q96 scores DOCUMENTS under a smoothed model,
    * this scores the SOURCE PROCESS itself — the predictability number
    * a corpus card reports next to q162's KL (a source whose H drops
    * between snapshots got more templated; one near ln(vocab) is
    * noise), with the unigram entropy H(W₂) alongside so the mutual
    * information H(W₂) − H(W₂|W₁) is one subtraction away.
    *
    * Exactness: all counts exact int64 from ONE (source,w1,w2) grid
    * (c₁ and N are grid rollups, never corpus rescans); the entropy
    * sums are vocab²-bounded double folds rounded at 6 (aggregate
    * rule, q162's posture).
    *
    * Scale: one bigram-keyed shuffle with map-side combine; everything
    * downstream runs on the (source × vocab²)-bounded grid. */
  val q228ConditionalEntropy: QueryDef = QueryDef(
    "q228_conditional_entropy",
    (s, dir) => {
      val d = docs(s, dir)
      val c2 = bigramsOfTokens(tokenizedOf(d))
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("c2"))
      val c1 = c2.groupBy(col("source"), col("w1"))
        .agg(sum(col("c2")).as("c1"))
      val cm = c2.groupBy(col("source"), col("w2"))
        .agg(sum(col("c2")).as("cm"))
      val n = c2.groupBy(col("source")).agg(sum(col("c2")).as("n"))
      val hCond = c2.join(c1, Seq("source", "w1")).join(n, Seq("source"))
        .groupBy(col("source"), col("n"))
        .agg(sum((col("c2").cast("double") / col("n"))
          * log(col("c1").cast("double") / col("c2"))).as("h_cond"))
      val hMarg = cm.join(n, Seq("source"))
        .groupBy(col("source"))
        .agg(sum((col("cm").cast("double") / col("n"))
          * log(col("n").cast("double") / col("cm"))).as("h_marg"))
      hCond.join(hMarg, Seq("source"))
        .select(col("source"), col("n").as("n_bigrams"),
          round(col("h_cond"), 6).as("h_cond"),
          round(exp(col("h_cond")), 6).as("ppl"),
          round(col("h_marg"), 6).as("h_unigram"),
          (round(col("h_marg") - col("h_cond"), 6) + lit(0.0))
            .as("mutual_info"))
        .orderBy(col("source"))
    },
    Some(s"""WITH $tokSqlCte,
      src AS (SELECT doc_id, source FROM documents),
      bg AS (SELECT s.source, w[i] AS w1, w[i+1] AS w2
        FROM tok JOIN src s USING (doc_id), unnest(range(1, len(w))) AS t(i)
        WHERE len(w) >= 2),
      c2 AS (SELECT source, w1, w2, CAST(count(*) AS BIGINT) AS c2
        FROM bg GROUP BY 1, 2, 3),
      c1 AS (SELECT source, w1, CAST(sum(c2) AS BIGINT) AS c1
        FROM c2 GROUP BY 1, 2),
      cm AS (SELECT source, w2, CAST(sum(c2) AS BIGINT) AS cm
        FROM c2 GROUP BY 1, 2),
      n AS (SELECT source, CAST(sum(c2) AS BIGINT) AS n FROM c2 GROUP BY 1),
      hc AS (SELECT c2.source, n.n,
          sum((CAST(c2.c2 AS DOUBLE) / n.n)
            * ln(CAST(c1.c1 AS DOUBLE) / c2.c2)) AS h_cond
        FROM c2 JOIN c1 USING (source, w1) JOIN n USING (source)
        GROUP BY 1, 2),
      hm AS (SELECT cm.source,
          sum((CAST(cm.cm AS DOUBLE) / n.n)
            * ln(CAST(n.n AS DOUBLE) / cm.cm)) AS h_marg
        FROM cm JOIN n USING (source) GROUP BY 1)
      SELECT hc.source, hc.n AS n_bigrams,
        round(hc.h_cond, 6) AS h_cond,
        round(exp(hc.h_cond), 6) AS ppl,
        round(hm.h_marg, 6) AS h_unigram,
        round(hm.h_marg - hc.h_cond, 6) + 0.0 AS mutual_info
      FROM hc JOIN hm USING (source) ORDER BY hc.source"""),
    headline = false)

  val all: Seq[QueryDef] =
    Seq(q96LmPerplexity, q97Bm25, q98DupSpans, q99HybridRrf, q101Dsir,
      q102CcnetBuckets, q106DedupAudit, q107MaxDupSpans, q108KnPerplexity,
      q114DataCard, q150ExactSubstrRewrite, q162SourceKl, q173DoremiWeights,
      q187WorstWindow, q189ModelPrune, q208MooreLewis, q216GoodTuring,
      q228ConditionalEntropy)
}
