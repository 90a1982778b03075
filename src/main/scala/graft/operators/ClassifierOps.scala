package graft.operators

import graft.{QueryDef, Staging, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Quality-classifier operators — the "model-based quality filtering"
  * stage of a pretraining pipeline (GPT-3 §A / PaLM / Llama train a
  * classifier with a curated corpus as positives and the raw crawl as
  * negatives, then keep crawl docs the classifier scores high; fastText
  * supervised and NBSVM are the standard cheap architectures). The
  * engine's variant is a multinomial Naive-Bayes log-odds scorer —
  * CLOSED-FORM training (two grouped counts + add-one smoothing), so
  * the whole train+score pass is deterministic, one-shot, and exactly
  * reproducible in the DuckDB oracle, unlike an SGD fastText whose
  * result depends on update order.
  *
  * Train: w(t) = ln((c_pos(t)+1)/(N_pos+V)) − ln((c_neg(t)+1)/(N_neg+V))
  * over the seed labeling; score(doc) = mean over its tokens of w(t)
  * (length-normalized log-likelihood ratio — the per-token normalization
  * is what makes the threshold length-independent, the same reason
  * CCNet thresholds per-token perplexity).
  *
  * Scale: training is ONE (token)-keyed grouped count — vocab-sized
  * output, Heaps-law sublinear in the corpus — plus a 1-row total;
  * the weight table broadcasts forever. Scoring is q96's narrow shape:
  * explode → broadcast hash join → groupBy(doc_id) with partial
  * aggregation. The corpus is scanned twice (train, score) and never
  * self-joined; nothing shuffles but vocab-sized counts and
  * (doc_id, double) partials.
  */
object ClassifierOps {

  /** The curated-seed sources standing in for the reference corpus
    * (WebText/Wikipedia in the published recipes). */
  private val SeedSources = Seq("src0", "src1", "src2")

  /** Library entry: per-doc NB log-odds quality scores over any
    * (doc_id, source, text) frame — (doc_id, n_toks, quality_lr).
    * The q170 train+score pass, reusable by `Curation.run`'s
    * token-classifier stage. */
  def nbQualityOf(d: DataFrame, seeds: Seq[String]): DataFrame = {
    val toks = d
      .select(col("doc_id"),
        col("source").isin(seeds: _*).as("pos"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("cpos"),
      sum(when(col("pos"), 0L).otherwise(1L)).as("cneg"))
    val tot = counts.agg(
      sum(col("cpos")).as("npos"), sum(col("cneg")).as("nneg"),
      count(lit(1)).as("v"))
    val w = counts.crossJoin(broadcast(tot)).select(col("tok"),
      (log((col("cpos") + lit(1.0)) / (col("npos") + col("v")).cast("double")) -
        log((col("cneg") + lit(1.0)) / (col("nneg") + col("v")).cast("double")))
        .as("w"))
    toks.join(broadcast(w), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        // + 0.0: a doc whose log-odds average rounds to zero from
        // below would otherwise print IEEE -0.0 in DuckDB (its round
        // keeps the sign bit; Spark's BigDecimal path does not)
        (round(avg(col("w")), 6) + lit(0.0)).as("quality_lr"))
  }

  /** The NB train/score pass as shared oracle CTE text, ending in
    * `nbscore(doc_id, n_toks, quality_lr)` — one copy of the smoothing
    * formula and the seed-source list, used verbatim by the q170,
    * q177, and q188 oracles so the three cannot drift (the
    * ClusterOps.lloydSqlCtes / LmOps.nllSqlCtes convention). */
  private val nbSqlCtes =
    """toks AS (SELECT doc_id, source IN ('src0', 'src1', 'src2') AS pos,
      |    unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |  FROM documents),
      |counts AS (SELECT tok,
      |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cpos,
      |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cneg
      |  FROM toks GROUP BY tok),
      |tot AS (SELECT CAST(sum(cpos) AS BIGINT) AS npos,
      |    CAST(sum(cneg) AS BIGINT) AS nneg,
      |    CAST(count(*) AS BIGINT) AS v FROM counts),
      |w AS (SELECT tok,
      |    ln((cpos + 1.0) / CAST(npos + v AS DOUBLE)) -
      |    ln((cneg + 1.0) / CAST(nneg + v AS DOUBLE)) AS w
      |  FROM counts, tot),
      |nbscore AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
      |    round(avg(w.w), 6) + 0.0 AS quality_lr
      |  FROM toks t JOIN w USING (tok) GROUP BY t.doc_id)""".stripMargin

  /** q170: NB log-odds quality scoring — train on the seed labeling,
    * score every document, flag the keep decision at threshold 0. */
  val q170NbQuality: QueryDef = QueryDef(
    "q170_nb_quality",
    (s, dir) => {
      nbQualityOf(Tables.loadParallel(s, dir, "documents"), SeedSources)
        .withColumn("keep", round(col("quality_lr"), 6) > 0.0)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $nbSqlCtes
      SELECT doc_id, n_toks, quality_lr, quality_lr > 0.0 AS keep
      FROM nbscore ORDER BY doc_id"""),
    headline = true)

  /** q177: Pareto-thresholded classifier resampling — the EXACT
    * document-selection rule GPT-3 published (Brown et al. 2020,
    * Appendix A): a crawl document is kept iff
    * `pareto_draw(alpha = 9) > 1 − score`, so high-scoring documents
    * almost always survive while low scorers keep a heavy-tailed
    * chance — the deliberate diversity tail a hard threshold destroys.
    *
    * Deterministic replay: the Pareto draw comes from the doc-id hash
    * bucket via the inverse CDF, x = (1−u)^(−1/α) − 1 with
    * u = (bucket + 0.5)/2^16 (the +0.5 keeps u strictly inside (0,1)),
    * and the score is the NB POSTERIOR — the logistic of the document's
    * TOTAL log-odds (mean × token count), matching the fastText-style
    * per-document probability the published rule thresholds (the
    * per-token mean would compress every score toward ½ and blunt the
    * rule). Saturation to exactly 0/1 for extreme documents is
    * IEEE-identical on both engines. The keep comparison is on raw
    * doubles (the q97 ranking precedent: a flip needs the two sides
    * within an ulp).
    *
    * Scale: adds ONE narrow projection to q170's scoring pass — the
    * draw is hash arithmetic, the rule a scalar compare; nothing new
    * shuffles. */
  val q177ParetoResample: QueryDef = QueryDef(
    "q177_pareto_resample",
    (s, dir) => {
      val scored = nbQualityOf(Tables.loadParallel(s, dir, "documents"),
        SeedSources)
      scored
        .withColumn("score",
          expr("1.0 / (1.0 + exp(-(quality_lr * n_toks)))"))
        .withColumn("u", expr(
          s"(cast(${MixOps.bucketExpr("sha2(cast(doc_id as string), 256)", 65536)} as double) + 0.5) / 65536.0"))
        // cast the exponent explicitly: Spark parses -1.0/9.0 as a
        // scale-6 DECIMAL division (-0.111111), not the IEEE double
        .withColumn("draw",
          expr("power(1.0 - u, cast(-1.0 as double) / 9.0) - 1.0"))
        .select(col("doc_id"), round(col("score"), 6).as("score"),
          round(col("draw"), 6).as("draw"),
          (col("draw") > lit(1.0) - col("score")).as("kept"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $nbSqlCtes,
      drawn AS (SELECT doc_id,
          1.0 / (1.0 + exp(-(quality_lr * n_toks))) AS score,
          power(1.0 - ((CAST(${MixOps.bucketExpr("sha256(CAST(doc_id AS VARCHAR))", 65536)} AS DOUBLE) + 0.5) / 65536.0),
            CAST(-1.0 AS DOUBLE) / 9.0) - 1.0 AS draw
        FROM nbscore)
      SELECT doc_id, round(score, 6) AS score, round(draw, 6) AS draw,
        draw > 1.0 - score AS kept
      FROM drawn ORDER BY doc_id"""),
    headline = false)

  /** q188: quality-signal agreement audit — the joint read of the two
    * independent quality signals the pipeline computes (q96 LM NLL,
    * q170 NB log-odds): Pearson correlation plus a 3×3 tercile
    * contingency table. RedPajama-v2 ships exactly this kind of
    * signal-correlation analysis: two gates that agree are redundant
    * (drop one, save a pass); two that disagree are measuring
    * different failure modes (keep both); a POSITIVE NLL/quality
    * correlation would mean one signal is miscalibrated, since high
    * perplexity should predict LOW quality.
    *
    * Determinism: both per-doc signals are already rounded at 6;
    * tercile cut points are the rounded exact percentiles (q102's
    * convention); the correlation's sums are the only free floats,
    * rounded at 4.
    *
    * Scale: two existing per-doc score tables (each the output of a
    * broadcast-model pass) joined on doc_id — one slim shuffle; the
    * contingency table is 9 rows, the correlation a 1-row epilogue
    * broadcast onto it. */
  val q188SignalAgreement: QueryDef = QueryDef(
    "q188_signal_agreement",
    (s, dir) => {
      val d = Tables.loadParallel(s, dir, "documents")
      val nll = graft.operators.LmOps.avgNllOf(d)
        .select(col("doc_id"), col("avg_nll"))
      val nb = nbQualityOf(d, SeedSources)
        .select(col("doc_id"), col("quality_lr"))
      val joined = nll.join(nb, Seq("doc_id"))
      val cuts = joined.agg(
        round(expr("percentile(avg_nll, 1.0D/3)"), 6).as("p1"),
        round(expr("percentile(avg_nll, 2.0D/3)"), 6).as("p2"),
        round(expr("percentile(quality_lr, 1.0D/3)"), 6).as("q1"),
        round(expr("percentile(quality_lr, 2.0D/3)"), 6).as("q2"))
      val corr = joined.agg(
          count(lit(1)).cast("double").as("m"),
          sum(col("avg_nll")).as("sx"), sum(col("quality_lr")).as("sy"),
          sum(col("avg_nll") * col("quality_lr")).as("sxy"),
          sum(col("avg_nll") * col("avg_nll")).as("sxx"),
          sum(col("quality_lr") * col("quality_lr")).as("syy"))
        .select(round(
          (col("sxy") - col("sx") * col("sy") / col("m")) /
            sqrt((col("sxx") - col("sx") * col("sx") / col("m")) *
              (col("syy") - col("sy") * col("sy") / col("m"))), 4)
          .as("pearson_r"))
      joined.crossJoin(broadcast(cuts))
        .select(
          when(col("avg_nll") <= col("p1"), 0L)
            .when(col("avg_nll") <= col("p2"), 1L).otherwise(2L).as("nll_bin"),
          when(col("quality_lr") <= col("q1"), 0L)
            .when(col("quality_lr") <= col("q2"), 1L).otherwise(2L).as("nb_bin"))
        .groupBy(col("nll_bin"), col("nb_bin"))
        .agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(corr))
        .orderBy(col("nll_bin"), col("nb_bin"))
    },
    Some(s"""WITH $nbSqlCtes,
      nb AS (SELECT doc_id, quality_lr FROM nbscore),
      tok2 AS (SELECT doc_id,
          regexp_split_to_array(lower(trim(text)), '\\s+') AS w FROM documents),
      bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
        FROM tok2, unnest(range(1, len(w))) AS t(i) WHERE len(w) >= 2),
      v2 AS (SELECT count(DISTINCT w2) AS v FROM bg),
      c1t AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
      c2t AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
      nll AS (SELECT bg.doc_id,
          round(avg(-ln((c2t.c2 + 0.1) / (c1t.c1 + 0.1 * v2.v))), 6) AS avg_nll
        FROM bg JOIN c2t ON bg.w1 = c2t.w1 AND bg.w2 = c2t.w2
          JOIN c1t ON bg.w1 = c1t.w1, v2
        GROUP BY bg.doc_id),
      j AS (SELECT n.doc_id, n.avg_nll, b.quality_lr
        FROM nll n JOIN nb b USING (doc_id)),
      cuts AS (SELECT round(quantile_cont(avg_nll, 1.0/3), 6) AS p1,
          round(quantile_cont(avg_nll, 2.0/3), 6) AS p2,
          round(quantile_cont(quality_lr, 1.0/3), 6) AS q1,
          round(quantile_cont(quality_lr, 2.0/3), 6) AS q2 FROM j),
      corr AS (SELECT round(
          (sxy - sx * sy / m) / sqrt((sxx - sx * sx / m) * (syy - sy * sy / m)), 4)
          AS pearson_r FROM (
            SELECT CAST(count(*) AS DOUBLE) AS m, sum(avg_nll) AS sx,
              sum(quality_lr) AS sy, sum(avg_nll * quality_lr) AS sxy,
              sum(avg_nll * avg_nll) AS sxx,
              sum(quality_lr * quality_lr) AS syy FROM j) a)
      SELECT CAST(CASE WHEN avg_nll <= p1 THEN 0 WHEN avg_nll <= p2 THEN 1 ELSE 2 END AS BIGINT) AS nll_bin,
        CAST(CASE WHEN quality_lr <= q1 THEN 0 WHEN quality_lr <= q2 THEN 1 ELSE 2 END AS BIGINT) AS nb_bin,
        CAST(count(*) AS BIGINT) AS n_docs, max(corr.pearson_r) AS pearson_r
      FROM j, cuts, corr
      GROUP BY 1, 2 ORDER BY 1, 2"""),
    headline = false)

  // ---------------------------------------------------------------
  // q207: lattice-exact linear probe trained by distributed GD
  // ---------------------------------------------------------------

  private val PrRounds = 8      // full-batch GD rounds
  private val PrSw = 100000L    // weight lattice: w = W / PrSw
  private val PrSx = 100L       // feature lattice: x = X / PrSx
  // learning rate 0.5 on the half-MSE gradient → ΔW = ⌊G/(20000·N)+½⌋

  /** Quantized per-doc probe features + label over the documents
    * frame. Every feature is an exact rational of integer counts
    * (no transcendentals), quantized to the [[PrSx]] integer lattice
    * with the SAME correctly-rounded IEEE op chain the oracle runs:
    * x0 bias, x1 capped length, x2 type-token ratio, x3 stopword
    * fraction (q46's list), x4 capped mean word length. The label is
    * a Gopher-style gate (n_tok ≥ 50 ∧ stop_frac ≥ 0.05) — integers
    * end to end, so the training data is bit-identical cross-engine. */
  private[graft] def probeFeatures(d: DataFrame): DataFrame = {
    val tk = split(trim(col("text")), "\\s+")
    val nTok = size(tk).cast("long")
    val nt = nTok.cast("double")
    val nd = size(array_distinct(tk)).cast("double")
    val ns = size(filter(tk, w => w.isin("the", "a"))).cast("double")
    val ch = length(regexp_replace(col("text"), " ", "")).cast("double")
    d.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), nTok.as("n_tok"),
        lit(PrSx).as("x0"),
        floor(least(nTok, lit(400L)).cast("double") / 400.0 * 100.0 + 0.5)
          .cast("long").as("x1"),
        floor(nd / nt * 100.0 + 0.5).cast("long").as("x2"),
        floor(ns / nt * 100.0 + 0.5).cast("long").as("x3"),
        floor(least(ch / nt, lit(10.0)) * 10.0 + 0.5).cast("long").as("x4"))
      .withColumn("y",
        when(col("n_tok") >= 50 && col("x3") >= 5, 1L).otherwise(0L))
  }

  /** One round's gradient aggregate, un-collected — exposed for the
    * plan auditor (the training loop collects each round's 6-long
    * row, so the distributed shape never reaches the returned
    * trajectory frame — the q202/q203 audit discipline). */
  private[graft] def q207RoundPlanProbe(s: SparkSession, dir: String): DataFrame = {
    val feat = probeFeatures(Tables.loadParallel(s, dir, "documents"))
    probeGradient(feat, Array(0L, 0L, 0L, 0L, 0L))
  }

  private def probeGradient(feat: DataFrame, w: Array[Long]): DataFrame = {
    val m = (0 to 4).map(j => lit(w(j)) * col(s"x$j")).reduce(_ + _)
    feat.withColumn("r", m - col("y") * lit(10000000L))
      .agg(sum(col("r") * col("x0")).as("g0"),
        sum(col("r") * col("x1")).as("g1"),
        sum(col("r") * col("x2")).as("g2"),
        sum(col("r") * col("x3")).as("g3"),
        sum(col("r") * col("x4")).as("g4"),
        count(lit(1)).as("n"))
  }

  /** fastText-style linear quality probe trained IN-ENGINE by
    * full-batch gradient descent — the SGD-shaped counterpart to
    * q170's closed-form NB, made exactly reproducible the way q202
    * made power iteration exact: weights live on a 1/[[PrSw]] integer
    * lattice, features on a 1/[[PrSx]] lattice, so every per-round
    * gradient is an INT64 sum (order-free — any partitioning, any
    * retry, and the DuckDB oracle produce bit-identical weights) and
    * the only floating-point step, the lattice-rounded update
    * ⌊lr·G/N+½⌋, is one correctly-rounded double op chain replayed
    * character-for-character in the oracle. The published fastText /
    * GPT-3-§A quality filter trains exactly this shape (linear model,
    * handcrafted + bag features); MLlib LR (ml/VectorML) is the
    * production-scale variant, this operator is the oracle-exact one.
    *
    * Output: the full weight TRAJECTORY (one row per round), so the
    * oracle pins every round, not just the fixed point.
    *
    * Scale: training is [[PrRounds]] corpus scans of a 7-long-column
    * materialized feature table, each reducing map-side to ONE 6-long
    * row per partition (plan-checked partial HashAggregate, no join,
    * no shuffle of rows); driver state is 5 longs. Lattice headroom
    * is guarded loudly: |G| must stay under 2^53 for the update's
    * exact double conversion (N ≲ 9·10⁴ at the |W| ≤ 2·10⁶ weight
    * envelope; rescale [[PrSx]]/[[PrSw]] for larger corpora). */
  val q207LinearProbe: QueryDef = {
    val gradExprs = (0 to 4).map(j =>
      s"sum((m - y*10000000)*x$j) AS g$j").mkString(", ")
    val roundCtes = (1 to PrRounds).map { t =>
      val upd = (0 to 4).map(j =>
        s"a$j - CAST(floor(g$j/(20000.0*n)+0.5) AS BIGINT) AS a$j").mkString(", ")
      s"""g$t AS (SELECT $gradExprs, CAST(count(*) AS DOUBLE) AS n
         |        FROM (SELECT f.y, f.x0, f.x1, f.x2, f.x3, f.x4,
         |          w.a0*f.x0 + w.a1*f.x1 + w.a2*f.x2 + w.a3*f.x3 + w.a4*f.x4 AS m
         |          FROM feat f CROSS JOIN w${t - 1} w)),
         |      w$t AS (SELECT $upd FROM w${t - 1}, g$t)""".stripMargin
    }.mkString(",\n      ")
    val trajSelects = (1 to PrRounds).map { t =>
      s"""SELECT $t AS round, a0/100000.0 AS w_bias, a1/100000.0 AS w_len,
         |  a2/100000.0 AS w_ttr, a3/100000.0 AS w_stop, a4/100000.0 AS w_mwl
         |FROM w$t""".stripMargin
    }.mkString("\n      UNION ALL\n      ")
    QueryDef(
      "q207_linear_probe",
      (s, dir) => {
        import s.implicits._
        val feat = Staging.materialize(
          probeFeatures(Tables.loadParallel(s, dir, "documents")),
          "probe_feat")
        var w = Array(0L, 0L, 0L, 0L, 0L)
        val traj = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Double, Double, Double, Double, Double)]
        (1 to PrRounds).foreach { t =>
          require(w.forall(math.abs(_) <= 2000000L),
            s"probe diverged beyond the weight-lattice envelope at round $t")
          val g = probeGradient(feat, w).head()
          val n = g.getLong(5)
          require(n > 0, "empty corpus")
          val grads = (0 to 4).map(g.getLong)
          // loud lattice-headroom guard (int64 sums are exact; the
          // double CONVERSION below is not beyond 2^53)
          grads.foreach(v => require(math.abs(v) < 9.0e15,
            "gradient lattice headroom exhausted — rescale PrSx/PrSw"))
          w = w.zip(grads).map { case (a, gj) =>
            a - math.floor(gj / (20000.0 * n) + 0.5).toLong
          }
          traj += ((t, w(0) / 100000.0, w(1) / 100000.0, w(2) / 100000.0,
            w(3) / 100000.0, w(4) / 100000.0))
        }
        traj.toSeq.toDF("round", "w_bias", "w_len", "w_ttr", "w_stop", "w_mwl")
          .orderBy(col("round"))
      },
      Some(s"""WITH feat AS (SELECT doc_id, n_tok, x0, x1, x2, x3, x4,
          CASE WHEN n_tok >= 50 AND x3 >= 5 THEN 1 ELSE 0 END AS y
        FROM (SELECT doc_id,
          CAST(len(tk) AS BIGINT) AS n_tok,
          CAST(100 AS BIGINT) AS x0,
          CAST(floor(CAST(least(len(tk), 400) AS DOUBLE)/400.0*100.0 + 0.5) AS BIGINT) AS x1,
          CAST(floor(CAST(len(list_distinct(tk)) AS DOUBLE)/CAST(len(tk) AS DOUBLE)*100.0 + 0.5) AS BIGINT) AS x2,
          CAST(floor(CAST(len(list_filter(tk, w -> w IN ('the', 'a'))) AS DOUBLE)/CAST(len(tk) AS DOUBLE)*100.0 + 0.5) AS BIGINT) AS x3,
          CAST(floor(least(CAST(length(replace(text, ' ', '')) AS DOUBLE)/CAST(len(tk) AS DOUBLE), 10.0)*10.0 + 0.5) AS BIGINT) AS x4
          FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS tk
            FROM documents WHERE length(trim(text)) > 0) t) f),
      w0 AS (SELECT CAST(0 AS BIGINT) AS a0, CAST(0 AS BIGINT) AS a1,
        CAST(0 AS BIGINT) AS a2, CAST(0 AS BIGINT) AS a3, CAST(0 AS BIGINT) AS a4),
      $roundCtes
      $trajSelects
      ORDER BY round"""),
      headline = false)
  }

  // ---------------------------------------------------------------
  // q212: χ² discriminative-token selection
  // ---------------------------------------------------------------

  /** χ² feature selection (Yang & Pedersen, ICML 1997 — the standard
    * filter ranking for text classes): for every token t and the
    * high/low-quality document classes (q207's Gopher-style gate), the
    * one-degree-of-freedom chi-square of the 2×2 presence table
    *
    *   χ²(t) = N·(AD − CB)² / ((A+B)(C+D)(A+C)(B+D))
    *
    * with A/B = class-1/class-0 docs CONTAINING t, C/D the complements.
    * The top-χ² tokens are the vocabulary a discriminative probe
    * (q207) or NB scorer (q170) should spend its feature budget on —
    * and the audit showing WHICH surface features separate the classes.
    *
    * Determinism: every cell is an exact int64; the statistic is one
    * fixed-order double expression over them (products ≤ 2⁵³ except
    * the final N·(…)² scaling, which is one correctly-rounded op in
    * both engines) — so even raw doubles compare exactly.
    *
    * Scale: presence = one explode + distinct keyed by (doc, token);
    * then ONE token-keyed count per class — the vocab-sized Heaps
    * bound again; the 2-row class totals broadcast; the ranking is a
    * TakeOrdered(30) over the vocab table, never a global sort. */
  val q212Chi2Tokens: QueryDef = QueryDef(
    "q212_chi2_tokens",
    (s, dir) => {
      val d = Tables.loadParallel(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
      val tk = split(lower(trim(col("text"))), "\\s+")
      val labeled = d.select(col("doc_id"),
        when(size(tk) >= 50 &&
          size(filter(tk, w => w.isin("the", "a"))).cast("double") /
            size(tk).cast("double") >= 0.05, 1L).otherwise(0L).as("y"),
        array_distinct(tk).as("toks"))
      val totals = labeled.groupBy(col("y"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val (n1, n0) = (totals.getOrElse(1L, 0L), totals.getOrElse(0L, 0L))
      val nAll = (n1 + n0).toDouble
      val cells = labeled
        .select(col("y"), explode(col("toks")).as("token"))
        .groupBy(col("token"))
        .agg(sum(col("y")).as("a"),
          sum(lit(1L) - col("y")).as("b"))
      cells
        .select(col("token"), col("a"), col("b"),
          (lit(n1) - col("a")).as("c"), (lit(n0) - col("b")).as("d"))
        // e = AD − CB squared by explicit multiply (pow(x,2) is only
        // 1-ulp-accurate; x*x is the same exact op in both engines)
        .withColumn("e",
          col("a").cast("double") * col("d").cast("double") -
            col("c").cast("double") * col("b").cast("double"))
        .withColumn("chi2",
          lit(nAll) * (col("e") * col("e")) /
            ((col("a") + col("b")).cast("double") *
              (col("c") + col("d")).cast("double") *
              (col("a") + col("c")).cast("double") *
              (col("b") + col("d")).cast("double")))
        .drop("e")
        .filter(col("a") + col("b") > 0 && col("a") + col("c") > 0 &&
          col("b") + col("d") > 0 && col("c") + col("d") > 0)
        .orderBy(col("chi2").desc, col("token"))
        .limit(30)
    },
    Some("""WITH d AS (SELECT doc_id,
          regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        FROM documents WHERE length(trim(text)) > 0),
      lab AS (SELECT doc_id,
          CASE WHEN len(tk) >= 50 AND
            CAST(len(list_filter(tk, w -> w IN ('the', 'a'))) AS DOUBLE) /
              CAST(len(tk) AS DOUBLE) >= 0.05
          THEN 1 ELSE 0 END AS y, list_distinct(tk) AS toks FROM d),
      tot AS (SELECT CAST(sum(y) AS BIGINT) AS n1,
          CAST(sum(1 - y) AS BIGINT) AS n0 FROM lab),
      cells AS (SELECT token, CAST(sum(y) AS BIGINT) AS a,
          CAST(sum(1 - y) AS BIGINT) AS b
        FROM (SELECT y, unnest(toks) AS token FROM lab) GROUP BY token),
      pre AS (SELECT token, a, b, tot.n1 - a AS c, tot.n0 - b AS d,
          CAST(tot.n1 + tot.n0 AS DOUBLE) AS nall,
          CAST(a AS DOUBLE) * CAST(tot.n0 - b AS DOUBLE) -
            CAST(tot.n1 - a AS DOUBLE) * CAST(b AS DOUBLE) AS e
        FROM cells, tot),
      x AS (SELECT token, a, b, c, d,
          nall * (e * e) /
            (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE) *
             CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)) AS chi2
        FROM pre
        WHERE a + b > 0 AND a + c > 0 AND b + d > 0 AND c + d > 0)
      SELECT token, a, b, c, d, chi2 FROM x
      ORDER BY chi2 DESC, token LIMIT 30"""),
    headline = false)

  // ---------------------------------------------------------------
  // q214: exact ROC-AUC / average precision of the quality scorer
  // ---------------------------------------------------------------

  /** Exact threshold-free evaluation of the q170 NB quality scorer
    * against its own seed labeling — ROC-AUC via the Mann-Whitney
    * rank identity (Hanley & McNeil 1982; ties counted ½) and
    * Average Precision in the step-wise interpolation scikit-learn
    * standardized — the classifier scorecard a curation pipeline
    * reads before trusting a keep threshold, computed EXACTLY rather
    * than from sampled curves:
    *
    *   AUC = [Σ_s np_s·(cum nn below s) + ½·np_s·nn_s] / (N₁·N₀)
    *   AP  = Σ_s (np_s/N₁) · cumTP_s/(cumTP_s + cumFP_s)   (s desc)
    *
    * The trick that makes "exact" scale: group BY SCORE first — the
    * rank/cumulative windows then run over the DISTINCT-SCORE table
    * (grid-bounded: quality_lr is rounded to 1e-6), never over the
    * corpus. This is q166's boundary-window discipline applied to
    * classifier evaluation: one score-keyed count shuffle at corpus
    * scale, window + epilogue on the threshold table.
    *
    * Determinism: np/nn cells are exact int64; both statistics are
    * fixed-order double epilogues rounded at 6 (aggregate rule). */
  val q214AucAudit: QueryDef = QueryDef(
    "q214_auc_audit",
    (s, dir) => {
      val d = Tables.loadParallel(s, dir, "documents")
      val scored = nbQualityOf(d, SeedSources)
        .join(d.select(col("doc_id"),
          col("source").isin(SeedSources: _*).as("pos")), "doc_id")
      val grid = scored.groupBy(col("quality_lr").as("score"))
        .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
          sum(when(col("pos"), 0L).otherwise(1L)).as("nn"))
      val wAsc = org.apache.spark.sql.expressions.Window
        .orderBy(col("score"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val wDesc = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      grid
        .withColumn("cum_nn_below", coalesce(sum(col("nn")).over(wAsc), lit(0L)))
        .withColumn("cum_tp", sum(col("np")).over(wDesc))
        .withColumn("cum_fp", sum(col("nn")).over(wDesc))
        .withColumn("tot_np", sum(col("np")).over(wAll))
        .agg(
          sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
          count(lit(1)).as("n_thresholds"),
          round((sum(col("np").cast("double") * col("cum_nn_below") +
              lit(0.5) * col("np") * col("nn")) /
            (sum(col("np")) * sum(col("nn"))).cast("double")), 6).as("auc"),
          round(sum((col("np").cast("double") / col("tot_np")) *
            (col("cum_tp").cast("double") /
              (col("cum_tp") + col("cum_fp")).cast("double"))), 6).as("ap"))
    },
    Some(s"""WITH $nbSqlCtes,
      scored AS (SELECT n.doc_id, n.quality_lr AS score,
          d.source IN ('src0', 'src1', 'src2') AS pos
        FROM nbscore n JOIN documents d USING (doc_id)),
      grid AS (SELECT score,
          CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
          CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
        FROM scored GROUP BY score),
      win AS (SELECT score, np, nn,
          CAST(coalesce(sum(nn) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS cum_nn_below,
          CAST(sum(np) OVER (ORDER BY score DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tp,
          CAST(sum(nn) OVER (ORDER BY score DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_fp
        FROM grid)
      SELECT CAST(sum(np) AS BIGINT) AS n_pos,
        CAST(sum(nn) AS BIGINT) AS n_neg,
        CAST(count(*) AS BIGINT) AS n_thresholds,
        round(sum(CAST(np AS DOUBLE) * cum_nn_below + 0.5 * np * nn) /
          (CAST(sum(np) AS DOUBLE) * sum(nn)), 6) AS auc,
        round(sum((CAST(np AS DOUBLE) / (SELECT sum(np) FROM grid)) *
          (CAST(cum_tp AS DOUBLE) / CAST(cum_tp + cum_fp AS DOUBLE))), 6) AS ap
      FROM win"""),
    headline = false)

  // ---------------------------------------------------------------
  // q215: calibration audit (reliability bins + ECE)
  // ---------------------------------------------------------------

  /** Expected Calibration Error with a 10-bin reliability table
    * (Naeini et al. AAAI 2015; Guo et al. ICML 2017) for the NB
    * posterior q177 thresholds: per equal-width confidence bin, the
    * mean predicted probability vs the observed positive rate, and
    *
    *   ECE = Σ_b (n_b/N) · |acc_b − conf_b|
    *
    * A well-calibrated scorer's keep threshold means what it says; a
    * miscalibrated one silently shifts the effective keep rate — the
    * audit to read BEFORE picking q177's Pareto threshold.
    *
    * Determinism: the posterior is rounded at 6 (q177's convention)
    * BEFORE binning, so bin membership is exact; conf/acc are rounded
    * aggregates, and ECE is computed from the rounded bin values.
    *
    * Scale: one narrow projection over the q170 scoring pass + one
    * 10-row groupBy — nothing new shuffles; the ECE epilogue is a
    * 1-row cross join back onto the bin table. */
  val q215CalibrationEce: QueryDef = QueryDef(
    "q215_calibration_ece",
    (s, dir) => {
      val d = Tables.loadParallel(s, dir, "documents")
      val scored = nbQualityOf(d, SeedSources)
        .join(d.select(col("doc_id"),
          col("source").isin(SeedSources: _*).as("pos")), "doc_id")
        .withColumn("p",
          round(expr("1.0 / (1.0 + exp(-(quality_lr * n_toks)))"), 6))
        .withColumn("bin", least(floor(col("p") * 10).cast("long"), lit(9L)))
      val bins = scored.groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("p")), 6).as("conf"),
          round(avg(when(col("pos"), 1.0).otherwise(0.0)), 6).as("acc"))
      val ece = bins.agg(round(
        sum(col("n").cast("double") * abs(col("acc") - col("conf"))) /
          sum(col("n")).cast("double"), 6).as("ece"))
      bins.crossJoin(broadcast(ece)).orderBy(col("bin"))
    },
    Some(s"""WITH $nbSqlCtes,
      sc AS (SELECT n.doc_id,
          round(1.0 / (1.0 + exp(-(n.quality_lr * n.n_toks))), 6) AS p,
          d.source IN ('src0', 'src1', 'src2') AS pos
        FROM nbscore n JOIN documents d USING (doc_id)),
      b AS (SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
          CAST(count(*) AS BIGINT) AS n,
          round(avg(p), 6) AS conf,
          round(avg(CASE WHEN pos THEN 1.0 ELSE 0.0 END), 6) AS acc
        FROM sc GROUP BY 1),
      e AS (SELECT round(sum(n * abs(acc - conf)) / sum(n), 6) AS ece FROM b)
      SELECT b.bin, b.n, b.conf, b.acc, e.ece FROM b, e ORDER BY b.bin"""),
    headline = false)

  // ---------------------------------------------------------------
  // q220: exact two-sample Kolmogorov-Smirnov test
  // ---------------------------------------------------------------

  /** Exact two-sample Kolmogorov-Smirnov test (Smirnov 1939; the
    * Massey 1951 tables' large-sample form) between the seed-class and
    * crawl-class score distributions of the q170 NB scorer:
    *
    *   D = sup_s |F₁(s) − F₂(s)|,
    *   T = D / √((n₁+n₂)/(n₁·n₂)),  reject at 5% when T > 1.358
    *
    * — the distribution-level complement to q214's AUC (AUC can be
    * high while the shapes still overlap oddly; KS localizes the
    * score s* where the two CDFs diverge most, which is also the
    * natural keep threshold candidate).
    *
    * Exactness at scale, same trick as q214: both empirical CDFs are
    * step functions that only move at observed score values, so
    * grouping BY SCORE first makes the sup a max over the
    * DISTINCT-SCORE grid — windows on the grid, never a corpus sort.
    * D's numerator is exact int64 (|cum₁·n₂ − cum₂·n₁|), so even the
    * argmax is integer-exact; only the final normalizations are
    * doubles, rounded at 6.
    *
    * Scale: one score-keyed count shuffle; everything after runs on
    * the grid table. */
  val q220KsTest: QueryDef = QueryDef(
    "q220_ks_test",
    (s, dir) => {
      val d = Tables.loadParallel(s, dir, "documents")
      val grid = nbQualityOf(d, SeedSources)
        .join(d.select(col("doc_id"),
          col("source").isin(SeedSources: _*).as("pos")), "doc_id")
        .groupBy(col("quality_lr").as("score"))
        .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
          sum(when(col("pos"), 0L).otherwise(1L)).as("nn"))
      val wAsc = org.apache.spark.sql.expressions.Window
        .orderBy(col("score"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      val stepped = grid
        .withColumn("cum1", sum(col("np")).over(wAsc))
        .withColumn("cum2", sum(col("nn")).over(wAsc))
        .withColumn("n1", sum(col("np")).over(wAll))
        .withColumn("n2", sum(col("nn")).over(wAll))
        // integer-exact |F1 − F2| numerator on the common n1·n2 grid
        .withColumn("gap", abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
      stepped
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("gap").desc, col("score"))))
        .filter(col("rn") === 1)
        .select(col("n1"), col("n2"), col("score").as("d_at_score"),
          (round(col("gap").cast("double") /
            (col("n1").cast("double") * col("n2")), 6) + lit(0.0)).as("d_stat"),
          (round((col("gap").cast("double") / (col("n1").cast("double") * col("n2"))) /
            sqrt((col("n1") + col("n2")).cast("double") /
              (col("n1").cast("double") * col("n2"))), 6) + lit(0.0)).as("t_stat"),
          ((col("gap").cast("double") / (col("n1").cast("double") * col("n2"))) /
            sqrt((col("n1") + col("n2")).cast("double") /
              (col("n1").cast("double") * col("n2"))) > 1.358).as("rejected"))
    },
    Some(s"""WITH $nbSqlCtes,
      sc AS (SELECT n.doc_id, n.quality_lr AS score,
          d.source IN ('src0', 'src1', 'src2') AS pos
        FROM nbscore n JOIN documents d USING (doc_id)),
      grid AS (SELECT score,
          CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
          CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
        FROM sc GROUP BY score),
      st AS (SELECT score,
          CAST(sum(np) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1,
          CAST(sum(nn) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum2,
          CAST(sum(np) OVER () AS BIGINT) AS n1,
          CAST(sum(nn) OVER () AS BIGINT) AS n2
        FROM grid),
      g AS (SELECT *, abs(cum1 * n2 - cum2 * n1) AS gap FROM st),
      rk AS (SELECT *, row_number() OVER (ORDER BY gap DESC, score) AS rn
        FROM g)
      SELECT n1, n2, score AS d_at_score,
        round(CAST(gap AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2), 6) + 0.0 AS d_stat,
        round((CAST(gap AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)) /
          sqrt(CAST(n1 + n2 AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)), 6) + 0.0
          AS t_stat,
        (CAST(gap AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)) /
          sqrt(CAST(n1 + n2 AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)) > 1.358
          AS rejected
      FROM rk WHERE rn = 1"""),
    headline = false)

  val all: Seq[QueryDef] =
    Seq(q170NbQuality, q177ParetoResample, q188SignalAgreement,
      q207LinearProbe, q212Chi2Tokens, q214AucAudit, q215CalibrationEce,
      q220KsTest)
}
