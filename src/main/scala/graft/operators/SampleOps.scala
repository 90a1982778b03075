package graft.operators

import graft.{QueryDef, Staging, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-set construction operators: the sampling / mining passes
  * that turn a cleaned corpus into the exact token stream a run trains
  * on — temperature-scaled source rebalancing (the UniMax / multilingual-T5
  * mixing rule), frequency-weighted soft deduplication (keep duplicates
  * with probability 1/cluster-size instead of hard canonical selection),
  * stratified held-out splits, tokenizer-vocabulary coverage curves,
  * and contrastive triplet mining over embeddings (the DPR / SimCSE
  * hard-negative pass). All public-knowledge designs.
  *
  * Shared scale theme (same as MixOps): every corpus-global structure —
  * the per-source count table, the duplicate-cluster size table keyed by
  * content hash, the ranked vocabulary — is tiny or key-sublinear
  * relative to the corpus, so decisions ride a broadcast or a single
  * equi-keyed shuffle while the corpus itself stays in narrow,
  * codegen'd map stages. Every keep/assign decision is derived from a
  * content or id hash bucket, never from `rand()`: reruns and the
  * DuckDB oracle see bit-identical outcomes.
  */
object SampleOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.loadParallel(s, dir, "documents")

  /** 16-bit hash bucket (0..65535) from the first 4 hex chars of a
    * digest — MixOps.bucketExpr at its full, divisor-free modulus. */
  private def bucket64k(hashSql: String): String =
    MixOps.bucketExpr(hashSql, 65536)

  // ---------------------------------------------------------------
  // q115: temperature-scaled source resampling (UniMax / mT5 shape)
  // ---------------------------------------------------------------

  /** Per-source UniMax τ=0.5 keep thresholds over a 16-bit bucket
    * space: `thresh = floor(65536·sqrt(n_min/n_s))` — the smallest
    * source keeps everything, larger sources are flattened toward the
    * τ=0.5 temperature mixture. Tiny output (one row per source) —
    * always broadcast-joined back. Shared by q115 and the
    * `Curation.run(temperatureBalance)` stage. */
  def temperatureThresholds(docs: DataFrame): DataFrame = {
    // n_min as an unpartitioned window over the per-source count table
    // (one row per source — skew-free by construction): the nested
    // agg + crossJoin form re-ran the corpus-wide count subtree once
    // per consumer; the window reads it once
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_source"))
    counts
      .withColumn("n_min", min(col("n_source"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("source"), col("n_source"),
        floor(lit(65536) * sqrt(col("n_min").cast("double") / col("n_source")))
          .cast("long").as("thresh"))
  }

  /** Temperature-scaled source rebalancing: sample source `s` at rate
    * `sqrt(n_min / n_s)` — i.e. the τ=0.5 temperature flattening of
    * the source distribution (effective mixture ∝ n_s^τ), normalized
    * so the smallest source keeps everything (downsample-only, the
    * UniMax closed form; mT5 §3.2 uses the same `p ∝ n^τ` rule). The
    * keep decision compares the doc's content-hash bucket against an
    * integer threshold, so the sample is deterministic and composes
    * with q93's split.
    *
    * Cross-engine parity: `sqrt` is IEEE-754 correctly rounded in both
    * engines and the division/multiply operand order is textually
    * identical, so the threshold is bit-exact — no FP-boundary risk
    * (unlike interpolated percentiles, see q102's note). Everything
    * else is integer.
    *
    * Scale: the per-source count table is ≤ thousands of rows against
    * a corpus of billions — one tiny agg, broadcast back; the keep
    * decision is a narrow codegen'd comparison. No corpus shuffle at
    * all beyond the count's partial agg. */
  val q115TemperatureResample: QueryDef = QueryDef(
    "q115_temperature_resample",
    (s, dir) => {
      val d = docs(s, dir)
      d.join(broadcast(temperatureThresholds(d)), Seq("source"))
        .select(col("doc_id"), col("source"), col("n_source"), col("thresh"),
          (expr(bucket64k("sha2(text, 256)")) < col("thresh")).as("kept"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH c AS (SELECT source, count(*) AS n_source FROM documents GROUP BY source),
      m AS (SELECT min(n_source) AS n_min FROM c),
      r AS (SELECT source, n_source,
        CAST(floor(65536 * sqrt(CAST(n_min AS DOUBLE) / n_source)) AS BIGINT) AS thresh
        FROM c, m)
      SELECT d.doc_id, d.source, r.n_source, r.thresh,
        ${bucket64k("sha256(d.text)")} < r.thresh AS kept
      FROM documents d JOIN r USING (source) ORDER BY d.doc_id"""),
    headline = true)

  // ---------------------------------------------------------------
  // q116: soft deduplication (cluster-size-weighted sampling)
  // ---------------------------------------------------------------

  /** Soft dedup: instead of hard canonical selection (q22/q91 keep
    * exactly the min-id copy), keep each member of an exact-duplicate
    * cluster with probability 1/m (m = cluster size), so a cluster
    * survives with exactly-one copy *in expectation* while retaining
    * an unbiased sample of which copy — the frequency-reweighting idea
    * behind soft deduplication (SoftDeDup, He et al. 2024) applied as
    * a sampling rule (Lee et al. 2022's keep-one policy is the m→∞
    * hard limit). The coin is the doc_id-hash bucket — independent of
    * the text hash that defines the cluster (a content-hash coin would
    * be constant across the cluster and keep all-or-none).
    *
    * All-integer decision (`bucket · m < 65536`): bit-exact parity.
    *
    * Scale: one shuffle keyed on the 64-hex content hash (q22's exact
    * dedup shuffle) to size clusters, the same key joins sizes back;
    * the coin is a narrow projection. Nothing is N². */
  val q116SoftDedup: QueryDef = QueryDef(
    "q116_soft_dedup",
    (s, dir) => {
      val d = docs(s, dir)
      // pinned: the (doc_id, h) frame feeds the cluster-size count AND
      // the join back — unpinned, the corpus is scanned and sha-hashed
      // once per consumer. Join (not a window over h) so AQE skew
      // handling still splits a mass-duplicated cluster at scale.
      val hashed = Staging.materialize(
        d.select(col("doc_id"), sha2(col("text"), 256).as("h")),
        "q116_hashed")
      val sizes = hashed.groupBy(col("h")).agg(count(lit(1)).as("grp_size"))
      hashed.join(sizes, Seq("h"))
        .select(col("doc_id"), col("grp_size"),
          (expr(bucket64k("sha2(cast(doc_id as string), 256)")).cast("long")
            * col("grp_size") < 65536).as("kept"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH g AS (SELECT sha256(text) AS h, count(*) AS grp_size
        FROM documents GROUP BY sha256(text))
      SELECT d.doc_id, g.grp_size,
        CAST(${bucket64k("sha256(CAST(d.doc_id AS VARCHAR))")} AS BIGINT)
          * g.grp_size < 65536 AS kept
      FROM documents d JOIN g ON sha256(d.text) = g.h
      ORDER BY d.doc_id"""),
    headline = true)

  // ---------------------------------------------------------------
  // q118: contrastive triplet mining (hard negatives)
  // ---------------------------------------------------------------

  private val NAnchors = 8

  /** Contrastive triplet mining: for each anchor vector, emit the
    * (anchor, positive, hard-negative) triple an embedding fine-tune
    * trains on — positive = highest-similarity vector sharing the
    * anchor's label, hard negative = highest-similarity vector with a
    * DIFFERENT label (the in-batch/hard-negative mining pass of DPR,
    * Karpukhin et al. 2020, and SimCSE). Similarity is the same dot
    * score as q30, rounded to 6 decimals BEFORE ranking so both
    * engines rank identical values (q31's convention).
    *
    * Scale: the anchor batch is broadcast; ONE corpus scan scores all
    * anchors (never one pass per anchor), and the per-anchor argmax
    * shuffles only (anchor, candidate, sim) slim rows keyed on the
    * anchor id. With millions of anchors the scan side swaps for the
    * IVF probe path (q56/q100) unchanged — mining is just batched ANN
    * with a label predicate. */
  val q118TripletMining: QueryDef = QueryDef(
    "q118_triplet_mining",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val anchors = e.filter(col("vec_id") < NAnchors)
        .select(col("vec_id").as("a_id"), col("embedding").as("av"),
          col("label").as("a_label"))
      val scored = e.crossJoin(broadcast(anchors))
        .filter(col("vec_id") =!= col("a_id"))
        .select(col("a_id"), col("a_label"), col("vec_id"), col("label"),
          round(expr("dot_product_f(embedding, av)"), 6).as("sim"))
      // per-anchor argmax as a partial-aggregatable min over
      // (-sim, vec_id): candidates collapse map-side before the a_id
      // shuffle instead of sorting N×anchors rows through a window
      val pos = scored.filter(col("label") === col("a_label"))
        .groupBy(col("a_id"), col("a_label"))
        .agg(min(struct((-col("sim")).as("ns"), col("vec_id"))).as("m"))
        .select(col("a_id"), col("a_label"),
          col("m.vec_id").as("pos_id"), (-col("m.ns")).as("pos_sim"))
      val neg = scored.filter(col("label") =!= col("a_label"))
        .groupBy(col("a_id"))
        .agg(min(struct((-col("sim")).as("ns"), col("vec_id"))).as("m"))
        .select(col("a_id"), col("m.vec_id").as("neg_id"),
          (-col("m.ns")).as("neg_sim"))
      pos.join(neg, Seq("a_id")).orderBy(col("a_id"))
    },
    Some(s"""WITH a AS (SELECT vec_id AS a_id, label AS a_label,
          embedding::DOUBLE[] AS av FROM embeddings WHERE vec_id < $NAnchors),
      scored AS (SELECT a.a_id, a.a_label, e.vec_id, e.label,
          round(list_sum(list_transform(list_zip(e.embedding::DOUBLE[], a.av),
            x -> x[1] * x[2])), 6) AS sim
        FROM embeddings e, a WHERE e.vec_id <> a.a_id),
      pos AS (SELECT a_id, a_label, vec_id AS pos_id, sim AS pos_sim FROM (
        SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, vec_id) AS rk
        FROM scored WHERE label = a_label) x WHERE rk = 1),
      neg AS (SELECT a_id, vec_id AS neg_id, sim AS neg_sim FROM (
        SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY sim DESC, vec_id) AS rk
        FROM scored WHERE label <> a_label) x WHERE rk = 1)
      SELECT pos.a_id, pos.a_label, pos.pos_id, pos.pos_sim,
        neg.neg_id, neg.neg_sim
      FROM pos JOIN neg USING (a_id) ORDER BY pos.a_id"""))

  /** IVF-backed triplet mining — q118's semantics on the ANN scale
    * path: every anchor probes only its `nprobe` nearest IVF cells, so
    * the candidate scan per anchor is ~nprobe/C of the index instead
    * of all of it (q56's pruning applied to a BATCH of queries — the
    * probe table has one row per (anchor, cell) and joins the cell
    * assignment equi-keyed; no per-anchor scan ever happens). At
    * nprobe = C this is exactly the brute miner (spec-proven equal);
    * below C it trades the same recall the IVF retriever does. The
    * cell assignment is the index build — shared by every anchor batch
    * and by the retrieval side (q56/q100). */
  def tripletMiningIvf(e: DataFrame, nAnchors: Int, centroids: DataFrame,
      nprobe: Int): DataFrame = {
    val anchors = e.filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("a_id"), col("embedding").as("av"),
        col("label").as("a_label"))
    // per-anchor probe set: anchors × C centroids, both broadcast-scale
    val wProbe = Window.partitionBy(col("a_id"))
      .orderBy(col("qdist"), col("cid"))
    val probed = anchors.crossJoin(broadcast(centroids))
      .select(col("a_id"), col("cid"),
        expr("l2_sq_f(av, cv)").as("qdist"))
      .withColumn("rk", row_number().over(wProbe))
      .filter(col("rk") <= nprobe)
      .select(col("a_id"), col("cid").as("cell"))
    val assigned = AnnOps.assignCells(e, centroids)
      .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
    val scored = assigned.join(broadcast(probed), Seq("cell"))
      .join(broadcast(anchors), Seq("a_id"))
      .filter(col("vec_id") =!= col("a_id"))
      .select(col("a_id"), col("a_label"), col("vec_id"), col("label"),
        round(expr("dot_product_f(embedding, av)"), 6).as("sim"))
    // same partial-aggregatable per-anchor argmax as q118
    val pos = scored.filter(col("label") === col("a_label"))
      .groupBy(col("a_id"), col("a_label"))
      .agg(min(struct((-col("sim")).as("ns"), col("vec_id"))).as("m"))
      .select(col("a_id"), col("a_label"),
        col("m.vec_id").as("pos_id"), (-col("m.ns")).as("pos_sim"))
    val neg = scored.filter(col("label") =!= col("a_label"))
      .groupBy(col("a_id"))
      .agg(min(struct((-col("sim")).as("ns"), col("vec_id"))).as("m"))
      .select(col("a_id"), col("m.vec_id").as("neg_id"),
        (-col("m.ns")).as("neg_sim"))
    pos.join(neg, Seq("a_id")).orderBy(col("a_id"))
  }

  // ---------------------------------------------------------------
  // q119: stratified held-out split (per-source quota)
  // ---------------------------------------------------------------

  /** Stratified eval-set construction: within every source, order docs
    * by (content-hash bucket, doc_id) and hold out the first
    * ceil(n_s/10) — an exactly-10%-per-stratum split, so small sources
    * are represented in eval instead of vanishing under a global
    * sample. Content-hash ordering keeps the holdout stable across
    * re-ingests (q93's property); the quota test `(rk-1)·10 < n_s` is
    * all-integer.
    *
    * Scale: one shuffle keyed on source for the per-stratum rank. The
    * source key is FEW and SKEWED at corpus scale, so the exact-quota
    * rank form is for eval-sized strata; the rank-free form — keep
    * `bucket < 6554` for an approximate 10% — needs no shuffle at all
    * and is what the training-side split uses (q93/q94). This operator
    * is the exact-quota complement for building small eval sets. */
  val q119StratifiedSplit: QueryDef = QueryDef(
    "q119_stratified_split",
    (s, dir) => {
      val d = docs(s, dir)
      val b = d.select(col("doc_id"), col("source"),
        expr(bucket64k("sha2(text, 256)")).cast("long").as("bucket"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("bucket"), col("doc_id"))
      val cw = Window.partitionBy(col("source"))
      b.withColumn("rk", row_number().over(w))
        .withColumn("n_source", count(lit(1)).over(cw))
        .select(col("doc_id"), col("source"), col("rk"), col("n_source"),
          ((col("rk") - 1) * 10 < col("n_source")).as("is_eval"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH b AS (SELECT doc_id, source,
        CAST(${bucket64k("sha256(text)")} AS BIGINT) AS bucket FROM documents)
      SELECT doc_id, source, rk, n_source, (rk - 1) * 10 < n_source AS is_eval FROM (
        SELECT doc_id, source,
          row_number() OVER (PARTITION BY source ORDER BY bucket, doc_id) AS rk,
          count(*) OVER (PARTITION BY source) AS n_source
        FROM b) x ORDER BY doc_id"""))

  // ---------------------------------------------------------------
  // q120: vocabulary coverage / OOV-rate curve
  // ---------------------------------------------------------------

  private val VocabSizes = Seq(16, 64, 256, 1024, 4096)

  /** Vocabulary coverage curve: for candidate vocab sizes V, the
    * fraction of corpus token OCCURRENCES not covered by the top-V
    * most frequent tokens — the OOV-rate-vs-V diagnostic that sizes a
    * tokenizer vocabulary before training one (the coverage argument
    * in SentencePiece's `character_coverage` and BPE vocab-size
    * selection). Ranking ties break on the token string (ASCII corpus:
    * both engines compare bytewise).
    *
    * Scale: the ONLY corpus-scale work is the token-count aggregate
    * (map-side partial combine does most of it); the ranked vocabulary
    * is corpus-sublinear, so the global rank window and the V-fold
    * cross join run on a vocab-sized frame. Output is |V| rows. */
  val q120VocabCoverage: QueryDef = QueryDef(
    "q120_vocab_coverage",
    (s, dir) => {
      val tok = docs(s, dir)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tk"))
      val counts = tok.groupBy(col("tk")).agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum(col("cnt")).as("total"),
        count(lit(1)).as("n_vocab"))
      // global window on a vocab-sized frame (corpus-sublinear) — the
      // single-partition sort is over distinct tokens, not the corpus
      val ranked = counts.withColumn("rk",
        row_number().over(Window.orderBy(col("cnt").desc, col("tk"))))
      ranked.crossJoin(broadcast(total))
        .select(explode(typedLit(VocabSizes)).as("v"), col("rk"), col("cnt"),
          col("total"), col("n_vocab"))
        .filter(col("rk") <= col("v"))
        .groupBy(col("v"), col("total"), col("n_vocab"))
        .agg(sum(col("cnt")).as("covered"))
        .select(col("v"), col("n_vocab"), col("total"), col("covered"),
          round(lit(1.0) - col("covered").cast("double") / col("total"), 6)
            .as("oov_rate"))
        .orderBy(col("v"))
    },
    Some(s"""WITH tok AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tk
        FROM documents),
      c AS (SELECT tk, count(*) AS cnt FROM tok GROUP BY tk),
      t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_vocab FROM c),
      r AS (SELECT tk, cnt, row_number() OVER (ORDER BY cnt DESC, tk) AS rk FROM c),
      v AS (SELECT unnest([${VocabSizes.mkString(", ")}]) AS v)
      SELECT v.v, t.n_vocab, t.total, CAST(sum(r.cnt) AS BIGINT) AS covered,
        round(1.0 - CAST(sum(r.cnt) AS DOUBLE) / t.total, 6) AS oov_rate
      FROM r, v, t WHERE r.rk <= v.v
      GROUP BY v.v, t.n_vocab, t.total
      ORDER BY v.v"""))

  // ---------------------------------------------------------------
  // q121: UniMax budget allocation (water-filling)
  // ---------------------------------------------------------------

  /** UniMax budget allocation (Chung et al. 2023, Algorithm 1 —
    * public): split a total training budget B across sources by
    * water-filling — every source smaller than the final water level
    * contributes ALL its data, the rest are capped at one equal level
    * c with `Σ min(size_s, c) ≈ B`. This is the budgeted counterpart
    * of q115's rate rule (UniMax's own framing: uniform over sources
    * until a source runs out of data). Budget here: half the corpus's
    * total chars. Closed form instead of the paper's loop: source k
    * (ascending by size) is fully taken iff
    * `cum_k + size_k·(S-k) <= B` (feasible to give every LARGER
    * source at least size_k); the level is the integer mean of what
    * remains. All-integer → bit-exact parity; the floor remainder
    * (< #capped sources) stays unallocated, as in the paper's floor.
    *
    * Scale: everything after the per-source size aggregate runs on the
    * SOURCE table (≤ thousands of rows) — the rank window, the
    * feasibility scan and the level are a driver-sized epilogue to one
    * corpus-scale partial-agg count. */
  /** Water-filling allocation over an arbitrary (source, n_chars)
    * frame — q121's body, callable on synthetic skews in specs. */
  def unimaxAlloc(d: DataFrame): DataFrame = {
      val sizes = d.groupBy(col("source")).agg(sum(col("n_chars")).as("sz"))
      val w = Window.orderBy(col("sz"), col("source"))
      val ranked = sizes
        .withColumn("rk", row_number().over(w))
        .withColumn("cum", sum(col("sz")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = sizes.agg(sum(col("sz")).as("total"), count(lit(1)).as("s_cnt"))
      val j = ranked.crossJoin(broadcast(tot))
        .withColumn("budget", expr("total div 2"))
        .withColumn("is_full",
          col("cum") + col("sz") * (col("s_cnt") - col("rk")) <= col("budget"))
      val lvl = j.agg(
          min(col("budget")).as("budget"), min(col("s_cnt")).as("s_cnt"),
          sum(when(col("is_full"), col("sz")).otherwise(0L)).as("cum_full"),
          sum(when(col("is_full"), 1L).otherwise(0L)).as("t"))
        .select(when(col("s_cnt") === col("t"), lit(0L))
          .otherwise(expr("(budget - cum_full) div (s_cnt - t)")).as("level"))
      j.crossJoin(broadcast(lvl))
        .select(col("source"), col("sz"), col("is_full"),
          when(col("is_full"), col("sz"))
            .otherwise(least(col("level"), col("sz"))).as("alloc"))
        .orderBy(col("source"))
  }

  val q121UnimaxAlloc: QueryDef = QueryDef(
    "q121_unimax_alloc",
    (s, dir) => unimaxAlloc(docs(s, dir)),
    Some("""WITH sz AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS sz
        FROM documents GROUP BY source),
      tot AS (SELECT CAST(sum(sz) AS BIGINT) AS total, count(*) AS s_cnt FROM sz),
      r AS (SELECT source, sz,
          row_number() OVER (ORDER BY sz, source) AS rk,
          CAST(sum(sz) OVER (ORDER BY sz, source
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        FROM sz),
      j AS (SELECT r.source, r.sz, r.rk, r.cum,
          tot.total // 2 AS budget, tot.s_cnt,
          (r.cum + r.sz * (tot.s_cnt - r.rk)) <= (tot.total // 2) AS is_full
        FROM r, tot),
      lv AS (SELECT CASE
          WHEN count(*) = CAST(sum(CASE WHEN is_full THEN 1 ELSE 0 END) AS BIGINT)
            THEN CAST(0 AS BIGINT)
          ELSE (min(budget) - CAST(sum(CASE WHEN is_full THEN sz ELSE 0 END) AS BIGINT))
            // (count(*) - CAST(sum(CASE WHEN is_full THEN 1 ELSE 0 END) AS BIGINT))
          END AS level FROM j)
      SELECT j.source, j.sz, j.is_full,
        CASE WHEN j.is_full THEN j.sz ELSE LEAST(lv.level, j.sz) END AS alloc
      FROM j, lv ORDER BY j.source"""))

  // ---------------------------------------------------------------
  // q151: preference-pair mining over near-dup clusters
  // ---------------------------------------------------------------

  /** Preference-pair construction (the DPO/RLHF-style mining pass):
    * inside each near-duplicate cluster — documents that say the same
    * thing — pair the highest-quality phrasing against the lowest as
    * (chosen, rejected). Near-dup clusters are the natural source of
    * same-content/different-quality pairs: semantics are held constant
    * by construction, so the quality delta is the only signal the pair
    * teaches. Clusters come from q91's SimHash components
    * ([[DedupOps.minLabelComponents]]); quality is q46's type-token
    * ratio with a doc_id tie-break, so the selection is deterministic.
    * Pairs with zero margin (identical scores) are dropped — they
    * carry no preference signal.
    *
    * Scale: the cluster table covers only dup-edge endpoints (orders
    * of magnitude smaller than the corpus); the quality column is one
    * narrow codegen'd pass joined in by doc_id. Both row_number
    * windows and the closing groupBy share the cluster key, so the
    * whole selection is ONE shuffle of the dup-subgraph table — the
    * corpus is never re-shuffled (plan-checked: single exchange over
    * the member table, no cartesian). */
  val q151PreferencePairs: QueryDef = QueryDef(
    "q151_preference_pairs",
    (s, dir) => {
      val pairs = DedupOps.simhashPairs(s, dir)
        .select(col("doc_a"), col("doc_b"))
      val clusters = DedupOps.minLabelComponents(pairs)
        .select(col("id").as("doc_id"), col("label").as("cluster"))
      val tk = split(trim(col("text")), "\\s+")
      val quality = docs(s, dir).select(col("doc_id"),
        round(size(array_distinct(tk)).cast("double") / size(tk), 6).as("ttr"))
      val member = clusters.join(quality, Seq("doc_id"))
      val wTop = Window.partitionBy(col("cluster"))
        .orderBy(col("ttr").desc, col("doc_id").asc)
      val wBot = Window.partitionBy(col("cluster"))
        .orderBy(col("ttr").asc, col("doc_id").desc)
      member
        .withColumn("rn_top", row_number().over(wTop))
        .withColumn("rn_bot", row_number().over(wBot))
        .filter(col("rn_top") === 1 || col("rn_bot") === 1)
        .groupBy(col("cluster"))
        .agg(
          max(when(col("rn_top") === 1,
            struct(col("doc_id"), col("ttr")))).as("ch"),
          max(when(col("rn_bot") === 1,
            struct(col("doc_id"), col("ttr")))).as("rj"))
        .select(col("cluster"),
          col("ch.doc_id").as("chosen_id"), col("ch.ttr").as("chosen_ttr"),
          col("rj.doc_id").as("rejected_id"), col("rj.ttr").as("rejected_ttr"),
          round(col("ch.ttr") - col("rj.ttr"), 6).as("margin"))
        .filter(col("margin") > 0)
        .orderBy(col("cluster"))
    },
    Some(s"""WITH RECURSIVE
      ${DedupOps.clusterReachSqlCtes},
      canon AS (SELECT src AS doc_id, min(dst) AS cluster
        FROM reach GROUP BY src),
      q AS (SELECT doc_id,
          round(CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 6) AS ttr
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
          FROM documents) x),
      m AS (SELECT c.cluster, c.doc_id, q.ttr,
          row_number() OVER (PARTITION BY c.cluster
            ORDER BY q.ttr DESC, c.doc_id ASC) AS rn_top,
          row_number() OVER (PARTITION BY c.cluster
            ORDER BY q.ttr ASC, c.doc_id DESC) AS rn_bot,
          count(*) OVER (PARTITION BY c.cluster) AS sz
        FROM canon c JOIN q USING (doc_id))
      SELECT ch.cluster, ch.doc_id AS chosen_id, ch.ttr AS chosen_ttr,
        rj.doc_id AS rejected_id, rj.ttr AS rejected_ttr,
        round(ch.ttr - rj.ttr, 6) AS margin
      FROM m ch JOIN m rj
        ON ch.cluster = rj.cluster AND ch.rn_top = 1 AND rj.rn_bot = 1
          AND ch.sz >= 2
      WHERE round(ch.ttr - rj.ttr, 6) > 0
      ORDER BY ch.cluster"""))

  // ---------------------------------------------------------------
  // q156: bottom-k-by-hash uniform sample per source
  // ---------------------------------------------------------------

  /** Deterministic uniform sample WITHOUT replacement: per source, keep
    * the k=10 documents with the smallest content-hash bucket (doc_id
    * tie-break) — the bottom-k sketch as a sampler. Unlike a rate
    * sample (q94), the yield is EXACTLY k per group; unlike
    * `TABLESAMPLE`/`rand()`, the pick is a pure function of content,
    * so re-runs, re-ingests under new ids, and the DuckDB oracle all
    * select the same rows, and the sample composes with q93's split
    * (same hash space).
    *
    * Scale: bottom-k is MERGEABLE — each partition keeps its local k
    * smallest, merge keeps the k smallest of the union, so the rank
    * window's input can always be pre-cut to k·partitions rows; the
    * one shuffle is keyed on source exactly like q119's quota split.
    * Growing corpora never invalidate earlier picks retroactively —
    * a doc leaves the sample only when a smaller-hash doc arrives,
    * the property that makes hash-bottom-k the streaming-uniform
    * sampler (Cohen & Kaplan's bottom-k sketches). */
  val q156BottomkSample: QueryDef = QueryDef(
    "q156_bottomk_sample",
    (s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("bucket"), col("doc_id"))
      docs(s, dir)
        .withColumn("bucket", expr(bucket64k("sha2(text, 256)")).cast("long"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 10)
        .select(col("source"), col("rk"), col("doc_id"), col("bucket"))
        .orderBy(col("source"), col("rk"))
    },
    Some(s"""SELECT source, rk, doc_id, bucket FROM (
        SELECT source, doc_id,
          CAST(${bucket64k("sha256(text)")} AS BIGINT) AS bucket,
          CAST(row_number() OVER (PARTITION BY source
            ORDER BY ${bucket64k("sha256(text)")}, doc_id) AS BIGINT) AS rk
        FROM documents) x
      WHERE rk <= 10 ORDER BY source, rk"""))

  // ---------------------------------------------------------------
  // q165: deterministic epoch shuffle (training-order materialization)
  // ---------------------------------------------------------------

  /** Deterministic training-order shuffle: every epoch a training job
    * needs the corpus in a NEW pseudorandom order that is reproducible
    * across reruns and independent of ingest order. Each doc's position
    * is derived from sha-256 of (doc_id, epoch seed): the first hex
    * char picks one of 16 shards, the full digest orders docs inside
    * the shard — change the seed, get an uncorrelated permutation;
    * rerun the job, get the identical one (the content-deterministic
    * discipline of q119/q156 applied to epoch ordering).
    *
    * Scale: one shuffle keyed on the shard + a per-shard sort — which
    * is the honest cost: materializing a training order IS a
    * distributed sort, but a RANGE-FREE one (the shard key is uniform
    * by construction, so no sampling pass and no skew; shard count
    * scales with the cluster). No global ordering is ever collected. */
  val q165EpochShuffle: QueryDef = QueryDef(
    "q165_epoch_shuffle",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val seeded = docs(s, dir)
        .select(col("doc_id"),
          sha2(concat(col("doc_id").cast("string"), lit(":epoch1")), 256).as("h"))
        .withColumn("shard",
          (instr(lit("0123456789abcdef"), substring(col("h"), 1, 1)) - 1)
            .cast("long"))
      seeded
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id")))
          .cast("long"))
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("shard"), col("pos"))
    },
    Some("""WITH s AS (SELECT doc_id,
          sha256(CAST(doc_id AS VARCHAR) || ':epoch1') AS h
        FROM documents),
      sh AS (SELECT doc_id, h,
          CAST(instr('0123456789abcdef', substr(h, 1, 1)) - 1 AS BIGINT) AS shard
        FROM s)
      SELECT doc_id, shard,
        CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
      FROM sh ORDER BY shard, pos"""))

  // ---------------------------------------------------------------
  // q166: token-budget subset selection (quality-ordered trim)
  // ---------------------------------------------------------------

  private val TokenBudget = 5000L

  /** Token-budget data selection (the SlimPajama-style trim): take
    * documents in quality order — stopword fraction, the GPT-3-era
    * cheap quality proxy, quantized to 4 decimals — until the token
    * budget is spent; ties broken by doc_id, and a doc is taken only
    * if it fits the remaining budget-prefix (cumulative <= budget).
    *
    * Scale: the naive form is a GLOBAL window over (score desc) — a
    * single-partition sort of the corpus. Instead: (1) per-score-bucket
    * token totals (quantization bounds the bucket table at 10^4+1 rows
    * regardless of corpus size), (2) the cutoff bucket is found
    * driver-side on that bounded table, (3) every doc strictly above
    * the cutoff is taken with NO ordering at all, and (4) only the
    * single boundary bucket (≈ corpus/10^4) pays a window for the
    * remaining-budget prefix. The oracle runs the naive global-window
    * form — proving the two-phase plan computes the identical set. */
  val q166BudgetSelect: QueryDef = QueryDef(
    "q166_budget_select",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val Stop = "the,a,an,of,to,and,in,is,on,for,with,as,by,at,it"
      val scored = docs(s, dir)
        .select(col("doc_id"),
          CorpusOps.nTokens(col("text")).as("n_tokens"),
          expr(s"""round(size(filter(split(lower(trim(text)), '\\\\s+'),
            x -> array_contains(split('$Stop', ','), x))) /
            cast(size(split(lower(trim(text)), '\\\\s+')) as double), 4)""")
            .as("score"))
      // bounded bucket table -> driver-side cutoff: the first bucket
      // (score-descending) that does NOT fully fit is the boundary;
      // everything above it is taken whole, everything below excluded
      val buckets = scored.groupBy(col("score"))
        .agg(sum(col("n_tokens")).as("bucket_tokens"))
        .collect().map(r => (r.getDouble(0), r.getLong(1)))
        .sortBy { case (sc, _) => -sc }
      var before = 0L
      var cutoff = Double.NegativeInfinity // default: every bucket fits
      var found = false
      buckets.foreach { case (sc, t) =>
        if (!found) {
          if (before + t > TokenBudget) { cutoff = sc; found = true }
          else before += t
        }
      }
      val above = scored.filter(col("score") > cutoff)
      val boundary = scored.filter(col("score") === cutoff)
        .withColumn("cumb", sum(col("n_tokens")).over(
          Window.partitionBy(col("score")).orderBy(col("doc_id"))))
        .filter(col("cumb") + before <= TokenBudget)
        .drop("cumb")
      above.unionByName(boundary)
        .select(col("doc_id"), col("score"), col("n_tokens"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH sc AS (SELECT doc_id,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) END AS n_tokens,
          round(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
            x -> list_contains(['the','a','an','of','to','and','in','is','on','for','with','as','by','at','it'], x)))
            / CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS DOUBLE), 4) AS score
        FROM documents),
      c AS (SELECT *, sum(n_tokens) OVER (ORDER BY score DESC, doc_id) AS cum FROM sc)
      SELECT doc_id, score, n_tokens FROM c WHERE cum <= $TokenBudget
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------
  // q171: probability-proportional-to-size Poisson sampling
  // ---------------------------------------------------------------

  /** PPS Poisson sampling with Horvitz-Thompson weights (Hájek 1964 /
    * survey-sampling classic; the standard way to draw a small audit
    * or eval slice whose statistics are unbiased for the full corpus):
    * each document enters the sample INDEPENDENTLY with inclusion
    * probability π_i = min(1, n·w_i/W) proportional to its size
    * (w = n_chars, n = 100 expected picks), and sampled rows carry the
    * 1/π_i estimator weight that makes weighted sums unbiased.
    *
    * The coin is the doc-id hash bucket and the keep decision is the
    * EXACT INTEGER comparison `u·W < n·w_i·2^16` (u ∈ [0, 2^16)) — no
    * float ever enters the sample membership, so reruns, any
    * partitioning, and the DuckDB oracle agree bit-for-bit (the q116
    * all-integer-decision rule applied to weighted inclusion). The
    * reported π and 1/π doubles are derived for the estimator columns
    * only and rounded. At sf-scale `u·W` stays far inside int64; a
    * 100 TB deployment widens u to 32 bits and the product to
    * DECIMAL(38) — same rule, wider integers.
    *
    * Scale: ONE 1-row total (partial-agg sum), broadcast back; the
    * decision is a narrow codegen'd projection — no corpus shuffle at
    * all, and unlike sort-based reservoir sampling there is no global
    * order anywhere. */
  val q171PpsSample: QueryDef = QueryDef(
    "q171_pps_sample",
    (s, dir) => {
      val d = docs(s, dir)
      val tot = d.agg(sum(col("n_chars")).as("w_total"))
      d.crossJoin(broadcast(tot))
        .withColumn("u", expr(bucket64k("sha2(cast(doc_id as string), 256)")))
        .withColumn("pi",
          least(lit(1.0), lit(100) * col("n_chars") / col("w_total").cast("double")))
        .withColumn("sampled",
          col("u").cast("long") * col("w_total") <
            lit(100L) * col("n_chars") * lit(65536L))
        .select(col("doc_id"), col("n_chars"),
          round(col("pi"), 6).as("incl_prob"), col("sampled"),
          when(col("sampled"), round(lit(1.0) / col("pi"), 6)).as("ht_weight"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS w_total FROM documents),
      x AS (SELECT doc_id, n_chars,
          CAST(${bucket64k("sha256(CAST(doc_id AS VARCHAR))")} AS BIGINT) AS u,
          least(1.0, 100 * n_chars / CAST(w_total AS DOUBLE)) AS pi,
          u * w_total < 100 * n_chars * 65536 AS sampled
        FROM documents, tot)
      SELECT doc_id, n_chars, round(pi, 6) AS incl_prob, sampled,
        CASE WHEN sampled THEN round(1.0 / pi, 6) END AS ht_weight
      FROM x ORDER BY doc_id"""))

  // ---------------------------------------------------------------
  // q219: deterministic Poisson bootstrap (uncertainty quantification)
  // ---------------------------------------------------------------

  private val BootB = 20 // bootstrap replicates

  /** Poisson(1) inverse-CDF thresholds: weight = #{t : u ≥ t}, capped
    * at 6 (P(X > 6) ≈ 8·10⁻⁵). One source of truth for both engines. */
  private val PoissonCdf = Seq(
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238462", "0.9963401531726563", "0.9994058151824183")

  /** q219: Poisson bootstrap for corpus-metric uncertainty (Chamandy
    * et al. 2012, "Estimating uncertainty for massive data streams" —
    * Google's production bootstrap; the streaming-safe reading of
    * Efron 1979): each of [[BootB]] replicates reweights every document
    * by an independent Poisson(1) count, giving B replicate estimates
    * of the metric (mean n_chars here) whose spread IS the sampling
    * uncertainty — no second pass over any replicate member list.
    *
    * Poisson(n·1/n) ≈ the multinomial bootstrap without needing N up
    * front, which is what makes it the one bootstrap that works on a
    * stream or a 100 TB corpus: the weights are PER-ROW INDEPENDENT.
    * Here they are also DETERMINISTIC — u = hash(doc_id, b) buckets
    * through the Poisson(1) inverse CDF (literal thresholds shared
    * with the oracle) — so replicates are reproducible and
    * engine-portable, the q119/q204 content-hash discipline applied
    * to resampling.
    *
    * Output: per-replicate (b, n_eff, mean_x) plus the point estimate
    * and the replicate-spread standard error on every row.
    *
    * Scale: the B-fold explode is a NARROW flatMap (no shuffle of the
    * blowup — each row's B copies reduce map-side into the B-row
    * partial aggregate); total shuffle volume is partitions × B rows.
    * Compute is B× one scan — the published price of bootstrap, paid
    * without materializing any resample. */
  val q219PoissonBootstrap: QueryDef = QueryDef(
    "q219_poisson_bootstrap",
    (s, dir) => {
      val wExpr = PoissonCdf.map(t => s"(case when u >= $t then 1 else 0 end)")
        .mkString(" + ")
      val reps = Tables.loadParallel(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
        .withColumn("b", explode(expr(s"sequence(0, ${BootB - 1})")))
        .withColumn("u", (expr(bucket64k(
          "sha2(concat(cast(doc_id as string), '_', cast(b as string)), 256)"))
          .cast("double") + 0.5) / 65536.0)
        .withColumn("w", expr(wExpr).cast("long"))
        .groupBy(col("b"))
        .agg(sum(col("w")).as("n_eff"),
          sum(col("w") * col("n_chars")).as("sx"))
        .select(col("b").cast("long").as("b"), col("n_eff"),
          round(col("sx").cast("double") / col("n_eff"), 6).as("mean_x"))
      val point = Tables.loadParallel(s, dir, "documents")
        .agg(round(avg(col("n_chars")), 6).as("point_est"))
      val spread = reps.agg(
        round(sqrt(sum(col("mean_x") * col("mean_x")) / BootB -
          (sum(col("mean_x")) / BootB) * (sum(col("mean_x")) / BootB)) *
          math.sqrt(BootB / (BootB - 1.0)), 6).as("boot_se"))
      reps.crossJoin(broadcast(point)).crossJoin(broadcast(spread))
        .orderBy(col("b"))
    },
    Some {
      val wExpr = PoissonCdf.map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH reps AS (SELECT b,
          CAST(sum(w) AS BIGINT) AS n_eff,
          round(CAST(sum(w * n_chars) AS DOUBLE) / sum(w), 6) AS mean_x
        FROM (SELECT doc_id, n_chars, b, $wExpr AS w
          FROM (SELECT doc_id, n_chars, t.b,
            (CAST(${bucket64k("sha256(CAST(doc_id AS VARCHAR) || '_' || CAST(b AS VARCHAR))")} AS DOUBLE) + 0.5) / 65536.0 AS u
            FROM documents, (SELECT unnest(range(0, $BootB)) AS b) t) h) x
        GROUP BY b),
      pt AS (SELECT round(avg(n_chars), 6) AS point_est FROM documents),
      sp AS (SELECT round(sqrt(sum(mean_x * mean_x) / $BootB -
          (sum(mean_x) / $BootB) * (sum(mean_x) / $BootB)) *
          sqrt($BootB / (${BootB - 1}.0)), 6) AS boot_se FROM reps)
      SELECT reps.b, reps.n_eff, reps.mean_x, pt.point_est, sp.boot_se
      FROM reps, pt, sp ORDER BY reps.b"""
    },
    headline = false)

  def all: Seq[QueryDef] = Seq(
    q115TemperatureResample, q116SoftDedup, q118TripletMining,
    q119StratifiedSplit, q120VocabCoverage, q121UnimaxAlloc,
    q151PreferencePairs, q156BottomkSample, q165EpochShuffle,
    q166BudgetSelect, q171PpsSample, q219PoissonBootstrap)
}
