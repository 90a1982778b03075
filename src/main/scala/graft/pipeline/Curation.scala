package graft.pipeline

import graft.Staging
import graft.operators.{CorpusOps, MixOps}
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The corpus-curation pipeline as a library API: quality gates →
  * boilerplate filter → benchmark decontamination → domain-mixture
  * sampling → exact dedup → sequence packing, configurable end to end.
  * q82/q81/q92/q94/q22/q86 are the oracle-checked single-stage forms;
  * this runner composes them the way `Workflow.run` composes the
  * document-extraction stages, with per-stage counts taken via
  * [[Observation]] on the SAME pass that computes the survivors —
  * no stage is ever re-executed to count it (the §7.4 double-billing
  * rule, applied to corpus scans instead of LLM calls).
  *
  * Scale shape (see SCALE.md): the only corpus-size shuffles are the
  * frequent-shingle count, the dedup groupBy and the packing
  * repartition; the benchmark gram set and the stage-drop bookkeeping
  * ride broadcasts / observation metrics.
  */
object Curation {

  /** Gopher/MassiveText rule thresholds — defined next to the q82
    * operator; re-exported here as the library-API entry point. */
  type GateRules = CorpusOps.GateRules
  val GateRules = CorpusOps.GateRules

  /** keep-predicate over a text column — the shared q82/q87 predicate. */
  def gateKeep(text: Column, r: GateRules): Column = CorpusOps.gateKeep(text, r)

  /** @param benchmarkGrams optional decontamination set — one string
    *        column `sh` of benchmark n-grams (distinct-ness not
    *        required; it is enforced before the broadcast)
    * @param maxAvgNll      optional perplexity ceiling (q96's CCNet
    *        gate): drop docs whose per-bigram avg -ln P under the
    *        corpus bigram model exceeds it; docs too short to score
    *        (< 2 tokens) are kept, q96's convention
    * @param dsirTarget     optional target-domain corpus (doc_id, text)
    *        for DSIR selection (q101): drop docs whose hashed-bigram
    *        importance weight falls below `dsirFloor`. q101's
    *        semantics: the raw-side model EXCLUDES docs appearing in
    *        the target (by doc_id), and target members are never
    *        dropped by this stage; unscored docs (< 2 tokens) are kept
    * @param qualityTarget  optional "high quality" exemplar corpus for
    *        the GPT-3-style classifier stage
    *        (`VectorML.fitQualityFilter`): every doc is scored with a
    *        target probability and dropped below `qualityFloor`;
    *        unscored docs (< 2 tokens) are kept
    * @param nbSeedSources  when non-empty, enables the NB
    *        token-classifier stage (q170's operator): closed-form
    *        log-odds trained with these `source` values as the
    *        curated-seed positives, every doc scored per-token-mean,
    *        dropped below `nbFloor`. The TOKEN-space sibling of
    *        `qualityTarget` (embedding space) — both may run;
    *        unscored docs (empty token stream) are kept
    * @param semanticEmbeddings optional (doc_id, embedding) frame for
    *        the SemDeDup stage (q95, Abbas et al. 2023): k-means
    *        centroids are trained on it (`ml/VectorML.trainCentroids`
    *        — the PRODUCTION centroid path, not q95's oracle pick),
    *        and non-canonical cluster members whose cosine to a
    *        lower-doc_id member exceeds `semanticDupCos` are dropped;
    *        docs without an embedding row are kept
    * @param mixtureRates   percent kept per `lang` (q94's shape);
    *        langs absent from the map keep `defaultRate`
    * @param packDocsPerSubShard packing de-skew knob (q86's
    *        sub-shards): when set, packing keys by
    *        `(source, doc_id div S)` so a dominant source packs on
    *        many tasks; bins stay sub-shard-local. None (default) =
    *        whole-source shards, the q87-oracle semantics
    * @param urlColumn      optional URL column name — enables the
    *        RefinedWeb-style URL PRE-gate (first stage, before any
    *        text is read): registered-domain blocklist + per-domain
    *        doc cap via `UrlOps.domainDrops` (q145/q146's operators)
    * @param domainCap      max docs kept per registered domain
    *        (doc_id order) when the URL gate is on
    * @param domainBlocklist registered domains dropped outright when
    *        the URL gate is on
    * @param prototypePrune when true, run the D4 / SSL-prototypes
    *        diversification stage (q175's operator, Sorscher et al.
    *        2022; Tirumala et al. 2023) BETWEEN dedup and packing:
    *        exact-integer Lloyd k-means (`ClusterOps.lloydOf`, the
    *        q174 trajectory) is trained on the DEDUP SURVIVORS'
    *        embeddings (`semanticEmbeddings` must be set), and within
    *        each cluster the densest `1/protoPruneDen` — the most
    *        prototypical, semantically redundant with the cluster
    *        center — are dropped. Runs AFTER SemDeDup by design: dedup
    *        removes near-copies, prototype pruning then thins what
    *        remains toward diversity, the D4 ordering. Docs without an
    *        embedding row are kept
    * @param protoPruneDen  the integer prune quota denominator (drop
    *        `n_c div den` per cluster; 5 = the q175/D4 fifth)
    * @param lineDedup      when true, run C4's line-level dedup
    *        (q147's operator, `CorpusOps.lineDedupOf`) on the
    *        doc-dedup survivors: every segment keeps its first
    *        corpus-order occurrence, texts are rewritten before
    *        packing, docs cut to nothing drop; cut-segment count
    *        surfaces as `lineSegmentsCut` */
  final case class CurationConfig(
      gates: GateRules = GateRules(),
      boilerMinDocs: Long = 3,
      boilerMaxFrac: Double = 0.5,
      benchmarkGrams: Option[DataFrame] = None,
      maxAvgNll: Option[Double] = None,
      dsirTarget: Option[DataFrame] = None,
      dsirFloor: Double = 0.0,
      qualityTarget: Option[DataFrame] = None,
      qualityFloor: Double = 0.5,
      nbSeedSources: Seq[String] = Nil,
      nbFloor: Double = 0.0,
      semanticEmbeddings: Option[DataFrame] = None,
      semanticCentroids: Int = 8,
      semanticDupCos: Double = 0.35,
      semanticWhiten: Boolean = false,
      mixtureRates: Map[String, Long] = Map.empty,
      defaultRate: Long = 100L,
      temperatureBalance: Boolean = false,
      packCapacity: Long = 512L,
      packDocsPerSubShard: Option[Long] = None,
      urlColumn: Option[String] = None,
      domainCap: Long = Long.MaxValue,
      domainBlocklist: Seq[String] = Nil,
      lineDedup: Boolean = false,
      prototypePrune: Boolean = false,
      protoPruneDen: Int = 5,
      nearDupFamily: Option[String] = None,
      nearDupBudget: Double = 1000.0,
      containmentStage: Boolean = false,
      containmentBudget: Double = 1000.0,
      // subset-dup threshold τ (containment ≥ τ on the smaller side).
      // The probe fraction is DERIVED (1−τ, +1 hash — the pigeonhole
      // bound), so recall stays exactly 1 at whatever τ is set here;
      // the gate prices the probe join at this same τ.
      containmentTau: Double = graft.operators.DedupOps.ContainTauDefault)

  final case class CurationSummary(
      raw: Long, gated: Long, boilerDropped: Long, contaminatedDropped: Long,
      perplexityDropped: Long, dsirDropped: Long, qualityDropped: Long,
      semanticDropped: Long, sampledOut: Long, tempSampledOut: Long,
      packedDocs: Long, bins: Long, urlDropped: Long = 0L,
      lineSegmentsCut: Long = 0L, nbDropped: Long = 0L,
      protoDropped: Long = 0L, nearDupDropped: Long = 0L,
      nearDupFamilyUsed: String = "none",
      nearDupGateVerdicts: Seq[(String, String, Double)] = Nil,
      containmentDropped: Long = 0L,
      containmentGateVerdict: String = "off")

  /** Run the pipeline over a documents frame (`doc_id`, `text`, `lang`,
    * `source`). Returns the packed-bin table
    * (source, bin, n_docs, sum_tokens) and the per-stage summary.
    *
    * Corpus-size actions: the shared gram materialization, the
    * flagged-survivor materialization (where ALL drop counts are
    * observed), and the packing pass — plus, only when an LM knob
    * (maxAvgNll / dsirTarget) is enabled, ONE shared tokenization
    * materialization that both LM stages read (never one per stage);
    * their scoring outputs are slim (doc_id, flag) joins. */
  def run(docs: DataFrame, cfg: CurationConfig = CurationConfig()): (DataFrame, CurationSummary) = {
    // URL pre-gate (RefinedWeb order: filter by URL before reading
    // text): registered-domain blocklist + per-domain cap, as a slim
    // (doc_id, flag) join like every optional stage — counted FIRST
    // in the cascade, so every later stage conditions on survival
    val urlIds = cfg.urlColumn.map { uc =>
      graft.operators.UrlOps.domainDrops(
        docs, col(uc), cfg.domainCap, cfg.domainBlocklist)
    }
    // boilerplate frequencies on the RAW corpus (q87's rule: template
    // text counts even when its host doc fails other gates)
    val grams = Staging.materialize(CorpusOps.fiveGramsOf(docs)
      .select(col("doc_id"), explode(col("shingles")).as("sh")), "grams")
    val frequent = grams.groupBy(col("sh"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= cfg.boilerMinDocs).select(col("sh"))
    val boilerIds = grams
      .join(broadcast(frequent).withColumn("is_freq", lit(1)), Seq("sh"), "left_outer")
      .groupBy(col("doc_id"))
      .agg((sum(coalesce(col("is_freq"), lit(0))).cast("double") / count(lit(1))).as("frac"))
      .filter(col("frac") >= cfg.boilerMaxFrac)
      .select(col("doc_id"), lit(true).as("is_boiler"))
    // decontamination: docs sharing any gram with the benchmark set
    val contamIds = cfg.benchmarkGrams.map { bg =>
      grams.join(broadcast(bg.select(col("sh")).distinct()), Seq("sh"), "left_semi")
        .select(col("doc_id")).distinct()
        .withColumn("is_contam", lit(true))
    }
    // ONE tokenization shared by both optional LM stages (built only
    // if some LM knob is on — `lazy` defers the eager checkpoint)
    lazy val tok = graft.operators.LmOps.tokenizedOf(docs)
    // perplexity gate: bigram model trained on the RAW corpus (the
    // trusted-LM stand-in, q96); the score table is one slim
    // (doc_id, double) row per doc — its join back is the only
    // doc_id-keyed shuffle the gate adds, and only when enabled
    val pplIds = cfg.maxAvgNll.map { ceil =>
      graft.operators.LmOps.avgNllOfTokens(tok)
        .filter(col("avg_nll") > ceil)
        .select(col("doc_id"), lit(true).as("is_ppl_out"))
    }
    // DSIR selection: docs whose importance weight under the target
    // model falls below the floor — like the gate above, one slim
    // (doc_id, flag) join, only when a target corpus is supplied.
    // q101's semantics: the raw side excludes target members, and
    // target members themselves carry no flag (never dropped here)
    val dsirIds = cfg.dsirTarget.map { tgt =>
      val tgtIds = tgt.select(col("doc_id"))
      graft.operators.LmOps.dsirWeightsTokens(
          tok.join(tgtIds, Seq("doc_id"), "left_anti"),
          graft.operators.LmOps.tokenizedOf(tgt))
        .filter(col("avg_logratio") < cfg.dsirFloor)
        .select(col("doc_id"), lit(true).as("is_dsir_out"))
    }
    // GPT-3-style classifier stage: fit on exemplar-vs-rest, score ALL
    // docs (exemplar members score high and naturally survive), drop
    // below the floor — again one slim (doc_id, flag) join
    val qualIds = cfg.qualityTarget.map { tgt =>
      val score = graft.ml.VectorML.fitQualityFilter(
        docs.join(tgt.select(col("doc_id")), Seq("doc_id"), "left_anti"), tgt)
      score(docs)
        .filter(col("quality") < cfg.qualityFloor)
        .select(col("doc_id"), lit(true).as("is_qual_out"))
    }
    // NB token-classifier stage (q170's operator): closed-form
    // log-odds trained on the seed-source labeling, per-token
    // normalized, drop below the floor — one slim (doc_id, flag)
    // join; the TOKEN-level sibling of the embedding-space
    // qualityTarget stage above (both can run: different signals)
    val nbIds =
      if (cfg.nbSeedSources.nonEmpty)
        Some(graft.operators.ClassifierOps
          .nbQualityOf(docs, cfg.nbSeedSources)
          .filter(col("quality_lr") < cfg.nbFloor)
          .select(col("doc_id"), lit(true).as("is_nb_out")))
      else None
    // SemDeDup stage (q95's operator on TRAINED k-means centroids):
    // non-canonical near-identical cluster members are dropped; the
    // flag is one slim (doc_id, flag) join like every optional stage,
    // and the whole embedding pass (assign + cluster-blocked pairs)
    // never touches text
    val semIds = cfg.semanticEmbeddings.map { emb =>
      val raw = emb.select(col("doc_id").as("vec_id"), col("embedding"))
      // optional ZCA whitening (q157's operator): isotropic geometry
      // before centroid training, so cluster blocking and the cosine
      // threshold act on decorrelated coordinates (the SemDeDup paper
      // normalizes embeddings; whitening is the stronger form). The
      // whitened coordinates exist only inside this stage.
      val e =
        if (cfg.semanticWhiten) {
          val d = raw.select(size(col("embedding"))).first().getInt(0)
          val (w, _, _) = graft.ml.VectorML.zcaWhiten(raw, "embedding", d)
          w.select(col("vec_id"), col("white").cast("array<float>").as("embedding"))
        } else raw
      val cents = graft.ml.VectorML.trainCentroids(
          e, "embedding", cfg.semanticCentroids)
        .select(col("cid").cast("long").as("cid"), col("cv").as("cvec"))
      MixOps.semDedup(e, cents, cfg.semanticDupCos)
        .filter(col("is_dup"))
        .select(col("vec_id").as("doc_id"), lit(true).as("is_sem_dup"))
    }
    // one flagged pass: every stage's verdict as a column, every
    // stage's count as an observation on the SAME materialization
    val rateCol = cfg.mixtureRates.foldLeft(lit(cfg.defaultRate)) {
      case (acc, (lang, r)) => when(col("lang") === lang, lit(r)).otherwise(acc)
    }
    // temperature rebalancing (q115's UniMax rule): per-source keep
    // thresholds from the RAW corpus counts, broadcast back; the coin
    // is hex digits 5-8 of the same content sha — decorrelated from
    // the mixture bucket's digits 1-4, so the two sampling stages
    // compose like independent draws while both stay content-keyed
    val tempThresh =
      if (cfg.temperatureBalance)
        Some(graft.operators.SampleOps.temperatureThresholds(docs)
          .select(col("source"), col("thresh")))
      else None
    val flagged00 = urlIds.fold(docs.withColumn("is_url_out", lit(false)))(
        ids => docs.join(ids, Seq("doc_id"), "left_outer"))
      .withColumn("is_url_out", coalesce(col("is_url_out"), lit(false)))
      .withColumn("pass_gate", gateKeep(col("text"), cfg.gates))
      .join(boilerIds, Seq("doc_id"), "left_outer")
      .withColumn("bucket", expr(MixOps.bucketExpr("sha2(text, 256)")).cast("long"))
      .withColumn("pass_mix", col("bucket") < rateCol)
    val flagged0 = tempThresh.fold(flagged00.withColumn("pass_temp", lit(true))) {
      th =>
        flagged00
          .withColumn("temp_coin",
            expr("cast(conv(substr(sha2(text, 256), 5, 4), 16, 10) as bigint)"))
          .join(broadcast(th), Seq("source"), "left_outer")
          .withColumn("pass_temp",
            col("temp_coin") < coalesce(col("thresh"), lit(65536L)))
    }
    val flagged1 = contamIds.fold(flagged0.withColumn("is_contam", lit(false)))(
        ids => flagged0.join(ids, Seq("doc_id"), "left_outer"))
    val flagged2 = pplIds.fold(flagged1.withColumn("is_ppl_out", lit(false)))(
        ids => flagged1.join(ids, Seq("doc_id"), "left_outer"))
    val flagged3 = dsirIds.fold(flagged2.withColumn("is_dsir_out", lit(false)))(
        ids => flagged2.join(ids, Seq("doc_id"), "left_outer"))
    val flagged4 = qualIds.fold(flagged3.withColumn("is_qual_out", lit(false)))(
        ids => flagged3.join(ids, Seq("doc_id"), "left_outer"))
    val flagged5 = nbIds.fold(flagged4.withColumn("is_nb_out", lit(false)))(
        ids => flagged4.join(ids, Seq("doc_id"), "left_outer"))
    val flagged = semIds.fold(flagged5.withColumn("is_sem_dup", lit(false)))(
        ids => flagged5.join(ids, Seq("doc_id"), "left_outer"))
      .withColumn("is_boiler", coalesce(col("is_boiler"), lit(false)))
      .withColumn("is_contam", coalesce(col("is_contam"), lit(false)))
      .withColumn("is_ppl_out", coalesce(col("is_ppl_out"), lit(false)))
      .withColumn("is_dsir_out", coalesce(col("is_dsir_out"), lit(false)))
      .withColumn("is_qual_out", coalesce(col("is_qual_out"), lit(false)))
      .withColumn("is_nb_out", coalesce(col("is_nb_out"), lit(false)))
      .withColumn("is_sem_dup", coalesce(col("is_sem_dup"), lit(false)))
    val obs = Observation()
    val clean = Staging.materialize(flagged
      .observe(obs,
        count(lit(1)).as("raw"),
        count(when(col("is_url_out"), true)).as("url_dropped"),
        count(when(!col("is_url_out") && col("pass_gate"), true)).as("gated"),
        count(when(!col("is_url_out") && col("pass_gate") && col("is_boiler"), true))
          .as("boiler_dropped"),
        count(when(!col("is_url_out") && col("pass_gate") && !col("is_boiler") &&
          col("is_contam"), true))
          .as("contam_dropped"),
        count(when(!col("is_url_out") && col("pass_gate") && !col("is_boiler") &&
          !col("is_contam") && col("is_ppl_out"), true)).as("ppl_dropped"),
        count(when(!col("is_url_out") && col("pass_gate") && !col("is_boiler") &&
          !col("is_contam") && !col("is_ppl_out") && col("is_dsir_out"), true))
          .as("dsir_dropped"),
        count(when(!col("is_url_out") && col("pass_gate") && !col("is_boiler") &&
          !col("is_contam") && !col("is_ppl_out") && !col("is_dsir_out") &&
          col("is_qual_out"), true))
          .as("qual_dropped"),
        count(when(!col("is_url_out") && col("pass_gate") && !col("is_boiler") &&
          !col("is_contam") && !col("is_ppl_out") && !col("is_dsir_out") &&
          !col("is_qual_out") && col("is_nb_out"), true))
          .as("nb_dropped"),
        count(when(!col("is_url_out") && col("pass_gate") && !col("is_boiler") &&
          !col("is_contam") && !col("is_ppl_out") && !col("is_dsir_out") &&
          !col("is_qual_out") && !col("is_nb_out") && col("is_sem_dup"), true))
          .as("sem_dropped"),
        count(when(!col("is_url_out") && col("pass_gate") && !col("is_boiler") &&
          !col("is_contam") && !col("is_ppl_out") && !col("is_dsir_out") &&
          !col("is_qual_out") && !col("is_nb_out") && !col("is_sem_dup") &&
          !col("pass_mix"), true))
          .as("sampled_out"),
        count(when(!col("is_url_out") && col("pass_gate") && !col("is_boiler") &&
          !col("is_contam") && !col("is_ppl_out") && !col("is_dsir_out") &&
          !col("is_qual_out") && !col("is_nb_out") && !col("is_sem_dup") &&
          col("pass_mix") && !col("pass_temp"), true))
          .as("temp_sampled_out"))
      .filter(!col("is_url_out") && col("pass_gate") && !col("is_boiler") &&
        !col("is_contam") && !col("is_ppl_out") && !col("is_dsir_out") &&
        !col("is_qual_out") && !col("is_nb_out") && !col("is_sem_dup") &&
        col("pass_mix") && col("pass_temp"))
      .select(col("source"), col("doc_id"), col("text")), "clean")
    // exact dedup (min doc_id per content hash)
    val keepIds = clean.groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val exactDeduped = clean.join(keepIds, Seq("doc_id"), "left_semi")
    // gate-driven NEAR-dup removal — the density-ladder policy slot:
    // Some("auto") runs the family pre-flights cheapest-first
    // (DedupOps.FamilyLadder) and the first gate-ok family's verified
    // pair join drops the larger doc of every near-dup pair; a named
    // family honors ITS gate. Every evaluated verdict lands in the
    // summary, and all-gates-refused refuses the STAGE (runs no pair
    // join at all) — SCALE.md's "read q236/q239 before sizing the
    // run", as engine behavior. Pair-domination (drop doc_b of each
    // pair) keeps every doc with no smaller near-dup neighbor — the
    // streaming-compatible per-pair policy; the full
    // one-per-component treatment is the q91/q205 batch tier.
    val (deduped0, ndDropped, ndFamily, ndVerdicts) = cfg.nearDupFamily match {
      case None => (exactDeduped, 0L, "none", Seq.empty[(String, String, Double)])
      case Some(want) =>
        val base = Staging.materialize(exactDeduped, "neardup_in")
        val (famOpt, verdicts) =
          if (want == "auto")
            graft.operators.DedupOps.selectDedupFamily(base, cfg.nearDupBudget)
          else {
            val r = graft.operators.DedupOps
              .preflightForDocs(base, want, cfg.nearDupBudget).collect().head
            val v = r.getAs[String]("verdict")
            (if (v == "ok") Some(want) else None,
              Seq((want, v, r.getAs[Double]("pairs_per_doc"))))
          }
        famOpt match {
          case Some(f) =>
            val dropIds = Staging.materialize(
              graft.operators.DedupOps.nearDupPairsOf(base, f)
                .select(col("doc_b").as("doc_id")).distinct(), "neardup_drop")
            (base.join(dropIds, Seq("doc_id"), "left_anti"),
              dropIds.count(), f, verdicts)
          case None => (base, 0L, "none", verdicts)
        }
    }
    // containment (subset-dup) stage — the q245 operator as the
    // ladder's complement: a tiny doc inside a huge one has Jaccard
    // far below every resemblance family's threshold, so it passes
    // every near-dup gate above and survives the pair join; this
    // stage recalls exactly those pairs (containment ≥ cfg.containmentTau
    // on the small side, recall 1 by pigeonhole) and drops the SMALLER side
    // — the contained doc is the redundant one. Gate-priced by the
    // "containment" bipartite pre-flight; a refusing gate refuses the
    // stage (no join paid), verdict in the summary either way.
    val (dedupedC, cDropped, cVerdict) =
      if (!cfg.containmentStage)
        (deduped0, 0L, "off")
      else {
        val base = Staging.materialize(deduped0, "contain_in")
        val r = graft.operators.DedupOps
          .preflightForDocs(base, "containment", cfg.containmentBudget,
            cfg.containmentTau)
          .collect().head
        val v = r.getAs[String]("verdict")
        if (v == "ok") {
          val dropIds = Staging.materialize(
            graft.operators.DedupOps.containmentPairsOf(base, cfg.containmentTau)
              .select(col("doc_small").as("doc_id")).distinct(), "contain_drop")
          (base.join(dropIds, Seq("doc_id"), "left_anti"), dropIds.count(), v)
        } else (base, 0L, v)
      }
    // D4 prototype pruning (q175's operator) BETWEEN dedup and packing:
    // exact Lloyd over the SURVIVORS' embeddings, densest fifth per
    // cluster dropped — dedup removed the near-copies, this stage
    // thins the remainder toward diversity (the D4 ordering). One
    // (doc_id)-keyed anti join; the clustering never touches text.
    val (deduped, protoDroppedN) =
      if (cfg.prototypePrune) {
        val emb = cfg.semanticEmbeddings.getOrElse(throw new IllegalArgumentException(
          "prototypePrune requires semanticEmbeddings"))
        val survivors = Staging.materialize(dedupedC, "proto_in")
        val survEmb = emb.select(col("doc_id").as("vec_id"), col("embedding"))
          .join(survivors.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        val (assigned, _) = graft.operators.ClusterOps.lloydOf(survEmb)
        val dropIds = Staging.materialize(
          graft.operators.ClusterOps.prototypeFlags(assigned, cfg.protoPruneDen)
            .filter(col("pruned"))
            .select(col("vec_id").as("doc_id")), "proto_drop")
        (survivors.join(dropIds, Seq("doc_id"), "left_anti"), dropIds.count())
      } else (dedupedC, 0L)
    // optional C4 line-level dedup (q147's operator): rewrite each
    // survivor to its first-occurrence segments AFTER doc-level exact
    // dedup (so intra-copy segments don't inflate the global counts);
    // docs cut to nothing drop out before packing
    val obsLine = Observation()
    val packSource =
      if (cfg.lineDedup)
        CorpusOps.lineDedupOf(deduped)
          .observe(obsLine,
            coalesce(sum(col("n_seg") - col("kept_seg")), lit(0L)).as("segments_cut"))
          .filter(col("kept_seg") > 0)
          .join(deduped.select(col("doc_id"), col("source")), Seq("doc_id"))
          .select(col("source"), col("doc_id"), col("text_dedup").as("text"))
      else deduped
    val obsPack = Observation()
    val bins = Staging.materialize(CorpusOps.packGreedy(
      packSource
        .select(col("source"), col("doc_id"),
          CorpusOps.nTokens(col("text")).as("n_tokens"))
        .observe(obsPack, count(lit(1)).as("packed_docs")),
      cfg.packCapacity, cfg.packDocsPerSubShard), "bins")
    // defensive metric read: when an upstream stage drops EVERY row,
    // the observed subtree can plan to an empty scan with zero tasks
    // and its CollectMetrics row is never produced — the metric is
    // absent from the map rather than 0 (measured on the all-dropped
    // synthetic heaps corpus, r16). Absent ⇒ the observed pass saw no
    // rows ⇒ every counter here correctly reads 0.
    def obsLong(o: Observation, key: String): Long =
      o.get.getOrElse(key, 0L).asInstanceOf[Long]
    val summary = CurationSummary(
      raw = obsLong(obs, "raw"),
      gated = obsLong(obs, "gated"),
      boilerDropped = obsLong(obs, "boiler_dropped"),
      contaminatedDropped = obsLong(obs, "contam_dropped"),
      perplexityDropped = obsLong(obs, "ppl_dropped"),
      dsirDropped = obsLong(obs, "dsir_dropped"),
      qualityDropped = obsLong(obs, "qual_dropped"),
      semanticDropped = obsLong(obs, "sem_dropped"),
      sampledOut = obsLong(obs, "sampled_out"),
      tempSampledOut = obsLong(obs, "temp_sampled_out"),
      packedDocs = obsLong(obsPack, "packed_docs"),
      bins = bins.count(),
      urlDropped = obsLong(obs, "url_dropped"),
      lineSegmentsCut =
        if (cfg.lineDedup) obsLong(obsLine, "segments_cut") else 0L,
      nbDropped = obsLong(obs, "nb_dropped"),
      protoDropped = protoDroppedN,
      nearDupDropped = ndDropped,
      nearDupFamilyUsed = ndFamily,
      nearDupGateVerdicts = ndVerdicts,
      containmentDropped = cDropped,
      containmentGateVerdict = cVerdict)
    (bins, summary)
  }

  // ---------------------------------------------------------------
  // Streaming curation: T1/T2 told end-to-end for the corpus tier
  // ---------------------------------------------------------------

  /** Configuration for [[runStream]]: every corpus-GLOBAL statistic is
    * an OFFLINE artifact trained before the stream starts — the CCNet
    * discipline (train the LM on a trusted corpus once, score forever)
    * applied to every stage. Per-doc gates, the frequent-fragment
    * membership, LM scoring, and the content-hash mixture are then all
    * narrow per-batch passes over broadcast models, which is what
    * makes the pipeline streamable at all. */
  final case class StreamCurationConfig(
      gates: GateRules = GateRules(),
      frequentGrams: Option[DataFrame] = None,
      boilerMaxFrac: Double = 0.5,
      lmModel: Option[graft.operators.LmOps.LmModel] = None,
      maxAvgNll: Double = Double.MaxValue,
      mixtureRates: Map[String, Long] = Map.empty,
      defaultRate: Long = 100L,
      temperatureThresholds: Option[DataFrame] = None,
      heavyHitters: Option[graft.streaming.HeavyHitters.Monitor] = None,
      composition: Option[graft.streaming.CompositionMonitor] = None,
      quantiles: Option[graft.streaming.QuantileMonitor] = None)

  /** Offline boilerplate artifact for [[StreamCurationConfig]]:
    * fragments appearing in >= `minDocs` docs of a reference corpus. */
  def frequentGramsOf(docs: DataFrame, minDocs: Long = 3): DataFrame =
    CorpusOps.fiveGramsOf(docs)
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs).select(col("sh"))

  /** One micro-batch of streaming curation: per-doc gates + offline-
    * model stages + exact dedup, first within the batch (min doc_id
    * per content hash) then against the accumulated `seenHashes`
    * history via q84's bloom-prefiltered anti-join. Returns survivors
    * (source, doc_id, text, file_hash). Applied to a whole corpus as
    * ONE batch with empty history this is exactly the batch pipeline
    * (CurationSpec proves stream ≡ batch), minus the corpus-global
    * stages (boilerplate training, packing) that the offline
    * artifacts / a downstream batch pass own. */
  def curateBatch(batch: DataFrame, cfg: StreamCurationConfig,
      seenHashes: DataFrame): DataFrame = {
    val boilerIds = cfg.frequentGrams.map { fg =>
      CorpusOps.fiveGramsOf(batch)
        .select(col("doc_id"), explode(col("shingles")).as("sh"))
        .join(broadcast(fg.select(col("sh")).distinct()
          .withColumn("is_freq", lit(1))), Seq("sh"), "left_outer")
        .groupBy(col("doc_id"))
        .agg((sum(coalesce(col("is_freq"), lit(0))).cast("double") /
          count(lit(1))).as("frac"))
        .filter(col("frac") >= cfg.boilerMaxFrac)
        .select(col("doc_id"), lit(true).as("is_boiler"))
    }
    val pplIds = cfg.lmModel.map { m =>
      graft.operators.LmOps.avgNllWith(batch, m)
        .filter(col("avg_nll") > cfg.maxAvgNll)
        .select(col("doc_id"), lit(true).as("is_ppl_out"))
    }
    val rateCol = cfg.mixtureRates.foldLeft(lit(cfg.defaultRate)) {
      case (acc, (lang, r)) => when(col("lang") === lang, lit(r)).otherwise(acc)
    }
    // temperature rebalancing: OFFLINE per-source thresholds (trained
    // on a reference corpus via SampleOps.temperatureThresholds, the
    // same artifact discipline as the LM/frequent-gram knobs); the
    // coin matches the batch pipeline's (content sha digits 5-8)
    val flagged00 = batch
      .withColumn("pass_gate", gateKeep(col("text"), cfg.gates))
      .withColumn("bucket", expr(MixOps.bucketExpr("sha2(text, 256)")).cast("long"))
      .withColumn("pass_mix", col("bucket") < rateCol)
    val flagged0 = cfg.temperatureThresholds
      .fold(flagged00.withColumn("pass_temp", lit(true))) { th =>
        flagged00
          .withColumn("temp_coin",
            expr("cast(conv(substr(sha2(text, 256), 5, 4), 16, 10) as bigint)"))
          .join(broadcast(th.select(col("source"), col("thresh"))),
            Seq("source"), "left_outer")
          .withColumn("pass_temp",
            col("temp_coin") < coalesce(col("thresh"), lit(65536L)))
      }
    val flagged1 = boilerIds.fold(flagged0.withColumn("is_boiler", lit(false)))(
      ids => flagged0.join(ids, Seq("doc_id"), "left_outer"))
    val kept = pplIds.fold(flagged1.withColumn("is_ppl_out", lit(false)))(
        ids => flagged1.join(ids, Seq("doc_id"), "left_outer"))
      .withColumn("is_boiler", coalesce(col("is_boiler"), lit(false)))
      .withColumn("is_ppl_out", coalesce(col("is_ppl_out"), lit(false)))
      .filter(col("pass_gate") && !col("is_boiler") && !col("is_ppl_out") &&
        col("pass_mix") && col("pass_temp"))
      .select(col("source"), col("doc_id"), col("text"),
        sha2(col("text"), 256).as("file_hash"))
    // within-batch canonical: min doc_id per content hash
    val keepIds = kept.groupBy(col("file_hash"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val canon = Staging.materialize(
      kept.join(keepIds, Seq("doc_id"), "left_semi"), "stream_canon")
    // cross-batch history: bloom prefilter + exact anti-join (q84)
    val nSeen = seenHashes.count()
    if (nSeen == 0) canon
    else {
      val bf = seenHashes.stat.bloomFilter("file_hash", math.max(nSeen, 1000L), 0.01)
      val mightContain = udf((h: String) => h != null && bf.mightContainString(h))
      canon.filter(!mightContain(col("file_hash")))
        .unionByName(canon.filter(mightContain(col("file_hash")))
          .join(seenHashes, Seq("file_hash"), "left_anti"))
    }
  }

  /** One delivered micro-batch of [[runStream]]: curate against the
    * accumulated history, then write survivors and their hashes under
    * batchId-SCOPED partitions (`outDir/batch_id=N`,
    * `historyDir/batch_id=N`) in overwrite mode. That makes redelivery
    * idempotent no matter where a crash landed: a replayed batch
    * overwrites its own two partitions, and its own (possibly
    * partially written) history partition is EXCLUDED from the
    * anti-join, so the recomputed survivors are identical — the
    * source checkpoint plus these two idempotent writes give
    * exactly-once output. CurationSpec replays a batch after its
    * history write succeeded and asserts the output is unchanged. */
  def streamBatch(batch: DataFrame, cfg: StreamCurationConfig,
      batchId: Long, outDir: String, historyDir: String): Unit = {
    val s = batch.sparkSession
    val hp = new org.apache.hadoop.fs.Path(historyDir)
    val seen =
      if (hp.getFileSystem(s.sparkContext.hadoopConfiguration).exists(hp))
        s.read.parquet(historyDir)
          .filter(col("batch_id") =!= batchId)
          .select(col("file_hash"))
      else {
        import s.implicits._
        Seq.empty[String].toDF("file_hash")
      }
    val survivors = curateBatch(batch, cfg, seen)
    survivors.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    survivors.select(col("file_hash")).distinct()
      .write.mode("overwrite").parquet(s"$historyDir/batch_id=$batchId")
    // operational observability: fold the batch's surviving tokens
    // into the cross-batch O(k) Misra-Gries state — a month of ingest
    // reports its hot tokens/fragments without ever holding the
    // vocabulary. The survivors frame is materialized (stream_canon),
    // so this extra pass rescans a checkpoint, not the pipeline.
    // Note: replayed batches re-observe (monitor state is advisory
    // telemetry with an est <= f <= est + N/(k+1) style bound, not an
    // exactly-once output).
    cfg.heavyHitters.foreach { mon =>
      mon.observe(survivors.select(
          explode(split(lower(col("text")), "\\s+")).as("token"))
        .filter(col("token") =!= ""))
    }
    // composition telemetry on the same discipline: per-batch integer
    // grid partials folded by addition, so the accumulated state
    // equals the one-shot q222/q229 grids over all surviving batches
    // bit-for-bit (CompositionMonitor's spec-proven batch-split
    // equality; CurationSpec asserts it through this path too).
    // Same replay caveat as the Misra-Gries state above.
    cfg.composition.foreach { mon =>
      mon.observeDocs(survivors.select(col("source"), col("text")))
    }
    // per-source length quantiles on the bottom-k discipline: ≤ K
    // (hash, value) entries per source cross the wire per batch, and
    // because min-k merge is IDEMPOTENT this state — unlike the two
    // above — is replay-proof: a re-observed batch folds to the same
    // sketch (QuantileMonitorSpec), so the q240-style p50/p90 reads
    // are exact under at-least-once delivery.
    cfg.quantiles.foreach { mon =>
      mon.observe(survivors.select(col("source"),
        expr("sha2(cast(doc_id as string), 256)").as("h"),
        length(col("text")).cast("long").as("v")))
    }
  }

  /** Streaming curation over an incremental source (e.g.
    * `EventStreams.incrementalFiles`): each AvailableNow micro-batch
    * runs [[curateBatch]] against the history accumulated in
    * `historyDir` and lands its survivors + hashes via the
    * batchId-scoped idempotent writes of [[streamBatch]] — the
    * cron-ETL + FileHistory loop (T1/T2) for the corpus tier, with
    * exactly-once output under crash-replay. */
  def runStream(stream: DataFrame, cfg: StreamCurationConfig,
      checkpoint: String, outDir: String, historyDir: String): Unit =
    graft.streaming.EventStreams.runAvailableNowForeachBatch(
      stream, checkpoint) { (batch, batchId) =>
      streamBatch(batch, cfg, batchId, outDir, historyDir)
    }
}
