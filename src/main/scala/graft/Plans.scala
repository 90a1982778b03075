package graft

import java.nio.file.{Files, Paths}

/** Plan auditor: dumps `.explain("formatted")` for every headline query
  * to PLANS.md and asserts the plan properties the 100 TB design relies
  * on — filters pushed to the parquet scan, pruned read schemas,
  * broadcast (not shuffle) joins for dimension tables.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftExtensions.session("graft-plans", 8)
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS — headline query physical plans (sf0.01, local[8])\n\n")
    sb.append("Generated by `sbt \"runMain graft.Plans\"`. Audit points: " +
      "`PushedFilters` non-empty where a predicate exists, `ReadSchema` " +
      "pruned to used columns, dimension joins = `BroadcastHashJoin`.\n")

    SparkEntry.headlines.foreach { q =>
      val df = q.fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## ${q.name}\n\n```\n${normalize(plan)}```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)

    // machine checks (run on the RAW plan — normalization is only for
    // the PLANS.md artifact)
    def planOf(name: String): String = {
      val q = SparkEntry.registry.find(_.name == name).get
      q.fn(spark, sfDir).queryExecution.executedPlan.toString
    }
    val checks = Seq(
      ("q01 pushes the shipdate filter to parquet",
        planOf("q01_pricing_summary").contains("PushedFilters: [IsNotNull(l_shipdate)")),
      ("q01 prunes lineitem read schema",
        !planOf("q01_pricing_summary").contains("l_orderkey")),
      ("q04 broadcasts nation+region",
        "BroadcastHashJoin".r.findAllIn(planOf("q04_regional_revenue")).size >= 2),
      ("q05 uses partial aggregation before the shuffle",
        planOf("q05_top_suppliers").contains("HashAggregate")),
      ("q30 broadcasts the query vector",
        planOf("q30_topk_cosine").contains("Broadcast")),
      ("q30 top-k is TakeOrdered (no global sort materialized)",
        planOf("q30_topk_cosine").contains("TakeOrderedAndProject")),
      ("q51 LSH candidate join is a hash join on band keys, not a cartesian",
        { val p = planOf("q51_lsh_jaccard_pairs")
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin") }),
      // q51 materializes its hash and pair frames, so its final plan
      // shows neither projection: pin the shingle and signature frames
      ("q51 shingles and signatures are the word_shingles/minhash_sig kernels, no lambda",
        { val sh = operators.DedupOps.shingledOf(Tables.loadParallel(spark, sfDir, "documents"))
            .queryExecution.executedPlan.toString
          val sig = operators.DedupOps.signatures(operators.DedupOps.hashedShingles(spark, sfDir))
            .queryExecution.executedPlan.toString
          sh.contains("word_shingles") && sig.contains("minhash_sig") &&
            !sh.contains("lambdafunction") && !sig.contains("lambdafunction") }),
      ("q92 contamination 5-grams come from the word_shingles kernel",
        planOf("q92_decontaminate").contains("word_shingles")),
      ("q200 novelty shingles come from the word_shingles kernel (before the q200_sh pin)",
        operators.CorpusOps.fiveGrams(spark, sfDir).queryExecution.executedPlan.toString
          .contains("word_shingles")),
      ("q54 blocked Jaccard join is equi on lang (no cross product)",
        !planOf("q54_ngram_jaccard").contains("CartesianProduct")),
      ("q68 LSH ANN probes via a broadcast bucket join + TakeOrdered",
        { val p = planOf("q68_ann_lsh")
          p.contains("Broadcast") && p.contains("TakeOrderedAndProject") }),
      ("q65 pages rollup partially aggregates before the shuffle",
        planOf("q65_pages_rollup").contains("HashAggregate")),
      ("q67 directory tables window is partitioned (no global window)",
        planOf("q67_table_directory").contains("windowspecdefinition(source")),
      ("q84 bloom dedup: anti-join is broadcast, never sort-merge",
        { val p = planOf("q84_bloom_history_dedup")
          p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin") }),
      ("q85 PQ: ADC shortlist is TakeOrdered (no global sort of codes)",
        planOf("q85_ann_pq").contains("TakeOrderedAndProject")),
      ("q86 packing: one hash repartition by shard feeds the greedy scan",
        planOf("q86_seq_pack").contains("hashpartitioning(source")),
      ("q87 capstone: no cartesian anywhere in the composed pipeline",
        { val p = planOf("q87_curation_pipeline")
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin") }),
      ("q96 LM scoring: model count tables join by broadcast, never sort-merge",
        { val p = planOf("q96_lm_perplexity")
          "BroadcastHashJoin".r.findAllIn(p).size >= 2 && !p.contains("SortMergeJoin") }),
      ("q97 BM25: df table broadcast + top-20 is TakeOrdered",
        { val p = planOf("q97_bm25")
          p.contains("BroadcastHashJoin") && p.contains("TakeOrderedAndProject") }),
      ("q98 span dedup: shared-span join keyed on the span hash, no cartesian",
        !planOf("q98_dup_spans").contains("CartesianProduct")),
      // the span frame materializes as a localCheckpoint locally (Scan
      // ExistingRDD) or a parquet round-trip when spark.graft.stagingDir is
      // set — the single-scan property under audit is "no Generate in
      // the final plan", so accept either scan spelling.
      ("q98: exploded span frame computed once (no Generate in the final plan)",
        { val p = planOf("q98_dup_spans")
          !p.contains("Generate") &&
            (p.contains("Scan ExistingRDD") || p.contains("Scan parquet")) }),
      ("q107: same single-scan span shape as q98",
        { val p = planOf("q107_max_dup_spans")
          !p.contains("Generate") &&
            (p.contains("Scan ExistingRDD") || p.contains("Scan parquet")) }),
      ("q99 hybrid: both legs cut to top-k via TakeOrdered before fusion",
        "TakeOrderedAndProject".r.findAllIn(planOf("q99_hybrid_rrf")).size >= 2),
      ("q100 IVFPQ: probe set broadcast onto the code table, shortlist TakeOrdered",
        { val p = planOf("q100_ann_ivfpq")
          p.contains("BroadcastHashJoin") && p.contains("TakeOrderedAndProject") }),
      ("q101 DSIR: both fixed-size feature models broadcast, never sort-merge",
        { val p = planOf("q101_dsir")
          "BroadcastHashJoin".r.findAllIn(p).size >= 2 && !p.contains("SortMergeJoin") }),
      ("q102 CCNet buckets: tercile cuts broadcast back, no corpus sort by lang",
        { val p = planOf("q102_ccnet_buckets")
          p.contains("BroadcastHashJoin") && !p.contains("Sort [lang") }),
      ("q107 maximal spans: islands window partitioned by doc_id, no cartesian",
        { val p = planOf("q107_max_dup_spans")
          p.contains("windowspecdefinition(doc_id") &&
            !p.contains("CartesianProduct") }),
      ("q108 KN: score composed vocab-side, ONE corpus probe, all joins broadcast",
        { val p = planOf("q108_kn_perplexity")
          "BroadcastHashJoin".r.findAllIn(p).size >= 3 &&
            !p.contains("SortMergeJoin") }),
      ("q115 temperature resample: rate table broadcast back, never sort-merge",
        { val p = planOf("q115_temperature_resample")
          p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin") }),
      ("q116 soft dedup: cluster sizing and join-back share the content-hash key",
        { val p = planOf("q116_soft_dedup")
          p.contains("hashpartitioning(h") && !p.contains("CartesianProduct") }),
      ("q117 SQ8: hot ADC scan reads only codes, shortlist is TakeOrdered",
        { val p = planOf("q117_ann_sq8")
          p.contains("TakeOrderedAndProject") && p.contains("Broadcast") }),
      ("q122 overlap matrix: pair join equi-keyed on the gram, never cartesian",
        { val p = planOf("q122_source_overlap")
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin") }),
      ("q123 signal bundle: one narrow pass — no hash-partition exchange",
        !planOf("q123_quality_signals").contains("Exchange hashpartitioning")),
      ("q126 gate sweep: the grid aggregate never rescans via a join (no join at all)",
        { val p = planOf("q126_gate_sweep")
          !p.contains("Join") && !p.contains("CartesianProduct") }),
      ("q127 outliers: cluster stats broadcast back, never sort-merge",
        { val p = planOf("q127_embedding_outliers")
          p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin") }),
      ("q129 saturation: bucket join equi-keyed, no cartesian",
        { val p = planOf("q129_dedup_saturation")
          !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin") }),
      ("q135 funnel: every step join shares the user_id shuffle key, no cartesian",
        { val p = planOf("q135_funnel")
          p.contains("hashpartitioning(user_id") &&
            !p.contains("CartesianProduct") &&
            !p.contains("BroadcastNestedLoopJoin") }),
      ("q136 retention: event_type pruned out of the scan, cohort join equi on user_id",
        { val p = planOf("q136_retention")
          !p.contains("event_type") && !p.contains("CartesianProduct") }),
      ("q137 transitions: lead window partitioned on user_id (no global sort)",
        { val p = planOf("q137_transitions")
          p.contains("windowspecdefinition(user_id") &&
            !p.contains("CartesianProduct") }),
      ("q139 native as-of: custom exec planned, no window, key-clustered children",
        { val p = planOf("q139_asof_native")
          p.contains("AsOfJoin") && !p.contains("Window") &&
            p.contains("hashpartitioning(user_id") &&
            p.contains("hashpartitioning(err_user") }),
      ("q142 skew audit: top-N cut is TakeOrdered; the total joins by broadcast",
        { val p = planOf("q142_skew_audit")
          p.contains("TakeOrderedAndProject") && p.contains("Broadcast") }),
      ("q143 z-order: one range-free shuffle on the z-bucket, no global sort",
        { val p = planOf("q143_zorder")
          !p.contains("rangepartitioning(z") && !p.contains("CartesianProduct") }),
      ("q144 phash dedup: banded equi join on (block_id, blk), never cartesian",
        { val p = planOf("q144_phash_neardup")
          p.contains("block_id") && p.contains("Join") &&
            !p.contains("CartesianProduct") &&
            !p.contains("BroadcastNestedLoopJoin") }),
      ("q147 line dedup: first-occurrence state shuffles on the segment hash, no cartesian",
        { val p = planOf("q147_line_dedup")
          p.contains("hashpartitioning(h") && !p.contains("CartesianProduct") &&
            !p.contains("BroadcastNestedLoopJoin") }),
      ("q148 dup-line chars: occurrence-count join is equi on h, rollup keyed on doc_id",
        { val p = planOf("q148_dup_line_chars")
          p.contains("hashpartitioning(h") && p.contains("hashpartitioning(doc_id") &&
            !p.contains("CartesianProduct") }),
      ("q150 ExactSubstr rewrite: span state on hash keys, islands on doc_id, no cartesian",
        { val p = planOf("q150_exactsubstr_rewrite")
          p.contains("hashpartitioning(h") && p.contains("hashpartitioning(doc_id") &&
            !p.contains("CartesianProduct") &&
            !p.contains("BroadcastNestedLoopJoin") }),
      ("q151 preference pairs: windows + closing agg all share the cluster key, no cartesian",
        { val p = planOf("q151_preference_pairs")
          p.contains("hashpartitioning(cluster") && !p.contains("CartesianProduct") &&
            !p.contains("BroadcastNestedLoopJoin") }),
      ("q152 snapshot diff: full-outer equi join on doc_id; digests computed map-side",
        { val p = planOf("q152_snapshot_diff")
          p.contains("hashpartitioning(doc_id") && p.contains("FullOuter") &&
            p.contains("sha2") && !p.contains("CartesianProduct") }),
      ("q153 chat render: offsets window and rendered agg share the conv_id key",
        { val p = planOf("q153_chat_render")
          p.contains("hashpartitioning(conv_id") && !p.contains("CartesianProduct") &&
            !p.contains("BroadcastNestedLoopJoin") }),
      ("q154 CMS: grid built via object-agg partials, top-k TakeOrdered, sketch broadcast",
        { val p = planOf("q154_cms_frequency")
          p.contains("ObjectHashAggregate") && p.contains("TakeOrderedAndProject") &&
            p.contains("Broadcast") }),
      ("q155 JL: projected shortlist is TakeOrdered, projected query broadcast, no corpus sort",
        { val p = planOf("q155_ann_jl")
          p.contains("TakeOrderedAndProject") && p.contains("Broadcast") &&
            !p.contains("CartesianProduct") }),
      ("q156 bottom-k sample: one shuffle keyed on source, no global sort of the corpus",
        { val p = planOf("q156_bottomk_sample")
          p.contains("hashpartitioning(source") &&
            !p.contains("rangepartitioning(bucket") }),
      ("q157 covariance: moment explosion partial-aggregates; mean table joins by broadcast",
        { val p = planOf("q157_covariance")
          p.contains("HashAggregate") && p.contains("Broadcast") &&
            !p.contains("SortMergeJoin") }),
      ("q158 entropy: one narrow codegen'd pass — no hash-partition exchange",
        !planOf("q158_entropy").contains("Exchange hashpartitioning")),
      ("q159 Zipf fit: rank window per source over the vocab table, no cartesian",
        { val p = planOf("q159_zipf_fit")
          p.contains("hashpartitioning(source") && !p.contains("CartesianProduct") }),
      ("q160 PageRank: a power-iteration round joins on src and aggregates on dst, no cartesian",
        { // audit one UN-materialized round (the loop checkpoints each
          // round, which hides the iteration shuffle from q160's final plan)
          import org.apache.spark.sql.functions.{col, lit}
          val ids = spark.range(0, 100).select(col("id"))
          val edges = spark.range(0, 100).select(col("id").as("src"),
            ((col("id") + 1) % 100).as("dst"))
          val round = graft.operators.AnnOps.pageRankRound(
            ids, edges, ids.withColumn("pr", lit(0.01)), 1, 0.85, 100.0)
          val p = round.queryExecution.executedPlan.toString
          p.contains("hashpartitioning(dst") && !p.contains("CartesianProduct") &&
            !p.contains("BroadcastNestedLoopJoin") }),
      ("q56 IVF: cell assignment is a partial-aggregatable argmin — no window sort",
        !planOf("q56_ann_ivf").contains("Window")),
      ("q85 PQ: encode argmin partial-aggregates — no window sort of the slice table",
        !planOf("q85_ann_pq").contains("Window")),
      ("q95 SemDeDup: cluster argmax partial-aggregates — no window sort",
        !planOf("q95_semantic_dedup").contains("Window")),
      ("q118 triplet mining: per-anchor argmax partial-aggregates — no window sort",
        !planOf("q118_triplet_mining").contains("Window")),
      ("q164 suffix array: the LCP pass joins equi-keyed on position/doc, never cartesian",
        !planOf("q164_longest_dup").contains("CartesianProduct")),
      ("q169 HLL: register grids partial-aggregate (object-agg) — the shuffle carries sketches, not token sets",
        { val p = planOf("q169_hll_distinct")
          p.contains("ObjectHashAggregate") && !p.contains("CartesianProduct") }),
      ("q170 NB classifier: the vocab weight table broadcasts onto the scoring explode",
        { val p = planOf("q170_nb_quality")
          p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct") }),
      ("q171 PPS sample: no corpus shuffle at all — one 1-row total broadcast into a projection",
        !planOf("q171_pps_sample").contains("Exchange hashpartitioning")),
      ("q172 TF-IDF: df joins tf on the token key, top-k window keyed per doc, no cartesian",
        !planOf("q172_tfidf_keywords").contains("CartesianProduct")),
      // q173's corpus passes run eagerly inside fn (the NLL machinery is
      // q96's, already plan-checked); the RETURNED frame must prove the
      // weight iteration stayed k-row driver-sized: a local table, no
      // exchange anywhere.
      ("q173 DoReMi: returned weights are a k-row local table — the MW loop never touched an executor",
        { val p = planOf("q173_doremi_weights")
          // the trailing orderBy range-partitions the k rows; what must
          // NOT appear is any hash shuffle, join, or aggregate
          p.contains("LocalTableScan") && !p.contains("hashpartitioning") &&
            !p.contains("Join") && !p.contains("HashAggregate") }),
      ("q174 k-means: centroid argmin is a literal codegen'd projection — no join, no window over the corpus",
        { val p = planOf("q174_kmeans_clusters")
          !p.contains("CartesianProduct") && !p.contains("Window") }),
      ("q176 CDC chunks: dedup aggregation shuffles (source, hash) keys; chunking windows keyed per doc",
        !planOf("q176_cdc_chunks").contains("CartesianProduct")),
      ("q177 Pareto resample: the draw/keep rule adds no join beyond q170's broadcast scoring",
        { val p = planOf("q177_pareto_resample")
          p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct") }),
      ("q178 span corruption: mask decisions are hash projections; reassembly windows/aggs keyed per doc",
        !planOf("q178_span_corruption").contains("CartesianProduct")),
      ("q179 recall audit: queries broadcast into both legs — no shuffle of the corpus by query",
        { val p = planOf("q179_ann_recall")
          p.contains("BroadcastExchange") && !p.contains("CartesianProduct") }),
      ("q180 rate anomaly: events reduce to (type, hour) counts BEFORE the rolling window runs",
        { val p = planOf("q180_rate_anomaly")
          // plans print root-first, so the window operator must appear
          // ABOVE the aggregate that feeds it
          p.contains("Window") && p.contains("HashAggregate") &&
            p.indexOf("Window") < p.indexOf("HashAggregate") &&
            !p.contains("CartesianProduct") }),
      ("q181 Heaps fit: nested hash samples — NO window operator anywhere (no corpus ordering)",
        { val p = planOf("q181_heaps_fit")
          !p.contains("Window") && !p.contains("CartesianProduct") }),
      ("q182 silhouette: both distances from the assignment projection — no join, no corpus window",
        { val p = planOf("q182_silhouette")
          !p.contains("Window") && !p.contains("CartesianProduct") &&
            !p.contains("SortMergeJoin") }),
      ("q183 LSH recall: truth leg joins equi on the shingle hash, never cartesian",
        !planOf("q183_lsh_recall").contains("CartesianProduct")),
      ("q184 truncation audit: one narrow count projection into a source-keyed aggregate",
        { val p = planOf("q184_truncation_audit")
          p.contains("HashAggregate") && !p.contains("Generate") &&
            !p.contains("CartesianProduct") }),
      ("q185 FIM: pure per-doc slicing — no hash shuffle at all",
        !planOf("q185_fim").contains("Exchange hashpartitioning")),
      ("q62 range join is bucketized: the time bin is IN the equi-join key, bounding per-key work",
        { val p = planOf("q62_range_join")
          // the bucket column must participate in a hash/sort-merge
          // join (not arrive as a post-join filter only)
          (p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")) &&
            p.contains("eb#") && !p.contains("CartesianProduct") }),
      ("q186 profile: melted stream partial-aggregates; no cartesian",
        { val p = planOf("q186_profile")
          p.contains("HashAggregate") && !p.contains("CartesianProduct") }),
      ("q187 worst window: model tables broadcast onto the positioned bigrams",
        { val p = planOf("q187_worst_window")
          p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct") }),
      ("q188 signal agreement: the two score tables join on doc_id, models broadcast",
        { val p = planOf("q188_signal_agreement")
          p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct") }),
      ("q189 model prune: all aggregation over the vocab-sized bigram table, no cartesian",
        !planOf("q189_model_prune").contains("CartesianProduct")),
      ("q190 HTML extract: per-doc regex arithmetic — the only shuffle is the reassembly agg",
        { val p = planOf("q190_html_extract")
          !p.contains("CartesianProduct") && !p.contains("Join") }),
      ("q191 change magnitude: row-local array arithmetic — no join, no hash shuffle",
        { val p = planOf("q191_change_magnitude")
          !p.contains("Join") && !p.contains("Exchange hashpartitioning") }),
      ("q192 cross-source dups: canonical-keyed rollup over q91's labels, no cartesian",
        !planOf("q192_cross_source_dups").contains("CartesianProduct")),
      ("q193 half-life: a grouped closed-form fit over the retention matrix, no cartesian",
        !planOf("q193_retention_half_life").contains("CartesianProduct")),
      ("q194 funnel latency: rides the funnel's user-keyed joins, no cartesian",
        !planOf("q194_funnel_latency").contains("CartesianProduct")),
      ("q195 chunk delta: row-local chunking + array arithmetic — no join, no hash shuffle",
        { val p = planOf("q195_chunk_delta")
          !p.contains("Join") && !p.contains("Exchange hashpartitioning") }),
      ("q196 attribution: consumes the NATIVE as-of operator (AsOfJoinExec in the plan)",
        { val p = planOf("q196_last_touch")
          p.contains("AsOfJoin") && !p.contains("CartesianProduct") }),
      ("q197 NSW search: beam rounds are keyed equi-joins on the edge table, no cartesian",
        !planOf("q197_ann_nsw").contains("CartesianProduct")),
      ("q198 NN-Descent: the local join is equi on the shared neighbor, no cartesian",
        !planOf("q198_nn_descent").contains("CartesianProduct")),
      ("q199 HNSW: descent and beam are keyed equi-joins over layer edge tables, no cartesian",
        !planOf("q199_ann_hnsw").contains("CartesianProduct")),
      ("q200 novelty: one gram-keyed shuffle; the novel rollup never joins back onto the gram stream",
        { val p = planOf("q200_novelty_profile")
          p.contains("hashpartitioning(sh") && !p.contains("CartesianProduct") &&
            !p.contains("BroadcastNestedLoopJoin") }),
      ("q201 PMI: support floor cuts before the unigram joins; top-20 is TakeOrdered, no cartesian",
        { val p = planOf("q201_pmi_collocations")
          p.contains("TakeOrderedAndProject") && !p.contains("CartesianProduct") }),
      ("q202 PCA power: the per-round corpus reduction is one d-row partial agg — no join, no cartesian",
        // r10 advice: the returned trajectory is a driver-local table
        // (structurally vacuous to check), so assert on the ROUND plan
        { val p = operators.SpectralOps.q202RoundPlanProbe(spark, sfDir)
            .queryExecution.executedPlan.toString
          p.contains("HashAggregate") && !p.contains("Join") &&
            !p.contains("CartesianProduct") }),
      ("q203 k-center: each greedy round is one corpus scan into a 1-row partial max-struct agg — no join, no shuffle of rows",
        // like q202, the returned trajectory is driver-local: assert
        // on the per-round probe instead
        // the max-struct carries the winner's vector (an array child),
        // so Spark plans it as Sort/ObjectHashAggregate, not Hash
        { val p = operators.SelectOps.q203RoundPlanProbe(spark, sfDir)
            .queryExecution.executedPlan.toString
          p.contains("Aggregate") && !p.contains("Join") &&
            !p.contains("CartesianProduct") }),
      ("q204 priority sample: per-partition top-(K+1) heaps merged on the driver (TakeOrdered), no global sort, no exchange",
        { val p = operators.SelectOps.q204PlanProbe(spark, sfDir)
            .queryExecution.executedPlan.toString
          p.contains("TakeOrderedAndProject") && !p.contains("Sort ") &&
            !p.contains("Exchange") }),
      ("q205 two-phase CC: a star round is two window-min exchanges on node keys + one dedup — NO joins at all",
        { // audit one UN-materialized round (the loop checkpoints each
          // round, like q160's audit)
          import org.apache.spark.sql.functions.col
          val edges = spark.range(1, 100)
            .select((col("id") + 1).as("u"), col("id").as("v"))
          val p = graft.operators.DedupOps.twoPhaseRound(edges)
            .queryExecution.executedPlan.toString
          p.contains("hashpartitioning(u") && p.contains("Window") &&
            !p.contains("Join") && !p.contains("CartesianProduct") }),
      ("q206 TextRank: a weighted round joins edge-keyed on src and aggregates on dst token — no cartesian",
        { import org.apache.spark.sql.functions.{col, lit}
          val nodes = spark.range(0, 50).select(col("id").cast("string").as("tok"))
          val edges = spark.range(0, 50).select(
            col("id").cast("string").as("u"),
            ((col("id") + 1) % 50).cast("string").as("v"), lit(1L).as("w"))
          val outw = edges.groupBy("u")
            .agg(org.apache.spark.sql.functions.sum(col("w")).as("ow"))
          val p = graft.operators.CollocationOps.textRankRound(
            nodes, edges, outw, nodes.withColumn("score", lit(1.0)))
            .queryExecution.executedPlan.toString
          p.contains("hashpartitioning") && !p.contains("CartesianProduct") &&
            !p.contains("BroadcastNestedLoopJoin") }),
      ("q207 linear probe: a GD round is one corpus scan into a partial-aggregated 1-row integer gradient — no join, no shuffle of rows",
        { val p = graft.operators.ClassifierOps.q207RoundPlanProbe(spark, sfDir)
            .queryExecution.executedPlan.toString
          p.contains("HashAggregate") && p.contains("partial_sum") &&
            !p.contains("Join") && !p.contains("CartesianProduct") }),
      ("q208 Moore-Lewis: both LM scoring passes are broadcast-hash joins over the shared bigram frame — no cartesian, no corpus self-join",
        { val p = graft.operators.LmOps.q208MooreLewis.fn(spark, sfDir)
            .queryExecution.executedPlan.toString
          // 2 models × (c2 + c1) = ≥4 broadcast-hash joins; the two
          // 1-row vocab-size frames ride a broadcast nested loop by
          // construction (constant-size), so only cartesians are banned
          "BroadcastHashJoin".r.findAllIn(p).length >= 4 &&
            !p.contains("CartesianProduct") }),
      ("q224 Benford: one 9-cell keyed agg with map-side combine; epilogue on the digit grid only",
        { val p = planOf("q224_benford")
          p.contains("partial_count") && !p.contains("CartesianProduct") }),
      ("q225 burstiness: vocab rollup TakeOrdered to 20, never a global sort of the token table",
        { val p = planOf("q225_burstiness")
          p.contains("TakeOrderedAndProject") && !p.contains("CartesianProduct") }),
      ("q226 source MinHash: signature agg partial-combined; pair matrix rides a broadcast of the S-row signature table",
        { val p = planOf("q226_source_minhash")
          p.contains("partial_min") && !p.contains("CartesianProduct") }),
      ("q227 RBO: corpus reduces to (half, token) counts; the geometric sum runs on the 100-row depth grid",
        { val p = planOf("q227_rank_churn")
          p.contains("partial_count") && !p.contains("CartesianProduct") }),
      ("q228 conditional entropy: ONE bigram-keyed shuffle; c1/N are grid rollups, never corpus rescans",
        { val p = planOf("q228_conditional_entropy")
          !p.contains("CartesianProduct") }),
      ("q229 diversity: q222's source-grid posture — keyed agg then a 1-row epilogue",
        { val p = planOf("q229_diversity")
          p.contains("partial_sum") && !p.contains("Join") }),
      ("q230 HLL union: per-source 256-B partials, union folded from registers — no second corpus pass, no cartesian",
        { val p = planOf("q230_hll_union")
          p.contains("partial_hll_sketch") && !p.contains("CartesianProduct") }),
      ("q231 Kendall tau: pair counting joins the value GRID (broadcast NL over aggregated cells), never doc×doc",
        { val p = planOf("q231_kendall_tau")
          p.contains("BroadcastNestedLoopJoin") &&
            !p.contains("CartesianProduct") }),
      ("q232 Mann-Whitney: the corpus reduces to the merged value grid before ranks — one keyed partial agg, windows on the grid",
        { val p = planOf("q232_mann_whitney")
          p.contains("partial_sum") && !p.contains("CartesianProduct") }),
      ("q233 Cramér's V: one (source,lang) keyed agg; the completed r×k grid is a broadcast cross of two distinct lists",
        { val p = planOf("q233_cramers_v")
          p.contains("partial_count") && !p.contains("CartesianProduct") }),
      ("q234 PSI: one length-keyed count shuffle; decile edges and buckets run on the grid",
        { val p = planOf("q234_psi")
          p.contains("partial_sum") && !p.contains("CartesianProduct") }),
      ("q235 source JSD: corpus reduces to the (source,tok) grid; the pair join is grid-on-tok and the pair table a broadcast cross of S-row totals — never doc×doc",
        { val p = planOf("q235_source_jsd")
          p.contains("partial_count") && !p.contains("CartesianProduct") }),
      ("q236 Heaps fit: token-keyed min agg + bucket counts; windows and the OLS run on the bucket grid only",
        { val p = planOf("q236_heaps_fit")
          p.contains("partial_min") && !p.contains("CartesianProduct") }),
      ("q237 Good-Turing: token-keyed count folded to the frequency-of-frequencies grid, epilogue on the grid — no joins at all",
        { val p = planOf("q237_good_turing")
          p.contains("partial_count") && !p.contains("Join") &&
            !p.contains("CartesianProduct") }),
      ("q238 Zipf fit: min-ranks from a cumulative window over the frequency-of-frequencies grid — the vocab table is never globally windowed, no joins",
        { val p = planOf("q238_zipf_fit")
          p.contains("partial_count") && !p.contains("Join") &&
            !p.contains("CartesianProduct") }),
      ("q239 dedup preflight: the density projection NEVER runs the band self-join it gates — bucket counts partial-agg, the only join is the 1-row total cross",
        { val p = planOf("q239_dedup_preflight")
          p.contains("partial_count") && !p.contains("SortMergeJoin") &&
            !p.contains("ShuffledHashJoin") }),
      ("q242 128-bit simhash: candidates from one int-key equi band join (never cartesian), Hamming verify as XOR+bit_count directly on the join output",
        { val p = planOf("q242_simhash128_pairs")
          p.contains("bit_count") && !p.contains("CartesianProduct") &&
            !p.contains("BroadcastNestedLoopJoin") }),
      ("q243 production kNN graph: NO N×C window exchange anywhere (the two-level point) and no cartesian — coarse probe is a literal-array map, fine fan-out a broadcast join",
        { val p = planOf("q243_knn_graph_prod")
          !p.contains("CartesianProduct") &&
            "BroadcastHashJoin".r.findAllIn(p).nonEmpty }),
      ("q244 Manku permuted tables: candidates from one long-key equi self-join over the 20 exploded table keys (never cartesian), XOR+bit_count verify on the join output",
        { val p = planOf("q244_manku_pairs")
          p.contains("bit_count") && !p.contains("CartesianProduct") &&
            !p.contains("BroadcastNestedLoopJoin") }),
      ("q245 containment recall: probe->index join is hash-equi on the shingle hash (never cartesian); the verify counts shared hashes through the inverted index so set arrays never cross a shuffle",
        { val p = planOf("q245_containment_recall")
          !p.contains("CartesianProduct") &&
            !p.contains("BroadcastNestedLoopJoin") }),
      ("q245: the candidate-restrict join is sort-free (SHUFFLE_HASH build on the distinct-keyed pair frame, the r16 attribution lever)",
        planOf("q245_containment_recall").contains("ShuffledHashJoin")))
    var bad = 0
    checks.foreach { case (label, ok) =>
      println((if (ok) "PLAN_OK   " else "PLAN_FAIL ") + label)
      if (!ok) bad += 1
    }
    // machine-derived count line — README/SCALE cite THIS, never a
    // hand-maintained number (the Verify count-line convention)
    println(s"[plans] ok=${checks.size - bad} fail=$bad")
    println(s"PLANS_DONE failures=$bad")
    spark.stop()
  }

  /** Rewrite the nondeterministic tokens of a formatted plan so that
    * regenerating PLANS.md produces byte-identical text when the plan
    * STRUCTURE is unchanged (r16 ADVICE): attribute exprIds (#NNNN)
    * become first-appearance ordinals, `plan_id=` values, RDD ids
    * (`MapPartitionsRDD[392]`, which count the RDDs earlier queries
    * made) and JVM lambda names become fixed placeholders, the lambdas
    * in both the hex `Lambda$N/0x…` form of newer JDKs and the decimal
    * `Lambda$N/123456` form of older ones. Only the PLANS.md artifact is
    * normalized — the machine checks read raw plans. */
  private[graft] def normalize(plan: String): String = {
    val pid = plan.replaceAll("plan_id=\\d+", "plan_id=X")
      .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
    val lam = pid
      .replaceAll("\\$\\$Lambda\\$?\\d*/(0x[0-9a-fA-F]+|\\d+)(@[0-9a-fA-F]+)?", "\\$\\$LAMBDA")
      .replaceAll("Lambda\\$\\d+/(0x[0-9a-fA-F]+|\\d+)(@[0-9a-fA-F]+)?", "LAMBDA")
    val ids = scala.collection.mutable.LinkedHashMap[String, Int]()
    val re = "#(\\d+)".r
    re.findAllMatchIn(lam).foreach(m => ids.getOrElseUpdate(m.group(1), ids.size + 1))
    re.replaceAllIn(lam, m => "#" + ids(m.group(1)))
  }
}
