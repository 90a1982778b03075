package graft.operators

import graft.{QueryDef, Staging, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus composition operators for the training-data tier: the steps
  * that decide WHICH cleaned documents a pretraining run actually
  * trains on — benchmark decontamination (GPT-3 §5 / Gopher n-gram
  * overlap), deterministic train/val/test splitting, static
  * domain-mixture sampling (the DoReMi/Pile static-weights shape), and
  * semantic deduplication over embeddings (SemDeDup, Abbas et al.
  * 2023). All public-knowledge designs.
  *
  * Shared scale theme: every corpus-global structure here (the
  * benchmark n-gram set, the centroid table, the per-domain rate map)
  * is tiny relative to the corpus, so it rides a broadcast while the
  * corpus itself stays in narrow, codegen'd map stages; the only
  * blocking joins are keyed on a cluster/bucket id, never N².
  */
object MixOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.loadParallel(s, dir, "documents")

  // ---------------------------------------------------------------
  // q92: benchmark decontamination (n-gram overlap)
  // ---------------------------------------------------------------

  /** Train/test decontamination: flag any training document sharing a
    * 5-gram with the held-out benchmark set (GPT-3 appendix C and
    * Gopher both use 13-gram variants of exactly this check; 5-grams
    * fit the synthetic corpus's short docs). Benchmark stand-in:
    * every doc with doc_id % 10 == 7.
    *
    * Scale: the benchmark gram set is the DISTINCT n-grams of the eval
    * suites — millions of rows against a corpus of trillions — so it
    * broadcasts, and the corpus side is one narrow explode + one
    * groupBy(doc_id) whose shuffle carries only (doc_id, hit) pairs.
    * The corpus is never joined against itself. */
  val q92Decontaminate: QueryDef = QueryDef(
    "q92_decontaminate",
    (s, dir) => {
      // not materialized: each doc-disjoint leg re-splits only its own
      // slice, which beats a corpus-sized checkpoint at x10 and x100
      // (SCALE.md, q92 fused re-split vs checkpointed grams)
      val grams = CorpusOps.fiveGrams(s, dir)
        .select(col("doc_id"), explode(col("shingles")).as("sh"))
      val benchGrams = grams.filter(col("doc_id") % 10 === 7)
        .select(col("sh")).distinct()
      grams.filter(col("doc_id") % 10 =!= 7)
        .join(broadcast(benchGrams).withColumn("hit", lit(1)), Seq("sh"), "left_outer")
        .groupBy(col("doc_id"))
        .agg(sum(coalesce(col("hit"), lit(0))).as("n_overlap"))
        .withColumn("is_contaminated", col("n_overlap") >= 1)
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
      bench AS (SELECT DISTINCT sh FROM grams WHERE doc_id % 10 = 7)
      SELECT c.doc_id,
        CAST(sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
        sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) >= 1 AS is_contaminated
      FROM grams c LEFT JOIN bench b ON c.sh = b.sh
      WHERE c.doc_id % 10 <> 7
      GROUP BY c.doc_id ORDER BY c.doc_id"""),
    headline = true)

  // ---------------------------------------------------------------
  // q109: graded contamination fraction (dirty-token ratio shape)
  // ---------------------------------------------------------------

  private val DirtyFrac = 0.125 // Llama 3's 1/8 "mostly clean" boundary shape

  /** Graded decontamination score: the FRACTION of a training doc's
    * n-grams found in the benchmark set, with the binary gate at
    * [[DirtyFrac]] — q92's flag says "touched the benchmark at all"
    * (GPT-3's conservative rule); the Llama-3-style report grades
    * overlap so a threshold can separate quotation-level contact from
    * wholesale inclusion. Same stand-in benchmark as q92
    * (doc_id % 10 == 7).
    *
    * Scale: exactly q92's plan — the benchmark gram set broadcasts,
    * the corpus side is one narrow explode + groupBy(doc_id) carrying
    * (doc_id, hit) pairs; the extra ratio is one more aggregate column
    * on the same shuffle, so the graded report costs nothing over the
    * flag. */
  val q109ContamFraction: QueryDef = QueryDef(
    "q109_contam_fraction",
    (s, dir) => {
      val grams = CorpusOps.fiveGrams(s, dir)
        .select(col("doc_id"), explode(col("shingles")).as("sh"))
      val benchGrams = grams.filter(col("doc_id") % 10 === 7)
        .select(col("sh")).distinct()
      grams.filter(col("doc_id") % 10 =!= 7)
        .join(broadcast(benchGrams).withColumn("hit", lit(1)), Seq("sh"), "left_outer")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0))).as("n_overlap"))
        .withColumn("contam_frac",
          round(col("n_overlap").cast("double") / col("n_grams"), 6))
        .withColumn("is_dirty", col("contam_frac") >= DirtyFrac)
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH tok AS (SELECT doc_id, trim(text) AS t,
        regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
      sh AS (SELECT doc_id,
        CASE WHEN len(w) >= 5
          THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
                              for i in range(1, len(w) - 3)])
          ELSE [t] END AS shingles FROM tok),
      grams AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
      bench AS (SELECT DISTINCT sh FROM grams WHERE doc_id % 10 = 7)
      SELECT c.doc_id, count(*) AS n_grams,
        CAST(sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
        round(sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS contam_frac,
        round(sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) >= $DirtyFrac AS is_dirty
      FROM grams c LEFT JOIN bench b ON c.sh = b.sh
      WHERE c.doc_id % 10 <> 7
      GROUP BY c.doc_id ORDER BY c.doc_id"""),
    headline = false)

  // ---------------------------------------------------------------
  // q93: deterministic train/val/test split
  // ---------------------------------------------------------------

  /** Portable hash bucket in [0, mod): the first 4 hex chars of the
    * content sha256 decoded by positional arithmetic — the SAME SQL
    * text runs on Spark and DuckDB (both have 1-based instr/substr),
    * so the oracle executes the identical derivation rather than
    * trusting a library hash to agree across engines. Shared by the
    * q93/q94 split-and-mix buckets (mod 100) and q101's DSIR feature
    * space (mod 1024; any divisor of 16⁴ stays uniform). */
  private[graft] def bucketExpr(hashSql: String, mod: Int = 100): String =
    (1 to 4).map { i =>
      s"(instr('0123456789abcdef', substr($hashSql, $i, 1)) - 1) * ${1 << (4 * (4 - i))}"
    }.mkString("(", " + ", s") % $mod")

  /** Deterministic content-hash split: bucket < 80 → train, < 90 →
    * val, else test. Hashing CONTENT (not doc_id) means re-ingesting
    * the same document under a new id lands in the same split — no
    * eval leakage across pipeline re-runs, the property a row-number
    * or random() split does not have. Narrow map stage, no shuffle
    * (the sort is harness determinism). */
  val q93SplitAssign: QueryDef = QueryDef(
    "q93_split_assign",
    (s, dir) =>
      docs(s, dir)
        .withColumn("bucket", expr(bucketExpr("sha2(text, 256)")).cast("long"))
        .select(col("doc_id"), col("bucket"),
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test").as("split"))
        .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id, CAST(${bucketExpr("sha256(text)")} AS BIGINT) AS bucket,
        CASE WHEN ${bucketExpr("sha256(text)")} < 80 THEN 'train'
             WHEN ${bucketExpr("sha256(text)")} < 90 THEN 'val'
             ELSE 'test' END AS split
      FROM documents ORDER BY doc_id"""))

  // ---------------------------------------------------------------
  // q94: static domain-mixture sampling
  // ---------------------------------------------------------------

  /** Per-language target rates (percent kept) — a static mixture table
    * in the DoReMi/Pile style: upweight the primary language, damp the
    * long tail. At scale this map is a broadcast (or a literal CASE,
    * as here) — never a shuffle key. */
  private val rateSql =
    "case lang when 'en' then 90 when 'de' then 60 when 'fr' then 60 else 30 end"

  /** Domain-mixture sampling: keep a deterministic hash-rate sample
    * per language. The same content-hash bucket as q93 drives the
    * keep decision, so the sample is reproducible run-to-run and
    * composes with the split (a doc's bucket decides both). One
    * narrow pass: rate lookup is a literal CASE, kept is a codegen'd
    * comparison — the 100 TB form is identical. */
  val q94DomainMix: QueryDef = QueryDef(
    "q94_domain_mix",
    (s, dir) =>
      docs(s, dir)
        .withColumn("bucket", expr(bucketExpr("sha2(text, 256)")).cast("long"))
        .withColumn("rate", expr(rateSql).cast("long"))
        .select(col("doc_id"), col("lang"), col("bucket"), col("rate"),
          (col("bucket") < col("rate")).as("kept"))
        .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id, lang, CAST(${bucketExpr("sha256(text)")} AS BIGINT) AS bucket,
        CAST($rateSql AS BIGINT) AS rate,
        ${bucketExpr("sha256(text)")} < ($rateSql) AS kept
      FROM documents ORDER BY doc_id"""))

  // ---------------------------------------------------------------
  // q95: semantic dedup (SemDeDup)
  // ---------------------------------------------------------------

  private val Cents = 8      // centroid count for the synthetic corpus
  private val DupCos = 0.35  // q55's near-dup threshold on normalized vecs

  /** SemDeDup (Abbas et al. 2023): assign every embedding to its
    * nearest centroid, then mark as duplicate any vector whose cosine
    * to a LOWER-vec_id vector in the same cluster exceeds the
    * threshold (min-id is the canonical survivor, q22's keep rule).
    * Centroids here are the first [[Cents]] vectors so the oracle can
    * reproduce the assignment; the production path trains them with
    * `ml/VectorML.trainCentroids` (k-means) — the operator shape is
    * unchanged.
    *
    * Scale: the centroid table is k rows (k ≈ √N) against a corpus of
    * billions — a broadcast nested-loop assign, one codegen'd dot per
    * (vector, centroid); the pair join is equi-keyed on the cluster
    * id, so candidates are cluster-local, never N² — the same
    * blocked-join shape as the LSH band join (q51), with the cluster
    * standing in for the band. Assignment is materialized once and
    * reused by both sides of the pair join. */
  /** SemDeDup over an ARBITRARY (cid, cvec) centroid table — q95's
    * plan with the centroid pick factored out. Production passes
    * k-means centroids from `ml/VectorML.trainCentroids`; q95 passes
    * the deterministic vec_id < Cents pick its oracle can reproduce.
    * MixOpsSpec asserts the trained centroids catch at least the
    * deterministic pick's share of the exact all-pairs near-dups
    * (and that flagged pairs are always true near-dups — cluster
    * blocking can only lose candidates, never invent them). */
  def semDedup(e: DataFrame, cents: DataFrame,
      dupCos: Double = DupCos): DataFrame = {
    // argmax-by-cos as a partial-aggregatable min over (-cos, cid, emb):
    // IEEE negation is exact, so min(-cos) = max(cos) with the same
    // min-cid tiebreak; each vector's k candidate rows collapse
    // map-side before the shuffle (the q85-encode lesson)
    val assigned = Staging.materialize(
      e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("embedding"), col("cid"),
          (-expr("dot_product_f(embedding, cvec)")).as("negcos"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("negcos"), col("cid"), col("embedding"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cluster"),
          col("m.embedding").as("embedding")),
      "semdedup_assign")
    val dups = assigned.as("a").join(assigned.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.vec_id") < col("b.vec_id") &&
          expr(s"dot_product_f(a.embedding, b.embedding) > $dupCos"))
      .select(col("b.vec_id").as("vec_id")).distinct()
      .withColumn("is_dup", lit(true))
    assigned.join(dups, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
      .orderBy(col("vec_id"))
  }

  val q95SemanticDedup: QueryDef = QueryDef(
    "q95_semantic_dedup",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val cents = e.filter(col("vec_id") < Cents)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      semDedup(e, cents)
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $Cents),
      scored AS (SELECT e.vec_id, c.cid,
          list_sum(list_transform(list_zip(e.v, c.cv), x -> x[1]*x[2])) AS cos
        FROM e, c),
      asg AS (SELECT vec_id, cid AS cluster FROM (
          SELECT vec_id, cid,
            row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
          FROM scored) r WHERE rn = 1),
      dups AS (SELECT DISTINCT b.vec_id
        FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        JOIN e ea ON ea.vec_id = a.vec_id
        JOIN e eb ON eb.vec_id = b.vec_id
        WHERE list_sum(list_transform(list_zip(ea.v, eb.v), x -> x[1]*x[2])) > $DupCos)
      SELECT g.vec_id, g.cluster, (d.vec_id IS NOT NULL) AS is_dup
      FROM asg g LEFT JOIN dups d ON g.vec_id = d.vec_id
      ORDER BY g.vec_id"""),
    headline = true)

  // ---------------------------------------------------------------
  // q127: embedding-space outlier detection (z-score to own centroid)
  // ---------------------------------------------------------------

  /** Embedding outlier report: assign every vector to its nearest
    * centroid (q95's assignment, verbatim), then flag vectors whose
    * similarity to their OWN cluster centroid sits more than 2
    * standard deviations below the cluster mean — the
    * distance-to-centroid outlier rule used to drop mislabeled /
    * off-distribution samples before contrastive training (the
    * cluster-based pruning in SemDeDup §4's pipeline and classic
    * k-means anomaly scoring). Cosine is rounded BEFORE the cluster
    * statistics so both engines aggregate identical inputs; mean and
    * stddev are rounded aggregates (the accepted last-ulp risk class —
    * see q102's note), and z derives from the rounded values only, so
    * the flag is deterministic given the stats.
    *
    * Scale: assignment is q95's broadcast nested-loop (k ≈ √N
    * centroids); the per-cluster (mean, std) table is k rows —
    * broadcast back; the z-score is a narrow projection. Nothing
    * beyond the assignment ever shuffles, and the assignment is the
    * same index-build artifact q56/q95/q100 already share. */
  val q127EmbeddingOutliers: QueryDef = QueryDef(
    "q127_embedding_outliers",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val cents = e.filter(col("vec_id") < Cents)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      // same partial-aggregatable argmax as semDedup's assignment
      val assigned = Staging.materialize(
        e.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("cid"),
            (-expr("dot_product_f(embedding, cvec)")).as("negcos"))
          .groupBy(col("vec_id"))
          .agg(min(struct(col("negcos"), col("cid"))).as("m"))
          .select(col("vec_id"), col("m.cid").as("cluster"),
            round(-col("m.negcos"), 6).as("cos")),
        "outlier_assign")
      val stats = assigned.groupBy(col("cluster"))
        .agg(round(avg(col("cos")), 6).as("mu"),
          round(stddev_samp(col("cos")), 6).as("sigma"))
      assigned.join(broadcast(stats), Seq("cluster"))
        .select(col("vec_id"), col("cluster"), col("cos"),
          when(col("sigma") > 0,
            round((col("cos") - col("mu")) / col("sigma"), 6)).as("z"))
        .withColumn("is_outlier", coalesce(col("z") < -2.0, lit(false)))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $Cents),
      scored AS (SELECT e.vec_id, c.cid,
          list_sum(list_transform(list_zip(e.v, c.cv), x -> x[1]*x[2])) AS cos
        FROM e, c),
      asg AS (SELECT vec_id, cid AS cluster, round(cos, 6) AS cos FROM (
          SELECT vec_id, cid, cos,
            row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
          FROM scored) r WHERE rn = 1),
      stats AS (SELECT cluster, round(avg(cos), 6) AS mu,
          round(stddev_samp(cos), 6) AS sigma
        FROM asg GROUP BY cluster)
      SELECT a.vec_id, a.cluster, a.cos,
        CASE WHEN s.sigma > 0 THEN round((a.cos - s.mu) / s.sigma, 6) ELSE NULL END AS z,
        COALESCE(CASE WHEN s.sigma > 0 THEN round((a.cos - s.mu) / s.sigma, 6) ELSE NULL END < -2.0,
          false) AS is_outlier
      FROM asg a JOIN stats s ON a.cluster = s.cluster
      ORDER BY a.vec_id"""))

  // ---------------------------------------------------------------
  // q132: mutual-kNN semantic clustering
  // ---------------------------------------------------------------

  /** Semantic clustering by connected components over the MUTUAL
    * k-NN graph: keep an edge (a, b) only when b is in a's top-k AND
    * a is in b's — the standard symmetrization that stops hub vectors
    * from welding unrelated regions together — then min-label
    * components give every vector a cluster id with the lowest vec_id
    * as representative. This is the clustering substrate of
    * diversity-aware selection (DataComp-style cluster pruning,
    * SemDeDup §4's "keep one per semantic cluster" generalized past
    * a fixed centroid count: cluster count FOLLOWS the data).
    *
    * Scale: the graph comes from the kNN build the index tier already
    * pays for (q130 — IVF-blocked in production, exact here so the
    * recursive-CTE oracle can reproduce it); the mutuality check is a
    * self-equi-join on the k·N edge table, and the component
    * iteration (DedupOps.minLabelComponents — the SAME loop as q91's
    * SimHash clusters) shuffles edge endpoints only, never
    * embeddings. */
  val q132KnnClusters: QueryDef = QueryDef(
    "q132_knn_clusters",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val knn = AnnOps.knnGraphExact(e, AnnOps.GraphK)
        .select(col("vec_id"), col("nbr_id"))
      val mutual = knn.as("a").join(knn.as("b"),
          col("a.vec_id") === col("b.nbr_id") &&
            col("a.nbr_id") === col("b.vec_id") &&
            col("a.vec_id") < col("a.nbr_id"))
        .select(col("a.vec_id").as("doc_a"), col("a.nbr_id").as("doc_b"))
      val labels = DedupOps.minLabelComponents(mutual)
        .select(col("id").as("vec_id"), col("label"))
      e.select(col("vec_id"))
        .join(labels, Seq("vec_id"), "left_outer")
        .select(col("vec_id"),
          coalesce(col("label"), col("vec_id")).as("cluster"))
        .withColumn("is_rep", col("cluster") === col("vec_id"))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH RECURSIVE ${AnnOps.knnSqlCtes},
      knn AS (SELECT vec_id, nbr_id FROM r WHERE rk <= ${AnnOps.GraphK}),
      mutual AS (SELECT a.vec_id AS src, a.nbr_id AS dst
          FROM knn a JOIN knn b
          ON a.vec_id = b.nbr_id AND a.nbr_id = b.vec_id),
      reach(src, dst) AS (
        SELECT vec_id, vec_id FROM e
        UNION
        SELECT r.src, m.dst FROM reach r JOIN mutual m ON r.dst = m.src)
      SELECT src AS vec_id, CAST(min(dst) AS BIGINT) AS cluster,
        (min(dst) = src) AS is_rep
      FROM reach GROUP BY src ORDER BY src"""))

  // ---------------------------------------------------------------
  // q122: cross-source n-gram overlap matrix
  // ---------------------------------------------------------------

  /** Cross-source overlap audit: for every source pair, the number of
    * distinct 5-grams they share and the Jaccard similarity of their
    * gram sets — the "how much of source B is already in source A"
    * heatmap a corpus assembler reads before setting mixture weights
    * (the cross-corpus contamination analyses in Dodge et al. 2021's
    * C4 audit and the Pile's component-overlap reporting). Output is
    * the sparse upper triangle: pairs with zero shared grams are
    * absent.
    *
    * Scale: the (source, gram) membership frame is DISTINCT-reduced
    * before any join (one shuffle keyed on the gram), so the pair join
    * is blocked per gram with fan-out bounded by the per-gram source
    * list — at high source cardinality swap the self-join for a
    * collect_set(source) per gram + pair explode (same output, one
    * shuffle), hash grams to 64-bit keys for fixed-width exchange, and
    * exclude q81's corpus-frequent grams first: boilerplate is
    * precisely the hub key that would otherwise dominate every pair. */
  val q122SourceOverlap: QueryDef = QueryDef(
    "q122_source_overlap",
    (s, dir) => {
      val d = docs(s, dir)
      val grams = Staging.materialize(
        CorpusOps.fiveGramsOf(d)
          .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
          .select(col("source"), explode(col("shingles")).as("sh"))
          .distinct(), "src_grams")
      val counts = grams.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
      grams.join(grams.select(col("sh"), col("source").as("source2")), Seq("sh"))
        .filter(col("source") < col("source2"))
        .groupBy(col("source"), col("source2"))
        .agg(count(lit(1)).as("n_shared"))
        .join(broadcast(counts.select(col("source"), col("n_grams").as("n1"))),
          Seq("source"))
        .join(broadcast(counts.select(col("source").as("source2"),
          col("n_grams").as("n2"))), Seq("source2"))
        .select(col("source"), col("source2"), col("n1"), col("n2"),
          col("n_shared"),
          round(col("n_shared").cast("double") /
            (col("n1") + col("n2") - col("n_shared")), 6).as("jacc"))
        .orderBy(col("source"), col("source2"))
    },
    Some("""WITH tok AS (SELECT doc_id, source, trim(text) AS t,
        regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
      sh AS (SELECT doc_id, source,
        CASE WHEN len(w) >= 5
          THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
                              for i in range(1, len(w) - 3)])
          ELSE [t] END AS shingles FROM tok),
      g0 AS (SELECT source, unnest(shingles) AS sh FROM sh),
      grams AS (SELECT DISTINCT source, sh FROM g0),
      c AS (SELECT source, count(*) AS n FROM grams GROUP BY source),
      p AS (SELECT a.source AS source, b.source AS source2, count(*) AS n_shared
        FROM grams a JOIN grams b ON a.sh = b.sh AND a.source < b.source
        GROUP BY a.source, b.source)
      SELECT p.source, p.source2, c1.n AS n1, c2.n AS n2, p.n_shared,
        round(CAST(p.n_shared AS DOUBLE) / (c1.n + c2.n - p.n_shared), 6) AS jacc
      FROM p JOIN c c1 ON p.source = c1.source
             JOIN c c2 ON p.source2 = c2.source
      ORDER BY p.source, p.source2"""))

  // ---------------------------------------------------------------
  // q157: embedding covariance matrix (the whitening/PCA input)
  // ---------------------------------------------------------------

  /** Upper-triangle covariance matrix of the embedding table — the
    * d(d+1)/2-entry statistic PCA/ZCA whitening, OPQ-style rotations,
    * and Mahalanobis outlier scoring all start from (the distributed
    * half of `VectorML.zcaWhiten`; the eigen/rotation half is a
    * driver-sized d×d problem by construction). Covariance uses the
    * raw-moment identity cov = E[xy] − E[x]E[y]; entries are rounded
    * to 6 (sum-order fp noise is ~1e-13 against a 1e-6 grid, per the
    * aggregate-rounding house rule).
    *
    * Scale: the per-row explosion feeds PARTIAL aggregation keyed on
    * the (i, j) pair index — map-side combine reduces every partition
    * to ≤ d(d+1)/2 cells before the shuffle, so shuffled volume is
    * partitions × d², independent of row count; the d-row mean table
    * broadcasts back onto the moment table twice. The corpus is
    * scanned once. */
  val q157Covariance: QueryDef = QueryDef(
    "q157_covariance",
    (s, dir) => {
      val v = Tables.load(s, dir, "embeddings")
        .select(col("embedding").cast("array<double>").as("v"))
      val n = v.agg(count(lit(1)).cast("double").as("n"))
      val mu = v.select(posexplode(col("v")).as(Seq("i0", "x")))
        .select((col("i0") + 1).as("i"), col("x"))
        .groupBy(col("i")).agg(sum(col("x")).as("sx"))
      val moments = v.select(explode(expr(
          """flatten(transform(sequence(1, 64), i ->
            |  transform(sequence(i, 64), j ->
            |    struct(i, j, element_at(v, i) * element_at(v, j) as xy))))""".stripMargin))
          .as("p"))
        .select(col("p.i"), col("p.j"), col("p.xy"))
        .groupBy(col("i"), col("j")).agg(sum(col("xy")).as("sxy"))
      moments
        .join(broadcast(mu.select(col("i"), col("sx").as("sx_i"))), "i")
        .join(broadcast(mu.select(col("i").as("jj"), col("sx").as("sx_j"))),
          col("j") === col("jj"))
        .crossJoin(broadcast(n))
        .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
          // + 0.0 folds IEEE −0.0 (a legal rounding result either
          // engine may emit) to +0.0 so the text compare can't split
          (round(col("sxy") / col("n") - (col("sx_i") / col("n")) * (col("sx_j") / col("n")), 6)
            + lit(0.0)).as("cov"))
        .orderBy(col("i"), col("j"))
    },
    Some("""WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
      nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
      xs AS (SELECT d.i AS i, e.v[d.i] AS x
        FROM e, (SELECT unnest(range(1, 65)) AS i) d),
      mu AS (SELECT i, sum(x) AS sx FROM xs GROUP BY i),
      ps AS (SELECT a.i AS i, b.j AS j, e.v[a.i] * e.v[b.j] AS xy
        FROM e, (SELECT unnest(range(1, 65)) AS i) a,
             (SELECT unnest(range(1, 65)) AS j) b
        WHERE a.i <= b.j),
      mo AS (SELECT i, j, sum(xy) AS sxy FROM ps GROUP BY i, j)
      SELECT CAST(mo.i AS BIGINT) AS i, CAST(mo.j AS BIGINT) AS j,
        round(mo.sxy / nn.n - (mi.sx / nn.n) * (mj.sx / nn.n), 6) + 0.0 AS cov
      FROM mo
      JOIN mu mi ON mo.i = mi.i
      JOIN mu mj ON mo.j = mj.i
      CROSS JOIN nn
      ORDER BY i, j"""))

  // ---------------------------------------------------------------
  // q209: kernel two-sample MMD² drift audit (quadratic kernel)
  // ---------------------------------------------------------------

  /** Kernel two-sample test statistic between every pair of embedding
    * groups — Gretton et al. 2012's MMD², instantiated with the
    * QUADRATIC kernel k(x,y) = (x·y + 1)², whose biased V-statistic
    * collapses to pure MOMENT arithmetic:
    *
    *   MMD²_k(X,Y) = ‖M_X − M_Y‖_F² + 2·‖μ_X − μ_Y‖²
    *
    * with μ the group mean and M = E[xxᵀ] the second-moment matrix —
    * the distribution-shift audit a pipeline runs between ingest
    * snapshots, sources, or train/eval splits (MAUVE's job, in the
    * moment form that is exactly reproducible cross-engine). Zero MMD²
    * ⇔ matched first+second moments; the two addends are reported
    * separately so a drift can be attributed to mean shift vs
    * covariance/shape change.
    *
    * Scale: identical to q157 — ONE corpus scan explodes each vector's
    * d(d+1)/2 upper-triangle products keyed by (label, i, j); partial
    * aggregation bounds the shuffle at groups × d² cells regardless of
    * row count; everything pairwise happens on the groups×2080-row
    * moment table (broadcast-joined), never between raw vectors. A new
    * snapshot appends its own group's moments without touching old
    * ones. */
  val q209MmdDrift: QueryDef = QueryDef(
    "q209_mmd_drift",
    (s, dir) => {
      val v = Tables.load(s, dir, "embeddings")
        .select(col("label"), col("embedding").cast("array<double>").as("v"))
      val cnt = v.groupBy(col("label"))
        .agg(count(lit(1)).cast("double").as("n"))
      val mu = v.select(col("label"), posexplode(col("v")).as(Seq("i0", "x")))
        .select(col("label"), (col("i0") + 1).as("i"), col("x"))
        .groupBy(col("label"), col("i")).agg(sum(col("x")).as("sx"))
        .join(broadcast(cnt), "label")
        .select(col("label"), col("i"), (col("sx") / col("n")).as("m"))
      val mom = v.select(col("label"), explode(expr(
          """flatten(transform(sequence(1, 64), i ->
            |  transform(sequence(i, 64), j ->
            |    struct(i, j, element_at(v, i) * element_at(v, j) as xy))))""".stripMargin))
          .as("p"))
        .select(col("label"), col("p.i"), col("p.j"), col("p.xy"))
        .groupBy(col("label"), col("i"), col("j")).agg(sum(col("xy")).as("sxy"))
        .join(broadcast(cnt), "label")
        .select(col("label"), col("i"), col("j"),
          (col("sxy") / col("n")).as("mm"),
          when(col("i") === col("j"), lit(1.0)).otherwise(lit(2.0)).as("wt"))
      val meanD = mu.as("a").join(mu.as("b"),
          col("a.i") === col("b.i") && col("a.label") < col("b.label"))
        .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
        .agg(sum(pow(col("a.m") - col("b.m"), 2)).as("mean_dist2"))
      val momD = mom.as("a").join(mom.as("b"),
          col("a.i") === col("b.i") && col("a.j") === col("b.j") &&
            col("a.label") < col("b.label"))
        .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
        .agg(sum(col("a.wt") * pow(col("a.mm") - col("b.mm"), 2))
          .as("moment_dist2"))
      meanD.join(momD, Seq("label_a", "label_b"))
        .select(col("label_a"), col("label_b"),
          (round(col("mean_dist2"), 6) + lit(0.0)).as("mean_dist2"),
          (round(col("moment_dist2"), 6) + lit(0.0)).as("moment_dist2"),
          (round(col("moment_dist2") + lit(2.0) * col("mean_dist2"), 6)
            + lit(0.0)).as("mmd2"))
        .orderBy(col("label_a"), col("label_b"))
    },
    Some("""WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
      cnt AS (SELECT label, CAST(count(*) AS DOUBLE) AS n FROM e GROUP BY label),
      mu AS (SELECT e.label, d.i AS i, sum(e.v[d.i]) / any_value(cnt.n) AS m
        FROM e JOIN cnt ON e.label = cnt.label,
          (SELECT unnest(range(1, 65)) AS i) d
        GROUP BY e.label, d.i),
      mo AS (SELECT e.label, a.i AS i, b.j AS j,
          sum(e.v[a.i] * e.v[b.j]) / any_value(cnt.n) AS mm,
          CASE WHEN a.i = b.j THEN 1.0 ELSE 2.0 END AS wt
        FROM e JOIN cnt ON e.label = cnt.label,
          (SELECT unnest(range(1, 65)) AS i) a,
          (SELECT unnest(range(1, 65)) AS j) b
        WHERE a.i <= b.j
        GROUP BY e.label, a.i, b.j),
      md AS (SELECT a.label AS label_a, b.label AS label_b,
          sum((a.m - b.m) * (a.m - b.m)) AS mean_dist2
        FROM mu a JOIN mu b ON a.i = b.i AND a.label < b.label
        GROUP BY a.label, b.label),
      od AS (SELECT a.label AS label_a, b.label AS label_b,
          sum(a.wt * (a.mm - b.mm) * (a.mm - b.mm)) AS moment_dist2
        FROM mo a JOIN mo b ON a.i = b.i AND a.j = b.j AND a.label < b.label
        GROUP BY a.label, b.label)
      SELECT md.label_a, md.label_b,
        round(md.mean_dist2, 6) + 0.0 AS mean_dist2,
        round(od.moment_dist2, 6) + 0.0 AS moment_dist2,
        round(od.moment_dist2 + 2.0 * md.mean_dist2, 6) + 0.0 AS mmd2
      FROM md JOIN od ON md.label_a = od.label_a AND md.label_b = od.label_b
      ORDER BY md.label_a, md.label_b"""))

  val all: Seq[QueryDef] = Seq(
    q92Decontaminate, q93SplitAssign, q94DomainMix, q95SemanticDedup,
    q109ContamFraction, q122SourceOverlap, q127EmbeddingOutliers,
    q132KnnClusters, q157Covariance, q209MmdDrift)
}
