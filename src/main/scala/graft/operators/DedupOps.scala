package graft.operators

import graft.{QueryDef, Staging, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection for the training-data tier: MinHash + LSH
  * banding, SimHash, n-gram Jaccard verification, embedding-cosine
  * near-dup. Exact dedup is SourceOps.q22 (sha256 groupBy).
  *
  * Scale design (100 TB):
  *  - signatures are computed in a narrow map stage (the codegen'd
  *    `word_shingles` and `minhash_sig` kernels — no UDF, no shuffle of
  *    text);
  *  - the ONLY shuffle is the LSH band join, keyed on (band_id,
  *    band_key) — candidates are a tiny fraction of the corpus, so the
  *    expensive exact-Jaccard verify runs on pairs, never on the
  *    full N² cross product;
  *  - banding parameters (K=8 hashes, 4 bands × 2 rows) trade recall
  *    (pairs with J ≈ 0.5 collide with P ≈ 1-(1-J²)⁴) against candidate
  *    volume; at higher corpus similarity raise rows-per-band.
  */
object DedupOps {

  private val K = 8          // minhash signature length
  private val Bands = 4      // LSH bands (2 rows each)

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.loadParallel(s, dir, "documents")

  /** doc_id + distinct 3-word shingle set (tiny docs fall back to the
    * whole text as one shingle), from the `word_shingles` kernel.
    *
    * No tokenize checkpoint: the kernel splits each row's text once and
    * builds every gram from that split, so project collapse has no
    * token array to inline into per-gram references (the re-split per
    * element cost 15.3 s against 1.7 s for the sf0.1 hash pass). Every
    * downstream family materializes its own hashed frame. */
  private[graft] def shingledOf(d: DataFrame): DataFrame =
    d.select(col("doc_id"), expr("word_shingles(text, 3)").as("shingles"))

  private def shingled(s: SparkSession, dir: String): DataFrame =
    shingledOf(docs(s, dir))

  private def shingleSqlCteFor(src: String): String =
    s"""tok AS (SELECT doc_id, trim(text) AS t,
      |    regexp_split_to_array(trim(text), '\\s+') AS w FROM $src),
      |  sh AS (SELECT doc_id,
      |    CASE WHEN len(w) >= 3
      |      THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                          for i in range(1, len(w) - 1)])
      |      ELSE [t] END AS shingles FROM tok)""".stripMargin

  private val shingleSqlCte = shingleSqlCteFor("documents")

  /** MinHash signatures: ONE sha256 per shingle; the K hash functions
    * are the K disjoint 8-hex-char slices of the digest (256 independent
    * bits buy 8 independent 32-bit permutations for one hash pass —
    * 8× cheaper than hashing per-permutation). Signature entry k is the
    * lexicographic min of slice k. */
  private def hashedOf(sh: DataFrame, tag: String): DataFrame =
    Staging.materialize(sh
      .select(col("doc_id"),
        expr("transform(shingles, s -> sha2(s, 256))").as("hashes")), tag)

  private[graft] def hashedShingles(s: SparkSession, dir: String): DataFrame =
    // materialized once: the LSH band self-join and the Jaccard verify
    // reuse this 4×; without it Spark recomputes the hash pass per use
    hashedOf(shingled(s, dir), "hashed")

  private[graft] def signatures(hashed: DataFrame): DataFrame =
    hashed.withColumn("sig", expr(s"minhash_sig(hashes, $K)"))

  private val hashSqlCte =
    """hs AS (SELECT doc_id, list_transform(shingles, s -> sha256(s)) AS hashes FROM sh)"""

  private val sigSqlCte =
    s"""sig AS (SELECT doc_id, hashes,
       |    [list_aggregate(list_transform(hashes,
       |       h -> substr(h, k * 8 + 1, 8)), 'min')
       |     for k in range(0, $K)] AS sig FROM hs)""".stripMargin

  /** MinHash signature table (inspectable operator output). */
  val q50MinhashSignature: QueryDef = QueryDef(
    "q50_minhash_signature",
    (s, dir) =>
      signatures(hashedShingles(s, dir))
        .select(col("doc_id"), concat_ws("|", col("sig")).as("signature"))
        .orderBy(col("doc_id")),
    Some(s"""WITH $shingleSqlCte,
      $hashSqlCte,
      $sigSqlCte
      SELECT doc_id, array_to_string(sig, '|') AS signature FROM sig
      ORDER BY doc_id"""))

  /** LSH candidate pairs from a signature frame: band → bucket
    * self-join → distinct (doc_a < doc_b). The ONLY pair-producing
    * shuffle of the MinHash family — shared by q51's verify and
    * q131's calibration audit. */
  private def bandsOf(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
        explode(unrolled(Bands, b => s"""struct($b as band_id,
            concat(element_at(sig, 2 * $b + 1), '|', element_at(sig, 2 * $b + 2)) as band_key)""")).as("bd"))
      .select(col("doc_id"), col("bd.band_id"), col("bd.band_key"))

  /** `array(f(0), …, f(n - 1))`: a fixed-length per-row array as one
    * generated projection, where a `transform` lambda over
    * `sequence(0, n - 1)` would run interpreted per element. */
  private def unrolled(n: Int, f: Int => String): Column =
    expr((0 until n).map(f).mkString("array(", ", ", ")"))

  private def lshCandidatePairs(sig: DataFrame): DataFrame = {
    val bands = bandsOf(sig)
    bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** The band + candidate-pair CTEs — the oracle text shared by q51
    * and q131 so the two cannot drift. */
  private val bandsSqlCte =
    s"""bands AS (SELECT doc_id, b AS band_id,
       |    sig[2*b + 1] || '|' || sig[2*b + 2] AS band_key
       |  FROM (SELECT doc_id, sig, unnest(range(0, $Bands)) AS b FROM sig) x)""".stripMargin

  private val bandsPairsSqlCte =
    s"""$bandsSqlCte,
       |  pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |    FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key
       |      AND a.doc_id < b.doc_id)""".stripMargin

  /** Full MinHash-LSH near-dup pipeline: band → bucket join → exact
    * Jaccard verify on the candidates only. */
  val q51LshJaccardPairs: QueryDef = QueryDef(
    "q51_lsh_jaccard_pairs",
    (s, dir) => {
      preflightGuard(s, dir, "minhash")
      val hashed = hashedShingles(s, dir)
      // exact Jaccard verify THROUGH the inverted index (collision-free
      // at 256 bits), candidates only: |A∩B| from commonHashCounts'
      // slim co-occurrence rows, |A∪B| = n_a + n_b − |A∩B| from cached
      // set sizes — the minhash pair-count gate does not price verify
      // BYTES, so per-pair hash ARRAYS must never cross the candidate
      // join (the q245 800 GB lesson, applied to its own family).
      // left_outer: a band collision with zero true overlap is still a
      // candidate row (jaccard 0), as before.
      val pairs = Staging.materialize(lshCandidatePairs(signatures(hashed)), "q51_cand")
      val sizes = hashed.select(col("doc_id"),
        size(col("hashes")).cast("long").as("n"))
      pairs
        .join(commonHashCounts(hashed, pairs, "doc_a", "doc_b",
            col("a.doc_id") < col("b.doc_id"), incidenceGuard = true),
          Seq("doc_a", "doc_b"), "left_outer")
        .na.fill(0L, Seq("n_common"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")),
          Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")),
          Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          round(col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common")), 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(s"""WITH $shingleSqlCte,
      $hashSqlCte,
      $sigSqlCte,
      $bandsPairsSqlCte
      SELECT doc_a, doc_b,
        round(CAST(len(list_intersect(ha.hashes, hb.hashes)) AS DOUBLE) /
          len(list_distinct(list_concat(ha.hashes, hb.hashes))), 6) AS jaccard
      FROM pairs
      JOIN hs ha ON doc_a = ha.doc_id
      JOIN hs hb ON doc_b = hb.doc_id
      ORDER BY doc_a, doc_b"""),
    headline = true)

  // ---------------------------------------------------------------
  // q241: containment / overlap-coefficient classification
  // ---------------------------------------------------------------

  /** Containment classification on the q51 candidate pairs: next to
    * the symmetric resemblance (Jaccard) that drives near-dup removal,
    * compute the ASYMMETRIC overlap coefficient |A∩B| / min(|A|,|B|)
    * (Szymkiewicz–Simpson; Broder 1997 distinguishes resemblance from
    * containment) and classify each candidate pair: `near_dup`
    * (resemblance ≥ 0.8 — q116/q91's removal tier), `subset`
    * (containment ≥ 0.8 with lower resemblance — one doc substantially
    * inside the other: quotes, boilerplate wrapping, truncated
    * re-crawls, the pairs resemblance-only dedup KEEPS but a training
    * set usually shouldn't), `partial` otherwise. Sizes are exact set
    * cardinalities (shingles are array_distinct'd at creation).
    *
    * Scale: zero new shuffles — the same banded candidate set and
    * materialized hash frame as q51/q131; the classification is
    * per-pair array arithmetic. Honest bias note: LSH bands recall
    * RESEMBLANCE, so a tiny doc inside a huge one may never become a
    * candidate — this operator classifies the candidate set the
    * resemblance pass already paid for. The subset-RECALL path is
    * [[q245ContainmentRecall]]: bottom-k probing keyed on the small
    * side's hashes, with a pigeonhole recall-1 guarantee on the τ
    * bound (and a spec exhibiting the pair this operator misses). */
  val q241ContainmentPairs: QueryDef = QueryDef(
    "q241_containment_pairs",
    (s, dir) => {
      // same band self-join as q51 ⇒ same family gate: with preflight
      // armed, a saturated corpus must refuse here too, not just in q51
      preflightGuard(s, dir, "minhash")
      val hashed = hashedShingles(s, dir)
      // slim verify through the inverted index — see q51's note
      val pairs = Staging.materialize(lshCandidatePairs(signatures(hashed)), "q241_cand")
      val sizes = hashed.select(col("doc_id"),
        size(col("hashes")).cast("long").as("n"))
      pairs
        .join(commonHashCounts(hashed, pairs, "doc_a", "doc_b",
            col("a.doc_id") < col("b.doc_id"), incidenceGuard = true),
          Seq("doc_a", "doc_b"), "left_outer")
        .na.fill(0L, Seq("n_common"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")),
          Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")),
          Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
          col("n_common"))
        .withColumn("jaccard", round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 6))
        .withColumn("containment", round(col("n_common").cast("double") /
          least(col("n_a"), col("n_b")), 6))
        .withColumn("relation",
          when(col("jaccard") >= 0.8, lit("near_dup"))
            .when(col("containment") >= 0.8, lit("subset"))
            .otherwise(lit("partial")))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(s"""WITH $shingleSqlCte,
      $hashSqlCte,
      $sigSqlCte,
      $bandsPairsSqlCte,
      sized AS (SELECT doc_a, doc_b,
          CAST(len(ha.hashes) AS BIGINT) AS n_a,
          CAST(len(hb.hashes) AS BIGINT) AS n_b,
          CAST(len(list_intersect(ha.hashes, hb.hashes)) AS BIGINT) AS n_common
        FROM pairs
        JOIN hs ha ON doc_a = ha.doc_id
        JOIN hs hb ON doc_b = hb.doc_id)
      SELECT doc_a, doc_b, n_a, n_b, n_common,
        round(CAST(n_common AS DOUBLE) / (n_a + n_b - n_common), 6) AS jaccard,
        round(CAST(n_common AS DOUBLE) / least(n_a, n_b), 6) AS containment,
        CASE WHEN round(CAST(n_common AS DOUBLE) / (n_a + n_b - n_common), 6) >= 0.8
               THEN 'near_dup'
             WHEN round(CAST(n_common AS DOUBLE) / least(n_a, n_b), 6) >= 0.8
               THEN 'subset'
             ELSE 'partial' END AS relation
      FROM sized ORDER BY doc_a, doc_b"""))

  // ---------------------------------------------------------------
  // q131: MinHash estimator calibration
  // ---------------------------------------------------------------

  /** MinHash calibration audit: on the SAME candidate pairs q51
    * verifies, put the signature-agreement estimate (matching
    * components / K — the datasketch estimator, E[est] = J) next to
    * the exact hashed-shingle Jaccard and report the absolute error.
    * This is the table you read before trusting signature-only
    * screening at scale: if |est − J| runs hot for your corpus, K is
    * too small (the estimator's σ = sqrt(J(1−J)/K)). Estimates are
    * exact i/K binary fractions and the exact Jaccard is q51's
    * rounded expression, so cross-engine parity is deterministic.
    *
    * Scale: zero new shuffles — the pair table, signature frame, and
    * hash frame all already exist in the q51 pass; the audit is three
    * equi-joins on doc ids over the candidate-sized pair set. */
  val q131MinhashCalibration: QueryDef = QueryDef(
    "q131_minhash_calibration",
    (s, dir) => {
      val hashed = hashedShingles(s, dir)
      val sig = signatures(hashed)
      lshCandidatePairs(sig)
        .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("siga")), Seq("doc_a"))
        .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sigb")), Seq("doc_b"))
        .join(hashed.select(col("doc_id").as("doc_a"), col("hashes").as("ha")), Seq("doc_a"))
        .join(hashed.select(col("doc_id").as("doc_b"), col("hashes").as("hb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          (expr("size(filter(zip_with(siga, sigb, (x, y) -> x = y), b -> b))")
            .cast("double") / K).as("est_jaccard"),
          round(size(array_intersect(col("ha"), col("hb"))).cast("double") /
            size(array_union(col("ha"), col("hb"))), 6).as("jaccard"))
        .withColumn("abs_err", round(abs(col("est_jaccard") - col("jaccard")), 6))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(s"""WITH $shingleSqlCte,
      $hashSqlCte,
      $sigSqlCte,
      $bandsPairsSqlCte,
      est AS (SELECT doc_a, doc_b,
          CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
            x -> CASE WHEN x[1] = x[2] THEN 1 ELSE 0 END)) AS DOUBLE) / $K AS est_jaccard,
          round(CAST(len(list_intersect(ha.hashes, hb.hashes)) AS DOUBLE) /
            len(list_distinct(list_concat(ha.hashes, hb.hashes))), 6) AS jaccard
        FROM pairs
        JOIN sig sa ON doc_a = sa.doc_id
        JOIN sig sb ON doc_b = sb.doc_id
        JOIN hs ha ON doc_a = ha.doc_id
        JOIN hs hb ON doc_b = hb.doc_id)
      SELECT doc_a, doc_b, est_jaccard, jaccard,
        round(abs(est_jaccard - jaccard), 6) AS abs_err
      FROM est ORDER BY doc_a, doc_b"""))

  // ---------------------------------------------------------------
  // q239: banded-dedup pre-flight candidate-density gate
  // ---------------------------------------------------------------

  private val PfMod = 65536      // the 16^4 content-hash bucket space
  private val PfThresh = 16384   // buckets kept → sample rate p = 1/4
  private val PfBudgetDefault = 1000.0 // projected raw candidates per doc

  /** The gates' budget (raw candidate pairs per doc) when
    * `spark.graft.dedup.preflight` is "true", else None (gates off). */
  private def preflightBudget(s: SparkSession): Option[Double] =
    if (s.conf.getOption("spark.graft.dedup.preflight").contains("true"))
      Some(s.conf.getOption("spark.graft.dedup.preflightBudget")
        .map(_.toDouble).getOrElse(PfBudgetDefault))
    else None

  /** 1/p² for the Bernoulli(PfThresh/PfMod) sample — 16.0; renders
    * identically into the oracle text so the two cannot drift. */
  private val PfInv2 = (PfMod.toDouble / PfThresh) * (PfMod.toDouble / PfThresh)

  /** Unbiased projection of the RAW candidate volume a band self-join
    * would emit, from a sampled band-key frame (doc_id, k): under a
    * Bernoulli(p) doc sample, E[c_b(c_b−1)] = p²·n_b(n_b−1) per
    * bucket, so Σ c_b(c_b−1)/(2p²) estimates the full-corpus
    * Σ n_b(n_b−1)/2 BEFORE any verify/distinct — the quantity that
    * blows up on content-saturated corpora (SCALE.md Round 13:
    * candidate density is a content property, not a row count; the
    * x100 synthetic projects ~10⁵ pairs/doc where real data sits at
    * ~10¹). One groupBy + one 1-row aggregate; the sample never joins
    * itself. */
  private def projectedPairs(keys: DataFrame, bandsPerDoc: Int): DataFrame =
    keys.groupBy(col("k")).agg(count(lit(1)).as("c"))
      .agg(
        (coalesce(sum(col("c")), lit(0L)) / lit(bandsPerDoc)).cast("long")
          .as("sample_docs"),
        (coalesce(sum(col("c") * (col("c") - lit(1))), lit(0L)) / lit(2))
          .cast("long").as("sample_pairs"))

  /** One-row pre-flight report: deterministic Bernoulli(1/4) doc coin
    * (the q115 idiom — the ID hash, not the content hash, so duplicate
    * clusters sample independently and the estimator stays unbiased),
    * the family's band keys on the sample only, projected totals, and
    * an ok/refuse verdict against the pairs-per-doc budget. */
  private def pfReport(d: DataFrame, keysOfSample: DataFrame => DataFrame,
      bandsPerDoc: Int, budget: Double): DataFrame = {
    val total = d.agg(count(lit(1)).as("n_docs"))
    val sample = d.filter(expr(
      s"${MixOps.bucketExpr("sha2(cast(doc_id as string), 256)", PfMod)} < $PfThresh"))
    projectedPairs(keysOfSample(sample), bandsPerDoc)
      .crossJoin(total)
      // greatest(n_docs, 1): an empty frame (a pipeline stage that
      // dropped everything) must gate "ok" at density 0, not throw
      // DIVIDE_BY_ZERO under ANSI mode
      .select(col("sample_docs"), col("sample_pairs"), col("n_docs"),
        round(col("sample_pairs") * lit(PfInv2), 4).as("projected_pairs"),
        round(col("sample_pairs") * lit(PfInv2) / greatest(col("n_docs"), lit(1L)), 6)
          .as("pairs_per_doc"),
        when(col("sample_pairs") * lit(PfInv2) / greatest(col("n_docs"), lit(1L))
            > lit(budget),
          lit("refuse")).otherwise(lit("ok")).as("verdict"))
  }

  /** Bipartite pre-flight projection for probe→index joins (the q245
    * containment family): under the Bernoulli(p) doc coin,
    * E[pf_h·df_h − pf_h] = p²·(PF_h·DF_h − PF_h) — the self terms
    * (every probing doc also indexes h, so they scale as p, not p²)
    * cancel EXACTLY because probe keys ⊆ index keys per doc — so
    * Σ_h (pf_h·df_h − pf_h)/p² is an unbiased projection of the
    * ordered raw candidate volume of the full probe→index join, the
    * bipartite twin of [[projectedPairs]]' within-frame Σc(c−1)/2. */
  private def pfReportBipartite(d: DataFrame,
      probeOfSample: DataFrame => DataFrame,
      indexOfSample: DataFrame => DataFrame, budget: Double): DataFrame = {
    val total = d.agg(count(lit(1)).as("n_docs"))
    val sample = d.filter(expr(
      s"${MixOps.bucketExpr("sha2(cast(doc_id as string), 256)", PfMod)} < $PfThresh"))
    val sampleDocs = sample.agg(count(lit(1)).as("sample_docs"))
    val pf = probeOfSample(sample).groupBy(col("k")).agg(count(lit(1)).as("pf"))
    val dfx = indexOfSample(sample).groupBy(col("k")).agg(count(lit(1)).as("df"))
    pf.join(dfx, "k")
      .agg(coalesce(sum(col("pf") * col("df") - col("pf")), lit(0L))
        .cast("long").as("sample_pairs"))
      .crossJoin(sampleDocs).crossJoin(total)
      // greatest(n_docs, 1): same empty-frame guard as pfReport
      .select(col("sample_docs"), col("sample_pairs"), col("n_docs"),
        round(col("sample_pairs") * lit(PfInv2), 4).as("projected_pairs"),
        round(col("sample_pairs") * lit(PfInv2) / greatest(col("n_docs"), lit(1L)), 6)
          .as("pairs_per_doc"),
        when(col("sample_pairs") * lit(PfInv2) / greatest(col("n_docs"), lit(1L))
            > lit(budget),
          lit("refuse")).otherwise(lit("ok")).as("verdict"))
  }

  /** Pre-flight for a named banding family — "minhash" (q51's 4-band
    * keys) or "simhash" (q90's 8 pigeonhole blocks). Each family
    * projects from its OWN keys, so the verdict reflects the join it
    * gates, not a proxy. */
  private[graft] def preflightFor(s: SparkSession, dir: String,
      family: String, budget: Double,
      containTau: Double = ContainTauDefault): DataFrame =
    preflightForDocs(docs(s, dir), family, budget, containTau)

  /** Frame-based pre-flight — the entry the Curation policy slot uses
    * (its documents are a pipeline stage's output, not a directory).
    * `containTau` only matters to the "containment" family: its probe
    * side is the (1−τ)-fraction sketch, so the gate must price the
    * join at the τ the caller will actually run. */
  private[graft] def preflightForDocs(d: DataFrame,
      family: String, budget: Double,
      containTau: Double = ContainTauDefault): DataFrame = {
    family match {
      case "minhash" => pfReport(d, smp =>
          bandsOf(signatures(hashedOf(shingledOf(smp), "pf_hashed")))
            .select(col("doc_id"),
              concat_ws(":", col("band_id"), col("band_key")).as("k")),
        Bands, budget)
      case "simhash" => pfReport(d, smp =>
          simhashBlocks(packedSimhashOf(smp))
            .select(col("doc_id"), col("bk").cast("string").as("k")),
        HamBlocks, budget)
      case "simhash128" => pfReport(d, smp =>
          simhash128Blocks(packedSimhash128Of(smp))
            .select(col("doc_id"), col("bk").cast("string").as("k")),
        HamBlocks, budget)
      case "manku64" => pfReport(d, smp =>
          mankuKeys(packedSimhashOf(smp))
            .select(col("doc_id"), col("mk").cast("string").as("k")),
        MankuTables.length, budget)
      case "containment" => pfReportBipartite(d,
        smp => containProbes(hashedOf(shingledOf(smp), "pf_chash"),
            containTau)
          .select(col("small_id").as("doc_id"), col("h").as("k")),
        smp => containIndex(hashedOf(shingledOf(smp), "pf_chash2"))
          .select(col("big_id").as("doc_id"), col("h").as("k")),
        budget)
      case other => throw new IllegalArgumentException(
        s"unknown dedup pre-flight family '$other' — valid families: " +
        "minhash, simhash, simhash128, manku64, containment")
    }
  }

  /** Conf-gated guard (`spark.graft.dedup.preflight=true`, budget
    * override `spark.graft.dedup.preflightBudget`): runs the family's
    * pre-flight and throws BEFORE the band join when the projected
    * density exceeds budget — the production posture for saturated
    * corpora (SCALE.md Round 13: q205's x100 DNF is this gate's use
    * case; the right answer there is refusing the run, not a bigger
    * cluster). Off by default, so oracle runs and tests never pay the
    * extra pass. */
  private def preflightGuard(s: SparkSession, dir: String, family: String,
      tau: Double = ContainTauDefault): Unit =
    preflightBudget(s).foreach { budget =>
      val r = preflightFor(s, dir, family, budget, tau).collect().head
      if (r.getAs[String]("verdict") == "refuse")
        throw new IllegalStateException(
          s"dedup preflight ($family): projected ${r.getAs[Double]("pairs_per_doc")} raw " +
          s"candidate pairs/doc over budget $budget — content-saturated corpus for these " +
          "banding parameters; raise rows-per-band, shard the corpus, or override " +
          "spark.graft.dedup.preflightBudget")
    }

  /** The gate as an inspectable query (MinHash family, default
    * budget) — the pre-flight a 100 TB dedup run reads before paying
    * for the band join, exact-oracled end to end (coin, sampled
    * signature pipeline, bucket math, verdict). */
  val q239DedupPreflight: QueryDef = QueryDef(
    "q239_dedup_preflight",
    (s, dir) => preflightFor(s, dir, "minhash", PfBudgetDefault),
    Some(s"""WITH smp AS (SELECT doc_id, text FROM documents
        WHERE ${MixOps.bucketExpr("sha256(CAST(doc_id AS VARCHAR))", PfMod)} < $PfThresh),
      ${shingleSqlCteFor("smp")},
      $hashSqlCte,
      $sigSqlCte,
      $bandsSqlCte,
      bk AS (SELECT CAST(band_id AS VARCHAR) || ':' || band_key AS k, count(*) AS c
        FROM bands GROUP BY 1),
      st AS (SELECT CAST(coalesce(sum(c), 0) / $Bands AS BIGINT) AS sample_docs,
          CAST(coalesce(sum(c * (c - 1)), 0) / 2 AS BIGINT) AS sample_pairs FROM bk),
      tot AS (SELECT count(*) AS n_docs FROM documents)
      SELECT sample_docs, sample_pairs, n_docs,
        round(sample_pairs * $PfInv2, 4) AS projected_pairs,
        round(sample_pairs * $PfInv2 / n_docs, 6) AS pairs_per_doc,
        CASE WHEN sample_pairs * $PfInv2 / n_docs > $PfBudgetDefault THEN 'refuse'
             ELSE 'ok' END AS verdict
      FROM st, tot"""))

  /** MinHash via the custom TypedImperativeAggregate over EXPLODED
    * shingle rows — identical signatures to q50 without materializing
    * shingle arrays per document (the map-side-combine shape; see
    * functions/expressions/MinHashAgg.scala). */
  val q52MinhashAggregate: QueryDef = QueryDef(
    "q52_minhash_aggregate",
    (s, dir) => {
      shingled(s, dir)
        .select(col("doc_id"), explode(col("shingles")).as("shingle"))
        .withColumn("h", sha2(col("shingle"), 256))
        .groupBy(col("doc_id"))
        .agg(expr("concat_ws('|', minhash_agg(h))").as("signature"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH $shingleSqlCte,
      $hashSqlCte,
      $sigSqlCte
      SELECT doc_id, array_to_string(sig, '|') AS signature FROM sig
      ORDER BY doc_id"""))

  // --- SimHash ------------------------------------------------------------

  /** 64-bit SimHash: per-token 64-bit hash (first 16 hex chars of
    * sha256), per-bit weighted majority vote. The bit expressions are
    * generated once and shared verbatim with the oracle SQL — both
    * engines run the same arithmetic. */
  private def simhashConcatExpr: String = {
    val bits = (0 until 64).map { b =>
      val j = b / 4 + 1     // 1-based nibble position in the 16-char hash
      val p = 1 << (b % 4)  // bit weight within the nibble
      s"""case when sum(2 * (cast(floor((instr('0123456789abcdef', substr(h, $j, 1)) - 1) / $p.0) as int) % 2) - 1) >= 0 then '1' else '0' end"""
    }
    s"concat(${bits.mkString(", ")})"
  }

  val q53Simhash: QueryDef = QueryDef(
    "q53_simhash",
    (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
        .withColumn("h", expr("substr(sha2(tok, 256), 1, 16)"))
        .groupBy(col("doc_id"))
        .agg(expr(s"$simhashConcatExpr as simhash"))
        .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id, $simhashConcatExpr AS simhash FROM (
      SELECT doc_id, substr(sha256(tok), 1, 16) AS h FROM (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents) t) x
      GROUP BY doc_id ORDER BY doc_id"""))

  /** Exact token-set Jaccard over BLOCKED candidate pairs — the
    * verify-stage shape without MinHash: same-language neighbor-window
    * blocking (|Δdoc_id| ≤ 3) stands in for the production blocking key
    * (LSH band, ingest batch, time window). Never an N² cross product:
    * the join is equi on lang plus a bounded id-range predicate, so
    * candidates grow linearly with the corpus. */
  val q54NgramJaccard: QueryDef = QueryDef(
    "q54_ngram_jaccard",
    (s, dir) => {
      val toks = docs(s, dir)
        .select(col("doc_id"), col("lang"),
          array_distinct(split(trim(col("text")), "\\s+")).as("toks"))
      toks.as("a").join(toks.as("b"),
          col("a.lang") === col("b.lang") &&
            col("a.doc_id") < col("b.doc_id") &&
            col("b.doc_id") <= col("a.doc_id") + 3)
        .select(col("a.lang").as("lang"),
          col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          round(size(array_intersect(col("a.toks"), col("b.toks"))).cast("double") /
            size(array_union(col("a.toks"), col("b.toks"))), 6).as("jaccard"))
        .filter(col("jaccard") > 0.05)
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some("""WITH t AS (SELECT doc_id, lang,
        list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
      FROM documents)
      SELECT lang, doc_a, doc_b, jaccard FROM (
        SELECT a.lang AS lang, a.doc_id AS doc_a, b.doc_id AS doc_b,
          round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
            len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
        FROM t a JOIN t b ON a.lang = b.lang
          AND a.doc_id < b.doc_id AND b.doc_id <= a.doc_id + 3) p
      WHERE jaccard > 0.05
      ORDER BY doc_a, doc_b"""))

  // --- Embedding near-dup -------------------------------------------------

  /** Embedding-cosine near-dup: label-blocked pair join (the blocking key
    * stands in for an LSH/IVF bucket at scale), dot > 0.35 on normalized
    * vectors. */
  val q55EmbeddingNeardup: QueryDef = QueryDef(
    "q55_embedding_neardup",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"))
      e.as("a").join(e.as("b"),
          col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.label").as("label"),
          col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          expr("dot_product_f(a.embedding, b.embedding)").as("cos"))
        .filter(col("cos") > 0.35)
        .select(col("label"), col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"))
        .orderBy(col("vec_a"), col("vec_b"))
    },
    Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
      SELECT label, vec_a, vec_b, round(cos, 6) AS cos FROM (
        SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
          list_sum(list_transform(list_zip(a.v, b.v), x -> x[1]*x[2])) AS cos
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id) p
      WHERE cos > 0.35
      ORDER BY vec_a, vec_b"""))

  private val HamBlocks = 8     // pigeonhole blocks over the 64-bit sig
  private val HamMax = 7        // pairs within this Hamming distance

  /** Shared q90/q112 oracle CTEs ending in `ham(doc_a, doc_b, hamming)`
    * — one copy of the banded SimHash pair pipeline. */
  /** simhashPairSqlCtes + the undirected-edge transitive closure — the
    * component CTEs shared by q91 and the q134 histogram. */
  private[operators] lazy val clusterReachSqlCtes =
    s"""$simhashPairSqlCtes,
       |      hamp AS (SELECT doc_a, doc_b FROM ham WHERE hamming <= $HamMax),
       |      edges AS (SELECT doc_a AS src, doc_b AS dst FROM hamp
       |        UNION SELECT doc_b, doc_a FROM hamp),
       |      reach(src, dst) AS (
       |        SELECT doc_id, doc_id FROM documents
       |        UNION
       |        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)""".stripMargin

  private lazy val simhashPairSqlCtes =
    s"""toks AS (SELECT doc_id, substr(sha256(tok), 1, 16) AS h FROM (
       |        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |        FROM documents) t),
       |      sig AS (SELECT doc_id, $simhashConcatExpr AS simhash FROM toks GROUP BY doc_id),
       |      blocks AS (SELECT doc_id, bs.b AS block_id,
       |          substr(simhash, bs.b * ${64 / HamBlocks} + 1, ${64 / HamBlocks}) AS blk
       |        FROM sig, (SELECT unnest(range(0, $HamBlocks)) AS b) bs),
       |      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |        FROM blocks a JOIN blocks b
       |        ON a.block_id = b.block_id AND a.blk = b.blk AND a.doc_id < b.doc_id),
       |      ham AS (SELECT doc_a, doc_b,
       |          CAST(list_sum([CASE WHEN substr(sa.simhash, i, 1) <> substr(sb.simhash, i, 1)
       |                              THEN 1 ELSE 0 END for i in range(1, 65)]) AS BIGINT) AS hamming
       |        FROM cand
       |        JOIN sig sa ON doc_a = sa.doc_id
       |        JOIN sig sb ON doc_b = sb.doc_id)""".stripMargin

  /** SimHash near-dup PAIRS: the join stage q53's signature table
    * exists for. Pigeonhole banding — a 64-bit signature split into 8
    * blocks of 8 bits guarantees any pair within Hamming distance 7
    * agrees on at least one whole block — so candidates come from an
    * equi self-join on (block_id, block_bits) and the exact 64-position
    * Hamming count runs only on those pairs, never on N².
    *
    * Scale: identical shuffle shape to the MinHash band join (q51) —
    * the dedup-join pattern of Google's production SimHash pipeline
    * (Manku et al., WWW'07, public). Block count trades candidate
    * volume against the distance bound exactly as LSH bands do. */
  /** The SimHash signature packed DIRECTLY into two 32-bit longs —
    * bit-identical to [[simhashConcatExpr]]'s bit string (parity
    * asserted in SimhashPackedSpec) but ~5× cheaper to build: each
    * per-bit vote is an integer shift+mask on the hex-parsed token
    * hash instead of an instr/substr/floor string pass, and the
    * majority test `sum(2·bit−1) ≥ 0` is restated as `2·sum(bit) ≥ n`.
    * The string form survives in q53 (it IS that query's output) and
    * in the oracle SQL — the driver compares RESULTS, not plans, so
    * only the Spark side takes the fast path. */
  private[operators] def packedSimhashOf(d: DataFrame): DataFrame = {
    def shift(b: Int): Int =
      (if (b < 32) 28 - 4 * (b / 4) else 60 - 4 * (b / 4)) + b % 4
    def word(b: Int): String = if (b < 32) "h32" else "l32"
    val sums = (0 until 64).map(b =>
      expr(s"sum(cast(shiftright(${word(b)}, ${shift(b)}) & 1 as int)) as s$b"))
    def pack(range: Range): String = range.map { b =>
      s"if(2 * s$b >= n, ${java.lang.Long.toString(1L << (31 - b % 32))}L, 0L)"
    }.mkString(" + ")
    d.select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .withColumn("h", expr("substr(sha2(tok, 256), 1, 16)"))
      .withColumn("h32", expr("cast(conv(substr(h, 1, 8), 16, 10) as bigint)"))
      .withColumn("l32", expr("cast(conv(substr(h, 9, 8), 16, 10) as bigint)"))
      .groupBy(col("doc_id"))
      .agg(expr("count(*) as n"), sums: _*)
      .select(col("doc_id"),
        expr(s"${pack(0 until 32)} as sig_hi"),
        expr(s"${pack(32 until 64)} as sig_lo"))
  }

  private[operators] def packedSimhash(s: SparkSession, dir: String): DataFrame =
    packedSimhashOf(docs(s, dir))

  /** The 8 pigeonhole block keys of a packed signature — one int per
    * block (block_id·256 + the block's 8 bits). */
  private def simhashBlocks(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("sig_hi"), col("sig_lo"),
      explode(unrolled(8, b =>
        s"""int($b * 256) + int(
           |  shiftright(if($b < 4, sig_hi, sig_lo),
           |             cast(24 - 8 * ($b % 4) as int)) & 255)""".stripMargin)).as("bk"))

  /** Unsorted SimHash near-dup pair frame — the form every in-engine
    * consumer (q91/q112/q134/q205, triplet mining) composes on; q90
    * adds the presentation sort. The packed signature rides ALONG the
    * band rows, so the Hamming verify is a codegen'd XOR+bit_count
    * filter directly on the band join output — 8-bit blocks collide
    * freely, and filtering BEFORE the pair-dedup means only true
    * neighbors (each seen <= 8x) reach the distinct shuffle. The band
    * key is ONE int (block_id·256 + block bits, both derived from the
    * packed sig by shift/mask), so the self-join hashes/compares ints
    * and carries 3 slim columns per side instead of a string key +
    * the bit string (measured 24 s → 11 s on the join stage over
    * 920M raw candidates). */
  private[operators] def simhashPairsOf(sig: DataFrame): DataFrame = {
    val blocks = simhashBlocks(sig)
    blocks.as("a").join(blocks.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.sig_hi ^ b.sig_hi) + bit_count(a.sig_lo ^ b.sig_lo)")
          .cast("long").as("hamming"))
      .filter(col("hamming") <= HamMax)
      .distinct()
  }

  private[operators] def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    preflightGuard(s, dir, "simhash")
    simhashPairsOf(Staging.materialize(packedSimhash(s, dir), "simhash"))
  }

  val q90SimhashHamming: QueryDef = QueryDef(
    "q90_simhash_hamming_pairs",
    (s, dir) => simhashPairs(s, dir).orderBy(col("doc_a"), col("doc_b")),
    Some(s"""WITH $simhashPairSqlCtes
      SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= $HamMax
      ORDER BY doc_a, doc_b"""))

  /** LSH band/row tuning: pick (bands, rowsPerBand) with bands·rows <=
    * numPerm minimizing `fpWeight·FP + fnWeight·FN`, where FP/FN are
    * the integrals of the S-curve `1 − (1 − s^r)^b` below/above the
    * target Jaccard threshold — the standard MinHash-LSH parameter
    * optimization (Leskovec/Rajaraman/Ullman ch.3; datasketch's
    * `_optimal_param`). Driver-side closed loop over ≤ numPerm²
    * candidates with a fixed-step numeric integral; the result feeds
    * q51's band join as its (bands, rows) constants. */
  def tuneLshBands(numPerm: Int, threshold: Double,
      fpWeight: Double = 0.5, fnWeight: Double = 0.5): (Int, Int) = {
    require(numPerm >= 2 && threshold > 0.0 && threshold < 1.0)
    val steps = 1000
    def curve(s: Double, b: Int, r: Int): Double =
      1.0 - math.pow(1.0 - math.pow(s, r), b)
    def fp(b: Int, r: Int): Double = {
      var a = 0.0; var i = 0
      while (i < steps) {
        val s = threshold * (i + 0.5) / steps
        a += curve(s, b, r); i += 1
      }
      a * threshold / steps
    }
    def fn(b: Int, r: Int): Double = {
      var a = 0.0; var i = 0
      while (i < steps) {
        val s = threshold + (1.0 - threshold) * (i + 0.5) / steps
        a += 1.0 - curve(s, b, r); i += 1
      }
      a * (1.0 - threshold) / steps
    }
    var best = (1, 1)
    var bestErr = Double.MaxValue
    var b = 1
    while (b <= numPerm) {
      var r = 1
      while (b * r <= numPerm) {
        val err = fpWeight * fp(b, r) + fnWeight * fn(b, r)
        if (err < bestErr) { bestErr = err; best = (b, r) }
        r += 1
      }
      b += 1
    }
    best
  }

  private val EditSim = 0.8 // normalized edit-similarity dup threshold

  /** Edit-distance verification of the SimHash candidates: exact
    * Levenshtein over q90's banded pairs, reported as a normalized
    * similarity `1 − lev / max(len)` with the dup gate at [[EditSim]]
    * — the character-level confirmation pass short-text dedup
    * pipelines run where shingle Jaccard (q54) is too coarse.
    * Candidates that fail the gate stay in the report (the graded
    * q109 convention) so the threshold can be tuned from data.
    *
    * Scale: Levenshtein is O(len²) per pair, which is exactly why it
    * runs ONLY on the banded candidate set (q90's shuffle discipline —
    * a vanishing fraction of N²); the two text joins are equi on
    * doc_id, and at 100 TB the bounded 3-arg `levenshtein(l, r, k)`
    * caps the DP early for pairs that cannot reach the gate. */
  val q112EditDistPairs: QueryDef = QueryDef(
    "q112_edit_dist_pairs",
    (s, dir) => {
      val pairs = simhashPairs(s, dir).select(col("doc_a"), col("doc_b"))
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      pairs
        .join(d.select(col("doc_id").as("doc_a"), col("text").as("ta")), Seq("doc_a"))
        .join(d.select(col("doc_id").as("doc_b"), col("text").as("tb")), Seq("doc_b"))
        .withColumn("lev", levenshtein(col("ta"), col("tb")).cast("long"))
        .withColumn("mx", greatest(length(col("ta")), length(col("tb"))))
        .withColumn("edit_sim", expr("round(1 - cast(lev as double) / mx, 6)"))
        .withColumn("is_dup", col("edit_sim") >= EditSim)
        .select(col("doc_a"), col("doc_b"), col("lev"), col("edit_sim"),
          col("is_dup"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(s"""WITH $simhashPairSqlCtes,
      pairs AS (SELECT doc_a, doc_b FROM ham WHERE hamming <= $HamMax),
      lv AS (SELECT p.doc_a, p.doc_b,
          levenshtein(da.text, db.text) AS lev,
          greatest(length(da.text), length(db.text)) AS mx
        FROM pairs p
        JOIN documents da ON p.doc_a = da.doc_id
        JOIN documents db ON p.doc_b = db.doc_id)
      SELECT doc_a, doc_b, CAST(lev AS BIGINT) AS lev,
        round(1 - cast(lev as double) / mx, 6) AS edit_sim,
        round(1 - cast(lev as double) / mx, 6) >= $EditSim AS is_dup
      FROM lv ORDER BY doc_a, doc_b"""))

  /** Canonical selection for duplicate CLUSTERS: near-dup pairs (q90's
    * Hamming graph) are only edges — a keep-one-per-group dedup needs
    * the connected component each doc belongs to, with the lowest
    * doc_id as the canonical survivor (the reference's min-doc_id
    * keep rule from q22, lifted from exact to near duplicates).
    *
    * Spark side: iterative min-label propagation — each round every
    * doc takes the min of its own label and its neighbors', a
    * join + groupBy pair per round, labels localCheckpointed to keep
    * the lineage flat; converges in O(component diameter) rounds
    * (dup clusters are shallow — bounded here at 20). This is the
    * standard large-scale connected-components shape (Hash-to-Min,
    * Vassilvitskii et al., public); the oracle computes the same
    * fixpoint as a recursive-CTE transitive closure.
    *
    * The iteration runs ONLY over docs that appear in some near-dup
    * edge: isolated docs are their own canonical by definition and
    * never change label, so they re-enter with a left join at the end.
    * At 100 TB the dup graph is orders of magnitude smaller than the
    * corpus (most docs have no near-duplicate), so every propagation
    * round shuffles the dup subgraph, not the corpus. */
  /** Min-label connected components over an UNDIRECTED pair frame
    * (doc_a, doc_b): each round every node takes the min of its own
    * label and its neighbors', a join + groupBy per round with labels
    * materialized to keep lineage flat — the Hash-to-Min shape q91's
    * scaladoc describes, factored out so the SimHash dup graph (q91)
    * and the mutual-kNN semantic graph (q132) run the SAME iteration.
    * Returns (id, label) for EDGE ENDPOINTS only; isolated nodes are
    * their own component by definition and re-enter via the caller's
    * left join. Converges in O(component diameter) rounds. */
  private[operators] def minLabelComponents(pairs: DataFrame,
      maxRounds: Int = 20): DataFrame = {
    val edges = Staging.materialize(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))),
      "edges")
    // working set: edge endpoints only (src already carries both
    // directions after the union above)
    var labels = Staging.materialize(edges
      .select(col("src").as("id")).distinct()
      .withColumn("label", col("id")), "labels0")
    var changed = true
    var rounds = 0
    while (changed && rounds < maxRounds) {
      // min over incoming neighbor labels, folded with the old label
      // in the same frame so the convergence check needs no second
      // join — one materializing pass + one tiny count per round
      val msgs = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min(col("label")).as("m"))
      val next = Staging.materialize(
        labels.withColumnRenamed("label", "old")
          .join(msgs, Seq("id"), "left_outer")
          .withColumn("label", least(col("old"), coalesce(col("m"), col("old"))))
          .select(col("id"), col("label"), col("old")),
        s"labels${rounds + 1}")
      changed = next.filter(col("label") < col("old")).limit(1).count() > 0
      labels = next.select(col("id"), col("label"))
      rounds += 1
    }
    labels
  }

  val q91DupClusters: QueryDef = QueryDef(
    "q91_dup_clusters",
    (s, dir) => {
      val pairs = simhashPairs(s, dir).select(col("doc_a"), col("doc_b"))
      val labels = minLabelComponents(pairs)
        .select(col("id").as("doc_id"), col("label"))
      docs(s, dir).select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("canonical"))
        .withColumn("is_canonical", col("canonical") === col("doc_id"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE
      $clusterReachSqlCtes
      SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS canonical,
        (min(dst) = src) AS is_canonical
      FROM reach GROUP BY src ORDER BY src"""))

  // ---------------------------------------------------------------
  // q134: dup-cluster size histogram
  // ---------------------------------------------------------------

  /** Cluster-size histogram over q91's components: how many clusters
    * exist at each size, how many docs they hold, and how many would
    * drop under keep-one-per-cluster — the one-page dedup report read
    * before choosing hard keep-one (q91) vs soft dedup (q116), and
    * the duplication-profile summary dedup papers lead with (Lee et
    * al. report exactly this distribution). All-integer, so
    * cross-engine parity is exact.
    *
    * Scale: sizing clusters is one count keyed on the canonical label
    * (the q22 exact-dedup shuffle class); the histogram then
    * aggregates the component-count-sized table. Nothing new touches
    * text or pairs — the expensive work is q91's, already paid. */
  val q134ClusterHistogram: QueryDef = QueryDef(
    "q134_cluster_histogram",
    (s, dir) =>
      q91DupClusters.fn(s, dir)
        .groupBy(col("canonical")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
        .withColumn("dup_docs", (col("cluster_size") - 1) * col("n_clusters"))
        .orderBy(col("cluster_size")),
    Some(s"""WITH RECURSIVE
      $clusterReachSqlCtes,
      canon AS (SELECT src AS doc_id, min(dst) AS canonical
        FROM reach GROUP BY src),
      sizes AS (SELECT canonical, CAST(count(*) AS BIGINT) AS cluster_size
        FROM canon GROUP BY canonical)
      SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
        CAST((cluster_size - 1) * count(*) AS BIGINT) AS dup_docs
      FROM sizes GROUP BY cluster_size ORDER BY cluster_size"""))

  // ---------------------------------------------------------------
  // q242: 128-bit SimHash near-dup pairs — the key-space escape
  // ---------------------------------------------------------------

  /** [[simhashConcatExpr]] at twice the width: 128 majority votes over
    * nibbles 1..32 of the token hash (sha-256 has them to spare).
    * Shared verbatim with the q242 oracle. */
  private def simhashConcatExpr128: String = {
    val bits = (0 until 128).map { b =>
      val j = b / 4 + 1
      val p = 1 << (b % 4)
      s"""case when sum(2 * (cast(floor((instr('0123456789abcdef', substr(h, $j, 1)) - 1) / $p.0) as int) % 2) - 1) >= 0 then '1' else '0' end"""
    }
    s"concat(${bits.mkString(", ")})"
  }

  /** Packed 128-bit SimHash: four 32-bit words s0..s3 (bit b → word
    * b/32, position 31−b%32 — [[packedSimhashOf]]'s convention at
    * twice the width; Simhash128Spec proves bit-string parity).
    *
    * WHY 128: SCALE.md Round 13 measured the 64-bit family's
    * structural ceiling — guaranteeing Hamming ≤ 7 forces ≥ 8
    * pigeonhole blocks, and 64/8 = 8-bit keys give only 8·2⁸ = 2,048
    * buckets, so raw candidates are ≳ N²·2⁻⁹ past ~10⁵ docs no matter
    * the content. Doubling the fingerprint keeps the SAME 8-block
    * d ≤ 7 guarantee but yields 16-bit keys — 8·2¹⁶ = 524k buckets,
    * 256× the space — the "bigger fingerprint" escape the published
    * production systems take (Manku et al. 2007 §4 discusses the
    * f-bit/table trade directly). The d ≤ 7 bound is measured in a
    * 128-bit space, i.e. a ~2× stricter relative similarity than
    * q90's — a different, more conservative operating point, not a
    * drop-in replacement, which is why q90 keeps its contract. */
  private[operators] def packedSimhash128Of(d: DataFrame): DataFrame = {
    def shift(b: Int): Int = 28 - 4 * ((b % 32) / 4) + b % 4
    val sums = (0 until 128).map(b =>
      expr(s"sum(cast(shiftright(w${b / 32}, ${shift(b)}) & 1 as int)) as s$b"))
    def pack(w: Int): String = (32 * w until 32 * (w + 1)).map { b =>
      s"if(2 * s$b >= n, ${java.lang.Long.toString(1L << (31 - b % 32))}L, 0L)"
    }.mkString(" + ")
    d.select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .withColumn("h", expr("substr(sha2(tok, 256), 1, 32)"))
      .withColumn("w0", expr("cast(conv(substr(h, 1, 8), 16, 10) as bigint)"))
      .withColumn("w1", expr("cast(conv(substr(h, 9, 8), 16, 10) as bigint)"))
      .withColumn("w2", expr("cast(conv(substr(h, 17, 8), 16, 10) as bigint)"))
      .withColumn("w3", expr("cast(conv(substr(h, 25, 8), 16, 10) as bigint)"))
      .groupBy(col("doc_id"))
      .agg(expr("count(*) as n"), sums: _*)
      .select(col("doc_id"),
        expr(s"${pack(0)} as s0"), expr(s"${pack(1)} as s1"),
        expr(s"${pack(2)} as s2"), expr(s"${pack(3)} as s3"))
  }

  /** The 8 pigeonhole block keys of a packed 128-bit signature — one
    * int per block (block_id·2¹⁶ + the block's 16 bits). */
  private def simhash128Blocks(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("s0"), col("s1"), col("s2"), col("s3"),
      explode(unrolled(8, b =>
        s"""int($b * 65536) + int(
           |  shiftright(element_at(array(s0, s1, s2, s3), int($b div 2) + 1),
           |             if($b % 2 = 0, 16, 0)) & 65535)""".stripMargin)).as("bk"))

  /** 128-bit SimHash near-dup pairs: q90's shape with 16-bit block
    * keys. Same gate discipline (its own pre-flight family). */
  private[operators] def simhash128PairsOf(sig: DataFrame): DataFrame = {
    val blocks = simhash128Blocks(sig)
    blocks.as("a").join(blocks.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.s0 ^ b.s0) + bit_count(a.s1 ^ b.s1) + " +
          "bit_count(a.s2 ^ b.s2) + bit_count(a.s3 ^ b.s3)")
          .cast("long").as("hamming"))
      .filter(col("hamming") <= HamMax)
      .distinct()
  }

  private[operators] def simhash128Pairs(s: SparkSession, dir: String): DataFrame = {
    preflightGuard(s, dir, "simhash128")
    simhash128PairsOf(Staging.materialize(packedSimhash128Of(docs(s, dir)), "simhash128"))
  }

  /** Shared q242 oracle CTEs — the 128-bit string replay. */
  private lazy val simhash128PairSqlCtes =
    s"""toks AS (SELECT doc_id, substr(sha256(tok), 1, 32) AS h FROM (
       |        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |        FROM documents) t),
       |      sig AS (SELECT doc_id, $simhashConcatExpr128 AS simhash FROM toks GROUP BY doc_id),
       |      blocks AS (SELECT doc_id, bs.b AS block_id,
       |          substr(simhash, bs.b * 16 + 1, 16) AS blk
       |        FROM sig, (SELECT unnest(range(0, $HamBlocks)) AS b) bs),
       |      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |        FROM blocks a JOIN blocks b
       |        ON a.block_id = b.block_id AND a.blk = b.blk AND a.doc_id < b.doc_id),
       |      ham AS (SELECT doc_a, doc_b,
       |          CAST(list_sum([CASE WHEN substr(sa.simhash, i, 1) <> substr(sb.simhash, i, 1)
       |                              THEN 1 ELSE 0 END for i in range(1, 129)]) AS BIGINT) AS hamming
       |        FROM cand
       |        JOIN sig sa ON doc_a = sa.doc_id
       |        JOIN sig sb ON doc_b = sb.doc_id)""".stripMargin

  val q242Simhash128Pairs: QueryDef = QueryDef(
    "q242_simhash128_pairs",
    (s, dir) => simhash128Pairs(s, dir).orderBy(col("doc_a"), col("doc_b")),
    Some(s"""WITH $simhash128PairSqlCtes
      SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= $HamMax
      ORDER BY doc_a, doc_b"""))

  // ---------------------------------------------------------------
  // q244: Manku permuted-table pairs — the 64-bit middle rung
  // ---------------------------------------------------------------

  /** Block layout for the permuted-table scheme: 64 bits in 6 blocks
    * (11,11,11,11,10,10). Any pair within Hamming distance 3 corrupts
    * at most 3 blocks, so at least 3 blocks match EXACTLY — and one of
    * the C(6,3) = 20 block-triples below is made entirely of matching
    * blocks, which is the recall guarantee (pigeonhole over triples;
    * MankuSpec proves banded = brute on both real and adversarial
    * corpora). */
  private val MankuBlockLens: IndexedSeq[Int] = IndexedSeq(11, 11, 11, 11, 10, 10)
  private val MankuOffsets: IndexedSeq[Int] =
    MankuBlockLens.scanLeft(0)(_ + _).init
  private val MankuTables: Seq[IndexedSeq[Int]] =
    (0 until MankuBlockLens.length).combinations(3).map(_.toIndexedSeq).toSeq
  private[operators] val MankuHamMax = 3

  /** The 20 permuted-table keys of a packed 64-bit signature, one long
    * per table: table_id·2³⁴ + the triple's 32-33 key bits. This is
    * the published MIDDLE operating point between q242 and MinHash
    * (Manku et al. 2007 §3 — t sorted permuted tables probing on
    * ~⌈t·64/(something)⌉-bit prefixes was Google's production design):
    * it keeps 64-bit fingerprints (HALF q242's signature bytes) while
    * escaping the 8-bit block ceiling — each table's key space is
    * 2³²⁺, vs q90's 2⁸ per block — at the price of a tighter distance
    * bound (d ≤ 3, the bound 6 blocks of ≥10 bits can pigeonhole) and
    * 20 exploded rows per doc instead of 8. */
  private def mankuKeys(sig: DataFrame): DataFrame = {
    // simhash bit b lives at bit 63−b of the concatenated sig64, so
    // block j (string offset off, length len) is a shift+mask
    val blk = (0 until 6).map { j =>
      val off = MankuOffsets(j); val len = MankuBlockLens(j)
      s"(shiftrightunsigned(shiftleft(sig_hi, 32) + sig_lo, ${64 - off - len}) & ${(1L << len) - 1}L)"
    }
    val keys = MankuTables.zipWithIndex.map { case (t, tid) =>
      val (a, b, c) = (t(0), t(1), t(2))
      val (lb, lc) = (MankuBlockLens(b), MankuBlockLens(c))
      s"(${tid}L * ${1L << 34}L + ${blk(a)} * ${1L << (lb + lc)}L + " +
        s"${blk(b)} * ${1L << lc}L + ${blk(c)})"
    }
    sig.select(col("doc_id"), col("sig_hi"), col("sig_lo"),
      explode(expr(s"array(${keys.mkString(",")})")).as("mk"))
  }

  /** Manku near-dup pairs: equi self-join on the permuted-table key,
    * XOR+bit_count Hamming verify ≤ 3, distinct — q90's slim-join
    * shape with 20 tables of 32-bit keys. Own pre-flight family
    * ("manku64"), so the density ladder prices this rung like every
    * other. */
  private[operators] def mankuPairsOf(sig: DataFrame): DataFrame = {
    val keys = mankuKeys(sig)
    keys.as("a").join(keys.as("b"),
        col("a.mk") === col("b.mk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.sig_hi ^ b.sig_hi) + bit_count(a.sig_lo ^ b.sig_lo)")
          .cast("long").as("hamming"))
      .filter(col("hamming") <= MankuHamMax)
      .distinct()
  }

  private[operators] def mankuPairs(s: SparkSession, dir: String): DataFrame = {
    preflightGuard(s, dir, "manku64")
    mankuPairsOf(Staging.materialize(packedSimhash(s, dir), "manku_sig"))
  }

  /** The oracle's table list rendered as VALUES rows from the SAME
    * Scala constants the Spark keys are generated from. */
  private def mankuTableValuesSql: String =
    MankuTables.zipWithIndex.map { case (t, tid) =>
      val cols = t.flatMap(j => Seq(MankuOffsets(j), MankuBlockLens(j)))
      s"($tid, ${cols.mkString(", ")})"
    }.mkString(", ")

  val q244MankuPairs: QueryDef = QueryDef(
    "q244_manku_pairs",
    (s, dir) => mankuPairs(s, dir).orderBy(col("doc_a"), col("doc_b")),
    Some(s"""WITH toks AS (SELECT doc_id, substr(sha256(tok), 1, 16) AS h FROM (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
          FROM documents) t),
      sig AS (SELECT doc_id, $simhashConcatExpr AS simhash FROM toks GROUP BY doc_id),
      mt(tid, o1, l1, o2, l2, o3, l3) AS (VALUES $mankuTableValuesSql),
      keys AS (SELECT doc_id, tid,
          substr(simhash, o1 + 1, l1) || substr(simhash, o2 + 1, l2) ||
          substr(simhash, o3 + 1, l3) AS mk
        FROM sig, mt),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM keys a JOIN keys b
        ON a.tid = b.tid AND a.mk = b.mk AND a.doc_id < b.doc_id),
      ham AS (SELECT doc_a, doc_b,
          CAST(list_sum([CASE WHEN substr(sa.simhash, i, 1) <> substr(sb.simhash, i, 1)
                              THEN 1 ELSE 0 END for i in range(1, 65)]) AS BIGINT) AS hamming
        FROM cand
        JOIN sig sa ON doc_a = sa.doc_id
        JOIN sig sb ON doc_b = sb.doc_id)
      SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= $MankuHamMax
      ORDER BY doc_a, doc_b"""))

  // ---------------------------------------------------------------
  // q245: containment-RECALL pairs — the q241 bias escape
  // ---------------------------------------------------------------

  /** Default containment threshold (Szymkiewicz–Simpson overlap ≥ τ
    * on the smaller side). τ is a KNOB (CurationConfig.containmentTau,
    * the `tau` params below); the probe fraction is never set
    * independently — it is DERIVED as 1 − τ so the pigeonhole bound
    * moves with the knob: probing with the ⌊(1−τ)·|A|⌋ + 1 smallest
    * hashes guarantees |A \ B| ≤ (1−τ)·|A| < p whenever
    * containment ≥ τ, i.e. recall exactly 1 at ANY τ ∈ (0, 1]
    * (ContainmentRecallSpec proves it brute-force at two τ values).
    * Both literals render as exact decimal text, identical in the
    * Spark exprs and the DuckDB oracle SQL. */
  private[graft] val ContainTauDefault = 0.8

  private def decStr(x: BigDecimal): String =
    x.bigDecimal.stripTrailingZeros.toPlainString
  private[operators] def containTauStr(tau: Double): String =
    decStr(BigDecimal(tau.toString))
  private[operators] def containFracStr(tau: Double): String = {
    require(tau > 0.0 && tau <= 1.0, s"containment tau must be in (0,1], got $tau")
    decStr(BigDecimal(1) - BigDecimal(tau.toString))
  }

  /** q241 classifies only the RESEMBLANCE-recalled candidate set, so a
    * tiny doc inside a huge one (Jaccard ≪ band threshold) never
    * becomes a candidate — the honest bias note at q241. This operator
    * is the documented escape, with a PROVABLE recall bound instead of
    * an S-curve: every doc probes the inverted shingle-hash index with
    * its p = ⌊(1−τ)·|A|⌋ + 1 LEXICOGRAPHICALLY SMALLEST hashes (a
    * deterministic bottom-k sketch of A). If containment(A, B) ≥ τ
    * with A the smaller side, then |A \ B| ≤ (1−τ)·|A| < p, so at
    * least one probed hash is in B by pigeonhole — recall is exactly 1
    * on the τ bound (ContainmentRecallSpec proves it brute-force, and
    * exhibits the subset pair q241 misses). One-sided probing keyed on
    * the SMALL side's sketch is the "probe by the small signature"
    * variant the q241 note named; Broder 1997 distinguishes the
    * containment question from resemblance.
    *
    * Scale: the index side is the exploded shingle-hash frame (linear
    * in corpus shingles — the same order as the MinHash hash pass);
    * probes are a (1−τ) fraction of it; the join is hash-equi, with
    * candidate volume Σ_h pf_h·df_h priced by its own bipartite
    * pre-flight family ("containment") BEFORE the join. The exact
    * verify counts shared hashes THROUGH the inverted index
    * (co-occurrence triples grouped per pair) — set arrays never
    * cross a shuffle (see [[containmentRecallOf]]). */
  private[graft] def containProbes(hashed: DataFrame,
      tau: Double = ContainTauDefault): DataFrame =
    hashed.select(col("doc_id").as("small_id"),
      size(col("hashes")).cast("long").as("n_small"),
      explode(expr(s"slice(array_sort(hashes), 1, " +
        s"cast(floor(${containFracStr(tau)} * size(hashes)) as int) + 1)")).as("h"))

  private[graft] def containIndex(hashed: DataFrame): DataFrame =
    hashed.select(col("doc_id").as("big_id"),
      size(col("hashes")).cast("long").as("n_big"),
      explode(col("hashes")).as("h"))

  /** The full recall pipeline over a (doc_id, hashes) frame: probe →
    * candidates (small side strictly-smaller-or-id-tiebreak) → exact
    * containment verify ≥ τ → near_dup/subset classification.
    *
    * The verify is SLIM by construction: n_common = |A∩B| is counted
    * through the inverted index ((h, small) ⋈ (h, big) co-occurrence
    * triples over candidate DOCS, grouped per pair, semi-joined to the
    * candidate set) — set ARRAYS never cross a shuffle. The first cut
    * attached both hash arrays per candidate pair and computed
    * array_intersect; at heaps-x100 that shipped ~7 KB × 116M
    * candidates ≈ 800 GB of shuffle and DNF'd the box on disk — the
    * co-occurrence form moves 3-long rows bounded by Σ_h df_S·df_B
    * instead, and is exactly the quantity the bipartite gate already
    * projects (probe-side mass = the 0.2 fraction of it). */
  /** |A∩B| per candidate pair, counted THROUGH the inverted index:
    * (h, a) ⋈ (h, b) co-occurrence triples over candidate DOCS (semi-
    * joined per side), grouped per pair — 3-column rows bounded by
    * Σ_h df_a·df_b, never set arrays across a shuffle. Exact because
    * `hashes` is per-doc distinct (shingles are array_distinct'ed
    * before hashing). Shared by the q245 verify and the Curation
    * minhash rung — the post-800-GB-DNF idiom (SCALE.md Round 14).
    *
    * `orderPred` is the SAME pair-ordering predicate that defined the
    * candidate set, phrased over the join's aliased sides (columns
    * `a.doc_id`/`a.n`/`b.doc_id`/`b.n`, n = the doc's set size): a
    * doc in both candidate columns otherwise co-occurs with ITSELF on
    * every one of its hashes and with each partner in BOTH
    * orientations, and those self and mirror groups — more than half
    * the aggregate's input and output at heaps-x100 — are discarded
    * by the candidate join one stage later. Filtering them inside the
    * join's codegen stage is free (SCALE.md Round 15). */
  private[graft] def commonHashCounts(hashed: DataFrame, pairs: DataFrame,
      aName: String, bName: String, orderPred: Column,
      restrictHint: Option[String] = None,
      incidenceGuard: Boolean = false): DataFrame = {
    val idxSlim = hashed.select(col("doc_id"),
      size(col("hashes")).cast("long").as("n"), explode(col("hashes")).as("h"))
    val ia = idxSlim.join(pairs.select(col(aName).as("doc_id")).distinct(),
      Seq("doc_id"), "left_semi")
    val ib = idxSlim.join(pairs.select(col(bName).as("doc_id")).distinct(),
      Seq("doc_id"), "left_semi")
    // Verify-incidence gate (`incidenceGuard=true`, armed by the same
    // `spark.graft.dedup.preflight` conf as the band gates). The band
    // gate prices band-KEY collisions; the verify join's cost is a
    // different quantity — Σ_h df_a·df_b over the candidate-restricted
    // shingle-hash index — and on a content-saturated corpus the two
    // diverge catastrophically: fixed-vocab x100 reads 8.2 band
    // pairs/doc ("ok") while the verify mass is ~10⁴ incidences per
    // restricted doc — the run that found this spilled the disk to
    // DNF (SCALE.md Round 16). The mass is priced EXACTLY, not by
    // proxy: Σ_h cnt_a(h)·cnt_b(h) from two per-hash count aggregates
    // multiplies counts instead of producing rows, so the gate costs
    // two scans of the slim legs and never explodes. q245/q246 do NOT
    // take this guard: their probe⋈index mass is already priced by
    // the bipartite "containment" family, and their measured x100
    // cost is adjudicated candidate-intrinsic.
    if (incidenceGuard) preflightBudget(hashed.sparkSession).foreach { budget =>
      val mass = ia.groupBy(col("h")).agg(count(lit(1)).as("ca"))
        .join(ib.groupBy(col("h")).agg(count(lit(1)).as("cb")), "h")
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("m"))
        .collect().head.getLong(0)
      val nDocs = math.max(1L, pairs
        .select(explode(array(col(aName), col(bName))).as("d"))
        .distinct().count())
      val perDoc = mass.toDouble / nDocs
      println(f"[contain] verify-incidence gate: mass=$mass " +
        f"restricted_docs=$nDocs per_doc=$perDoc%.1f budget=$budget%.0f " +
        s"verdict=${if (perDoc > budget) "refuse" else "ok"}")
      if (perDoc > budget) throw new IllegalStateException(
        f"dedup preflight (verify incidence): Σ_h df_a·df_b = $mass " +
        f"(${perDoc}%.1f per restricted doc) over budget $budget%.0f — " +
        "content-saturated corpus: the banded candidates are cheap but " +
        "their exact verify is not; use the Manku/simhash rung or " +
        "override spark.graft.dedup.preflightBudget")
    }
    // JOIN-FIRST, then aggregate: the co-occurrence incidences are
    // restricted to candidate pairs BEFORE any aggregation. The
    // aggregate-first form grouped 273.8M co-occurring pairs at
    // heaps-x100 of which only 59.3M were candidates — 78% of the
    // aggregate's output (and of the final join's probe side) was
    // built to be discarded; a candidate-key Bloom filter in front of
    // the aggregate was measured and rejected too (its 59M-key build
    // cost more than it saved — SCALE.md Round 15). Here the inner
    // join shuffles each incidence once on the pair key, and because
    // the join's hash partitioning already clusters the group keys
    // (the pair columns), the aggregate that follows needs NO further
    // exchange. The output carries every `pairs` column, so callers
    // whose pair frame already holds the set sizes need no re-join.
    val incidences = ia.as("a")
      .join(ib.as("b"), col("a.h") === col("b.h") && orderPred)
      .select(col("a.doc_id").as(aName), col("b.doc_id").as(bName))
    // `restrictHint`: the restrict join is incidences (big) ⋈ pairs;
    // when the caller's pair frame is DISTINCT-keyed (so its hash
    // partitioning has no heavy key by construction) and slim, a
    // SHUFFLE_HASH build on it drops the SMJ's two big sorts — the
    // q245 path passes it (r16 attribution measured the restrict join
    // as the operator's single heaviest stage); small-pair callers
    // (q51/q241) leave it None and let AQE broadcast.
    incidences
      .join(restrictHint.map(pairs.hint(_)).getOrElse(pairs), Seq(aName, bName))
      .groupBy(pairs.columns.map(col): _*)
      .agg(count(lit(1)).as("n_common"))
  }

  private[operators] def containmentRecallOf(hashed: DataFrame,
      tau: Double = ContainTauDefault, tag: String = "contain"): DataFrame = {
    // the candidate frame CARRIES BOTH SET SIZES (the probe join
    // already had them): the first-cut assembly re-attached n_small
    // and n_big with two extra doc-keyed shuffle joins over the full
    // candidate frame — 59M rows each at heaps-x100 — to recover
    // columns it had just projected away (SCALE.md Round 15). It is
    // also MATERIALIZED, feeding three consumers (the two per-side
    // semi-joins inside commonHashCounts and the final verify join).
    val cand = Staging.materialize(containProbes(hashed, tau).join(containIndex(hashed), "h")
      .filter(col("n_small") < col("n_big") ||
        (col("n_small") === col("n_big") && col("small_id") < col("big_id")))
      .select(col("small_id"), col("n_small"), col("big_id"), col("n_big"))
      .distinct(), s"${tag}_cand")
    // commonHashCounts is candidate-restricted and carries cand's
    // size columns through its group keys — the verify IS its output
    commonHashCounts(hashed, cand, "small_id", "big_id",
        col("a.n") < col("b.n") ||
          (col("a.n") === col("b.n") && col("a.doc_id") < col("b.doc_id")),
        restrictHint = Some("shuffle_hash"))
      .select(col("small_id").as("doc_small"), col("big_id").as("doc_big"),
        col("n_small"), col("n_big"), col("n_common"))
      .filter(col("n_common").cast("double") / col("n_small") >=
        expr(containTauStr(tau)))
      .withColumn("containment",
        round(col("n_common").cast("double") / col("n_small"), 6))
      .withColumn("jaccard", round(col("n_common").cast("double") /
        (col("n_small") + col("n_big") - col("n_common")), 6))
      .withColumn("relation",
        when(col("jaccard") >= 0.8, lit("near_dup")).otherwise(lit("subset")))
      .orderBy(col("doc_small"), col("doc_big"))
  }

  /** 16-hex-char shingle hashes for the containment family — the q98
    * span convention: the containment pipeline shuffles its exploded
    * hash frame through five exchanges (probes, index, co-occurrence,
    * candidate key), and a full 64-char sha256 hex string quadruples
    * every one of them for no semantic gain. 64 bits make a global
    * collision over the x100 corpus's 26.5M hashes a ~10⁻⁵ event, and
    * the DuckDB oracle truncates IDENTICALLY, so the comparison is
    * exact either way. The MinHash family keeps the full digest (its
    * K permutations are the digest's 8-char slices). */
  private def hashed16Of(sh: DataFrame, tag: String): DataFrame =
    Staging.materialize(sh.select(col("doc_id"),
      expr("transform(shingles, s -> substr(sha2(s, 256), 1, 16))").as("hashes")), tag)

  private val hash16SqlCte =
    """hs AS (SELECT doc_id,
      |    list_transform(shingles, s -> substr(sha256(s), 1, 16)) AS hashes FROM sh)""".stripMargin

  /** q245's recall pipeline over an arbitrary documents frame — the
    * entry the Curation containment stage uses (its documents are a
    * pipeline stage's output, not a directory). Same guarantees as
    * the registered query: recall exactly 1 at containment ≥ τ on the
    * smaller side, slim verify throughout. */
  private[graft] def containmentPairsOf(d: DataFrame,
      tau: Double = ContainTauDefault): DataFrame =
    containmentRecallOf(hashed16Of(shingledOf(d), "cpol_hashed"),
      tau, "cpol")

  /** q245's DuckDB oracle, rendered from the SAME τ the Spark plan
    * uses (probe fraction 1−τ and the ≥ τ verify both move with it). */
  private def containSql(tau: Double): String =
    s"""WITH $shingleSqlCte,
      $hash16SqlCte,
      probes AS (SELECT doc_id AS small_id, CAST(len(hashes) AS BIGINT) AS n_small,
          unnest(list_slice(list_sort(hashes), 1,
            CAST(floor(${containFracStr(tau)} * len(hashes)) AS INT) + 1)) AS h
        FROM hs),
      idx AS (SELECT doc_id AS big_id, CAST(len(hashes) AS BIGINT) AS n_big,
          unnest(hashes) AS h FROM hs),
      cand AS (SELECT DISTINCT small_id, big_id
        FROM probes p JOIN idx i USING (h)
        WHERE p.n_small < i.n_big
           OR (p.n_small = i.n_big AND p.small_id < i.big_id)),
      scored AS (SELECT small_id AS doc_small, big_id AS doc_big,
          CAST(len(ha.hashes) AS BIGINT) AS n_small,
          CAST(len(hb.hashes) AS BIGINT) AS n_big,
          CAST(len(list_intersect(ha.hashes, hb.hashes)) AS BIGINT) AS n_common
        FROM cand JOIN hs ha ON small_id = ha.doc_id
        JOIN hs hb ON big_id = hb.doc_id)
      SELECT doc_small, doc_big, n_small, n_big, n_common,
        round(CAST(n_common AS DOUBLE) / n_small, 6) AS containment,
        round(CAST(n_common AS DOUBLE) / (n_small + n_big - n_common), 6) AS jaccard,
        CASE WHEN round(CAST(n_common AS DOUBLE) / (n_small + n_big - n_common), 6) >= 0.8
             THEN 'near_dup' ELSE 'subset' END AS relation
      FROM scored WHERE CAST(n_common AS DOUBLE) / n_small >= ${containTauStr(tau)}
      ORDER BY doc_small, doc_big"""

  val q245ContainmentRecall: QueryDef = QueryDef(
    "q245_containment_recall",
    (s, dir) => {
      preflightGuard(s, dir, "containment")
      containmentRecallOf(hashed16Of(shingled(s, dir), "contain_hs"))
    },
    Some(containSql(ContainTauDefault)))

  /** q246: the q245 pipeline at τ = 0.9 — the knob proof. Tightening τ
    * SHRINKS the probe sketch (⌊0.1·|A|⌋+1 smallest hashes vs ⌊0.2·|A|⌋+1)
    * while the pigeonhole recall-1 bound moves with it; the oracle is
    * rendered from the same τ, so a fraction/threshold drift between
    * the two would hash-mismatch. */
  val q246ContainmentRecallT90: QueryDef = QueryDef(
    "q246_containment_recall_t90",
    (s, dir) => {
      preflightGuard(s, dir, "containment", tau = 0.9)
      containmentRecallOf(hashed16Of(shingled(s, dir), "contain9_hs"),
        tau = 0.9, tag = "contain9")
    },
    Some(containSql(0.9)))

  // ---------------------------------------------------------------
  // Fingerprint contraction: the q205 saturation fix
  // ---------------------------------------------------------------

  /** Distinct-fingerprint supernode table over a packed-signature
    * frame: one row per DISTINCT 64-bit SimHash value, labeled by its
    * minimum member doc_id. The contraction that makes near-dup CC
    * scale on exact-duplicate-heavy corpora: identical fingerprints
    * are Hamming-0 cliques, so the band self-join and the star rounds
    * only ever need ONE representative per value — SCALE.md Round 13
    * measured the uncontracted form's raw candidates at 918.8M (x10)
    * and 91.9B (x100) on the fixed corpus, ~all of them inside
    * identical-fingerprint groups the contraction removes. One
    * (sig_hi, sig_lo)-keyed aggregate (the exact-dedup shuffle
    * class); F ≤ N rows out. */
  private[operators] def fingerprintsOf(packed: DataFrame): DataFrame =
    packed.groupBy(col("sig_hi"), col("sig_lo"))
      .agg(min(col("doc_id")).as("fid"), count(lit(1)).as("n_docs"))

  /** Fingerprint-level near-dup edges: [[simhashPairs]]' band join +
    * Hamming verify run on the F supernodes instead of the N docs.
    * Pair ids are fids (= min member doc_ids), so downstream labels
    * stay in doc-id space. */
  private[operators] def fingerprintPairs(fp: DataFrame): DataFrame = {
    val blocks = simhashBlocks(
      fp.select(col("fid").as("doc_id"), col("sig_hi"), col("sig_lo")))
    blocks.as("a").join(blocks.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.sig_hi ^ b.sig_hi) + bit_count(a.sig_lo ^ b.sig_lo)")
          .cast("long").as("hamming"))
      .filter(col("hamming") <= HamMax)
      .distinct()
  }

  /** The contracted family's gate — EXACT, not sampled: the
    * fingerprint table is the band join's actual input and only F
    * rows, so Σ c_b(c_b−1)/2 over its block buckets is one narrow
    * aggregate, and the verdict prices precisely the join it gates.
    * Same conf arming/budget semantics as [[preflightGuard]]
    * (pairs-per-doc, so corpus size normalizes the bound). Refusal
    * here means the DISTINCT fingerprints themselves band-collide —
    * the structural 8-bit-block ceiling (SCALE.md Round 13), whose
    * published escape is Manku et al. 2007 permuted tables or a
    * 128-bit fingerprint, not a bigger cluster. */
  private def contractedGuard(s: SparkSession, fp: DataFrame, nDocs: => Long): Unit =
    preflightBudget(s).foreach { budget =>
      // nDocs is by-name so the caller's full-corpus count job only
      // runs when the gate is armed (r13 ADVICE: q205 paid it always)
      val nDocsV = nDocs
      val raw = simhashBlocks(
          fp.select(col("fid").as("doc_id"), col("sig_hi"), col("sig_lo")))
        .groupBy(col("bk")).agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c") * (col("c") - lit(1))), lit(0L)).as("s"))
        .collect().head.getLong(0) / 2
      if (raw > budget * nDocsV)
        throw new IllegalStateException(
          s"dedup preflight (simhash contracted): $raw exact raw candidate pairs over " +
          s"budget ${budget * nDocsV} (${budget}/doc) — the DISTINCT fingerprints " +
          "band-collide (8-bit pigeonhole block ceiling); use wider fingerprints / " +
          "Manku permuted tables, or override spark.graft.dedup.preflightBudget")
    }

  // ---------------------------------------------------------------
  // q205: two-phase connected components (large-star / small-star)
  // ---------------------------------------------------------------

  /** One alternating large-star + small-star round (Kiveris, Lattanzi,
    * Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
    * MapReduce and Beyond", SoCC 2014). Input and output edge frames
    * are canonically directed (u > v, no self-loops, distinct).
    *
    *  - large-star(u): over the BIDIRECTIONAL neighborhood, connect
    *    every strictly-larger neighbor to m = min(N(u) ∪ {u});
    *  - small-star(u): over the larger→smaller directed neighborhood,
    *    connect every smaller neighbor AND u itself to m = min(N(u)).
    *
    * Each half-round is ONE exchange: the per-neighborhood minimum is
    * a `min() over (partition by u)` window on the already-u-keyed
    * rows, which fuses the former groupBy(min) + re-join pair (two
    * exchanges of the full edge frame) into a single shuffle + sort.
    * The large-star output skips its intermediate distinct: it is
    * exactly |E| rows by construction (one per kept orientation), min
    * is duplicate-insensitive, and the single final distinct sweeps
    * everything — so a full round moves the edge frame three times
    * (large window, small window, final dedup) instead of six.
    *
    * The round COUNT is O(log n) in the component size instead of
    * O(diameter): on a path graph min-label moves the label one hop
    * per round, while star operations repeatedly halve the tree
    * height. At 100 TB a near-dup graph can contain long chains
    * (chained-paraphrase crawls), and diameter-bound iteration is the
    * scaling risk this variant removes. Skew posture: a hub's
    * neighborhood must sort within one window partition (no map-side
    * combine), but rows are two longs and large-star itself is the
    * skew fix — each round re-points a hub's larger neighbors at the
    * minimum, collapsing the hub's degree geometrically. Exposed
    * un-materialized so the plan auditor can assert the round's
    * shuffle shape. */
  private[graft] def twoPhaseRound(edges: DataFrame): DataFrame = {
    val byU = Window.partitionBy(col("u"))
    val bidir = edges.select(col("u"), col("v"))
      .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
    val large = bidir
      .withColumn("m", least(min(col("v")).over(byU), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
    // large-star output already satisfies u > v (targets are
    // neighborhood minima), so it is directly the small-star input
    val lm = large.withColumn("m", min(col("v")).over(byU))
    lm.select(col("v"), col("m"))
      .unionByName(lm.select(col("u").as("v"), col("m")))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Two-phase connected components over an undirected pair frame:
    * alternate [[twoPhaseRound]] with the edge set materialized per
    * round until it reaches a fixed point — at convergence the edges
    * form STARS whose center is the component minimum, so the label
    * table is one groupBy(min) away. Returns (id, label) for edge
    * endpoints only (isolated nodes re-enter via the caller's left
    * join), the same contract as [[minLabelComponents]]. */
  private[operators] def twoPhaseComponents(pairs: DataFrame,
      maxRounds: Int = 30): DataFrame = {
    var edges = Staging.materialize(
      pairs.select(greatest(col("doc_a"), col("doc_b")).as("u"),
          least(col("doc_a"), col("doc_b")).as("v"))
        .filter(col("u") =!= col("v")).distinct(), "tp_edges0")
    var done = false
    var rounds = 0
    while (!done && rounds < maxRounds) {
      val next = Staging.materialize(twoPhaseRound(edges), s"tp_edges${rounds + 1}")
      // Convergence test = IS the frame a star forest (no edge target
      // is also a source)? A star forest is a fixed point of the
      // alternation (both star operations map it to itself) and every
      // fixed point is a star forest (SoCC 2014's convergence
      // theorem), so this is exactly the old set-equality test — but
      // it costs ONE self-join probe per round instead of two full
      // except anti-joins, and it recognizes the final state the round
      // it first APPEARS instead of one no-op round later. Doubling as
      // the loop exit, it is also the loud-failure guard the old code
      // ran separately after the loop.
      done = next.select(col("v"))
        .join(next.select(col("u").as("v")).distinct(), Seq("v"))
        .limit(1).count() == 0
      edges = next
      rounds += 1
    }
    require(done,
      s"two-phase CC did not reach a star forest in $maxRounds rounds")
    // stars: every non-center node has exactly one out-edge to the
    // center; centers label themselves
    edges.select(col("u").as("id"), col("v").as("label"))
      .unionByName(edges.select(col("v").as("id"), col("v").as("label")))
      .groupBy("id").agg(min(col("label")).as("label"))
  }

  /** q91's dup-cluster canonicalization computed by the two-phase
    * large-star/small-star algorithm instead of min-label
    * propagation — same fixed point (every node labeled with its
    * component minimum), so the ORACLE IS SHARED with q91: the
    * recursive reach CTE asserts the component structure regardless
    * of which distributed iteration produced it. What this buys at
    * scale is a round count independent of component diameter (see
    * [[twoPhaseRound]]); what the oracle buys is that the claim
    * "different algorithm, identical clustering" is machine-checked
    * rather than asserted. */
  val q205CcTwophase: QueryDef = QueryDef(
    "q205_cc_twophase",
    (s, dir) => {
      // CONTRACTED form (exact, spec-proven equal to the doc-level
      // run in CcTwoPhaseSpec): identical fingerprints are Hamming-0
      // cliques, so band join + star rounds run on the F distinct
      // fingerprints and every doc inherits its fingerprint's
      // component label. Component minima are preserved because each
      // supernode's id IS its group's min doc_id.
      val packed = Staging.materialize(packedSimhash(s, dir), "ctr_sig")
      val fp = Staging.materialize(fingerprintsOf(packed), "ctr_fp")
      contractedGuard(s, fp, docs(s, dir).count())
      val labels = twoPhaseComponents(
          fingerprintPairs(fp).select(col("doc_a"), col("doc_b")))
        .select(col("id").as("fid"), col("label"))
      val docLabels = packed
        .join(fp.select(col("sig_hi"), col("sig_lo"), col("fid")),
          Seq("sig_hi", "sig_lo"))
        .join(labels, Seq("fid"), "left_outer")
        .select(col("doc_id"),
          // isolated fingerprint group: the group min labels the
          // group (its members form a clique component on their own)
          coalesce(col("label"), col("fid")).as("canonical"))
      docs(s, dir).select(col("doc_id"))
        .join(docLabels, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("canonical"), col("doc_id")).as("canonical"))
        .withColumn("is_canonical", col("canonical") === col("doc_id"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE
      $clusterReachSqlCtes
      SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS canonical,
        (min(dst) = src) AS is_canonical
      FROM reach GROUP BY src ORDER BY src"""))

  // ---------------------------------------------------------------
  // q129: dedup-saturation curve
  // ---------------------------------------------------------------

  /** Dedup-saturation curve: split the ingest order (doc_id) into
    * fixed-width buckets of 50 docs and report, per bucket, how many
    * docs are NEW content (their sha-256 first appears in that bucket)
    * plus the cumulative unique fraction — the marginal-uniqueness
    * audit that tells a crawl operator when additional data stops
    * adding information (web-crawl dedup rates saturate; Lee et al.
    * report exactly this per-snapshot curve to justify dedup budgets).
    * All counts are integers and the two rates are exact
    * integer-over-integer double divisions, so cross-engine parity is
    * bit-deterministic.
    *
    * Scale: one hash-keyed aggregate (min doc_id per sha-256 — the
    * same shuffle class exact dedup q22 already pays) plus one
    * bucket-keyed count; the cumulative window runs over the CURVE
    * table only, which is corpus/B rows — pick B so it stays ~10³
    * rows at any corpus size (50 here for sf-sized visibility). The
    * corpus itself is scanned once and never self-joined. */
  val q129DedupSaturation: QueryDef = QueryDef(
    "q129_dedup_saturation",
    (s, dir) => {
      val d = docs(s, dir)
        .select(col("doc_id"), sha2(col("text"), 256).as("h"),
          expr("doc_id div 50").as("bucket"))
      val totals = d.groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
      val news = d.groupBy(col("h")).agg(min(col("doc_id")).as("first_id"))
        .withColumn("bucket", expr("first_id div 50"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("new_docs"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
        .rowsBetween(Long.MinValue, 0)
      totals.join(news, Seq("bucket"), "left")
        .withColumn("new_docs", coalesce(col("new_docs"), lit(0L)))
        .withColumn("cum_docs", sum(col("n_docs")).over(w))
        .withColumn("cum_unique", sum(col("new_docs")).over(w))
        .select(col("bucket"), col("n_docs"), col("new_docs"),
          round(col("new_docs") / col("n_docs"), 6).as("new_rate"),
          col("cum_docs"), col("cum_unique"),
          round(col("cum_unique") / col("cum_docs"), 6).as("cum_unique_frac"))
        .orderBy(col("bucket"))
    },
    Some("""WITH d AS (
        SELECT doc_id, sha256(text) AS h, doc_id // 50 AS bucket FROM documents),
      totals AS (SELECT bucket, count(*) AS n_docs FROM d GROUP BY bucket),
      news AS (SELECT first_id // 50 AS bucket, count(*) AS new_docs FROM (
          SELECT h, min(doc_id) AS first_id FROM d GROUP BY h) f GROUP BY 1),
      j AS (SELECT t.bucket, CAST(t.n_docs AS BIGINT) AS n_docs,
          CAST(COALESCE(n.new_docs, 0) AS BIGINT) AS new_docs
        FROM totals t LEFT JOIN news n ON t.bucket = n.bucket),
      c AS (SELECT bucket, n_docs, new_docs,
          CAST(sum(n_docs) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs,
          CAST(sum(new_docs) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_unique
        FROM j)
      SELECT bucket, n_docs, new_docs,
        round(new_docs / n_docs, 6) AS new_rate,
        cum_docs, cum_unique,
        round(cum_unique / cum_docs, 6) AS cum_unique_frac
      FROM c ORDER BY bucket"""))

  // ---------------------------------------------------------------
  // q192: cross-source duplication audit (syndication measurement)
  // ---------------------------------------------------------------

  /** WHERE duplication lives: within a source (re-crawls, mirrors of
    * the same site — dedup is routine) or ACROSS sources (syndication,
    * scraped re-hosting, licensing leakage — the copies a per-source
    * pipeline never sees and a contamination review must): per
    * q91-cluster, the distinct source count, rolled into the
    * within-vs-cross split of clusters, duplicate docs, and redundant
    * copies. RedPajama/Dolma-class corpus reports break duplication
    * down exactly this way before deciding whether dedup can shard by
    * source (cross-source rate ≈ 0) or must run globally.
    *
    * All-integer — parity exact. Scale: one (canonical)-keyed count
    * over q91's label table joined to the per-doc source column (the
    * q22 shuffle class); the rollup aggregates the cluster-count-sized
    * table. The expensive work is q91's, already paid. */
  val q192CrossSourceDups: QueryDef = QueryDef(
    "q192_cross_source_dups",
    (s, dir) => {
      // ride q91's OUTPUT rather than re-deriving labels from pairs:
      // one copy of the label chain, so q192 can never diverge from
      // the clusters it claims to roll up (q134's convention)
      val labels = q91DupClusters.fn(s, dir)
        .select(col("doc_id"), col("canonical").as("label"))
      val members = docs(s, dir).select(col("doc_id"), col("source"))
        .join(labels, Seq("doc_id"))
      val perCluster = members.groupBy(col("label")).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"))
        // real clusters only (q91 labels every doc; singletons are
        // self-canonical size-1 groups, same as the oracle's reach
        // closure — both sides drop them here)
        .filter(col("n_docs") >= 2L)
      perCluster
        .withColumn("span",
          when(col("n_sources") === 1L, "within_source").otherwise("cross_source"))
        .groupBy(col("span"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("n_docs")).as("n_docs"),
          sum(col("n_docs") - 1).as("redundant_copies"),
          max(col("n_sources")).as("max_sources"))
        .orderBy(col("span"))
    },
    Some(s"""WITH RECURSIVE
      $clusterReachSqlCtes,
      labels AS (SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS label
        FROM reach GROUP BY src),
      members AS (SELECT l.doc_id, l.label, d.source
        FROM labels l JOIN documents d USING (doc_id)),
      pc AS (SELECT label, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        FROM members GROUP BY label HAVING count(*) >= 2)
      SELECT CASE WHEN n_sources = 1 THEN 'within_source'
                  ELSE 'cross_source' END AS span,
        CAST(count(*) AS BIGINT) AS n_clusters,
        CAST(sum(n_docs) AS BIGINT) AS n_docs,
        CAST(sum(n_docs - 1) AS BIGINT) AS redundant_copies,
        CAST(max(n_sources) AS BIGINT) AS max_sources
      FROM pc GROUP BY 1 ORDER BY span"""),
    headline = false)

  // ---------------------------------------------------------------
  // q183: LSH banding recall audit (candidates vs exact Jaccard truth)
  // ---------------------------------------------------------------

  /** Recall of the q51 banded candidate generation against the exact
    * Jaccard truth, at three thresholds — the near-dup sibling of the
    * q179 ANN recall audit, and the measurement behind the banding
    * S-curve (Mining of Massive Datasets §3.4): with b bands of r
    * rows, a pair at similarity J surfaces with probability
    * 1 − (1 − J^r)^b, so recall must CLIMB with the threshold; this
    * audit reads the realized curve before anyone trusts the
    * candidate set to contain the real near-dups.
    *
    * Truth leg: pairs sharing ≥ 1 hashed shingle (an inverted-index
    * self-join — any pair with J > 0 shares a shingle by definition)
    * filtered by the SAME rounded exact-Jaccard expression q51
    * verifies with. At corpus scale the truth leg runs on a sample
    * (it is quadratic in the hottest shingle's doc-frequency); the
    * audit's job is to calibrate b and r there, then the banded path
    * runs everywhere.
    *
    * Scale note per leg: candidates = q51's banded join (never
    * all-pairs); truth = shingle-keyed equi-join, distinct pair set,
    * Jaccard over the hash arrays; the verdict join is pair-keyed. */
  val q183LshRecall: QueryDef = QueryDef(
    "q183_lsh_recall",
    (s, dir) => {
      val hashed = hashedShingles(s, dir)
      val inv = hashed.select(col("doc_id"), explode(col("hashes")).as("h"))
      val sharing = inv.as("a").join(inv.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val exact = sharing
        .join(hashed.select(col("doc_id").as("doc_a"), col("hashes").as("ha")), Seq("doc_a"))
        .join(hashed.select(col("doc_id").as("doc_b"), col("hashes").as("hb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          round(size(array_intersect(col("ha"), col("hb"))).cast("double") /
            size(array_union(col("ha"), col("hb"))), 6).as("j"))
      val cands = lshCandidatePairs(signatures(hashed))
        .select(col("doc_a"), col("doc_b")).distinct()
      val nCand = cands.agg(count(lit(1)).as("n_candidates"))
      import s.implicits._
      val taus = Seq(0.3, 0.5, 0.7).toDF("tau")
      val truth = exact.crossJoin(broadcast(taus))
        .filter(col("j") >= col("tau"))
      val hit = truth.join(cands, Seq("doc_a", "doc_b"), "left_semi")
        .groupBy(col("tau")).agg(count(lit(1)).as("n_hit"))
      truth.groupBy(col("tau")).agg(count(lit(1)).as("n_truth"))
        .join(hit, Seq("tau"), "left_outer")
        .crossJoin(broadcast(nCand))
        .select(col("tau"), col("n_truth"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"), col("n_candidates"),
          round(coalesce(col("n_hit"), lit(0L)).cast("double") /
            col("n_truth"), 4).as("recall"))
        .orderBy(col("tau"))
    },
    Some(s"""WITH $shingleSqlCte,
      $hashSqlCte,
      $sigSqlCte,
      $bandsPairsSqlCte,
      inv AS (SELECT doc_id, unnest(hashes) AS h FROM hs),
      sharing AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id),
      exact AS (SELECT s.doc_a, s.doc_b,
          round(CAST(len(list_intersect(ha.hashes, hb.hashes)) AS DOUBLE) /
            len(list_distinct(list_concat(ha.hashes, hb.hashes))), 6) AS j
        FROM sharing s
        JOIN hs ha ON s.doc_a = ha.doc_id
        JOIN hs hb ON s.doc_b = hb.doc_id),
      cands AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
      nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cands),
      taus AS (SELECT unnest(CAST([0.3, 0.5, 0.7] AS DOUBLE[])) AS tau),
      truth AS (SELECT t.tau, e.doc_a, e.doc_b FROM exact e, taus t
        WHERE e.j >= t.tau),
      hit AS (SELECT t.tau, CAST(count(*) AS BIGINT) AS n_hit
        FROM truth t JOIN cands c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
        GROUP BY 1)
      SELECT t.tau, CAST(count(*) AS BIGINT) AS n_truth,
        coalesce(max(h.n_hit), 0) AS n_hit,
        max(nc.n_candidates) AS n_candidates,
        round(CAST(coalesce(max(h.n_hit), 0) AS DOUBLE) / count(*), 4) AS recall
      FROM truth t LEFT JOIN hit h ON t.tau = h.tau, nc
      GROUP BY t.tau ORDER BY t.tau"""),
    headline = false)

  // ---------------------------------------------------------------
  // q226: source-profile MinHash matrix (sketched q122)
  // ---------------------------------------------------------------

  /** Source-pair similarity from MERGED MinHash signatures: each
    * source's K-slot signature is the element-wise min over ALL its
    * documents' shingle hashes (min-merge is associative, commutative,
    * idempotent — the same mergeability that makes q169's HLL
    * re-ingestion-proof), and each pair's Jaccard ESTIMATE is the
    * matching-slot fraction, reported against the exact shingle-set
    * Jaccard with the realized error. This is the sketched form of
    * q122's overlap matrix — the configuration a 100 TB assembler
    * actually runs: per-source state is K×8 hex chars however large
    * the source, so profiling S sources costs one corpus pass + an
    * S²-cell epilogue instead of a gram-keyed pair join. K = 8 here
    * (one sha-256 per shingle buys all 8 permutations); the ±1/√K
    * estimate noise is the audit's subject, not a defect — the err
    * column is the evidence for sizing K before trusting the sketch.
    *
    * Scale: the (source, shingle) DISTINCT reduce is the only corpus
    * shuffle; the signature agg is map-side combined to K-mins per
    * (task, source); the pair matrix is sources², driver-bounded. */
  val q226SourceMinhash: QueryDef = {
    val matchFrac = "size(filter(zip_with(sa, sb, (x, y) -> x = y), b -> b))"
    QueryDef(
      "q226_source_minhash",
      (s, dir) => {
        val src = docs(s, dir).select(col("doc_id"), col("source"))
        val grams = Staging.materialize(shingled(s, dir)
          .join(src, Seq("doc_id"))
          .select(col("source"), explode(col("shingles")).as("sh"))
          .distinct(), "src_sh")
        val hs = grams.select(col("source"), sha2(col("sh"), 256).as("h"))
        // K mins as explicit aggregate columns (one per signature slot)
        val minCols = (0 until K).map(k =>
          min(expr(s"substr(h, ${k * 8 + 1}, 8)")).as(s"m$k"))
        val sig = hs.groupBy(col("source"))
          .agg(count(lit(1)).as("n_grams"), minCols: _*)
          .select(col("source"), col("n_grams"),
            array((0 until K).map(k => col(s"m$k")): _*).as("sig"))
        val exact = grams
          .join(grams.select(col("sh"), col("source").as("source2")), Seq("sh"))
          .filter(col("source") < col("source2"))
          .groupBy(col("source"), col("source2"))
          .agg(count(lit(1)).as("n_shared"))
        sig.select(col("source"), col("sig").as("sa"), col("n_grams").as("n1"))
          .crossJoin(broadcast(sig.select(col("source").as("source2"),
            col("sig").as("sb"), col("n_grams").as("n2"))))
          .filter(col("source") < col("source2"))
          .join(exact, Seq("source", "source2"), "left_outer")
          .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
          .select(col("source"), col("source2"),
            round(expr(matchFrac).cast("double") / K, 6).as("est_jacc"),
            round(col("n_shared").cast("double") /
              (col("n1") + col("n2") - col("n_shared")), 6).as("jacc"),
            round(expr(matchFrac).cast("double") / K -
              col("n_shared").cast("double") /
                (col("n1") + col("n2") - col("n_shared")), 6).as("err"))
          .orderBy(col("source"), col("source2"))
      },
      Some {
        val mins = (0 until K)
          .map(k => s"min(substr(h, ${k * 8 + 1}, 8)) AS m$k").mkString(", ")
        val eq = (0 until K)
          .map(k => s"CASE WHEN a.m$k = b.m$k THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH $shingleSqlCte,
        src AS (SELECT s.doc_id, d.source, s.shingles
          FROM sh s JOIN documents d USING (doc_id)),
        grams AS (SELECT DISTINCT source, unnest(shingles) AS sh FROM src),
        hs2 AS (SELECT source, sha256(sh) AS h FROM grams),
        sig AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams, $mins
          FROM hs2 GROUP BY source),
        ex AS (SELECT a.source, b.source AS source2,
            CAST(count(*) AS BIGINT) AS n_shared
          FROM grams a JOIN grams b ON a.sh = b.sh AND a.source < b.source
          GROUP BY 1, 2)
        SELECT a.source, b.source AS source2,
          round(CAST($eq AS DOUBLE) / $K, 6) AS est_jacc,
          round(CAST(coalesce(ex.n_shared, 0) AS DOUBLE)
            / (a.n_grams + b.n_grams - coalesce(ex.n_shared, 0)), 6) AS jacc,
          round(CAST($eq AS DOUBLE) / $K -
            CAST(coalesce(ex.n_shared, 0) AS DOUBLE)
              / (a.n_grams + b.n_grams - coalesce(ex.n_shared, 0)), 6) AS err
        FROM sig a JOIN sig b ON a.source < b.source
        LEFT JOIN ex ON ex.source = a.source AND ex.source2 = b.source
        ORDER BY a.source, source2"""
      },
      headline = false)
  }

  // ---------------------------------------------------------------
  // Gate-driven family selection — the Curation policy slot
  // ---------------------------------------------------------------

  /** The near-dup family ladder in ASCENDING cost order: 64-bit
    * signature families first (one token-hash pass, int block keys;
    * q90's 8 blocks cheaper than q244's 20 tables), then the 128-bit
    * signature (double the vote width), then MinHash (shingling + the
    * K-slice signature — the most expensive to build, and the most
    * saturation-robust: SCALE.md Round 13 measured it gate-ok on every
    * corpus where any family was). */
  private[graft] val FamilyLadder: Seq[String] =
    Seq("simhash", "manku64", "simhash128", "minhash")

  /** Exact-verified near-dup threshold for the MinHash rung (q91/q116's
    * removal tier). */
  private val NearDupJaccard = 0.8

  /** Near-dup pair frame for a named family over a documents frame —
    * hamming-verified for the signature families, exact-Jaccard ≥ 0.8
    * for MinHash. Slim (doc_a, doc_b) output, doc_a < doc_b. */
  private[graft] def nearDupPairsOf(d: DataFrame, family: String): DataFrame =
    (family match {
      case "simhash" => simhashPairsOf(packedSimhashOf(d))
      case "manku64" => mankuPairsOf(packedSimhashOf(d))
      case "simhash128" => simhash128PairsOf(packedSimhash128Of(d))
      case "minhash" =>
        // exact-Jaccard verify through the inverted index: the
        // array_intersect/array_union form shipped both hash arrays
        // per candidate pair — the exact wide-shuffle shape whose
        // count-based gate does NOT price verify bytes (the q245
        // 800 GB DNF, SCALE.md Round 14); minhash is the ladder's
        // saturation-robust fallback, so it is picked exactly on the
        // densest corpora. Slim rows only: |A∩B| via commonHashCounts,
        // |A∪B| = n_a + n_b − |A∩B| from cached set sizes.
        val hashed = hashedOf(shingledOf(d), "policy_hashed")
        // materialized: the verify consumes the candidate frame four
        // times (count + bloom build + two semi-joins + final join)
        val cand = Staging.materialize(lshCandidatePairs(signatures(hashed)), "policy_cand")
        val sizes = hashed.select(col("doc_id"),
          size(col("hashes")).cast("long").as("n"))
        cand.join(commonHashCounts(hashed, cand, "doc_a", "doc_b",
              col("a.doc_id") < col("b.doc_id"), incidenceGuard = true),
            Seq("doc_a", "doc_b"))
          .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")),
            Seq("doc_a"))
          .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")),
            Seq("doc_b"))
          .filter(col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common")) >= NearDupJaccard)
      case other => throw new IllegalArgumentException(
        s"unknown near-dup family '$other' — valid: ${FamilyLadder.mkString(", ")}")
    }).select(col("doc_a"), col("doc_b"))

  /** Run the ladder's pre-flights cheapest-first and pick the first
    * family whose gate says ok — SCALE.md's "read the q239 gate before
    * sizing a run" as engine behavior instead of advice. Returns the
    * pick (None ⇔ every gate refused: the correct posture is refusing
    * the near-dup stage, not thrashing) and every verdict evaluated,
    * for the run's metrics. Evaluation stops at the first ok — later,
    * costlier gates are not priced once a cheaper rung is affordable. */
  private[graft] def selectDedupFamily(d: DataFrame,
      budget: Double = PfBudgetDefault): (Option[String], Seq[(String, String, Double)]) = {
    val verdicts = scala.collection.mutable.ArrayBuffer.empty[(String, String, Double)]
    val pick = FamilyLadder.iterator.map { fam =>
      val r = preflightForDocs(d, fam, budget).collect().head
      verdicts += ((fam, r.getAs[String]("verdict"), r.getAs[Double]("pairs_per_doc")))
      fam -> r.getAs[String]("verdict")
    }.collectFirst { case (fam, "ok") => fam }
    (pick, verdicts.toSeq)
  }

  val all: Seq[QueryDef] = Seq(
    q50MinhashSignature, q51LshJaccardPairs, q52MinhashAggregate,
    q53Simhash, q54NgramJaccard, q55EmbeddingNeardup, q90SimhashHamming,
    q91DupClusters, q112EditDistPairs, q129DedupSaturation,
    q131MinhashCalibration, q134ClusterHistogram, q183LshRecall,
    q192CrossSourceDups, q205CcTwophase, q226SourceMinhash,
    q239DedupPreflight, q241ContainmentPairs, q242Simhash128Pairs,
    q244MankuPairs, q245ContainmentRecall, q246ContainmentRecallT90)
}
