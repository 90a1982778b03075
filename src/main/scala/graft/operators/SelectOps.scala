package graft.operators

import graft.{QueryDef, Staging, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-selection operators for training-corpus curation: coverage-
  * driven coreset picking and one-pass weighted sampling — the two
  * selection primitives that complement the mixing/resampling tier
  * (q115/q171/q173) with "which exact rows" rather than "how many per
  * group" semantics. Both follow the ClusterOps determinism recipe:
  * integer-lattice quantization, exact integer reductions, and (for
  * q204) a single correctly-rounded IEEE division — so the DuckDB
  * oracle replays them round-for-round / row-for-row.
  */
object SelectOps {

  // ---- q203: k-center greedy coreset --------------------------------------

  private val KCenters = 6
  private val Dim = 64

  /** Squared L2 between the row's quantized embedding and a literal
    * center — exact int64 (|q| ≤ ~530 on the ×1000 lattice, so the
    * 64-term sum is ≤ ~7·10⁷). */
  private def sqdistExpr(center: Array[Long]): String = {
    val arr = center.mkString("array(", "L,", "L)")
    s"aggregate(zip_with(q, $arr, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
  }

  private def quantized(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings").select(col("vec_id"),
      expr("transform(embedding, x -> cast(floor(cast(x as double) * 1000.0 + 0.5) as bigint))")
        .as("q"))

  /** Plan probe for the per-round corpus work: one scan reduced to a
    * single max-struct row — no join, no cartesian, no corpus shuffle.
    * Plans.scala asserts on this frame. */
  def q203RoundPlanProbe(s: SparkSession, dir: String): DataFrame = {
    val qm = quantized(s, dir)
    qm.select(col("vec_id"), col("q"),
        expr(sqdistExpr(Array.fill(Dim)(0L))).as("mind"))
      .agg(max(struct(col("mind"), (-col("vec_id")).as("nid"),
        col("q"))).as("w"))
  }

  /** q203: k-center greedy coreset selection (Gonzalez 1985 farthest-
    * point traversal; the core-set selection of Sener & Savarese,
    * ICLR 2018) over the ×1000-quantized embeddings. Seed = the
    * min-vec_id row; each of the next K−1 rounds picks the point
    * maximizing its distance to the nearest already-picked center
    * (tie → min vec_id), which 2-approximates the k-center cover —
    * the "most coverage per selected example" criterion.
    *
    * Determinism: distances are exact int64 on the lattice and the
    * argmax is a max over (mind, −vec_id) structs, so the DuckDB
    * oracle replays every round exactly.
    *
    * Scale: round r is ONE corpus scan — r codegen'd zip_with sqdist
    * expressions per row, reduced by a partial max-struct agg to a
    * single driver row that carries the winner's vector (so no second
    * scan fetches the new center). Centers live on the driver (k·d
    * longs, Lloyd's pattern); nothing joins, nothing shuffles beyond
    * the 1-row agg. K scans total — the farthest-point structure is
    * inherently sequential, but each step is embarrassingly parallel. */
  val q203KCenterCoreset: QueryDef = QueryDef(
    "q203_kcenter_coreset",
    (s, dir) => {
      val qm = Staging.materialize(quantized(s, dir), "kcenter_q")
      // seed: min vec_id (struct ordering: vec_id first)
      val seedRow = qm.agg(min(struct(col("vec_id"), col("q"))).as("w"))
        .head.getStruct(0)
      var centers = Vector[(Long, Array[Long])](
        (seedRow.getLong(0), seedRow.getSeq[Long](1).toArray))
      val picks = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)](
        (1L, centers.head._1, 0L))
      (2 to KCenters).foreach { r =>
        val mindSql = centers.map(c => sqdistExpr(c._2))
          .reduceLeft((a, b) => s"least($a, $b)")
        val w = qm.select(col("vec_id"), col("q"), expr(mindSql).as("mind"))
          .agg(max(struct(col("mind"), (-col("vec_id")).as("nid"),
            col("q"))).as("w"))
          .head.getStruct(0)
        val (mind, vid) = (w.getLong(0), -w.getLong(1))
        centers :+= ((vid, w.getSeq[Long](2).toArray))
        picks += ((r.toLong, vid, mind))
      }
      import s.implicits._
      picks.toSeq.toDF("round", "vec_id", "maxmin")
        .orderBy(col("round"))
    },
    Some {
      def round(r: Int): String =
        s"""pc$r AS (SELECT p.vec_id AS pid,
           |    c.vec_id AS cid, sum((p.v - c.v) * (p.v - c.v)) AS d
           |  FROM vd p JOIN vd c USING (pos)
           |  WHERE c.vec_id IN (SELECT vec_id FROM sel${r - 1})
           |  GROUP BY 1, 2),
           |mind$r AS (SELECT pid, min(d) AS mind FROM pc$r GROUP BY 1),
           |pick$r AS (SELECT pid AS vec_id, mind FROM mind$r
           |  ORDER BY mind DESC, pid LIMIT 1),
           |sel$r AS (SELECT vec_id FROM sel${r - 1}
           |  UNION ALL SELECT vec_id FROM pick$r)""".stripMargin
      val rounds = (1 until KCenters).map(round).mkString(",\n      ")
      // sum(BIGINT) is HUGEINT in DuckDB — cast back so the compared
      // column is BIGINT on both engines
      val out = (1 until KCenters).map(r =>
        s"SELECT CAST(${r + 1} AS BIGINT) AS round, vec_id, " +
          s"CAST(mind AS BIGINT) AS maxmin FROM pick$r")
        .mkString("\n      UNION ALL\n      ")
      s"""WITH qv AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS q
        FROM embeddings),
      vd AS (SELECT vec_id, t.pos, q[t.pos] AS v
        FROM qv, unnest(range(1, ${Dim + 1})) AS t(pos)),
      sel0 AS (SELECT min(vec_id) AS vec_id FROM qv),
      $rounds
      SELECT round, vec_id, maxmin FROM (
      SELECT CAST(1 AS BIGINT) AS round, vec_id, CAST(0 AS BIGINT) AS maxmin FROM sel0
      UNION ALL
      $out) ORDER BY round"""
    },
    headline = false)

  // ---- q204: priority sampling (weighted without replacement) -------------

  private val SampleK = 20

  /** q204: priority sampling (Duffield, Lund & Thorup, JACM 2007) — a
    * one-pass weight-proportional sample of K documents without
    * replacement, with the Horvitz-Thompson-style estimator weight
    * max(w, τ) that makes subset-sum estimates unbiased. Priority
    * qᵢ = wᵢ/uᵢ with wᵢ = n_chars and uᵢ = (bᵢ+1)/65536 from the
    * doc's 16-bit content-hash bucket (the q119 split pattern:
    * content-hash randomness is rerun-stable and engine-portable);
    * keep the top K by priority, τ = the (K+1)-th priority.
    *
    * Determinism: w·65536 is an exact double (≤ ~2³⁶ < 2⁵³) and the
    * single division is correctly rounded IEEE — bit-identical in
    * Spark and DuckDB — and the (priority DESC, doc_id) order is
    * total, so selection AND the estimator column replay exactly.
    *
    * Scale: the plan is TakeOrderedAndProject — per-partition top-(K+1)
    * heaps merged on the driver, ONE pass, no shuffle, K+1 rows ever
    * held anywhere. This is the weighted-sampling sketch that works at
    * 100 TB where any sort- or window-based sample does not; it is
    * also mergeable across shards (union → re-take), the property the
    * cross-batch sketch monitors (q133/q154/q169) build on. */
  /** The corpus-side plan of q204: priorities scanned once, reduced by
    * per-partition top-(K+1) heaps (TakeOrderedAndProject — no global
    * sort, no exchange). Plans.scala asserts on this frame. */
  def q204PlanProbe(s: SparkSession, dir: String): DataFrame = {
    val bucketSql = MixOps.bucketExpr("sha2(text, 256)", 65536)
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("n_chars").as("w"),
        (col("n_chars").cast("double") * lit(65536.0) /
          (expr(bucketSql).cast("double") + lit(1.0))).as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(SampleK + 1)
  }

  val q204PrioritySample: QueryDef = QueryDef(
    "q204_priority_sample",
    (s, dir) => {
      val top = q204PlanProbe(s, dir).collect()
      // τ = the (K+1)-th priority; a corpus smaller than K+1 keeps
      // everything with τ = 0 (every w exceeds it)
      val tau = if (top.length > SampleK) top(SampleK).getDouble(2) else 0.0
      import s.implicits._
      top.take(SampleK).toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          math.max(r.getLong(1).toDouble, tau)))
        .toDF("doc_id", "w", "priority", "ht_weight")
        .orderBy(col("doc_id"))
    },
    Some {
      val bucketSql = MixOps.bucketExpr("sha256(text)", 65536)
      s"""WITH pr AS (SELECT doc_id, n_chars AS w,
          CAST(n_chars AS DOUBLE) * 65536.0 / (CAST($bucketSql AS DOUBLE) + 1.0) AS priority
        FROM documents),
      rk AS (SELECT pr.*, row_number() OVER (ORDER BY priority DESC, doc_id) AS rn
        FROM pr),
      tau AS (SELECT coalesce(
          (SELECT priority FROM rk WHERE rn = ${SampleK + 1}), 0.0) AS t)
      SELECT doc_id, w, priority,
        greatest(CAST(w AS DOUBLE), tau.t) AS ht_weight
      FROM rk, tau WHERE rn <= $SampleK ORDER BY doc_id"""
    },
    headline = false)

  // ---- q210: feature-based submodular greedy selection --------------------

  private val SubmodK = 8 // greedy picks
  private val SqrtScale = 1000000.0 // √-value lattice: Q(x) = ⌊√x·10⁶+½⌋

  /** q210: feature-based submodular data selection (Wei, Iyer & Bilmes,
    * ICML 2015): greedily maximize F(S) = Σ_w √(c_w(S)) where c_w(S)
    * sums word w's term frequency over the selected docs — the
    * concave-over-modular coverage objective that rewards NEW
    * vocabulary and diminishes repeats (the "diverse subset" criterion
    * k-center q203 expresses geometrically, here lexically). Each
    * round picks argmax gain(d|S) = Σ_w [Q(c_w + tf_dw) − Q(c_w)]
    * (tie → min doc_id) with Q(x) = ⌊√x · 10⁶ + ½⌋ — the √ values are
    * quantized to an integer lattice, so every gain is an exact int64
    * sum (order-free, engine-portable) and the greedy trajectory
    * replays EXACTLY in the oracle, q207's discipline applied to
    * submodular maximization. Greedy is (1−1/e)-optimal on monotone
    * submodular F (Nemhauser et al. 1978), and lattice rounding
    * perturbs each marginal by < 2⁻²⁰ relative — selection-invariant
    * except on exact ties, which the doc_id order resolves.
    *
    * Scale: the (doc_id, word, tf) frame is built ONCE (one explode +
    * one (doc_id, word)-keyed count, durable-staged). A round is one
    * broadcast-hash join of that frame against the ≤ Σ_{sel}|doc|
    * selected-state table, one (doc_id)-keyed partial agg, and a
    * 1-row max-struct reduce; the winner's own tf rows (one doc) are
    * fetched by a pushed-down point filter. Driver state is the
    * selected docs' word counts — bounded by picks × doc vocabulary,
    * independent of corpus size. K scans total, like all greedy
    * selectors. */
  val q210SubmodularSelect: QueryDef = QueryDef(
    "q210_submodular_select",
    (s, dir) => {
      import s.implicits._
      val tf = Staging.materialize(
        Tables.load(s, dir, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"),
            explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
          .groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).as("tf")),
        "submod_tf")
      def q(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        floor(sqrt(x.cast("double")) * SqrtScale + 0.5).cast("long")
      val state = scala.collection.mutable.Map.empty[String, Long]
      val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
      val picks = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
      (1 to SubmodK).foreach { r =>
        val st = if (state.isEmpty)
          Seq.empty[(String, Long)].toDF("word", "c")
        else state.toSeq.toDF("word", "c")
        val w = tf.filter(!col("doc_id").isin(selected.toSeq: _*))
          .join(broadcast(st), Seq("word"), "left_outer")
          .select(col("doc_id"),
            (q(coalesce(col("c"), lit(0L)) + col("tf")) -
              q(coalesce(col("c"), lit(0L)))).as("g"))
          .groupBy(col("doc_id")).agg(sum(col("g")).as("gain"))
          .agg(max(struct(col("gain"), (-col("doc_id")).as("nid"))).as("w"))
          .head.getStruct(0)
        val (gain, did) = (w.getLong(0), -w.getLong(1))
        tf.filter(col("doc_id") === did).collect().foreach { row =>
          val word = row.getString(1)
          state(word) = state.getOrElse(word, 0L) + row.getLong(2)
        }
        selected += did
        picks += ((r, did, gain / SqrtScale))
      }
      picks.toSeq.toDF("round", "doc_id", "gain").orderBy(col("round"))
    },
    Some {
      val qx = (e: String) =>
        s"CAST(floor(sqrt(CAST($e AS DOUBLE)) * ${SqrtScale} + 0.5) AS BIGINT)"
      // every round-level CTE is MATERIALIZED: sel{r-1} is referenced
      // three times per round, so letting DuckDB inline them would
      // re-expand the whole prefix 3^K times
      def round(r: Int): String =
        s"""st$r AS MATERIALIZED (SELECT word, sum(tf) AS c FROM tf
           |    WHERE doc_id IN (SELECT doc_id FROM sel${r - 1}) GROUP BY 1),
           |g$r AS MATERIALIZED (SELECT tf.doc_id,
           |    sum(${qx("coalesce(st.c, 0) + tf.tf")} -
           |        ${qx("coalesce(st.c, 0)")}) AS gain
           |  FROM tf LEFT JOIN st$r st USING (word)
           |  WHERE tf.doc_id NOT IN (SELECT doc_id FROM sel${r - 1})
           |  GROUP BY tf.doc_id),
           |pick$r AS MATERIALIZED (SELECT doc_id, gain FROM g$r
           |  ORDER BY gain DESC, doc_id LIMIT 1),
           |sel$r AS MATERIALIZED (SELECT doc_id FROM sel${r - 1}
           |  UNION ALL SELECT doc_id FROM pick$r)""".stripMargin
      val rounds = (1 to SubmodK).map(round).mkString(",\n      ")
      val out = (1 to SubmodK).map(r =>
        s"SELECT $r AS round, doc_id, CAST(gain AS DOUBLE) / ${SqrtScale} AS gain FROM pick$r")
        .mkString("\n      UNION ALL\n      ")
      s"""WITH tf AS MATERIALIZED (SELECT doc_id, word, count(*) AS tf
        FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
          FROM documents WHERE length(trim(text)) > 0)
        GROUP BY 1, 2),
      sel0 AS (SELECT CAST(NULL AS BIGINT) AS doc_id WHERE false),
      $rounds
      SELECT round, doc_id, gain FROM (
      $out) ORDER BY round"""
    },
    headline = false)

  val all: Seq[QueryDef] =
    Seq(q203KCenterCoreset, q204PrioritySample, q210SubmodularSelect)
}
