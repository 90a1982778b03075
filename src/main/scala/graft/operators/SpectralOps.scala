package graft.operators

import graft.{QueryDef, Staging, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spectral structure of the embedding table — the top principal
  * component via power iteration (von Mises & Pollaczek-Geiringer
  * 1929; the first step of every PCA/whitening pass and the spectral
  * view q157's covariance matrix and q132's ZCA consume). A library
  * PCA is a black box (seeded SVD, float summation order); this
  * operator IS the algorithm, oracle-checked end-to-end on the
  * ClusterOps determinism recipe: quantize once to an integer lattice,
  * keep every corpus-sized reduction an exact integer sum, and make
  * each round's single normalization a fixed chain of correctly-
  * rounded IEEE ops — so the DuckDB oracle replays the full 4-round
  * trajectory bit-for-bit.
  *
  * The iteration never materializes the covariance matrix: round r
  * computes s = Σᵢ cᵢ·(cᵢ·v) directly from the centered rows — the
  * matrix-free form that is the only one that exists at 100 TB.
  */
object SpectralOps {

  private val Dim = 64
  private val Rounds = 4
  private val VScale = 1000L // iterate vector lattice: max |component|

  /** One power-iteration round as a DataFrame: s = Σᵢ cᵢ·(cᵢ·v), the
    * d-row aggregation each round reduces the corpus into. Factored out
    * so Plans can explain THIS (the per-round corpus work) instead of
    * the driver-local trajectory table the query returns. */
  private def roundSums(cm: DataFrame, v: Array[Long]): DataFrame = {
    val vArr = v.mkString("array(", "L,", "L)")
    cm.select(
        expr(s"aggregate(zip_with(c, $vArr, (a, b) -> a * b), 0L, (acc, x) -> acc + x)")
          .as("d"),
        posexplode(col("c")).as(Seq("pos", "cv")))
      .groupBy(col("pos"))
      .agg(sum(col("cv") * col("d")).as("sv"))
  }

  /** Plan probe for the per-round aggregation (q202's real corpus
    * work): the centered-row scan reduced by one d-row partial agg —
    * no join, no cartesian. Plans.scala asserts on this frame. */
  def q202RoundPlanProbe(s: SparkSession, dir: String): DataFrame = {
    val cm = Tables.load(s, dir, "embeddings").select(col("vec_id"),
      expr("transform(embedding, x -> cast(floor(cast(x as double) * 1000.0 + 0.5) as bigint))")
        .as("c"))
    roundSums(cm, Array.fill(Dim)(VScale))
  }

  /** q202: 4 power-iteration rounds toward the top principal component
    * of the (mean-centered, ×1000-quantized) embeddings, from the
    * all-ones start. Per round: s = Σᵢ cᵢ·(cᵢ·v) (exact int64 — with
    * |c| ≤ ~2·10³ and d = 64 the per-row term is ≤ ~10¹¹, so the
    * corpus sum holds to N ≈ 3·10⁷ rows; beyond that, coarsen the
    * lattice one decade per 100× rows — the documented headroom knob,
    * like the tokenizer oracles' structural constants), then
    * renormalize to the [[VScale]] lattice: vⱼ = floor((sⱼ/m)·1000
    * + 0.5) with m = max|sⱼ| — an int64→double cast, one division,
    * one multiply, one add, floor: every step correctly rounded,
    * identical in any IEEE engine. Output: the full (round, pos,
    * loading) trajectory plus each round's gain m (its growth rate
    * estimates the dominant eigenvalue — consecutive-ratio
    * convergence is visible in the record).
    *
    * Scale: the quantized/centered table materializes once; each
    * round is ONE corpus scan (the dot product is a codegen'd
    * zip_with/aggregate against a literal v) into a [[Dim]]-row
    * aggregation — the mean and update vectors live on the driver
    * (d longs), exactly Lloyd's k·d pattern. No join, no window, no
    * corpus shuffle beyond the d-row partial agg. */
  val q202PcaPower: QueryDef = QueryDef(
    "q202_pca_power",
    (s, dir) => {
      val raw = Tables.load(s, dir, "embeddings")
      // Dim is a structural constant of the oracle SQL (range(1,65));
      // a table with a different dimensionality would null-pad
      // zip_with silently — fail fast instead (ADVICE r10).
      val dim0 = raw.select(size(col("embedding"))).head.getInt(0)
      require(dim0 == Dim,
        s"q202 expects $Dim-dim embeddings, table has $dim0")
      val qm = Staging.materialize(
        raw.select(col("vec_id"),
          expr("transform(embedding, x -> cast(floor(cast(x as double) * 1000.0 + 0.5) as bigint))")
            .as("q")),
        "pca_q")
      // d-row mean (floor(sum/n + 0.5), exact on both engines)
      val meanRows = qm
        .select(posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy(col("pos"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getInt(0),
          math.floor(r.getLong(1).toDouble / r.getLong(2) + 0.5).toLong))
        .sortBy(_._1).map(_._2)
      val meanArr = meanRows.mkString("array(", "L,", "L)")
      val cm = Staging.materialize(
        qm.select(col("vec_id"),
          expr(s"zip_with(q, $meanArr, (a, b) -> a - b)").as("c")),
        "pca_c")
      // Lattice-headroom guard (ADVICE r10): the corpus reduction
      // Σ cv·d is an int64 sum; DuckDB sums in HUGEINT, so past the
      // headroom Spark would wrap SILENTLY while the oracle stays
      // exact. Bound it with the worst case |sv| ≤ n·maxC²·Dim·VScale
      // (|v| ≤ VScale every round by construction) and fail loudly.
      val hdr = cm.agg(count(lit(1)).as("n"),
        max(expr("aggregate(c, 0L, (acc, x) -> greatest(acc, abs(x)))")).as("maxc"))
        .head
      val (nRows, maxC) = (hdr.getLong(0), hdr.getLong(1))
      val worst = BigInt(nRows) * BigInt(maxC) * BigInt(maxC) * Dim * VScale
      require(worst < BigInt(Long.MaxValue),
        s"q202 int64 lattice headroom exhausted (n=$nRows, max|c|=$maxC, " +
          s"worst=$worst ≥ 2^63): coarsen the quantization lattice")
      var v: Array[Long] = Array.fill(Dim)(VScale)
      val traj = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      (1 to Rounds).foreach { r =>
        val sums = roundSums(cm, v)
          .collect()
          .map(row => (row.getInt(0), row.getLong(1)))
          .sortBy(_._1).map(_._2)
        val m = sums.map(math.abs).max
        // degenerate constant embeddings: every centered sum is 0 →
        // 0/0 would propagate a silent all-zero vector (ADVICE r10)
        require(m > 0, "q202 degenerate spectrum: all centered sums are zero")
        v = sums.map(sj =>
          math.floor(sj.toDouble / m.toDouble * 1000.0 + 0.5).toLong)
        (0 until Dim).foreach { j =>
          traj += ((r.toLong, (j + 1).toLong, v(j), m))
        }
      }
      import s.implicits._
      traj.toSeq.toDF("round", "pos", "loading", "gain")
        .orderBy(col("round"), col("pos"))
    },
    Some {
      def round(r: Int): String =
        s"""dot$r AS (SELECT cd.vec_id, sum(cd.c * vp.v) AS d
           |  FROM cd JOIN v${r - 1} vp USING (pos) GROUP BY 1),
           |s$r AS (SELECT cd.pos, sum(cd.c * dt.d) AS sv
           |  FROM cd JOIN dot$r dt USING (vec_id) GROUP BY 1),
           |m$r AS (SELECT CAST(max(abs(sv)) AS BIGINT) AS m FROM s$r),
           |v$r AS (SELECT pos,
           |    CAST(floor(CAST(sv AS DOUBLE) / CAST(m AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS v
           |  FROM s$r, m$r)""".stripMargin
      val rounds = (1 to Rounds).map(round).mkString(",\n      ")
      val out = (1 to Rounds).map(r =>
        s"""SELECT CAST($r AS BIGINT) AS round, CAST(pos AS BIGINT) AS pos,
            v AS loading, (SELECT m FROM m$r) AS gain FROM v$r""")
        .mkString("\n      UNION ALL\n      ")
      s"""WITH qv AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS q
        FROM embeddings),
      vd AS (SELECT vec_id, t.pos, q[t.pos] AS v
        FROM qv, unnest(range(1, ${Dim + 1})) AS t(pos)),
      mn AS (SELECT pos,
          CAST(floor(CAST(sum(v) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS m
        FROM vd GROUP BY pos),
      cd AS (SELECT vd.vec_id, vd.pos, vd.v - mn.m AS c
        FROM vd JOIN mn USING (pos)),
      v0 AS (SELECT t.pos, CAST($VScale AS BIGINT) AS v
        FROM unnest(range(1, ${Dim + 1})) AS t(pos)),
      $rounds
      SELECT round, pos, loading, gain FROM (
      $out) ORDER BY round, pos"""
    },
    headline = false)

  val all: Seq[QueryDef] = Seq(q202PcaPower)
}
