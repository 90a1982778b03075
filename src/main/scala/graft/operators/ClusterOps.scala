package graft.operators

import graft.{QueryDef, Staging, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus clustering — distributed Lloyd k-means over the embedding
  * column (Lloyd 1982; the workhorse behind SemDeDup's cluster
  * partitioning, IVF coarse quantizers, and cluster-balanced
  * sampling). `ml/VectorML.trainCentroids` already wraps MLlib KMeans
  * for the ANN tier, but a library fit is a black box: its trajectory
  * depends on seeded randomness and float summation order, so it can
  * only ever be smoke-checked. This operator IS the algorithm,
  * oracle-checked end-to-end: every arithmetic step is exact-integer
  * (or a correctly-rounded IEEE op on exact integers), so the DuckDB
  * oracle replays the full 3-round trajectory and must agree
  * bit-for-bit on assignments, centroids, and distances.
  *
  * The determinism recipe:
  *  - embeddings quantize to integers once: q = floor(1000·x + 0.5)
  *    (float→double cast exact, one correctly-rounded multiply, floor
  *    — identical on both engines);
  *  - seeding is K-MEANS-BY-HASH: the k vectors with the smallest
  *    vec-id hash buckets (deterministic stand-in for random init;
  *    k-means++ would need sequential corpus passes per seed);
  *  - distances are integer sums of squares (|q| ≤ ~2000, d = 64 →
  *    far inside int64); argmin tiebreaks on cid;
  *  - each new centroid is the coordinate-wise mean re-quantized:
  *    floor(sum/n + 0.5) — sum is an exact integer in a double (≤ 2^53
  *    by construction), the division is one correctly-rounded op, so
  *    every engine and every summation order produces the same
  *    integer centroid. Empty clusters keep their previous centroid.
  *
  * Scale: the canonical Lloyd-on-a-cluster shape — centroids live on
  * the driver (k·d = 512 longs), closure-captured by an argmin UDF
  * projection; each round's update is ONE (cid, pos)-keyed partial
  * aggregation whose result is k·d rows regardless of corpus size.
  * T rounds = T corpus scans of a materialized integer table, no
  * corpus shuffle beyond the k·d-row aggregation, nothing N².
  */
object ClusterOps {

  private val K = 8
  private val Rounds = 3
  private val Dim = 64

  /** Best and second-best centroid per vector (second = the nearest
    * OTHER cluster, what the silhouette needs).
    *
    * PUBLIC on purpose (r17): as a `private` nested class, janino's
    * generated projection could not reference its accessors —
    * `CompileException: no applicable method d2()` on every stage that
    * serialized the UDF result — and Spark silently fell back to an
    * INTERPRETED projection, so the r16 UDF rewrite had been paying an
    * interpreted row-conversion per assignment all along. Public lets
    * the encoder codegen-compile. */
  final case class Assign(d2: Long, cid: Long, d2b: Long,
      cid_b: Long)

  /** Integer argmin over the k closure-captured centroids as ONE tiny
    * Scala UDF. The previous literal-expression form (k aggregate
    * higher-order functions + array_sort over k·d literals) was
    * re-planned and re-codegen-compiled on EVERY Lloyd round — at
    * sf0.1 q174's task time was 1.1 s against ~2 s wall, the gap
    * almost entirely driver-side compilation of the 512-literal tree,
    * four times per query. The UDF plans as a single small node; the
    * distances are the same exact int64 sums, and the tie-break
    * (lowest cid on equal d2) falls out of strict-less comparison in
    * ascending-cid order, identically to the old (d2, cid) struct
    * sort.
    *
    * The input is a PRIMITIVE Array[Long] (r16 verdict item 5): the
    * Seq[Long] signature deserialized every row into an object array
    * of boxed Longs and boxed again on each q(p) read — per-row
    * executor cost that the driver-compile win paid for at sf0.1 but
    * would not at 100 TB. Array[Long] deserializes via
    * UnsafeArrayData.toLongArray (one copy, no boxing) and the loop
    * reads primitives. */
  private def assignWith(cents: Array[Array[Long]]) =
    udf((q: Array[Long]) => {
      var bi = -1L; var bd = Long.MaxValue
      var si = -1L; var sd = Long.MaxValue
      var j = 0
      while (j < cents.length) {
        val cj = cents(j); var d = 0L; var p = 0
        while (p < cj.length) { val x = q(p) - cj(p); d += x * x; p += 1 }
        if (d < bd) { si = bi; sd = bd; bi = j; bd = d }
        else if (d < sd) { si = j; sd = d }
        j += 1
      }
      Assign(bd, bi, sd, si)
    })

  /** The shared Lloyd trajectory: quantized table, `Rounds` rounds of
    * assign/update, returning the final (vec_id, q, cid, d2)
    * assignment and the final centroids. Both q174 (cluster stats)
    * and q175 (prototypicality pruning) consume exactly this. */
  private[graft] def lloyd(s: SparkSession, dir: String)
      : (DataFrame, Array[Array[Long]]) =
    lloydOf(Tables.load(s, dir, "embeddings"))

  /** The trajectory over an arbitrary (vec_id, embedding) frame — the
    * library seam `pipeline/Curation`'s prototype-pruning stage feeds
    * with the dedup survivors' embeddings. */
  private[graft] def lloydOf(emb: DataFrame)
      : (DataFrame, Array[Array[Long]]) = {
    val qm = Staging.materialize(
      emb.select(col("vec_id"),
        expr("transform(embedding, x -> cast(floor(cast(x as double) * 1000.0 + 0.5) as bigint))")
          .as("q")),
      "kmeans_q")
    // hash-seeded init: k smallest (bucket, vec_id) vectors
    val seeds = qm
      .withColumn("b",
        expr(MixOps.bucketExpr("sha2(cast(vec_id as string), 256)", 65536)))
      .orderBy(col("b"), col("vec_id")).limit(K)
      .select(col("q")).collect()
    var cents: Array[Array[Long]] =
      seeds.map(_.getSeq[Long](0).toArray)
    // Lloyd rounds: argmin UDF assignment, k·d-row update agg
    (1 to Rounds).foreach { _ =>
      val sums = qm.withColumn("a", assignWith(cents)(col("q")))
        .select(col("a.cid").as("cid"), posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone) // empty cluster keeps its centroid
      sums.foreach { r =>
        next(r.getLong(0).toInt)(r.getInt(1)) =
          math.floor(r.getLong(2).toDouble / r.getLong(3) + 0.5).toLong
      }
      cents = next
    }
    val assigned = qm.withColumn("a", assignWith(cents)(col("q")))
      .select(col("vec_id"), col("q"),
        col("a.cid").as("cid"), col("a.d2").as("d2"))
    (assigned, cents)
  }

  /** The same trajectory as oracle CTEs, ending in
    * `a${Rounds + 1}(vec_id, cid, d2)` (final assignment) and
    * `cents$Rounds(cid, pos, c)` (final centroids). Shared verbatim by
    * the q174 and q175 oracles so the two cannot drift. */
  private[graft] def lloydSqlCtes: String = {
    def round(r: Int): String =
      s"""asg$r AS (SELECT vd.vec_id, c.cid, sum((vd.v - c.c) * (vd.v - c.c)) AS d2
         |  FROM vd JOIN cents${r - 1} c ON vd.pos = c.pos GROUP BY 1, 2),
         |a$r AS (SELECT vec_id, cid, d2 FROM (
         |    SELECT vec_id, cid, d2,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |    FROM asg$r) x WHERE rn = 1),
         |m$r AS (SELECT a.cid, vd.pos,
         |    CAST(floor(CAST(sum(vd.v) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS c
         |  FROM a$r a JOIN vd ON a.vec_id = vd.vec_id GROUP BY 1, 2),
         |cents$r AS (SELECT p.cid, p.pos, coalesce(m.c, p.c) AS c
         |  FROM cents${r - 1} p LEFT JOIN m$r m ON p.cid = m.cid AND p.pos = m.pos)""".stripMargin
    val rounds = (1 to Rounds).map(round).mkString(",\n      ")
    val fin = Rounds + 1
    s"""qv AS (SELECT vec_id,
          list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS q
        FROM embeddings),
      vd AS (SELECT vec_id, t.pos, q[t.pos] AS v
        FROM qv, unnest(range(1, ${Dim + 1})) AS t(pos)),
      rk AS (SELECT vec_id, row_number() OVER (ORDER BY
          ${MixOps.bucketExpr("sha256(CAST(vec_id AS VARCHAR))", 65536)}, vec_id) AS r
        FROM qv),
      cents0 AS (SELECT CAST(rk.r - 1 AS BIGINT) AS cid, vd.pos, vd.v AS c
        FROM rk JOIN vd USING (vec_id) WHERE rk.r <= $K),
      $rounds,
      asg$fin AS (SELECT vd.vec_id, c.cid, sum((vd.v - c.c) * (vd.v - c.c)) AS d2
        FROM vd JOIN cents$Rounds c ON vd.pos = c.pos GROUP BY 1, 2),
      a$fin AS (SELECT vec_id, cid, d2 FROM (
          SELECT vec_id, cid, d2,
            row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
          FROM asg$fin) x WHERE rn = 1)"""
  }

  /** q174: 3 Lloyd rounds from hash-seeded init, then per-cluster
    * stats — size, total squared distance (the k-means objective,
    * exact integer), and the centroid's L1 fingerprint. */
  val q174KmeansClusters: QueryDef = QueryDef(
    "q174_kmeans_clusters",
    (s, dir) => {
      val (assigned, cents) = lloyd(s, dir)
      import s.implicits._
      val cnorm = cents.zipWithIndex
        .map { case (c, j) => (j.toLong, c.map(math.abs).sum) }
        .toSeq.toDF("cid", "cnorm1")
      assigned
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("sum_sqdist"))
        .join(broadcast(cnorm), Seq("cid"))
        .select(col("cid"), col("n_vecs"), col("sum_sqdist"), col("cnorm1"))
        .orderBy(col("cid"))
    },
    Some(s"""WITH $lloydSqlCtes,
      cn AS (SELECT cid, CAST(sum(abs(c)) AS BIGINT) AS cnorm1
        FROM cents$Rounds GROUP BY cid)
      SELECT a.cid, CAST(count(*) AS BIGINT) AS n_vecs,
        CAST(sum(a.d2) AS BIGINT) AS sum_sqdist, cn.cnorm1
      FROM a${Rounds + 1} a JOIN cn USING (cid)
      GROUP BY a.cid, cn.cnorm1 ORDER BY a.cid"""),
    headline = true)

  /** q175: prototypicality pruning over the q174 clusters — the D4 /
    * SSL-prototypes diversification rule (Sorscher et al. 2022 "Beyond
    * neural scaling laws"; Tirumala et al. 2023 D4): within each
    * cluster, the vectors CLOSEST to the centroid are the most
    * prototypical — semantically redundant with the cluster center —
    * so the densest fifth is dropped and the diverse remainder kept.
    * Rank within cluster by (dist² asc, vec_id); the drop quota is the
    * integer fifth `n_c div 5`, so membership, rank, and the pruned
    * flag are all exact-integer decisions riding q174's bit-exact
    * assignment — nothing new to round.
    *
    * Scale: adds ONE cid-keyed window over the final assignment (the
    * same shuffle key the update aggregation already used) — rank
    * within cluster is partition-local after that shuffle; quotas are
    * a k-row table. */
  /** The q175 ranking over an assignment: within each cluster rank by
    * (dist² asc, vec_id), flag the densest `1/den` (integer quota) as
    * prototypical — shared by the q175 operator and Curation's
    * prototype-pruning stage so the two cannot drift. */
  private[graft] def prototypeFlags(assigned: DataFrame, den: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    assigned.select(col("vec_id"), col("cid"), col("d2"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cid"))
          .orderBy(col("d2"), col("vec_id"))).cast("long"))
      .withColumn("n_c", count(lit(1)).over(Window.partitionBy(col("cid"))))
      .withColumn("pruned", col("rk") <= expr(s"n_c div $den"))
  }

  val q175PrototypePrune: QueryDef = QueryDef(
    "q175_prototype_prune",
    (s, dir) => {
      val (assigned, _) = lloyd(s, dir)
      prototypeFlags(assigned, 5)
        .select(col("vec_id"), col("cid"), col("d2"), col("rk"),
          col("n_c"), col("pruned"))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH $lloydSqlCtes,
      sized AS (SELECT vec_id, cid, CAST(d2 AS BIGINT) AS d2,
          CAST(row_number() OVER (PARTITION BY cid ORDER BY d2, vec_id) AS BIGINT) AS rk,
          CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS n_c
        FROM a${Rounds + 1})
      SELECT vec_id, cid, d2, rk, n_c, rk <= n_c // 5 AS pruned
      FROM sized ORDER BY vec_id"""),
    headline = false)

  /** q182: per-cluster silhouette audit over the q174 clustering —
    * the centroid-based (a, b) form (Rousseeuw 1987 simplified to
    * centroid distances, the variant large-scale eval uses since
    * pairwise silhouette is quadratic): a = dist² to own centroid,
    * b = dist² to the nearest OTHER centroid, s = (b − a)/max(a, b).
    * Clusters whose mean s sits near 0 are not separated — merge or
    * re-k before anything downstream (SemDeDup blocking, IVF probe
    * tuning) trusts the partition.
    *
    * Both distances fall out of the SAME argmin UDF the assignment
    * uses (best = a, second best = b) — no extra pass, no join; the
    * only float is the final ratio, rounded 4.
    * Identical-to-centroid duplicates (a = b = 0) score 0 by
    * convention on both engines.
    *
    * Scale: exactly q174's assignment projection plus a k-row-output
    * aggregation; nothing new shuffles. */
  val q182Silhouette: QueryDef = QueryDef(
    "q182_silhouette",
    (s, dir) => {
      val (assigned, cents) = lloyd(s, dir)
      val sil = assigned
        .withColumn("a2", assignWith(cents)(col("q")))
        .select(col("cid"), col("d2").as("a"), col("a2.d2b").as("b"))
        .withColumn("s",
          when(greatest(col("a"), col("b")) === 0L, lit(0.0))
            .otherwise((col("b") - col("a")).cast("double") /
              greatest(col("a"), col("b"))))
      sil.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vecs"),
          round(avg(col("s")), 4).as("mean_silhouette"),
          round(min(col("s")), 4).as("min_silhouette"))
        .orderBy(col("cid"))
    },
    Some(s"""WITH $lloydSqlCtes,
      second AS (SELECT vec_id, d2 FROM (
          SELECT vec_id, d2, row_number() OVER (PARTITION BY vec_id
            ORDER BY d2, cid) AS rn FROM asg${Rounds + 1}) x WHERE rn = 2),
      sil AS (SELECT a.cid, CAST(a.d2 AS BIGINT) AS ad,
          CAST(s.d2 AS BIGINT) AS bd
        FROM a${Rounds + 1} a JOIN second s USING (vec_id)),
      scored AS (SELECT cid,
          CASE WHEN greatest(ad, bd) = 0 THEN 0.0
               ELSE CAST(bd - ad AS DOUBLE) / greatest(ad, bd) END AS s
        FROM sil)
      SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
        round(avg(s), 4) AS mean_silhouette,
        round(min(s), 4) AS min_silhouette
      FROM scored GROUP BY cid ORDER BY cid"""),
    headline = false)

  // ---------------------------------------------------------------
  // q213: clustering-agreement audit (ARI + NMI vs labels)
  // ---------------------------------------------------------------

  /** External clustering validation — Adjusted Rand Index (Hubert &
    * Arabie 1985) and Normalized Mutual Information (Strehl & Ghosh
    * 2002, √(H·H) normalization) of the q174 k-means assignment
    * against the embedding table's labels: the standard "did the
    * unsupervised clusters recover the known classes" scorecard a
    * curation pipeline reads before trusting cluster-level decisions
    * (q175 pruning, q95 semantic dedup) at scale. Both indices are
    * pure functions of the k×L CONTINGENCY TABLE, so the audit adds
    * one (cid, label)-keyed count on top of the Lloyd assignment and
    * then works on ≤ k·L cells.
    *
    * Determinism: pair counts C(n,2) are exact int64; ARI and NMI are
    * double epilogues over ≤ k·L cells rounded at 6 (the aggregate
    * house rule); the assignment itself is q174's bit-exact lattice
    * Lloyd, and the oracle replays it via the SAME shared CTEs.
    *
    * Scale: the only corpus-sized work is the assignment (inherited)
    * plus one count shuffle keyed by (cid, label); the index math
    * runs on the k·L-cell table — driver-bounded by construction,
    * exactly like q173's k-row replay. */
  val q213ClusterAgreement: QueryDef = QueryDef(
    "q213_cluster_agreement",
    (s, dir) => {
      import s.implicits._
      val (assigned, _) = lloyd(s, dir)
      val ct = assigned.select(col("vec_id"), col("cid"))
        .join(Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("label")), "vec_id")
        .groupBy(col("cid"), col("label")).agg(count(lit(1)).as("nij"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .sortBy(c => (c._1, c._2))
      val n = ct.map(_._3).sum
      val aMarg = ct.groupBy(_._1).map { case (_, g) => g.map(_._3).sum }
      val bMarg = ct.groupBy(_._2).map { case (_, g) => g.map(_._3).sum }
      def comb2(x: Long): Long = x * (x - 1) / 2
      val sij = ct.map(c => comb2(c._3)).sum
      val sa = aMarg.map(comb2).sum
      val sb = bMarg.map(comb2).sum
      val cn2 = comb2(n).toDouble
      val expIdx = sa.toDouble * sb.toDouble / cn2
      val ari = (sij.toDouble - expIdx) /
        ((sa.toDouble + sb.toDouble) / 2.0 - expIdx)
      val aOf = ct.groupBy(_._1).map { case (k, g) => k -> g.map(_._3).sum }
      val bOf = ct.groupBy(_._2).map { case (k, g) => k -> g.map(_._3).sum }
      val nd = n.toDouble
      val mi = ct.map { case (ci, lb, nij) =>
        (nij / nd) * math.log(nd * nij / (aOf(ci).toDouble * bOf(lb).toDouble))
      }.sum
      val hu = -aMarg.map(a => (a / nd) * math.log(a / nd)).sum
      val hv = -bMarg.map(b => (b / nd) * math.log(b / nd)).sum
      val nmi = mi / math.sqrt(hu * hv)
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      Seq((n, sij, sa, sb, r6(ari), r6(nmi)))
        .toDF("n", "sum_comb_ij", "sum_comb_a", "sum_comb_b", "ari", "nmi")
    },
    Some(s"""WITH $lloydSqlCtes,
      ct AS (SELECT a${Rounds + 1}.cid, e.label, count(*) AS nij
        FROM a${Rounds + 1} JOIN embeddings e USING (vec_id)
        GROUP BY 1, 2),
      ma AS (SELECT cid, CAST(sum(nij) AS BIGINT) AS a FROM ct GROUP BY 1),
      mb AS (SELECT label, CAST(sum(nij) AS BIGINT) AS b FROM ct GROUP BY 1),
      tot AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM ct),
      cmb AS (SELECT
          CAST(sum((nij * (nij - 1)) // 2) AS BIGINT) AS sij FROM ct),
      ca AS (SELECT CAST(sum((a * (a - 1)) // 2) AS BIGINT) AS sa FROM ma),
      cb AS (SELECT CAST(sum((b * (b - 1)) // 2) AS BIGINT) AS sb FROM mb),
      mi AS (SELECT sum((CAST(nij AS DOUBLE) / tot.n) *
          ln(CAST(tot.n AS DOUBLE) * nij / (CAST(ma.a AS DOUBLE) * mb.b))) AS mi
        FROM ct JOIN ma USING (cid) JOIN mb USING (label), tot),
      hu AS (SELECT -sum((CAST(a AS DOUBLE) / tot.n) *
          ln(CAST(a AS DOUBLE) / tot.n)) AS h FROM ma, tot),
      hv AS (SELECT -sum((CAST(b AS DOUBLE) / tot.n) *
          ln(CAST(b AS DOUBLE) / tot.n)) AS h FROM mb, tot)
      SELECT tot.n, cmb.sij AS sum_comb_ij, ca.sa AS sum_comb_a,
        cb.sb AS sum_comb_b,
        round((cmb.sij - CAST(ca.sa AS DOUBLE) * cb.sb /
            (CAST(tot.n AS DOUBLE) * (tot.n - 1) / 2.0)) /
          ((CAST(ca.sa AS DOUBLE) + cb.sb) / 2.0 -
            CAST(ca.sa AS DOUBLE) * cb.sb /
            (CAST(tot.n AS DOUBLE) * (tot.n - 1) / 2.0)), 6) AS ari,
        round(mi.mi / sqrt(hu.h * hv.h), 6) AS nmi
      FROM tot, cmb, ca, cb, mi, hu, hv"""),
    headline = false)

  val all: Seq[QueryDef] =
    Seq(q174KmeansClusters, q175PrototypePrune, q182Silhouette,
      q213ClusterAgreement)
}
