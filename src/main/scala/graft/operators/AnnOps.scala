package graft.operators

import graft.{QueryDef, Staging, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor over the embeddings table: IVF
  * (inverted-file) search — the scale path behind RetrievalOps'
  * brute-force top-k.
  *
  * Index build: pick C centroids (deterministic here: vec_id < C; k-means
  * at scale), assign every vector to its nearest centroid — a narrow map
  * over a broadcast centroid table. With `spark.graft.stagingDir`
  * ([[graft.Staging.Key]]) set, the assignment is written
  * `partitionBy(cell)` under it and the probe becomes partition-PRUNED
  * I/O: only the `nprobe` cell directories are listed and read, so a
  * 100 TB index pays ~nprobe/C of the scan.
  * Query: score the C centroids (driver-sized), probe the `nprobe`
  * nearest cells, exact-rank only those candidates.
  */
object AnnOps {

  private val C = 16       // centroid count
  private val NProbe = 4   // cells probed per query

  /** Cell assignment: nearest centroid per vector (broadcast C, narrow
    * map + argmin). Shared by the in-memory and staged paths.
    *
    * Argmin as `min(struct(dist, cid, embedding))` — lexicographic
    * struct order reproduces the (min dist, then min cid) tiebreak,
    * and the embedding rides along in the struct (cid is unique, so
    * it never reaches the comparison). PARTIAL-AGGREGATABLE: each
    * vector's C candidate rows collapse map-side to one before the
    * vec_id shuffle, vs the old row_number window that shuffled and
    * sorted all C×N rows (the q85-encode lesson applied to IVF). */
  private[graft] def assignCells(e: DataFrame, centroids: DataFrame): DataFrame =
    e.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("cid"),
        expr("l2_sq_f(embedding, cv)").as("dist"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cid"), col("embedding"))).as("m"))
      .select(col("vec_id"), col("m.embedding").as("embedding"),
        col("m.cid").as("cell"))

  /** Durable IVF layout: the assignment written `partitionBy(cell)` —
    * one directory per inverted list. Returns the index path. */
  def buildIvfIndex(e: DataFrame, centroids: DataFrame, path: String): String = {
    assignCells(e, centroids)
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    path
  }

  /** Incremental index maintenance: assign NEW vectors against the
    * SAME centroid table and append into the existing
    * `partitionBy(cell)` layout — appended files land inside their
    * cell directories, so probes keep partition-pruning and ingest
    * never rebuilds the index. Centroid drift is a rebuild decision,
    * not an append one (the FAISS operational model); AnnOpsSpec
    * proves append ≡ rebuild row-for-row. */
  def appendToIvfIndex(e: DataFrame, centroids: DataFrame, path: String): String = {
    assignCells(e, centroids)
      .write.mode("append").partitionBy("cell").parquet(path)
    path
  }

  /** The nprobe nearest cells to the query vector, decided driver-side —
    * the centroid table is C rows by construction, and a driver-sized
    * decision here is what lets the cell filter be a LITERAL in-set the
    * scan can partition-prune on (no runtime subquery join). */
  def probeCells(centroids: Array[(Long, Array[Float])],
      qv: Array[Float], nprobe: Int): Seq[Long] =
    centroids.map { case (cid, cv) =>
      var i = 0; var d = 0.0
      while (i < cv.length) { val t = cv(i) - qv(i); d += t * t; i += 1 }
      (cid, d)
    }.sortBy { case (cid, d) => (d, cid) }.take(nprobe).map(_._1).toSeq

  /** Exact dot-product ranking of a candidate frame against the 1-row
    * query frame — the tail every IVF path shares. */
  private def rankTopK(candidates: DataFrame, qv: DataFrame, k: Int,
      excludeId: Long): DataFrame =
    candidates
      .crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= excludeId)
      .select(col("cell"), col("vec_id"),
        round(expr("dot_product_f(embedding, qv)"), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)

  /** In-memory IVF top-k over an ARBITRARY (cid, cv) centroid table —
    * q56's plan with the centroid pick factored out. The production
    * index build passes k-means centroids from
    * `ml/VectorML.trainCentroids`; q56 passes the deterministic
    * vec_id < C pick its oracle can reproduce. AnnOpsSpec asserts the
    * trained centroids' recall@k vs the exact top-k is >= the
    * deterministic pick's at equal nprobe. */
  def ivfTopK(e: DataFrame, centroids: DataFrame, qv: DataFrame,
      nprobe: Int, k: Int, excludeId: Long = 0L): DataFrame = {
    val assigned = assignCells(e, centroids)
    val probed = centroids.crossJoin(broadcast(qv))
      .select(col("cid"), expr("l2_sq_f(cv, qv)").as("qdist"))
      .orderBy(col("qdist"), col("cid"))
      .limit(nprobe)
      .select(col("cid").as("cell"))
    rankTopK(assigned.join(broadcast(probed), "cell"), qv, k, excludeId)
  }

  val q56AnnIvf: QueryDef = QueryDef(
    "q56_ann_ivf",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val centroids = e.filter(col("vec_id") < C)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))

      s.conf.getOption(Staging.Key) match {
        case Some(root) =>
          // staged path: partitionBy(cell) index + literal in-set probe →
          // the parquet scan prunes to nprobe of C cell directories
          val path = buildIvfIndex(e, centroids, Staging.stagePath(root, "ivf_index"))
          val cents = centroids.collect().map(r =>
            (r.getLong(0), r.getSeq[Float](1).toArray))
          val q = e.filter(col("vec_id") === 0).select(col("embedding"))
            .collect().head.getSeq[Float](0).toArray
          val cells = probeCells(cents, q, NProbe)
          val candidates = s.read.parquet(path)
            .filter(col("cell").isin(cells: _*))
            // partition columns read back as inferred int32; the
            // in-memory path (and the oracle) carry the centroid id type
            .withColumn("cell", col("cell").cast("long"))
          rankTopK(candidates, qv, 5, excludeId = 0L)
        case None =>
          // in-memory path: same plan, probe set decided by TakeOrdered
          ivfTopK(e, centroids, qv, NProbe, 5)
      }
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $C),
      assigned AS (SELECT vec_id, v, cid AS cell FROM (
        SELECT e.vec_id, e.v, c.cid,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            list_sum(list_transform(list_zip(e.v, c.cv), x -> (x[1]-x[2])*(x[1]-x[2]))), c.cid) AS rk
        FROM e, cent c) a WHERE rk = 1),
      q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      probed AS (SELECT cid AS cell FROM (
        SELECT c.cid, row_number() OVER (ORDER BY
          list_sum(list_transform(list_zip(c.cv, q.qv), x -> (x[1]-x[2])*(x[1]-x[2]))), c.cid) AS prk
        FROM cent c, q) p WHERE prk <= $NProbe)
      SELECT cell, vec_id,
        round(list_sum(list_transform(list_zip(a.v, q.qv), x -> x[1]*x[2])), 6) AS score
      FROM assigned a JOIN probed USING (cell), q
      WHERE vec_id <> 0
      ORDER BY score DESC, vec_id LIMIT 5"""),
    headline = true)

  private val LshBits = 4  // hyperplanes → 2⁴ buckets

  /** One sign bit of the LSH bucket: compares the fixed hyperplane pair
    * (v[2i], v[2i+1]); `invert` flips the bit — the Hamming-1 neighbor
    * used by multi-probe. */
  private def bitExpr(i: Int, invert: Boolean): String = {
    val (hi, lo) = if (invert) ("'0'", "'1'") else ("'1'", "'0'")
    s"case when element_at(embedding, ${2 * i + 1}) >= element_at(embedding, ${2 * i + 2}) then $hi else $lo end"
  }
  private def bucketExprSql(flipped: Int = -1): String =
    (0 until LshBits).map(i => bitExpr(i, invert = i == flipped))
      .mkString("concat(", ", ", ")")

  /** Margin-ordered multi-probe bucket set for a query vector: its own
    * bucket first, then Hamming-1 neighbors ordered by ascending sign
    * margin |v(2i) − v(2i+1)| — the recall knob. A near-neighbor lost to
    * bucketing almost always sits across the LOWEST-margin hyperplane,
    * so probes=2 already recovers most of the single-probe misses at
    * 2/2^bits of the scan. */
  def multiProbeBuckets(qv: IndexedSeq[Float], probes: Int,
      bits: Int = LshBits): Seq[String] = {
    val b = (0 until bits).map(i => if (qv(2 * i) >= qv(2 * i + 1)) '1' else '0')
    val flips = (0 until bits)
      .sortBy(i => (math.abs(qv(2 * i) - qv(2 * i + 1)), i))
      .map(i => b.updated(i, if (b(i) == '1') '0' else '1').mkString)
    (b.mkString +: flips).take(math.max(1, probes))
  }

  /** LSH-bucketed ANN — the other scale path next to IVF: each vector
    * gets a sign-bit bucket from `LshBits` fixed hyperplanes (here the
    * deterministic basis differences v[2i] − v[2i+1]; random Gaussian
    * planes at scale), the query joins only its own bucket, and exact
    * scoring runs on that ~N/2^bits slice. Written `partitionBy(bucket)`
    * the probe is partition-pruned I/O, same as the IVF cell layout;
    * [[q79AnnLshMultiprobe]] is the recall knob on top. */
  val q68AnnLsh: QueryDef = QueryDef(
    "q68_ann_lsh",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .withColumn("bucket", expr(bucketExprSql()))
      val qb = e.filter(col("vec_id") === 0)
        .select(col("bucket"), col("embedding").as("qv"))
      e.join(broadcast(qb), "bucket")
        .filter(col("vec_id") =!= 0)
        .select(col("bucket"), col("vec_id"),
          round(expr("dot_product_f(embedding, qv)"), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(5)
    },
    Some({
      val bucketSql = (0 until LshBits).map(i =>
        s"CASE WHEN v[${2 * i + 1}] >= v[${2 * i + 2}] THEN '1' ELSE '0' END")
        .mkString(" || ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
          $bucketSql AS bucket FROM embeddings),
        q AS (SELECT bucket, v AS qv FROM e WHERE vec_id = 0)
        SELECT e.bucket, vec_id,
          round(list_sum(list_transform(list_zip(e.v, q.qv), x -> x[1]*x[2])), 6) AS score
        FROM e JOIN q USING (bucket)
        WHERE vec_id <> 0
        ORDER BY score DESC, vec_id LIMIT 5"""
    }))

  /** Multi-probe LSH: the query joins its own bucket PLUS every
    * Hamming-1 neighbor (probes = bits+1) — recall recovered from
    * near-neighbors that fell across one hyperplane, at (bits+1)/2^bits
    * of the scan instead of a full one. The margin-ORDERED subset
    * variant is [[multiProbeBuckets]] (probes < bits+1). */
  val q79AnnLshMultiprobe: QueryDef = QueryDef(
    "q79_ann_lsh_multiprobe",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .withColumn("bucket", expr(bucketExprSql()))
      val probeCols = expr(bucketExprSql()) +:
        (0 until LshBits).map(i => expr(bucketExprSql(flipped = i)))
      val qp = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"),
          explode(array_distinct(array(probeCols: _*))).as("bucket"))
      e.join(broadcast(qp.select(col("bucket"), col("qv"))), "bucket")
        .filter(col("vec_id") =!= 0)
        .select(col("bucket"), col("vec_id"),
          round(expr("dot_product_f(embedding, qv)"), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(5)
    },
    Some({
      def bit(i: Int, flip: Boolean): String =
        if (flip) s"CASE WHEN v[${2 * i + 1}] >= v[${2 * i + 2}] THEN '0' ELSE '1' END"
        else s"CASE WHEN v[${2 * i + 1}] >= v[${2 * i + 2}] THEN '1' ELSE '0' END"
      def bucket(flipped: Int): String =
        (0 until LshBits).map(i => bit(i, i == flipped)).mkString(" || ")
      val probeUnion = (-1 until LshBits)
        .map(f => s"SELECT ${bucket(f)} AS bucket FROM q")
        .mkString("\n          UNION\n          ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        eb AS (SELECT vec_id, v, ${bucket(-1)} AS bucket FROM e),
        q AS (SELECT v FROM e WHERE vec_id = 0),
        qq AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        probes AS (
          $probeUnion)
        SELECT eb.bucket, vec_id,
          round(list_sum(list_transform(list_zip(eb.v, qq.qv), x -> x[1]*x[2])), 6) AS score
        FROM eb JOIN probes USING (bucket), qq
        WHERE vec_id <> 0
        ORDER BY score DESC, vec_id LIMIT 5"""
    }))

  // ---------------------------------------------------------------
  // q85: product quantization (PQ) — compressed-index ANN
  // ---------------------------------------------------------------

  private val PqM = 8   // subspaces (64-dim → 8 × 8-dim)
  private val PqD = 8   // dims per subspace
  private val PqK = 16  // centroids per subspace codebook

  /** Per-subspace slices of a vector column: (id, j, slice). */
  private def subVectors(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), explode(expr(s"sequence(0, ${PqM - 1})")).as("j"),
        col(vecCol).as("v"))
      .select(col(idCol), col("j"),
        expr(s"slice(v, j * $PqD + 1, $PqD)").as("sv"))

  private val PqShortlist = 50  // ADC candidates re-ranked exactly

  /** Product quantization ANN (Jégou et al. 2011, public), two-stage:
    * each vector is encoded as M=8 one-byte codes — the nearest
    * codebook centroid per 8-dim subspace — a 32× compression of the
    * 64-float embedding. A query is answered by ADC: the M×K table of
    * query-subvector ↔ centroid distances is computed once
    * (driver-sized), every vector's approximate distance is the sum of
    * M table lookups over its codes, and only the top-`PqShortlist`
    * candidates are re-ranked with the exact float distance — the
    * standard compressed-shortlist + exact-rerank retrieval shape.
    *
    * Scale: encoding is an index-build pass (broadcast codebook join +
    * one groupBy to assemble code arrays — paid once, amortized over
    * all queries); query scoring is a NARROW map over the code table
    * (`aggregate` over a broadcast literal M×K lookup) + TakeOrdered,
    * and only the 50-row shortlist ever touches a float vector again.
    * A 100 TB float index becomes ~3 TB of codes, and the hot scan
    * reads only `codes` (8 bytes/row) — ReadSchema prunes the
    * embedding. Codebooks here are deterministic (subslices of
    * vec_id < K, as q56's centroids); k-means via ml/VectorML at
    * scale.
    *
    * Encode-shape note (measured): a fully narrow encode — argmin over
    * a literal codebook via nested transform/zip_with/aggregate HOFs —
    * was tried and ran 8× SLOWER at sf0.1 (the 1024-term expression
    * tree defeats codegen and falls back to interpreted lambda eval
    * per row). The broadcast-join + window form below shuffles only
    * the (id, j, k, dist) slice table and codegens cleanly; it wins
    * locally and its shuffle is index-build-only at scale. */
  /** PQ codebook slices (k, j, cv): the first [[PqK]] vectors' subspace
    * slices, q56's deterministic-centroid convention. */
  private def pqCodebook(e: DataFrame): DataFrame =
    subVectors(
      e.filter(col("vec_id") < PqK)
        .select(col("vec_id").as("k"), col("embedding")), "k", "embedding")
      .withColumnRenamed("sv", "cv")

  /** PQ encode: nearest codebook centroid per (vector, subspace) →
    * (vec_id, codes) with M one-byte codes. The index-build pass — a
    * broadcast codebook join + two aggregations (see the encode-shape
    * note on q85).
    *
    * Argmin via `min(struct(dist, k))` — lexicographic struct order
    * gives the (min dist, then min k) tiebreak the old row_number
    * window computed, but as a PARTIAL-AGGREGATABLE min: the K=16
    * candidate rows per (vec_id, j) are map-side-combined to one
    * before the shuffle, so the exchange carries M rows/vector instead
    * of sorting M×K rows through a window (16× less shuffled data —
    * the r8 q85 drift fix). */
  private def pqCodes(e: DataFrame): DataFrame =
    subVectors(e, "vec_id", "embedding").join(broadcast(pqCodebook(e)), "j")
      .select(col("vec_id"), col("j"), col("k"),
        expr("l2_sq_f(sv, cv)").as("dist"))
      .groupBy(col("vec_id"), col("j"))
      .agg(min(struct(col("dist"), col("k"))).getField("k").as("k"))
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(j, k))), x -> x.k)")
        .as("codes"))

  /** Driver-side ADC table for query vec 0: the M×K matrix of
    * query-subvector ↔ codebook-centroid squared distances. ONE
    * pushdown-pruned K-row collect + plain-Scala math, bit-identical
    * to `l2_sq_f`'s left-to-right double fold over the same slices.
    * (The earlier explode+join+collect formulation launched a full
    * two-join Spark job per PROBE call — measured as the r11 bench's
    * q85/q100 probe-latency doubling; the table is 16 rows of input,
    * it never needed a distributed plan.) */
  private def adcTable(e: DataFrame): Seq[Seq[Double]] = {
    val rows = e.filter(col("vec_id") < PqK)
      .select(col("vec_id"), col("embedding")).collect()
    val emb = rows.map(r =>
      r.getLong(0).toInt -> r.getSeq[Float](1).toArray).toMap
    val q = emb(0)
    (0 until PqM).map { j =>
      (0 until PqK).map { k =>
        val c = emb(k)
        var acc = 0.0
        var i = j * PqD
        val end = i + PqD
        while (i < end) {
          val d = q(i).toDouble - c(i).toDouble
          acc += d * d
          i += 1
        }
        acc
      }
    }
  }

  /** ADC score column: sum of M table lookups over `codes` — a narrow,
    * codegen'd fold over the broadcast literal table. */
  private def adcScore(dtab: Seq[Seq[Double]]) = aggregate(
    expr(s"sequence(0, ${PqM - 1})"), lit(0.0),
    (acc, j) => acc + element_at(
      element_at(typedLit(dtab), (j + 1).cast("int")),
      (element_at(col("codes"), (j + 1).cast("int")) + 1).cast("int")))

  /** PQ index build pass: the (vec_id, codes) table — the artifact a
    * cluster stages once and amortizes over every query. Bench times
    * it separately from [[pqProbe]] (the q100/q117 split). */
  def pqIndex(s: SparkSession, dir: String): DataFrame = {
    pqCodes(Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding")))
  }

  /** PQ query pass over a (possibly prebuilt) code table: ADC-score
    * every code row (narrow map over a broadcast literal M×K table),
    * TakeOrdered shortlist, exact re-rank of the 50 candidates only. */
  def pqProbe(s: SparkSession, dir: String, index: DataFrame): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // stage 1 — ADC: sum of M lookups in subspace order (narrow map),
    // TakeOrdered shortlist; no rounding here, the order is internal
    val shortlist = index
      .withColumn("approx_dist", adcScore(adcTable(e)))
      .filter(col("vec_id") =!= 0)
      .orderBy(col("approx_dist"), col("vec_id"))
      .limit(PqShortlist)
      .select(col("vec_id"))
    // stage 2 — exact re-rank of the 50 candidates only
    val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    shortlist.join(e, "vec_id")
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        round(expr("l2_sq_f(embedding, qv)"), 6).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(10)
  }

  val q85AnnPq: QueryDef = QueryDef(
    "q85_ann_pq",
    (s, dir) => pqProbe(s, dir, pqIndex(s, dir)),
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      js AS (SELECT unnest(range(0, $PqM)) AS j),
      subs AS (SELECT e.vec_id, js.j, e.v[js.j*$PqD+1 : js.j*$PqD+$PqD] AS sv FROM e, js),
      cbs AS (SELECT e.vec_id AS k, js.j, e.v[js.j*$PqD+1 : js.j*$PqD+$PqD] AS cv
        FROM e, js WHERE e.vec_id < $PqK),
      codes AS (SELECT vec_id, j, k AS code FROM (
        SELECT s.vec_id, s.j, c.k, row_number() OVER (PARTITION BY s.vec_id, s.j
          ORDER BY list_sum(list_transform(list_zip(s.sv, c.cv),
            x -> (x[1]-x[2])*(x[1]-x[2]))), c.k) AS rk
        FROM subs s JOIN cbs c ON s.j = c.j) a WHERE rk = 1),
      q AS (SELECT j, sv AS qsv FROM subs WHERE vec_id = 0),
      dtab AS (SELECT c.j, c.k,
        list_sum(list_transform(list_zip(c.cv, q.qsv), x -> (x[1]-x[2])*(x[1]-x[2]))) AS qd
        FROM cbs c JOIN q USING (j)),
      scored AS (SELECT vec_id, sum(qd) AS approx_dist
        FROM codes JOIN dtab ON codes.j = dtab.j AND codes.code = dtab.k
        WHERE vec_id <> 0 GROUP BY vec_id),
      shortlist AS (SELECT vec_id FROM scored
        ORDER BY approx_dist, vec_id LIMIT $PqShortlist),
      qfull AS (SELECT v AS qv FROM e WHERE vec_id = 0)
      SELECT s.vec_id,
        round(list_sum(list_transform(list_zip(e.v, qfull.qv),
          x -> (x[1]-x[2])*(x[1]-x[2]))), 6) AS dist
      FROM shortlist s JOIN e ON s.vec_id = e.vec_id, qfull
      ORDER BY dist, s.vec_id LIMIT 10"""),
    headline = true)

  /** IVF+PQ composed ANN — the FAISS IVFADC shape (Jégou et al. 2011),
    * the configuration a billion-vector index actually runs: IVF
    * restricts scoring to the nprobe nearest cells, ADC scores only
    * those cells' one-byte codes, and the exact float re-rank touches
    * just the 50-row shortlist.
    *
    * Scale: multiplies q56's and q85's savings — the hot scan reads
    * (nprobe/C) of a code table that is already 32× smaller than the
    * floats, so at 100 TB of embeddings the per-query scan is ~0.8% of
    * the raw bytes ((4/16) × (1/32)), partition-pruned by the
    * `partitionBy(cell)` layout (buildIvfIndex) and schema-pruned to
    * `codes`. Both index passes (cell assign, PQ encode) are
    * build-time, amortized over every query. */
  /** IVFPQ index build pass: every vector's IVF cell and PQ codes —
    * (vec_id, cell, codes). The build-time artifact a cluster stages
    * once (`partitionBy(cell)` at 100 TB) and amortizes over every
    * query; Bench times it separately from [[ivfpqProbe]] so the
    * per-query number is the probe, not the build. */
  def ivfpqIndex(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val centroids = e.filter(col("vec_id") < C)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    pqCodes(e)
      .join(assignCells(e, centroids).select(col("vec_id"), col("cell")), "vec_id")
  }

  /** IVFPQ query pass over a (possibly prebuilt) index frame: score
    * the C centroids, probe nprobe cells, ADC-score only their codes,
    * exact-re-rank the shortlist. Query-time work only: the centroid
    * table and the query's ADC distance table are driver-sized. */
  def ivfpqProbe(s: SparkSession, dir: String, index: DataFrame): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val centroids = e.filter(col("vec_id") < C)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val probed = centroids.crossJoin(broadcast(qv))
      .select(col("cid"), expr("l2_sq_f(cv, qv)").as("qdist"))
      .orderBy(col("qdist"), col("cid"))
      .limit(NProbe)
      .select(col("cid").as("cell"))
    val shortlist = index
      .join(broadcast(probed), "cell")
      .withColumn("approx_dist", adcScore(adcTable(e)))
      .filter(col("vec_id") =!= 0)
      .orderBy(col("approx_dist"), col("vec_id"))
      .limit(PqShortlist)
      .select(col("vec_id"))
    shortlist.join(e, "vec_id")
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        round(expr("l2_sq_f(embedding, qv)"), 6).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(10)
  }

  val q100AnnIvfPq: QueryDef = QueryDef(
    "q100_ann_ivfpq",
    (s, dir) => ivfpqProbe(s, dir, ivfpqIndex(s, dir)),
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $C),
      assigned AS (SELECT vec_id, cid AS cell FROM (
        SELECT e.vec_id, c.cid,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY
            list_sum(list_transform(list_zip(e.v, c.cv), x -> (x[1]-x[2])*(x[1]-x[2]))), c.cid) AS rk
        FROM e, cent c) a WHERE rk = 1),
      qfull AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      probed AS (SELECT cid AS cell FROM (
        SELECT c.cid, row_number() OVER (ORDER BY
          list_sum(list_transform(list_zip(c.cv, q.qv), x -> (x[1]-x[2])*(x[1]-x[2]))), c.cid) AS prk
        FROM cent c, qfull q) p WHERE prk <= $NProbe),
      js AS (SELECT unnest(range(0, $PqM)) AS j),
      subs AS (SELECT e.vec_id, js.j, e.v[js.j*$PqD+1 : js.j*$PqD+$PqD] AS sv FROM e, js),
      cbs AS (SELECT e.vec_id AS k, js.j, e.v[js.j*$PqD+1 : js.j*$PqD+$PqD] AS cv
        FROM e, js WHERE e.vec_id < $PqK),
      codes AS (SELECT vec_id, j, k AS code FROM (
        SELECT s.vec_id, s.j, c.k, row_number() OVER (PARTITION BY s.vec_id, s.j
          ORDER BY list_sum(list_transform(list_zip(s.sv, c.cv),
            x -> (x[1]-x[2])*(x[1]-x[2]))), c.k) AS rk
        FROM subs s JOIN cbs c ON s.j = c.j) a WHERE rk = 1),
      q AS (SELECT j, sv AS qsv FROM subs WHERE vec_id = 0),
      dtab AS (SELECT c.j, c.k,
        list_sum(list_transform(list_zip(c.cv, q.qsv), x -> (x[1]-x[2])*(x[1]-x[2]))) AS qd
        FROM cbs c JOIN q USING (j)),
      scored AS (SELECT codes.vec_id, sum(qd) AS approx_dist
        FROM codes
        JOIN assigned ON codes.vec_id = assigned.vec_id
        JOIN probed ON assigned.cell = probed.cell
        JOIN dtab ON codes.j = dtab.j AND codes.code = dtab.k
        WHERE codes.vec_id <> 0 GROUP BY codes.vec_id),
      shortlist AS (SELECT vec_id FROM scored
        ORDER BY approx_dist, vec_id LIMIT $PqShortlist)
      SELECT s.vec_id,
        round(list_sum(list_transform(list_zip(e.v, qfull.qv),
          x -> (x[1]-x[2])*(x[1]-x[2]))), 6) AS dist
      FROM shortlist s JOIN e ON s.vec_id = e.vec_id, qfull
      ORDER BY dist, s.vec_id LIMIT 10"""),
    headline = true)

  // ---------------------------------------------------------------
  // q117: scalar quantization (SQ8) — per-dim uint8 codes
  // ---------------------------------------------------------------

  private val SqDim = 64        // embedding dimensionality
  private val SqShortlist = 50  // ADC candidates re-ranked exactly

  /** Per-(vector, dim) long frame: (vec_id, j, x) with x cast to
    * double so the quantizer arithmetic matches the oracle's
    * `embedding::DOUBLE[]` exactly. */
  private def sqDims(e: DataFrame): DataFrame =
    e.select(col("vec_id"), explode(expr(s"sequence(0, ${SqDim - 1})")).as("j"),
        col("embedding").as("v"))
      .select(col("vec_id"), col("j"),
        element_at(col("v"), (col("j") + 1).cast("int")).cast("double").as("x"))

  /** Scalar quantization ANN (the FAISS `SQ8` / uniform-quantizer
    * variant, Guo et al. / FAISS docs — public): each dimension is
    * trained to its [min, max] range over the index and every value is
    * stored as one byte — `code = floor((x-min)/(max-min)·255)` — a 4×
    * compression of a float vector with NO codebook (the train pass is
    * a 64-row min/max aggregate, vs PQ's k-means). Queries run ADC
    * against the dequantized grid `min + code·(max-min)/255`, shortlist
    * the top [[SqShortlist]], and re-rank those exactly — q85's
    * retrieval shape with a cheaper quantizer in the hot loop.
    *
    * Scale: the range table is 2 doubles per dim at ANY corpus size —
    * broadcast forever; encode is one narrow pass over the index
    * (build-time); the query scan is a codegen'd fold over `codes`
    * with the 3×64 dequant constants inlined as literals, reading 64
    * bytes/row (ReadSchema prunes the float embedding) + TakeOrdered.
    * Codes are bit-exact vs the oracle (IEEE ops in textually
    * identical order); only the ADC sum's addition ORDER differs
    * cross-engine (q85's accepted shortlist-boundary risk — final
    * distances are exact re-ranks). */
  /** SQ8 index build pass: per-dim [min,max] train (64-row aggregate)
    * + one-byte-per-dim encode. Returns the codes frame and the
    * driver-sized dequant constants (mn[j], scale[j]) — together the
    * staged artifact queries run against. */
  def sq8Index(s: SparkSession, dir: String): (DataFrame, Seq[Double], Seq[Double]) = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))

    // train: per-dim range over the index (64-row output)
    val dims = sqDims(e)
    val mm = dims.groupBy(col("j"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))

    // encode: one byte per (vector, dim), assembled in dim order
    val codes = dims.join(broadcast(mm), Seq("j"))
      .select(col("vec_id"), col("j"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(floor(((col("x") - col("mn")) / (col("mx") - col("mn"))) * 255))
          .cast("long").as("code"))
      .groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(j, code))), x -> x.code)")
        .as("codes"))

    // driver-sized dequant constants: mn[j], scale[j]=(mx-mn)/255
    val mmRows = mm.orderBy(col("j")).collect()
    val mnArr = mmRows.map(_.getDouble(1)).toSeq
    val scArr = mmRows.map(r => (r.getDouble(2) - r.getDouble(1)) / 255).toSeq
    (codes, mnArr, scArr)
  }

  /** SQ8 query pass over a (possibly prebuilt) codes frame: ADC fold
    * against the literal dequant grid, TakeOrdered shortlist, exact
    * re-rank of the shortlist only. */
  def sq8Probe(s: SparkSession, dir: String, codes: DataFrame,
      mnArr: Seq[Double], scArr: Seq[Double]): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val qArr = sqDims(e.filter(col("vec_id") === 0)).orderBy(col("j"))
      .collect().map(_.getDouble(2)).toSeq

    // ADC: narrow fold over codes against the literal dequant grid
    val adc = aggregate(expr(s"sequence(0, ${SqDim - 1})"), lit(0.0),
      (acc, j) => {
        val idx = (j + 1).cast("int")
        val dec = element_at(typedLit(mnArr), idx) +
          element_at(col("codes"), idx) * element_at(typedLit(scArr), idx)
        val d = element_at(typedLit(qArr), idx) - dec
        acc + d * d
      })

    val shortlist = codes
      .withColumn("approx_dist", adc)
      .filter(col("vec_id") =!= 0)
      .orderBy(col("approx_dist"), col("vec_id"))
      .limit(SqShortlist)
      .select(col("vec_id"))

    // exact re-rank of the shortlist only
    val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    shortlist.join(e, "vec_id")
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        round(expr("l2_sq_f(embedding, qv)"), 6).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(10)
  }

  val q117AnnSq8: QueryDef = QueryDef(
    "q117_ann_sq8",
    (s, dir) => {
      val (codes, mnArr, scArr) = sq8Index(s, dir)
      sq8Probe(s, dir, codes, mnArr, scArr)
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      js AS (SELECT unnest(range(0, $SqDim)) AS j),
      dims AS (SELECT e.vec_id, js.j, v[js.j + 1] AS x FROM e, js),
      mm AS (SELECT j, min(x) AS mn, max(x) AS mx FROM dims GROUP BY j),
      codes AS (SELECT d.vec_id, d.j,
          CASE WHEN mm.mx = mm.mn THEN 0
               ELSE CAST(floor(((d.x - mm.mn) / (mm.mx - mm.mn)) * 255) AS BIGINT)
          END AS code
        FROM dims d JOIN mm USING (j)),
      q AS (SELECT j, x AS qx FROM dims WHERE vec_id = 0),
      terms AS (SELECT c.vec_id,
          (q.qx - (mm.mn + c.code * ((mm.mx - mm.mn) / 255))) *
          (q.qx - (mm.mn + c.code * ((mm.mx - mm.mn) / 255))) AS t
        FROM codes c JOIN mm USING (j) JOIN q USING (j)),
      scored AS (SELECT vec_id, sum(t) AS approx_dist FROM terms
        WHERE vec_id <> 0 GROUP BY vec_id),
      shortlist AS (SELECT vec_id FROM scored
        ORDER BY approx_dist, vec_id LIMIT $SqShortlist),
      qfull AS (SELECT v AS qv FROM e WHERE vec_id = 0)
      SELECT s.vec_id,
        round(list_sum(list_transform(list_zip(e.v, qfull.qv),
          x -> (x[1]-x[2])*(x[1]-x[2]))), 6) AS dist
      FROM shortlist s JOIN e ON s.vec_id = e.vec_id, qfull
      ORDER BY dist, s.vec_id LIMIT 10"""),
    headline = true)

  // ---------------------------------------------------------------
  // q130: k-NN graph construction (exact baseline + IVF-blocked build)
  // ---------------------------------------------------------------

  private[operators] val GraphK = 5  // neighbors kept per vector

  /** The exact-graph oracle CTEs (e → all pairs → ranked) — shared
    * with q132's clustering oracle in MixOps so the graph both
    * queries stand on is one text. */
  private[operators] val knnSqlCtes =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |      p AS (SELECT a.vec_id, b.vec_id AS nbr_id,
       |          round(list_sum(list_transform(list_zip(a.v, b.v), x -> x[1]*x[2])), 6) AS cos
       |        FROM e a, e b WHERE a.vec_id <> b.vec_id),
       |      r AS (SELECT vec_id, nbr_id, cos,
       |          row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr_id) AS rk
       |        FROM p)""".stripMargin

  /** Exact k-NN graph: every vector's GraphK nearest neighbors by
    * cosine, with deterministic ranks (cosine rounded BEFORE ranking,
    * nbr_id tiebreak — both engines rank identical inputs). The graph
    * is the substrate of graph-based curation: NN-Descent refinement,
    * graph near-dup clustering, and SemDeDup-style pruning all start
    * from it.
    *
    * Scale: this exact form is quadratic BY DEFINITION — it exists as
    * the calibration baseline and the oracle target, same role as
    * q30's brute top-k. The production build is [[knnGraphIvf]],
    * whose candidate fan-out is N·nprobe/C instead of N². */
  def knnGraphExact(e: DataFrame, k: Int): DataFrame = {
    val nbrs = e.select(col("vec_id").as("nbr_id"), col("embedding").as("nvec"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    e.crossJoin(broadcast(nbrs))
      .filter(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
        round(expr("dot_product_f(embedding, nvec)"), 6).as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("rk"), col("nbr_id"), col("cos"))
  }

  /** IVF-blocked k-NN graph: each vector scores only the members of
    * its nprobe nearest cells — the equi-join on cell replaces the
    * exact build's cross product, cutting candidates from N² to
    * N·nprobe/C while the probe rank reuses the assignment's
    * broadcast-C shape. At nprobe = C the candidate set is total, so
    * the build is EXACTLY [[knnGraphExact]] (AnnOpsSpec proves it);
    * dialing nprobe down trades recall for fan-out, monotonically
    * (probe sets are nested). This is the standard first pass of a
    * billion-scale graph build (FAISS IVF bucketing; NN-Descent then
    * refines edges without ever going quadratic). */
  def knnGraphIvf(e: DataFrame, centroids: DataFrame, nprobe: Int,
      k: Int): DataFrame = {
    val assigned = assignCells(e, centroids)
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist"), col("cid"))
    val probes = e.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("cid"),
        expr("l2_sq_f(embedding, cv)").as("dist"))
      .withColumn("prk", row_number().over(wProbe))
      .filter(col("prk") <= nprobe)
      .select(col("vec_id"), col("embedding"), col("cid").as("cell"))
    val wTop = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    probes.join(
        assigned.select(col("vec_id").as("nbr_id"),
          col("embedding").as("nvec"), col("cell")),
        Seq("cell"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
        round(expr("dot_product_f(embedding, nvec)"), 6).as("cos"))
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("rk"), col("nbr_id"), col("cos"))
  }

  // ---------------------------------------------------------------
  // Two-level (hierarchical) IVF: the assignment-wall fix
  // ---------------------------------------------------------------

  /** Deterministic coarse pick: the ⌈√C⌉ fine centroids with the
    * smallest sha2(cid) (cid tiebreak), collected driver-side
    * (bounded: the centroid table is broadcast-sized by design, and
    * this is its square root). Hash order, not cid order, for the
    * same reason as [[prodSizing]]: the smallest cids of an
    * id-ordered corpus are source-clustered, which would re-introduce
    * at the coarse level exactly the skew the fine pick just
    * removed. */
  private[graft] def coarsePick(centroids: DataFrame, cc: Int): Array[(Long, Array[Float])] =
    centroids.orderBy(sha2(col("cid").cast("string"), 256), col("cid"))
      .limit(cc).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  /** Per-row nearest-`n` coarse groups over a LITERAL coarse-centroid
    * array — a pure map (transform + array_sort + slice over ≤ ~64
    * structs), no per-row window, no exchange. The (gd, gid) struct
    * sort reproduces the (min dist, min id) tiebreak used everywhere
    * else in this file. */
  private def nearestGroups(vecCol: String, n: Int): Column =
    expr(
      s"""slice(array_sort(transform(__coarse, c ->
         |  struct(l2_sq_f($vecCol, c._2) AS gd, c._1 AS gid))), 1, $n)""".stripMargin)

  /** The two-level candidate frame: each vector × every FINE centroid
    * inside its `gProbe` nearest coarse groups, with the fine distance
    * attached. Per-vector work is Cc + gProbe·C/Cc ≈ O(√C) instead of
    * the flat C — the published fix (FAISS coarse-quantizer guidance)
    * for the assignment wall SCALE.md's x100 decade measured: with
    * C ∝ N the flat [[assignCells]] cross product is N·C = N², while
    * this is N·O(√C). Both stages stay narrow: the coarse probe is a
    * literal-array map, the fine fan-out an explode + broadcast join. */
  private def twoLevelCandidates(e: DataFrame, centroids: DataFrame,
      coarse: Array[(Long, Array[Float])], gProbe: Int): DataFrame = {
    val coarseLit = typedlit(coarse.toSeq.map { case (g, v) => (g, v.toSeq) })
    val g = math.min(gProbe, coarse.length)
    // fine centroid → its ONE nearest coarse group (C rows, narrow)
    val grouped = centroids.withColumn("__coarse", coarseLit)
      .withColumn("g", element_at(nearestGroups("cv", 1), 1))
      .select(col("g.gid").as("gid"), col("cid"), col("cv"))
    e.withColumn("__coarse", coarseLit)
      .select(col("vec_id"), col("embedding"),
        explode(nearestGroups("embedding", g)("gid")).as("gid"))
      .join(broadcast(grouped), Seq("gid"))
      .select(col("vec_id"), col("embedding"), col("cid"),
        expr("l2_sq_f(embedding, cv)").as("dist"))
  }

  /** Two-level cell assignment: argmin over [[twoLevelCandidates]].
    * APPROXIMATE when gProbe < Cc (a vector's true nearest fine cell
    * can live in an unprobed group — the standard IVF trade);
    * EXACTLY [[assignCells]] when gProbe = Cc (every group probed ⇒
    * every fine centroid scored ⇒ identical argmin; AnnOpsSpec proves
    * the equality row-for-row). The argmin is the same partial-
    * aggregatable min(struct) as the flat path, so the only shuffle
    * is N pre-collapsed rows. */
  private[graft] def assignCellsTwoLevel(e: DataFrame, centroids: DataFrame,
      coarse: Array[(Long, Array[Float])], gProbe: Int): DataFrame =
    twoLevelCandidates(e, centroids, coarse, gProbe)
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cid"), col("embedding"))).as("m"))
      .select(col("vec_id"), col("m.embedding").as("embedding"),
        col("m.cid").as("cell"))

  /** Two-level IVF-blocked k-NN graph — [[knnGraphIvf]] with BOTH
    * N×C stages replaced by the hierarchical form:
    *  - member assignment via [[assignCellsTwoLevel]];
    *  - the per-vector nprobe cell choice via a map-side
    *    collect_list + array_sort over the ~gProbe·C/Cc two-level
    *    candidates (deterministic: the sort key is (dist, cid)),
    *    instead of the flat build's row_number window that SORTS an
    *    N×C exchange.
    * At gProbe = Cc this build is row-identical to [[knnGraphIvf]]
    * (nested: candidates are total), and at nprobe = C additionally
    * to [[knnGraphExact]] — AnnOpsSpec asserts both. With the
    * published sizing C ∝ √N, per-vector cost is O(√N) at every
    * stage and the x100 assignment wall (measured exponent 1.13 on
    * the flat build, SCALE.md Round 13) drops out. */
  def knnGraphIvfTwoLevel(e: DataFrame, centroids: DataFrame,
      coarse: Array[(Long, Array[Float])], gProbe: Int, nprobe: Int,
      k: Int): DataFrame = {
    val wTop = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    twoLevelEdgeCandidates(e, centroids, coarse, gProbe, nprobe)
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("rk"), col("nbr_id"), col("cos"))
  }

  /** The pre-top-k scored edge frame of the two-level build: one row
    * per (vector, member of a probed cell). Its ROW COUNT is the
    * build's dominant cost at scale — Σ_v Σ_{probed cells} |cell|,
    * the member-join fan-out the centroid pick's cell BALANCE
    * controls — exposed private[graft] so AnnOpsSpec can price two
    * picks at a matched candidate budget instead of comparing recall
    * at unequal work. */
  private[graft] def twoLevelEdgeCandidates(e: DataFrame,
      centroids: DataFrame, coarse: Array[(Long, Array[Float])],
      gProbe: Int, nprobe: Int): DataFrame = {
    val cand = twoLevelCandidates(e, centroids, coarse, gProbe)
    val probes = cand
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("embedding"),
        slice(array_sort(collect_list(struct(col("dist"), col("cid")))),
          1, nprobe).as("pc"))
      .select(col("vec_id"), col("embedding"),
        explode(col("pc.cid")).as("cell"))
    val assigned = assignCellsTwoLevel(e, centroids, coarse, gProbe)
    probes.join(
        assigned.select(col("vec_id").as("nbr_id"),
          col("embedding").as("nvec"), col("cell")),
        Seq("cell"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
        round(expr("dot_product_f(embedding, nvec)"), 6).as("cos"))
  }

  /** Cell-count threshold for [[knnGraphAuto]]: at or below it the
    * flat build's N×C assignment is one broadcast + narrow scan per
    * vector — cheaper than standing up a coarse level; past it the
    * assignment IS the measured x100 wall (SCALE.md Round 13: flat
    * exponent 1.13 vs two-level 0.77) and the hierarchical form wins.
    * ~10³ cells ⇔ ~10⁶+ vectors under the C ∝ 4√N sizing. */
  private[operators] val FlatCells = 1024L

  /** Production kNN-graph entry point — the gate-driven strategy pick
    * the r12/r13 scale decades argued for, as engine behavior instead
    * of harness advice: [[knnGraphIvf]] while the centroid table is
    * small, [[knnGraphIvfTwoLevel]] (gProbe 4, the measured operating
    * point) past [[FlatCells]]. Both arms share the probe-nesting
    * guarantees, so recall characteristics move continuously across
    * the threshold (AnnOpsSpec pins the flip and the full-probe
    * equality on both sides). */
  def knnGraphAuto(e: DataFrame, centroids: DataFrame, nprobe: Int,
      k: Int): DataFrame = {
    val c = centroids.count()
    if (c <= FlatCells) knnGraphIvf(e, centroids, nprobe, k)
    else {
      val cc = math.max(4, math.ceil(math.sqrt(c.toDouble)).toInt)
      knnGraphIvfTwoLevel(e, centroids, coarsePick(centroids, cc),
        gProbe = 4, nprobe = nprobe, k = k)
    }
  }

  /** The production build's deterministic sizing from the corpus
    * count: C = max(16, ⌊4√N⌋) fine cells (the published FAISS
    * guidance), Cc = max(4, ⌈√C⌉) coarse groups — every stage's
    * per-vector work O(√N). Shared by q130 (full probes) and q243
    * (production probes) so the two registered paths differ ONLY in
    * probe width.
    *
    * Centroid pick: the C vectors with the SMALLEST sha2(vec_id)
    * (vec_id tiebreak) — the q156 bottom-k-by-hash sampler's
    * discipline. The previous first-C-by-id pick was deterministic
    * but BIASED: on any corpus where id order correlates with source
    * (every real ingest appends), the first C ids all come from the
    * first source(s) and every OTHER source collapses into a handful
    * of source-sized cells. The replay oracle stays green (it replays
    * the same biased pick) while the member-join fan-out — the
    * build's dominant cost, Σ probed-cell sizes — explodes with the
    * skewed cells, and at a MATCHED candidate budget recall loses to
    * the balanced layout (AnnOpsSpec's source-clustered fixture
    * measures both: ~9× max-cell skew, and at equal-or-less scan
    * volume the hash pick recalls 0.92 where first-C gets 0.75).
    * Hash order is a uniform permutation of ids, so the pick is an
    * unbiased sample yet still a pure function of the corpus (re-runs
    * and the DuckDB oracle select the same rows). The orderBy+limit
    * plans as TakeOrdered (per-partition bottom-C, then one C-sized
    * merge — no full sort shuffle). */
  private[graft] def prodSizing(e: DataFrame): (DataFrame, Int) = {
    val n = e.count()
    val c = math.max(16L, (4.0 * math.sqrt(n.toDouble)).toLong)
    val centroids = e
      .orderBy(sha2(col("vec_id").cast("string"), 256), col("vec_id"))
      .limit(c.toInt)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    (centroids, math.max(4, math.ceil(math.sqrt(c.toDouble)).toInt))
  }

  /** Cost-balanced two-level sizing (SCALE.md Round 16). The 4√N
    * guideline's per-vector work is Cc + g·C/Cc + n·N/C; its probe-
    * scan term n·N/C is O(√N) and asymptotically dominates (68% of
    * per-vector ops at the measured x100). Minimizing the sum over
    * (C, Cc) balances the three terms at C = ⌈(2N)^⅔⌉, Cc = ⌈2√C⌉ —
    * per-vector O(N^⅓), build total N^{4/3}, the optimum for EXACT
    * probe-side scans (below it lives PQ compression, q100's rung).
    * Same bottom-C-by-hash pick and two-level plumbing as
    * [[prodSizing]], so the nesting property (full probes ⇒ exact
    * graph) carries over — spec-checked. Used by ScaleBench's
    * `knn_graph_bal` series to measure the sizing delta alone. */
  private[graft] def balancedSizing(e: DataFrame): (DataFrame, Int) = {
    val n = e.count()
    val c = math.max(16L,
      math.ceil(math.pow(2.0 * n.toDouble, 2.0 / 3.0)).toLong)
    val centroids = e
      .orderBy(sha2(col("vec_id").cast("string"), 256), col("vec_id"))
      .limit(c.toInt)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    (centroids, math.max(4, math.ceil(2.0 * math.sqrt(c.toDouble)).toInt))
  }

  private val ProdGProbe = 4
  private val ProdNProbe = 4

  /** q243: the production two-level kNN graph AS a registered,
    * oracle-checked query — gProbe/nprobe at the measured operating
    * point (4/4), C = 4√N, Cc = ⌈√C⌉. Unlike q130 (the exact graph,
    * whose oracle brute-forces all pairs), this build is APPROXIMATE
    * by design, so its DuckDB oracle REPLAYS the algorithm —
    * coarse pick, fine-to-group attachment, per-vector group probe,
    * candidate argmin assignment, nprobe cell pick, member scoring,
    * top-k — with every tiebreak pinned ((dist, id) ascending,
    * (cos desc, nbr_id)), the q56/q100 replay-oracle discipline.
    *
    * Scale: per-vector work is O(√N) at every stage (the flat build's
    * N×C assignment is the measured x100 wall this form drops 45%);
    * the only N-sized shuffles are the pre-collapsed argmin and the
    * cell-keyed member join. */
  val q243KnnGraphProd: QueryDef = QueryDef(
    "q243_knn_graph_prod",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val (centroids, cc) = prodSizing(e)
      knnGraphIvfTwoLevel(e, centroids, coarsePick(centroids, cc),
        gProbe = ProdGProbe, nprobe = ProdNProbe, k = GraphK)
        .orderBy(col("vec_id"), col("rk"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      sz AS (SELECT greatest(16, CAST(floor(4 * sqrt(count(*))) AS BIGINT)) AS c FROM e),
      cent AS (SELECT vec_id AS cid, v AS cv FROM (
          SELECT vec_id, v, row_number() OVER (
            ORDER BY sha256(CAST(vec_id AS VARCHAR)), vec_id) AS r
          FROM e), sz WHERE r <= sz.c),
      ccn AS (SELECT greatest(4, CAST(ceil(sqrt(c)) AS BIGINT)) AS cc FROM sz),
      coarse AS (SELECT gid, gv FROM (
          SELECT cid AS gid, cv AS gv, row_number() OVER (
            ORDER BY sha256(CAST(cid AS VARCHAR)), cid) AS r
          FROM cent), ccn WHERE r <= cc),
      grouped AS (SELECT gid, cid, cv FROM (
          SELECT g.gid, c.cid, c.cv, row_number() OVER (PARTITION BY c.cid
            ORDER BY list_sum(list_transform(list_zip(c.cv, g.gv),
              x -> (x[1]-x[2])*(x[1]-x[2]))), g.gid) AS rk
          FROM cent c, coarse g) t WHERE rk = 1),
      pg AS (SELECT vec_id, gid FROM (
          SELECT e.vec_id, g.gid, row_number() OVER (PARTITION BY e.vec_id
            ORDER BY list_sum(list_transform(list_zip(e.v, g.gv),
              x -> (x[1]-x[2])*(x[1]-x[2]))), g.gid) AS rk
          FROM e, coarse g) t WHERE rk <= $ProdGProbe),
      cand AS (SELECT e.vec_id, e.v, f.cid,
          list_sum(list_transform(list_zip(e.v, f.cv),
            x -> (x[1]-x[2])*(x[1]-x[2]))) AS dist
        FROM e JOIN pg USING (vec_id) JOIN grouped f USING (gid)),
      assigned AS (SELECT vec_id, v, cid AS cell FROM (
          SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id
            ORDER BY dist, cid) AS rk FROM cand) t WHERE rk = 1),
      probes AS (SELECT vec_id, cid AS cell FROM (
          SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
            ORDER BY dist, cid) AS rk FROM cand) t WHERE rk <= $ProdNProbe),
      edges AS (SELECT p.vec_id, a.vec_id AS nbr_id,
          round(list_sum(list_transform(list_zip(pe.v, a.v),
            x -> x[1]*x[2])), 6) AS cos
        FROM probes p JOIN e pe ON pe.vec_id = p.vec_id
        JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.vec_id),
      ranked AS (SELECT vec_id, nbr_id, cos, row_number() OVER (
          PARTITION BY vec_id ORDER BY cos DESC, nbr_id) AS rk FROM edges)
      SELECT vec_id, CAST(rk AS BIGINT) AS rk, nbr_id, cos
      FROM ranked WHERE rk <= $GraphK ORDER BY vec_id, rk"""))

  // ---------------------------------------------------------------
  // q160: PageRank centrality over the kNN graph
  // ---------------------------------------------------------------

  /** Fixed-iteration PageRank power iteration over a directed edge
    * frame in which every node has exactly `outDeg` out-edges (the
    * kNN graph's invariant, so no dangling-mass handling is needed).
    * Each round is one src-keyed join + one dst-keyed aggregate with
    * the rank table materialized ([[graft.Staging]]) to keep lineage
    * flat — the [[graft.operators.DedupOps.minLabelComponents]]
    * iteration discipline. State per round is one (id, pr) row per
    * NODE; the corpus/edge table is streamed, never collected. */
  /** One un-materialized power-iteration round — separated so the
    * plan auditor can assert the round's shuffle shape (the loop
    * materializes each round, which hides it from the final plan). */
  private[graft] def pageRankRound(nodes: DataFrame, edges: DataFrame,
      pr: DataFrame, outDeg: Int, damp: Double, n: Double): DataFrame = {
    val contrib = edges.join(pr.withColumnRenamed("id", "src"), "src")
      .groupBy(col("dst").as("id"))
      .agg(sum(col("pr") / outDeg).as("inflow"))
    nodes.join(contrib, Seq("id"), "left_outer")
      .select(col("id"),
        (lit((1 - damp) / n) + lit(damp) * coalesce(col("inflow"), lit(0.0)))
          .as("pr"))
  }

  def pageRank(nodes: DataFrame, edges: DataFrame, outDeg: Int,
      iters: Int, damp: Double): DataFrame = {
    val n = nodes.count().toDouble
    var pr = nodes.withColumn("pr", lit(1.0 / n))
    (1 to iters).foreach { t =>
      pr = Staging.materialize(
        pageRankRound(nodes, edges, pr, outDeg, damp, n),
        s"pagerank$t")
    }
    pr
  }

  /** PageRank centrality over q130's exact kNN graph — the
    * graph-centrality data-selection pass: a document whose neighbors
    * (and their neighbors) all point back at it is a REPRESENTATIVE
    * of its region, the signal centrality-based pruning keeps and
    * diversity-first pruning drops. 5 damped power iterations at
    * d = 0.85; the oracle replays the identical iteration as chained
    * CTEs, so the distributed loop is pinned round-for-round.
    *
    * Scale: per round, the edge table joins the node-sized rank table
    * on src and aggregates on dst — both edges-keyed shuffles of
    * (id, double) rows; the graph build itself is q130's (IVF-blocked
    * in production). Convergence at 100 TB is the usual ~10 rounds of
    * a sparse k-out graph; state never exceeds one row per node. */
  val q160Pagerank: QueryDef = {
    val damp = 0.85
    val iters = 5
    val iterCtes = (1 to iters).map { t =>
      s"""p$t AS (SELECT nd.id, (1 - $damp) / nn2.n + $damp * coalesce(c.s, 0) AS pr
         |        FROM nd CROSS JOIN nn2 LEFT JOIN (
         |          SELECT ed.dst AS id, sum(p${t - 1}.pr / $GraphK.0) AS s
         |          FROM ed JOIN p${t - 1} ON p${t - 1}.id = ed.src GROUP BY ed.dst) c
         |        ON c.id = nd.id)""".stripMargin
    }.mkString(",\n      ")
    QueryDef(
      "q160_pagerank",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val edges = Staging.materialize(
          knnGraphExact(e, GraphK)
            .select(col("vec_id").as("src"), col("nbr_id").as("dst")),
          "knn_edges")
        val nodes = e.select(col("vec_id").as("id"))
        pageRank(nodes, edges, GraphK, iters, damp)
          .select(col("id").as("vec_id"),
            (round(col("pr"), 6) + lit(0.0)).as("pagerank"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH $knnSqlCtes,
        ed AS (SELECT vec_id AS src, nbr_id AS dst FROM r WHERE rk <= $GraphK),
        nd AS (SELECT vec_id AS id FROM e),
        nn2 AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nd),
        p0 AS (SELECT nd.id, 1.0 / nn2.n AS pr FROM nd CROSS JOIN nn2),
        $iterCtes
        SELECT id AS vec_id, round(pr, 6) + 0.0 AS pagerank
        FROM p$iters ORDER BY vec_id"""))
  }

  val q130KnnGraph: QueryDef = QueryDef(
    "q130_knn_graph",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      // the EXACT graph through the production two-level plumbing:
      // full probes (gProbe = Cc, nprobe = C) nest to knnGraphExact
      // (AnnOpsSpec proves the equality row-for-row), so the exact
      // brute-force oracle below now gates the production code path,
      // not a separate baseline. knnGraphExact remains the in-code
      // calibration reference the spec compares against.
      val (centroids, cc) = prodSizing(e)
      val c = centroids.count().toInt
      knnGraphIvfTwoLevel(e, centroids, coarsePick(centroids, cc),
        gProbe = cc, nprobe = c, k = GraphK)
        .orderBy(col("vec_id"), col("rk"))
    },
    Some(s"""WITH $knnSqlCtes
      SELECT vec_id, rk, nbr_id, cos FROM r WHERE rk <= $GraphK
      ORDER BY vec_id, rk"""))

  // ---------------------------------------------------------------
  // q155: Johnson-Lindenstrauss sign projection + exact re-rank
  // ---------------------------------------------------------------

  private val JlDim = 16      // projected dimensionality (64 → 16)
  private val JlShortlist = 20

  /** Deterministic ±1 projection entry for (row i, col j), 1-based:
    * the parity of the first hex char of sha-256("i:j") — a fixed
    * sign-random-projection matrix both engines can hold as a LITERAL,
    * so the oracle replays the identical projection. (Achlioptas 2003
    * proves ±1 entries satisfy the JL lemma; the matrix is data-free,
    * so at 100 TB it ships as 4 KiB of literals inside the plan.) */
  private[operators] def jlSign(i: Int, j: Int): Int = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$i:$j".getBytes("UTF-8"))
    if ((d(0) & 0x10) == 0) 1 else -1
  }

  private def jlMatrix(d: Int, dp: Int): IndexedSeq[IndexedSeq[Int]] =
    (1 to d).map(i => (1 to dp).map(j => jlSign(i, j)))

  /** JL-projected ANN: project every vector (and the query) through
    * the fixed ±1 matrix down to [[JlDim]] dims, shortlist
    * [[JlShortlist]] candidates by projected dot product, then exact
    * re-rank the shortlist at full dimensionality — the
    * dimensionality-reduction scale path the ANN tier was missing
    * (the others prune rows; JL shrinks the bytes per comparison,
    * 4× here, and composes with any of them).
    *
    * Scale: the projection is a narrow codegen'd HOF fold per vector
    * (no shuffle, no training pass — the matrix is literal); the
    * shortlist is TakeOrdered over projected scores; the exact pass
    * touches only [[JlShortlist]] rows. At 100 TB the projected
    * vectors are what gets stored/scanned — a 4× I/O cut before any
    * IVF/PQ layering. */
  /** Spark-side projection of `vcol` through the literal ±1 matrix:
    * strictly in-order fold per output dim (identical operand order to
    * the oracle's rendering, so the floats agree bit-for-bit). */
  private def jlProjSpark(vcol: String): String = {
    val sparkR = jlMatrix(64, JlDim).map(r => s"array(${r.mkString(",")})")
      .mkString("array(", ",", ")")
    s"""transform(sequence(1, $JlDim), j ->
       |  aggregate(sequence(1, 64), 0D,
       |    (acc, i) -> acc + element_at($vcol, i) * element_at(element_at($sparkR, i), j)))""".stripMargin
  }

  /** Shortlist-by-projection + exact re-rank: the q155 plan with the
    * shortlist size exposed — AnnOpsSpec proves shortlist = N returns
    * EXACTLY the brute-force top-k (projection can reorder only the
    * shortlist cut, never the exact re-rank). */
  private[operators] def jlTopK(e: DataFrame, shortlist: Int, k: Int): DataFrame = {
    val pe = e.select(col("vec_id"), col("embedding"),
      expr(jlProjSpark("embedding")).as("pv"))
    val pq = pe.filter(col("vec_id") === 0)
      .select(col("pv").as("pq"), col("embedding").as("qv"))
    pe.crossJoin(broadcast(pq))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"), col("qv"),
        round(expr("aggregate(zip_with(pv, pq, (a, b) -> a * b), 0D, (acc, x) -> acc + x)"), 6)
          .as("proj_score"))
      .orderBy(col("proj_score").desc, col("vec_id"))
      .limit(shortlist)
      .select(col("vec_id"), col("proj_score"),
        round(expr("dot_product_f(embedding, qv)"), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  val q155AnnJl: QueryDef = {
    val duckR = jlMatrix(64, JlDim).map(r => r.mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    def projDuck(vcol: String): String =
      s"""list_transform(range(1, ${JlDim + 1}), j ->
         |  list_sum(list_transform(range(1, 65), i -> $vcol[i] * ($duckR)[i][j])))""".stripMargin
    QueryDef(
      "q155_ann_jl",
      (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        jlTopK(e, JlShortlist, 5)
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        p AS (SELECT vec_id, v, ${projDuck("v")} AS pv FROM e),
        q AS (SELECT pv AS pq, v AS qv FROM p WHERE vec_id = 0),
        short AS (SELECT vec_id, v, qv,
            round(list_sum(list_transform(list_zip(pv, pq), x -> x[1]*x[2])), 6) AS proj_score
          FROM p, q WHERE vec_id <> 0
          ORDER BY proj_score DESC, vec_id LIMIT $JlShortlist)
        SELECT vec_id, proj_score,
          round(list_sum(list_transform(list_zip(v, qv), x -> x[1]*x[2])), 6) AS score
        FROM short ORDER BY score DESC, vec_id LIMIT 5"""))
  }

  // ---------------------------------------------------------------
  // q179: ANN recall audit (IVF vs exact, multi-query)
  // ---------------------------------------------------------------

  /** Recall@10 of the IVF index against exact brute force over a
    * 5-query batch — the measurement every production vector system
    * runs before trusting an index (FAISS's own benchmark protocol:
    * fix a query set, compare the ANN shortlist to the exact top-k).
    * Both legs rank on the ROUNDED dot product, so rank decisions are
    * bit-identical cross-engine and per-query ties break on vec_id.
    *
    * Reading the number: recall < 1 here is not a bug — it is the
    * nprobe/C operating point (4/16) made visible; the audit is what
    * justifies (or bumps) nprobe before a corpus-scale deployment.
    *
    * Scale: the exact leg is the audit's deliberate cost — ONE corpus
    * scan scoring all |Q| queries per row (queries broadcast, scores
    * shuffled only for the per-query rank window over (qid, id,
    * score) rows); the IVF leg reads nprobe/C of the corpus per query
    * by cell pruning. |Q| is a constant; nothing is corpus × corpus. */
  val q179AnnRecall: QueryDef = QueryDef(
    "q179_ann_recall",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val centroids = e.filter(col("vec_id") < C)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"))
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val exact = e.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(expr("dot_product_f(embedding, qv)"), 6).as("score"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("vec_id"))))
        .filter(col("rn") <= 10).select(col("qid"), col("vec_id"))
      val assigned = assignCells(e, centroids)
      val probed = centroids.crossJoin(broadcast(queries))
        .select(col("qid"), col("cid").as("cell"),
          expr("l2_sq_f(cv, qv)").as("qd"))
        .withColumn("prk", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("qd"), col("cell"))))
        .filter(col("prk") <= NProbe).select(col("qid"), col("cell"))
      val approx = assigned.join(broadcast(probed), Seq("cell"))
        .join(broadcast(queries), Seq("qid"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(expr("dot_product_f(embedding, qv)"), 6).as("score"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("vec_id"))))
        .filter(col("rn") <= 10).select(col("qid"), col("vec_id"))
      val hits = exact.join(approx, Seq("qid", "vec_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
      queries.select(col("qid"))
        .join(hits, Seq("qid"), "left_outer")
        .select(col("qid"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("recall",
          round(col("n_hit").cast("double") / 10.0, 4))
        .orderBy(col("qid"))
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $C),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      sc AS (SELECT q.qid, e.vec_id,
          round(list_sum(list_transform(list_zip(e.v, q.qv), x -> x[1]*x[2])), 6) AS score
        FROM e, q WHERE e.vec_id <> q.qid),
      exact AS (SELECT qid, vec_id FROM (
          SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
            ORDER BY score DESC, vec_id) AS rn FROM sc) x WHERE rn <= 10),
      assigned AS (SELECT vec_id, v, cid AS cell FROM (
          SELECT e.vec_id, e.v, c.cid,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY
              list_sum(list_transform(list_zip(e.v, c.cv), x -> (x[1]-x[2])*(x[1]-x[2]))), c.cid) AS rk
          FROM e, cent c) a WHERE rk = 1),
      probed AS (SELECT qid, cid AS cell FROM (
          SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid ORDER BY
            list_sum(list_transform(list_zip(c.cv, q.qv), x -> (x[1]-x[2])*(x[1]-x[2]))), c.cid) AS prk
          FROM cent c, q) p WHERE prk <= $NProbe),
      approx AS (SELECT qid, vec_id FROM (
          SELECT p.qid, a.vec_id, row_number() OVER (PARTITION BY p.qid ORDER BY
            round(list_sum(list_transform(list_zip(a.v, q.qv), x -> x[1]*x[2])), 6) DESC,
            a.vec_id) AS rn
          FROM assigned a JOIN probed p USING (cell)
          JOIN q ON q.qid = p.qid
          WHERE a.vec_id <> p.qid) x WHERE rn <= 10),
      hits AS (SELECT e.qid, CAST(count(*) AS BIGINT) AS n_hit
        FROM exact e JOIN approx a ON e.qid = a.qid AND e.vec_id = a.vec_id
        GROUP BY 1)
      SELECT q.qid, coalesce(h.n_hit, 0) AS n_hit,
        round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 10.0, 4) AS recall
      FROM q LEFT JOIN hits h USING (qid) ORDER BY q.qid"""),
    headline = false)

  // ---------------------------------------------------------------
  // q197: NSW graph search (navigable small world, greedy beam)
  // ---------------------------------------------------------------

  // ---------------------------------------------------------------
  // shared machinery for the graph-ANN tier (q197 / q198 / q199)
  // ---------------------------------------------------------------

  private val NswLong = 2    // hash-deterministic long-range links per node
  private val NswEf = 24     // beam width
  private val NswRounds = 6  // fixed greedy-expansion rounds
  private val NswQ = 8       // audited query batch
  private val NswTopK = 5

  /** `linksPerNode` deterministic pseudo-random out-edges per node:
    * target position = content-hash bucket mod N over the 0-based
    * ranked id table. The 4-hex-digit bucket is < 65536, so
    * `bucket % n` equals the oracle's direct `% count(*)` for any
    * n <= 65536; at corpus scale widen the digest window and rank via
    * zipWithRank, not a global window — the windowed seam here is the
    * slim (vec_id, pos) table. Shared by q197's long links and q198's
    * init graph (`sep` keeps the two hash streams distinct); the
    * oracle mirror is [[hashLinksSql]]. */
  private def hashPositionLinks(e: DataFrame, linksPerNode: Int,
      sep: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = e.count()
    val ranked = e.select(col("vec_id"))
      .withColumn("pos", (row_number().over(
        Window.orderBy(col("vec_id"))) - 1).cast("long"))
    ranked.select(col("vec_id"))
      .select(col("vec_id"), explode(expr(s"sequence(1, $linksPerNode)")).as("l"))
      .withColumn("tpos", (expr(MixOps.bucketExpr(
        s"sha2(concat(cast(vec_id as string), '$sep', cast(l as string)), 256)",
        65536)) % n).cast("long"))
      .join(ranked.select(col("vec_id").as("nbr_id"), col("pos").as("tpos")),
        Seq("tpos"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"))
  }

  /** The audited query batch (vec_id < [[NswQ]]) with its vectors. */
  private def nswQueries(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < NswQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  private def wqWindow = org.apache.spark.sql.expressions.Window
    .partitionBy(col("qid")).orderBy(col("cos").desc, col("vid"))

  /** True-cosine re-rank of (qid, vid) candidates — the q130/q179
    * determinism convention (rounded 6 BEFORE ranks, vid ties; the
    * query itself is never a candidate). */
  private def scoreCandidates(cand: DataFrame, e: DataFrame,
      queries: DataFrame): DataFrame = cand
    .join(e.select(col("vec_id").as("vid"), col("embedding")), Seq("vid"))
    .join(broadcast(queries), Seq("qid"))
    .filter(col("vid") =!= col("qid"))
    .select(col("qid"), col("vid"),
      round(expr("dot_product_f(embedding, qv)"), 6).as("cos"))

  /** [[NswRounds]]-round greedy beam over `edges(evid, nbr_id)` from a
    * (qid, vid) seed — q197's search, reused verbatim by q199 at
    * layer 0 so a tie-break or width fix lands in both. */
  private def beamSearch(seed: DataFrame, edges: DataFrame, e: DataFrame,
      queries: DataFrame, tag: String): DataFrame = {
    var beam = seed
    (1 to NswRounds).foreach { r =>
      val cand = beam.select(col("qid"), col("vid"))
        .unionByName(beam.select(col("qid"), col("vid"))
          .join(edges, col("vid") === col("evid"))
          .select(col("qid"), col("nbr_id").as("vid")))
        .distinct()
      beam = Staging.materialize(
        scoreCandidates(cand, e, queries)
          .withColumn("rk", row_number().over(wqWindow).cast("long"))
          .filter(col("rk") <= NswEf)
          .select(col("qid"), col("vid"), col("cos")),
        s"${tag}_beam$r")
    }
    beam
  }

  /** q179-protocol audit tail: ranked top-[[NswTopK]] from the final
    * beam, the exact top-k leg, and the per-query rollup (found_ids,
    * best_cos, recall). Oracle mirror: [[beamAuditSql]]. */
  private def beamAudit(beam: DataFrame, e: DataFrame,
      queries: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val found = beam
      .withColumn("rk", row_number().over(wqWindow).cast("long"))
      .filter(col("rk") <= NswTopK)
    val exact = e.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(expr("dot_product_f(embedding, qv)"), 6).as("score"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("vec_id"))))
      .filter(col("rn") <= NswTopK)
      .select(col("qid"), col("vec_id").as("vid"))
    val hits = exact.join(found.select(col("qid"), col("vid")),
        Seq("qid", "vid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    found.groupBy(col("qid"))
      .agg(
        concat_ws(",", expr(
          "transform(array_sort(collect_list(struct(rk, vid))), x -> cast(x.vid as string))"))
          .as("found_ids"),
        max(col("cos")).as("best_cos"))
      .join(hits, Seq("qid"), "left_outer")
      .select(col("qid"), col("found_ids"), col("best_cos"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / NswTopK, 4)
          .as("recall"))
      .orderBy(col("qid"))
  }

  // oracle-side twins of the helpers above — every graph query's
  // oracle composes THESE, so the replayed convention cannot drift
  // between the three queries or from the Spark side's shape

  /** `ranked` + hash-position-links CTEs (assumes `e` exists). */
  private def hashLinksSql(cteName: String, linksPerNode: Int,
      sep: String): String = {
    val bucketSum = MixOps.bucketExpr(
      s"sha256(CAST(rr.vec_id AS VARCHAR) || '$sep' || CAST(t.l AS VARCHAR))", 65536)
    s"""ranked AS (SELECT vec_id,
          CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS pos FROM e),
      $cteName AS (SELECT rr.vec_id, r2.vec_id AS nbr_id
        FROM ranked rr, unnest(range(1, $linksPerNode + 1)) t(l)
        JOIN ranked r2 ON r2.pos = ($bucketSum) % (SELECT count(*) FROM e)
        WHERE r2.vec_id <> rr.vec_id)"""
  }

  /** candidate-to-query cosine fragment (rounded 6), beam-round form. */
  private val BeamCosSql =
    "round(list_sum(list_transform(list_zip(e2.v, q.qv), x -> x[1]*x[2])), 6)"

  /** [[NswRounds]] beam-round CTEs over `edgesName` seeded from
    * `seedName`; returns (cteText, finalBeamName). */
  private def beamRoundsSql(edgesName: String, seedName: String,
      prefix: String): (String, String) = {
    var prev = seedName
    val text = (1 to NswRounds).map { r =>
      val nm = s"$prefix$r"
      val t = s""",
      $nm AS MATERIALIZED (
        SELECT qid, vid, cos FROM (
          SELECT c.qid, c.vid, $BeamCosSql AS cos,
            row_number() OVER (PARTITION BY c.qid
              ORDER BY $BeamCosSql DESC, c.vid) AS rk
          FROM (
            SELECT DISTINCT qid, vid FROM (
              SELECT qid, vid FROM $prev
              UNION ALL
              SELECT b.qid, ed.nbr_id AS vid
              FROM $prev b JOIN $edgesName ed ON ed.vec_id = b.vid)) c
          JOIN e e2 ON e2.vec_id = c.vid JOIN q ON q.qid = c.qid
          WHERE c.vid <> c.qid) x
        WHERE rk <= $NswEf)"""
      prev = nm
      t
    }.mkString
    (text, prev)
  }

  /** found/exact/hits/rollup tail over the final beam CTE. */
  private def beamAuditSql(finalBeam: String): String =
    s"""found AS (
        SELECT qid, vid, cos,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk
        FROM $finalBeam QUALIFY rk <= $NswTopK),
      exact AS (
        SELECT qid, vec_id AS vid FROM (
          SELECT q.qid, e.vec_id,
            row_number() OVER (PARTITION BY q.qid
              ORDER BY round(list_sum(list_transform(list_zip(e.v, q.qv), x -> x[1]*x[2])), 6) DESC, e.vec_id) AS rn
          FROM e, q WHERE e.vec_id <> q.qid) x WHERE rn <= $NswTopK),
      hits AS (SELECT f.qid, CAST(count(*) AS BIGINT) AS n_hit
        FROM exact x JOIN found f ON f.qid = x.qid AND f.vid = x.vid
        GROUP BY 1)
      SELECT f.qid,
        string_agg(CAST(f.vid AS VARCHAR), ',' ORDER BY f.rk) AS found_ids,
        max(f.cos) AS best_cos,
        round(CAST(coalesce(any_value(h.n_hit), 0) AS DOUBLE) / $NswTopK, 4) AS recall
      FROM found f LEFT JOIN hits h ON h.qid = f.qid
      GROUP BY f.qid ORDER BY f.qid"""

  /** Navigable-small-world graph search (Malkov et al. 2014, the NSW
    * layer HNSW stacks) — the GRAPH-based member of the ANN family,
    * completing it next to the quantization members (IVF/PQ/SQ8/JL):
    * no training pass, no cells, just a bounded-out-degree neighbor
    * graph walked greedily from an entry point.
    *
    * Graph: q130's exact kNN edges ([[knnGraphExact]], out-degree
    * [[GraphK]]) plus [[NswLong]] hash-deterministic long-range links
    * per node ([[hashPositionLinks]]) — the long links NSW gets from
    * random-order insertion, made replayable. Search: from the
    * smallest non-query id, [[beamSearch]] expands out-edges for
    * [[NswRounds]] rounds keeping the best [[NswEf]] by true cosine.
    * Output: [[beamAudit]] — per query the ranked top-[[NswTopK]],
    * the best cosine, and recall against the exact top-k (q179's
    * protocol), the recall/latency point that justifies the
    * operating parameters.
    *
    * Scale: the graph build is q130's (production: [[knnGraphIvf]] or
    * q198's NN-Descent substrate, N·(K+L) edge rows); each search
    * round touches |Q|·ef·(K+L) candidate rows — keyed equi-joins
    * against the edge and embedding tables, beam state materialized
    * per round, nothing corpus × corpus. The exact-recall leg is the
    * audit's deliberate one-scan cost, exactly q179's. */
  val q197AnnNsw: QueryDef = QueryDef(
    "q197_ann_nsw",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val edges = Staging.materialize(
        knnGraphExact(e, GraphK).select(col("vec_id"), col("nbr_id"))
          .unionByName(hashPositionLinks(e, NswLong, ":")).distinct()
          .select(col("vec_id").as("evid"), col("nbr_id")),
        "nsw_edges")
      val queries = nswQueries(e)
      // entry: the smallest id that is not the query itself
      val small = e.select(col("vec_id")).orderBy(col("vec_id"))
        .limit(2).collect().map(_.getLong(0))
      val seed = queries.select(col("qid"),
        when(col("qid") === small(0), lit(small(1)))
          .otherwise(lit(small(0))).as("vid"))
      beamAudit(beamSearch(seed, edges, e, queries, "nsw"), e, queries)
    },
    Some {
      val (beamText, finalBeam) = beamRoundsSql("edges", "beam0", "beam")
      s"""WITH $knnSqlCtes,
      knn AS (SELECT vec_id, nbr_id FROM r WHERE rk <= $GraphK),
      ${hashLinksSql("longe", NswLong, ":")},
      edges AS MATERIALIZED (
        SELECT vec_id, nbr_id FROM knn UNION SELECT vec_id, nbr_id FROM longe),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $NswQ),
      beam0 AS (SELECT qid,
          CASE WHEN qid = (SELECT min(vec_id) FROM e)
               THEN (SELECT min(vec_id) FROM e
                     WHERE vec_id > (SELECT min(vec_id) FROM e))
               ELSE (SELECT min(vec_id) FROM e) END AS vid
        FROM q)$beamText,
      ${beamAuditSql(finalBeam)}"""
    })

  // ---------------------------------------------------------------
  // q198: NN-Descent k-NN-graph refinement
  // ---------------------------------------------------------------

  private val NdRounds = 6

  /** NN-Descent (Dong, Moses & Li 2011) — k-NN graph construction with
    * NO exact pass and NO trained structure: start from a
    * hash-deterministic random graph ([[hashPositionLinks]], q197's
    * seam) and iterate the LOCAL JOIN ("a neighbor of my neighbor is
    * probably my neighbor"): each round the undirected neighborhood's
    * 2-hop pairs become candidates, every candidate is scored, and
    * each node keeps its best [[GraphK]]. Completes the graph-build
    * triangle: q130's exact build is quadratic by definition,
    * [[knnGraphIvf]] needs trained centroids, NN-Descent needs
    * neither — it is how billion-scale kNN graphs are actually built,
    * and q197's NSW search can run on its output.
    *
    * Output: the convergence curve the paper reports — per round, the
    * recall of the current graph's edges against the TRUE kNN graph
    * (the exact leg is the audit's deliberate cost, q179's protocol).
    * On the synthetic test embeddings — weak local manifold structure —
    * the curve climbs from random (~0.6%) to ~46% and plateaus: the
    * local-join premise is exactly as strong as the data's
    * clusterability, and the audit makes that operating point visible
    * instead of asserting a constant. Every decision is deterministic
    * (hash-position init, rounded-cosine ranks with nbr_id ties,
    * DISTINCT candidate unions), so the DuckDB oracle replays every
    * round exactly.
    *
    * Scale: a round is (a) reverse the edge table (one map), (b) the
    * shared-node self-join of the degree-bounded undirected
    * neighborhood (≤ (2K)² pairs per node — candidate growth is
    * LOCAL, never N²), (c) one scoring join against the embedding
    * table, (d) a per-node top-K window on the (node)-keyed shuffle
    * the rank already needs. Rounds materialize (Staging) to keep
    * lineage flat. */
  val q198NnDescent: QueryDef = QueryDef(
    "q198_nn_descent",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      // hash-seeded init: GraphK deterministic pseudo-random targets
      // per node (self-loops and collisions drop -> degree <= K)
      val init = hashPositionLinks(e, GraphK, "#").distinct()
      val wk = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos").desc, col("nbr_id"))
      def score(pairs: DataFrame): DataFrame = pairs
        .join(e.select(col("vec_id").as("nbr_id"), col("embedding").as("nvec")),
          Seq("nbr_id"))
        .join(e, Seq("vec_id"))
        .select(col("vec_id"), col("nbr_id"),
          round(expr("dot_product_f(embedding, nvec)"), 6).as("cos"))
      var graph = Staging.materialize(
        score(init)
          .withColumn("rk", row_number().over(wk).cast("long"))
          .filter(col("rk") <= GraphK)
          .select(col("vec_id"), col("nbr_id")),
        "nnd_init")
      val exact = Staging.materialize(knnGraphExact(e, GraphK)
        .select(col("vec_id"), col("nbr_id")), "nnd_exact")
      val nEdgesExact = exact.count().toDouble
      def recallOf(g: DataFrame): Double =
        g.join(exact, Seq("vec_id", "nbr_id"), "left_semi").count() / nEdgesExact
      val curve = scala.collection.mutable.ArrayBuffer(
        (0L, recallOf(graph)))
      (1 to NdRounds).foreach { r =>
        val und = graph
          .unionByName(graph.select(col("nbr_id").as("vec_id"),
            col("vec_id").as("nbr_id")))
          .distinct()
        // local join: nodes a, b sharing an undirected neighbor u
        val cand = und.select(col("vec_id").as("u"), col("nbr_id").as("a"))
          .join(und.select(col("vec_id").as("u"), col("nbr_id").as("b")), Seq("u"))
          .filter(col("a") =!= col("b"))
          .select(col("a").as("vec_id"), col("b").as("nbr_id"))
          .unionByName(und)
          .distinct()
        graph = Staging.materialize(
          score(cand)
            .withColumn("rk", row_number().over(wk).cast("long"))
            .filter(col("rk") <= GraphK)
            .select(col("vec_id"), col("nbr_id")),
          s"nnd_round$r")
        curve += ((r.toLong, recallOf(graph)))
      }
      import scala.jdk.CollectionConverters._
      s.createDataFrame(
        curve.map { case (r, rec) =>
          org.apache.spark.sql.Row(r, BigDecimal(rec)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }.toList.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("round",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("recall",
            org.apache.spark.sql.types.DoubleType, nullable = false))))
        .orderBy(col("round"))
    },
    Some {
      val rounds = (1 to NdRounds).map { r =>
        s""",
      und$r AS (
        SELECT vec_id, nbr_id FROM g${r - 1}
        UNION SELECT nbr_id, vec_id FROM g${r - 1}),
      cand$r AS (
        SELECT DISTINCT vec_id, nbr_id FROM (
          SELECT u1.nbr_id AS vec_id, u2.nbr_id
          FROM und$r u1 JOIN und$r u2 ON u1.vec_id = u2.vec_id
          WHERE u1.nbr_id <> u2.nbr_id
          UNION ALL SELECT vec_id, nbr_id FROM und$r)),
      g$r AS MATERIALIZED (
        SELECT vec_id, nbr_id FROM (
          SELECT c.vec_id, c.nbr_id,
            row_number() OVER (PARTITION BY c.vec_id
              ORDER BY round(list_sum(list_transform(list_zip(ea.v, eb.v), x -> x[1]*x[2])), 6) DESC, c.nbr_id) AS rk
          FROM cand$r c JOIN e ea ON ea.vec_id = c.vec_id
          JOIN e eb ON eb.vec_id = c.nbr_id) x
        WHERE rk <= $GraphK),
      rec$r AS (SELECT $r AS round,
        round(CAST((SELECT count(*) FROM g$r g JOIN exact x
            ON x.vec_id = g.vec_id AND x.nbr_id = g.nbr_id) AS DOUBLE)
          / (SELECT count(*) FROM exact), 4) AS recall)"""
      }.mkString
      s"""WITH $knnSqlCtes,
      exact AS MATERIALIZED (SELECT vec_id, nbr_id FROM r WHERE rk <= $GraphK),
      ${hashLinksSql("links", GraphK, "#")},
      init AS (SELECT DISTINCT vec_id, nbr_id FROM links),
      g0 AS MATERIALIZED (
        SELECT vec_id, nbr_id FROM (
          SELECT c.vec_id, c.nbr_id,
            row_number() OVER (PARTITION BY c.vec_id
              ORDER BY round(list_sum(list_transform(list_zip(ea.v, eb.v), x -> x[1]*x[2])), 6) DESC, c.nbr_id) AS rk
          FROM init c JOIN e ea ON ea.vec_id = c.vec_id
          JOIN e eb ON eb.vec_id = c.nbr_id) x
        WHERE rk <= $GraphK),
      rec0 AS (SELECT 0 AS round,
        round(CAST((SELECT count(*) FROM g0 g JOIN exact x
            ON x.vec_id = g.vec_id AND x.nbr_id = g.nbr_id) AS DOUBLE)
          / (SELECT count(*) FROM exact), 4) AS recall)$rounds
      SELECT CAST(round AS BIGINT) AS round, recall FROM (
        ${(0 to NdRounds).map(r => s"SELECT * FROM rec$r").mkString(" UNION ALL ")})
      ORDER BY round"""
    })

  // ---------------------------------------------------------------
  // q199: HNSW — hierarchical NSW (layered graph, descend then beam)
  // ---------------------------------------------------------------

  private val HnswMaxLevel = 6
  private val HnswSteps = 3      // greedy steps per upper layer
  // layer-0 beam runs [[NswRounds]] rounds via the shared beamSearch

  /** HNSW (Malkov & Yashunin 2018) — the hierarchy on top of q197's
    * NSW layer, completing the graph-ANN tier with the index modern
    * vector systems actually ship: each node draws a GEOMETRIC level
    * (P(l >= k) = 2^-k, realized as integer thresholds on a 16-bit
    * content-hash bucket — exact in both engines), every layer k holds
    * the exact kNN graph over the nodes with level >= k (all layers
    * rank the SAME all-pairs rounded-cosine table, so upper layers are
    * free once the base pairs exist; production swaps the exact pairs
    * for the q198 NN-Descent build per layer), and a query DESCENDS:
    * greedy 1-best steps per upper layer from the global max-level
    * entry, then the shared layer-0 [[beamSearch]] — the log(N)
    * entry-finding that lets the base-layer beam start near the
    * answer instead of at a fixed node.
    *
    * Output: q197's audit shape ([[beamAudit]]), so the two operating
    * points are directly comparable — and at the test corpus's N=500
    * they bracket the design honestly: flat NSW edges out HNSW (mean
    * recall 0.7 vs 0.6) because its random long links act at layer 0
    * while the hierarchy above ~N/4 nodes is nearly empty; the
    * hierarchy's log(N) descent is the piece that grows into its cost
    * at corpus scale — DEMONSTRATED at N=20k in AnnOpsSpec ("HNSW
    * hierarchy populates at 20k"): same graph, same beam, descended
    * entry recall@5 = 1.0 vs flat entry 0.25, with the 33-hop descent
    * landing every query within 2 base positions (SCALE.md §round 11).
    * Every decision is deterministic (integer level
    * thresholds, rounded-cosine ranks, vec_id ties, fixed step/round
    * counts), and the DuckDB oracle replays layers, descent, and beam.
    *
    * Scale: upper layers shrink geometrically (layer k holds ~N/2^k
    * nodes), so the whole hierarchy adds ~1x the base edge count; each
    * descent step is a |Q|-row join against a layer's edge table; the
    * base-layer beam is q197's bounded fan-out. Nothing beyond the
    * deliberate exact audit leg is N². */
  val q199AnnHnsw: QueryDef = QueryDef(
    "q199_ann_hnsw",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      // geometric levels from integer thresholds on a 16-bit bucket
      val lvlCase = (HnswMaxLevel to 1 by -1).map(k =>
        s"WHEN b < ${65536 >> k} THEN $k").mkString(
        "CASE ", " ", " ELSE 0 END")
      val lv = e.select(col("vec_id"))
        .withColumn("b", expr(MixOps.bucketExpr(
          "sha2(concat('L', cast(vec_id as string)), 256)", 65536)))
        .withColumn("lvl", expr(lvlCase).cast("long"))
        .select(col("vec_id"), col("lvl"))
      // one all-pairs rounded-cosine table; every layer ranks it
      val pairs = Staging.materialize(
        e.crossJoin(broadcast(
            e.select(col("vec_id").as("nbr_id"), col("embedding").as("nvec"))))
          .filter(col("vec_id") =!= col("nbr_id"))
          .select(col("vec_id"), col("nbr_id"),
            round(expr("dot_product_f(embedding, nvec)"), 6).as("cos")),
        "hnsw_pairs")
      val wk = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos").desc, col("nbr_id"))
      def layerEdges(k: Int): DataFrame = pairs
        .join(lv.filter(col("lvl") >= k).select(col("vec_id")), Seq("vec_id"))
        .join(lv.filter(col("lvl") >= k)
          .select(col("vec_id").as("nbr_id")), Seq("nbr_id"))
        .withColumn("rk", row_number().over(wk))
        .filter(col("rk") <= GraphK)
        .select(col("vec_id").as("evid"), col("nbr_id"))
      val queries = nswQueries(e)
      // per-query entry: the max-level node that is not the query
      val entry = lv.crossJoin(broadcast(queries.select(col("qid"))))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("erk", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("lvl").desc, col("vec_id"))))
        .filter(col("erk") === 1)
        .select(col("qid"), col("vec_id").as("vid"))
      // descend: greedy 1-best steps per upper layer
      var cur: DataFrame = entry
      (HnswMaxLevel to 1 by -1).foreach { k =>
        val ek = Staging.materialize(layerEdges(k), s"hnsw_l$k")
        (1 to HnswSteps).foreach { st =>
          val cand = cur.select(col("qid"), col("vid"))
            .unionByName(cur.join(ek, col("vid") === col("evid"))
              .select(col("qid"), col("nbr_id").as("vid")))
            .distinct()
          cur = Staging.materialize(
            scoreCandidates(cand, e, queries)
              .withColumn("rk", row_number().over(wqWindow))
              .filter(col("rk") === 1)
              .select(col("qid"), col("vid")),
            s"hnsw_c${k}_$st")
        }
      }
      // layer 0: the shared beam from the descended entry
      val e0 = Staging.materialize(layerEdges(0), "hnsw_l0")
      beamAudit(beamSearch(cur, e0, e, queries, "hnsw"), e, queries)
    },
    Some {
      val bucketSum = MixOps.bucketExpr(
        "sha256('L' || CAST(vec_id AS VARCHAR))", 65536)
      val lvlCase = (HnswMaxLevel to 1 by -1).map(k =>
        s"WHEN b < ${65536 >> k} THEN $k").mkString(
        "CASE ", " ", " ELSE 0 END")
      val layers = (0 to HnswMaxLevel).map { k =>
        s"""edges$k AS MATERIALIZED (
        SELECT vec_id, nbr_id FROM (
          SELECT p.vec_id, p.nbr_id,
            row_number() OVER (PARTITION BY p.vec_id
              ORDER BY p.cos DESC, p.nbr_id) AS rk
          FROM p JOIN lv la ON la.vec_id = p.vec_id AND la.lvl >= $k
          JOIN lv lb ON lb.vec_id = p.nbr_id AND lb.lvl >= $k) x
        WHERE rk <= $GraphK)"""
      }.mkString(",\n      ")
      val descent = new StringBuilder
      var prev = "cur0"
      (HnswMaxLevel to 1 by -1).foreach { k =>
        (1 to HnswSteps).foreach { st =>
          val nm = s"cur${k}_$st"
          descent.append(s""",
      $nm AS MATERIALIZED (
        SELECT qid, vid FROM (
          SELECT c.qid, c.vid,
            row_number() OVER (PARTITION BY c.qid
              ORDER BY $BeamCosSql DESC, c.vid) AS rk
          FROM (
            SELECT qid, vid FROM $prev
            UNION
            SELECT b.qid, ed.nbr_id AS vid
            FROM $prev b JOIN edges$k ed ON ed.vec_id = b.vid) c
          JOIN e e2 ON e2.vec_id = c.vid JOIN q ON q.qid = c.qid
          WHERE c.vid <> c.qid) x
        WHERE rk = 1)""")
          prev = nm
        }
      }
      val (beamText, finalBeam) = beamRoundsSql("edges0", prev, "hbeam")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      p AS MATERIALIZED (SELECT a.vec_id, b.vec_id AS nbr_id,
          round(list_sum(list_transform(list_zip(a.v, b.v), x -> x[1]*x[2])), 6) AS cos
        FROM e a, e b WHERE a.vec_id <> b.vec_id),
      lv AS MATERIALIZED (SELECT vec_id, $lvlCase AS lvl FROM (
        SELECT vec_id, ($bucketSum) AS b FROM e)),
      $layers,
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < $NswQ),
      cur0 AS (
        SELECT qid, vid FROM (
          SELECT q.qid, l.vec_id AS vid,
            row_number() OVER (PARTITION BY q.qid
              ORDER BY l.lvl DESC, l.vec_id) AS erk
          FROM lv l, q WHERE l.vec_id <> q.qid) x WHERE erk = 1)${descent}${beamText},
      ${beamAuditSql(finalBeam)}"""
    })

  val all: Seq[QueryDef] =
    Seq(q56AnnIvf, q68AnnLsh, q79AnnLshMultiprobe, q85AnnPq, q100AnnIvfPq,
      q117AnnSq8, q130KnnGraph, q155AnnJl, q160Pagerank, q179AnnRecall,
      q197AnnNsw, q198NnDescent, q199AnnHnsw, q243KnnGraphProd)
}
