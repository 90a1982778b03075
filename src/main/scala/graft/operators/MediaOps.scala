package graft.operators

import graft.{QueryDef, Staging, Tables}
import graft.tools.Media
import org.apache.spark.sql.functions._

/** Multimodal-tier oracle query: audio features through the REAL WAV
  * codec. Each document's text deterministically generates PCM16
  * samples (one per code point), the bytes go through buildWav →
  * decodeWav — RIFF header, chunk walk, bit-exact PCM — and the
  * extracted duration/RMS/peak must match the oracle computing the
  * same sample math directly in SQL. The binary round trip happens
  * only on the Spark side (DuckDB parses no WAV); any header or
  * sample-codec bug breaks the hash match, exactly the q29 pattern.
  *
  * Scale: one build+decode per row, a pure narrow map — audio bytes
  * never leave the partition.
  */
object MediaOps {

  private val MaxSamples = 200
  private val Rate = 16000

  val q69WavFeatures: QueryDef = QueryDef(
    "q69_wav_features",
    (s, dir) => {
      val docs = Tables.loadParallel(s, dir, "documents")
      val viaWav = udf { (t: String) =>
        if (t == null || t.isEmpty) null
        else {
          // one sample per code point: ((cp % 128) * 200 - 12800)
          val cps = t.codePoints().toArray.take(MaxSamples)
          val samples = cps.map(cp => ((cp % 128) * 200 - 12800).toShort)
          val a = Media.decodeWav(Media.buildWav(samples, Rate))
          (a.samples.length, a.durationMs,
            BigDecimal(a.rms).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
            BigDecimal(a.peak).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }
      docs.select(col("doc_id"), viaWav(col("text")).as("x"))
        .select(col("doc_id"),
          col("x._1").as("n_samples"),
          col("x._2").as("duration_ms"),
          col("x._3").as("rms"),
          col("x._4").as("peak"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH s AS (SELECT doc_id, length(text) AS n_chars,
        [ (unicode(c) % 128) * 200 - 12800
          for c in regexp_split_to_array(substr(text, 1, $MaxSamples), '') ] AS v
      FROM documents)
      SELECT doc_id,
        CASE WHEN n_chars > 0 THEN CAST(len(v) AS INT) END AS n_samples,
        CASE WHEN n_chars > 0 THEN CAST(len(v) * 1000 // $Rate AS BIGINT) END AS duration_ms,
        CASE WHEN n_chars > 0 THEN
          round(sqrt(list_sum(list_transform(v, x -> CAST(x AS DOUBLE) * x)) / len(v)) / 32768.0, 6)
        END AS rms,
        CASE WHEN n_chars > 0 THEN
          round(list_aggregate(list_transform(v, x -> abs(x)), 'max') / 32768.0, 6)
        END AS peak
      FROM s ORDER BY doc_id"""),
    headline = true)

  private val ImgW = 16
  private val MaxPixels = 192

  /** Image dual of q69: each document's leading code points become RGB
    * pixels in a real 24-bit BMP (16 wide, zero-padded final row), the
    * bytes go through buildBmp → decodeBmp — header fields, bottom-up
    * row order, row padding — and the decoded dimensions + channel
    * means must match the oracle computing the same pixel math in SQL. */
  val q78BmpFeatures: QueryDef = QueryDef(
    "q78_bmp_features",
    (s, dir) => {
      val docs = Tables.loadParallel(s, dir, "documents")
      val viaBmp = udf { (t: String) =>
        if (t == null || t.isEmpty) null
        else {
          val cps = t.codePoints().toArray.take(MaxPixels)
          val h = (cps.length + ImgW - 1) / ImgW
          val img = Media.decodeBmp(Media.buildBmp(ImgW, h, (x, y) => {
            val i = y * ImgW + x
            if (i < cps.length)
              ((cps(i) % 128) << 16) | (((cps(i) % 64) * 2) << 8) | ((cps(i) % 32) * 4)
            else 0
          }))
          val n = (img.width * img.height).toDouble
          def r6(v: Double) =
            BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          (img.width, img.height, r6(img.meanR), r6(img.meanG), r6(img.meanB))
        }
      }
      docs.select(col("doc_id"), viaBmp(col("text")).as("x"))
        .select(col("doc_id"),
          col("x._1").as("width"), col("x._2").as("height"),
          col("x._3").as("mean_r"), col("x._4").as("mean_g"), col("x._5").as("mean_b"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH s AS (SELECT doc_id, length(text) AS n_chars,
        [unicode(c) for c in regexp_split_to_array(substr(text, 1, $MaxPixels), '')] AS cps
      FROM documents),
      d AS (SELECT doc_id, n_chars, cps, len(cps) AS n,
        CAST(ceil(len(cps) / $ImgW.0) AS INT) AS h FROM s)
      SELECT doc_id,
        CASE WHEN n_chars > 0 THEN $ImgW END AS width,
        CASE WHEN n_chars > 0 THEN h END AS height,
        CASE WHEN n_chars > 0 THEN
          round(list_sum(list_transform(cps, c -> CAST(c % 128 AS DOUBLE))) / ($ImgW * h), 6)
        END AS mean_r,
        CASE WHEN n_chars > 0 THEN
          round(list_sum(list_transform(cps, c -> CAST((c % 64) * 2 AS DOUBLE))) / ($ImgW * h), 6)
        END AS mean_g,
        CASE WHEN n_chars > 0 THEN
          round(list_sum(list_transform(cps, c -> CAST((c % 32) * 4 AS DOUBLE))) / ($ImgW * h), 6)
        END AS mean_b
      FROM d ORDER BY doc_id"""))

  /** Compressed-codec sibling of q78: the SAME code-point raster goes
    * through a real PNG encode → decode round trip (javax.imageio:
    * DEFLATE compression, filtering, chunk CRCs) instead of the
    * hand-rolled BMP writer. PNG is lossless, so the decoded channel
    * means must still match the oracle's direct pixel math exactly —
    * any codec, color-model, or row-order bug breaks the hash. JPEG
    * stays out of the oracle (lossy ⇒ not bit-stable across quality
    * settings) and is covered with tolerance asserts in MultimodalSpec.
    *
    * Scale: one encode+decode per row, a pure narrow map — image bytes
    * never leave the partition. */
  val q80PngFeatures: QueryDef = QueryDef(
    "q80_png_decode",
    (s, dir) => {
      val docs = Tables.loadParallel(s, dir, "documents")
      val viaPng = udf { (t: String) =>
        if (t == null || t.isEmpty) null
        else {
          val cps = t.codePoints().toArray.take(MaxPixels)
          val h = (cps.length + ImgW - 1) / ImgW
          val img = Media.decodeImage(Media.buildImage("png", ImgW, h, (x, y) => {
            val i = y * ImgW + x
            if (i < cps.length)
              ((cps(i) % 128) << 16) | (((cps(i) % 64) * 2) << 8) | ((cps(i) % 32) * 4)
            else 0
          }))
          val n = (img.width * img.height).toDouble
          def r6(v: Double) =
            BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          (img.width, img.height, r6(img.meanR), r6(img.meanG), r6(img.meanB))
        }
      }
      docs.select(col("doc_id"), viaPng(col("text")).as("x"))
        .select(col("doc_id"),
          col("x._1").as("width"), col("x._2").as("height"),
          col("x._3").as("mean_r"), col("x._4").as("mean_g"), col("x._5").as("mean_b"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH s AS (SELECT doc_id, length(text) AS n_chars,
        [unicode(c) for c in regexp_split_to_array(substr(text, 1, $MaxPixels), '')] AS cps
      FROM documents),
      d AS (SELECT doc_id, n_chars, cps, len(cps) AS n,
        CAST(ceil(len(cps) / $ImgW.0) AS INT) AS h FROM s)
      SELECT doc_id,
        CASE WHEN n_chars > 0 THEN $ImgW END AS width,
        CASE WHEN n_chars > 0 THEN h END AS height,
        CASE WHEN n_chars > 0 THEN
          round(list_sum(list_transform(cps, c -> CAST(c % 128 AS DOUBLE))) / ($ImgW * h), 6)
        END AS mean_r,
        CASE WHEN n_chars > 0 THEN
          round(list_sum(list_transform(cps, c -> CAST((c % 64) * 2 AS DOUBLE))) / ($ImgW * h), 6)
        END AS mean_g,
        CASE WHEN n_chars > 0 THEN
          round(list_sum(list_transform(cps, c -> CAST((c % 32) * 4 AS DOUBLE))) / ($ImgW * h), 6)
        END AS mean_b
      FROM d ORDER BY doc_id"""))

  private val PhHamMax = 6 // dHash near-dup threshold (of 64 bits)

  /** q144: image near-duplicate PAIRS by perceptual hash — the classic
    * image-dedup family (LAION/DataComp dedup their crawls with
    * exactly this shape: perceptual hash → Hamming join). Each doc's
    * deterministic raster goes through the REAL byte path (buildBmp →
    * decodeBmp, q78's convention), `Media.dHash64` area-averages it
    * onto the 9×8 dHash grid, and pairs within Hamming distance
    * [[PhHamMax]] surface via q90's pigeonhole banding: a 64-bit hash
    * split into 8 blocks of 8 bits guarantees any pair within distance
    * 7 agrees on a whole block, so candidates come from an equi
    * self-join on (block_id, block_bits) and the exact popcount runs
    * only on those — never N².
    *
    * Scale: hash is one narrow decode pass (bytes never leave the
    * partition); the ONLY shuffle is the band join keyed on
    * (block_id, blk) — the Manku-style dedup-join shape shared with
    * q90, plan-checked (no cartesian). The hash rides as two unsigned
    * 32-bit halves so the DuckDB oracle reproduces it bit-for-bit. */
  val q144PhashNeardup: QueryDef = QueryDef(
    "q144_phash_neardup",
    (s, dir) => {
      val docs = Tables.loadParallel(s, dir, "documents")
      val ph = udf { (t: String) =>
        if (t == null || t.isEmpty) null
        else {
          val cps = t.codePoints().toArray.take(MaxPixels)
          val h = (cps.length + ImgW - 1) / ImgW
          val img = Media.decodeBmp(Media.buildBmp(ImgW, h, (x, y) => {
            val i = y * ImgW + x
            if (i < cps.length)
              ((cps(i) % 128) << 16) | (((cps(i) % 64) * 2) << 8) | ((cps(i) % 32) * 4)
            else 0
          }))
          Media.dHash64(img)
        }
      }
      // hash once: feeds 8 band rows + both join sides
      val sig = Staging.materialize(docs.filter(length(col("text")) > 0)
        .select(col("doc_id"), ph(col("text")).as("p"))
        .select(col("doc_id"), col("p._1").as("hi"), col("p._2").as("lo")),
        "dhash_sig")
      val blocks = sig.select(col("doc_id"), col("hi"), col("lo"),
          explode(expr("sequence(0, 7)")).as("block_id"))
        .withColumn("blk", expr(
          """CASE WHEN block_id < 4
            |  THEN shiftright(lo, cast(block_id * 8 as int)) & 255
            |  ELSE shiftright(hi, cast((block_id - 4) * 8 as int)) & 255 END""".stripMargin))
      blocks.as("a").join(blocks.as("b"),
          col("a.block_id") === col("b.block_id") && col("a.blk") === col("b.blk") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("bit_count(a.hi ^ b.hi) + bit_count(a.lo ^ b.lo)")
            .cast("long").as("hamming"))
        .filter(col("hamming") <= PhHamMax)
        .distinct()
        .orderBy(col("doc_a"), col("doc_b"))
    },
    Some(s"""WITH s AS (SELECT doc_id,
        [unicode(c) for c in regexp_split_to_array(substr(text, 1, $MaxPixels), '')] AS cps
      FROM documents WHERE length(text) > 0),
      d AS (SELECT doc_id, cps, len(cps) AS n,
        CAST(ceil(len(cps) / $ImgW.0) AS INT) AS h FROM s),
      px AS (SELECT doc_id, h, t.i AS i,
        CASE WHEN t.i < n THEN
          299 * (cps[t.i + 1] % 128) + 587 * ((cps[t.i + 1] % 64) * 2)
            + 114 * ((cps[t.i + 1] % 32) * 4)
        ELSE 0 END AS gray
      FROM d, unnest(range(0, $ImgW * h)) AS t(i)),
      cell AS (SELECT doc_id, ((i % $ImgW) * 9) // $ImgW AS cx,
          ((i // $ImgW) * 8) // h AS cy,
          sum(gray) AS sg, count(*) AS cnt
        FROM px GROUP BY doc_id, cx, cy),
      grid AS (SELECT hs.doc_id, xs.x, ys.y,
          coalesce(c.sg, 0) AS sg, coalesce(c.cnt, 0) AS cnt
        FROM (SELECT doc_id FROM d) hs
        CROSS JOIN (SELECT unnest(range(0, 9)) AS x) xs
        CROSS JOIN (SELECT unnest(range(0, 8)) AS y) ys
        LEFT JOIN cell c ON c.doc_id = hs.doc_id AND c.cx = xs.x AND c.cy = ys.y),
      bits AS (SELECT a.doc_id, a.y * 8 + a.x AS pos,
          CASE WHEN b.sg * a.cnt > a.sg * b.cnt THEN 1 ELSE 0 END AS bit
        FROM grid a JOIN grid b
          ON a.doc_id = b.doc_id AND b.x = a.x + 1 AND b.y = a.y
        WHERE a.x < 8),
      ph AS (SELECT doc_id,
          CAST(sum(CASE WHEN pos >= 32 THEN bit * (1::BIGINT << (pos - 32)) ELSE 0 END) AS BIGINT) AS hi,
          CAST(sum(CASE WHEN pos < 32 THEN bit * (1::BIGINT << pos) ELSE 0 END) AS BIGINT) AS lo
        FROM bits GROUP BY doc_id),
      blocks AS (SELECT doc_id, hi, lo, bs.b AS block_id,
          CASE WHEN bs.b < 4 THEN ((lo >> (bs.b * 8)) & 255)
               ELSE ((hi >> ((bs.b - 4) * 8)) & 255) END AS blk
        FROM ph, (SELECT unnest(range(0, 8)) AS b) bs),
      pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
          bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS hamming
        FROM blocks a JOIN blocks b
          ON a.block_id = b.block_id AND a.blk = b.blk AND a.doc_id < b.doc_id)
      SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming FROM pairs
      WHERE hamming <= $PhHamMax ORDER BY doc_a, doc_b"""))

  val all: Seq[QueryDef] = Seq(q69WavFeatures, q78BmpFeatures, q80PngFeatures,
    q144PhashNeardup)
}
