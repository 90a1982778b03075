package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Winnowing invariants beyond the row-hash oracle: an independent
  * driver-side reference implementation must agree on real corpus
  * docs, and the selected density must sit near the 2/(w+1) theory. */
class TextAnalysisSpec extends SparkSpec {

  private val dir = sf("sf0.001")
  private val K = 3
  private val W = 4

  private def sha16(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)

  /** Reference winnowing: token K-grams → sha slice → window-of-W min
    * set — written independently of the Column expressions. */
  private def referenceFingerprints(text: String): Option[(Int, Int)] = {
    val w = text.trim.split("\\s+")
    if (w.length < K) None
    else {
      val grams = (0 to w.length - K).map(i => sha16(w.slice(i, i + K).mkString(" ")))
      val fps =
        if (grams.length >= W)
          (0 to grams.length - W).map(j => grams.slice(j, j + W).min).distinct
        else Seq(grams.min)
      Some((grams.length, fps.length))
    }
  }

  test("q103 matches an independent reference implementation on real docs") {
    val got = TextAnalysis.q103Winnowing.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val texts = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).limit(50)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    var checked = 0
    texts.foreach { case (id, text) =>
      referenceFingerprints(text).foreach { case (nGrams, nFps) =>
        val (gGrams, gFps) = got(id)
        assert(gGrams === nGrams.toLong, s"doc $id gram count")
        assert(gFps === nFps.toLong, s"doc $id fingerprint count")
        checked += 1
      }
    }
    assert(checked >= 10, s"only $checked docs were checkable")
  }

  test("q103 density sits near the winnowing expectation 2/(w+1)") {
    val rows = TextAnalysis.q103Winnowing.fn(spark, dir).collect()
    rows.foreach { r =>
      val d = r.getDouble(r.fieldIndex("density"))
      assert(d > 0.0 && d <= 1.0)
    }
    // docs with many windows concentrate around 2/(W+1) = 0.4
    val dense = rows.filter(_.getLong(1) >= 50).map(_.getDouble(3))
    if (dense.nonEmpty) {
      val mean = dense.sum / dense.length
      assert(mean > 0.25 && mean < 0.55, s"mean density $mean far from 2/(w+1)")
    }
  }

  test("q113 normalization: unicode forms, case, digits, and spacing dedup together") {
    import spark.implicits._
    // the same visible text five ways: decomposed vs composed accents
    // (NFC's job — the ASCII oracle corpus can't exercise this), case,
    // digit choice, and whitespace shape
    val composed = "café 123 bar"
    val variants = Seq(
      composed,
      "café 123 bar",    // e + COMBINING ACUTE: NFC folds to é
      "CAFÉ 123 bar",
      "café 907   bar",
      "  café\t123 bar ")
    val norm = variants.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), sha2(trim(regexp_replace(regexp_replace(
        lower(expr("nfc_norm(text)")), "[0-9]", "0"), "\\s+", " ")), 256).as("h"),
        expr("nfc_norm(text)").as("nfc"))
      .collect()
    assert(norm.map(_.getString(1)).distinct.length === 1,
      "all five variants must share one dedup key")
    // NFC produced the composed form from the combining sequence
    assert(norm(1).getString(2) === composed)
    assert(norm(1).getString(2).codePointAt(3) === 0xe9)
    // and on a real scan the whole normalize→hash chain stays inside
    // one whole-stage-codegen span (a local relation above would
    // constant-fold to a LocalTableScan and prove nothing)
    val q113 = TextAnalysis.q113CcnetNormalize.fn(spark, dir)
    q113.collect() // finalize the AQE plan before inspecting it
    val plan = q113.queryExecution.executedPlan.toString
    // the `*(n)` prefix is the WholeStageCodegen marker in simpleString;
    // the projection holding nfc_norm must carry one
    assert(plan.linesIterator.exists(l =>
        l.contains("Project") && l.trim.matches("""^\+?-?\s*\*\(\d+\).*""")),
      s"nfc_norm projection fell out of codegen:\n$plan")
  }

  test("q123 bundle agrees signal-for-signal with the standalone queries") {
    import org.apache.spark.sql.functions._
    val bundle = TextAnalysis.q123QualitySignals.fn(spark, dir)
    def m(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select("doc_id", cols: _*).collect()
        .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    // q45: token + char counts
    val b45 = m(bundle, "n_tokens", "n_chars")
    m(TextAnalysis.q45TokenCount.fn(spark, dir), "n_tokens", "n_chars")
      .foreach { case (id, v) => assert(b45(id) === v, s"q45 mismatch at $id") }
    // q46: ratios
    val b46 = m(bundle, "stopword_ratio", "mean_word_len", "type_token_ratio")
    m(TextAnalysis.q46QualityScore.fn(spark, dir),
        "stopword_ratio", "mean_word_len", "type_token_ratio")
      .foreach { case (id, v) => assert(b46(id) === v, s"q46 mismatch at $id") }
    // q82: gopher components + verdict
    val b82 = m(bundle, "n_stopwords", "alpha_frac", "pass_gopher")
    m(CorpusOps.q82GopherQuality.fn(spark, dir), "n_stopwords", "alpha_frac", "keep")
      .foreach { case (id, v) => assert(b82(id) === v, s"q82 mismatch at $id") }
    // q88: the narrow dup-bigram form equals the groupBy form
    val b88 = m(bundle, "dup_bigram_frac")
    m(CorpusOps.q88Repetition.fn(spark, dir), "dup_bigram_frac")
      .foreach { case (id, v) => assert(b88(id) === v, s"q88 mismatch at $id") }
    // q89: subword budget
    val b89 = m(bundle, "tokens_per_word")
    m(CorpusOps.q89BpeishTokens.fn(spark, dir), "tokens_per_word")
      .foreach { case (id, v) => assert(b89(id) === v, s"q89 mismatch at $id") }
  }

  test("q126 sweep: pass counts are monotone in both thresholds and exact vs direct recount") {
    val rows = TextAnalysis.q126GateSweep.fn(spark, dir).collect()
    assert(rows.length === 9)
    val byKey = rows.map(r => (r.getLong(0), r.getDouble(1)) -> r.getLong(3)).toMap
    // monotone: loosening either threshold can only add survivors
    for (Seq(w1, w2) <- Seq(5L, 30L, 60L).combinations(2).map(_.sorted);
         d <- Seq(0.05, 0.2, 1.0))
      assert(byKey((w2, d)) <= byKey((w1, d)), s"minWords $w2 vs $w1 at $d")
    for (w <- Seq(5L, 30L, 60L);
         Seq(d1, d2) <- Seq(0.05, 0.2, 1.0).combinations(2).map(_.sorted))
      assert(byKey((w, d1)) <= byKey((w, d2)), s"maxDup $d1 vs $d2 at $w")
    // exact against a direct recount from the signals table
    val sig = TextAnalysis.q123QualitySignals.fn(spark, dir).collect()
    val direct = sig.count { r =>
      val nt = r.getLong(r.fieldIndex("n_tokens"))
      val i = r.fieldIndex("dup_bigram_frac")
      nt >= 30L && !r.isNullAt(i) && r.getDouble(i) <= 0.2
    }.toLong
    assert(byKey((30L, 0.2)) === direct)
  }

  test("q158: entropy exact on handcrafted vectors, bounded by log2(distinct) on the corpus") {
    import spark.implicits._
    // handcrafted: all-same chars → 0; "ab" → 1 bit; all-same words → 0
    val tiny = Seq("aaaa", "abab", "x y x y", "z z z z").toDF("text")
    val got = tiny.select(
        round(expr(TextAnalysis.entropySpark("split(text, '')")), 6).as("ch"),
        round(expr(TextAnalysis.entropySpark("split(trim(text), '\\\\s+')")), 6).as("wh"))
      .collect()
    assert(got(0).getDouble(0) === 0.0)            // "aaaa": one symbol
    assert(got(1).getDouble(0) === 1.0)            // "abab": two equiprobable
    assert(got(2).getDouble(1) === 1.0)            // "x y x y": two words
    assert(got(3).getDouble(1) === 0.0)            // "z z z z": one word
    // corpus-wide: 0 <= H <= log2(#distinct), both signals
    val rows = TextAnalysis.q158Entropy.fn(spark, dir).collect()
    assert(rows.nonEmpty)
    val limits = graft.Tables.load(spark, dir, "documents").select(col("doc_id"),
        log2(size(array_distinct(split(col("text"), "")))).as("maxc"),
        log2(size(array_distinct(split(trim(col("text")), "\\s+")))).as("maxw"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    rows.foreach { r =>
      val (maxc, maxw) = limits(r.getLong(0))
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= maxc + 1e-6)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= maxw + 1e-6)
    }
  }

  test("q163: matched terms are lexicon members; hits and matches recomputed exactly") {
    val rows = TextAnalysis.q163LexiconTag.fn(spark, dir).collect()
    val lex = Set("spark", "hash", "merge", "window", "stream")
    val texts = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.nonEmpty)
    var anyHit = false
    rows.foreach { r =>
      val toks = texts(r.getLong(0)).trim.split("\\s+").toSeq
      val hits = toks.count(lex)
      val matched = toks.filter(lex).distinct.sorted.mkString(",")
      assert(r.getLong(1) === hits.toLong, s"hits drift doc ${r.getLong(0)}")
      assert(r.getString(2) === matched, s"matched drift doc ${r.getLong(0)}")
      if (hits > 0) anyHit = true
    }
    assert(anyHit, "the corpus vocabulary contains lexicon terms; some doc must hit")
  }

  test("q159: constructed Zipf corpus fits slope ~ -1; uniform corpus fits slope 0") {
    import spark.implicits._
    // Zipf: token t<i> appears floor(120/i) times, i = 1..40
    val zipf = (1 to 40).flatMap(i => Seq.fill(120 / i)(s"t$i"))
    // uniform: 40 tokens, 5 occurrences each
    val uni = (1 to 40).flatMap(i => Seq.fill(5)(s"u$i"))
    val d = Seq(("zipf", zipf.mkString(" ")), ("uniform", uni.mkString(" ")))
      .toDF("source", "text")
    val fits = TextAnalysis.zipfFit(d).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(fits("zipf") - (-1.0)) < 0.15,
      s"Zipf corpus slope ${fits("zipf")} far from -1")
    assert(math.abs(fits("uniform")) < 1e-9,
      s"uniform corpus slope must be 0, got ${fits("uniform")}")
    // the real corpus: every source's slope is negative (frequency
    // decreases in rank by construction of ranking)
    TextAnalysis.q159ZipfFit.fn(spark, dir).collect().foreach { r =>
      assert(r.getDouble(2) < 0.0, s"source ${r.getString(0)} slope not negative")
      assert(r.getLong(1) <= 100L)
    }
  }

  test("q172: exactly top-3 per doc, ranks dense, scores non-increasing, idf discounts common terms") {
    val rows = TextAnalysis.q172TfidfKeywords.fn(spark, dir).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (id, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq === (1L to sorted.length).toSeq,
        s"doc $id ranks must be dense from 1")
      assert(sorted.length <= 3)
      val scores = sorted.map(_.getDouble(5))
      assert(scores.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
        s"doc $id scores must be non-increasing in rank")
    }
    // a term in every document has idf = ln(1)+1 = 1 → its tfidf equals
    // its tf; any rarer term with the same tf must outscore it
    val n = byDoc.size
    rows.filter(_.getLong(4) == n).foreach { r =>
      assert(math.abs(r.getDouble(5) - r.getLong(3).toDouble) < 1e-9,
        "ubiquitous term's tfidf must equal its raw tf")
    }
  }

  test("q181: samples nest monotonically and the fit matches a driver-side regression") {
    val rows = TextAnalysis.q181HeapsFit.fn(spark, dir).collect()
    assert(rows.length === 10)
    val sorted = rows.sortBy(_.getLong(0))
    // nested hash-bucket subsets: docs, tokens, vocab all non-decreasing
    Seq(1, 2, 3).foreach { c =>
      val vals = sorted.map(_.getLong(c))
      assert(vals.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)),
        s"column $c must be non-decreasing across nested samples")
    }
    // full sample = whole corpus
    assert(sorted.last.getLong(1) ===
      graft.Tables.load(spark, dir, "documents").count())
    // driver-side least squares over the reported points equals the fit
    val pts = sorted.map(r =>
      (math.log(r.getLong(2).toDouble), math.log(r.getLong(3).toDouble)))
    val m = pts.length
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val beta = (sxy - sx * sy / m) / (sxx - sx * sx / m)
    val k = math.exp(sy / m - beta * sx / m)
    assert(math.abs(rows.head.getDouble(4) - beta) < 1e-3, "beta")
    assert(math.abs(rows.head.getDouble(5) - k) < 1e-2, "k")
    // the audit's verdict on the template corpus: closed vocabulary,
    // beta far below the 0.4-0.6 natural-language band
    assert(rows.head.getDouble(4) < 0.2,
      "synthetic template corpus must NOT look like natural language")
  }

  test("q211: readability formulas replay exactly from driver-side counts") {
    val out = TextAnalysis.q211Readability.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).filter(_._2.trim.nonEmpty)
    assert(docs.length === out.size)
    docs.foreach { case (id, t) =>
      val w = t.trim.split("\\s+").length.toDouble
      val l = t.count(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')).toDouble
      val sn = math.max("[.!?]+".r.findAllIn(t).length, 1).toDouble
      val y = "[aeiouy]+".r.findAllIn(t.toLowerCase).length.toDouble
      val r = out(id)
      assert(r.getLong(1) === w.toLong && r.getLong(2) === l.toLong &&
        r.getLong(3) === sn.toLong && r.getLong(4) === y.toLong,
        s"count drift for doc $id")
      assert(r.getDouble(5) === 4.71 * (l / w) + 0.5 * (w / sn) - 21.43)
      assert(r.getDouble(6) ===
        0.0588 * (100.0 * l / w) - 0.296 * (100.0 * sn / w) - 15.8)
      assert(r.getDouble(7) === 206.835 - 1.015 * (w / sn) - 84.6 * (y / w))
    }
  }
}
