package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Invariants of the statistical-LM tier beyond the row-hash oracle:
  * bigram accounting, smoothing bounds, BM25 ordering/membership,
  * dup-span symmetry on identical texts, and the broadcast plan shape
  * the 100 TB design depends on. */
class LmOpsSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("q96: one score per multi-token doc, n_bigrams = tokens - 1, nll in the smoothing bounds") {
    val expected = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        (size(split(lower(trim(col("text"))), "\\s+")) - 1).as("exp_bigrams"))
      .filter(col("exp_bigrams") >= 1)
    val got = LmOps.q96LmPerplexity.fn(spark, dir)
    assert(got.count() === expected.count())
    val mismatched = got.join(expected, "doc_id")
      .filter(col("n_bigrams") =!= col("exp_bigrams")).count()
    assert(mismatched === 0L)
    // add-alpha probabilities live in (0, 1): nll strictly positive and
    // finite for every doc
    val rows = got.collect()
    rows.foreach { r =>
      val nll = r.getDouble(r.fieldIndex("avg_nll"))
      assert(nll > 0.0 && !nll.isNaN && !nll.isInfinite, s"nll out of range: $nll")
    }
  }

  test("q96: a doc of corpus-frequent bigrams scores below the corpus maximum") {
    // the model must separate docs — if every doc scored the same the
    // filter would be vacuous
    val scores = LmOps.q96LmPerplexity.fn(spark, dir)
      .agg(min("avg_nll").as("lo"), max("avg_nll").as("hi")).head()
    assert(scores.getDouble(0) < scores.getDouble(1))
  }

  test("q97: top-20 is score-ordered, every hit contains a query term") {
    val rows = LmOps.q97Bm25.fn(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val scores = rows.map(r => r.getDouble(r.fieldIndex("bm25")))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, "not desc-ordered")
    rows.foreach { r =>
      val n = r.getLong(r.fieldIndex("n_terms"))
      assert(n >= 1 && n <= 3)
    }
    // membership: every returned doc really contains >= 1 query term
    val ids = rows.map(_.getLong(0)).toSeq
    val withTerm = graft.Tables.load(spark, dir, "documents")
      .filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("w"))
      .filter(arrays_overlap(col("w"),
        array(lit("spark"), lit("vector"), lit("stream"))))
      .count()
    assert(withTerm === ids.length.toLong)
  }

  test("q98: dup counts bounded by span counts; identical texts are fully duplicated") {
    val got = LmOps.q98DupSpans.fn(spark, dir)
    val bad = got.filter(col("n_dup_spans") > col("n_spans") ||
      col("n_dup_spans") < 0 ||
      abs(col("dup_ratio") - col("n_dup_spans") / col("n_spans")) > 1e-6).count()
    assert(bad === 0L)
    // any pair of docs with byte-identical text and >= SpanLen tokens
    // must be 100% dup-span — every window occurs in the twin
    val d = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), sha2(col("text"), 256).as("h"),
        size(split(lower(trim(col("text"))), "\\s+")).as("n"))
      .filter(col("n") >= 10)
    val twins = d.groupBy("h").agg(count(lit(1)).as("c"), collect_list("doc_id").as("ids"))
      .filter(col("c") >= 2)
      .select(explode(col("ids")).as("doc_id"))
    val twinIds = twins.collect().map(_.getLong(0))
    if (twinIds.nonEmpty) {
      val notFull = got.filter(col("doc_id").isin(twinIds.toSeq: _*))
        .filter(col("dup_ratio") < 1.0).count()
      assert(notFull === 0L, "identical-text twin with dup_ratio < 1.0")
    }
  }

  test("q99: fusion output is consistent — ranks bounded, legs counted, order correct") {
    val rows = LmOps.q99HybridRrf.fn(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val rrfs = rows.map(r => r.getDouble(r.fieldIndex("rrf")))
    assert(rrfs.zip(rrfs.tail).forall { case (a, b) => a >= b }, "not rrf-ordered")
    rows.foreach { r =>
      val n = r.getLong(r.fieldIndex("n_legs"))
      val rrf = r.getDouble(r.fieldIndex("rrf"))
      assert(n >= 1 && n <= 2)
      // per-leg contribution is 1/(60+rank), rank in [1,20]
      assert(rrf > 0 && rrf <= n * (1.0 / 61) + 1e-9)
      assert(rrf >= n * (1.0 / 80) - 1e-9)
    }
    // a doc in both legs' top-20 must outrank a doc in one leg at the
    // same ranks — verify at least that some two-leg doc exists when
    // both legs returned rows (the fusion is not vacuous)
    assert(rows.exists(_.getLong(2) >= 1))
  }

  test("q101: raw docs only, scores finite, and target-overlap correlates with the weight") {
    val got = LmOps.q101Dsir.fn(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(r.fieldIndex("doc_id")) % 10 !== 3L, "target docs must not be scored")
      val lr = r.getDouble(r.fieldIndex("avg_logratio"))
      assert(!lr.isNaN && !lr.isInfinite)
    }
    // the selector must separate docs
    val scores = got.map(r => r.getDouble(r.fieldIndex("avg_logratio")))
    assert(scores.max > scores.min)
    // docs sharing more bigrams with the target slice should score
    // higher: positive correlation between target-bucket overlap and
    // the importance weight
    val toks = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(w) - 1),
          |  i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1)))""".stripMargin)).as("bg"))
    val targetGrams = toks.filter(col("doc_id") % 10 === 3)
      .select(col("bg")).distinct()
    val overlap = toks.filter(col("doc_id") % 10 =!= 3)
      .join(targetGrams.withColumn("hit", lit(1)), Seq("bg"), "left_outer")
      .groupBy("doc_id")
      .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))).as("frac"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pairs = got.map(r => (overlap(r.getLong(0)), r.getDouble(r.fieldIndex("avg_logratio"))))
    val n = pairs.length.toDouble
    val (mx, my) = (pairs.map(_._1).sum / n, pairs.map(_._2).sum / n)
    val cov = pairs.map { case (x, y) => (x - mx) * (y - my) }.sum
    val sx = math.sqrt(pairs.map(p => (p._1 - mx) * (p._1 - mx)).sum)
    val sy = math.sqrt(pairs.map(p => (p._2 - my) * (p._2 - my)).sum)
    val corr = cov / (sx * sy)
    assert(corr > 0.3, s"target-overlap vs importance-weight correlation = $corr")
  }

  test("q102: per-language terciles are balanced and ordered head <= middle <= tail") {
    val rows = LmOps.q102CcnetBuckets.fn(spark, dir).collect()
    assert(rows.nonEmpty)
    val byLang = rows.groupBy(_.getString(1))
    byLang.foreach { case (lang, rs) =>
      val byBucket = rs.groupBy(_.getString(3)).view.mapValues(_.map(_.getDouble(2)))
      // ordering: every head score <= every tail score within the lang
      for (h <- byBucket.getOrElse("head", Array.empty[Double]);
           t <- byBucket.getOrElse("tail", Array.empty[Double]))
        assert(h <= t, s"$lang: head $h > tail $t")
      // terciles are roughly balanced on any non-tiny language
      if (rs.length >= 30) {
        val counts = Seq("head", "middle", "tail")
          .map(b => byBucket.getOrElse(b, Array.empty[Double]).length)
        assert(counts.min > 0, s"$lang: empty bucket in $counts")
        assert(counts.max <= rs.length / 2, s"$lang: degenerate split $counts")
      }
    }
  }

  test("q106: audit accounts for every doc; exact-dup total equals docs minus distinct hashes") {
    val rows = LmOps.q106DedupAudit.fn(spark, dir).collect()
    assert(rows.nonEmpty)
    val d = graft.Tables.load(spark, dir, "documents")
    assert(rows.map(_.getLong(1)).sum === d.count())
    val distinctHashes = d.select(sha2(col("text"), 256)).distinct().count()
    assert(rows.map(_.getLong(2)).sum === d.count() - distinctHashes)
    rows.foreach { r =>
      val frac = r.getDouble(r.fieldIndex("frac_docs_with_dup_span"))
      assert(frac >= 0.0 && frac <= 1.0)
      // <= (not <): a source whose every doc duplicates a lower-doc_id
      // doc from ANOTHER source is legitimately 100% non-canonical
      assert(r.getLong(2) <= r.getLong(1), "more dups than docs in a source")
    }
    // the canonical-keeper rule is global, not per source: exactly one
    // keeper per distinct hash across the whole corpus
    assert(rows.map(r => r.getLong(1) - r.getLong(2)).sum === distinctHashes)
  }

  test("q107: maximal spans are disjoint, cover their windows, and sum to q98's dup count") {
    val spans = LmOps.q107MaxDupSpans.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.nonEmpty, "testdata has duplicated spans; q107 must find them")
    spans.foreach { case (_, _, len, n) =>
      assert(len >= 10, s"span shorter than one window: $len")
      assert(len <= n * 10, s"span longer than its windows can cover: $len vs $n windows")
    }
    // maximal: spans within a doc are separated by a real gap (> window)
    spans.groupBy(_._1).foreach { case (doc, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.zip(sorted.tail).foreach { case ((_, s1, l1, _), (_, s2, _, _)) =>
        assert(s2 > s1 + l1, s"doc $doc: spans touch or overlap — not maximal")
      }
    }
    // conservation: per doc, windows across spans = q98's n_dup_spans
    val q98 = LmOps.q98DupSpans.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(r.fieldIndex("n_dup_spans"))).toMap
    val perDoc = spans.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    assert(perDoc === q98.filter(_._2 > 0),
      "q107 window totals diverge from q98 per-doc dup counts")
  }

  test("trainLm topV prune: full-vocab equivalence, mass conservation, in-vocab monotonicity") {
    val ref = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val full = LmOps.trainLm(ref)
    val rawVocabSize = full.ctxCounts.count().toInt + 1

    // topV >= the whole vocabulary prunes nothing: scores identical
    val unpruned = LmOps.avgNllWith(ref, full).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val noop = LmOps.trainLm(ref, topV = rawVocabSize * 2)
    val noopScores = LmOps.avgNllWith(ref, noop).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(noopScores === unpruned, "a non-pruning topV changed scores")

    // a real prune: hard vocabulary bound and conserved bigram mass
    val topV = 50
    val pruned = LmOps.trainLm(ref, topV)
    assert(pruned.ctxCounts.count() <= topV + 1, "context rows exceed topV + <unk>")
    assert(pruned.vocabSize.collect()(0).getLong(0) <= topV + 1)
    val massOf = (m: LmOps.LmModel) =>
      m.bgCounts.agg(sum(col("c2"))).collect()(0).getLong(0)
    assert(massOf(pruned) === massOf(full),
      "pruning must merge counts, never drop them")

    // monotonicity where it's provable: a doc whose every word is in
    // the pruned vocab keeps its exact counts (c2, c1 unchanged) while
    // the α·V smoothing denominator shrinks — so its nll can only drop
    val vocabSet = pruned.vocab.get.collect().map(_.getString(0)).toSet
    val inVocabDocs = ref.collect().collect {
      case r if {
        val toks = r.getString(1).toLowerCase(java.util.Locale.ROOT)
          .trim.split("\\s+").filter(_.nonEmpty)
        toks.length >= 2 && toks.forall(vocabSet.contains)
      } => r.getLong(0)
    }.toSet
    val prunedScores = LmOps.avgNllWith(ref, pruned).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(inVocabDocs.nonEmpty,
      "monotonicity check would be vacuous: no fully in-vocab doc at topV=50")
    inVocabDocs.foreach { id =>
      assert(prunedScores(id) <= unpruned(id)._2 + 1e-9,
        s"in-vocab doc $id scored worse under the pruned model")
    }
  }

  test("q114 data card: accounts for every doc and agrees with the q106 audit") {
    val card = LmOps.q114DataCard.fn(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val audit = LmOps.q106DedupAudit.fn(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(card.keySet === audit.keySet)
    val d = graft.Tables.load(spark, dir, "documents")
    assert(card.values.map(_.getLong(1)).sum === d.count())
    card.foreach { case (src, r) =>
      assert((r.getLong(1), r.getLong(r.fieldIndex("n_exact_dups"))) ===
        audit(src), s"source $src diverges from the q106 audit")
      val share = r.getDouble(r.fieldIndex("top_lang_share"))
      assert(share > 0.0 && share <= 1.0)
      assert(r.getLong(r.fieldIndex("n_langs")) >= 1)
      assert(r.getLong(r.fieldIndex("n_contaminated")) <= r.getLong(1))
    }
  }

  test("q108 KN: probabilities normalize per context; doc accounting matches q96") {
    val kn = LmOps.q108KnPerplexity.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val q96 = LmOps.q96LmPerplexity.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // same docs scored, same bigram counts, finite positive nll
    assert(kn.keySet === q96.keySet)
    kn.foreach { case (id, (n, nll)) =>
      assert(n === q96(id))
      assert(nll > 0.0 && !nll.isNaN && !nll.isInfinite, s"doc $id nll=$nll")
    }
    // the defining KN property: for any context w1, summing
    // P(w2|w1) over the model's continuation vocabulary gives 1
    val bg = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(w) - 1),
          |  i -> struct(element_at(w, i) as w1, element_at(w, i + 1) as w2))""".stripMargin)).as("b"))
      .select(col("b.w1"), col("b.w2"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val c2 = bg.groupBy(identity).view.mapValues(_.length.toDouble).toMap
    val c1 = bg.groupBy(_._1).view.mapValues(_.length.toDouble).toMap
    val nf = c2.keys.toSeq.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val nb = c2.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
    val npairs = c2.size.toDouble
    val vocab2 = nb.keySet
    c1.keys.take(25).foreach { w1 =>
      val total = vocab2.toSeq.map { w2 =>
        (math.max(c2.getOrElse((w1, w2), 0.0) - 0.75, 0.0) +
          0.75 * nf(w1) * (nb(w2) / npairs)) / c1(w1)
      }.sum
      assert(math.abs(total - 1.0) < 1e-9, s"context '$w1' sums to $total")
    }
  }

  test("q96/q97 plans: model tables ride broadcasts, the corpus never self-joins") {
    val p96 = LmOps.q96LmPerplexity.fn(spark, dir)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p96).size >= 2,
      "bigram/context count joins must be broadcast")
    assert(!p96.contains("CartesianProduct"))
    assert(!p96.contains("SortMergeJoin"),
      "a sort-merge join here means the model tables shuffled the corpus")
    val p97 = LmOps.q97Bm25.fn(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p97.contains("BroadcastHashJoin"))
    assert(p97.contains("TakeOrderedAndProject"),
      "top-20 must be TakeOrdered, not a global sort")
  }

  test("q150: the corpus-first copy survives, later copies are cut, short docs untouched") {
    import spark.implicits._
    val span = (1 to 10).map(i => s"w$i").mkString(" ")      // 10-token span P
    val span2 = (1 to 10).map(i => s"v$i").mkString(" ")     // second span Q
    val docs = Seq(
      (1L, span + " unique tail one"),        // first occurrence of P
      (2L, span + " other tail here"),        // copy of P -> cut
      (3L, "clean doc under ten"),            // < SpanLen: untouched
      (4L, span2 + " " + span),               // first Q; P again -> cut
      (5L, span2 + " standalone ending")      // copy of Q -> cut
    ).toDF("doc_id", "text")
    val out = LmOps.exactSubstrRewriteOf(docs).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((13L, 0L, span + " unique tail one")))
    assert(out(2L)._2 === 10L)
    assert(out(2L)._3 === "other tail here")
    assert(out(3L) === ((4L, 0L, "clean doc under ten")))
    assert(out(4L)._2 === 10L, "doc 4 keeps its first-occurrence Q, loses its copy of P")
    assert(out(4L)._3 === span2)
    assert(out(5L)._2 === 10L)
    assert(out(5L)._3 === "standalone ending")
    // conservation: surviving token mass = original minus removals
    assert(out.values.map(v => v._1 - v._2).sum ===
      out.values.map(_._3).map(t => if (t.isEmpty) 0 else t.split(" ").length).sum)
  }

  test("q150 is consistent with q107: per-doc removed tokens <= non-first maximal span mass") {
    val rewrite = LmOps.q150ExactSubstrRewrite.fn(spark, dir)
    val spans = LmOps.q107MaxDupSpans.fn(spark, dir)
      .groupBy(col("doc_id")).agg(sum(col("span_len")).as("span_mass"))
    val joined = rewrite.join(spans, Seq("doc_id"), "left_outer")
      .withColumn("span_mass", coalesce(col("span_mass"), lit(0L))).collect()
    joined.foreach { r =>
      val removed = r.getLong(r.fieldIndex("tokens_removed"))
      val mass = r.getLong(r.fieldIndex("span_mass"))
      // q107 merges ALL duplicated windows (first copies included), so
      // its mass bounds the rewrite's cut from above; docs whose every
      // dup window is a first occurrence remove nothing
      assert(removed <= mass, s"doc ${r.getLong(0)}: removed $removed > mass $mass")
    }
    assert(joined.exists(r => r.getLong(r.fieldIndex("tokens_removed")) > 0),
      "corpus has known dups; the rewrite must cut somewhere")
  }

  test("q162: KL non-negative (Gibbs), zero only for a corpus-identical source, exact vs driver") {
    val rows = LmOps.q162SourceKl.fn(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(2) >= 0.0, s"KL negative for ${r.getString(0)}"))
    // driver recomputation from raw token counts
    val toks = graft.Tables.load(spark, dir, "documents")
      .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val bySrc = toks.groupBy(_._1).view
      .mapValues(_.groupBy(_._2).view.mapValues(_.length.toDouble).toMap).toMap
    val marg = toks.groupBy(_._2).view.mapValues(_.length.toDouble).toMap
    val n = toks.length.toDouble
    rows.foreach { r =>
      val src = r.getString(0)
      val cnt = bySrc(src)
      val ns = cnt.values.sum
      assert(r.getLong(1) === ns.toLong, s"token count drift for $src")
      val kl = cnt.map { case (t, c) =>
        (c / ns) * math.log((c / ns) / (marg(t) / n))
      }.sum
      assert(math.abs(r.getDouble(2) - kl) < 1e-6, s"KL drift for $src")
    }
  }

  test("q173: weights are a smoothed simplex, monotone in excess loss") {
    val rows = LmOps.q173DoremiWeights.fn(spark, dir).collect()
    assert(rows.nonEmpty)
    val k = rows.length
    // simplex (up to the 6-decimal rounding of each weight)
    val total = rows.map(_.getDouble(5)).sum
    assert(math.abs(total - 1.0) < k * 1e-6, s"weights sum to $total")
    // the uniform-mixing floor: no domain ever falls below c/k
    rows.foreach { r =>
      assert(r.getDouble(5) >= 0.01 / k - 1e-9,
        s"${r.getString(0)} below the smoothing floor") }
    // DRO direction: sorting by excess sorts by weight
    val byExcess = rows.sortBy(_.getDouble(4)).map(_.getDouble(5))
    assert(byExcess.sliding(2).forall(p => p.length < 2 || p(0) <= p(1) + 1e-9),
      "weight must be non-decreasing in excess loss")
    // a domain's own model beats the generic model (excess >= 0 by
    // construction, and on distinct synthetic sources strictly so
    // for at least one domain)
    assert(rows.exists(_.getDouble(4) > 0.0))
  }

  test("q173: more than MaxSources distinct sources fails loudly instead of collecting them") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-q173-sources").toString
    (0 to LmOps.MaxSources).map(i => (i.toLong, s"words of doc $i", "en", s"src$i", 12L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val e = intercept[IllegalStateException](LmOps.q173DoremiWeights.fn(spark, tmp))
    assert(e.getMessage.contains("q173_doremi_weights") &&
      e.getMessage.contains(s"more than ${LmOps.MaxSources} distinct sources"), e.getMessage)
  }

  test("q208: Moore-Lewis scores favor the in-domain slice and keep = score<0") {
    val out = LmOps.q208MooreLewis.fn(spark, dir)
    val src = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
    val joined = out.join(src, "doc_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val ceIn = r.getDouble(r.fieldIndex("ce_in"))
      val ceGen = r.getDouble(r.fieldIndex("ce_gen"))
      val score = r.getDouble(r.fieldIndex("ml_score"))
      assert(ceIn > 0.0 && ceGen > 0.0, "cross-entropies must be positive")
      assert(math.abs(score - BigDecimal(ceIn - ceGen)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
      assert(r.getBoolean(r.fieldIndex("keep")) === (score < 0.0))
    }
    // the selector's whole point: the in-domain seed scores lower
    // (more in-domain-like) on average than the rest of the corpus
    def mean(rows: Array[org.apache.spark.sql.Row]): Double =
      rows.map(_.getDouble(rows.head.fieldIndex("ml_score"))).sum / rows.length
    val (inDom, rest) = joined.partition(
      _.getString(joined.head.fieldIndex("source")) == "src0")
    assert(inDom.nonEmpty && rest.nonEmpty)
    assert(mean(inDom) < mean(rest),
      "in-domain docs must average a lower cross-entropy difference")
  }

  test("q216: the frequency spectrum replays from a driver-side count; missing mass bounded") {
    val rows = LmOps.q216GoodTuring.fn(spark, dir).collect()
    assert(rows.length === 20, "one row per source")
    val byToken = graft.Tables.load(spark, dir, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1))).filter(_._2.trim.nonEmpty)
      .groupBy(_._1)
    rows.foreach { r =>
      val src = r.getString(0)
      val toks = byToken(src).flatMap(_._2.trim.toLowerCase.split("\\s+"))
      val spectrum = toks.groupBy(identity).map(_._2.length)
      assert(r.getLong(1) === toks.length.toLong, s"$src token count")
      assert(r.getLong(2) === spectrum.size.toLong, s"$src vocab")
      assert(r.getLong(3) === spectrum.count(_ == 1).toLong, s"$src hapaxes")
      assert(r.getLong(4) === spectrum.count(_ == 2).toLong, s"$src doubletons")
      val mm = r.getDouble(5)
      assert(mm >= 0.0 && mm < 1.0)
      assert(math.abs(mm - BigDecimal(spectrum.count(_ == 1).toDouble / toks.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
  }
}
