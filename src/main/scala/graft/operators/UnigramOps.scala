package graft.operators

import graft.{QueryDef, Staging, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training and encoding (Kudo 2018, the
  * SentencePiece unigram model) — the other public tokenizer family
  * next to TokenizerOps' BPE. The model is a piece vocabulary with
  * probabilities; training alternates EM (expected piece counts via
  * forward-backward over every word's segmentation lattice, Kudo §3.2)
  * with loss-based pruning (drop the pieces whose removal least
  * reduces corpus likelihood, approximated per piece as
  * `count · (logp − altLogp)` with altLogp the piece's own best
  * segmentation by OTHER pieces — the SentencePiece trainer's
  * approximation); encoding is the Viterbi-best segmentation.
  *
  * EXACT-REPLAY ARITHMETIC (the q174 k-means discipline, so the full
  * trajectory is DuckDB-oracle-checked rather than smoke-tested):
  *  - lattices run in PROBABILITY space with a pinned fold order —
  *    alpha(j) = (((t1 + t2) + t3) + t4), t_l = alpha(j−l)·p(piece),
  *    l ascending, absent pieces contributing an exact 0.0 — so every
  *    value is a fixed tree of correctly-rounded IEEE ops, bit-equal
  *    across engines (no log-sum-exp, whose libm exp/log differ by
  *    ulps across platforms);
  *  - each occurrence's posterior is quantized to an integer
  *    (`floor(x·1e6 + 0.5)`) BEFORE cross-word aggregation, so the
  *    reduce is an exact integer sum under any order/partitioning;
  *  - the M step is one correctly-rounded division of those integers
  *    (`max(c/total, 1e-12)`);
  *  - the prune schedule is FIXED at [[PruneRounds]] rounds (not
  *    while-size>target): keepN = floor(0.8·multi) drains any seed set
  *    (≤ [[MaxSeeds]] = 400 → empty in 23 rounds), and once the floor
  *    `max(target − chars, ·)` binds, further prunes are set-stable
  *    while extra EM rounds just converge the probabilities — the
  *    published procedure with a structural round count, which is what
  *    lets a STATIC oracle replay it;
  *  - the only transcendental is the prune loss `p·ln(p/alt)` (and the
  *    reported logp): engines' ln may differ in the last ulp, which
  *    could in principle flip a prune rank only if two pieces' losses
  *    agree to ~1e-15 relative — the q96 round-6 risk class, accepted.
  *    alt is a MAX over left-associated products; a DP max equals the
  *    explicit per-composition max because fl(·) is monotone.
  *
  * Scale design: all heavy passes run over the DISTINCT-word frequency
  * table (vocabulary-sized, Heaps' law — the same discipline as BPE
  * training): seed-substring counting is one explode + weighted count
  * with a TakeOrdered cap, and every EM round is one mapPartitions
  * over that table with the piece table as a broadcast map, emitting
  * (piece, quantized-count) LONG pairs that aggregate to a MODEL-sized
  * result. The piece table is driver-held BY CONSTRUCTION (seed cap).
  * The 1e6 quantization scale supports ~9·10¹² corpus tokens before
  * int64 saturation (≈ 40 TB of text); beyond that, drop QScale a
  * decade or train per-source models and merge — either preserves the
  * exact-integer-sum property. Encoding segments each distinct word
  * once and joins back onto the corpus word stream (q105's join-back).
  *
  * Ties in Viterbi (equal path probability) break toward FEWER pieces;
  * path probabilities are identical doubles across engines, so the
  * tie-break is exact.
  */
object UnigramOps {

  private val SeedMaxLen = 4     // max seed-piece length (code points)
  private val MaxSeeds = 400     // seed-vocabulary cap (driver-sized seam)
  private val TargetVocab = 80   // final piece count (incl. single chars)
  private val EmRoundsPerPrune = 2
  private val PruneKeep = 0.8    // keep ratio per prune round
  private val PruneRounds = 24   // structural: drains 400 seeds to 0 in 23
  private val ProbFloor = 1e-12  // required single chars never hit 0
  private val QScale = 1e6       // posterior quantization (see scaladoc)

  /** (word, freq) — the distinct-word table, shared tokenization with
    * the LM/BPE tiers. */
  private def wordFreq(d: DataFrame): DataFrame =
    Staging.materialize(LmOps.tokenizedOf(d)
      .select(explode(col("w")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col("word")).agg(count(lit(1)).as("freq")), "ug_words")

  /** Code-point split (matches split(word, "") / BPE's symbol unit). */
  private[operators] def codePoints(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** Code-point lexicographic order — matches Spark's binary UTF-8
    * string comparison and DuckDB's byte order, so driver-side
    * tie-breaks agree with both engines. */
  private val cpOrdering: Ordering[String] = (a: String, b: String) =>
    java.util.Arrays.compare(a.codePoints().toArray, b.codePoints().toArray)

  private val lossOrdering: Ordering[(String, Double)] = {
    val byKey = Ordering.Tuple2(Ordering.Double.TotalOrdering, cpOrdering)
    (x: (String, Double), y: (String, Double)) =>
      byKey.compare((-x._2, x._1), (-y._2, y._1))
  }

  /** Seed vocabulary: the [[MaxSeeds]] highest-frequency substrings of
    * length 2..[[SeedMaxLen]] (freq-weighted, ties lexicographic) plus
    * EVERY single character (required for coverage, never pruned). One
    * distributed explode+count over the word table; the cap is what
    * makes the collected seed table a legitimate driver-sized model. */
  private[operators] def seedPieces(words: DataFrame): (Array[String], Array[String]) = {
    // full windows only: substr past the end yields a shorter piece
    // that would double-count the suffix, so each length guards its
    // own start range (and the size<l guard avoids Spark's DESCENDING
    // sequence(1, 0))
    val subs = words.select(col("freq"), explode(expr(
      s"""flatten(transform(sequence(2, $SeedMaxLen), l ->
         |  case when char_length(word) >= l
         |    then transform(sequence(1, char_length(word) - l + 1),
         |      i -> substr(word, i, l))
         |    else array() end))""".stripMargin)).as("p"))
      .groupBy(col("p")).agg(sum(col("freq")).as("c"))
      .orderBy(col("c").desc, col("p"))
      .limit(MaxSeeds)
      .collect().map(_.getString(0))
    val chars = words.select(explode(split(col("word"), "")).as("ch"))
      .filter(length(col("ch")) >= 1)
      .distinct().collect().map(_.getString(0))
    (chars.sorted(cpOrdering), subs)
  }

  /** Probability-space forward/backward lattice with the pinned fold
    * order (see the object scaladoc) — shared by EM, and mirrored
    * verbatim by the DuckDB oracle's prefix folds. */
  private[operators] def lattice(s: Array[String],
      p: collection.Map[String, Double]): (Array[Double], Array[Double]) = {
    val n = s.length
    val alpha = new Array[Double](n + 1); alpha(0) = 1.0
    var j = 1
    while (j <= n) {
      var acc = 0.0
      var l = 1
      while (l <= SeedMaxLen) {
        val i = j - l
        val t =
          if (i >= 0) alpha(i) * p.getOrElse(s.slice(i, j).mkString, 0.0)
          else 0.0
        acc = acc + t
        l += 1
      }
      alpha(j) = acc
      j += 1
    }
    val beta = new Array[Double](n + 1); beta(n) = 1.0
    var i = n - 1
    while (i >= 0) {
      var acc = 0.0
      var l = 1
      while (l <= SeedMaxLen) {
        val k = i + l
        val t =
          if (k <= n) p.getOrElse(s.slice(i, k).mkString, 0.0) * beta(k)
          else 0.0
        acc = acc + t
        l += 1
      }
      beta(i) = acc
      i -= 1
    }
    (alpha, beta)
  }

  /** Expected piece counts for one word, QUANTIZED per occurrence —
    * (piece → floor(posterior·freq·1e6 + 0.5)) as exact integers, so
    * the distributed reduce is order-free. Pinned op order:
    * ((((alpha·p)·beta)/z)·freq)·1e6. */
  private[operators] def expectedCounts(word: String, freq: Long,
      p: collection.Map[String, Double]): Iterator[(String, Long)] = {
    val s = codePoints(word)
    val n = s.length
    val (alpha, beta) = lattice(s, p)
    val z = alpha(n)
    if (z <= 0.0) return Iterator.empty
    val out = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    var i = 0
    while (i < n) {
      var l = 1
      while (l <= SeedMaxLen && i + l <= n) {
        val k = i + l
        val piece = s.slice(i, k).mkString
        p.get(piece).foreach { pp =>
          val q = math.floor(((((alpha(i) * pp) * beta(k)) / z) * freq) * QScale + 0.5).toLong
          if (q != 0L) out += ((piece, q))
        }
        l += 1
      }
      i += 1
    }
    out.iterator
  }

  /** One EM round over the word table: quantized expected counts
    * distributed via mapPartitions (model broadcast), exact Long sums,
    * normalized to new probabilities on the driver (model-sized). */
  private def emStep(s: SparkSession, words: DataFrame,
      pieces: Map[String, Double]): Map[String, Double] = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(pieces)
    val counts = words.select(col("word"), col("freq")).as[(String, Long)]
      .mapPartitions { it =>
        val p = bc.value
        it.flatMap { case (w, f) => expectedCounts(w, f, p) }
      }
      .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
      .collect().toMap
    val total = counts.values.sum // exact: Long
    pieces.keys.map { piece =>
      val c = counts.getOrElse(piece, 0L)
      piece -> math.max(c.toDouble / total.toDouble, ProbFloor)
    }.toMap
  }

  /** Best alternative probability of segmenting `piece` by OTHER
    * pieces: DP max over left-associated products — equal to the
    * explicit max over compositions (fl is monotone), which is how the
    * oracle computes it. */
  private[operators] def altProb(piece: String,
      p: collection.Map[String, Double]): Option[Double] = {
    val s = codePoints(piece)
    val n = s.length
    val best = Array.fill[Option[Double]](n + 1)(None)
    best(0) = Some(1.0)
    var j = 1
    while (j <= n) {
      var l = 1
      while (l <= math.min(SeedMaxLen, j)) {
        val i = j - l
        if (!(i == 0 && j == n)) { // the piece itself is excluded
          p.get(s.slice(i, j).mkString).foreach { pp =>
            best(i).foreach { b =>
              val cand = b * pp
              if (best(j).forall(cand > _)) best(j) = Some(cand)
            }
          }
        }
        l += 1
      }
      j += 1
    }
    best(n)
  }

  /** Train the unigram model: seed → [[PruneRounds]] × (EM ×2 → prune)
    * → final EM ×2. Single characters are never pruned. Pruning drops
    * the pieces with the smallest likelihood loss `p · ln(p / alt)`
    * (SentencePiece's approximation; exp(logp) is the piece's
    * posterior-mass share after EM normalization) — driver-side over
    * the model-sized table. */
  def trainUnigram(d: DataFrame, targetVocab: Int = TargetVocab): Map[String, Double] = {
    val s = d.sparkSession
    val words = wordFreq(d)
    val (chars, seeds) = seedPieces(words)
    val charSet = chars.toSet
    val init = (chars ++ seeds.filterNot(charSet)).distinct
    var model: Map[String, Double] =
      init.map(p => p -> 1.0 / init.length).toMap
    // single characters are never pruned, so a corpus whose alphabet
    // alone meets the target can't shrink below it — the effective
    // target is the floor the schedule settles at (SentencePiece
    // errors out here; we keep the full alphabet, the usable model)
    val effTarget = math.max(targetVocab, chars.length)
    (1 to PruneRounds).foreach { _ =>
      (1 to EmRoundsPerPrune).foreach(_ => model = emStep(s, words, model))
      val multi = model.keys.filterNot(charSet).toSeq
      val losses = multi.map { x =>
        val alt = altProb(x, model).getOrElse(ProbFloor * ProbFloor)
        x -> (model(x) * math.log(model(x) / alt))
      }
      val keepN = math.max(effTarget - chars.length,
        (multi.size * PruneKeep).toInt)
      val ordered = losses.sorted(lossOrdering)
      val kept =
        if (keepN >= multi.size)
          // at the floor already: hard-trim to the target (a no-op
          // once the set is stable — the idempotence the fixed
          // schedule relies on)
          ordered.take(math.max(0, effTarget - chars.length)).map(_._1).toSet
        else ordered.take(keepN).map(_._1).toSet
      model = model.filter { case (x, _) => charSet(x) || kept(x) }
    }
    (1 to EmRoundsPerPrune).foreach(_ => model = emStep(s, words, model))
    model
  }

  /** Viterbi piece count under the model: per position the candidates
    * are scanned l = 4..1, replacing on strictly-greater probability
    * or an equal positive probability with fewer pieces — identical
    * tuple comparisons to the oracle's (prob, −count) lexicographic
    * max with a (0, 0) sentinel. */
  private[operators] def viterbiCount(word: String,
      p: collection.Map[String, Double]): (Double, Int) = {
    val s = codePoints(word)
    val n = s.length
    val bp = new Array[Double](n + 1); bp(0) = 1.0
    val bc = new Array[Int](n + 1)
    var j = 1
    while (j <= n) {
      var cp = 0.0
      var cc = 0
      var l = math.min(SeedMaxLen, j)
      while (l >= 1) {
        val i = j - l
        val cand = bp(i) * p.getOrElse(s.slice(i, j).mkString, 0.0)
        val cn = bc(i) + 1
        if (cand > cp || (cand == cp && cand > 0.0 && cn < cc)) {
          cp = cand; cc = cn
        }
        l -= 1
      }
      bp(j) = cp; bc(j) = cc
      j += 1
    }
    (bp(n), bc(n))
  }

  // ---------------------------------------------------------------
  // DuckDB oracle: the full trajectory as generated CTEs
  // ---------------------------------------------------------------

  // DuckDB 1.0 list_reduce caveats (empirically pinned while building
  // this oracle — see tools/proto_unigram_sql.py):
  //  - multi-field evolving struct accumulators alias after step 2;
  //  - list_append-grown accumulator lists corrupt;
  //  - a FIXED-SIZE list field REPLACED wholesale each step is correct.
  // Hence the alpha/beta window lives in ONE list field, and full
  // arrays come from per-prefix folds (O(len²) tiny folds per word).
  private val AccFields = "w DOUBLE[], p1 DOUBLE, p2 DOUBLE, p3 DOUBLE, p4 DOUBLE"

  private val InitAcc =
    "{'w': [CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)], " +
      "'p1': CAST(0.0 AS DOUBLE), 'p2': CAST(0.0 AS DOUBLE), " +
      "'p3': CAST(0.0 AS DOUBLE), 'p4': CAST(0.0 AS DOUBLE)}"

  private val NewVal = "(((a.w[1] * e.p1) + a.w[2] * e.p2) + a.w[3] * e.p3) + a.w[4] * e.p4"

  private val Step =
    s"(a, e) -> {'w': [$NewVal, a.w[1], a.w[2], a.w[3]], " +
      "'p1': CAST(0.0 AS DOUBLE), 'p2': CAST(0.0 AS DOUBLE), " +
      "'p3': CAST(0.0 AS DOUBLE), 'p4': CAST(0.0 AS DOUBLE)}"

  private val FoldElem =
    s"CAST({'w': [], 'p1': p1, 'p2': p2, 'p3': p3, 'p4': p4} AS STRUCT($AccFields))"

  private def headCtes: String =
    raw"""tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents),
      uwstream AS MATERIALIZED (SELECT doc_id, unnest(w) AS word FROM tok),
      uwf AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq
        FROM uwstream WHERE length(word) >= 1 GROUP BY word),
      uchars AS MATERIALIZED (
        SELECT DISTINCT substr(word, j, 1) AS piece
        FROM uwf, unnest(range(1, length(word) + 1)) t(j)),
      usubs AS MATERIALIZED (
        SELECT piece FROM (
          SELECT substr(word, i, l) AS piece, CAST(sum(freq) AS BIGINT) AS c
          FROM uwf, unnest(range(2, $SeedMaxLen + 1)) tl(l),
               unnest(range(1, length(word) - l + 2)) ti(i)
          WHERE length(word) >= l
          GROUP BY 1)
        ORDER BY c DESC, piece LIMIT $MaxSeeds),
      um0 AS MATERIALIZED (
        SELECT piece,
          1.0 / (SELECT CAST(count(*) AS DOUBLE) FROM
            (SELECT piece FROM uchars UNION SELECT piece FROM usubs)) AS p
        FROM (SELECT piece FROM uchars UNION SELECT piece FROM usubs)),
      uocc AS MATERIALIZED (
        SELECT f.word, f.freq, ti.i, tl.l, substr(f.word, ti.i + 1, tl.l) AS piece
        FROM uwf f, unnest(range(1, $SeedMaxLen + 1)) tl(l),
             unnest(range(0, length(f.word) - tl.l + 1)) ti(i)
        WHERE length(f.word) >= tl.l)"""

  private def emCtes(s: Int, prev: String): String =
    s"""uop$s AS MATERIALIZED (
        SELECT o.word, o.freq, o.i, o.l, o.piece, coalesce(m.p, CAST(0.0 AS DOUBLE)) AS p
        FROM uocc o LEFT JOIN $prev m USING (piece)),
      uend$s AS (
        SELECT word, i + l AS j,
          CAST(coalesce(max(CASE WHEN l = 1 THEN p END), 0.0) AS DOUBLE) AS p1,
          CAST(coalesce(max(CASE WHEN l = 2 THEN p END), 0.0) AS DOUBLE) AS p2,
          CAST(coalesce(max(CASE WHEN l = 3 THEN p END), 0.0) AS DOUBLE) AS p3,
          CAST(coalesce(max(CASE WHEN l = 4 THEN p END), 0.0) AS DOUBLE) AS p4
        FROM uop$s GROUP BY word, i + l),
      ustart$s AS (
        SELECT word, i,
          CAST(coalesce(max(CASE WHEN l = 1 THEN p END), 0.0) AS DOUBLE) AS p1,
          CAST(coalesce(max(CASE WHEN l = 2 THEN p END), 0.0) AS DOUBLE) AS p2,
          CAST(coalesce(max(CASE WHEN l = 3 THEN p END), 0.0) AS DOUBLE) AS p3,
          CAST(coalesce(max(CASE WHEN l = 4 THEN p END), 0.0) AS DOUBLE) AS p4
        FROM uop$s GROUP BY word, i),
      ua$s AS MATERIALIZED (
        SELECT e1.word, e2.j,
          list_reduce(list_prepend($InitAcc,
            list($FoldElem ORDER BY e1.j)), $Step).w[1] AS a
        FROM uend$s e1 JOIN (SELECT DISTINCT word, j FROM uend$s) e2
          ON e1.word = e2.word AND e1.j <= e2.j
        GROUP BY e1.word, e2.j
        UNION ALL
        SELECT word, 0, CAST(1.0 AS DOUBLE) FROM uwf),
      ub$s AS MATERIALIZED (
        SELECT s1.word, s2.i,
          list_reduce(list_prepend($InitAcc,
            list($FoldElem ORDER BY s1.i DESC)), $Step).w[1] AS b
        FROM ustart$s s1 JOIN (SELECT DISTINCT word, i FROM ustart$s) s2
          ON s1.word = s2.word AND s1.i >= s2.i
        GROUP BY s1.word, s2.i
        UNION ALL
        SELECT word, length(word), CAST(1.0 AS DOUBLE) FROM uwf),
      ucnt$s AS MATERIALIZED (
        SELECT o.piece, CAST(sum(CAST(floor(((((ai.a * m.p) * bk.b)
            / zz.a) * o.freq) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS c
        FROM uocc o JOIN $prev m USING (piece)
        JOIN ua$s ai ON ai.word = o.word AND ai.j = o.i
        JOIN ub$s bk ON bk.word = o.word AND bk.i = o.i + o.l
        JOIN ua$s zz ON zz.word = o.word AND zz.j = length(o.word)
        WHERE zz.a > 0.0
        GROUP BY o.piece),
      umE$s AS MATERIALIZED (
        SELECT m.piece,
          greatest(CAST(coalesce(c.c, 0) AS DOUBLE)
            / (SELECT CAST(sum(c) AS DOUBLE) FROM ucnt$s), CAST(1e-12 AS DOUBLE)) AS p
        FROM $prev m LEFT JOIN ucnt$s c USING (piece))"""

  /** Proper compositions of n into parts ≤ [[SeedMaxLen]], as
    * (offset, len) part lists — the alt-segmentation candidates. */
  private def altCandidates(n: Int): Seq[Seq[(Int, Int)]] = {
    val out = scala.collection.mutable.ArrayBuffer[Seq[(Int, Int)]]()
    def rec(pos: Int, parts: List[(Int, Int)]): Unit =
      if (pos == n) { if (parts.length > 1) out += parts.reverse }
      else (1 to math.min(SeedMaxLen, n - pos)).foreach { l =>
        rec(pos + l, (pos, l) :: parts)
      }
    rec(0, Nil)
    out.toSeq
  }

  private def pruneCtes(s: Int, prev: String): String = {
    val sel = (2 to SeedMaxLen).map { n =>
      val cands = altCandidates(n)
      val needed = cands.flatten.distinct.sorted
      val joins = needed.map { case (o, l) =>
        s"LEFT JOIN $prev sp${o}_$l ON sp${o}_$l.piece = substr(x.piece, ${o + 1}, $l)"
      }.mkString(" ")
      val prods = cands.map { parts =>
        parts.map { case (o, l) => s"sp${o}_$l.p" }
          .reduceLeft((a, b) => s"($a * $b)")
      }.mkString(", ")
      s"""SELECT x.piece, x.p,
            (SELECT max(v) FROM unnest([$prods]) t(v)) AS alt
          FROM (SELECT piece, p FROM $prev WHERE length(piece) = $n) x $joins"""
    }.mkString("\n          UNION ALL\n          ")
    s"""ulo$s AS MATERIALIZED (
        SELECT piece, p, p * ln(p / alt) AS loss FROM (
          $sel)),
      urk$s AS (
        SELECT piece, row_number() OVER (ORDER BY loss DESC, piece) AS rk,
          (SELECT count(*) FROM ulo$s) AS multi_n,
          (SELECT count(*) FROM uchars) AS nchars
        FROM ulo$s),
      umP$s AS MATERIALIZED (
        SELECT m.piece, m.p FROM $prev m
        WHERE length(m.piece) = 1
           OR m.piece IN (
             SELECT piece FROM urk$s
             WHERE rk <= (CASE
               WHEN greatest(greatest($TargetVocab, nchars) - nchars,
                             CAST(trunc(CAST(multi_n AS DOUBLE) * 0.8) AS BIGINT)) >= multi_n
               THEN greatest(greatest($TargetVocab, nchars) - nchars, 0)
               ELSE greatest(greatest($TargetVocab, nchars) - nchars,
                             CAST(trunc(CAST(multi_n AS DOUBLE) * 0.8) AS BIGINT))
             END)))"""
  }

  /** The full training trajectory as CTEs; returns (ctes, finalModel). */
  private[graft] def trainSqlCtes: (String, String) = {
    val parts = scala.collection.mutable.ArrayBuffer(headCtes)
    var prev = "um0"
    var stage = 0
    (1 to PruneRounds).foreach { r =>
      (1 to EmRoundsPerPrune).foreach { _ =>
        stage += 1
        parts += emCtes(stage, prev)
        prev = s"umE$stage"
      }
      parts += pruneCtes(r, prev)
      prev = s"umP$r"
    }
    (1 to EmRoundsPerPrune).foreach { _ =>
      stage += 1
      parts += emCtes(stage, prev)
      prev = s"umE$stage"
    }
    (parts.mkString(",\n      "), prev)
  }

  // Viterbi window: w = [bp1..bp4, bc1..bc4] (probs then counts held
  // exactly as doubles). Candidate pick = lexicographic max over
  // (prob, −count) structs with a (0, 0) sentinel.
  private val VitInit =
    "{'w': [CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), " +
      "CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)], " +
      "'p1': CAST(0.0 AS DOUBLE), 'p2': CAST(0.0 AS DOUBLE), " +
      "'p3': CAST(0.0 AS DOUBLE), 'p4': CAST(0.0 AS DOUBLE)}"

  private val VitPick =
    "list_extract(array_sort([" +
      "{'p': CAST(0.0 AS DOUBLE), 'nc': CAST(0.0 AS DOUBLE)}, " +
      "{'p': a.w[1] * e.p1, 'nc': -(a.w[5] + 1)}, " +
      "{'p': a.w[2] * e.p2, 'nc': -(a.w[6] + 1)}, " +
      "{'p': a.w[3] * e.p3, 'nc': -(a.w[7] + 1)}, " +
      "{'p': a.w[4] * e.p4, 'nc': -(a.w[8] + 1)}]), -1)"

  private val VitStep =
    s"(a, e) -> {'w': [struct_extract($VitPick, 'p'), a.w[1], a.w[2], a.w[3], " +
      s"-struct_extract($VitPick, 'nc'), a.w[5], a.w[6], a.w[7]], " +
      "'p1': CAST(0.0 AS DOUBLE), 'p2': CAST(0.0 AS DOUBLE), " +
      "'p3': CAST(0.0 AS DOUBLE), 'p4': CAST(0.0 AS DOUBLE)}"

  private def encodeCtes(finalModel: String): String =
    s"""uvop AS (
        SELECT o.word, o.i, o.l, coalesce(m.p, CAST(0.0 AS DOUBLE)) AS p
        FROM uocc o LEFT JOIN $finalModel m USING (piece)),
      uvend AS (
        SELECT word, i + l AS j,
          CAST(coalesce(max(CASE WHEN l = 1 THEN p END), 0.0) AS DOUBLE) AS p1,
          CAST(coalesce(max(CASE WHEN l = 2 THEN p END), 0.0) AS DOUBLE) AS p2,
          CAST(coalesce(max(CASE WHEN l = 3 THEN p END), 0.0) AS DOUBLE) AS p3,
          CAST(coalesce(max(CASE WHEN l = 4 THEN p END), 0.0) AS DOUBLE) AS p4
        FROM uvop GROUP BY word, i + l),
      uvt AS MATERIALIZED (
        SELECT word, list_reduce(list_prepend($VitInit,
          list(CAST({'w': [], 'p1': p1, 'p2': p2, 'p3': p3, 'p4': p4}
            AS STRUCT($AccFields)) ORDER BY j)), $VitStep).w AS w
        FROM uvend GROUP BY word),
      useg AS MATERIALIZED (
        SELECT word,
          CASE WHEN w[1] > 0.0 THEN CAST(w[5] AS BIGINT) END AS n_pieces
        FROM uvt)"""

  /** q110: the trained unigram vocabulary (piece, logp, is_char),
    * oracle-checked by replaying the ENTIRE training trajectory —
    * seeds, ${PruneRounds}·${EmRoundsPerPrune}+${EmRoundsPerPrune} EM
    * stages, ${PruneRounds} prunes — as generated DuckDB CTEs
    * ([[trainSqlCtes]]); UnigramOpsSpec additionally proves the model
    * against an independent scalar reference implementation. */
  val q110UnigramVocab: QueryDef = QueryDef(
    "q110_unigram_vocab",
    (s, dir) => {
      val model = trainUnigram(Tables.loadParallel(s, dir, "documents"))
      import scala.jdk.CollectionConverters._
      s.createDataFrame(
        model.toSeq.sortBy(_._1)(cpOrdering).map { case (p, prob) =>
          val lp = BigDecimal(math.log(prob))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          Row(p, lp, codePoints(p).length == 1)
        }.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("piece",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("logp",
            org.apache.spark.sql.types.DoubleType, nullable = false),
          org.apache.spark.sql.types.StructField("is_char",
            org.apache.spark.sql.types.BooleanType, nullable = false))))
        .orderBy(col("piece"))
    },
    Some {
      val (ctes, finalModel) = trainSqlCtes
      s"""WITH $ctes
      SELECT piece, round(ln(p), 6) AS logp, length(piece) = 1 AS is_char
      FROM $finalModel ORDER BY piece"""
    })

  /** q111: Viterbi-encode the corpus with the trained model — each
    * DISTINCT word segmented once (mapPartitions, model broadcast),
    * segmentation joined back onto the word stream, per-doc counts
    * (q105's output shape, enabling a direct BPE-vs-unigram
    * compression comparison). Oracle: training replay + a Viterbi
    * window fold per word ([[encodeCtes]]). */
  val q111UnigramEncode: QueryDef = QueryDef(
    "q111_unigram_encode",
    (s, dir) => {
      import s.implicits._
      val d = Tables.loadParallel(s, dir, "documents")
      val model = trainUnigram(d)
      val bc = s.sparkContext.broadcast(model)
      val vocabSeg = wordFreq(d).select(col("word")).as[String]
        .mapPartitions { it =>
          val p = bc.value
          it.map { w =>
            val (prob, cnt) = viterbiCount(w, p)
            (w, if (prob > 0.0) cnt else -1)
          }
        }.toDF("word", "n_pieces")
      LmOps.tokenizedOf(d)
        .select(col("doc_id"), explode(col("w")).as("word"))
        .filter(length(col("word")) >= 1)
        .join(vocabSeg, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(sum(length(col("word"))).as("n_chars"),
          sum(col("n_pieces")).as("n_unigram_tokens"),
          count(lit(1)).as("n_words"))
        .withColumn("compression",
          round(col("n_chars").cast("double") / col("n_unigram_tokens"), 6))
        .orderBy(col("doc_id"))
    },
    Some {
      val (ctes, finalModel) = trainSqlCtes
      s"""WITH $ctes,
      ${encodeCtes(finalModel)}
      SELECT s.doc_id,
        CAST(sum(length(s.word)) AS BIGINT) AS n_chars,
        CAST(sum(g.n_pieces) AS BIGINT) AS n_unigram_tokens,
        CAST(count(*) AS BIGINT) AS n_words,
        round(CAST(sum(length(s.word)) AS DOUBLE) / sum(g.n_pieces), 6) AS compression
      FROM uwstream s JOIN useg g ON g.word = s.word
      GROUP BY s.doc_id ORDER BY s.doc_id"""
    })

  val all: Seq[QueryDef] = Seq(q110UnigramVocab, q111UnigramEncode)
}
