package graft.operators

import graft.{QueryDef, Staging, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Generalized suffix array over the token corpus, built by DISTRIBUTED
  * PREFIX DOUBLING — the true arbitrary-length form of the ExactSubstr
  * machinery (Lee et al. 2022 build suffix arrays over the corpus; the
  * q98/q107/q150 tier uses the fixed-window surrogate whose union equals
  * the removal REGIONS but cannot answer arbitrary-length questions like
  * "what is the longest substring appearing twice?").
  *
  * Reference shape: suffix-array construction by prefix doubling
  * (Manber–Myers 1990); the distributed formulation — rank tables as
  * keyed datasets, each doubling round a join + global re-rank — is the
  * standard MPI/MapReduce translation (Flick & Aluru 2015, public).
  *
  * Suffixes are DOC-BOUNDED (each suffix runs to its document's end, the
  * generalized suffix array of the doc set), so no sentinels are needed
  * and a "repeated substring" can never straddle two documents — the
  * same containment every operator in this tier assumes.
  *
  * Scale design:
  *   - every doubling round moves fixed-width (doc_id, i, rank) rows
  *     through (doc_id, i)-keyed joins — token text is touched exactly
  *     once, at initial ranking; rounds = ceil(log2 max-doc-tokens)
  *     (docs are chunk-bounded upstream, so ~7-10 rounds, NOT log of
  *     corpus length);
  *   - ranks are HEAD ranks (rank = the class's first global
  *     suffix-array index, i.e. the count of strictly-smaller suffixes
  *     with multiplicity), not dense ranks: head ranks are STABLE — a
  *     class that splits renumbers only inside its own [head,
  *     head+size) interval, so every other class's rank is untouched.
  *     That stability buys the working-set refinement (Larsson &
  *     Sadakane 1999's sort-refinement invariant, here in its
  *     distributed form): a suffix whose class is a singleton has its
  *     FINAL rank and retires from the doubling frame; only positions
  *     in non-singleton classes are paired, sorted, and re-ranked. On
  *     real corpora the active set shrinks geometrically with k
  *     (most suffixes become unique once k exceeds the local repeat
  *     structure), so late rounds sort a small residue instead of the
  *     corpus;
  *   - the (rk, rk2) sort key is PACKED into one int64
  *     ((rk << 32) | (rk2 + 1)) — both ranks fit 32 bits until the
  *     corpus holds > 2^31 suffix positions (guarded by an explicit
  *     refusal naming the unpacked escape), halving sort-key bytes
  *     and comparator work;
  *   - the re-rank itself is one range exchange + the textbook
  *     two-phase scan (per-partition virgin summaries folded on the
  *     driver into incoming states): new rank = class head + offset of
  *     the row's (rk, rk2)-run head inside the class segment. The run
  *     count and singleton (retire) flags fall out of the same scan,
  *     so saturation/fixpoint detection costs nothing;
  *   - each round's rank table is materialized ([[graft.Staging]]) to
  *     truncate iterative lineage, the q130-PageRank convention;
  *     retired positions accumulate as ~log(maxLen) checkpointed
  *     pieces whose lazy union feeds the shifted rk2 lookup;
  *   - the final LCP pass compares only ADJACENT suffix pairs (n-1
  *     rows), each bounded by its doc's remaining tokens — doc-bounded
  *     width, the price of skipping the rank-descend LCP (which would
  *     add another log-round of joins for no asymptotic win here).
  */
object SuffixOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.loadParallel(s, dir, "documents")

  private def tok(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      split(lower(trim(col("text"))), "\\s+").as("w"))

  /** Distributed dense rank: sort, then assign 0-based positions via
    * RDD `zipWithIndex` (computes per-partition offsets — one extra
    * job, no single-partition exchange). The one RDD seam in this
    * operator; everything around it is DataFrame/Catalyst. */
  private def zipWithRank(df: DataFrame, rankCol: String): DataFrame = {
    val schema = df.schema.add(rankCol, LongType, nullable = false)
    val rdd = df.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  private val rankSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("i", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("rk", LongType, nullable = false)))

  /** Packing bound for the one-int64 (rk, rk2) sort key: head ranks
    * are < total suffix positions, so both halves fit 32 bits until
    * the corpus holds 2^31 positions (~2 billion tokens per job — at
    * 100 TB, shard the corpus or fall back to the unpacked two-column
    * sort this key replaced). */
  private val MaxPackablePositions = (1L << 31) - 1

  /** Initial HEAD ranks from token counts — no position-frame sort:
    * rank(token t) = Σ count(t') over t' < t, one small sort of the
    * V-row count table + a cumulative-sum two-phase scan, joined back
    * to positions. Hapax positions (count = 1) are already singleton
    * classes and retire before the first doubling round.
    *
    * Returns (materialized (doc_id, i, rk, retired) frame, total
    * positions, number of non-singleton token classes). */
  private def initialHeadRanks(tokens: DataFrame): (DataFrame, Long, Long) = {
    val s = tokens.sparkSession
    val counts = tokens.groupBy(col("tk")).agg(count(lit(1)).as("c"))
      .orderBy(col("tk"))
    val rdd = counts.rdd.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sums = rdd.mapPartitionsWithIndex { (pid, it) =>
      var tot = 0L; var multi = 0L
      it.foreach { r =>
        val c = r.getLong(1); tot += c; if (c > 1L) multi += 1L
      }
      Iterator.single((pid, tot, multi))
    }.collect().sortBy(_._1)
    val offsets = new Array[Long](sums.length)
    var acc = 0L; var multiClasses = 0L
    sums.foreach { case (pid, tot, m) =>
      offsets(pid) = acc; acc += tot; multiClasses += m
    }
    val bc = s.sparkContext.broadcast(offsets)
    val heads = rdd.mapPartitionsWithIndex { (pid, it) =>
      var h = bc.value(pid)
      it.map { r =>
        val c = r.getLong(1); val row = Row(r.getString(0), h, c); h += c; row
      }
    }
    val headsDf = s.createDataFrame(heads,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("tk",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("rk", LongType, nullable = false),
        org.apache.spark.sql.types.StructField("c", LongType, nullable = false))))
    val combined = Staging.materialize(tokens.join(headsDf, "tk")
      .select(col("doc_id").cast("long").as("doc_id"),
        col("i").cast("long").as("i"), col("rk"),
        (col("c") === 1L).as("retired")), "sa_heads")
    rdd.unpersist(blocking = false)
    (combined, acc, multiClasses)
  }

  /** One doubling round's re-rank over the ACTIVE pair frame: sort by
    * the packed (rk, rk2) int64 key, then the two-phase scan
    * ([[nearestFlaggedLcp]]'s idiom): pass 1 emits per-partition
    * virgin-state summaries (first/last packed key, run count, and
    * the end-of-partition (offset-in-class, sub-run-head) state);
    * the driver folds them in partition order into per-partition
    * incoming states — a class straddling a partition edge shifts the
    * next partition's offsets by the rows already consumed, and a
    * straddling RUN both merges the run count and carries the sub-run
    * head across; pass 2 re-scans from the incoming state and emits
    * new rank = class head + sub-run head offset, plus the retire
    * flag (run size 1 ⇔ neither neighbor, across partitions, shares
    * the packed key). The fold's run total is the new class count, so
    * the fixpoint probe is a free byproduct.
    *
    * Input columns (doc_id, i, pk) with pk = (rk << 32) | (rk2 + 1);
    * returns the materialized (doc_id, i, rk, retired) frame and the
    * distinct-run count. */
  private def headRankScan(packed: DataFrame): (DataFrame, Long) = {
    val s = packed.sparkSession
    val sorted = packed.orderBy(col("pk"))
    val rdd = sorted.rdd.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pass 1: virgin simulation per partition
    val sums = rdd.mapPartitionsWithIndex { (pid, it) =>
      var any = false; var first = -1L; var last = -1L
      var runs = 0L; var off = 0L; var subHead = 0L
      it.foreach { r =>
        val p = r.getLong(2)
        if (!any) { any = true; first = p; runs = 1L; off = 0L; subHead = 0L }
        else {
          if ((p >>> 32) != (last >>> 32)) { off = 0L; subHead = 0L }
          else { off += 1L; if (p != last) subHead = off }
          if (p != last) runs += 1L
        }
        last = p
      }
      Iterator.single((pid, any, first, last, runs, off, subHead))
    }.collect().sortBy(_._1)
    // driver fold: incoming (valid, lastPacked, offInClass, subHead)
    // per partition, plus the straddle-adjusted global run count
    val incoming = new Array[(Boolean, Long, Long, Long)](sums.length)
    var stValid = false; var stLast = -1L; var stOff = 0L; var stSub = 0L
    var totalRuns = 0L
    sums.foreach { case (pid, any, first, last, runs, vOff, vSub) =>
      incoming(pid) = (stValid, stLast, stOff, stSub)
      if (any) {
        val contClass = stValid && (first >>> 32) == (stLast >>> 32)
        val contRun = stValid && first == stLast
        val shift = if (contClass) stOff + 1L else 0L
        totalRuns += runs - (if (contRun) 1L else 0L)
        val oneClass = (last >>> 32) == (first >>> 32)
        val (nOff, nSub) =
          if (oneClass && contClass)
            (vOff + shift,
              // vSub == 0 ⇔ the whole partition is ONE run: its head is
              // the incoming run's head if the run continues, else the
              // partition's first row (global offset = shift)
              if (vSub == 0L) { if (contRun) stSub else shift }
              else vSub + shift)
          else (vOff, vSub)
        stOff = nOff; stSub = nSub; stLast = last; stValid = true
      }
    }
    // next non-empty partition's first packed key, for the retire
    // lookahead of each partition's last row (-1 = none; packed keys
    // are always >= 0)
    val nextFirst = new Array[Long](sums.length)
    var nf = -1L
    sums.indices.reverse.foreach { idx =>
      nextFirst(idx) = nf
      if (sums(idx)._2) nf = sums(idx)._3
    }
    val bcIn = s.sparkContext.broadcast(incoming)
    val bcNext = s.sparkContext.broadcast(nextFirst)
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      var (valid, last, off, subHead) = bcIn.value(pid)
      val nextP = bcNext.value(pid)
      val buf = it.buffered
      new Iterator[Row] {
        def hasNext: Boolean = buf.hasNext
        def next(): Row = {
          val r = buf.next()
          val p = r.getLong(2)
          val rk = p >>> 32
          val prevValid = valid; val prevP = last
          if (!valid || rk != (last >>> 32)) { off = 0L; subHead = 0L }
          else { off += 1L; if (p != last) subHead = off }
          val nxt = if (buf.hasNext) buf.head.getLong(2) else nextP
          val retire = (!prevValid || prevP != p) && nxt != p
          valid = true; last = p
          Row(r.getLong(0), r.getLong(1), rk + subHead, retire)
        }
      }
    }
    val schema = rankSchema.add("retired",
      org.apache.spark.sql.types.BooleanType, nullable = false)
    // materialize before unpersisting the sorted input (both passes
    // read it; a lazy result would recompute the sort after unpersist)
    val result = Staging.materialize(s.createDataFrame(out, schema), "sa_rerank")
    rdd.unpersist(blocking = false)
    (result, totalRuns)
  }

  /** Suffix ranks after full prefix doubling: (doc_id, i, rk) where rk
    * HEAD-ranks the suffixes starting at token i (1-based) of each doc
    * — rk = the number of strictly-smaller suffixes in the corpus,
    * counted WITH multiplicity, so identical suffixes share a rank and
    * ranks are suffix-order-isomorphic (all any consumer sorts on). */
  private[operators] def suffixRanks(s: SparkSession, dir: String): DataFrame = {
    val tw = tok(s, dir)
    val tokens = tw
      .select(col("doc_id"), posexplode(col("w")).as(Seq("i0", "tk")))
      .select(col("doc_id"), (col("i0") + 1).as("i"), col("tk"))
    // max(...) over an empty table aggregates to NULL — return the
    // empty rank frame instead of NPE-ing on getInt (the oracle's
    // empty result)
    val maxLenRow = tw.agg(max(size(col("w")))).first()
    if (maxLenRow.isNullAt(0))
      return s.createDataFrame(s.sparkContext.emptyRDD[Row], rankSchema)
    val maxLen = maxLenRow.getInt(0).toLong

    val (combined0, totalPositions, classes0) = initialHeadRanks(tokens)
    require(totalPositions <= MaxPackablePositions,
      s"suffix array: $totalPositions token positions exceed the packed " +
      "int64 sort-key bound (2^31-1) — shard the corpus per job or " +
      "restore the unpacked (rk, rk2) two-column sort")
    val proj = Seq(col("doc_id"), col("i"), col("rk"))
    var pieces = List(combined0.filter(col("retired")).select(proj: _*))
    var active = combined0.filter(!col("retired")).select(proj: _*)
    var nActive = active.count()
    // classes currently represented in the active frame (all of size
    // >= 2 — singletons retired on arrival)
    var activeClasses = classes0

    var k = 1L
    while (k < maxLen && nActive > 0L) {
      // rank of the suffix k tokens ahead, seen from position i: the
      // lookup target may be retired (its rank is final and, under the
      // head convention, still the correct current-round rank), so the
      // shifted side reads the WHOLE table — retired pieces + active
      val full = (active :: pieces).reduce(_ unionByName _)
      val shifted = full.select(col("doc_id"), (col("i") - k).as("i"),
        col("rk").as("rk2"))
      val paired = active.join(shifted, Seq("doc_id", "i"), "left_outer")
        .na.fill(-1L, Seq("rk2")) // past end-of-doc: shorter sorts first
      val (scanned, runs) = headRankScan(paired.select(col("doc_id"),
        col("i"),
        (shiftleft(col("rk"), 32) + col("rk2") + lit(1L)).as("pk")))
      val newActive = scanned.filter(!col("retired")).select(proj: _*)
      val nNew = newActive.count()
      val retiredNow = nActive - nNew
      if (retiredNow > 0L)
        pieces ::= scanned.filter(col("retired")).select(proj: _*)
      // prefix-doubling fixpoint: if NO class split this round (run
      // count equals the incoming class count and nothing retired),
      // surviving classes agree on every k-block by induction — the
      // suffixes are identical to end-of-doc — and further rounds are
      // the identity. Real corpora instead DRAIN: the active set
      // shrinks geometrically once k passes the local repeat depth,
      // and the loop ends at nActive = 0 long before k reaches maxLen.
      val saturated = retiredNow == 0L && runs == activeClasses
      active = newActive
      nActive = if (saturated) 0L else nNew
      activeClasses = runs - retiredNow
      k *= 2L
    }
    (active :: pieces).reduce(_ unionByName _)
  }

  /** Adjacent-suffix LCPs: (dA, iA, lcp, wA) for each neighbor pair in
    * suffix-array order — lcp computed by direct comparison of the two
    * doc-bounded suffix slices. */
  private def indexedSa(s: SparkSession, dir: String): DataFrame =
    Staging.materialize(zipWithRank(
      suffixRanks(s, dir).orderBy(col("rk"), col("doc_id"), col("i")), "idx"),
      "sa_indexed")

  /** Tokens shipped per suffix row through the LCP joins. Adjacent-SA
    * neighbors sharing a prefix past this bound escalate to the exact
    * full-width compare — a set bounded by the corpus's deep-repeat
    * structure, tiny in practice (at 100 TB, repeat the doubling:
    * 64 → 128 → … instead of one full-width pass). */
  private val LcpBound = 64

  /** LCP of two suffix slices via the native early-exit
    * [[graft.functions.expressions.PrefixLcp]] expression — first
    * mismatch (or null element) index, min(len) when one slice
    * prefixes the other. The former zip_with+array_position form
    * computed ALL min(len) compares and a boolean array per row;
    * adjacent SA suffixes overwhelmingly diverge in the first few
    * tokens, so the early exit is the hot-loop fix (x100 profile in
    * SCALE.md Round 14). TextExpressionsSpec proves the two forms
    * row-identical, nulls and prefix cases included. */
  private def lcpCols(df: DataFrame): DataFrame = {
    df.withColumn("lcp", expr("prefix_lcp(sufA, sufB)"))
  }

  /** Adjacent-suffix LCPs, PAYLOAD-BOUNDED: each suffix row ships only
    * a [[LcpBound]]-token slice through the pair joins (the slice is
    * projected BEFORE the next join's exchange — a full doc array
    * crosses a shuffle only at doc granularity, never per suffix row;
    * the round-9 form shipped each doc's whole token array per suffix
    * row through the second join, O(docLen²) bytes per doc). Pairs
    * whose bounded compare is inconclusive — no mismatch within the
    * bound and both suffixes extend past it — re-join the full arrays
    * in a second, exact pass over just those rows. */
  private def neighborLcpOf(sa: DataFrame, arrs: DataFrame): DataFrame = {
    val a = sa.select(col("idx"), col("doc_id").as("dA"), col("i").as("iA"))
    val b = sa.select((col("idx") - 1).as("idx"),
      col("doc_id").as("dB"), col("i").as("iB"))
    val bounded = a.join(b, "idx")
      .join(arrs.select(col("doc_id").as("dA"), col("w").as("wAf")), Seq("dA"))
      // bound the payload BEFORE the dB join's exchange
      .select(col("idx"), col("dA"), col("iA"), col("dB"), col("iB"),
        expr(s"slice(wAf, iA, $LcpBound)").as("sufA"),
        (size(col("wAf")) - col("iA") + 1).as("sufLenA"))
      .join(arrs.select(col("doc_id").as("dB"), col("w").as("wBf")), Seq("dB"))
      .select(col("idx"), col("dA"), col("iA"), col("dB"), col("iB"),
        col("sufA"), col("sufLenA"),
        expr(s"slice(wBf, iB, $LcpBound)").as("sufB"),
        (size(col("wBf")) - col("iB") + 1).as("sufLenB"))
    // conclusive: a mismatch inside the bound, or either suffix ending
    // within it (its end IS the lcp); inconclusive only when the two
    // slices agree on all LcpBound tokens and both suffixes continue.
    // Project the slices AWAY before the checkpoint: the materialized
    // frame is 6 slim columns per row, not two LcpBound-token arrays
    // (the wide form wrote the whole slice payload to checkpoint
    // storage — measured as most of the bounded pass at x100)
    val scored = Staging.materialize(lcpCols(bounded)
      .select(col("idx"), col("dA"), col("iA"), col("dB"), col("iB"),
        col("lcp"),
        (col("lcp") === LcpBound && col("sufLenA") > LcpBound &&
          col("sufLenB") > LcpBound).as("open")), "lcp_scored")
    val resolved = scored.filter(!col("open"))
      .select(col("idx"), col("dA"), col("iA"), col("lcp"))
    val escalated = lcpCols(scored.filter(col("open"))
      .select(col("idx"), col("dA"), col("iA"), col("dB"), col("iB"))
      .join(arrs.select(col("doc_id").as("dA"), col("w").as("wAf")), Seq("dA"))
      .join(arrs.select(col("doc_id").as("dB"), col("w").as("wBf")), Seq("dB"))
      .withColumn("sufA", expr("slice(wAf, iA, size(wAf))"))
      .withColumn("sufB", expr("slice(wBf, iB, size(wBf))")))
      .select(col("idx"), col("dA"), col("iA"), col("lcp"))
    // the join key pairs rows (idx, idx+1); relabel each pair by its
    // LATER row so "lcp at idx x" = lcp(x-1, x) — the convention
    // saWithLcp documents and the q168 scans rely on (this was an
    // off-by-one caught by the python cross-check: every edge was
    // attached to the pair's earlier row)
    resolved.unionByName(escalated)
      .select((col("idx") + 1).as("idx"), col("dA"), col("iA"), col("lcp"))
  }

  /** The suffix array with its adjacent-LCP column: (idx, doc_id, i,
    * lcp) where `lcp` is the common-prefix length with the PREVIOUS
    * suffix in SA order (0 for idx 0). The substrate of every
    * arbitrary-length duplication question: lcp(x, y) for any x < y is
    * `min(lcp[x+1..y])` (the classic SA/LCP range property), so
    * nearest-neighbor overlap queries become running-min scans. */
  private[operators] def saWithLcp(s: SparkSession, dir: String): DataFrame = {
    val sa = indexedSa(s, dir)
    sa.join(neighborLcpOf(sa, tok(s, dir)).select(col("idx"), col("lcp")),
        Seq("idx"), "left_outer")
      .na.fill(0L, Seq("lcp"))
      .select(col("idx"), col("doc_id"), col("i"), col("lcp"))
  }

  /** q164: the corpus's longest repeated token substring — its length,
    * how many DISTINCT substrings tie at that length, and the
    * lexicographically smallest as a sample. The question the
    * fixed-window tier cannot answer (any window length would clip it);
    * one maximal answer row, so the DuckDB oracle can brute-force every
    * (start, length) window and must agree exactly.
    *
    * A substring of length m repeats somewhere in the corpus iff two
    * suffixes share an m-token prefix iff some ADJACENT suffix-array
    * pair has lcp >= m — so the answer length is simply max(lcp), and
    * the tied substrings are the lcp-long prefixes of the maximal
    * pairs. */
  val q164LongestDup: QueryDef = QueryDef(
    "q164_longest_dup",
    (s, dir) => {
      val nb = Staging.materialize(
        neighborLcpOf(indexedSa(s, dir), tok(s, dir)), "q164_nb")
      val m = nb.agg(max(col("lcp")).as("m"))
      // only the MAXIMAL pairs (a handful of rows) rejoin the token
      // arrays to extract their sample text — the LCP pass itself
      // ships bounded slices (see neighborLcpOf)
      nb.crossJoin(broadcast(m))
        .filter(col("lcp") === col("m") && col("m") >= 1)
        .join(tok(s, dir).select(col("doc_id").as("dA"), col("w").as("wA")),
          Seq("dA"))
        .select(col("m").as("dup_len"),
          concat_ws(" ", slice(col("wA"), col("iA"), col("m"))).as("s"))
        .groupBy(col("dup_len"))
        .agg(count_distinct(col("s")).as("n_substrings"),
          min(col("s")).as("sample_text"))
        .orderBy(col("dup_len"))
    },
    Some("""WITH tok AS (SELECT doc_id,
      |    regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents),
      |  lens AS (SELECT unnest(range(1, (SELECT max(len(w)) FROM tok) + 1)) AS L),
      |  spans AS (SELECT array_to_string(w[i : i + L - 1], ' ') AS s, L
      |    FROM tok, lens, unnest(range(1, len(w) - L + 2)) AS t(i)
      |    WHERE len(w) >= L),
      |  dup AS (SELECT L, s FROM spans GROUP BY L, s HAVING count(*) >= 2),
      |  best AS (SELECT max(L) AS dup_len FROM dup)
      |SELECT b.dup_len, count(*) AS n_substrings, min(d.s) AS sample_text
      |FROM best b JOIN dup d ON d.L = b.dup_len
      |GROUP BY b.dup_len ORDER BY dup_len""".stripMargin))

  // ---------------------------------------------------------------
  // q168: benchmark contamination depth (nearest-flagged-suffix scan)
  // ---------------------------------------------------------------

  /** Per-row longest common prefix with the NEAREST flagged row in scan
    * order, as a distributed segmented running-min scan.
    *
    * Input rows are (doc_id, flag, edge), already SORTED in scan
    * direction with partitions in order (the output of a range sort);
    * `edge` is the adjacent LCP between this row and the one before it
    * in scan order. By the SA range property, lcp(x, nearest flagged
    * row before x) = running min of edges since that row — so one
    * forward scan answers the query for one direction.
    *
    * Distribution is the textbook two-phase parallel scan: each
    * partition simulates the scan from a fresh state and emits its
    * summary (the state is (flag seen?, min-since-last-flag) and is
    * associative to compose), the driver folds the partition summaries
    * in order into per-partition incoming states (a #partitions-sized
    * array — never data-sized), and a second pass re-scans each
    * partition from its incoming state emitting per-row results. Two
    * narrow passes, zero shuffles beyond the sort the caller already
    * paid. */
  private def nearestFlaggedLcp(rows: DataFrame): DataFrame = {
    val s = rows.sparkSession
    // persist: both passes (summary collect, per-row emit) read this
    // lineage — unpersisted, the caller's full sort would execute
    // twice per invocation, and the state composition would silently
    // depend on the recomputation being deterministic
    val rdd = rows.rdd.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sums = rdd.mapPartitionsWithIndex { (pid, it) =>
      var seen = false; var cur = Long.MaxValue
      it.foreach { r =>
        cur = math.min(cur, r.getLong(2))
        if (r.getBoolean(1)) { seen = true; cur = Long.MaxValue }
      }
      Iterator.single((pid, seen, cur))
    }.collect().sortBy(_._1)
    val incoming = new Array[(Boolean, Long)](sums.length)
    var st = (false, Long.MaxValue)
    sums.foreach { case (pid, seen, cur) =>
      incoming(pid) = st
      st = if (seen) (true, cur) else (st._1, math.min(st._2, cur))
    }
    val bc = s.sparkContext.broadcast(incoming)
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      var (seen, cur) = bc.value(pid)
      it.flatMap { r =>
        cur = math.min(cur, r.getLong(2))
        val res =
          if (!r.getBoolean(1) && seen && cur > 0L)
            Iterator.single(Row(r.getLong(0), cur))
          else Iterator.empty
        if (r.getBoolean(1)) { seen = true; cur = Long.MaxValue }
        res
      }
    }
    // materialize the emit pass eagerly (its output is flagged-row
    // bounded, far smaller than the input), then drop the input cache:
    // Verify/Bench run every query in one long-lived session, so an
    // un-unpersisted RDD here would leak a corpus-sized cache entry
    // per invocation until session end
    val result = Staging.materialize(s.createDataFrame(out,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("ov",
          org.apache.spark.sql.types.LongType, nullable = false)))),
      "flagged_lcp")
    rdd.unpersist(blocking = false)
    result
  }

  /** q168: contamination DEPTH — for every non-benchmark document, the
    * length in tokens of its longest contiguous substring that also
    * appears anywhere in the benchmark set (docs with doc_id % 10 = 7,
    * q92's convention). q92 answers "is this doc contaminated?" at one
    * fixed n-gram size; this answers "HOW MUCH contiguous benchmark
    * text leaked?", the number a decontamination policy actually
    * thresholds on (Lee et al. / open-pretraining decontamination
    * reports use exactly this longest-overlap statistic).
    *
    * Shape: best overlap of suffix x with ANY benchmark suffix is
    * max(lcp to nearest benchmark suffix above, below) in SA order —
    * extending past the nearest flagged row can only shrink a running
    * min — so two [[nearestFlaggedLcp]] scans (one per direction; the
    * downward pass reuses the SAME scan on the idx-reversed frame with
    * the shifted edge column) and a per-doc max answer it exactly. The
    * DuckDB oracle brute-forces every (start, length) window against
    * the benchmark windows and must agree. */
  val q168ContamDepth: QueryDef = QueryDef(
    "q168_contam_depth",
    (s, dir) => {
      val sa = Staging.materialize(saWithLcp(s, dir)
        .withColumn("flag", col("doc_id") % 10 === 7), "q168_sa")
      // downward edge at row x = adjacent lcp between x and x+1
      val withNext = sa.join(
        sa.select((col("idx") - 1).as("idx"), col("lcp").as("lcp_next")),
        Seq("idx"), "left_outer")
        .na.fill(0L, Seq("lcp_next"))
      val up = nearestFlaggedLcp(
        sa.orderBy(col("idx"))
          .select(col("doc_id"), col("flag"), col("lcp").as("edge")))
      val down = nearestFlaggedLcp(
        withNext.orderBy(col("idx").desc)
          .select(col("doc_id"), col("flag"), col("lcp_next").as("edge")))
      up.unionByName(down)
        .groupBy(col("doc_id"))
        .agg(max(col("ov")).as("overlap_tokens"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH tok AS (SELECT doc_id,
      |    regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents),
      |  lens AS (SELECT unnest(range(1, (SELECT max(len(w)) FROM tok) + 1)) AS L),
      |  spans AS (SELECT doc_id, L, array_to_string(w[i : i + L - 1], ' ') AS s
      |    FROM tok, lens, unnest(range(1, len(w) - L + 2)) AS t(i)
      |    WHERE len(w) >= L),
      |  bench AS (SELECT DISTINCT L, s FROM spans WHERE doc_id % 10 = 7),
      |  m AS (SELECT DISTINCT sp.doc_id, sp.L FROM spans sp
      |    JOIN bench b ON sp.L = b.L AND sp.s = b.s
      |    WHERE sp.doc_id % 10 <> 7)
      |SELECT doc_id, CAST(max(L) AS BIGINT) AS overlap_tokens
      |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  val all: Seq[QueryDef] = Seq(q164LongestDup, q168ContamDepth)
}
