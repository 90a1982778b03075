package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.expressions.MisraGriesAgg

/** Cross-batch heavy-hitter monitoring for an incremental corpus: the
  * streaming twin of q133. Each micro-batch reduces to a k-counter
  * Misra-Gries summary INSIDE the cluster (the aggregate's map-side
  * combine — only a k-sized array ever reaches the driver), and the
  * driver folds it into one k-counter state with the identical
  * mergeable-summaries rule the aggregate uses between partitions.
  *
  * Guarantee composition (Agarwal et al.): merging per-batch
  * summaries keeps est ≤ f ≤ est + N/(k+1) for the TOTAL stream
  * length N, and a token with f > N/(k+1) can never vanish across
  * batch boundaries — so a crawl operator watching frequent tokens
  * (or boilerplate fragments, or domains) over a month of ingest
  * holds O(k) state forever, the same discipline as the offline-LM
  * and bloom-history streaming stages (EventStreams).
  *
  * Group-bound note (the QuantileMonitor/DriftMonitor/
  * CompositionMonitor family discipline): none of the three monitors
  * here needs an explicit group bound because none HAS a group axis —
  * [[Monitor]]'s state is capped at k entries by the Misra-Gries
  * merge itself, and [[CmsMonitor]]/[[HllMonitor]] hold fixed-size
  * grids. Driver state is bounded by construction, not by a guard.
  */
object HeavyHitters {

  final class Monitor(val k: Int) {
    @volatile private var state = Map.empty[String, Long]

    /** Fold one micro-batch (a frame with a `token` column) into the
      * monitor. The per-batch summary is computed distributed; only
      * ≤ k (token, count) pairs cross to the driver. */
    def observe(batchTokens: DataFrame): Unit = {
      val rows = batchTokens
        .agg(expr(s"misra_gries(token, $k)").as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.token"), col("e.est"))
        .collect()
      val batch = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
      synchronized { state = MisraGriesAgg.mergeSummaries(state, batch, k) }
    }

    /** Current summary, (est desc, token asc) like the aggregate. */
    def summary: Seq[(String, Long)] =
      state.toSeq.sortBy { case (t, c) => (-c, t) }
  }

  /** The Count-Min twin: one depth×width counter grid folded across
    * micro-batches. Where [[Monitor]] tracks WHICH tokens are hot, the
    * CMS grid answers point queries for ANY token after the fact —
    * and because its merge (element-wise add) is EXACTLY associative,
    * the cross-batch state equals the one-shot sketch over the whole
    * stream bit-for-bit, with no error-compounding caveat at all
    * (CountMinStreamSpec proves equality over 3 batches). Driver
    * state is depth·width longs forever — 8 KiB at the 4×256 default. */
  final class CmsMonitor(val depth: Int = 4, val width: Int = 256) {
    @volatile private var state = new Array[Long](depth * width)

    /** Fold one micro-batch (a frame with a `token` column): the grid
      * is built distributed, one array crosses to the driver. */
    def observe(batchTokens: DataFrame): Unit = {
      val batch = batchTokens
        .agg(expr(s"cms_sketch(token, $depth, $width)").as("sk"))
        .collect().head.getSeq[Long](0)
      synchronized {
        val next = state.clone()
        var i = 0
        while (i < next.length) { next(i) += batch(i); i += 1 }
        state = next
      }
    }

    /** Point-query the accumulated stream: min over the token's
      * `depth` counters — over-counts only, ≤ e·N/width w.h.p. for
      * total stream length N. */
    def estimate(token: String): Long = {
      val s = state
      val hex = CmsMonitor.sha256Hex(token)
      (0 until depth).map { j =>
        s(j * width + Integer.parseInt(hex.substring(4 * j, 4 * j + 4), 16) % width)
      }.min
    }

    def grid: Array[Long] = state.clone()
  }

  object CmsMonitor {
    private def sha256Hex(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Cross-batch HyperLogLog distinct-count monitor — the cardinality
    * member of the streaming sketch trio (identity [[Monitor]],
    * frequency [[CmsMonitor]], cardinality here): each micro-batch
    * builds its register grid distributed via
    * [[graft.functions.expressions.HyperLogLogAgg]], and the driver
    * folds grids with element-wise MAX. Max is associative,
    * commutative, AND idempotent, so the cross-batch state equals the
    * one-shot sketch over the concatenated stream bit-for-bit — and,
    * stronger than the CMS twin, replaying a batch (at-least-once
    * delivery) cannot corrupt the count. State is 256 bytes total,
    * forever. */
  final class HllMonitor {
    import graft.functions.expressions.HyperLogLogAgg
    @volatile private var state = new Array[Int](HyperLogLogAgg.M)

    /** Fold one micro-batch (a frame with a `token` column). */
    def observe(batchTokens: DataFrame): Unit = {
      val batch = batchTokens
        .agg(expr("hll_sketch(token)").as("sk"))
        .collect().head.getSeq[Int](0)
      synchronized {
        val next = state.clone()
        var i = 0
        while (i < next.length) {
          if (batch(i) > next(i)) next(i) = batch(i); i += 1
        }
        state = next
      }
    }

    /** The accumulated distinct-count estimate (standard HLL with
      * linear-counting small-range correction, m = 256). */
    def estimate: Double = {
      val s = state
      val zeros = s.count(_ == 0)
      val harmonic = s.map(r => 1.0 / (1L << r)).sum
      val raw = (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / harmonic
      if (raw <= 640.0 && zeros > 0) 256.0 * math.log(256.0 / zeros) else raw
    }

    def registers: Array[Int] = state.clone()
  }
}
