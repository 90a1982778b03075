package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.expressions.BottomKAgg

/** Cross-batch quantile monitor: the streaming twin of q240's
  * bottom-k quantile sketch, completing the monitor family
  * (MG/CMS → `HeavyHitters.Monitor`/`CmsMonitor`, HLL →
  * `HllMonitor`, composition grids → [[CompositionMonitor]]).
  *
  * Each micro-batch reduces DISTRIBUTED to per-group bottom-k
  * (hash, value) states via the `bottomk_pairs` aggregate — ≤ K
  * entries per group cross the wire regardless of batch size — and
  * the driver folds them with the SAME [[BottomKAgg.insert]] the
  * aggregate runs. Because min-k-by-hash merge is associative,
  * commutative, AND idempotent, the folded state after any batch
  * split equals the one-shot sketch over the concatenated stream
  * exactly (spec-proven), and re-delivered batches cannot corrupt it
  * — the replay-proof property the HLL monitor has and the add-merge
  * monitors (CMS/moments) do not.
  *
  * State: ≤ K (hash, value) pairs per group, and ≤ [[QuantileMonitor
  * .MaxGroups]] groups total — without the group bound, keying the
  * monitor on a high-cardinality column would grow driver state
  * silently (the MG monitor's fixed-k discipline, applied to the
  * group axis; r13 watch note). A batch that would push the group
  * count past the bound REFUSES (throws) rather than evicting:
  * bottom-k states are idempotent under re-delivery but NOT
  * reconstructible after eviction, so silent eviction would turn a
  * monitoring misconfiguration into wrong quantiles. Quantile reads
  * use q240's rank arithmetic (value at rank ⌊(m−1)·q⌋ of the
  * value-ascending sample), so a monitor read agrees with the batch
  * query's estimate on the same data.
  */
final class QuantileMonitor(maxGroups: Int = QuantileMonitor.MaxGroups) {

  @volatile private var kept: Map[String, java.util.TreeMap[String, Long]] =
    Map.empty

  /** Fold one micro-batch: `group` (string), `hash` (the per-row
    * identity coin, e.g. sha2 of the row id), `value` (long). */
  def observe(batch: DataFrame, group: String = "source",
      hash: String = "h", value: String = "v"): Unit = {
    val rows = batch
      .select(col(group).as("g"), col(hash).as("h"), col(value).as("v"))
      .groupBy(col("g"))
      .agg(expr("bottomk_pairs(h, v)").as("ps"))
      .collect()
    synchronized {
      val newGroups = rows.map(_.getString(0)).toSet -- kept.keySet
      if (kept.size + newGroups.size > maxGroups)
        throw new IllegalStateException(
          s"QuantileMonitor: batch introduces ${newGroups.size} new groups " +
          s"(${kept.size} tracked, bound $maxGroups) — the group key is too " +
          "high-cardinality for driver-side monitoring; key on a coarser " +
          "column or raise the constructor bound")
      rows.foreach { r =>
        val buf = kept.getOrElse(r.getString(0),
          new java.util.TreeMap[String, Long]())
        r.getSeq[org.apache.spark.sql.Row](1).foreach { p =>
          BottomKAgg.insert(buf, p.getString(0), p.getLong(1))
        }
        kept += r.getString(0) -> buf
      }
    }
  }

  /** The accumulated per-group samples, value-ascending — exactly the
    * `bottomk_sample` column a one-shot q240 run would produce. */
  def sampleGrid: Map[String, Seq[Long]] =
    kept.map { case (g, buf) =>
      g -> buf.values().toArray(Array.empty[java.lang.Long])
        .map(_.longValue()).sorted.toSeq
    }

  /** q240's quantile read: the value at rank ⌊(m−1)·q⌋ (0-based) of
    * the ascending sample; None for an unseen group. */
  def quantile(group: String, q: Double): Option[Long] = {
    val vs = sampleGrid.get(group)
    vs.filter(_.nonEmpty).map { s =>
      s(math.floor((s.length - 1) * q).toInt)
    }
  }
}

object QuantileMonitor {
  /** Default group-cardinality bound: generous for the intended keys
    * (source/domain/pipeline-stage, tens to hundreds of groups) while
    * capping worst-case driver state at MaxGroups × K pairs ≈ a few
    * MB. */
  val MaxGroups = 10000
}
