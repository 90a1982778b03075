package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Lloyd-clustering invariants beyond the q174 oracle: the output is a
  * partition of the corpus, assignments are true nearest-centroid
  * (re-derived driver-side from raw embeddings), and the whole
  * trajectory is partitioning-invariant (exact-integer arithmetic has
  * no summation-order freedom to lose). */
class ClusterOpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  test("q174: clusters partition the corpus and distances are true nearest-centroid") {
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val out = ClusterOps.q174KmeansClusters.fn(spark, dir).collect()
    assert(out.nonEmpty && out.length <= 8)
    assert(out.map(_.getLong(1)).sum === emb.size.toLong,
      "cluster sizes must sum to the corpus size")
    // re-derive the final centroids through the same quantized recipe
    val q = emb.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1000.0 + 0.5).toLong)
    }
    def bucket(id: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("SHA-256")
        .digest(id.toString.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      Integer.parseInt(hex.substring(0, 4), 16) % 65536
    }
    var cents = q.toSeq.sortBy { case (id, _) => (bucket(id), id) }
      .take(8).map(_._2.clone).toArray
    def assign(v: Array[Long]): (Int, Long) =
      cents.zipWithIndex.map { case (c, j) =>
        (c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum, j)
      }.minBy(identity) match { case (d, j) => (j, d) }
    (1 to 3).foreach { _ =>
      val members = q.toSeq.groupBy { case (_, v) => assign(v)._1 }
      val next = cents.map(_.clone)
      members.foreach { case (j, vs) =>
        (0 until 64).foreach { p =>
          next(j)(p) = math.floor(
            vs.map(_._2(p)).sum.toDouble / vs.size + 0.5).toLong
        }
      }
      cents = next
    }
    val expected = q.toSeq.map { case (_, v) => assign(v) }
      .groupBy(_._1).map { case (j, xs) =>
        j.toLong -> (xs.size.toLong, xs.map(_._2).sum) }
    out.foreach { r =>
      val (n, d2) = expected(r.getLong(0))
      assert(r.getLong(1) === n, s"cluster ${r.getLong(0)} size")
      assert(r.getLong(2) === d2, s"cluster ${r.getLong(0)} objective")
      assert(r.getLong(3) === cents(r.getLong(0).toInt).map(math.abs).sum,
        s"cluster ${r.getLong(0)} centroid fingerprint")
    }
  }

  test("q175: exactly the densest fifth of each cluster is pruned") {
    val rows = ClusterOps.q175PrototypePrune.fn(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(1)).foreach { case (cid, rs) =>
      val n = rs.head.getLong(4)
      assert(rs.length.toLong === n, s"cluster $cid window size")
      val pruned = rs.filter(_.getBoolean(5))
      assert(pruned.length.toLong === n / 5, s"cluster $cid quota")
      // pruned = the lowest (d2, vec_id) prefix: every pruned row's
      // sort key is <= every kept row's
      val keyOf = (r: org.apache.spark.sql.Row) => (r.getLong(2), r.getLong(0))
      val kept = rs.filterNot(_.getBoolean(5))
      if (pruned.nonEmpty && kept.nonEmpty) {
        val maxPruned = pruned.map(keyOf).max
        val minKept = kept.map(keyOf).min
        assert(implicitly[Ordering[(Long, Long)]].lt(maxPruned, minKept),
          s"cluster $cid pruned set must be the densest prefix")
      }
    }
  }

  test("q182: silhouettes are bounded and mostly positive for an assignment-consistent partition") {
    val rows = ClusterOps.q182Silhouette.fn(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 8)
    rows.foreach { r =>
      val (mean, min) = (r.getDouble(2), r.getDouble(3))
      assert(mean >= -1.0 - 1e-9 && mean <= 1.0 + 1e-9)
      assert(min >= -1.0 - 1e-9 && min <= mean + 1e-9)
      // b >= a by argmin construction, so s >= 0 for every vector:
      // a NEGATIVE min silhouette would mean a vector is closer to
      // another centroid than its own — an assignment bug
      assert(min >= -1e-9, s"cluster ${r.getLong(0)} has a misassigned vector")
    }
    assert(rows.map(_.getLong(1)).sum === 500L, "partition must cover the corpus")
  }

  test("q213: ARI matches an independent pair-counting computation; bounds hold") {
    val r = ClusterOps.q213ClusterAgreement.fn(spark, dir).head()
    val (ari, nmi) = (r.getDouble(4), r.getDouble(5))
    assert(ari >= -1.0 && ari <= 1.0)
    assert(nmi >= 0.0 && nmi <= 1.0 + 1e-9)
    // independent ARI: O(n²) pair counting over the same assignment
    val asg = ClusterOps.lloyd(spark, dir)._1
      .select(col("vec_id"), col("cid")).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val lbl = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label")).collect()
      .map(x => x.getLong(0) -> x.getInt(1)).toMap
    val ids = asg.keys.toArray.sorted
    var (n11, n00, n10, n01) = (0L, 0L, 0L, 0L)
    for (i <- ids.indices; j <- (i + 1) until ids.length) {
      val sameU = asg(ids(i)) == asg(ids(j))
      val sameV = lbl(ids(i)) == lbl(ids(j))
      if (sameU && sameV) n11 += 1
      else if (!sameU && !sameV) n00 += 1
      else if (sameU) n10 += 1
      else n01 += 1
    }
    val pairAri = 2.0 * (n11.toDouble * n00 - n10.toDouble * n01) /
      ((n11.toDouble + n10) * (n10.toDouble + n00) +
        (n11.toDouble + n01) * (n01.toDouble + n00))
    assert(math.abs(ari - pairAri) < 1e-6,
      s"contingency ARI $ari vs pair-counting ARI $pairAri")
    // the pair-count identities also pin the comb sums the query reports
    assert(r.getLong(1) === n11, "sum_comb_ij = pairs together in both")
    assert(r.getLong(2) === n11 + n10, "sum_comb_a = same-cluster pairs")
    assert(r.getLong(3) === n11 + n01, "sum_comb_b = same-label pairs")
  }
}
