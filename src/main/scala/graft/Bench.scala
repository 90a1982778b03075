package graft

import scala.util.control.NonFatal

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Each query is forced end-to-end with a noop
  * write (full plan execution, no driver collect, no agg-pushdown
  * shortcuts a bare count() would take).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftExtensions.session("graft-bench", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    // Warm the JVM + parquet footers once (session init dominates
    // otherwise and measures the JIT, not the plans). Guarded per table:
    // round 8's bench was zeroed ENTIRELY because one table's loader threw
    // here, before any per-query try/catch — a broken table must cost its
    // own queries -1, never the round's numbers.
    Tables.names.foreach { n =>
      try Tables.load(spark, sfDir, n).schema
      catch { case NonFatal(e) => System.err.println(s"[bench] warmup $n: $e") }
    }
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case NonFatal(e) => System.err.println(s"[bench] warmup entry: $e") }

    // three passes per query, report the MEDIAN: pass 1 pays one-time
    // codegen compilation + AQE statistics, passes 2-3 are the
    // steady-state throughput a long-running cluster job sees, and the
    // median discards BOTH the cold outlier and a single shared-sandbox
    // hiccup — the round-9 archive carried 2-5× noise spikes a
    // min(cold, warm) pair could not distinguish from regressions.
    // A query that throws reports -1, not a meaningless elapsed time.
    // Optional comma-separated headline filter for focused iteration
    // (SPARK_GRAFT_BENCH_ONLY=q98_dup_spans,q100_ann_ivfpq); the
    // driver never sets it, so the round bench always runs everything.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // ANN index queries are timed as build + probe components below —
    // one number would hide the query-side cost the 100×-scale story
    // depends on (the build is staged once and amortized).
    val split = Set("q85_ann_pq", "q100_ann_ivfpq", "q117_ann_sq8")
    val picked = only.fold(SparkEntry.headlines)(names =>
      SparkEntry.headlines.filter(q => names(q.name)))
      .filterNot(q => split(q.name) && only.isEmpty)
    import BenchMath.{median3, spread3}
    // (name, median, rep spread)
    def runAll(): Seq[(String, Double, Double)] = {
      val results = picked.map { q =>
        def once(): Double = {
          val t0 = System.nanoTime()
          try {
            q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch {
            case NonFatal(e) => System.err.println(s"[bench] ${q.name}: $e"); -1.0
          }
        }
        val (a, b, c) = (once(), once(), once())
        (q.name, median3(a, b, c), spread3(a, b, c))
      }

      // Build/probe split for the ANN index headliners: the build is
      // forced via localCheckpoint (the local stand-in for staging the
      // index partitionBy(cell) at scale), then probes run against the
      // materialized artifact. median-of-3 convention as above.
      def timed(f: => Unit): Double = {
        val t0 = System.nanoTime()
        try { f; (System.nanoTime() - t0) / 1e9 }
        catch { case NonFatal(e) => System.err.println(s"[bench] split: $e"); -1.0 }
      }
      def rep3(f: () => Double): (Double, Double) = {
        val (a, b, c) = (f(), f(), f())
        (median3(a, b, c), spread3(a, b, c))
      }
      val splitResults: Seq[(String, Double, Double)] =
        if (only.nonEmpty) Seq.empty
        else {
          var pq: org.apache.spark.sql.DataFrame = null
          val b85 = rep3(() => timed {
            pq = operators.AnnOps.pqIndex(spark, sfDir).localCheckpoint()
          })
          val p85 = rep3(() => timed {
            operators.AnnOps.pqProbe(spark, sfDir, pq)
              .write.format("noop").mode("overwrite").save()
          })
          var ivfpq: org.apache.spark.sql.DataFrame = null
          val b100 = rep3(() => timed {
            ivfpq = operators.AnnOps.ivfpqIndex(spark, sfDir).localCheckpoint()
          })
          val p100 = rep3(() => timed {
            operators.AnnOps.ivfpqProbe(spark, sfDir, ivfpq)
              .write.format("noop").mode("overwrite").save()
          })
          var sq8: (org.apache.spark.sql.DataFrame, Seq[Double], Seq[Double]) = null
          val b117 = rep3(() => timed {
            val (c, mn, sc) = operators.AnnOps.sq8Index(spark, sfDir)
            sq8 = (c.localCheckpoint(), mn, sc)
          })
          val p117 = rep3(() => timed {
            operators.AnnOps.sq8Probe(spark, sfDir, sq8._1, sq8._2, sq8._3)
              .write.format("noop").mode("overwrite").save()
          })
          Seq(("q85_ann_pq_build", b85._1, b85._2),
            ("q85_ann_pq_probe", p85._1, p85._2),
            ("q100_ann_ivfpq_build", b100._1, b100._2),
            ("q100_ann_ivfpq_probe", p100._1, p100._2),
            ("q117_ann_sq8_build", b117._1, b117._2),
            ("q117_ann_sq8_probe", p117._1, p117._2))
        }
      results ++ splitResults
    }

    def loadavg(): Double =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
      catch { case NonFatal(_) => -1.0 }

    val spreadLimit =
      sys.env.getOrElse("SPARK_GRAFT_SPREAD_LIMIT", "1.5").toDouble
    val envelope = sys.env.getOrElse("SPARK_GRAFT_Q01_ENVELOPE", "1.2").toDouble
    def contended(rs: Seq[(String, Double, Double)]): Seq[String] =
      BenchMath.contended(rs, spreadLimit)
    def q01Of(rs: Seq[(String, Double, Double)]): Option[Double] =
      BenchMath.q01Of(rs)
    def tripped(rs: Seq[(String, Double, Double)]): Boolean =
      BenchMath.tripped(rs, envelope, spreadLimit)

    val loadBefore = loadavg()
    var run = runAll()
    var reran = false
    // One automatic full re-run when the first run shows contention:
    // the artifact of record should carry the quiet measurement when a
    // quiet window exists, and flag loudly when it does not.
    if (tripped(run)) {
      System.err.println("[bench] contention detected " +
        s"(q01=${q01Of(run).getOrElse(-1.0)}, spread>${spreadLimit}x on " +
        s"[${contended(run).mkString(",")}]) — re-running once")
      val second = runAll()
      reran = true
      run = BenchMath.cleaner(run, second, envelope, spreadLimit)
    }
    val loadAfter = loadavg()

    val all = run.map { case (n, med, _) => (n, med) }
    val spreads = run.map { case (n, _, sp) => (n, sp) }
    val qs = all.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // self-normalizing record: each query's ratio to the in-run q01
    // normalizer, so a reader can tell a shared-sandbox hiccup (q01
    // moves with it) from a real per-query regression (it doesn't)
    // without re-running. -1 = the query errored; the ratios object is
    // omitted entirely when the normalizer is absent (focused
    // SPARK_GRAFT_BENCH_ONLY runs) or errored, so a -1 ratio can never
    // mean "normalizer missing". Exact-name match: a prefix match
    // would silently adopt a future q01x_* as the normalizer.
    val q01 = all.collectFirst {
      case (n, v) if n == "q01_pricing_summary" && v > 0 => v }
    val ratioField = q01.map { norm =>
      val ratios = all.map { case (k, v) =>
        val r = if (v >= 0) v / norm else -1.0
        "\"" + k + "\":" + f"$r%.3f"
      }.mkString("{", ",", "}")
      s""","ratio_q01":$ratios"""
    }.getOrElse("")
    val failed = all.count(_._2 < 0)
    val total = all.map(_._2).filter(_ >= 0).sum
    // Machine-load annotation, two independent detectors ORed:
    //  (a) q01 over its pinned quiet-machine envelope — catches load
    //      present at run START (envelope env-tunable, default sf0.1);
    //  (b) per-query rep spread > limit on any >= 0.3 s query —
    //      catches contention arriving MID-RUN (the r12 phantom-
    //      regression mode, invisible to (a) because q01 runs first).
    // When either tripped on the first pass the bench already re-ran
    // once (reran=true) and kept the cleaner pass; overloaded=true
    // here means BOTH passes were dirty and absolute times are
    // suspect (ratio_q01 stays meaningful).
    val contendedQs = contended(run)
    val overloaded = tripped(run)
    val spreadJson = spreads.map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    val contendedJson = contendedQs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs$ratioField,"rep_spread":$spreadJson,"reps":3,"agg":"median","errors":$failed,"overloaded":$overloaded,"q01_envelope_sec":$envelope%.1f,"spread_limit":$spreadLimit%.1f,"contended_queries":$contendedJson,"reran":$reran,"load_before":$loadBefore%.2f,"load_after":$loadAfter%.2f,"sf":"$sfDir"}"""
    println(line)
    // Self-preserving artifact: the r10 archive lost its headline total
    // to a truncated log tail — the file copy can never be clipped.
    try {
      val out = java.nio.file.Paths.get("target/bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, line + "\n")
    } catch { case NonFatal(e) => System.err.println(s"[bench] file write: $e") }
    // durable staging (spark.graft.stagingDir) leaves its staged frames
    // under the root; the run's outputs are written, so delete them
    Staging.cleanup(spark)
    spark.stop()
    // Clip-proof trailer: the driver snapshots a bounded LOG TAIL, and
    // the full record above (219-query object, multi-KB single line)
    // was head-truncated mid-JSON in two past rounds. This short line
    // is printed LAST — after Spark's shutdown chatter — and fits any
    // tail window, so the headline numbers always survive even when
    // the full object must be read from target/bench.json.
    val q01s = q01.map(v => f"$v%.3f").getOrElse("-1")
    // r16 verdict item 1: the driver's PERF comparator parses THIS line
    // (the only line guaranteed to survive its bounded log-tail capture)
    // and had n_common=0 for two rounds because the per-query map rode
    // the long line above. Ship the map here too — 42 queries ≈ 1.5 KB,
    // well inside any tail window. Additions only: every pre-existing
    // field is kept, same names, same order.
    println(f"""BENCH_SUMMARY {"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${all.size},"errors":$failed,"overloaded":$overloaded,"reran":$reran,"load_before":$loadBefore%.2f,"load_after":$loadAfter%.2f,"q01_sec":$q01s,"full":"target/bench.json","sf":"$sfDir","queries":$qs}""")
  }
}
