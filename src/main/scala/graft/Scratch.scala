package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Profiling harness (dev-only, kept in-tree so perf work is
  * reproducible): times named queries N times each in one JVM to beat
  * inter-invocation variance.
  *
  * SPARK_GRAFT_STAGES=true   per-stage attribution for the warm rep
  *   (task-time, shuffle bytes per stage — the local stand-in for the
  *   Spark UI's stage table, guide §1.1/§7.1).
  * SPARK_GRAFT_EXPLAIN=<dir> writes <dir>/<query>.txt with the
  *   formatted physical plan (the plans/rNN before/after artifacts).
  */
object Scratch {
  /** Collects per-stage task metrics; cleared between reps. */
  private final class StageTap extends SparkListener {
    case class Row(id: Int, name: String, tasks: Int, runMs: Long,
      cpuMs: Long, shufReadMb: Double, shufWriteMb: Double, spillMb: Double)
    val rows = new scala.collection.mutable.ArrayBuffer[Row]
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      rows.synchronized {
        val si = e.stageInfo
        val m = si.taskMetrics
        val site = si.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("Scratch"))
          .getOrElse(si.name.takeWhile(_ != '\n')).trim
        rows += Row(si.stageId, site, si.numTasks,
          m.executorRunTime, m.executorCpuTime / 1000000,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.diskBytesSpilled / 1e6)
      }
    def clear(): Unit = rows.synchronized(rows.clear())
    def dump(): Unit = rows.synchronized {
      rows.sortBy(-_.runMs).take(12).foreach { r =>
        println(f"  stage ${r.id}%4d run=${r.runMs / 1000.0}%7.2fs " +
          f"cpu=${r.cpuMs / 1000.0}%7.2fs tasks=${r.tasks}%3d " +
          f"sr=${r.shufReadMb}%8.1fMB sw=${r.shufWriteMb}%8.1fMB " +
          f"spill=${r.spillMb}%6.1fMB  ${r.name.take(70)}")
      }
      val tot = rows.map(_.runMs).sum / 1000.0
      val cpu = rows.map(_.cpuMs).sum / 1000.0
      println(f"  stages=${rows.size} total-task-time=$tot%.2fs total-cpu=$cpu%.2fs")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args.toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    // core-count knob (r17): the q107 flatness attribution needs the
    // SAME stage tap at two core counts — mirrors the Bench contract
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftExtensions.session("graft-scratch", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // extra runtime confs for diagnostics sessions, e.g.
    // SPARK_GRAFT_CONFS=spark.sql.adaptive.enabled=false,spark.graft.stagingDir=/tmp/stage
    sys.env.get("SPARK_GRAFT_CONFS").foreach(_.split(",").filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
    // tolerate partial dirs (ScaleBench corpora carry only
    // documents/embeddings) — warm what exists, name what's skipped;
    // NonFatal so OOM/interrupt still surface (r14 ADVICE)
    Tables.names.foreach { n =>
      try Tables.load(spark, sfDir, n).schema
      catch { case scala.util.control.NonFatal(e) =>
        println(s"SCRATCH skip table $n: ${e.getClass.getSimpleName}") }
    }
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case scala.util.control.NonFatal(e) =>
      println(s"SCRATCH skip entry warm-up: ${e.getClass.getSimpleName}") }
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    val tap = if (sys.env.get("SPARK_GRAFT_STAGES").contains("true")) {
      val t = new StageTap; spark.sparkContext.addSparkListener(t); Some(t)
    } else None
    val explainDir = sys.env.get("SPARK_GRAFT_EXPLAIN")
    names.foreach { n =>
      val q = byName(n)
      explainDir.foreach { d =>
        val p = java.nio.file.Paths.get(d)
        java.nio.file.Files.createDirectories(p)
        val plan = q.fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(p.resolve(s"$n.txt"), plan)
      }
      val ts = (1 to reps).map { i =>
        if (i == reps) tap.foreach(_.clear())
        val t0 = System.nanoTime()
        q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"SCRATCH $n min=${ts.min}%.3f med=${ts.sorted.apply(reps / 2)}%.3f all=${ts.map(t => f"$t%.2f").mkString(",")}")
      tap.foreach(_.dump())
    }
    spark.stop()
  }
}
