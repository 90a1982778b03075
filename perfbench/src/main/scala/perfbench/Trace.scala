package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's own counters for one job group. */
final class GroupCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val stageTaskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty
  val phaseMs: mutable.Map[String, Long] = mutable.Map.empty
}

/** One `SparkListener` plus one `QueryExecutionListener`. Jobs, stages
  * and tasks are attributed by the job group the bench sets around each
  * span; query-planning phases, which carry no group, go to the span that
  * is open when the bus delivers them (spans are sequential and the bus
  * is drained at each boundary). */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = mutable.Map.empty[String, GroupCounters]
  @volatile var openGroup: String = ""

  private def of(g: String): GroupCounters = byGroup.getOrElseUpdate(g, new GroupCounters)

  def take(group: String): GroupCounters = synchronized {
    byGroup.remove(group).getOrElse(new GroupCounters)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    synchronized { of(g).jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.getOrDefault(e.stageInfo.stageId, "")
    synchronized { of(g).stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val g = stageGroup.getOrDefault(e.stageId, "")
    synchronized {
      val c = of(g)
      c.tasks += 1
      c.taskMs += m.executorRunTime
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val c = of(openGroup)
      qe.tracker.phases.foreach { case (phase, s) =>
        c.phaseMs(phase) = c.phaseMs.getOrElse(phase, 0L) + s.durationMs
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Spans around the bench's calls into each layer. Off, a span is just
  * its body: untraced runs register no listener and set no job group.
  * On, each span gets its own job group, the bus is drained when it
  * ends, and the span keeps wall time, its parent and Spark's counters. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val sc = spark.sparkContext
  private val counters = new SparkCounters
  if (on) {
    sc.addSparkListener(counters)
    spark.listenerManager.register(counters)
  }
  private val stack = mutable.Stack.empty[String]
  private var seq = 0
  /** Time the traced passes spent draining the bus and recording spans. */
  var overheadNanos = 0L
  val spans: mutable.ArrayBuffer[Json.Obj] = mutable.ArrayBuffer.empty

  /** Extra counts a layer reports for the span that is open. */
  private val extra = mutable.Stack.empty[mutable.Map[String, Double]]
  def count(key: String, v: Double): Unit =
    if (on && extra.nonEmpty) extra.top(key) = extra.top.getOrElse(key, 0.0) + v

  def span[T](name: String, pass: Int)(body: => T): T = {
    if (!on) return body
    val o0 = System.nanoTime()
    seq += 1
    val group = s"$name#$seq"
    val parent = stack.headOption
    ListenerBus.drain(sc)
    stack.push(group)
    extra.push(mutable.Map.empty)
    sc.setJobGroup(group, name, interruptOnCancel = false)
    counters.openGroup = group
    val t0 = System.nanoTime()
    overheadNanos += t0 - o0
    try body
    finally {
      val t1 = System.nanoTime()
      ListenerBus.drain(sc)
      stack.pop()
      val ex = extra.pop()
      parent match {
        case Some(p) => sc.setJobGroup(p, p.takeWhile(_ != '#'), interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      counters.openGroup = parent.getOrElse("")
      val c = counters.take(group)
      val skews = c.stageTaskMs.values.filter(_.size >= 2).map { ts =>
        val s = ts.sorted
        Json.Arr(Seq(Json.Num(s.last.toDouble), Json.Num(s(s.size / 2).toDouble)))
      }.toSeq
      spans += Json.Obj(Seq(
        "id" -> Json.Str(group), "name" -> Json.Str(name), "pass" -> Json.Num(pass),
        "parent" -> parent.map(Json.Str).getOrElse(Json.Null),
        "wall_s" -> Json.Num((t1 - t0) / 1e9),
        "jobs" -> Json.Num(c.jobs.toDouble), "stages" -> Json.Num(c.stages.toDouble),
        "tasks" -> Json.Num(c.tasks.toDouble), "task_s" -> Json.Num(c.taskMs / 1e3),
        "shuffle_read_bytes" -> Json.Num(c.shuffleReadBytes.toDouble),
        "shuffle_write_bytes" -> Json.Num(c.shuffleWriteBytes.toDouble),
        "spill_bytes" -> Json.Num(c.spillBytes.toDouble),
        "stage_max_median_task_ms" -> Json.Arr(skews),
        "phase_ms" -> Json.Obj(c.phaseMs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.Num(v.toDouble) }),
        "counts" -> Json.Obj(ex.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.Num(v) })))
      overheadNanos += System.nanoTime() - t1
    }
  }
}

/** The few JSON shapes the run record needs. */
object Json {
  sealed trait V { def render: String }
  case object Null extends V { def render = "null" }
  final case class Bool(b: Boolean) extends V { def render: String = b.toString }
  final case class Num(d: Double) extends V {
    def render: String =
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
  }
  final case class Str(s: String) extends V {
    def render: String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case '\n' => b ++= "\\n"
        case '\r' => b ++= "\\r"
        case '\t' => b ++= "\\t"
        case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
        case ch => b += ch
      }
      b += '"'
      b.result()
    }
  }
  final case class Arr(vs: Seq[V]) extends V {
    def render: String = vs.map(_.render).mkString("[", ",", "]")
  }
  final case class Obj(kvs: Seq[(String, V)]) extends V {
    def render: String = kvs.map { case (k, v) => Str(k).render + ":" + v.render }
      .mkString("{", ",", "}")
  }
  def nums(xs: Seq[Double]): Arr = Arr(xs.map(Num))
}
