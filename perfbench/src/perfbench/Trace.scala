package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call at a layer boundary. Spans nest (an operation holds its
  * build / plan / execute or drop / run / register children) and stay in
  * memory until the run ends; `counters` holds the Spark-side counts the
  * collector attributed to the span. */
final class Span(val name: String, val parent: Span, val start: Long) {
  var end: Long = start
  val children = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  def durMs: Double = (end - start) / 1e6
  def selfMs: Double = durMs - children.map(_.durMs).sum
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
}

/** Span recorder for the benchmark's own call sites. Off (the untimed
  * end-to-end runs) it is one boolean test per call. */
object Trace {
  @volatile var on = false
  val roots = mutable.ArrayBuffer.empty[Span]
  private var current: Span = null

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(name, current, System.nanoTime())
      if (current == null) roots += s else current.children += s
      current = s
      try body finally { s.end = System.nanoTime(); current = s.parent }
    }

  def currentSpan: Option[Span] = Option(current)

  /** A child of the current span for an interval that has already ended
    * (a stage boundary reported by a callback). */
  def record(name: String, start: Long, end: Long): Unit =
    if (on && current != null) {
      val s = new Span(name, current, start)
      s.end = end
      current.children += s
    }

  /** Self time per span name over every recorded span: (count, total ms,
    * self ms). */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val acc = mutable.LinkedHashMap.empty[String, (Int, Double, Double)]
    def walk(s: Span, path: String): Unit = {
      val key = if (path.isEmpty) s.name else s"$path/${s.name}"
      val (n, tot, self) = acc.getOrElse(key, (0, 0.0, 0.0))
      acc(key) = (n + 1, tot + s.durMs, self + s.selfMs)
      s.children.foreach(walk(_, key))
    }
    roots.foreach(walk(_, ""))
    acc.toSeq.map { case (k, (n, t, s)) => (k, n, t, s) }
  }
}

/** Spark-side counters for the traced window: a SparkListener for jobs,
  * stages and tasks, and a QueryExecutionListener for planning phases,
  * range exchanges in the executed plans, and file writes. Events arrive on
  * Spark's listener bus; the harness drains the bus after every operation
  * and moves the accumulated counters onto that operation's span. */
final class Collector extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private val stageSubmitted = mutable.Map.empty[(Int, Int), Long]
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val skew = mutable.ArrayBuffer.empty[Double]

  private def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v

  /** Counters since the last take, plus the mean max/median task-time
    * ratio over multi-task stages. */
  def take(): Map[String, Double] = synchronized {
    val out = counts.toMap ++
      (if (skew.isEmpty) Map.empty else Map("skew_sum" -> skew.sum, "skew_n" -> skew.size.toDouble))
    counts.clear(); skew.clear()
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { add("jobs", 1) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmitted((i.stageId, i.attemptNumber())) = i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    val info = e.taskInfo
    add("tasks", 1)
    add("task_ms", info.duration.toDouble)
    stageSubmitted.get(key).foreach(t0 => add("task_wait_ms", math.max(0L, info.launchTime - t0).toDouble))
    stageTasks.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += info.duration
    val m = e.taskMetrics
    if (m != null) {
      add("scan_rows", m.inputMetrics.recordsRead.toDouble)
      add("scan_bytes", m.inputMetrics.bytesRead.toDouble)
      if (m.inputMetrics.recordsRead > 0) add("scan_tasks", 1)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("spill_bytes", m.diskBytesSpilled.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val key = (i.stageId, i.attemptNumber())
    add("stages", 1)
    stageTasks.remove(key).foreach { ts =>
      if (ts.size >= 2) {
        val sorted = ts.sorted
        val med = sorted(sorted.size / 2).toDouble
        skew += sorted.last / math.max(med, 1.0)
      }
    }
    stageSubmitted.remove(key)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => add(s"phase_$p", s.durationMs.toDouble))
    }
    val plan = qe.executedPlan match {
      case c: CommandResultExec => c.commandPhysicalPlan
      case p => p
    }
    add("range_exchanges", rangeExchanges(plan).toDouble)
    collect(plan) { case w: DataWritingCommandExec => w }.foreach { w =>
      w.cmd match {
        case c: InsertIntoHadoopFsRelationCommand =>
          val table = c.outputPath.getName
          def metric(k: String) = w.metrics.get(k).map(_.value).getOrElse(0L).toDouble
          add(s"write_ms.$table", durationNs / 1e6)
          add(s"write_bytes.$table", metric("numOutputBytes"))
          add(s"write_files.$table", metric("numFiles"))
        case _ =>
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def rangeExchanges(plan: SparkPlan): Int =
    collectWithSubqueries(plan) {
      case s: ShuffleExchangeLike if s.outputPartitioning.isInstanceOf[RangePartitioning] => s
    }.size
}

object Collector {
  def install(spark: SparkSession): Collector = {
    val c = new Collector
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }

  def remove(spark: SparkSession, c: Collector): Unit = {
    spark.sparkContext.removeSparkListener(c)
    spark.listenerManager.unregister(c)
  }
}
