package graft.tools

import scala.collection.mutable

import org.apache.spark.ProfileBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Jnum, Sessions, SparkEntry}

/** The one generic profiler: what an action cost, as one [[Profile.Record]].
  *
  * `Profile.run(spark)(action)` scopes a SparkListener to the action by job
  * group, so no other action's events — an earlier one's still-queued task
  * ends, or one running concurrently on another thread — reach the record.
  * The worst task matters most: at scale it is the stage's wall clock.
  *
  * `Profile <dir> [query…] [--runs N] [--final]` (no query names: every
  * registered query, in name order) executes each run's freshly planned
  * DataFrame once, as `queryExecution.toRdd.count()`, and prints one
  * `GRAFT_PROFILE {json}` line per run; README.md "Profiling a query"
  * documents options and fields. */
object Profile {

  /** Task times are task wall times; shuffle and spill bytes sum over tasks. */
  final case class Record(wallS: Double, jobs: Int, stages: Int, tasks: Int,
      maxTaskMs: Long, medianTaskMs: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long, maxTaskShuffleRows: Long) {
    def jsonFields: String =
      s""""wall_s":${Jnum.f(wallS, 3)},"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""max_task_ms":$maxTaskMs,"median_task_ms":$medianTaskMs,""" +
        s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""spill_bytes":$spillBytes,"max_task_shuffle_rows":$maxTaskShuffleRows"""
  }

  /** Events of one job group. Tasks match by the stage attempts the group
    * submitted, so a stage skipped because an earlier action wrote its
    * shuffle adds nothing. Callbacks run on the bus thread, hence the lock. */
  private final class Collector(group: String) extends SparkListener {
    private def ours(props: java.util.Properties): Boolean =
      props != null && props.getProperty("spark.jobGroup.id") == group
    private val attempts = mutable.Set.empty[(Int, Int)]
    private val taskMs = mutable.ArrayBuffer.empty[Long]
    private var jobs, readBytes, writeBytes, spill, maxRows = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (ours(e.properties)) jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      if (ours(e.properties)) attempts += (e.stageInfo.stageId -> e.stageInfo.attemptNumber())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (attempts((e.stageId, e.stageAttemptId))) {
        taskMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          readBytes += m.shuffleReadMetrics.totalBytesRead
          writeBytes += m.shuffleWriteMetrics.bytesWritten
          spill += m.diskBytesSpilled
          maxRows = math.max(maxRows, m.shuffleReadMetrics.recordsRead)
        }
      }
    }

    def record(wallS: Double): Record = synchronized {
      val ms = taskMs.sorted
      Record(wallS, jobs.toInt, attempts.size, ms.size,
        ms.lastOption.getOrElse(0L), if (ms.isEmpty) 0L else ms((ms.size - 1) / 2),
        readBytes, writeBytes, spill, maxRows)
    }
  }

  /** Run `action` under a fresh job group (the caller's is restored after).
    * An action that throws propagates its exception and yields no record. */
  def run(spark: SparkSession)(action: => Unit): Record = {
    val sc = spark.sparkContext
    val group = s"graft-profile-${java.util.UUID.randomUUID}"
    val collector = new Collector(group)
    // the local properties setJobGroup writes
    val saved = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
      .map(k => k -> sc.getLocalProperty(k))
    sc.addSparkListener(collector)
    try {
      sc.setJobGroup(group, "graft.tools.Profile", interruptOnCancel = false)
      val t0 = System.nanoTime()
      action
      val wallS = (System.nanoTime() - t0) / 1e9
      ProfileBus.drain(sc)
      collector.record(wallS)
    } finally {
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      sc.removeSparkListener(collector)
    }
  }

  def main(args: Array[String]): Unit = {
    var runs = 1
    var finalPlan = false
    val pos = mutable.ArrayBuffer.empty[String]
    val it = args.iterator
    while (it.hasNext) it.next() match {
      case "--runs" if it.hasNext => runs = it.next().toInt
      case "--final" => finalPlan = true
      case a => pos += a
    }
    require(pos.nonEmpty && runs >= 1 && !pos.exists(_.startsWith("--")),
      "usage: Profile <dir> [query…] [--runs N] [--final]")
    val dir = pos.head
    val queries = if (pos.size > 1) pos.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    // A session already running in this JVM (a test suite's) is borrowed
    // and left running; one this call starts is stopped at the end.
    val started = SparkSession.getDefaultSession.isEmpty
    val spark = Sessions.local(Sessions.defaultCpus)
    try for (q <- queries) {
      var df: DataFrame = null
      for (i <- 1 to runs) {
        var rows = 0L
        val r = run(spark) {
          df = SparkEntry.queries(q)(spark, dir)
          rows = df.queryExecution.toRdd.count()
        }
        println(s"""GRAFT_PROFILE {"dir":${Jnum.str(dir)},"query":${Jnum.str(q)},"run":$i,"rows":$rows,${r.jsonFields}}""")
      }
      if (finalPlan) println(df.queryExecution.executedPlan)
    } finally if (started) spark.stop()
  }
}
