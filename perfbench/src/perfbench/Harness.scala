package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.QueryDef
import graft.etl.{RunCorpusPipeline, StarCatalog, StarPipeline, StarQueries}

/** One operation of a workload: a name (the query, or the workload's
  * single operation) and the call that performs it. */
final case class Op(name: String, run: () => Unit)

/** One timed operation. A failed operation keeps its wall time here; the
  * report ranks it infinitely slow in the latency percentiles. */
final case class Sample(name: String, ms: Double, ok: Boolean, error: String = "",
    cpuMs: Double = 0.0, stealMs: Double = 0.0, traced: Boolean = false,
    retainedMb: Double = 0.0)

/** A benchmark workload: staged inputs in `data`, scratch space in `work`. */
trait Workload {
  /** Untimed passes that bring the session to steady state (codegen
    * caches, JIT, built artifacts). Their outputs feed the correctness
    * checks; a failed warm-up operation is returned as a failed sample. */
  def warmup(): Seq[Sample]
  /** The closed-loop operation stream for the timed window. */
  def ops: Iterator[Op]
  /** Facts the correctness check needs, as JSON fields. */
  def report: Map[String, String] = Map.empty
}

/** Runs operations closed-loop, one client: the next operation starts only
  * after the previous one returned. */
object Loop {
  def timed(op: Op): Sample = {
    val steal0 = Machine.stealS
    val cpu0 = Machine.cpuS
    val t0 = System.nanoTime()
    val s0 = try {
      op.run()
      Sample(op.name, (System.nanoTime() - t0) / 1e6, ok = true)
    } catch {
      case NonFatal(e) =>
        Sample(op.name, (System.nanoTime() - t0) / 1e6, ok = false,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    val s = s0.copy(cpuMs = (Machine.cpuS - cpu0) * 1000, stealMs = (Machine.stealS - steal0) * 1000)
    println(f"[op] ${s.name} ${s.ms}%.1f ms${if (s.ok) "" else " FAILED " + s.error}")
    s
  }

  /** `n` runs of `op` over the small warm-up inputs: they heat the
    * per-job code paths (JIT, the codegen cache) in a fraction of the time
    * full-size operations take. Only failures are returned. */
  def warm(op: Op, n: Int): Seq[Sample] = Seq.fill(n)(timed(op)).filterNot(_.ok)

  /** Operations until `seconds` have passed; the operation running at the
    * deadline completes and counts, and so does the rest of the last group
    * of `whole` operations (a traced window runs its operations in pairs).
    * `run` performs and times one operation. */
  def window(ops: Iterator[Op], seconds: Double, run: Op => Sample, whole: Int = 1): (Seq[Sample], Double) = {
    val out = mutable.ArrayBuffer.empty[Sample]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    while ((System.nanoTime() < deadline || out.size % whole != 0) && ops.hasNext)
      out += run(ops.next())
    (out.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** One traced operation: a root span for it, and a collector that
    * listens to Spark only while it runs. Draining the listener bus and
    * moving the counters onto the span happen after the timing. */
  def traced(spark: SparkSession, op: Op): Sample = {
    val c = Collector.install(spark)
    Trace.on = true
    val s = try Trace.span("op") {
      val (gc0, jit0) = (Machine.gcS, Machine.jitS)
      val r = timed(op)
      Trace.currentSpan.foreach { span =>
        span.add("gc_s", Machine.gcS - gc0)
        span.add("jit_s", Machine.jitS - jit0)
      }
      r
    } finally Trace.on = false
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    Collector.remove(spark, c)
    c.take().foreach { case (k, v) => Trace.roots.last.add(k, v) }
    s.copy(traced = true)
  }
}

final class StarElt(spark: SparkSession, data: String, warmData: String, work: String)
    extends Workload {
  private val out = s"$work/star"
  private val tableRows = mutable.ArrayBuffer.empty[Map[String, Long]]

  private def build(src: String): Op = Op("elt", () => {
    Trace.span("catalog.drop")(StarCatalog.drop(spark))
    val res = Trace.span("pipeline.run")(StarPipeline.run(spark, src, out))
    Trace.span("catalog.register")(StarCatalog.register(spark, out))
    if (src == data) tableRows += res.map(r => r.name -> r.rows).toMap
  })
  private val full = build(data)

  def warmup(): Seq[Sample] = Loop.warm(build(warmData), 2) :+ Loop.timed(full)
  def ops: Iterator[Op] = Iterator.continually(full)

  override def report: Map[String, String] = Map(
    "star_dir" -> Json.str(out),
    "table_rows" -> tableRows.map(m => Json.obj(m.map { case (k, v) => k -> v.toString })).mkString("[", ",", "]"),
    "oracle_sql" -> Json.obj(StarQueries.defs.collect {
      case QueryDef(n, _, Some(sql)) => n -> Json.str(sql)
    }.toMap))
}

final class WarehouseQueries(spark: SparkSession, data: String, work: String, seed: Long)
    extends Workload {
  /** Every third of the 81 registered warehouse queries by name: a fixed
    * systematic sample of the star, relational and analytics families
    * whose pass fits the run's time budget on four cores. */
  val defs: Seq[QueryDef] =
    (StarQueries.defs ++ graft.ops.Relational.defs ++ graft.ops.Analytics.defs)
      .sortBy(_.name).zipWithIndex.collect { case (q, i) if i % 3 == 0 => q }
  private val order = new scala.util.Random(seed).shuffle(defs)

  private def noop(q: QueryDef): Op = Op(q.name, () => {
    val df = Trace.span("build")(q.fn(spark, data))
    Trace.span("execute")(df.write.format("noop").mode("overwrite").save())
  })

  /** One pass that writes every result as parquet for the oracle check. */
  def warmup(): Seq[Sample] =
    order.map(q => Loop.timed(Op(q.name, () =>
      q.fn(spark, data).write.mode("overwrite").parquet(s"$work/results/${q.name}"))))

  def ops: Iterator[Op] = Iterator.continually(order).flatten.map(noop)

  override def report: Map[String, String] = Map(
    "results_dir" -> Json.str(s"$work/results"),
    "oracle_sql" -> Json.obj(defs.collect { case QueryDef(n, _, Some(sql)) => n -> Json.str(sql) }.toMap))
}

final class CorpusRelease(spark: SparkSession, data: String, warmData: String, work: String,
    seed: Long)
    extends Workload {
  /** The decontamination threshold the corpus scale probe uses. */
  val MinShingles = 20
  private var n = 0
  private val manifests = mutable.ArrayBuffer.empty[String]

  private def release(src: String): Op = Op("release", () => {
    n += 1
    val root = s"$work/release-$n"
    // A fresh artifact store per release: stage 1 pays the pair-graph build.
    System.setProperty("graft.artifact.dir", s"$root/artifacts")
    new File(s"$root/artifacts").mkdirs()
    RunCorpusPipeline.run(spark, src, s"$root/out", s"perfbench-$seed-$n:",
      onStage = (stage, secs) => {
        val now = System.nanoTime()
        Trace.record(s"corpus.$stage", now - (secs * 1e9).toLong, now)
      },
      decontamMinShingles = MinShingles)
    if (src == data) {
      val m = scala.io.Source.fromFile(s"$root/out/manifest.json")
      try manifests += m.mkString.trim finally m.close()
    }
    if (Trace.on) Trace.currentSpan.foreach(
      _.add("artifact_bytes", Files.bytes(new File(s"$root/artifacts")).toDouble))
  })

  private val full = release(data)

  def warmup(): Seq[Sample] = Loop.warm(release(warmData), 1) :+ Loop.timed(full)
  def ops: Iterator[Op] = Iterator.continually(full)

  /** The manifests, and the DuckDB oracles the expected manifest is
    * derived from: the cleaned keep-set and the per-document count of
    * shingles shared with the eval source. */
  override def report: Map[String, String] = Map(
    "manifests" -> manifests.mkString("[", ",", "]"),
    "min_shingles" -> MinShingles.toString,
    "oracle_sql" -> Json.obj(graft.dedup.Dedup.defs.collect {
      case QueryDef(n, _, Some(sql)) if n == "dd_clean_corpus" || n == "dd_decontaminate" =>
        n -> Json.str(sql)
    }.toMap))
}

/** A query stream whose first query throws: the self-test checks that
  * the failure is reported as failed, never as a fast operation. */
final class ProbeFailure extends Workload {
  def warmup(): Seq[Sample] = Nil
  def ops: Iterator[Op] = Iterator(Op("fails", () => throw new IllegalStateException("probe"))) ++
    Iterator.continually(Op("sleeps", () => Thread.sleep(50)))
}

/** Per-layer metrics from the traced window's operation spans: Spark
  * counters are per operation, times are per operation in the unit the
  * metric names, ratios are over the whole window. */
object Layers {
  val StarTables = Seq("songplays", "users", "songs", "artists", "time")
  val CorpusStages = Seq("clean_decontam", "sample_split", "pack", "bpe_train", "release_audit")

  def fields(slots: Int): Map[String, String] = {
    val ops = Trace.roots.toSeq
    val n = ops.size.toDouble
    def sum(k: String) = ops.map(_.counters.getOrElse(k, 0.0)).sum
    def perOp(k: String) = sum(k) / n
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    def spans(s: Span, name: String): Seq[Span] =
      s.children.toSeq.flatMap(c => (if (c.name == name) Seq(c) else Nil) ++ spans(c, name))
    def spanS(name: String) = ops.flatMap(spans(_, name)).map(_.durMs).sum / n / 1000
    val m = mutable.LinkedHashMap[String, Double](
      "plan.analysis_ms" -> (sum("phase_analysis") + ops.flatMap(spans(_, "build")).map(_.durMs).sum) / n,
      "plan.optimize_ms" -> perOp("phase_optimization"),
      "plan.physical_ms" -> perOp("phase_planning"),
      "sched.jobs" -> perOp("jobs"),
      "sched.stages" -> perOp("stages"),
      "sched.tasks" -> perOp("tasks"),
      "sched.tasks_per_stage" -> ratio(sum("tasks"), sum("stages")),
      "sched.slot_util" -> ratio(sum("task_ms"), ops.map(_.durMs).sum * slots),
      "sched.task_wait_ms" -> ratio(sum("task_wait_ms"), sum("tasks")),
      "sched.max_over_median_task" -> ratio(sum("skew_sum"), sum("skew_n")),
      "tables.scan_rows" -> perOp("scan_rows"),
      "tables.scan_bytes" -> perOp("scan_bytes"),
      "tables.scan_tasks" -> perOp("scan_tasks"),
      "exchange.shuffle_write_bytes" -> perOp("shuffle_write_bytes"),
      "exchange.shuffle_read_bytes" -> perOp("shuffle_read_bytes"),
      "exchange.fetch_wait_ms" -> perOp("fetch_wait_ms"),
      "exchange.spill_bytes" -> perOp("spill_bytes"),
      "sort.range_exchanges" -> perOp("range_exchanges"))
    StarTables.foreach(t => m(s"layout.write_s.$t") = perOp(s"write_ms.$t") / 1000)
    m("layout.bytes_written") = StarTables.map(t => perOp(s"write_bytes.$t")).sum
    m("layout.files_written") = StarTables.map(t => perOp(s"write_files.$t")).sum
    m("catalog.drop_s") = spanS("catalog.drop")
    m("catalog.register_s") = spanS("catalog.register")
    CorpusStages.foreach(st => m(s"corpus.${st}_s") = spanS(s"corpus.$st"))
    m("artifacts.bytes_published") = perOp("artifact_bytes")
    m("jvm.gc_s") = perOp("gc_s")
    m("jvm.jit_s") = perOp("jit_s")
    val selfTimes = Trace.selfTimes.map { case (k, c, tot, self) =>
      k -> Json.obj(Map("count" -> c.toString, "total_ms" -> Json.num(tot), "self_ms" -> Json.num(self)))
    }.toMap
    Map("layers" -> Json.obj(m.toMap.map { case (k, v) => k -> Json.num(v) }),
      "spans" -> Json.obj(selfTimes))
  }
}

object Files {
  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytes).sum else f.length()
}

/** Minimal JSON rendering: values arrive pre-rendered as JSON text. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(fields: Map[String, String]): String =
    fields.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Machine state read the way graft.Bench reads it: cumulative hypervisor
  * steal from /proc/stat (USER_HZ = 100) and the 1-minute load average. */
object Machine {
  def stealS: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val p = src.getLines().next().trim.split("\\s+")
        if (p.length > 8 && p(0) == "cpu") p(8).toLong / 100.0 else -1.0
      } finally src.close()
    } catch { case NonFatal(_) => -1.0 }
  def load1: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0
  /** CPU seconds this process has used, on every thread. Hypervisor steal
    * does not count here, so it tracks the work done, not the wait. */
  def cpuS: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => -1.0
  }
}

/** Heap readings, all taken outside the timed operations. */
object Heap {
  private def usedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** Heap in use after full collections: what the work keeps. The first
    * collection lets Spark's ContextCleaner release the blocks of
    * unreachable broadcasts and shuffles; the pause lets it finish, and
    * the second collection frees what it released. */
  def retainedMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    usedMb
  }

  /** Sampling period of [[peakLive]]: short enough to catch a driver-side
    * stage of a few hundred milliseconds, long enough that the probed
    * operation runs at most about twice as long as a timed one. */
  val SamplePeriodMs = 150L

  /** One extra, untimed run of `op` with a sampler that forces a full
    * collection every [[SamplePeriodMs]] and reads the heap in use after it. Each
    * reading is live data only, so their largest is the operation's peak
    * live heap: memory it holds only while it runs (a driver-side
    * dictionary, collected rows, a broadcast build) counts, garbage the
    * collector has not reached yet and the collector's sizing do not.
    * Returns the sample and that peak, at least the heap live when the
    * operation returned. */
  def peakLive(op: Op): (Sample, Double) = {
    retainedMb()
    @volatile var running = true
    var peak = 0.0
    val sampler = new Thread(() =>
      while (running) {
        System.gc()
        peak = math.max(peak, usedMb)
        Thread.sleep(SamplePeriodMs)
      })
    sampler.setDaemon(true)
    sampler.start()
    val s = try Loop.timed(op) finally { running = false; sampler.join() }
    (s, math.max(peak, retainedMb()))
  }
}

/** Entry point: `perfbench.Harness --workload W --data DIR --work DIR
  * --seconds S --trace 0|1 --seed N --cpus C --result FILE`. Writes one
  * JSON record of timings, machine stamps, per-layer counters and the
  * outputs the correctness check needs. */
object Harness {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val (data, work) = (a("data"), a("work"))
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val seed = a("seed").toLong
    val cpus = a.getOrElse("cpus", "4")
    val steal0 = Machine.stealS
    val load0 = Machine.load1

    val t0 = System.nanoTime()
    val spark = graft.Sessions.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    val fields = mutable.LinkedHashMap.empty[String, String]
    try {
      val w: Workload = workload match {
        case "star_elt" => new StarElt(spark, data, a("warm-data"), work)
        case "warehouse_queries" => new WarehouseQueries(spark, data, work, seed)
        case "corpus_release" => new CorpusRelease(spark, data, a("warm-data"), work, seed)
        case "probe_failure" => new ProbeFailure
        case other => sys.error(s"unknown workload $other")
      }
      val tw = System.nanoTime()
      val warm = w.warmup()
      val warmupS = (System.nanoTime() - tw) / 1e9
      // JVM launch + session start + warm-up: the program's share of set-up.
      val setupJvmS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
      val (setupCpuS, setupStealS) = (Machine.cpuS, Machine.stealS - steal0)
      val ops = w.ops

      // The untraced window gives the end-to-end figures. The traced
      // window runs operations in pairs, one untraced and one traced, in a
      // seeded order per pair: both kinds see the same JVM state, so the
      // pair ratios measure tracing, not warm-up still under way.
      def afterGc(s: Sample) = s.copy(retainedMb = Heap.retainedMb())
      val (samples, wall) = if (!traced) Loop.window(ops, seconds, op => afterGc(Loop.timed(op))) else {
        val order = new scala.util.Random(seed)
        var pair = Iterator.empty[Boolean]
        // Both operations of a pair are the same operation.
        Loop.window(ops.flatMap(op => Iterator(op, op)), seconds, op => {
          if (!pair.hasNext) pair = if (order.nextBoolean()) Iterator(true, false) else Iterator(false, true)
          afterGc(if (pair.next()) Loop.traced(spark, op) else Loop.timed(op))
        }, whole = 2)
      }
      val (probe, peakMb) = Heap.peakLive(ops.next())
      fields ++= Map(
        "workload" -> Json.str(workload),
        "session_start_s" -> Json.num(sessionStartS),
        "warmup_s" -> Json.num(warmupS),
        "setup_jvm_s" -> Json.num(setupJvmS),
        "setup_cpu_s" -> Json.num(setupCpuS),
        "setup_steal_s" -> Json.num(setupStealS),
        "warmup" -> samplesJson(warm),
        "samples" -> samplesJson(samples),
        "window_s" -> Json.num(wall),
        "heap_probe" -> samplesJson(Seq(probe)),
        "peak_heap_mb" -> Json.num(peakMb),
        "nproc" -> Runtime.getRuntime.availableProcessors.toString,
        "parallelism" -> spark.sparkContext.defaultParallelism.toString,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
      if (traced) fields ++= Layers.fields(cpus.toInt)
      fields ++= w.report
    } finally spark.stop()
    fields ++= Map(
      "steal_s" -> Json.num(Machine.stealS - steal0),
      "load1_start" -> Json.num(load0),
      "load1_end" -> Json.num(Machine.load1))
    val out = new java.io.PrintWriter(a("result"), "UTF-8")
    try out.println(Json.obj(fields.toMap)) finally out.close()
  }

  private def samplesJson(xs: Seq[Sample]): String =
    xs.map(s => Json.obj(Map("name" -> Json.str(s.name), "ms" -> Json.num(s.ms),
      "ok" -> s.ok.toString, "error" -> Json.str(s.error),
      "cpu_ms" -> Json.num(s.cpuMs), "steal_ms" -> Json.num(s.stealMs),
      "traced" -> s.traced.toString, "retained_mb" -> Json.num(s.retainedMb)))).mkString("[", ",", "]")
}
