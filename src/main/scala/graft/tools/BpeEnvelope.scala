package graft.tools

/** Measure the per-round cost curve of the BPE merge-training loop at a
  * production-like round count (VERDICT r11 "Next round #5": `tx_bpe_merges`
  * registers 8 rounds; a real vocab is 10⁴-10⁵, and the loop shape is
  * O(rounds) driver-coordinated jobs — this tool turns "should be flat,
  * each round is dictionary-sized" into a measured curve that
  * tools/scaling.py appends to SCALING.md).
  *
  * Prints ONE JSON line: per-round seconds, octile means (8 buckets so a
  * drift from round 1 to round 64 is visible as a trend, not noise), and a
  * flatness ratio last-octile/first-octile. A flat curve (~1×) confirms the
  * per-round cost is vocabulary-sized and independent of the round index —
  * the loop scales as O(rounds) equal-cost jobs, and the crossover to the
  * FastBPE driver-heap shape (documented in TextStats.bpeMergesUncached) is
  * rounds × that constant vs one dictionary pass. */
object BpeEnvelope {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rounds = if (args.length > 1) args(1).toInt else 64
    val s = graft.Sessions.local(graft.Sessions.defaultCpus)
    // Job/task counters: distinguishes an executor-side task explosion
    // (tasks grow per round) from driver-side planning cost (flat tasks,
    // growing wall) when a round's cost is not flat.
    val nJobs = new java.util.concurrent.atomic.AtomicLong
    val nTasks = new java.util.concurrent.atomic.AtomicLong
    s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        nJobs.incrementAndGet()
        nTasks.addAndGet(j.stageInfos.map(_.numTasks.toLong).sum)
      }
    })
    // WARM-UP (VERDICT r13 #4): one discarded 8-round run bills first-touch
    // cost — parquet footer reads, codegen compiles, driver JIT, shuffle
    // spin-up — to setup instead of octile 1, so the flatness ratio
    // compares steady-state rounds against steady-state rounds. 8 rounds
    // (one octile) because the C2 JIT of the per-round driver path keeps
    // warming over the first few iterations, not just the first.
    graft.text.TextStats.bpeMergesUncached(graft.Tables.documents(s, d), 8)
    val times = Array.fill(rounds)(-1.0)
    // Snapshot AFTER the warm-up: starting at (0, 0) billed all warm-up
    // jobs/tasks to round 1's stderr delta, misleading when diagnosing a
    // non-flat curve.
    var (j0, t0) = (nJobs.get, nTasks.get)
    val merges = graft.text.TextStats.bpeMergesUncached(
      graft.Tables.documents(s, d), rounds,
      (r, t) => {
        times(r - 1) = t
        val (j1, t1) = (nJobs.get, nTasks.get)
        System.err.println(f"[bpe-envelope] round $r%3d ${t}%.2fs jobs=${j1 - j0} tasks=${t1 - t0}")
        j0 = j1; t0 = t1
      })
    val ok = times.filter(_ >= 0)
    val octile = ok.grouped(math.max(1, ok.length / 8)).map(g => g.sum / g.length).toArray
    val flat = if (octile.length >= 2 && octile.head > 0) octile.last / octile.head else Double.NaN
    // Production-path comparison: the FastBPE-shape driver-heap trainer
    // (one distributed dictionary pass + in-heap merges) on the same
    // corpus — equal merges required, wall-clock reported so the
    // crossover vs the per-round relational loop is a measured number.
    val lt0 = System.nanoTime()
    val dict = graft.text.TextStats.wordFreqDict(graft.Tables.documents(s, d))
    val localMerges = graft.text.TextStats.bpeMergesDriverHeap(dict, rounds)
    val localSec = (System.nanoTime() - lt0) / 1e9
    val equal = localMerges == merges
    // Dictionary-collect accounting (VERDICT r13 #1): how big is the one
    // driver-side collect, and what does the production minCount floor buy?
    // Bytes are the approximate collected payload (UTF-8 word + 8-byte
    // count + ~8 bytes of row overhead per entry).
    def dictBytes(ws: Seq[(String, Long)]): Long =
      ws.map(_._1.getBytes("UTF-8").length.toLong + 16L).sum
    val dictF2 = graft.text.TextStats.wordFreqDict(graft.Tables.documents(s, d), 2L)
    val timesJson = ok.map(t => graft.Jnum.f(t, 3)).mkString("[", ",", "]")
    val octJson = octile.map(t => graft.Jnum.f(t, 3)).mkString("[", ",", "]")
    println(s"""GRAFT_BPE_ENVELOPE {"sf":"$d","rounds":${ok.length},"merges":${merges.length},""" +
      f""""total":${ok.sum}%.2f,"octile_means":$octJson,"flatness_last_over_first":$flat%.2f,""" +
      f""""driver_heap_total":$localSec%.3f,"driver_heap_equal":$equal,""" +
      s""""dict_words":${dict.length},"dict_bytes":${dictBytes(dict)},""" +
      s""""dict_words_minCount2":${dictF2.length},"dict_bytes_minCount2":${dictBytes(dictF2)},""" +
      s""""times":$timesJson}""")
    s.stop()
  }
}
