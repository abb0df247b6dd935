package graft.tools

/** Measure the FastBPE-shape driver-heap trainer
  * (graft.text.TextStats.bpeMergesDriverHeap) at a PRODUCTION merge depth
  * (default 32k — VERDICT r15 #3: the "32k-merge vocab trains in seconds"
  * crossover claim was extrapolated from 64 rounds, never measured).
  *
  * Two measurements, printed as ONE `GRAFT_BPE_DEPTH` JSON line:
  *
  *  1. The REAL sf0.1 dictionary. The synthetic fixture has ~31 distinct
  *     words (~634 bytes of symbol mass), so training EXHAUSTS long before
  *     32k merges — the honest number here is where it exhausts and how
  *     fast, which bounds the trainer's cost on this fixture family.
  *  2. A PRODUCTION-SHAPED synthetic dictionary: `syn_words` distinct
  *     words (deterministic base-26 encodings, lengths 6-11 — arithmetic,
  *     no RNG, so reruns reproduce bit-for-bit) with Zipf counts
  *     (count(i) = max(1, N/(i+1)) — the shape a minCount-floored
  *     web-corpus dictionary collect actually has; wordFreqDict's floor
  *     bounds the collect, this probe bounds what happens AFTER it).
  *     200k words × ~8.5 symbols ≈ 1.7M initial pair positions sustains
  *     the full 32k merges, so the claim is measured at depth, not
  *     extrapolated. Heap is measured two ways: the JVM-wide POOL PEAK
  *     over the training window (resetPeakUsage before, read after — an
  *     upper bound including any concurrent allocation) and the
  *     post-GC RETAINED delta (the merge table + mutated dictionary the
  *     caller keeps).
  *
  * The probe is a measurement harness: the synthetic dictionary feeds the
  * trainer directly (a Seq[(String, Long)]), no Spark job, no query-path
  * code — exactly the state shape a 100 TB corpus hands the driver after
  * the one distributed dictionary pass. */
object BpeDepthProbe {
  private def base26(n0: Long, len: Int): String = {
    val sb = new StringBuilder
    var n = n0
    var i = 0
    while (i < len) { sb.append(('a' + (n % 26)).toChar); n /= 26; i += 1 }
    sb.toString
  }

  /** Deterministic Zipf-ish dictionary: distinct words, decreasing counts. */
  private[tools] def syntheticDict(nWords: Int): Seq[(String, Long)] =
    (0 until nWords).map { i =>
      // multiplicative scramble so neighboring ranks don't share prefixes
      // (BPE depth needs pair diversity, not a lexicographic run)
      val h = i.toLong * 2654435761L
      val len = 6 + (i % 6)
      (base26(java.lang.Long.remainderUnsigned(h, 308915776L /* 26^6 */), 6) +
        base26(java.lang.Long.remainderUnsigned(h >>> 17, 11881376L /* 26^5 */), len - 6),
        math.max(1L, nWords.toLong / (i + 1L)))
    }.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) } // dedupe collisions
      .toSeq.sortBy(_._1)

  private def heapPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .stream().filter(p => p.getType == java.lang.management.MemoryType.HEAP)

  private def usedAfterGc(): Long = {
    System.gc(); Thread.sleep(100)
    val rt = Runtime.getRuntime
    rt.totalMemory() - rt.freeMemory()
  }

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val merges = if (args.length > 1) args(1).toInt else 32768
    val synWords = if (args.length > 2) args(2).toInt else 200000

    // --- 1. the real fixture dictionary (one distributed pass) ----------
    val s = graft.Sessions.local(graft.Sessions.defaultCpus)
    val dt0 = System.nanoTime()
    val dict = graft.text.TextStats.wordFreqDict(graft.Tables.documents(s, d))
    val dictSec = (System.nanoTime() - dt0) / 1e9
    s.stop()
    val ft0 = System.nanoTime()
    val fixMerges = graft.text.TextStats.bpeMergesDriverHeap(dict, merges)
    val fixSec = (System.nanoTime() - ft0) / 1e9

    // --- 2. the production-shaped synthetic dictionary ------------------
    val syn = syntheticDict(synWords)
    val before = usedAfterGc()
    heapPools.forEach(_.resetPeakUsage())
    val st0 = System.nanoTime()
    val synMerges = graft.text.TextStats.bpeMergesDriverHeap(syn, merges)
    val synSec = (System.nanoTime() - st0) / 1e9
    val peak = heapPools.mapToLong(_.getPeakUsage.getUsed).sum
    val retained = usedAfterGc() - before
    val mb = 1048576.0
    println(s"""GRAFT_BPE_DEPTH {"sf":"$d","merges_requested":$merges,""" +
      s""""dict_words":${dict.length},"dict_sec":${graft.Jnum.f(dictSec, 2)},""" +
      s""""fixture_merges":${fixMerges.length},"fixture_sec":${graft.Jnum.f(fixSec, 3)},""" +
      s""""syn_words":${syn.length},"syn_merges":${synMerges.length},""" +
      s""""syn_sec":${graft.Jnum.f(synSec, 2)},""" +
      s""""syn_heap_peak_mb":${graft.Jnum.f(peak / mb, 0)},""" +
      s""""syn_heap_retained_mb":${graft.Jnum.f(math.max(retained, 0L) / mb, 0)}}""")
  }
}
