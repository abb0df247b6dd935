package graft.etl

import org.apache.spark.sql.{Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.sources.Layout

/** End-to-end TRAINING-DATA pipeline — the LLM-corpus counterpart of the
  * star-schema ETL ([[RunEtl]]): one main that chains the registered
  * operators the way a user of this library would to turn a raw document
  * corpus into training shards, materializing each stage as parquet plus a
  * deterministic `manifest.json` of stage counts (the release-accounting
  * record — what dd_dedup_funnel reports, here as the actual artifact).
  * Every count is observed on the write that produces its rows, the way
  * the reference's COPY and INSERT report the rows they load: no stage is
  * cached, read back or grouped just to be counted.
  *
  * Stages (each reuses the SAME frame transforms / plan shapes the
  * registered queries verify against DuckDB — the pipeline cannot drift
  * from the oracle-checked semantics):
  *   1. clean      — quality gate + exact dedup (min-id keeper) + ≥0.5
  *                   Jaccard near-dup loser removal
  *                   (Dedup.cleanCorpusKeepers / dd_clean_corpus).
  *   2. decontam   — drop docs sharing ≥ [[DecontamMinShingles]] 3-token
  *                   shingles with the eval source (dd_decontaminate's
  *                   broadcast eval-dictionary join, applied as a filter;
  *                   eval docs themselves never enter the corpus).
  *   3. sample     — temperature-weighted mixture draw
  *                   (TextStats.mixtureRates + sampleByThreshold /
  *                   tx_mixture_sample).
  *   4. split      — deterministic train/val/test on sampler-disjoint hash
  *                   bits (TextStats.withSplit / tx_split_assign).
  *   5. pack       — per-(split, source) concat-and-cut pack coordinates
  *                   (the tx_pack_sequences shape; packing never crosses a
  *                   split, so no eval token rides a train pack).
  *   6. tokenizer  — BPE merges trained on the TRAIN split only (no val/
  *                   test leakage into the vocab), via the driver-heap
  *                   trainer at production depth, dictionary bounded by
  *                   the [[BpeMinCount]] floor.
  *   7. release    — the audit gate: verify against the persisted pair
  *                   graph that NO ≥0.5 near-dup pair survives with both
  *                   endpoints released (so none can cross the train/eval
  *                   split — dd_split_leakage's hazard), failing the run
  *                   otherwise; then publish the per-source train-split
  *                   data card under ε = ln 3 differential privacy
  *                   (tx_dp_histogram's exact mechanism, keyed on a SECRET
  *                   per-release seed and projected to the public columns
  *                   only — see [[run]]'s dpReleaseSeed contract).
  *
  * Scale shape: stages 1-2 are the dedup family's capped/bucketed plans;
  * 3-5 are broadcast-attach + scan-parallel predicates + per-shard windows
  * (no global sort, no uncapped pairs); 6 is one dictionary pass + driver
  * work. Every stage writes parquet, so a 100 TB run can resume at any
  * stage boundary.
  *
  * Usage: `sbt "runMain graft.etl.RunCorpusPipeline <sfDir> <outDir>
  * [decontamMinShingles]"` */
object RunCorpusPipeline {

  /** Drop a doc when it shares at least this many distinct 3-token
    * shingles with the eval source (2 = dd_decontaminate's near-dup
    * screen threshold convention). */
  final val DecontamMinShingles = 2

  /** BPE depth for the pipeline tokenizer — a production-like depth, far
    * past the registered queries' 8 rounds. */
  final val PipelineBpeRounds = 300

  /** Min-count dictionary floor for the pipeline tokenizer (the
    * wordFreqDict knob): words seen fewer times than this never enter the
    * driver-heap trainer, bounding the one driver-side dictionary collect
    * at web scale (see the exactness contract on TextStats.wordFreqDict —
    * hapax noise can't win a merge unless counts are hapax-sized anyway). */
  final val BpeMinCount = 2L

  final case class StageCounts(
      nInput: Long, nClean: Long, nDecontamDropped: Long, nEvalHeldOut: Long,
      nNoSource: Long, nSampled: Long, splits: Map[String, Long], nPacked: Long, nMerges: Long) {
    /** The counts as JSON fields, in manifest order: `manifest.json` and
      * both of [[main]]'s report lines render them through here. */
    def jsonFields: String =
      s""""n_input":$nInput,"n_clean":$nClean,"n_decontam_dropped":$nDecontamDropped,""" +
        s""""n_eval_held_out":$nEvalHeldOut,"n_no_source":$nNoSource,"n_sampled":$nSampled,"splits":""" +
        splits.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}") +
        s""","n_packed":$nPacked,"n_bpe_merges":$nMerges"""
  }

  /** @param dpReleaseSeed secret seed keying the data card's DP noise draw
    *   — MUST be fresh per release and never published (a public or reused
    *   seed voids the ε guarantee: noise becomes recomputable, and two
    *   releases sharing a seed over overlapping data difference to exact
    *   deltas). It is deliberately written to NO artifact here — not the
    *   card, not the manifest. [[main]] draws one from SecureRandom;
    *   specs pass a fixed value to replay the card.
    * @param onStage called with (stage name, wall seconds) as each stage's
    *   terminal action completes — perfbench's `corpus_release` workload
    *   reads per-stage cost through it; the default no-op keeps every
    *   other caller unchanged. Timing is by wall segment between stage boundaries, so
    *   a stage's figure includes the lazy upstream work its OWN actions
    *   force. Each count is observed on its stage's write, so counting
    *   adds no action to any stage.
    * @param decontamMinShingles decontamination drop threshold (default
    *   [[DecontamMinShingles]] — the dd_decontaminate oracle convention).
    *   A corpus whose shingle density differs from the eval source's
    *   tunes this; perfbench's `corpus_release` runs at 20 because on
    *   the SYNTHETIC fixture at sf0.1 threshold 2 marks 99.5% of docs
    *   contaminated (4,725 of 4,750 non-eval docs; shared shingles per
    *   doc p50 19 / p90 34 — the generator's small vocabulary makes
    *   3-token shingles collide corpus-wide), leaving nothing for the
    *   downstream stages to measure, while 20 drops about half. An all-contaminated corpus is still a legal run: every
    *   stage handles empty input and the release is empty with a
    *   zero-count manifest (spec-pinned), not a crash. Must be at least
    *   1: only docs sharing a shingle reach the threshold filter, so a
    *   lower value would act as 1. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      dpReleaseSeed: String,
      onStage: (String, Double) => Unit = (_, _) => (),
      decontamMinShingles: Int = DecontamMinShingles): StageCounts = {
    require(decontamMinShingles >= 1, s"decontamMinShingles must be at least 1, got $decontamMinShingles")
    var tMark = System.nanoTime()
    def stageDone(name: String): Unit = {
      val now = System.nanoTime()
      onStage(name, (now - tMark) / 1e9)
      tMark = now
    }
    val docs = graft.Tables.documents(spark, sfDir)

    // 1. clean: quality + exact-dup keeper + near-dup loser removal.
    val keepers = graft.dedup.Dedup.cleanCorpusKeepers(spark, sfDir)
    val clean = docs.join(keepers, Seq("doc_id"), "left_semi")

    // 2. decontaminate vs the eval source: eval shingle dictionary is
    // bounded by the eval vocabulary and BROADCAST (capping it would cost
    // recall = eval leakage); one count per corpus doc, filter, done. The
    // eval source's own docs are excluded from the corpus output. Each
    // side shingles ONLY its own slice (Dedup.shingleRowsOf): the earlier
    // monolithic form shingled the full corpus twice — once to keep the
    // eval 1/n_sources for the dictionary, once to probe — doubling the
    // stage's most expensive scan at the 100 TB point.
    val evalDict = graft.dedup.Dedup
      .shingleRowsOf(docs.filter(col("source") === EvalSource))
      .select(col("sng")).distinct()
    // The probe side shingles the CLEAN non-eval slice, not the raw corpus:
    // contaminated ids only ever drop clean docs, so shingling
    // quality-rejects and near-dup losers re-windows and re-distincts
    // documents whose verdict can never matter — up to ~2x wasted work on
    // the stage's most expensive scan on a dup-heavy corpus (round-19
    // review). The eval DICTIONARY stays over raw docs: an eval doc
    // dropped by stage 1 must still contribute its shingles, or its
    // near-dups leak into the corpus.
    val contaminated = graft.dedup.Dedup
      .shingleRowsOf(clean.filter(col("source") =!= EvalSource))
      .join(broadcast(evalDict), "sng")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= decontamMinShingles)
      .select(col("doc_id"), lit(true).as("contam"))
    // Each input doc is classified once (both join keys are unique per
    // doc_id, so no doc is duplicated), and the funnel is observed on that
    // frame inside the clean.parquet write: the keeper chain runs once
    // without a cache (its exchanges are reused), and the funnel balances
    // as n_clean = released + n_decontam_dropped + n_eval_held_out +
    // n_no_source. A clean doc with a NULL source is neither screened nor
    // released (dd_decontaminate's NULL contract), so it has its own term.
    val funnel = Observation()
    val released = docs
      .join(keepers.select(col("doc_id"), lit(true).as("kept")), Seq("doc_id"), "left_outer")
      .join(contaminated, Seq("doc_id"), "left_outer")
      .observe(funnel, count(lit(1)), count_if(col("kept")),
        count_if(col("kept") && col("source") === EvalSource),
        count_if(col("kept") && col("source").isNull))
      .filter(col("kept") && col("source") =!= EvalSource && col("contam").isNull)
      .select(docs.columns.map(col).toSeq: _*)
    val nReleased = Layout.writeParquet(released, s"$outDir/clean.parquet")
    val Row(nInput: Long, nClean: Long, nEvalHeldOut: Long, nNoSource: Long) =
      Layout.observed(spark, funnel)
    val nDecontamDropped = nClean - nReleased - nEvalHeldOut - nNoSource
    val cleanBack = spark.read.schema(released.schema).parquet(s"$outDir/clean.parquet")
    stageDone("clean_decontam")

    // 3. mixture sample over the decontaminated corpus.
    val rates = graft.text.TextStats.mixtureRates(cleanBack)
    val sampled = graft.text.TextStats.sampleByThreshold(cleanBack, rates)
      .drop("thresh")
    // 4. split on sampler-disjoint bits; the per-split counts are observed
    // on the shards write (a split with no docs has no entry).
    val splitDocs = graft.text.TextStats.withSplit(sampled).drop("h16")
    val perSplit = Observation()
    val splitCols = graft.text.TextStats.SplitLabels.map(l => count_if(col("split") === l).as(l))
    val nSampled = Layout.writePartitioned(
      splitDocs.observe(perSplit, splitCols.head, splitCols.tail: _*),
      s"$outDir/shards.parquet", "split")
    val splitCounts = Layout.observed(spark, perSplit)
      .getValuesMap[Long](graft.text.TextStats.SplitLabels).filter(_._2 > 0)
    val shards = spark.read.schema(splitDocs.schema).parquet(s"$outDir/shards.parquet")
    stageDone("sample_split")

    // 5. pack coordinates per (split, source) — the SHARDED two-level
    // prefix scan (TextStats.shardedCum, tx_pack_sequences_sharded's
    // shape): the unsharded per-(split, source) window would put a
    // dominant source's whole train split in ONE task at scale. The
    // window-index projection and NULL-total token count are the shared
    // definitions the pack oracles verify (windowIndexCols / nTokensAs /
    // PackWin — a window-size retune moves the pipeline with the queries).
    val packed = graft.text.TextStats.shardedCum(
        shards.select(col("split"), col("source"), col("doc_id"),
          expr(graft.text.TextStats.nTokensAs("BIGINT")).as("n_tokens")),
        Seq("split", "source"))
      .select(Seq(col("split"), col("source"), col("doc_id"), col("n_tokens"))
        ++ graft.text.TextStats.windowIndexCols: _*)
    val nPacked = Layout.writePartitioned(packed, s"$outDir/packed.parquet", "split")
    stageDone("pack")

    // 6. tokenizer trained on the TRAIN split only — the vocab must not
    // see val/test text (the tokenizer-side analog of decontamination).
    val trainDocs = shards.filter(col("split") === "train")
    val merges = graft.text.TextStats.bpeMergesDriverHeap(
      graft.text.TextStats.wordFreqDict(trainDocs, BpeMinCount), PipelineBpeRounds)
    import spark.implicits._
    merges.toDF("merge_rank", "lhs", "rhs", "merged", "n_pairs")
      .repartition(1).write.mode("overwrite").parquet(s"$outDir/bpe_merges.parquet")
    stageDone("bpe_train")

    // 7. release audit. (a) LEAKAGE GATE: stage 1 removed the doc_b side of
    // every ≥0.5-Jaccard pair, so NO pair may survive with both endpoints
    // in the released corpus — and in particular none can cross the
    // train/eval split (dd_split_leakage's hazard). VERIFIED against the
    // persisted pair graph, not assumed: a nonzero count fails the run
    // before anything ships. Pair-sized joins only.
    val ids = shards.select(col("doc_id"))
    val survivingPairs = graft.dedup.Dedup.jaccardPairs(spark, sfDir, permille = 500)
      .select(col("doc_a"), col("doc_b"))
      .join(ids.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .join(ids.withColumnRenamed("doc_id", "doc_b"), "doc_b")
      .count()
    require(survivingPairs == 0,
      s"release gate: $survivingPairs near-dup pairs survive in the released corpus")
    // (b) DP DATA CARD: per-source TRAIN counts released under ε = ln 3
    // (tx_dp_histogram's exact mechanism via the shared transform) — the
    // corpus composition a release can publish without leaking any single
    // document's presence. Two leak guards distinguish this from the
    // registered mechanism-test query: the noise is keyed on the SECRET
    // per-release seed (not the public harness tag — and not shared with
    // any other release, so no cross-release differencing), and the card
    // projects ONLY the public columns (n_raw/noise stay internal; a card
    // carrying n_raw would ship the exact counts the noise exists to hide).
    graft.text.TextStats.dpNoisyCounts(trainDocs, "source", dpReleaseSeed)
      .select("source", graft.text.TextStats.DpPublicCols: _*)
      .repartition(1).write.mode("overwrite").parquet(s"$outDir/dp_datacard.parquet")
    stageDone("release_audit")

    val counts = StageCounts(nInput, nClean, nDecontamDropped, nEvalHeldOut,
      nNoSource, nSampled, splitCounts, nPacked, merges.length.toLong)
    val manifest = "{" + counts.jsonFields + s""","n_surviving_neardup_pairs":$survivingPairs,""" +
      s""""dp_eps_micro":${graft.text.TextStats.EpsMicro}}"""
    // Written through the session's Hadoop FileSystem, not java.nio local-FS
    // paths: every stage output above goes through Spark's URI-capable
    // writers, and a non-local outDir (the 100 TB deployment this object
    // documents) would otherwise crash at the very end of the run with all
    // the work spent (round-19 review).
    val outPath = new org.apache.hadoop.fs.Path(outDir, "manifest.json")
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(outPath, true)
    try os.write((manifest + "\n").getBytes("UTF-8")) finally os.close()
    counts
  }

  /** The held-out eval source (the fixture's src0 — dd_decontaminate's
    * convention). */
  final val EvalSource = "src0"

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_corpus_out"
    // Optional 3rd arg: decontamination threshold override (see run()'s
    // decontamMinShingles scaladoc — the scale probe raises it on the
    // shingle-dense synthetic fixture; the default is the oracle
    // convention).
    val minShingles =
      if (args.length > 2) args(2).toInt else DecontamMinShingles
    // Fresh secret seed per release run; printed nowhere, stored nowhere.
    val seedBytes = new Array[Byte](16)
    new java.security.SecureRandom().nextBytes(seedBytes)
    val dpReleaseSeed = seedBytes.map("%02x".format(_)).mkString + ":"
    val spark = Sessions.local(Sessions.defaultCpus)
    try {
      val stageSecs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val c = run(spark, sfDir, outDir, dpReleaseSeed,
        onStage = (name, sec) => stageSecs(name) = sec,
        decontamMinShingles = minShingles)
      println(s"[pipeline] {${c.jsonFields}} -> $outDir")
      // One parseable line per run: per-stage wall seconds + the manifest
      // counts, so stage cost AND count conservation read from one
      // record. Timings are NOT in manifest.json —
      // that artifact stays a deterministic function of the corpus.
      val stagesJson = stageSecs.map { case (k, v) => "\"" + k + "\":" + graft.Jnum.f(v, 2) }
        .mkString("{", ",", "}")
      println(s"""GRAFT_PIPELINE {"sf":${graft.Jnum.str(sfDir)},"min_shingles":$minShingles,"stages":$stagesJson,""" +
        c.jsonFields + "}")
    } finally spark.stop()
  }
}
