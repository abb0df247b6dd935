package graft.etl

import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ResultQueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** End-to-end contract of the training-data pipeline: every stage's output
  * is a subset of the previous stage under the registered operators' own
  * semantics, the manifest restates the materialized counts exactly, and
  * the leakage guards hold (no eval-source doc or eval-contaminated doc in
  * the corpus; tokenizer vocab trained on the train split only). */
class CorpusPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val out = TestSpark.tempDir("corpus_pipe").toString
  // Fixed stand-in for the per-release SECRET seed (main draws one from
  // SecureRandom) so the spec can replay the data card deterministically.
  val specSeed = "spec-release-seed:"
  lazy val counts = RunCorpusPipeline.run(spark, TestSpark.sf, out, specSeed)

  test("stage counts chain and the manifest restates them") {
    val c = counts
    assert(c.nInput == graft.Tables.documents(spark, TestSpark.sf).count())
    assert(c.nClean <= c.nInput && c.nClean > 0)
    assert(c.nSampled > 0 && c.nSampled <= c.nClean)
    // The funnel BALANCES from the recorded fields alone (round 19):
    // sampler input = n_clean - n_decontam_dropped - n_eval_held_out.
    assert(c.nSampled <= c.nClean - c.nDecontamDropped - c.nEvalHeldOut,
      s"funnel does not balance: $c")
    assert(c.splits.values.sum == c.nSampled)
    assert(c.nPacked == c.nSampled, "pack emits one coordinate row per doc")
    assert(c.nMerges > 0)
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "manifest.json")), "UTF-8")
    for (frag <- Seq(s""""n_input":${c.nInput}""", s""""n_clean":${c.nClean}""",
        s""""n_decontam_dropped":${c.nDecontamDropped}""",
        s""""n_eval_held_out":${c.nEvalHeldOut}""",
        s""""n_sampled":${c.nSampled}""", s""""n_packed":${c.nPacked}""",
        s""""n_bpe_merges":${c.nMerges}"""))
      assert(manifest.contains(frag), s"manifest missing $frag: $manifest")
  }

  /** The nodes of an executed plan, through its adaptive query stages;
    * without `crossExchanges`, only those above every exchange. */
  private def nodes(p: SparkPlan, crossExchanges: Boolean): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan, crossExchanges)
    case r: ResultQueryStageExec => nodes(r.plan, crossExchanges)
    case q: QueryStageExec => if (crossExchanges) nodes(q.plan, crossExchanges) else Nil
    case _: Exchange if !crossExchanges => Nil
    case other => other +: other.children.flatMap(nodes(_, crossExchanges))
  }

  /** One release at sf0.01 over a private copy of its documents, so the
    * pair-graph artifact is built cold, as in a fresh store. Records the
    * release's jobs and the executed plan of its clean.parquet write. */
  lazy val (sf01In, sf01Out, sf01Counts, sf01Jobs, cleanWritePlan) = {
    val in = TestSpark.tempDir("corpus_sf01_in")
    java.nio.file.Files.copy(java.nio.file.Paths.get(TestSpark.sf).resolveSibling("sf0.01")
      .resolve("documents.parquet"), in.resolve("documents.parquet"))
    val outDir = TestSpark.tempDir("corpus_sf01_out").toString
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    var c: RunCorpusPipeline.StageCounts = null
    val rec = try graft.tools.Profile.run(spark) {
      c = RunCorpusPipeline.run(spark, in.toString, outDir, specSeed)
    } finally {
      org.apache.spark.ProfileBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    val cleanWrite = plans.toArray(Array.empty[SparkPlan]).toSeq.filter(p =>
      nodes(p, crossExchanges = true).exists {
        case w: DataWritingCommandExec => w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => i.outputPath.getName == "clean.parquet"
          case _ => false
        }
        case _ => false
      })
    assert(cleanWrite.size == 1, s"expected one clean.parquet write, got ${cleanWrite.size}")
    (in.toString, outDir, c, rec.jobs, cleanWrite.head)
  }

  test("sf0.01: every stage count equals a read-back count of its output") {
    val c = sf01Counts
    val docs = graft.Tables.documents(spark, sf01In)
    val clean = docs.join(graft.dedup.Dedup.cleanCorpusKeepers(spark, sf01In), Seq("doc_id"), "left_semi")
    val released = spark.read.parquet(s"$sf01Out/clean.parquet").count()
    val shards = spark.read.parquet(s"$sf01Out/shards.parquet")
    assert(c.nInput == docs.count())
    assert(c.nClean == clean.count())
    assert(c.nEvalHeldOut == clean.filter(col("source") === RunCorpusPipeline.EvalSource).count())
    assert(c.nClean == released + c.nDecontamDropped + c.nEvalHeldOut, s"funnel does not balance: $c")
    assert(released > 0 && c.nDecontamDropped > 0, s"sf0.01 should release and drop docs: $c")
    assert(c.nSampled == shards.count())
    assert(c.splits == shards.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)
    assert(c.nPacked == spark.read.parquet(s"$sf01Out/packed.parquet").count())
  }

  test("sf0.01: a release runs 40 Spark jobs on a fresh artifact store") {
    assert(sf01Jobs == 40, s"jobs per release: $sf01Jobs")
  }

  test("the funnel is observed in the clean.parquet write's result stage") {
    // Every CollectMetrics node (the funnel and the write's row count) must
    // sit above every exchange: a result task's accumulators merge once per
    // partition, so no retried or resubmitted task can count a doc twice.
    def metrics(crossExchanges: Boolean) =
      nodes(cleanWritePlan, crossExchanges).collect { case m: CollectMetricsExec => m }
    assert(metrics(crossExchanges = true).size == 2, cleanWritePlan.toString)
    assert(metrics(crossExchanges = false).size == 2,
      s"an observation sits below an exchange:\n$cleanWritePlan")
  }

  test("a clean doc with a NULL source is not released and counts as dropped") {
    // The counts a read-back funnel (count clean, subtract the released
    // rows and the eval docs) gives on this fixture:
    // input 4; clean 3 (doc 3 is an exact copy of doc 1); eval held out 1
    // (doc 0); released 1 (doc 1); dropped 3 - 1 - 1 = 1, the NULL-source
    // doc 2, which no source filter passes.
    import spark.implicits._
    val dir = TestSpark.tempDir("corpus_null_src_in").toString
    val texts = Seq(
      "quick brown foxes jump over lazy dogs beside seven silver rivers",
      "many green parrots sing loudly above warm tropical forests every morning",
      "old iron bridges carry heavy trains across wide northern valleys tonight")
    Seq((0L, texts(0), Some(RunCorpusPipeline.EvalSource)), (1L, texts(1), Some("src1")),
        (2L, texts(2), None), (3L, texts(1), Some("src1")))
      .map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val outN = TestSpark.tempDir("corpus_null_src_out").toString
    val c = RunCorpusPipeline.run(spark, dir, outN, specSeed)
    assert((c.nInput, c.nClean, c.nEvalHeldOut, c.nDecontamDropped) == ((4L, 3L, 1L, 1L)), c)
    assert(spark.read.parquet(s"$outN/clean.parquet").select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("a decontamination threshold below 1 is rejected") {
    val e = intercept[IllegalArgumentException](
      RunCorpusPipeline.run(spark, TestSpark.sf, TestSpark.tempDir("corpus_min0").toString,
        specSeed, decontamMinShingles = 0))
    assert(e.getMessage.contains("decontamMinShingles"))
  }

  test("leakage guards: no eval docs or eval-contaminated docs in the corpus") {
    counts
    val clean = spark.read.parquet(s"$out/clean.parquet")
    assert(clean.filter(col("source") === RunCorpusPipeline.EvalSource).count() == 0)
    // replay the contamination rule: every surviving doc shares < 2
    // distinct shingles with the eval source
    val sh = graft.dedup.Dedup.shingleRows(spark, TestSpark.sf)
    val evalIds = graft.Tables.documents(spark, TestSpark.sf)
      .filter(col("source") === RunCorpusPipeline.EvalSource).select("doc_id")
    val evalSngs = sh.join(evalIds, "doc_id").select("sng").distinct()
    val shared = sh.join(evalSngs, "sng").groupBy("doc_id")
      .agg(count(lit(1)).as("n")).filter(col("n") >= RunCorpusPipeline.DecontamMinShingles)
    assert(clean.join(shared, Seq("doc_id"), "left_semi").count() == 0)
  }

  test("shards: sampled subset of clean; split membership replays withSplit") {
    counts
    val clean = spark.read.parquet(s"$out/clean.parquet")
    val shards = spark.read.parquet(s"$out/shards.parquet")
    assert(shards.join(clean, Seq("doc_id"), "left_anti").count() == 0)
    val bad = shards.select("doc_id", "split")
      .join(graft.text.TextStats.withSplit(clean).select(col("doc_id"),
        col("split").as("exp")), "doc_id")
      .filter(col("split") =!= col("exp"))
    assert(bad.count() == 0, "split column must equal the registered assignment")
  }

  test("pack coordinates tile per (split, source) shard") {
    counts
    val packed = spark.read.parquet(s"$out/packed.parquet")
    assert(packed.filter(col("offset_in_win") < 0 || col("offset_in_win") >= 256).count() == 0)
    assert(packed.filter(col("win_last") < col("win_first")).count() == 0)
    // consecutive docs within a shard: next doc starts exactly where the
    // previous ended (cum prefix property — no gaps, no overlaps)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("split"), col("source")).orderBy(col("doc_id"))
    val chained = packed
      .withColumn("start_tok", col("win_first") * 256 + col("offset_in_win"))
      .withColumn("prev_end", lag(col("start_tok") + col("n_tokens"), 1).over(w))
      .filter(col("prev_end").isNotNull && col("start_tok") =!= col("prev_end"))
    assert(chained.count() == 0, "packing must tile each shard contiguously")
  }

  test("all-contaminated corpus yields an empty release, not a crash") {
    // Found by the round-15 scale probe: at sf0.1 the oracle-default
    // decontamination threshold marks ~99.5% of the synthetic fixture
    // contaminated, and the then-empty partitioned shards write had no
    // schema to read back (UNABLE_TO_INFER_SCHEMA). The read-backs now
    // carry explicit schemas, so the degenerate-but-legal outcome is an
    // empty release with a zero-count manifest. Fixture: every doc is the
    // SAME quality-passing text, and the min doc_id is an eval-source doc
    // — the exact-dup keeper keeps only that doc, the eval-source
    // exclusion then empties the corpus by construction.
    import spark.implicits._
    val dir = TestSpark.tempDir("corpus_empty_in").toString
    val text = "quick brown foxes jump over lazy dogs beside seven silver rivers"
    (0L to 9L).map(i => (i, text, "en",
        if (i == 0L) RunCorpusPipeline.EvalSource else "src1", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val outE = TestSpark.tempDir("corpus_empty_out").toString
    val c = RunCorpusPipeline.run(spark, dir, outE, specSeed)
    assert(c.nInput == 10 && c.nClean == 1)
    assert(c.nSampled == 0 && c.nPacked == 0 && c.nMerges == 0 &&
      c.splits.isEmpty, s"release must be empty: $c")
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(outE, "manifest.json")), "UTF-8")
    assert(manifest.contains(""""n_sampled":0""") &&
      manifest.contains(""""n_surviving_neardup_pairs":0"""), manifest)
  }

  test("tokenizer vocab is trained on the train split only") {
    counts
    val shards = spark.read.parquet(s"$out/shards.parquet")
    val trainDict = graft.text.TextStats.wordFreqDict(
      shards.filter(col("split") === "train"), RunCorpusPipeline.BpeMinCount)
    val expected = graft.text.TextStats.bpeMergesDriverHeap(
      trainDict, RunCorpusPipeline.PipelineBpeRounds)
    val stored = spark.read.parquet(s"$out/bpe_merges.parquet")
      .orderBy("merge_rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(stored.toSeq == expected, "stored merges must replay from the train dictionary")
  }

  test("release audit: gate recorded clean; DP data card replays the shared mechanism") {
    counts
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "manifest.json")), "UTF-8")
    assert(manifest.contains(""""n_surviving_neardup_pairs":0"""),
      s"gate count must be recorded zero: $manifest")
    assert(manifest.contains(""""dp_eps_micro":1098612"""))
    val cardDf = spark.read.parquet(s"$out/dp_datacard.parquet")
    // PUBLIC COLUMNS ONLY: n_raw/noise/u48 on the card would ship the exact
    // counts the noise exists to hide (the round-13 advisory).
    assert(cardDf.columns.toSeq == "source" +: graft.text.TextStats.DpPublicCols,
      s"card must carry only public columns, got ${cardDf.columns.toSeq}")
    val card = cardDf.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(card.nonEmpty)
    // the card must equal the shared transform (under the release seed) over
    // the released train split, projected to the public columns
    val shards = spark.read.parquet(s"$out/shards.parquet")
    val train = shards.filter(col("split") === "train")
    val internal = graft.text.TextStats.dpNoisyCounts(train, "source", specSeed)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(card.sortBy(_._1).toSeq ==
      internal.sortBy(_._1).map(t => (t._1, t._4, 1098612L)).toSeq)
    // clamp arithmetic holds on the internal view
    internal.foreach { case (src, raw, noise, noisy) =>
      assert(noisy == math.max(raw + noise, 0L), s"$src: clamp arithmetic")
    }
    // THE SEED KEYS THE DRAW: under the public harness tag the noise vector
    // must differ — the card's draw is not the one tx_dp_histogram (or any
    // other release) published, so no cross-release differencing.
    val harness = graft.text.TextStats.dpNoisyCounts(train, "source",
      seedTag = graft.text.TextStats.DpHarnessSeed)
      .collect().map(r => (r.getString(0), r.getInt(2)))
    assert(internal.map(t => (t._1, t._3)).toSeq != harness.toSeq,
      "release-seed noise must differ from the harness-tag noise")
  }
}
