package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DocsStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("streaming exact dedup equals batch dd_exact fingerprint groups (multi-batch)") {
    // Stage the fixture as two files split by doc_id so duplicate texts can
    // span the micro-batch boundary; maxFilesPerTrigger=1 forces two batches.
    val dir = TestSpark.tempDir("docs_dedup").toString
    val docs = graft.Tables.documents(spark, sf)
    val mid = docs.selectExpr("percentile_approx(doc_id, 0.5)").head.getLong(0)
    def stage(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = s"$dir/_tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$dir/$name.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    val t0 = System.currentTimeMillis()
    stage(docs.filter(col("doc_id") <= mid), "part1", t0 - 60000)
    stage(docs.filter(col("doc_id") > mid), "part2", t0)

    val streamed = DocsStream.runDedupStream(spark, dir, "docs_dedup_spec",
      maxFilesPerTrigger = 1)
    val batch = graft.dedup.Dedup.defs.find(_.name == "dd_exact").get.fn(spark, sf)

    // one row per distinct fingerprint, and exactly the batch fingerprint set
    val streamFps = streamed.select("fp").collect().map(_.getString(0)).toSeq
    assert(streamFps.distinct.size == streamFps.size, "stream emitted duplicate fps")
    val batchFps = batch.select("fp").collect().map(_.getString(0)).toSet
    assert(streamFps.toSet == batchFps)
  }

  test("checkpointed parquet-sink dedup resumes across separate runs (incremental ingestion)") {
    val land = TestSpark.tempDir("docs_land").toString
    val out = s"$land/out"
    val ckpt = s"$land/ckpt"
    val src = s"$land/src"
    new java.io.File(src).mkdirs()
    val docs = graft.Tables.documents(spark, sf)
    val mid = docs.selectExpr("percentile_approx(doc_id, 0.5)").head.getLong(0)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$land/_tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    // run 1: first half arrives
    stage(docs.filter(col("doc_id") <= mid), "part1")
    DocsStream.runDedupToParquet(spark, src, out, ckpt)
    val afterRun1 = spark.read.parquet(out).count()
    // run 2: second half arrives; checkpoint must skip part1 and keep state
    stage(docs.filter(col("doc_id") > mid), "part2")
    DocsStream.runDedupToParquet(spark, src, out, ckpt)
    val result = spark.read.parquet(out)
    val fps = result.select("fp").collect().map(_.getString(0)).toSeq
    assert(fps.distinct.size == fps.size,
      "resumed run re-emitted fingerprints already in the landing table")
    val batchFps = graft.dedup.Dedup.defs.find(_.name == "dd_exact").get
      .fn(spark, sf).select("fp").collect().map(_.getString(0)).toSet
    assert(fps.toSet == batchFps)
    assert(afterRun1 < fps.size, "run 2 appended nothing — not incremental")
  }

  test("streaming incremental near-dup screen equals the registered batch variant") {
    // The stream sees ONLY a landing dir of new-batch docs plus the index
    // parquet — the old corpus is absent from every streaming input — and
    // must produce the batch st_incremental_dedup verdicts exactly.
    val land = TestSpark.tempDir("docs_screen").toString
    graft.Tables.documents(spark, sf).filter(expr("doc_id % 5 = 0"))
      .write.mode("overwrite").parquet(s"$land/arrivals")
    val idxPath = graft.dedup.Dedup.winnowFpIndexPath(spark, sf)
    val streamed = DocsStream.runIncrementalScreenStream(
      spark, s"$land/arrivals", idxPath, "incr_screen_spec")
      .collect().toSeq
    val batch = graft.streaming.DocsStream.defs
      .find(_.name == "st_incremental_dedup").get.fn(spark, sf).collect().toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
    // the screen covers EVERY arriving doc, including sub-8-token ones
    val arrivals = graft.Tables.documents(spark, sf)
      .filter(expr("doc_id % 5 = 0")).count()
    assert(batch.size.toLong == arrivals)
  }

  test("streaming media screen equals the registered batch variant; re-mux arrival flagged") {
    // Same contract as the winnow screen: the stream sees ONLY the arrivals
    // dir plus the frame index parquet, and must produce the batch
    // st_media_dedup verdicts exactly.
    val land = TestSpark.tempDir("media_screen").toString
    graft.Tables.documents(spark, sf).filter(expr("doc_id % 5 = 0"))
      .write.mode("overwrite").parquet(s"$land/arrivals")
    val idxPath = graft.mm.Multimodal.frameFpIndexPath(spark, sf)
    val streamed = DocsStream.runMediaScreenStream(
      spark, s"$land/arrivals", idxPath, "media_screen_spec")
      .collect().toSeq
    val batch = DocsStream.defs
      .find(_.name == "st_media_dedup").get.fn(spark, sf).collect().toSeq
    assert(streamed == batch)
    assert(batch.size.toLong == graft.Tables.documents(spark, sf)
      .filter(expr("doc_id % 5 = 0")).count(), "every arrival gets a verdict")
    // Planted re-mux: an INGESTED doc's payload with the first 32-byte frame
    // rewritten — unchanged sampled frames keep their fingerprints, so the
    // arrival must flag dup_media against the index.
    val s = spark; import s.implicits._
    val donor = graft.Tables.documents(spark, sf)
      .filter(expr("doc_id % 5 <> 0 AND length(text) >= 512"))
      .orderBy("doc_id").select("text").head.getString(0)
    val remux = "Z" * 32 + donor.drop(32)
    val dir2 = TestSpark.tempDir("media_remux").toString
    Seq((990000L, remux, "en", "s0", remux.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir2/arrivals")
    val v = DocsStream.runMediaScreenStream(
      spark, s"$dir2/arrivals", idxPath, "media_remux_spec").collect()
    assert(v.length == 1 && v.head.getString(3) == "dup_media",
      s"re-muxed known payload must flag dup_media: ${v.toSeq}")
  }

  test("checkpointed near-dup screen resumes across runs: no arrival double-screened or missed") {
    // The round-4 landing-dedup resume discipline applied to the round-9
    // screen: arrivals land in waves, the job is killed (AvailableNow run
    // ends) and restarted between them, and the landing table must hold
    // EXACTLY one verdict per arrival — offsets must skip screened files,
    // re-listing must pick up the new ones — matching the batch
    // st_incremental_dedup verdicts for the same docs.
    val land = TestSpark.tempDir("docs_screen_ckpt").toString
    val (src, out, ckpt) = (s"$land/src", s"$land/out", s"$land/ckpt")
    new java.io.File(src).mkdirs()
    val arrivals = graft.Tables.documents(spark, sf).filter(expr("doc_id % 5 = 0"))
    val mid = arrivals.selectExpr("percentile_approx(doc_id, 0.5)").head.getLong(0)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$land/_tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    val idxPath = graft.dedup.Dedup.winnowFpIndexPath(spark, sf)
    // run 1: first wave arrives and is screened
    stage(arrivals.filter(col("doc_id") <= mid), "wave1")
    DocsStream.runScreenToParquet(spark, src, idxPath, out, ckpt)
    val afterRun1 = spark.read.parquet(out).count()
    // killed + restarted: second wave arrives as TWO files, and
    // maxFilesPerTrigger=1 forces the resumed run through multiple batches
    val wave2 = arrivals.filter(col("doc_id") > mid)
    val mid2 = wave2.selectExpr("percentile_approx(doc_id, 0.5)").head.getLong(0)
    stage(wave2.filter(col("doc_id") <= mid2), "wave2a")
    stage(wave2.filter(col("doc_id") > mid2), "wave2b")
    DocsStream.runScreenToParquet(spark, src, idxPath, out, ckpt,
      maxFilesPerTrigger = 1)
    val landed = spark.read.parquet(out).collect().toSeq
    val ids = landed.map(_.getLong(0))
    assert(ids.distinct.size == ids.size, "an arrival was screened twice")
    assert(afterRun1 < ids.size, "resumed run landed nothing — not incremental")
    val batch = DocsStream.defs.find(_.name == "st_incremental_dedup").get
      .fn(spark, sf).collect().toSeq
    assert(landed.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1) ==
      batch.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))),
      "resumed landing table != batch verdicts for the same arrivals")
  }

  test("checkpointed media screen resumes across runs via the shared landing lifecycle") {
    // Same kill/restart contract as the winnow screen — the lifecycle is
    // literally the same code path, so this pins that the media verdict
    // function composes with it: two waves, restart between them with
    // maxFilesPerTrigger=1, exactly one verdict per arrival, equal to the
    // batch st_media_dedup rows.
    val land = TestSpark.tempDir("media_ckpt").toString
    val (src, out, ckpt) = (s"$land/src", s"$land/out", s"$land/ckpt")
    new java.io.File(src).mkdirs()
    val arrivals = graft.Tables.documents(spark, sf).filter(expr("doc_id % 5 = 0"))
    val mid = arrivals.selectExpr("percentile_approx(doc_id, 0.5)").head.getLong(0)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$land/_tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    val idxPath = graft.mm.Multimodal.frameFpIndexPath(spark, sf)
    stage(arrivals.filter(col("doc_id") <= mid), "wave1")
    DocsStream.runMediaScreenToParquet(spark, src, idxPath, out, ckpt)
    val afterRun1 = spark.read.parquet(out).count()
    stage(arrivals.filter(col("doc_id") > mid), "wave2")
    DocsStream.runMediaScreenToParquet(spark, src, idxPath, out, ckpt,
      maxFilesPerTrigger = 1)
    val landed = spark.read.parquet(out).collect().toSeq
    val ids = landed.map(_.getLong(0))
    assert(ids.distinct.size == ids.size, "an arrival was screened twice")
    assert(afterRun1 < ids.size, "resumed run landed nothing — not incremental")
    val batch = DocsStream.defs.find(_.name == "st_media_dedup").get
      .fn(spark, sf).collect().toSeq
    assert(landed.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1) ==
      batch.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))),
      "resumed media landing table != batch verdicts for the same arrivals")
  }

  test("streaming quality gate equals the registered batch variant") {
    val land = TestSpark.tempDir("docs_gate").toString
    graft.Tables.documents(spark, sf)
      .write.mode("overwrite").parquet(s"$land/arrivals")
    val streamed = DocsStream.runQualityGateStream(
      spark, s"$land/arrivals", "quality_gate_spec").collect().toSeq
    val batch = DocsStream.defs.find(_.name == "st_quality_gate").get
      .fn(spark, sf).collect().toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
    // rates are permille and every source is covered
    assert(batch.forall(r => r.getLong(3) >= 0 && r.getLong(3) <= 1000))
    val sources = graft.Tables.documents(spark, sf)
      .select("source").distinct().count()
    assert(batch.size.toLong == sources)
  }

  test("streaming PII gate equals the registered batch variant; rates restate the planted rule") {
    val land = TestSpark.tempDir("docs_pii").toString
    graft.Tables.documents(spark, sf)
      .write.mode("overwrite").parquet(s"$land/arrivals")
    val streamed = DocsStream.runPiiGateStream(
      spark, s"$land/arrivals", "pii_gate_spec").collect().toSeq
    val batch = DocsStream.defs.find(_.name == "st_pii_gate").get
      .fn(spark, sf).collect().toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
    // Fixture text is PII-free, so flagged docs are EXACTLY the planted
    // doc_id % 7 = 0 footers (4 redactions each), per source.
    val planted = graft.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.expr("doc_id % 7 = 0"))
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    batch.foreach { r =>
      val (src, nDocs, nRed, nPii, permille) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nPii == planted.getOrElse(src, 0L), s"$src: flagged != planted")
      assert(nRed == 4 * nPii, s"$src: each planted footer carries 4 redactions")
      assert(permille == 1000 * nPii / nDocs)
    }
  }

  test("streaming BPE fertility equals the batch variant; OOV arrivals fall back to chars") {
    val s = spark; import s.implicits._
    val land = TestSpark.tempDir("docs_fert").toString
    graft.Tables.documents(spark, sf)
      .write.mode("overwrite").parquet(s"$land/arrivals")
    val dict = graft.text.TextStats.bpeSubwordDict(spark, sf)
    val streamed = DocsStream.runFertilityStream(
      spark, s"$land/arrivals", dict, "fert_spec").collect().toSeq
    val batch = DocsStream.defs.find(_.name == "st_bpe_fertility").get
      .fn(spark, sf).collect().toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
    // drifted traffic: a source of words the tokenizer never saw must score
    // at char-count fertility (the byte-fallback rule) — here 'zzzzz' = 5
    // subwords per 1 word -> 5000 permille, far above any in-dict source
    val oov = TestSpark.tempDir("docs_fert_oov").toString
    Seq((900001L, "zzzzz zzzzz", "xx", "oov_src", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$oov/arrivals")
    val drifted = DocsStream.runFertilityStream(
      spark, s"$oov/arrivals", dict, "fert_oov_spec")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(drifted.toSeq == Seq(("oov_src", 2L, 10L, 5000L)),
      s"OOV fallback: got ${drifted.toSeq}")
    val maxInDict = batch.map(_.getLong(3)).max
    assert(5000L > maxInDict, "drifted source must score above every in-dict source")
  }

  test("streaming mixture quota-fill equals the batch variant; skewed arrivals drift") {
    val s = spark; import s.implicits._
    val land = TestSpark.tempDir("docs_mix").toString
    graft.Tables.documents(spark, sf)
      .write.mode("overwrite").parquet(s"$land/arrivals")
    val rates = graft.text.TextStats.mixtureRates(graft.Tables.documents(spark, sf))
    val streamed = DocsStream.runMixtureFillStream(
      spark, s"$land/arrivals", rates, "mix_fill_spec").collect().toSeq
    val batch = DocsStream.defs.find(_.name == "st_mixture_drift").get
      .fn(spark, sf).collect().toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
    batch.foreach { r =>
      assert(r.getLong(3) == 1000L * r.getLong(2) / r.getLong(1))
      assert(r.getString(4) == (if (math.abs(r.getLong(3) - 1000) > 300) "drift" else "ok"))
    }
    // Skewed traffic against the SAME plan: arrivals carry 4x the src0
    // volume the recipe was computed from (fresh ids keep the draw fair),
    // so src0's quota fill must land where an independent JVM replay of the
    // hash threshold puts it — the monitor's verdict is deterministic, not
    // a statistical assertion.
    val extra = (0 until 75).map(i => (800000L + i, s"skew doc $i pad pad", "en", "src0", 16L))
    val skewDir = TestSpark.tempDir("docs_mix_skew").toString
    graft.Tables.documents(spark, sf)
      .unionByName(extra.toDF("doc_id", "text", "lang", "source", "n_chars"))
      .write.parquet(s"$skewDir/arrivals")
    val drifted = DocsStream.runMixtureFillStream(
      spark, s"$skewDir/arrivals", rates, "mix_fill_skew_spec")
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getString(4))).toMap
    def h32(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val r0 = rates.filter(col("source") === "src0")
      .select("thresh", "n_target").collect().head
    val (thresh, target) = (r0.getLong(0), r0.getLong(1))
    val baseIds = graft.Tables.documents(spark, sf)
      .filter(col("source") === "src0").select("doc_id").collect().map(_.getLong(0))
    val expSampled = (baseIds ++ extra.map(_._1)).count(h32(_) < thresh).toLong
    assert(drifted("src0")._1 == expSampled, "skewed fill must match the JVM replay")
    val expVerdict = if (math.abs(1000 * expSampled / target - 1000) > 300) "drift" else "ok"
    assert(drifted("src0")._2 == expVerdict)
    assert(expSampled > target, "4x volume at the same threshold must overshoot the quota")
  }
}
