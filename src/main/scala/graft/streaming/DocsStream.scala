package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Streaming ingestion dedup: exact dedup AT THE LANDING ZONE, the first
  * stage of a continuously-fed training-data pipeline — arriving document
  * files are fingerprinted and deduplicated incrementally, so downstream
  * stages only ever see first occurrences.
  *
  * `dropDuplicates` on the normalized-text fingerprint keeps O(1) state per
  * distinct document (the fingerprint set lives in the state store; with a
  * watermark the horizon is bounded — unbounded here because exact dedup is
  * global by definition). The batch equivalent is `dd_exact`
  * (graft.dedup.Dedup) — DocsStreamSpec asserts the streamed fingerprint set
  * equals the batch one.
  */
object DocsStream {

  /** Streaming-source schema for the documents fixture parquet. */
  val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Incremental exact dedup into a parquet landing table with a real
    * checkpoint: each invocation processes only files that arrived since the
    * last run (source offsets live in `checkpointDir`), appends first-seen
    * documents exactly once, and carries the fingerprint state ACROSS runs —
    * the incremental-ingestion lifecycle that replaces the reference's
    * drop-everything-and-reload (create_tables.py:40-41). At scale this is
    * the production shape: file-source offsets + state store in the
    * checkpoint, exactly-once parquet sink via the sink's commit log. */
  def runDedupToParquet(spark: SparkSession, docsDir: String, outDir: String,
      checkpointDir: String): Unit = {
    val q = spark.readStream.schema(docsSchema).parquet(docsDir)
      .withColumn("fp", graft.dedup.Dedup.normFp(col("text")))
      .dropDuplicates("fp")
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Incremental exact dedup over a directory of arriving document files;
    * returns the deduped rows seen so far (memory sink, AvailableNow).
    * `maxFilesPerTrigger` > 0 forces multi-batch runs (spec). */
  def runDedupStream(spark: SparkSession, docsDir: String,
      queryName: String = "docs_dedup_stream",
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val reader = spark.readStream.schema(docsSchema)
    if (maxFilesPerTrigger > 0) reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    val q = reader.parquet(docsDir)
      .withColumn("fp", graft.dedup.Dedup.normFp(col("text")))
      .dropDuplicates("fp")
      .writeStream.outputMode("append").format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Winnowed fingerprints as a PER-ROW array column — the stream-safe
    * form of [[graft.text.TextStats.winnowedFpRows]] (same 4-token grams,
    * 5-window minima, 12-hex-digit hashes; identical values), for landing
    * zones where the relational form's doc_id window is unavailable
    * (window functions are not supported on streaming DataFrames).
    *
    * The 5-wide rolling minimum is a zip_with TOURNAMENT (pair minima →
    * span-4 minima → span-5), not a transform-over-slices: each level
    * references its input array 3× (two slices + a size), which is exactly
    * what stops CollapseProject from inlining the md5 gram computation into
    * every window position (the O(n²)-md5 trap the relational form's doc
    * comment records). Every column is computed once per row; the whole
    * chain is one narrow codegen pass. Docs under 8 tokens get an empty
    * array — the landing contract screens every arriving doc. */
  def withWinnowFps(docs: DataFrame): DataFrame =
    docs
      .withColumn("tk", expr("split(trim(text), ' +')"))
      .withColumn("grams", expr(
        """CASE WHEN size(tk) >= 8 THEN
          |  transform(sequence(0, size(tk) - 4), i ->
          |    CAST(conv(substr(md5(array_join(slice(tk, i + 1, 4), ' ')), 1, 12),
          |         16, 10) AS BIGINT))
          |ELSE CAST(array() AS ARRAY<BIGINT>) END""".stripMargin))
      .withColumn("m2", expr(
        """CASE WHEN size(grams) > 0 THEN
          |  zip_with(slice(grams, 1, size(grams) - 1),
          |           slice(grams, 2, size(grams) - 1), (x, y) -> least(x, y))
          |ELSE CAST(array() AS ARRAY<BIGINT>) END""".stripMargin))
      .withColumn("m4", expr(
        """CASE WHEN size(m2) > 0 THEN
          |  zip_with(slice(m2, 1, size(m2) - 2),
          |           slice(m2, 3, size(m2) - 2), (x, y) -> least(x, y))
          |ELSE CAST(array() AS ARRAY<BIGINT>) END""".stripMargin))
      .withColumn("fps", expr(
        """CASE WHEN size(m4) > 0 THEN
          |  array_distinct(zip_with(slice(m4, 1, size(m4) - 1),
          |    slice(grams, 5, size(m4) - 1), (x, y) -> least(x, y)))
          |ELSE CAST(array() AS ARRAY<BIGINT>) END""".stripMargin))
      .drop("tk", "grams", "m2", "m4")

  /** Landing-zone near-dup screen: every arriving doc gets a verdict
    * against the persisted corpus fingerprint index — `dup_corpus` when ≥ 2
    * of its winnowed fingerprints are already indexed (the dd_winnow_pairs
    * threshold), `keep` otherwise (short docs: 0 fingerprints, keep). The
    * shape is stream-legal end to end: narrow fps projection, explode,
    * stream-static left-outer join (index on the static side), ONE
    * aggregation — and identical for batch input, which is how the spec and
    * the oracle pin it. */
  def landingVerdicts(docs: DataFrame, fpIndex: DataFrame): DataFrame =
    screenFps(withWinnowFps(docs), fpIndex, "dup_corpus")

  /** The shared landing-screen tail: explode a per-row `fps` array, probe
    * the static fingerprint index (stream-static left-outer join), ONE
    * aggregation to per-doc (n_fps, n_hits), ≥ 2 hits ⇒ `dupLabel`. The
    * fingerprint DOMAIN is the caller's (winnowed text grams, media frame
    * hashes — any type that equi-joins); the screen economics are shared in
    * one audited place, like Dedup.cappedElementPairs for pair expansion. */
  private def screenFps(withFps: DataFrame, fpIndex: DataFrame,
      dupLabel: String): DataFrame =
    withFps
      .select(col("doc_id"), explode_outer(col("fps")).as("fp"))
      .join(fpIndex.select(col("fp")).distinct().withColumn("hit", lit(1)),
        Seq("fp"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(col("fp")).as("n_fps"), count(col("hit")).as("n_hits"))
      .withColumn("status",
        when(col("n_hits") >= 2, dupLabel).otherwise("keep"))
      .select(col("doc_id"), col("n_fps"), col("n_hits"), col("status"))

  /** Landing-zone MEDIA near-dup screen — [[landingVerdicts]] with the
    * fingerprint domain swapped from winnowed text grams to sampled-frame
    * hashes ([[graft.mm.Multimodal.withFrameFps]], mm_video_dedup's exact
    * frame contract): an arriving payload is `dup_media` when ≥ 2 of its
    * sampled frames are already in the corpus frame index — the re-mux /
    * re-encode arrival that byte-level exact dedup misses. Same
    * stream-legal shape: narrow row-local fps projection, explode,
    * stream-static join against the persisted index, ONE aggregation. */
  def mediaVerdicts(docs: DataFrame, fpIndex: DataFrame): DataFrame =
    screenFps(graft.mm.Multimodal.withFrameFps(docs), fpIndex, "dup_media")

  /** [[mediaVerdicts]] as an incremental stream over an arriving-files
    * directory, screened against the frame index parquet (complete-mode
    * memory sink, AvailableNow — the runIncrementalScreenStream lifecycle
    * for media). */
  def runMediaScreenStream(spark: SparkSession, docsDir: String,
      idxPath: String, queryName: String = "media_screen"): DataFrame =
    runScreenStream(spark, docsDir, idxPath, queryName, mediaVerdicts)

  /** [[landingVerdicts]] as an incremental stream over an arriving-files
    * directory, screened against the index parquet (static side re-read per
    * micro-batch — at scale, the index a nightly batch job maintains).
    * Complete-mode memory sink, AvailableNow. */
  def runIncrementalScreenStream(spark: SparkSession, docsDir: String,
      idxPath: String, queryName: String = "incremental_screen"): DataFrame =
    runScreenStream(spark, docsDir, idxPath, queryName, landingVerdicts)

  /** The shared memory-sink screen lifecycle, parameterized by the verdict
    * function exactly like [[runVerdictsToParquet]] parameterizes the
    * checkpointed landing — one copy of the readStream / complete-mode /
    * AvailableNow plumbing, so a sink or trigger change cannot silently
    * reach one screen and miss the other. */
  private def runScreenStream(spark: SparkSession, docsDir: String,
      idxPath: String, queryName: String,
      verdicts: (DataFrame, DataFrame) => DataFrame): DataFrame =
    StreamRuns.completeToMemory(spark,
      verdicts(spark.readStream.schema(docsSchema).parquet(docsDir),
        graft.Tables.parquet(spark, idxPath)),
      queryName, Seq("doc_id"))

  /** [[landingVerdicts]] as a CHECKPOINTED incremental landing job — the
    * runDedupToParquet lifecycle applied to the near-dup screen: each
    * invocation processes only files that arrived since the last run
    * (file-source offsets live in `checkpointDir`), screens them against
    * the persisted corpus index, and appends the verdicts to a parquet
    * landing table. The screen is per-document (its own fingerprints vs
    * the static index — no cross-doc state), so per-micro-batch
    * computation inside `foreachBatch` is globally correct, and a
    * kill/restart between runs can neither double-screen an arrival
    * (offsets only commit after the batch lands) nor miss one (uncommitted
    * files are re-listed on restart). `maxFilesPerTrigger` > 0 forces
    * multi-batch runs (spec). */
  def runScreenToParquet(spark: SparkSession, docsDir: String, idxPath: String,
      outDir: String, checkpointDir: String, maxFilesPerTrigger: Int = 0): Unit =
    runVerdictsToParquet(spark, docsDir, idxPath, outDir, checkpointDir,
      landingVerdicts, maxFilesPerTrigger)

  /** [[mediaVerdicts]] under the same checkpointed landing lifecycle — the
    * media screen inherits the winnow screen's resume guarantees because
    * the lifecycle is the SAME code path, parameterized only by which
    * verdict function runs per batch. */
  def runMediaScreenToParquet(spark: SparkSession, docsDir: String, idxPath: String,
      outDir: String, checkpointDir: String, maxFilesPerTrigger: Int = 0): Unit =
    runVerdictsToParquet(spark, docsDir, idxPath, outDir, checkpointDir,
      mediaVerdicts, maxFilesPerTrigger)

  /** The shared checkpointed landing job: arriving files → per-batch
    * verdicts against a static index → landed under a per-batch partition
    * of the parquet landing table. Offsets live in `checkpointDir`, so a
    * kill/restart between runs can neither double-screen an arrival nor
    * miss one — and the landing write is IDEMPOTENT per micro-batch, the
    * half of that guarantee foreachBatch does not give for free: its
    * at-least-once contract means a crash between a plain `append` and
    * the offset commit would replay the batch and duplicate its rows on
    * restart. Batch ids are stable across such replays (they are a pure
    * function of the committed offsets), so `overwrite` into a
    * `batch_seq=<id>` partition makes the replay rewrite the same rows
    * instead of doubling them — the standard foreachBatch exactly-once
    * recipe. Readers of `outDir` see one extra `batch_seq` partition
    * column (arrival provenance). Verdicts are per-document (no cross-doc
    * state), so per-micro-batch computation is globally correct for ANY
    * verdict function with that property. `maxFilesPerTrigger` > 0 forces
    * multi-batch runs (spec). */
  private def runVerdictsToParquet(spark: SparkSession, docsDir: String,
      idxPath: String, outDir: String, checkpointDir: String,
      verdicts: (DataFrame, DataFrame) => DataFrame,
      maxFilesPerTrigger: Int): Unit = {
    val idx = graft.Tables.parquet(spark, idxPath)
    val reader = spark.readStream.schema(docsSchema)
    if (maxFilesPerTrigger > 0) reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    val q = reader.parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        verdicts(batch, idx).write.mode("overwrite")
          .parquet(s"$outDir/batch_seq=$batchId"); ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Landing-zone QUALITY GATE rollup: the tx_quality verdict (same
    * expression, stream and batch — graft.text.TextStats owns the
    * stop-list) aggregated to a per-source pass-rate, the monitor a
    * continuously-fed pipeline watches to catch a crawl source going bad
    * BEFORE its documents hit training shards. Stream-legal: one narrow
    * verdict projection, ONE aggregation over a handful of source keys —
    * state is O(sources), not O(docs). */
  def qualityGate(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        expr("size(split(trim(text), ' +'))").as("n_tokens"),
        expr("size(filter(split(trim(text), ' +'), t -> t IN " +
          graft.text.TextStats.stopList + "))").as("n_stop"))
      .withColumn("quality_ok",
        expr(graft.text.TextStats.qualityKeepSql))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("quality_ok"), 1L).otherwise(0L)).as("n_pass"))
      .withColumn("pass_permille", expr("(1000 * n_pass) div n_docs"))
      .select(col("source"), col("n_docs"), col("n_pass"), col("pass_permille"))

  /** [[qualityGate]] as an incremental stream over an arriving-files
    * directory (complete-mode memory sink, AvailableNow). */
  def runQualityGateStream(spark: SparkSession, docsDir: String,
      queryName: String = "quality_gate"): DataFrame =
    StreamRuns.completeToMemory(spark,
      qualityGate(spark.readStream.schema(docsSchema).parquet(docsDir)),
      queryName, Seq("source"))

  /** Landing-zone PII GATE rollup: the tx_pii_scrub battery (same pattern
    * constants — graft.text.TextStats owns them, so batch scrub and stream
    * monitor cannot drift on what counts as PII) aggregated to a per-source
    * redaction rate — the privacy monitor a continuously-fed pipeline
    * watches to catch a source that starts leaking contact data BEFORE its
    * documents hit training shards. The fixture corpus is PII-free, so docs
    * with `doc_id % 7 = 0` get the deterministic planted contact footer
    * (same concat both engines) and the rest stay clean — per-source rates
    * are non-trivial and the zero path is exercised. Stream-legal: one
    * narrow battery projection (all four regex stages in one codegen pass),
    * ONE aggregation over a handful of source keys — state is O(sources),
    * not O(docs). */
  def piiGate(docs: DataFrame): DataFrame = {
    import graft.text.TextStats.{PiiEmail, PiiId, PiiIp, PiiPhone}
    docs
      .select(col("source"),
        expr("CASE WHEN doc_id % 7 = 0 THEN concat(text, ' contact user', " +
          "CAST(doc_id AS STRING), '@example.com tel 555-', " +
          "lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), ' host 10.0.', " +
          "CAST(doc_id % 256 AS STRING), '.', CAST((doc_id * 7) % 256 AS STRING), " +
          "' acct ', CAST(100000 + doc_id AS STRING)) ELSE text END").as("body"))
      .withColumn("n1", expr(s"CAST(regexp_count(body, '$PiiEmail') AS BIGINT)"))
      .withColumn("t1", expr(s"regexp_replace(body, '$PiiEmail', '<EMAIL>')"))
      .withColumn("n2", expr(s"CAST(regexp_count(t1, '$PiiIp') AS BIGINT)"))
      .withColumn("t2", expr(s"regexp_replace(t1, '$PiiIp', '<IP>')"))
      .withColumn("n3", expr(s"CAST(regexp_count(t2, '$PiiPhone') AS BIGINT)"))
      .withColumn("t3", expr(s"regexp_replace(t2, '$PiiPhone', '<PHONE>')"))
      .withColumn("n4", expr(s"CAST(regexp_count(t3, '$PiiId') AS BIGINT)"))
      .withColumn("n_pii", expr("n1 + n2 + n3 + n4"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_pii")).as("n_redactions"),
        sum(when(col("n_pii") > 0, 1L).otherwise(0L)).as("n_docs_pii"))
      .withColumn("pii_permille", expr("(1000 * n_docs_pii) div n_docs"))
      .select(col("source"), col("n_docs"), col("n_redactions"),
        col("n_docs_pii"), col("pii_permille"))
  }

  /** [[piiGate]] as an incremental stream over an arriving-files directory
    * (complete-mode memory sink, AvailableNow). */
  def runPiiGateStream(spark: SparkSession, docsDir: String,
      queryName: String = "pii_gate"): DataFrame =
    StreamRuns.completeToMemory(spark,
      piiGate(spark.readStream.schema(docsSchema).parquet(docsDir)),
      queryName, Seq("source"))

  /** TOKENIZER FERTILITY MONITOR — subwords-per-word of arriving text under
    * the TRAINED BPE merges, per source: the tokenizer-health metric every
    * production training pipeline watches (a source drifting away from the
    * tokenizer's training distribution shows up as rising fertility long
    * before loss curves do — the BPE analog of st_cell_drift's index-drift
    * view, completing the tokenizer lifecycle: train tx_bpe_merges / apply
    * tx_bpe_apply / monitor here). Words outside the training dictionary
    * fall back to one subword per character — the byte-fallback rule real
    * tokenizers apply to OOV text, and exactly the term that makes drifted
    * traffic score high. Stream-legal: explode + stream-STATIC left join
    * against the subword dictionary (no streaming join state) + ONE
    * aggregation over O(sources) keys. */
  def bpeFertility(docs: DataFrame, dict: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(expr(graft.text.TextStats.toks)).as("word"))
      .filter(col("word") =!= "")
      .join(dict, Seq("word"), "left_outer")
      .withColumn("n_sub_eff", coalesce(col("n_sub"),
        expr(s"CAST(size(${graft.text.TextStats.charsExpr}) AS BIGINT)")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub_eff")).as("n_subwords"))
      .withColumn("fertility_permille", expr("(1000 * n_subwords) div n_words"))
      .select(col("source"), col("n_words"), col("n_subwords"),
        col("fertility_permille"))

  /** [[bpeFertility]] as an incremental stream over an arriving-files
    * directory, the subword dictionary read as a static batch table
    * (complete-mode memory sink, AvailableNow). */
  def runFertilityStream(spark: SparkSession, docsDir: String, dict: DataFrame,
      queryName: String = "bpe_fertility"): DataFrame =
    StreamRuns.completeToMemory(spark,
      bpeFertility(spark.readStream.schema(docsSchema).parquet(docsDir), dict),
      queryName, Seq("source"))

  /** Registered batch variant (the st_* convention: batch semantics under
    * the oracle, stream ≡ batch pinned by DocsStreamSpec). */
  val defs: Seq[graft.QueryDef] = Seq(
    graft.QueryDef(
      "st_incremental_dedup",
      (s, d) => landingVerdicts(
        graft.Tables.documents(s, d).filter(expr("doc_id % 5 = 0")),
        graft.Tables.parquet(s, graft.dedup.Dedup.winnowFpIndexPath(s, d)))
        .orderBy("doc_id"),
      Some(s"""WITH ${graft.text.TextStats.duckWinnowChain},
              |f AS (SELECT doc_id, unnest(fps) AS fp FROM m),
              |idx AS (SELECT DISTINCT fp FROM f WHERE doc_id % 5 <> 0),
              |newb AS (SELECT doc_id, fp FROM f WHERE doc_id % 5 = 0),
              |hits AS (SELECT n.doc_id, COUNT(*) AS n_fps, COUNT(i.fp) AS n_hits
              |         FROM newb n LEFT JOIN idx i ON n.fp = i.fp GROUP BY 1)
              |SELECT d.doc_id, CAST(coalesce(h.n_fps, 0) AS BIGINT) AS n_fps,
              |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
              |       CASE WHEN coalesce(h.n_hits, 0) >= 2 THEN 'dup_corpus'
              |            ELSE 'keep' END AS status
              |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
              |LEFT JOIN hits h USING (doc_id) ORDER BY doc_id""".stripMargin)),
    graft.QueryDef(
      "st_media_dedup",
      (s, d) => mediaVerdicts(
        graft.Tables.documents(s, d).filter(expr("doc_id % 5 = 0")),
        graft.Tables.parquet(s, graft.mm.Multimodal.frameFpIndexPath(s, d)))
        .orderBy("doc_id"),
      Some("""WITH f0 AS (SELECT doc_id, hex(encode(text)) AS hx,
             |                   octet_length(encode(text)) AS nb
             |            FROM documents),
             |i0 AS (SELECT doc_id, hx,
             |         unnest(range(0, (nb + 31) // 32, 4)) AS i FROM f0),
             |h AS (SELECT DISTINCT doc_id,
             |        md5(substr(hx, CAST(i * 64 + 1 AS INTEGER), 64)) AS fh
             |      FROM i0),
             |idx AS (SELECT DISTINCT fh FROM h WHERE doc_id % 5 <> 0),
             |newb AS (SELECT doc_id, fh FROM h WHERE doc_id % 5 = 0),
             |hits AS (SELECT n.doc_id, COUNT(*) AS n_fps, COUNT(i.fh) AS n_hits
             |         FROM newb n LEFT JOIN idx i ON n.fh = i.fh GROUP BY 1)
             |SELECT d.doc_id, CAST(coalesce(h.n_fps, 0) AS BIGINT) AS n_fps,
             |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
             |       CASE WHEN coalesce(h.n_hits, 0) >= 2 THEN 'dup_media'
             |            ELSE 'keep' END AS status
             |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
             |LEFT JOIN hits h USING (doc_id) ORDER BY doc_id""".stripMargin)),
    graft.QueryDef(
      "st_quality_gate",
      (s, d) => qualityGate(graft.Tables.documents(s, d)).orderBy(col("source").asc_nulls_first),
      Some(s"""WITH v AS (
              |  SELECT source,
              |         len(string_split_regex(trim(text), ' +')) AS n_tokens,
              |         len(list_filter(string_split_regex(trim(text), ' +'),
              |                         t -> t IN ${graft.text.TextStats.stopList})) AS n_stop
              |  FROM documents)
              |SELECT source, COUNT(*) AS n_docs,
              |       CAST(SUM(CASE WHEN n_tokens BETWEEN 10 AND 1000
              |                      AND (100 * n_stop) // n_tokens < 40
              |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
              |       (1000 * CAST(SUM(CASE WHEN n_tokens BETWEEN 10 AND 1000
              |                              AND (100 * n_stop) // n_tokens < 40
              |                             THEN 1 ELSE 0 END) AS BIGINT)) // COUNT(*)
              |         AS pass_permille
              |FROM v GROUP BY source ORDER BY source NULLS FIRST""".stripMargin)),
    graft.QueryDef(
      "st_pii_gate",
      (s, d) => piiGate(graft.Tables.documents(s, d)).orderBy(col("source").asc_nulls_first),
      Some {
        import graft.text.TextStats.{PiiEmail, PiiId, PiiIp, PiiPhone}
        s"""WITH b AS (SELECT source,
           |  CASE WHEN doc_id % 7 = 0 THEN
           |    text || ' contact user' || CAST(doc_id AS VARCHAR)
           |         || '@example.com tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           |         || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
           |         || CAST((doc_id * 7) % 256 AS VARCHAR)
           |         || ' acct ' || CAST(100000 + doc_id AS VARCHAR)
           |  ELSE text END AS body
           |  FROM documents),
           |s1 AS (SELECT source,
           |  CAST(len(regexp_extract_all(body, '$PiiEmail')) AS BIGINT) AS n1,
           |  regexp_replace(body, '$PiiEmail', '<EMAIL>', 'g') AS t1 FROM b),
           |s2 AS (SELECT source, n1,
           |  CAST(len(regexp_extract_all(t1, '$PiiIp')) AS BIGINT) AS n2,
           |  regexp_replace(t1, '$PiiIp', '<IP>', 'g') AS t2 FROM s1),
           |s3 AS (SELECT source, n1, n2,
           |  CAST(len(regexp_extract_all(t2, '$PiiPhone')) AS BIGINT) AS n3,
           |  regexp_replace(t2, '$PiiPhone', '<PHONE>', 'g') AS t3 FROM s2),
           |s4 AS (SELECT source,
           |  n1 + n2 + n3 + CAST(len(regexp_extract_all(t3, '$PiiId')) AS BIGINT)
           |    AS n_pii FROM s3)
           |SELECT source, COUNT(*) AS n_docs,
           |       CAST(SUM(n_pii) AS BIGINT) AS n_redactions,
           |       CAST(SUM(CASE WHEN n_pii > 0 THEN 1 ELSE 0 END) AS BIGINT)
           |         AS n_docs_pii,
           |       (1000 * CAST(SUM(CASE WHEN n_pii > 0 THEN 1 ELSE 0 END) AS BIGINT))
           |         // COUNT(*) AS pii_permille
           |FROM s4 GROUP BY source ORDER BY source NULLS FIRST""".stripMargin
      }),

    /** Tokenizer fertility monitor (see [[bpeFertility]]): per-source
      * subwords-per-word under the trained merges, char-fallback for OOV.
      * The oracle replays BPE training and scores tokens against the final
      * segmented-dictionary CTE with the same fallback. */
    graft.QueryDef(
      "st_bpe_fertility",
      (s, d) => bpeFertility(graft.Tables.documents(s, d),
        graft.text.TextStats.bpeSubwordDict(s, d)).orderBy(col("source").asc_nulls_first),
      Some {
        val r = graft.text.TextStats.BpeRounds
        s"""${graft.text.TextStats.duckBpeChain(r)},
           |tk AS (SELECT source, unnest(string_split_regex(trim(text), ' +')) AS word
           |       FROM documents)
           |SELECT t.source, COUNT(*) AS n_words,
           |       CAST(SUM(coalesce(len(w.syms),
           |                         len(string_split_regex(t.word, '')))) AS BIGINT)
           |         AS n_subwords,
           |       (1000 * CAST(SUM(coalesce(len(w.syms),
           |                                 len(string_split_regex(t.word, '')))) AS BIGINT))
           |         // COUNT(*) AS fertility_permille
           |FROM tk t LEFT JOIN w$r w USING (word)
           |WHERE t.word <> ''
           |GROUP BY t.source ORDER BY t.source NULLS FIRST""".stripMargin
      }),

    /** Mixture quota-fill monitor (see [[mixtureFill]]): arriving docs run
      * through the SAME deterministic hash-threshold draw as the batch
      * mixture sampler, and each source's realized sample count is scored
      * against its integer quota — the serving-side check that the sampler
      * is delivering the data recipe. The oracle replays the rate chain
      * and the draw. */
    graft.QueryDef(
      "st_mixture_drift",
      (s, d) => mixtureFill(graft.Tables.documents(s, d),
        graft.text.TextStats.mixtureRates(graft.Tables.documents(s, d)))
        .orderBy(col("source").asc_nulls_first),
      Some(s"""WITH ${graft.text.TextStats.duckMixtureChain},
              |p AS (SELECT d.source, COUNT(*) AS n_sampled
              |      FROM documents d JOIN r ON r.source = d.source
              |      WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
              |                 AS BIGINT) < r.thresh
              |      GROUP BY d.source)
              |SELECT p.source, r.n_target, p.n_sampled,
              |       (1000 * p.n_sampled) // r.n_target AS fill_permille,
              |       CASE WHEN abs((1000 * p.n_sampled) // r.n_target - 1000) > 300
              |            THEN 'drift' ELSE 'ok' END AS verdict
              |FROM p JOIN r USING (source) ORDER BY source NULLS FIRST""".stripMargin)))

  /** Per-source quota fill of the deterministic mixture draw
    * ([[graft.text.TextStats.sampleByThreshold]]): n_sampled vs the plan's
    * n_target as an integer permille, verdict `drift` when the fill
    * deviates from 1000‰ by more than 300. Stream-legal in ONE aggregation:
    * the O(sources) rate table (with its quota) broadcasts onto the doc
    * stream BEFORE the groupBy — grouping by (source, n_target) — because
    * a post-aggregation join with the static plan is not stream-legal; the
    * same single-agg shape runs batch and stream, so the spec can pin
    * stream ≡ batch. A source whose quota rounds to zero samples nothing
    * and is absent (also keeps fill division total). State is O(sources).
    * Scale: broadcast + scan predicate + one partial/final agg — the doc
    * stream is never shuffled wider than `sources`. */
  /** [[mixtureFill]] over an arrival directory (memory sink, AvailableNow;
    * complete mode — the fill table is an O(sources) rollup). `rates` must
    * be the STATIC plan table (collected once per recipe), which is what
    * makes the in-stream join a broadcast stream-static attach. */
  def runMixtureFillStream(spark: SparkSession, docsDir: String, rates: DataFrame,
      queryName: String = "mixture_fill"): DataFrame =
    StreamRuns.completeToMemory(spark,
      mixtureFill(spark.readStream.schema(docsSchema).parquet(docsDir), rates),
      queryName, Seq("source"))

  def mixtureFill(docs: DataFrame, rates: DataFrame): DataFrame = {
    // ONE broadcast join attaching BOTH n_target and thresh (the previous
    // shape joined rates twice — once here for n_target, once inside
    // sampleByThreshold for thresh — two broadcast hash joins on the
    // per-arrival hot path for the same O(sources) table). The draw
    // expression is the shared mixtureKeepPredicate, so the stream's keep
    // decision provably cannot drift from the batch sampler's.
    docs
      .join(broadcast(rates.select(col("source"), col("n_target"), col("thresh"))),
        Seq("source"))
      .filter(expr(graft.text.TextStats.mixtureKeepPredicate))
      .groupBy(col("source"), col("n_target"))
      .agg(count(lit(1)).as("n_sampled"))
      .select(col("source"), col("n_target"), col("n_sampled"),
        expr("1000 * n_sampled div n_target").as("fill_permille"),
        expr("CASE WHEN abs(1000 * n_sampled div n_target - 1000) > 300 " +
          "THEN 'drift' ELSE 'ok' END").as("verdict"))
  }
}
