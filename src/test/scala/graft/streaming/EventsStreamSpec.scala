package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class EventsStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("streaming hourly counts (AvailableNow) equal the batch aggregation") {
    // FileStreamSource wants a directory of arriving files: stage one.
    val dir = TestSpark.tempDir("events_stream").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val batch = EventsStream.hourlyCountsBatch(spark, sf).collect().toSeq
    val stream = EventsStream.runHourlyCountsStream(spark, dir, "hourly_spec").collect().toSeq
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("empty landing dir starts under the declared schema; late arrivals process") {
    // The normal start state of a real stream: nothing has landed yet, so
    // the ts-type probe has nothing to read and must fall back to the
    // declared BIGINT-nanos schema instead of throwing 'Unable to infer
    // schema' before the query starts (ADVICE r11). Zero batches => empty
    // result, no exception.
    val dir = TestSpark.tempDir("events_empty").toString
    val empty = EventsStream.runHourlyCountsStream(spark, dir, "hourly_empty_spec")
    assert(empty.collect().isEmpty)
    // once files land, a fresh query over the same dir probes the real
    // physical type and the results equal the batch aggregation
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val later = EventsStream.runHourlyCountsStream(spark, dir, "hourly_late_spec")
      .collect().toSeq
    assert(later == EventsStream.hourlyCountsBatch(spark, sf).collect().toSeq)
    assert(later.nonEmpty)
  }

  test("stream-static enrichment (customer dim join) equals the batch rollup") {
    val dir = TestSpark.tempDir("events_enrich").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val batch = EventsStream.enrichSegmentBatch(spark, sf).collect().toSeq
    val stream = EventsStream.runEnrichSegmentStream(spark, dir, sf, "enrich_spec")
      .collect().toSeq
    assert(stream == batch)
    assert(batch.nonEmpty)
    // every market segment present in the dim that has purchases shows up
    assert(batch.map(_.getString(1)).distinct.size > 1)
  }

  test("stateful sessionization (flatMapGroupsWithState) equals the batch gaps-and-islands") {
    val dir = TestSpark.tempDir("events_sess").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val batch = EventsStream.sessionizeBatch(spark, sf).collect().toSeq
    val stream = EventsStream.runSessionizeStream(spark, dir, "sessions_spec").collect().toSeq
    assert(stream == batch)
    assert(batch.size > 100, s"expected many sessions, got ${batch.size}")
  }

  test("sessionization across MULTIPLE micro-batches matches batch (no duplicate emissions)") {
    import org.apache.spark.sql.functions._
    // Split the fixture at the time median into two files so sessions span
    // the batch boundary; per-user event order is preserved (all of file1's
    // events precede file2's). maxFilesPerTrigger=1 forces two micro-batches.
    val dir = TestSpark.tempDir("events_sess2").toString
    val ev = graft.Tables.events(spark, sf).withColumn("ms", expr("ts div 1000000"))
    val mid = ev.selectExpr("percentile_approx(ms, 0.5)").head.getLong(0)
    def stage(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = s"$dir/_tmp_$name"
      df.drop("ms").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$dir/$name.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    val t0 = System.currentTimeMillis()
    stage(ev.filter(col("ms") <= mid), "part1", t0 - 60000)
    stage(ev.filter(col("ms") > mid), "part2", t0)
    val batch = EventsStream.sessionizeBatch(spark, sf).collect().toSeq
    val stream = EventsStream
      .runSessionizeStream(spark, dir, "sessions_spec2", maxFilesPerTrigger = 1)
      .collect().toSeq
    assert(stream == batch,
      s"multi-batch stream diverged: ${stream.size} vs ${batch.size} sessions")
  }

  test("NULL event values: sessionize stream answers like batch (skip the value, count the event)") {
    // Round-17 review finding: events.value is NULLABLE, and the typed
    // sessionizer seam (Ev.cents was a primitive Long) crashed the whole
    // stream on one null-valued arrival where sessionizeBatch answered
    // (SQL SUM skips NULL, COUNT still counts the row; an all-NULL session
    // sums to NULL). Pin the parity on both shapes: a mixed-null session
    // and an all-null session.
    import org.apache.spark.sql.types._
    val root = TestSpark.tempDir("events_nullval").toString
    val dir = s"$root/events.parquet"
    new java.io.File(dir).mkdirs()
    val t0 = 1600000000000L
    val rows = Seq( // (event_id, ms, user_id, value)
      (1L, t0, 1L, Some(1.0)), (2L, t0 + 1000L, 1L, None), (3L, t0 + 2000L, 1L, Some(0.5)),
      (10L, t0, 2L, None), (11L, t0 + 1000L, 2L, None))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, ms, uid, v) =>
        org.apache.spark.sql.Row(id, ms * 1000000L, uid, "play", v.orNull, "{}") }, 1),
      StructType(Seq(StructField("event_id", LongType), StructField("ts", LongType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))))
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    val batch = EventsStream.sessionizeBatch(spark, root).collect().toSeq
    val stream = EventsStream.runSessionizeStream(spark, dir, "sessions_nullval")
      .collect().toSeq
    assert(stream == batch, s"null-value stream diverged: $stream vs $batch")
    val u1 = batch.find(_.getLong(0) == 1L).get
    assert(u1.getLong(2) == 3L && u1.getLong(3) == 150L,
      "mixed-null session: 3 events counted, nulls skipped in the sum")
    val u2 = batch.find(_.getLong(0) == 2L).get
    assert(u2.getLong(2) == 2L && u2.isNullAt(3),
      "all-null session: events counted, sum is NULL")
  }

  test("NULL user_id / NULL ts events are excluded in the stream path (stream == batch)") {
    // The NULL-EVENT CONTRACT's stream half: without the shared filter a
    // NULL user_id or ts would crash the stateful path outright (the
    // Dataset[Ev] encoder reads them into primitive Longs) and a NULL
    // event time would fall foul of the watermark. Both rows must simply
    // be absent, identically to sessionizeBatch.
    import org.apache.spark.sql.types._
    val root = TestSpark.tempDir("events_nullkey").toString
    val dir = s"$root/events.parquet"
    new java.io.File(dir).mkdirs()
    val t0 = 1600000000000L
    val rows = Seq[(java.lang.Long, java.lang.Long, java.lang.Long)]( // (event_id, ms, user_id)
      (1L, Long.box(t0), Long.box(1L)), (2L, Long.box(t0 + 1000L), Long.box(1L)),
      (3L, null, Long.box(1L)), // NULL ts
      (4L, Long.box(t0), null)) // NULL user
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, ms, uid) =>
        org.apache.spark.sql.Row(id,
          Option(ms).map(m => Long.box(m * 1000000L)).orNull,
          uid, "play", Double.box(1.0), "{}") }, 1),
      StructType(Seq(StructField("event_id", LongType), StructField("ts", LongType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))))
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    val batch = EventsStream.sessionizeBatch(spark, root).collect().toSeq
    val stream = EventsStream.runSessionizeStream(spark, dir, "sessions_nullkey")
      .collect().toSeq
    assert(stream == batch, s"null-key stream diverged: $stream vs $batch")
    assert(batch.length == 1 && batch.head.getLong(0) == 1L && batch.head.getLong(2) == 2L,
      s"only user 1's two timestamped events sessionize: $batch")
  }

  test("cross-batch LATE event merges without rewinding the gap horizon (stream == batch)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val root = TestSpark.tempDir("events_late").toString
    val dir = s"$root/events.parquet" // a directory both Tables.events and readStream accept
    new java.io.File(dir).mkdirs()
    val t0 = 1600000000000L
    val Min = 60000L
    def stage(name: String, mtime: Long, rows: (Long, Long, Long)*): Unit = {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (id, ms, uid) =>
          org.apache.spark.sql.Row(id, ms * 1000000L, uid, "play", 1.0, "{}") }, 1),
        StructType(Seq(StructField("event_id", LongType), StructField("ts", LongType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType))))
      val tmp = s"$root/_tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$dir/$name.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    val now = System.currentTimeMillis()
    // user 1 opens a session; horizon = T+40min after batch 0
    stage("f1", now - 120000, (1L, t0, 1L), (2L, t0 + 40 * Min, 1L))
    // unrelated user advances the watermark (delay 6h keeps f3's late event admissible)
    stage("f2", now - 60000, (3L, t0 + 6 * 60 * Min, 2L))
    // batch 2: a LATE event inside the open span (T+20min) plus a continuation
    // at T+85min. A lastMs rewind to T+20min would make the 65-min step exceed
    // the 60-min gap and wrongly split; the true horizon (T+40min) keeps it.
    stage("f3", now, (4L, t0 + 20 * Min, 1L), (5L, t0 + 85 * Min, 1L))
    val batch = EventsStream.sessionizeBatch(spark, root).collect().toSeq
    val stream = EventsStream.runSessionizeStream(spark, dir, "sessions_late",
      maxFilesPerTrigger = 1, watermarkDelay = "6 hours").collect().toSeq
    assert(stream == batch, s"late-event stream diverged: $stream vs $batch")
    // and the late event really merged: user 1 has ONE 4-event session
    assert(batch.count(_.getLong(0) == 1L) == 1 &&
      batch.find(_.getLong(0) == 1L).get.getLong(2) == 4L)
  }

  test("late event BEFORE the open session's start: rewinds the start, bridges pending sessions, tombstones the old key") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val root = TestSpark.tempDir("events_rewind").toString
    val dir = s"$root/events.parquet"
    new java.io.File(dir).mkdirs()
    val t0 = 1600000000000L
    val Min = 60000L
    def stage(name: String, mtime: Long, rows: (Long, Long, Long)*): Unit = {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (id, ms, uid) =>
          org.apache.spark.sql.Row(id, ms * 1000000L, uid, "play", 1.0, "{}") }, 1),
        StructType(Seq(StructField("event_id", LongType), StructField("ts", LongType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType))))
      val tmp = s"$root/_tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$dir/$name.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    val now = System.currentTimeMillis()
    // user 1 batch 0: two pending sessions [T0, T0+30m] and [T0+120m] (90m gap);
    // user 2 batch 0: one session at [T0+100m]
    stage("f1", now - 60000,
      (1L, t0, 1L), (2L, t0 + 30 * Min, 1L), (3L, t0 + 120 * Min, 1L),
      (4L, t0 + 100 * Min, 2L))
    // batch 1, both events LATE (6h watermark delay admits them):
    //  - user 1 at T0+80m: within 60m of BOTH pending spans -> bridges them
    //    into one 4-event session keyed at T0
    //  - user 2 at T0+50m: 50m before the open start -> rewinds the key from
    //    T0+100m to T0+50m (old key must be tombstoned)
    stage("f2", now, (5L, t0 + 80 * Min, 1L), (6L, t0 + 50 * Min, 2L))
    val batch = EventsStream.sessionizeBatch(spark, root).collect().toSeq
    val stream = EventsStream.runSessionizeStream(spark, dir, "sessions_rewind",
      maxFilesPerTrigger = 1, watermarkDelay = "6 hours").collect().toSeq
    assert(stream == batch, s"rewind/bridge stream diverged: $stream vs $batch")
    // the semantics really exercised what they claim:
    val byUser = batch.groupBy(_.getLong(0))
    assert(byUser(1L).map(r => (r.getLong(1), r.getLong(2))) == Seq((t0, 4L)),
      s"user 1 should be ONE bridged 4-event session: ${byUser(1L)}")
    assert(byUser(2L).map(r => (r.getLong(1), r.getLong(2))) == Seq((t0 + 50 * Min, 2L)),
      s"user 2 should start at the rewound T0+50m: ${byUser(2L)}")
    // and the append sink holds a tombstone for user 2's superseded key
    val raw = spark.table("sessions_rewind")
    assert(raw.filter(col("user_id") === 2 && col("session_start_ms") === (t0 + 100 * Min)
        && col("n_events") === 0).count() == 1,
      "expected a tombstone for user 2's rewound key")
  }

  test("sessionizer state EXPIRES: idle user emits a final session and its state row is removed") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dir = TestSpark.tempDir("events_expiry").toString
    val t0 = 1600000000000L // epoch ms
    val Min = 60000L; val Hour = 3600000L
    // Rows shaped like the fixture: ts is BIGINT nanoseconds.
    def stage(name: String, mtime: Long, rows: (Long, Long, Long)*): Unit = {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (id, ms, uid) =>
          org.apache.spark.sql.Row(id, ms * 1000000L, uid, "play", 1.0, "{}") }, 1),
        StructType(Seq(StructField("event_id", LongType), StructField("ts", LongType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType))))
      val tmp = s"$dir/_tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$dir/$name.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    val now = System.currentTimeMillis()
    // user 1: one 3-event session, then silence forever.
    stage("f1", now - 120000, (1L, t0, 1L), (2L, t0 + 10 * Min, 1L), (3L, t0 + 20 * Min, 1L))
    // user 2: appears 6 h later — advances the watermark past user 1's
    // gap horizon (t0+20min+1h) once the delay (10 min) is subtracted.
    stage("f2", now - 60000, (4L, t0 + 6 * Hour, 2L), (5L, t0 + 6 * Hour + Min, 2L))
    // user 3: far future — in whatever batch processes this file, the
    // timeout check runs against the watermark from f2's batch and fires
    // user 1's expiry; if a trailing no-data batch runs, user 2 expires too.
    stage("f3", now, (6L, t0 + 100 * Hour, 3L))
    val q = EventsStream.sessionizeStreamQuery(spark, dir, "sessions_expiry",
      maxFilesPerTrigger = 1, watermarkDelay = "10 minutes")
    q.awaitTermination()
    // Final emission for user 1 arrived via TIMEOUT: the raw append table
    // holds the provisional row from its data batch plus the identical
    // final row from the timeout batch.
    val raw = spark.table("sessions_expiry")
    val u1 = raw.filter(col("user_id") === 1).collect()
    assert(u1.length == 2, s"expected provisional + timeout-final for user 1, got ${u1.toSeq}")
    // identical content, distinct emission seq
    assert(u1.map(_.toSeq.take(4)).distinct.size == 1,
      s"final differs from provisional: ${u1.toSeq}")
    assert(u1.head.getLong(2) == 3, s"user 1 session should have 3 events: ${u1.head}")
    // Compacted output: exactly one session per user, matching the gap rule.
    val sessions = EventsStream.compactSessions(spark, "sessions_expiry").collect().toSeq
    assert(sessions.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ==
      Seq((1L, t0, 3L), (2L, t0 + 6 * Hour, 2L), (3L, t0 + 100 * Hour, 1L)))
    // State shrank: user 1's row (and user 2's, if a trailing no-data batch
    // ran) is REMOVED — without EventTimeTimeout this is 3 forever.
    val lastState = q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.head).get
    assert(lastState.numRowsTotal <= 2,
      s"state did not shrink: ${lastState.numRowsTotal} rows still live")
    val removed = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsRemoved).sum
    assert(removed >= 1, "no state rows were ever removed")
  }

  test("TIMEOUT branch: hasTimedOut with an empty batch iterator finalizes from old.sessions only, under RocksDB") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // The branch under test (EventsStream.fn): when `state.hasTimedOut`,
    // the batch iterator is EMPTY and `merged = old.sessions` — finals must
    // come from state alone. Planting TWO pending sessions for one user and
    // expiring them across two separate timeout firings proves the branch
    // (a) emits only watermark-certified sessions, (b) keeps the rest live.
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDB"), "sessionizer spec must run on the at-scale state store")
    val dir = TestSpark.tempDir("events_timeout").toString
    val t0 = 1600000000000L
    val Min = 60000L; val Hour = 3600000L
    def stage(name: String, mtime: Long, rows: (Long, Long, Long)*): Unit = {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (id, ms, uid) =>
          org.apache.spark.sql.Row(id, ms * 1000000L, uid, "play", 1.0, "{}") }, 1),
        StructType(Seq(StructField("event_id", LongType), StructField("ts", LongType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType))))
      val tmp = s"$dir/_tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$dir/$name.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    val now = System.currentTimeMillis()
    // f1: user 1 has TWO pending sessions, 3 h apart (> 1 h gap). User 1
    // never appears again — every later invocation for it is a timeout one.
    stage("f1", now - 120000, (1L, t0, 1L), (2L, t0 + 3 * Hour, 1L))
    // f2: only user 2. Its batch runs with wm = t0+3h-10min, which is past
    // session A's horizon (t0+1h+1) but NOT session B's (t0+4h+1): the
    // timeout fires with an empty iterator and must finalize A alone.
    stage("f2", now - 60000, (3L, t0 + 5 * Hour, 2L))
    // f3: only user 3. Its batch runs with wm = t0+5h-10min > t0+4h+1:
    // the second timeout firing finalizes B and removes user 1's state.
    stage("f3", now, (4L, t0 + 100 * Hour, 3L))
    val q = EventsStream.sessionizeStreamQuery(spark, dir, "sessions_timeout",
      maxFilesPerTrigger = 1, watermarkDelay = "10 minutes")
    q.awaitTermination()
    val raw = spark.table("sessions_timeout")
      .filter(col("user_id") === 1).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(4))).sortBy(_._3) // (start, n, seq)
    // b1 emits both provisional; the two timeout firings re-emit each as
    // final from state alone (user 1 had zero input rows after f1).
    assert(raw.length == 4, s"expected 2 provisional + 2 timeout-finals, got ${raw.toSeq}")
    assert(raw.map(t => (t._1, t._2)).toSeq ==
      Seq((t0, 1L), (t0 + 3 * Hour, 1L), (t0, 1L), (t0 + 3 * Hour, 1L)),
      s"timeout finals must replay old.sessions content exactly: ${raw.toSeq}")
    // Partial expiry order: A's final (3rd emission) precedes B's final
    // (4th) — two separate hasTimedOut firings, not one bulk flush.
    assert(raw.map(_._3).toSeq == Seq(1L, 2L, 3L, 4L), s"seq order broken: ${raw.toSeq}")
    val sessions = EventsStream.compactSessions(spark, "sessions_timeout")
      .filter(col("user_id") === 1).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(sessions == Seq((t0, 1L), (t0 + 3 * Hour, 1L)))
    val removed = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsRemoved).sum
    assert(removed >= 1, "user 1's state row was never removed after its last timeout")
  }

  test("counts monitors on an EMPTY landing dir return empty frames, not a schema crash") {
    // The normal start state of a real stream: zero arrivals → zero
    // micro-batches → an empty temp counts table. Before round 15 the
    // read-back inferred its schema from the (empty) parquet dir and threw
    // UNABLE_TO_INFER_SCHEMA in all three monitors; the shared
    // runCountsMonitor lifecycle now reads under the aggregation's own
    // schema, so the scorers see an empty table and return empty verdicts.
    val dir = TestSpark.tempDir("events_mon_empty").toString
    assert(EventsStream.runDriftStream(spark, dir, "drift_empty_spec")
      .collect().isEmpty)
    assert(EventsStream.runBackfillStream(spark, dir, "backfill_empty_spec")
      .collect().isEmpty)
    assert(EventsStream.runFreshnessStream(spark, dir, "freshness_empty_spec")
      .collect().isEmpty)
  }

  test("streaming drift gate equals the registered batch variant") {
    val land = TestSpark.tempDir("events_drift").toString
    graft.Tables.events(spark, sf)
      .write.mode("overwrite").parquet(s"$land/arrivals")
    val streamed = EventsStream.runDriftStream(
      spark, s"$land/arrivals", "drift_spec").collect().toSeq
    val batch = EventsStream.defs.find(_.name == "st_drift").get
      .fn(spark, sf).collect().toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
    // the verdict column is consistent with the score it gates
    batch.foreach { r =>
      assert(r.getBoolean(3) == (r.getLong(2) < 100000L),
        s"drift_ok must restate tv_micro < 100000: $r")
    }
  }

  test("streaming k-anon gate equals batch; unseen cells fail closed across micro-batches") {
    import org.apache.spark.sql.functions._
    val land = TestSpark.tempDir("events_kanon").toString
    graft.Tables.events(spark, sf)
      .write.mode("overwrite").parquet(s"$land/arrivals")
    val streamed = EventsStream.runKanonGateStream(
      spark, s"$land/arrivals", sf, "kanon_spec").collect().toSeq
    val batch = EventsStream.defs.find(_.name == "st_kanon_gate").get
      .fn(spark, sf).collect().toSeq
    assert(streamed == batch)
    // the sf0.001 fixture exercises both branches of the gate
    val verdicts = batch.map(_.getString(1)).toSet
    assert(verdicts == Set("forward", "suppress"),
      s"fixture must exercise both gate branches, got $verdicts")
    // fail-closed: an arriving event type the census has never seen must
    // suppress, even in a later micro-batch (artifact re-read per batch)
    val land2 = TestSpark.tempDir("events_kanon2").toString
    val ghost = graft.Tables.events(spark, sf).limit(1)
      .withColumn("event_type", lit("ghost_type"))
      .withColumn("event_id", lit(999999901L))
    ghost.write.mode("overwrite").parquet(s"$land2/arrivals")
    val gated = EventsStream.runKanonGateStream(
      spark, s"$land2/arrivals", sf, "kanon_spec2").collect().toSeq
    assert(gated.length == 1 && gated.head.getString(0) == "ghost_type"
      && gated.head.getString(1) == "suppress",
      s"unseen QI cell must fail closed, got $gated")
  }

  test("streaming backfill monitor equals the batch planner; a hole arriving later closes") {
    import org.apache.spark.sql.functions._
    val land = TestSpark.tempDir("events_backfill").toString
    graft.Tables.events(spark, sf)
      .write.mode("overwrite").parquet(s"$land/arrivals")
    val streamed = EventsStream.runBackfillStream(
      spark, s"$land/arrivals", "backfill_spec").collect().toSeq
    val batch = graft.ops.Analytics.defs.find(_.name == "an_backfill_plan").get
      .fn(spark, sf).collect().toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
    // incrementality: drop one day of one type, stream -> 'backfill'; the
    // missing day then ARRIVES in a second file and the verdict closes
    val land2 = TestSpark.tempDir("events_backfill2").toString
    val all = graft.Tables.events(spark, sf)
      .withColumn("day", expr("(ts div 1000000) div 86400000"))
    val someDay = all.select(max("day")).head.getLong(0) - 1
    val someType = "purchase"
    val hole = col("event_type") === someType && col("day") === someDay
    all.filter(!hole).drop("day")
      .write.mode("overwrite").parquet(s"$land2/arrivals")
    val withHole = EventsStream.runBackfillStream(
      spark, s"$land2/arrivals", "backfill_spec2").collect()
      .map(r => r.getString(0) -> r.getString(4)).toMap
    assert(withHole(someType) == "backfill", s"hole must be planned: $withHole")
    all.filter(hole).drop("day")
      .write.mode("append").parquet(s"$land2/arrivals")
    val closed = EventsStream.runBackfillStream(
      spark, s"$land2/arrivals", "backfill_spec3").collect()
      .map(r => r.getString(0) -> r.getString(4)).toMap
    assert(closed(someType) == "complete", s"arrived day must close the plan: $closed")
  }

  test("streaming freshness audit equals the batch query; a dead producer goes stale") {
    import org.apache.spark.sql.functions._
    val land = TestSpark.tempDir("events_fresh").toString
    graft.Tables.events(spark, sf)
      .write.mode("overwrite").parquet(s"$land/arrivals")
    val streamed = EventsStream.runFreshnessStream(
      spark, s"$land/arrivals", "fresh_spec").collect().toSeq
    val batch = graft.ops.Analytics.defs.find(_.name == "an_watermark_lag").get
      .fn(spark, sf).collect().toSeq
    assert(streamed == batch)
    // dead producer: a new arrival file advances every type EXCEPT one by
    // 12h (the advance must clear the fixture's own ~7h lag spread — the
    // new global is set by the least-lagged advancing type); the silent
    // type's verdict flips to stale on the next pass
    val silent = "purchase"
    graft.Tables.events(spark, sf)
      .filter(col("event_type") =!= silent)
      .withColumn("ts", col("ts") + expr("43200000000000L"))
      .write.mode("append").parquet(s"$land/arrivals")
    val later = EventsStream.runFreshnessStream(
      spark, s"$land/arrivals", "fresh_spec2").collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(later(silent) == "stale", s"silent type must go stale: $later")
    assert(later.count(_._2 == "fresh") >= 1, "advancing types stay fresh")
  }
}
