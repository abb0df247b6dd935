package graft

import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Fixture-schema seam: one focused spec asserting the exact dtypes each
  * query family assumes AFTER [[Tables]]' reader-boundary normalization.
  *
  * Motivation (round 10): the driver regenerated the fixture with
  * `events.ts` as parquet TIMESTAMP(MICROS) where previous fixtures shipped
  * TIMESTAMP(NANOS) (read as BIGINT via `nanosAsLong`) — 21 queries doing
  * `ts div 1000000` threw at analysis time, and the failure surfaced as 21
  * scattered red queries instead of one schema assertion. This spec is the
  * tripwire: the next fixture-side type drift fails HERE, by name, before
  * any query family is debugged.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val d = TestSpark.sf

  private def dt(table: String, col: String): DataType =
    Tables.read(s, d, table).schema(col).dataType

  test("events.ts normalizes to BIGINT epoch-nanos whatever the fixture's physical type") {
    // The raw fixture may ship LongType (TIMESTAMP(NANOS) + nanosAsLong) or
    // a timestamp type (TIMESTAMP(MICROS)); the engine contract is post-read
    // BIGINT nanos — every EpochTime bucket depends on it.
    val events = Tables.events(s, d)
    assert(events.schema("ts").dataType == LongType,
      s"events.ts must be BIGINT nanos after normalization, got ${events.schema("ts").dataType}")
    // And the values really are nanos: ms derived from ts must land in a
    // plausible UTC-millis window (fixture event time is Jan 2024; allow
    // 2020..2030 so regenerations move freely without touching this spec).
    // A wrong unit (micros or ms read as nanos) lands decades away and
    // fails here. Pre-1970 events are not out of contract: EpochTime
    // floors every bucket, and the NULL-grid corpus carries such rows.
    val ms = events.selectExpr("min(ts div 1000000)", "max(ts div 1000000)").head()
    assert(ms.getLong(0) >= 1577836800000L && ms.getLong(1) <= 1893456000000L,
      s"ts div 1e6 outside plausible epoch-millis range: $ms — wrong unit after normalization?")
  }

  test("events: remaining columns hold their contract types") {
    val sch = Tables.events(s, d).schema
    assert(sch("event_id").dataType == LongType)
    assert(sch("user_id").dataType == LongType)
    assert(sch("event_type").dataType == StringType)
    assert(sch("value").dataType == DoubleType)
    assert(sch("props").dataType == StringType)
  }

  test("orders/lineitem date columns arrive as a timestamp type (cast-to-timestamp sites)") {
    // jn_asof / an_sql_revenue / w_topn do unix_millis(cast(col AS timestamp));
    // that expression requires a timestamp-family input (NTZ or LTZ both
    // exact under the pinned-UTC session).
    assert(Set[DataType](TimestampType, TimestampNTZType).contains(dt("orders", "o_orderdate")),
      s"o_orderdate: ${dt("orders", "o_orderdate")}")
    assert(Set[DataType](TimestampType, TimestampNTZType).contains(dt("lineitem", "l_shipdate")),
      s"l_shipdate: ${dt("lineitem", "l_shipdate")}")
  }

  test("documents: text/lang/source string, doc_id/n_chars bigint") {
    val sch = Tables.documents(s, d).schema
    assert(sch("doc_id").dataType == LongType)
    assert(sch("text").dataType == StringType)
    assert(sch("lang").dataType == StringType)
    assert(sch("source").dataType == StringType)
    assert(sch("n_chars").dataType == LongType)
  }

  test("embeddings: embedding is array<float> (cast to array<double> at use sites)") {
    val sch = Tables.embeddings(s, d).schema
    assert(sch("vec_id").dataType == LongType)
    assert(sch("embedding").dataType == ArrayType(FloatType, containsNull = true) ||
      sch("embedding").dataType == ArrayType(FloatType, containsNull = false),
      s"embedding: ${sch("embedding").dataType}")
    assert(sch("label").dataType == IntegerType)
  }

  test("normalization dispatch covers both historical physical types of events.ts") {
    // Deliberately materialize BOTH shapes in a temp copy and require
    // Tables.events to normalize each to the same values — this is the
    // "flip a dtype and the spec must notice" check, run in the positive
    // direction (each supported shape converges to identical nanos).
    val tmp = TestSpark.tempDir("tables-spec-").toString
    val base = Tables.events(s, d).selectExpr("event_id", "ts").limit(50)
    base.write.mode("overwrite").parquet(s"$tmp/long/events.parquet")
    base.selectExpr("event_id", "timestamp_micros(ts div 1000) AS ts")
      .write.mode("overwrite").parquet(s"$tmp/tsus/events.parquet")
    val viaLong = Tables.events(s, s"$tmp/long").selectExpr("event_id", "ts")
    val viaTs = Tables.events(s, s"$tmp/tsus").selectExpr("event_id", "ts")
    assert(viaLong.schema("ts").dataType == LongType)
    assert(viaTs.schema("ts").dataType == LongType)
    assert(viaLong.exceptAll(viaTs).isEmpty && viaTs.exceptAll(viaLong).isEmpty,
      "normalized nanos differ between LongType and TIMESTAMP(MICROS) fixture shapes")
  }

  test("Tables.parquet's memoized schema equals the inferred one for every fixture table") {
    // sf0.001 ships events.ts as TIMESTAMP(MICROS); the BIGINT copy covers
    // the other shape Tables.events dispatches on.
    val tmp = TestSpark.tempDir("tables-schema-").toString
    Tables.events(s, d).write.parquet(s"$tmp/events.parquet")
    assert(s.read.parquet(s"$tmp/events.parquet").schema("ts").dataType == LongType)
    assert(s.read.parquet(s"$d/events.parquet").schema("ts").dataType != LongType)
    val paths = Tables.names.map(t => s"$d/$t.parquet") :+ s"$tmp/events.parquet"
    paths.foreach { p =>
      Tables.parquet(s, p) // first read infers; the second reads the memo
      assert(Tables.parquet(s, p).schema == s.read.parquet(p).schema, p)
    }
  }

  test("a path rewritten in place is read with its new schema") {
    val dir = TestSpark.tempDir("tables-rewrite-").toString
    val path = s"$dir/events.parquet"
    val src = Tables.events(s, d).orderBy("event_id").limit(20)
    src.withColumn("ts", expr("timestamp_micros(ts div 1000)")).write.parquet(path)
    assert(Tables.read(s, dir, "events").schema("ts").dataType != LongType)
    val before = Tables.events(s, dir).collect().toSet
    src.write.mode("overwrite").parquet(path)
    assert(Tables.read(s, dir, "events").schema("ts").dataType == LongType,
      "the second read kept the first write's TIMESTAMP schema")
    // Tables.events now dispatches on BIGINT: ts passes through unconverted
    assert(Tables.events(s, dir).collect().toSet == before)
  }

  test("a repeat read of a path plans with no Spark job") {
    val dir = TestSpark.tempDir("tables-jobs-").toString
    Tables.read(s, d, "part").write.parquet(s"$dir/part.parquet")
    val first = graft.tools.Profile.run(s)(Tables.read(s, dir, "part").queryExecution.analyzed)
    assert(first.jobs >= 1, "the first read infers the schema in a job")
    val second = graft.tools.Profile.run(s)(Tables.read(s, dir, "part").queryExecution.analyzed)
    assert(second.jobs == 0, s"${second.jobs} jobs to plan a repeat read")
  }

  test("rowGroupCount counts a path rewritten in place again") {
    val path = s"${TestSpark.tempDir("tables-rowgroups-")}/part.parquet"
    val part = Tables.part(s, d)
    part.coalesce(1).write.parquet(path)
    assert(Tables.rowGroupCount(s, path) == 1)
    part.repartition(3).write.mode("overwrite").parquet(path)
    assert(Tables.rowGroupCount(s, path) == 3, "the count kept the first write's row groups")
  }
}
