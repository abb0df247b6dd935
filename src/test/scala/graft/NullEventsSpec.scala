package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** NULL-EVENT CONTRACT (round-19 review): the fixtures never carry a NULL
  * event field, but every `events` column is nullable on a production feed
  * (anonymous users, clockless events, missing payloads), and the engines'
  * defaults genuinely diverge there — Spark windows/sorts place an ASC NULL
  * FIRST where DuckDB places it LAST (shifting gaps-and-islands session
  * numbering), DuckDB's ASOF JOIN reads a NULL probe timestamp as "after
  * everything" (matching the key's latest order), and Spark's groupBy folds
  * all NULL users into one pseudo-user that a SQL self-join (NULL = NULL →
  * no match) never pairs. The contract, stated at an_sessionize /
  * asofComposed / StarQueries and pinned here:
  *  - user-grain/timeline queries (sessionize, attribution, funnel,
  *    retention, as-of, audience overlap) EXCLUDE events with a NULL owner
  *    or NULL timestamp — matching oracle WHEREs, and at scale keeping the
  *    all-anonymous-events window partition (a skew bomb) out of the plan;
  *  - accounting monitors and the star builds KEEP NULL-keyed groups
  *    (events must not silently vanish from counts), with the ORDER BY
  *    null direction pinned NULLS FIRST on both sides. */
class NullEventsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Events written with ts as BIGINT nanos (the Tables.events LongType
    * passthrough shape) — NULLs land directly in the contract columns. */
  private def writeEvents(dir: String,
      rows: Seq[(Long, java.lang.Long, java.lang.Long, String, java.lang.Double, String)]): Unit = {
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val rdd = spark.sparkContext.parallelize(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3, r._4, r._5, r._6)), 1)
    spark.createDataFrame(rdd, schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private val T0 = 1700000000000000000L // 2023-11-14T22:13:20Z, nanos
  private def mins(m: Long): Long = m * 60L * 1000000000L

  private lazy val dir: String = {
    val d = TestSpark.tempDir("graft_nullev").toString
    writeEvents(d, Seq(
      (1L, Long.box(T0), Long.box(7L), "view", Double.box(1.0), """{"k": "free"}"""),
      (2L, Long.box(T0 + mins(10)), Long.box(7L), "purchase", Double.box(2.0), """{"k": "free"}"""),
      (3L, null, Long.box(7L), "click", Double.box(3.0), """{"k": "free"}"""),
      (4L, Long.box(T0), null, "view", Double.box(4.0), """{"k": "free"}"""),
      (5L, Long.box(T0 + mins(120)), Long.box(7L), "view", null, null)))
    // one real order for custkey 7 (dated long before T0) for the as-of
    // probe, plus a NULL-custkey and a NULL-date order: neither may become
    // an as-of match (asofComposed's both-inputs contract — in particular
    // the NULL-custkey order must NOT pair with the NULL-user event, which
    // shares its Spark window partition).
    val oschema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderdate", TimestampType)))
    val ordRows = Seq(
      org.apache.spark.sql.Row(
        100L, 7L, java.sql.Timestamp.valueOf("1995-01-01 00:00:00")),
      org.apache.spark.sql.Row(
        101L, null, java.sql.Timestamp.valueOf("1995-01-01 00:00:00")),
      org.apache.spark.sql.Row(102L, 7L, null))
    spark.createDataFrame(spark.sparkContext.parallelize(ordRows, 1), oschema)
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    d
  }

  private def run(name: String) = SparkEntry.queries(name)(spark, dir)

  test("an_sessionize: NULL-user and NULL-ts events are not sessionizable") {
    val r = run("an_sessionize").collect()
    // only user 7's timestamped events remain: {1,2} one session, {5} another
    assert(r.length == 2, s"expected 2 sessions: ${r.mkString(";")}")
    assert(r.forall(_.getLong(0) == 7L), "no NULL-user pseudo-session")
    assert(r.map(_.getLong(2)).toSeq == Seq(2L, 1L), // n_events per session
      s"session membership must exclude the NULL-ts click: ${r.mkString(";")}")
  }

  test("an_attribution: a purchase only attributes inside the filtered timeline") {
    val r = run("an_attribution").collect()
    assert(r.length == 1 && r(0).getLong(0) == 2L, s"${r.mkString(";")}")
    assert(r(0).getString(3) == "view", "first-touch is the timestamped view")
    assert(r(0).getLong(4) == mins(10) / 1000000L, "ms_to_convert from event 1")
  }

  test("jn_asof: NULL-ts/NULL-user events and NULL-key/NULL-date orders never match") {
    val r = run("jn_asof").collect()
    // events 1,2,5 match order 100; 3 (NULL ts) and 4 (NULL user) are
    // absent, and neither the NULL-custkey order 101 nor the NULL-date
    // order 102 is ever the carried match
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L, 5L), s"${r.mkString(";")}")
    assert(r.forall(_.getLong(2) == 100L),
      s"only the dated, keyed order may match: ${r.mkString(";")}")
  }

  test("an_audience_overlap: a NULL user_id is not a user and pairs nothing") {
    val r = run("an_audience_overlap").collect()
    // user 7 holds {click, purchase, view} -> 3 pairs, each 1/1 users
    assert(r.length == 3, s"${r.mkString(";")}")
    assert(r.forall(_.getLong(2) == 1L), "n_both counts only real users")
    assert(r.forall(_.getLong(3) == 1000L), "jaccard over real users only")
  }

  test("st_sessionize: batch twin applies the same exclusion") {
    val r = run("st_sessionize").collect()
    assert(r.length == 2 && r.forall(_.getLong(0) == 7L), s"${r.mkString(";")}")
    assert(r.map(_.getLong(2)).toSeq == Seq(2L, 1L))
  }

  test("st_hourly_counts: the NULL-ts event stays as a NULL-hour accounting row") {
    val r = run("st_hourly_counts").collect()
    val nullHour = r.filter(_.isNullAt(0))
    assert(nullHour.length == 1 && nullHour(0).getString(1) == "click",
      s"NULL-ts click must appear under a NULL hour_ts: ${r.mkString(";")}")
    assert(nullHour(0).getLong(2) == 1L)
  }

  test("users_build: NULL user_id and NULL level rows are kept (reference load semantics)") {
    val r = run("users_build").collect()
    // view rows: (7,'free'), (NULL,'free'), (7, NULL level from NULL props)
    assert(r.length == 3, s"${r.mkString(";")}")
    assert(r.count(_.isNullAt(0)) == 1 && r.count(_.isNullAt(1)) == 1)
  }

  test("s1_scan_events_json: a legitimate NULL ts round-trips as NULL ms without raising") {
    val r = run("s1_scan_events_json").collect().map(x => x.getLong(0) -> x).toMap
    assert(r(3L).isNullAt(1), s"NULL-ts row must read back NULL ms: ${r(3L)}")
    assert(r(1L).getLong(1) == T0 / 1000000L, "real timestamps unchanged")
  }

  test("s1_scan_events_json: an all-NULL-ts corpus still fails loudly as drift") {
    val d2 = TestSpark.tempDir("graft_nullev_drift").toString
    writeEvents(d2, Seq(
      (1L, null, Long.box(7L), "view", Double.box(1.0), """{"k": "x"}"""),
      (2L, null, Long.box(8L), "view", Double.box(2.0), """{"k": "y"}""")))
    val e = intercept[Exception] {
      SparkEntry.queries("s1_scan_events_json")(spark, d2).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("ts_ns read null")),
      s"drift guard must fire on a zero-parseable-ts corpus: $e")
  }
}
