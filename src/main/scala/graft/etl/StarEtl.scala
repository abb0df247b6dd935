package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{EpochTime, Tables}

/** Star-schema ELT: the reference's five INSERT…SELECT pipelines
  * (/root/reference/sql_queries.py:140-220) re-expressed Spark-first over the
  * fixture tables (mapping: FIXTURES.md §C).
  *
  * Semantics deliberately preserved from the reference (SURVEY.md §2):
  *  - E1: epoch-millis BIGINT → TIMESTAMP via *integer* division by 1000
  *    (sql_queries.py:152,211) — exact floor division ([[EpochTime]]),
  *    never double division.
  *  - DECIMAL(9,0) load-rounding: the J1 join compares HALF_UP-rounded
  *    measurements (sql_queries.py:34,59,164).
  *  - A2 quirk: the users dedup key includes the mutable attribute, so one
  *    user appears once per distinct level (sql_queries.py:176-183). The
  *    `usersFixed` variant is the documented fix.
  *  - E7 quirk: `time.weekday` holds EXTRACT(week), not day-of-week
  *    (sql_queries.py:217). `timeFixed` is the documented fix.
  *
  * Scale notes: the dimension side of every join is broadcast (diststyle-all
  * analog, sql_queries.py:85,105,117); the fact pipeline is one shuffle for
  * the final DISTINCT (partial/final hash aggregate, map-side combine free).
  *
  * Each builder is the table's one lineage, unsorted: [[StarPipeline]]
  * writes it through Layout.writeParquet (distkey repartition + sortkey
  * sortWithinPartitions), and the oracle-facing queries add the
  * presentation ORDER BY declared in [[StarSchema]].
  */
object StarEtl {
  private val Dec9 = DecimalType(9, 0)

  /** staging_events analog: fixture `events` plus the BIGINT epoch-millis
    * column the reference stages as `ts` (sql_queries.py:43).
    *
    * [[Tables.events]] hands `ts` over as BIGINT epoch-nanos, just like the
    * reference's staged BIGINT epoch; `ms` is its [[EpochTime.Ms]] floor —
    * exact BIGINT division (a double-divide can round up across an integer
    * boundary), and a pre-1970 instant's ms is floored, not truncated. */
  def stagingEvents(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).withColumn("ms", EpochTime.Ms.of(col("ts")))

  /** E1 — `TIMESTAMP 'epoch' + ts/1000 * INTERVAL '1 second'`
    * (sql_queries.py:152): BIGINT division drops the millisecond component
    * before the timestamp is built. The division floors ([[EpochTime]]), so
    * it equals the reference's truncating `/` on every ms ≥ 0, and a
    * pre-1970 ms lands in its own calendar second instead of the next one. */
  def epochToTimestamp(ms: Column): Column =
    timestamp_seconds(EpochTime.floorDiv(ms, EpochTime.Second.ms))

  private def startTime = epochToTimestamp(expr("ms")).as("start_time")

  /** staging_songs analog: a small metadata dim keyed by
    * (user, DECIMAL(9,0)-rounded measurement) — the rounded value plays
    * `duration` in the reference's three-key join (sql_queries.py:160-164).
    * GroupBy (not distinct) so each dim row carries a stable surrogate id.
    *
    * Note the fixture artifact documented in FIXTURES.md §C: this surrogate
    * (min purchase event_id) and the `songs` dim key (p_partkey) live in
    * unrelated domains, so the star's fact→songs join is vacuous on
    * fixtures — mirroring the reference's own unenforced star integrity. */
  def songDim(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy(
        col("user_id").as("d_user"),
        col("value").cast(Dec9).as("d_value"))
      .agg(min("event_id").as("song_id"))

  /** songplays fact build (sql_queries.py:140-166):
    * filter(P2) ∘ join(J1, rounded third key) ∘ distinct(A1) ∘
    * project(P1 aliases, P3 int→string casts, E1 timestamp).
    * The dim side is broadcast: at 100 TB the fact side streams through a
    * broadcast hash join with zero fact-side shuffle; the only exchange is
    * the final DISTINCT's hash aggregation. */
  def songplays(spark: SparkSession, sfDir: String): DataFrame = {
    val se  = stagingEvents(spark, sfDir).filter(col("event_type") === "view")
    val dim = songDim(spark, sfDir)
    se.join(
        broadcast(dim),
        se("user_id") === dim("d_user") &&
          se("value").cast(Dec9) === dim("d_value"),
        "inner")
      .select(
        epochToTimestamp(se("ms")).as("start_time"),
        se("user_id").cast(StringType).as("user_id"),
        dim("song_id"),
        se("event_id").cast(StringType).as("session_id"),
        se("props").as("user_agent"))
      .distinct()
  }

  /** users dim (sql_queries.py:170-183) — faithful, including the quirk:
    * the DISTINCT key includes the mutable `level` attribute, so a user whose
    * level changed appears once per level. `level` here is the `$.k` field of
    * the event props JSON (P2 filter applied as in the reference). */
  def users(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .filter(col("event_type") === "view")
      .select(
        col("user_id"),
        get_json_object(col("props"), "$.k").as("level"))
      .distinct()

  /** users dim, fixed variant (SURVEY.md §2.4 A2): latest level per user via
    * a window dedup — `row_number() over (partition by user order by ts desc)`. */
  def usersFixed(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms").desc, col("event_id").desc)
    stagingEvents(spark, sfDir)
      .filter(col("event_type") === "view")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("user_id"),
        get_json_object(col("props"), "$.k").as("level"))
      .orderBy("user_id")
  }

  /** songs dim (sql_queries.py:186-195): distinct projection of the part
    * metadata with the DECIMAL(9,0) load-rounding on the price/duration. */
  def songs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select(
        col("p_partkey").as("song_id"),
        col("p_name").as("title"),
        col("p_brand").as("artist_id"),
        col("p_size").as("year"),
        // DECIMAL(9,0) HALF_UP rounding preserved in the value; carried as
        // BIGINT so the output bytes are representation-independent.
        col("p_retailprice").cast(Dec9).cast(LongType).as("duration"))
      .distinct()

  /** artists dim (sql_queries.py:197-206): distinct projection, NULL-tolerant
    * (P4), DECIMAL(9,0) rounding on the numeric attribute. */
  def artists(spark: SparkSession, sfDir: String): DataFrame =
    Tables.supplier(spark, sfDir)
      .select(
        col("s_suppkey").as("artist_id"),
        col("s_name").as("name"),
        col("s_nationkey").as("location"),
        col("s_acctbal").cast(Dec9).cast(LongType).as("latitude"))
      .distinct()

  /** time dim (sql_queries.py:208-220): E1 timestamp build then the
    * EXTRACT family E2-E7 — including the E7 bug-as-spec: `weekday` holds
    * the ISO week number (EXTRACT(week) twice, sql_queries.py:214 vs 217). */
  def time(spark: SparkSession, sfDir: String): DataFrame =
    timeDim(spark, sfDir, weekofyear)

  /** time dim, fixed variant: `weekday` is a real day-of-week
    * (0=Monday … 6=Sunday, Spark `weekday`). */
  def timeFixed(spark: SparkSession, sfDir: String): DataFrame =
    timeDim(spark, sfDir, weekday)

  private def timeDim(spark: SparkSession, sfDir: String,
      weekdayOf: Column => Column): DataFrame =
    stagingEvents(spark, sfDir)
      .filter(col("event_type") === "view")
      .select(startTime)
      .select(
        col("start_time"),
        hour(col("start_time")).as("hour"),
        dayofmonth(col("start_time")).as("day"),
        weekofyear(col("start_time")).as("week"),
        month(col("start_time")).as("month"),
        year(col("start_time")).as("year"),
        weekdayOf(col("start_time")).as("weekday"))
      .distinct()
}
