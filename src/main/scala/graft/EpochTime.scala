package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, lit, pmod, timestamp_seconds}

/** The engine's one time rule for events `ts` (BIGINT epoch-nanos after
  * [[Tables.events]]; the DuckDB oracles read the parquet's native
  * TIMESTAMP). Every ms / second / hour / day / week bucket is the exact
  * FLOOR of `ts` over the unit, and hour-of-day is the non-negative
  * remainder, so a pre-1970 instant gets its calendar bucket:
  * 1969-12-31 22:00 is day -1, hour-of-day 22, and 23:59:59.9995 is
  * ms -1, second -1.
  *
  * Each unit has two forms built from the one width table below:
  *  - Spark `Column`: `(x - pmod(x, u)) div u`, BIGINT throughout. Never
  *    `floor(x / u)`: the DOUBLE quotient is inexact above 2^53 ns (about
  *    104 days past the epoch), i.e. for every real event.
  *  - DuckDB text over `epoch_us(ts)`: `(x - ((x % u) + u) % u) // u`,
  *    inline because the oracle replays run each string on a bare
  *    connection (no macro). DuckDB's `//` and `epoch_ms` both truncate
  *    toward zero (1.0.0: `(-1500)::BIGINT // 1000` is -1,
  *    `epoch_ms(TIMESTAMP '1969-12-31 23:59:59.9995')` is 0), so neither
  *    may bucket a time.
  *
  * On `ts ≥ 0` floor and truncation agree, so this rule returns what
  * Spark `div` / DuckDB `//` returned there. The star build follows the
  * same rule: it departs from Redshift's truncating `/` in the reference's
  * E1 (sql_queries.py:152, 211) only for pre-1970 milliseconds. */
object EpochTime {
  /** One bucket width, declared in milliseconds. */
  final class Bucket private[EpochTime] (val ms: Long) {
    private[EpochTime] def nanos: Long = ms * 1000000L
    private[EpochTime] def micros: Long = ms * 1000L

    /** Spark: the unit count of BIGINT epoch-nanos `ts`, floored. */
    def of(ts: Column): Column = floorDiv(ts, nanos)

    /** DuckDB: the same count for a TIMESTAMP column `ts`. */
    def sql(ts: String): String = floorDivSql(s"epoch_us($ts)", micros)
  }

  val Ms = new Bucket(1L)
  val Second = new Bucket(1000L)
  val Hour = new Bucket(3600000L)
  val Day = new Bucket(86400000L)
  val Week = new Bucket(604800000L)

  /** Spark: hour-of-day in [0, 24) of BIGINT epoch-nanos `ts`. */
  def hourOfDay(ts: Column): Column = call_function("div", pmod(ts, lit(Day.nanos)), lit(Hour.nanos))

  /** DuckDB: the same hour-of-day for a TIMESTAMP column `ts`. */
  def hourOfDaySql(ts: String): String =
    s"(${floorModSql(s"epoch_us($ts)", Day.micros)}) // ${Hour.micros}"

  /** Spark: the TIMESTAMP of `ts`'s whole second (E1's `start_time`). */
  def secondStart(ts: Column): Column = timestamp_seconds(Second.of(ts))

  /** DuckDB: the same TIMESTAMP for a TIMESTAMP column `ts`. */
  def secondStartSql(ts: String): String = s"make_timestamp(${Second.sql(ts)} * ${Second.micros})"

  /** Spark: `floor(x / u)` of a BIGINT `x`, exactly. */
  def floorDiv(x: Column, u: Long): Column =
    call_function("div", x - pmod(x, lit(u)), lit(u))

  /** DuckDB: `floor(x / u)` of a BIGINT expression `x`, exactly. */
  def floorDivSql(x: String, u: Long): String = s"($x - ${floorModSql(x, u)}) // $u"

  private def floorModSql(x: String, u: Long): String = s"(($x % $u) + $u) % $u"
}
