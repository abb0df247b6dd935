package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** NON-FINITE CONTRACT (round-19 review, the NULL contracts' numeric
  * sibling): NaN/±Infinity doubles in money/measure columns make the two
  * engines fail in OPPOSITE ways — Spark's non-ANSI CAST silently injects
  * 0 (NaN) or Long.MaxValue (Inf) into integer money totals while the
  * DuckDB oracle's CAST hard-errors. The contract, stated at
  * [[Tables.centsSql]] and mirrored by `isfinite` guards in every money
  * oracle: a non-finite measure is unmeasurable → NULL at the conversion
  * boundary, skipped by aggregation like any NULL. DOUBLE→DECIMAL casts
  * need no Spark-side guard (non-ANSI cast of a non-finite double is
  * already NULL); raw-double SUMs and floor-bucketing carry explicit
  * guards. */
class NonFiniteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val dir: String = {
    val d = TestSpark.tempDir("graft_nonfinite").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val eschema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val t0 = 1700000000000000000L
    val ev = Seq(
      org.apache.spark.sql.Row(1L, t0, 7L, "view", 2.0, "{}"),
      org.apache.spark.sql.Row(2L, t0 + 1000000000L, 7L, "view", Double.NaN, "{}"),
      org.apache.spark.sql.Row(3L, t0 + 2000000000L, 7L, "view", Double.PositiveInfinity, "{}"),
      // MAGNITUDE BOUND (round 20): a finite measure beyond ±9e16 is the
      // same contract class — round(x*100) no longer fits a BIGINT, so
      // Spark's cast clamps where DuckDB's errors.
      org.apache.spark.sql.Row(4L, t0 + 3000000000L, 7L, "view", 1.0e18, "{}"))
    spark.createDataFrame(spark.sparkContext.parallelize(ev, 1), eschema)
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val lschema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType)))
    val li = Seq(
      org.apache.spark.sql.Row(1L, 10L, 3L, Int.box(1), Double.box(5.0), Double.box(50.0),
        Double.box(0.0), Double.box(0.0), "N", "O", ts("1995-02-01 00:00:00")),
      org.apache.spark.sql.Row(1L, 10L, 3L, Int.box(2), Double.box(Double.NaN),
        Double.box(Double.NaN), Double.box(0.0), Double.box(0.0), "N", "O",
        ts("1995-02-02 00:00:00")),
      org.apache.spark.sql.Row(1L, 10L, 3L, Int.box(3), Double.box(1.0e18),
        Double.box(-1.0e18), Double.box(0.0), Double.box(0.0), "N", "O",
        ts("1995-02-03 00:00:00")))
    spark.createDataFrame(spark.sparkContext.parallelize(li, 1), lschema)
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val pschema = StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType)))
    val pt = Seq(org.apache.spark.sql.Row(10L, "amber part", "Brand#1",
      "SMALL", Int.box(5), Double.box(100.0)))
    spark.createDataFrame(spark.sparkContext.parallelize(pt, 1), pschema)
      .write.mode("overwrite").parquet(s"$d/part.parquet")
    d
  }

  private def run(name: String) = SparkEntry.queries(name)(spark, dir)

  test("centsSql: NaN/Infinity/out-of-range money becomes NULL cents, not 0 / clamp") {
    val r = run("st_hourly_counts").collect()
    // all four views land in the same hour; only the finite 2.00 counts
    assert(r.length == 1 && r(0).getLong(2) == 4L, s"${r.mkString(";")}")
    assert(r(0).getLong(3) == 200L,
      s"sum_cents must skip NaN/Inf/1e18 (200 = the finite 2.00): ${r(0)}")
  }

  test("an_kanon_audit: non-finite and out-of-range values bucket to the NULL decade") {
    val r = run("an_kanon_audit").collect()
    val decades = r.map(x => if (x.isNullAt(2)) None else Some(x.getLong(2))).toSet
    assert(decades == Set(Some(0L), None),
      s"finite 2.0 -> decade 0; NaN/Inf/1e18 -> NULL decade: ${r.mkString(";")}")
    val nullRow = r.filter(_.isNullAt(2))
    assert(nullRow.length == 1 && nullRow(0).getLong(3) == 3L,
      s"all three poisoned events in the NULL-decade cell: ${nullRow.mkString(";")}")
  }

  test("an_salted_join: NaN and out-of-range quantities are excluded from the bigint sum") {
    val r = run("an_salted_join").collect()
    assert(r.length == 1 && r(0).getLong(1) == 5L && r(0).getLong(2) == 3L,
      s"sum_qty 5 (NaN and 1e18 skipped), n 3: ${r.mkString(";")}")
  }

  test("agg_groupby: NaN and out-of-range rows are NULL in the DECIMAL sums") {
    val r = run("agg_groupby").collect().map(x => x.getString(0) -> x).toMap
    val n = r("N")
    assert(n.getLong(2) == 5L, s"sum_qty skips the NaN and 1e18 rows: $n")
    assert(n.getLong(4) == 3L, "all three rows counted")
  }
}
