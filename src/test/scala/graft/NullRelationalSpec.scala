package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** NULL-RELATIONAL CONTRACT (round-19 review, the NullEventsSpec's sibling
  * for the TPC-H-ish tables): nullable order keys, window order keys, and
  * group keys diverge between the engines exactly as events did — Spark
  * places an ASC NULL FIRST where DuckDB places it LAST (position-dependent
  * window functions like lag/ntile/running sums then shift for EVERY row of
  * the partition), and a plain === join on a nullable GROUP key silently
  * drops the NULL group (NULL === NULL is NULL) where a single-pass GROUP
  * BY keeps it. Contract: NULL-keyed rows/groups are KEPT (they are
  * legitimate data), with the window and presentation null directions
  * pinned NULLS FIRST in every oracle and null-safe equality (`<=>` /
  * IS NOT DISTINCT FROM) on nullable group-key joins. */
class NullRelationalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val dir: String = {
    val d = TestSpark.tempDir("graft_nullrel_spec").toString
    val oschema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val orders = Seq(
      org.apache.spark.sql.Row(1L, 7L, "O", Double.box(100.0), ts("1995-01-01 00:00:00"), "1-URGENT"),
      org.apache.spark.sql.Row(2L, 7L, "O", Double.box(200.0), ts("1995-01-02 00:00:00"), "2-HIGH"),
      org.apache.spark.sql.Row(3L, 7L, "O", null, ts("1995-01-03 00:00:00"), "2-HIGH"),
      org.apache.spark.sql.Row(4L, 7L, "O", Double.box(300.0), null, "2-HIGH"),
      org.apache.spark.sql.Row(5L, null, "O", Double.box(400.0), ts("1995-01-04 00:00:00"), "3-MEDIUM"))
    spark.createDataFrame(spark.sparkContext.parallelize(orders, 1), oschema)
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    val lschema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType)))
    val li = Seq(
      org.apache.spark.sql.Row(1L, 10L, 3L, Int.box(1), Double.box(5.0), Double.box(50.5),
        Double.box(0.0), Double.box(0.0), "N", "O", ts("1995-02-01 00:00:00")),
      org.apache.spark.sql.Row(1L, 11L, 3L, Int.box(2), Double.box(5.0), Double.box(60.5),
        Double.box(0.0), Double.box(0.0), "R", "F", ts("1995-02-02 00:00:00")),
      org.apache.spark.sql.Row(2L, 12L, 3L, Int.box(1), Double.box(5.0), Double.box(70.5),
        Double.box(0.0), Double.box(0.0), null, null, ts("1995-02-03 00:00:00")))
    spark.createDataFrame(spark.sparkContext.parallelize(li, 1), lschema)
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    d
  }

  private def run(name: String) = SparkEntry.queries(name)(spark, dir)

  test("w_lag: the NULL-custkey partition and NULL-date window position are deterministic") {
    val r = run("w_lag").collect()
    // presentation NULLS FIRST: the NULL-custkey order leads
    assert(r.head.isNullAt(0) && r.head.getLong(1) == 5L, s"${r.mkString(";")}")
    // within custkey 7, the NULL o_orderdate row (order 4) sorts FIRST in
    // the window, so it has no predecessor and order 1 inherits ITS cents
    val byKey = r.filter(!_.isNullAt(0)).map(x => x.getLong(1) -> x).toMap
    assert(byKey(4L).isNullAt(2), "window-first NULL-date row has no lag")
    assert(byKey(1L).getLong(2) == 30000L, "order 1 lags the NULL-date row (300.00)")
  }

  test("w_running_sum: the NULL-date row seeds the running sum") {
    val r = run("w_running_sum").collect().filter(!_.isNullAt(0))
      .map(x => x.getLong(1) -> x.getLong(2)).toMap
    // window order (NULLS FIRST): 4 (300) -> 1 (100) -> 2 (200) -> 3 (NULL skipped)
    assert(r(4L) == 30000L && r(1L) == 40000L && r(2L) == 60000L && r(3L) == 60000L,
      s"running sums must start at the NULL-date row: $r")
  }

  test("an_window_nav: ntile/rank positions include NULL-cents rows first") {
    val r = run("an_window_nav").collect().filter(!_.isNullAt(0))
      .map(x => x.getLong(1) -> x).toMap
    // cents NULLS FIRST: order 3 (NULL cents) is rank 1 / the 'cheapest'
    assert(r(3L).getInt(2) == 1, s"NULL cents must rank first: ${r(3L)}")
    assert(r.values.forall(_.getLong(4) == 3L), "first_value is the NULL-cents order")
    assert(r(2L).getLong(5) == 4L, "dearest is order 4 (300.00)")
  }

  test("an_approx_percentile_bound: the NULL-returnflag group survives the join") {
    val r = run("an_approx_percentile_bound").collect()
    assert(r.length == 3, s"N, R, and NULL groups: ${r.mkString(";")}")
    assert(r.head.isNullAt(0), "NULL group present and sorted first")
    assert(r.forall(_.getBoolean(3)), "within_bound holds for every group")
  }

  test("agg_groupby: the NULL (returnflag, linestatus) group is kept and leads") {
    val r = run("agg_groupby").collect()
    assert(r.length == 3 && r.head.isNullAt(0) && r.head.isNullAt(1),
      s"${r.mkString(";")}")
  }
}
