package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Proves partition pruning on Layout.writePartitioned output: a filter on
  * the partition column must reach the scan as a PartitionFilter and cut
  * the files read. */
class LayoutPruningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("filter on the partition column prunes partitions at the scan") {
    val out = TestSpark.tempDir("part").toString + "/orders_by_year"
    val orders = graft.Tables.orders(spark, TestSpark.sf)
      .withColumn("o_year", year(col("o_orderdate")))
    Layout.writePartitioned(orders, out, "o_year")

    val pruned = spark.read.parquet(out).filter(col("o_year") === 1995)
    pruned.count()
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("o_year"),
      s"expected partition filter in scan:\n$plan")

    // pruning is real: the filtered scan touches fewer physical files
    def filesRead(df: org.apache.spark.sql.DataFrame): Long =
      df.select(input_file_name()).distinct().count()
    val all = spark.read.parquet(out)
    assert(filesRead(pruned) < filesRead(all))
    // and the values are right
    assert(pruned.count() ==
      orders.filter(year(col("o_orderdate")) === 1995).count())
  }
}
