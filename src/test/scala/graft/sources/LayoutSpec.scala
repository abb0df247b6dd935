package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** Layout's writers return the rows they wrote, counted by the write
  * itself: the count must equal what a reader finds at the path, for
  * non-empty frames and for each way a frame can be empty. */
class LayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def orders: DataFrame =
    Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey"),
      (col("o_orderkey") % 3).as("bucket"))

  private def readBack(df: DataFrame, path: String): Long =
    spark.read.schema(df.schema).parquet(path).count()

  private def checkBoth(df: DataFrame): Seq[Long] = {
    val dir = TestSpark.tempDir("layout-count").toString
    val flat = Layout.writeParquet(df, s"$dir/flat", Some("o_custkey"), Some("o_orderkey"))
    assert(flat == readBack(df, s"$dir/flat"), "writeParquet")
    val parted = Layout.writePartitioned(df, s"$dir/parted", "bucket")
    assert(parted == readBack(df, s"$dir/parted"), "writePartitioned")
    Seq(flat, parted)
  }

  test("writers return the rows they wrote") {
    val n = orders.count()
    assert(n > 0)
    assert(checkBoth(orders) == Seq(n, n))
    assert(checkBoth(orders.filter(col("o_custkey") % 2 === 0)).forall(c => c > 0 && c < n))
  }

  test("writers return 0 for a frame with no rows") {
    val empties = Seq(
      "a filter that keeps nothing" -> orders.filter(col("o_orderkey") < 0),
      "a constant-false filter" -> orders.filter(lit(false)),
      "an aggregate filtered to nothing" -> orders.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), max(col("o_orderkey")).as("o_orderkey"),
          max(col("bucket")).as("bucket"))
        .filter(col("n") > Long.MaxValue / 2)
        .select(col("o_orderkey"), col("o_custkey"), col("bucket")))
    empties.foreach { case (shape, df) =>
      assert(checkBoth(df) == Seq(0L, 0L), shape)
    }
  }
}
