package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Z-order layout: the quadrant-containment law that makes the interleaved
  * value a multi-dimensional clustering key, and the resulting partition
  * pruning on a real partitioned write. */
class ZorderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // 256x256 grid, 8-bit coords
  private def grid = spark.range(256L * 256L)
    .select((col("id") % 256).as("x"), (col("id") / 256).cast("bigint").as("y"))
    .withColumn("zval", Layout.zorderValue(col("x"), col("y"), bits = 8))

  test("quadrant law: z < 4^k exactly when both coords < 2^k") {
    val g = grid.withColumn("inQuad", col("x") < 16 && col("y") < 16)
      .withColumn("inZ", col("zval") < 256)
    assert(g.filter(col("inQuad") =!= col("inZ")).count() == 0)
    // z is a bijection on the grid
    assert(grid.select(countDistinct(col("zval"))).head.getLong(0) == 256L * 256L)
  }

  test("partitioning by z-bucket prunes BOTH dimensions of a box predicate") {
    val out = TestSpark.tempDir("zorder").toString + "/pts"
    // bucket = top 8 z-bits = the 16x16 quadtree cell: equivalently the
    // interleave of the two 4-bit cell coordinates
    val pts = grid.withColumn("zbucket", expr("zval >> 8"))
    Layout.writePartitioned(pts, out, "zbucket")

    // box [32,48) x [48,64) is one aligned 16x16 cell -> ONE bucket
    val cell = spark.range(1)
      .select(Layout.zorderValue(lit(32L / 16), lit(48L / 16), bits = 4).as("b"))
      .head.getLong(0)
    val pruned = spark.read.parquet(out)
      .filter(col("zbucket") === cell &&
        col("x").between(32, 47) && col("y").between(48, 63))
    pruned.count()
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("zbucket"),
      s"expected zbucket partition filter in scan:\n$plan")

    def filesRead(df: org.apache.spark.sql.DataFrame): Long =
      df.select(input_file_name()).distinct().count()
    val all = spark.read.parquet(out)
    assert(filesRead(pruned) < filesRead(all) / 10,
      "box query should touch a small fraction of the 256 z-cells")
    // the single bucket holds the ENTIRE box: no rows lost to the pruning
    assert(pruned.count() == 16L * 16L)
  }
}
