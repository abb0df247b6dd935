package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class CosineSimSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("cosine_sim is bit-identical to the left-fold HOF formula on fixture vectors") {
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val l = e.select(col("vec_id").as("a"), col("v").as("va"))
    val r = e.select(col("vec_id").as("b"), col("v").as("vb"))
    val pairs = l.join(r, col("a") < col("b")).limit(50000)
      .withColumn("native", expr("cosine_sim(va, vb)"))
      .withColumn("hof",
        expr("aggregate(zip_with(va, vb, (x, y) -> x * y), 0D, (a, x) -> a + x) / " +
          "sqrt(aggregate(transform(va, x -> x * x), 0D, (a, x) -> a + x) * " +
          "aggregate(transform(vb, x -> x * x), 0D, (a, x) -> a + x))"))
    // bit-identical, not approximately equal: same fold order by construction
    assert(pairs.filter(col("native") =!= col("hof")).count() == 0)
    assert(pairs.count() > 0)
  }

  test("cosine_sim basics: self-similarity 1, orthogonal 0, opposite -1") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0)),
      (Array(1.0, 0.0), Array(0.0, 5.0)),
      (Array(2.0, -1.0), Array(-2.0, 1.0))).toDF("va", "vb")
      .withColumn("c", expr("round(cosine_sim(va, vb), 9)"))
    assert(df.select("c").as[Double].collect().toSeq == Seq(1.0, 0.0, -1.0))
  }

  test("dot_product is bit-identical to the left-fold HOF dot on fixture vectors") {
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val l = e.select(col("vec_id").as("a"), col("v").as("va"))
    val r = e.select(col("vec_id").as("b"), col("v").as("vb"))
    val pairs = l.join(r, col("a") < col("b")).limit(50000)
      .withColumn("native", expr("dot_product(va, vb)"))
      .withColumn("hof",
        expr("aggregate(zip_with(va, vb, (x, y) -> x * y), 0D, (a, x) -> a + x)"))
    assert(pairs.filter(col("native") =!= col("hof")).count() == 0)
    assert(pairs.count() > 0)
    // and to the cosine numerator: dot = cos * |a| * |b|
    val cross = pairs
      .withColumn("viaCos",
        expr("cosine_sim(va, vb) * " +
          "sqrt(aggregate(transform(va, x -> x * x), 0D, (a, x) -> a + x) * " +
          "aggregate(transform(vb, x -> x * x), 0D, (a, x) -> a + x))"))
      .filter(expr("abs(native - viaCos) > 1e-9 * greatest(abs(native), 1e-30)"))
    assert(cross.count() == 0)
  }

  test("dot_product basics: orthogonal 0, scaling linear, shorter vector truncates") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 0.0), Array(0.0, 5.0)),
      (Array(1.0, 2.0, 3.0), Array(2.0, 4.0, 6.0)),
      (Array(1.0, 2.0), Array(3.0, 4.0, 99.0))).toDF("va", "vb")
      .withColumn("ip", expr("dot_product(va, vb)"))
    assert(df.select("ip").as[Double].collect().toSeq == Seq(0.0, 28.0, 11.0))
  }
}
