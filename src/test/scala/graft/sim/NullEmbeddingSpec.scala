package graft.sim

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** NULL-embedding contract (round-19 review — the embeddings analog of
  * NullTextSpec): the fixtures never carry a NULL `embedding`, but the
  * column is nullable on external corpora, and the oracles' unnest-range
  * cross joins COUNT the NULL rows Spark's posexplode drops — divergent
  * centroids and denominators. The contract (Similarity.vecs scaladoc):
  * NULL embeddings are filtered at the reader boundary on BOTH sides;
  * zero-norm vectors remain in the corpus but have no COSINE rank
  * (the bruteTopK NaN convention, now applied to the IVF re-rank, the
  * k-NN graph, the outlier ranking, and the rp-pair verify filter).
  * These tests run the guarded queries over a corpus WITH a NULL
  * embedding and a zero-norm vector and pin the agreed semantics on the
  * Spark output (the DuckDB replay can't run here; the NaN/NULL ordering
  * semantics are deterministic). */
class NullEmbeddingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val dir: String = {
    val d = TestSpark.tempDir("graft_nullembed").toString
    val rnd = new scala.util.Random(11)
    val real = (0L until 9L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() - 0.5f), (i % 3).toInt))
    val rows = (real :+ ((9L, Array.fill(8)(0.0f), 0)))
      .map { case (id, v, l) =>
        org.apache.spark.sql.Row(id: java.lang.Long, v, l: java.lang.Integer)
      } :+ org.apache.spark.sql.Row(50L: java.lang.Long, null, 1: java.lang.Integer) :+
      // NON-FINITE COMPONENT CONTRACT (round 20): vectors with a NaN /
      // ±Inf / NULL component are dropped at the same reader boundary —
      // without the filter a NaN component reaches the micro-unit
      // quantization CAST where Spark injects 0 and DuckDB errors.
      org.apache.spark.sql.Row(51L: java.lang.Long,
        Float.NaN +: Array.fill(7)(0.1f), 1: java.lang.Integer) :+
      org.apache.spark.sql.Row(52L: java.lang.Long,
        Float.PositiveInfinity +: Array.fill(7)(0.1f), 1: java.lang.Integer) :+
      org.apache.spark.sql.Row(53L: java.lang.Long,
        Float.NegativeInfinity +: Array.fill(7)(0.1f), 1: java.lang.Integer) :+
      org.apache.spark.sql.Row(54L: java.lang.Long,
        (null: java.lang.Float) +: Array.fill(7)(0.1f: java.lang.Float),
        1: java.lang.Integer) :+
      // round-20 magnitude bound: |x| > 1e9 would overflow the u8Codes
      // micro-unit arithmetic (DuckDB errors, Spark wraps) — dropped at
      // the same boundary
      org.apache.spark.sql.Row(55L: java.lang.Long,
        1.0e12f +: Array.fill(7)(0.1f), 1: java.lang.Integer)
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private def run(name: String) = SparkEntry.queries(name)(spark, dir)

  test("sim_dim_stats: the NULL row is absent from every dimension's n") {
    val r = run("sim_dim_stats").collect()
    assert(r.nonEmpty && r.forall(_.getLong(1) == 10L),
      s"n must count the 10 non-null FINITE vectors (zero-norm included; " +
        s"NULL and poisoned-component vectors excluded): ${r.take(3).mkString(";")}")
  }

  test("sim_quantize_u8: NULL and poisoned-component rows are absent from the code table") {
    val ids = run("sim_quantize_u8").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(50L) && ids.contains(9L),
      s"NULL vec absent, zero-norm still coded: $ids")
    assert(Seq(51L, 52L, 53L, 54L, 55L).forall(!ids.contains(_)),
      s"a NaN/±Inf/NULL/out-of-range COMPONENT must drop the vector " +
        s"before the micro-unit quantization cast (Spark would inject " +
        s"0 or wrap, DuckDB errors): $ids")
  }

  test("sim_rp_pairs: zero-norm pairs are excluded by the NaN guard, not the threshold") {
    val r = run("sim_rp_pairs").collect()
    assert(!r.exists(x => x.getLong(0) == 9L || x.getLong(1) == 9L),
      s"zero-norm endpoint must not emit a pair (NaN >= 0.35 is TRUE in " +
        s"both engines without the guard): ${r.mkString(";")}")
    assert(!r.exists(x => x.getLong(0) == 50L || x.getLong(1) == 50L))
    assert(r.forall(x => !x.getDouble(2).isNaN))
  }

  test("sim_knn_graph: NaN edges have no rank; the NULL vec has no vertex") {
    val r = run("sim_knn_graph").collect()
    assert(r.forall(x => !x.getDouble(2).isNaN),
      s"no NaN edge may survive the guard: ${r.filter(_.getDouble(2).isNaN).mkString(";")}")
    assert(!r.exists(x => x.getLong(0) == 50L || x.getLong(1) == 50L))
    assert(!r.exists(x => x.getLong(0) == 9L),
      "the zero-norm vector's own edges are all NaN -> it emits no rows")
  }

  test("sim_centroid_outliers: the outlier ranking ranks only real similarities") {
    val r = run("sim_centroid_outliers").collect()
    assert(r.forall(x => !x.isNullAt(2) && !x.getDouble(2).isNaN),
      s"no NULL/NaN cos6 in the ranked output: ${r.mkString(";")}")
    assert(!r.exists(_.getLong(1) == 50L))
  }

  test("sim_ann_ivf: the cosine re-rank serves no NaN score and never the NULL vec") {
    val r = run("sim_ann_ivf").collect()
    assert(r.forall(x => !x.getDouble(2).isNaN))
    assert(!r.exists(x => x.getLong(0) == 50L || x.getLong(1) == 50L))
  }
}
