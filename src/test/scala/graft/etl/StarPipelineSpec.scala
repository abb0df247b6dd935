package graft.etl

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class StarPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("pipeline materializes all five star tables, idempotently") {
    val out = TestSpark.tempDir("star").toString
    val r1 = StarPipeline.run(spark, sf, out)
    assert(r1.map(_.name) == Seq("songplays", "users", "songs", "artists", "time"))
    assert(r1.forall(_.rows > 0))
    // rerun = the reference's drop-and-reload: same results
    val r2 = StarPipeline.run(spark, sf, out)
    assert(r2 == r1)
    // written fact matches the query lineage it came from
    assert(spark.read.parquet(s"$out/songplays").count() ==
      StarEtl.songplays(spark, sf).count())
  }

  test("each TableResult counts the rows its table holds") {
    def check(src: String): Unit = {
      val results = StarPipeline.run(spark, src, TestSpark.tempDir("star-counts").toString)
      results.foreach { r =>
        assert(r.rows == spark.read.parquet(r.path).count(), s"${r.name} over $src")
      }
    }
    check(java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString)
    val nulls = TestSpark.tempDir("star-counts-nulls").toString
    StarSchemaSpec.writeNullFixture(spark, nulls)
    check(nulls)
  }
}
