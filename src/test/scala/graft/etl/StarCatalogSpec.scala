package graft.etl

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class StarCatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  /** The COPY `STATUPDATE ON` analog for catalog consumers
    * (sql_queries.py:130/135: Redshift refreshes planner statistics as part
    * of the load). AQE covers runtime stats (SURVEY §2.1 S3's mapping, the
    * at-scale default), so no production path calls this; it is the
    * explicit catalog-stats leg, with per-column min/max/NDV — the Redshift
    * ANALYZE equivalent. */
  private def analyze(): Unit =
    StarSchema.tables.foreach { t =>
      spark.sql(s"ANALYZE TABLE ${t.name} COMPUTE STATISTICS FOR ALL COLUMNS")
    }

  test("catalog round-trip: reset declares all five tables, drop removes them") {
    StarCatalog.reset(spark)
    StarSchema.tables.map(_.name).foreach { name =>
      assert(spark.catalog.tableExists(name), s"$name missing after reset")
      assert(spark.table(name).count() == 0, s"$name should be empty after create")
    }
    // reset is idempotent (CREATE IF NOT EXISTS after DROP IF EXISTS)
    StarCatalog.reset(spark)
    StarCatalog.drop(spark)
    StarSchema.tables.map(_.name).foreach { name =>
      assert(!spark.catalog.tableExists(name), s"$name should be dropped")
    }
  }

  test("end-to-end ETL: pipeline writes five tables and register serves them") {
    val out = TestSpark.tempDir("etl_out").toString
    StarCatalog.reset(spark)
    val results = StarPipeline.run(spark, sf, out)
    assert(results.map(_.name) ==
      Seq("songplays", "users", "songs", "artists", "time"))
    results.foreach(r => assert(r.rows > 0, s"${r.name} wrote no rows"))
    StarCatalog.register(spark, out)
    // catalog now serves the loaded data, with the declared schema
    assert(spark.table("songs").count() == results.find(_.name == "songs").get.rows)
    assert(spark.table("songplays").schema.fieldNames.toSeq ==
      Seq("start_time", "user_id", "song_id", "session_id", "user_agent"))
    // the declared DDL agrees with the data each lineage wrote: column
    // names, order and types (nullability aside — the catalog declares
    // every column nullable)
    def cols(schema: org.apache.spark.sql.types.StructType) =
      schema.fields.toSeq.map(f => (f.name, f.dataType))
    results.foreach { r =>
      assert(cols(spark.table(r.name).schema) == cols(spark.read.parquet(r.path).schema),
        s"${r.name}: catalog DDL disagrees with the written parquet")
    }
    // STATUPDATE ON analog: post-load catalog stats land for the planner
    analyze()
    val stats = spark.sql("DESCRIBE EXTENDED songs")
      .filter("col_name = 'Statistics'").collect()
    assert(stats.nonEmpty, "ANALYZE left no table statistics on songs")
    val rowCount = stats.head.getString(1)
    assert(rowCount.contains(s"${results.find(_.name == "songs").get.rows} rows"),
      s"statistics don't carry the loaded row count: $rowCount")
    val colStats = spark.sql("DESCRIBE EXTENDED songs song_id")
      .filter("info_name = 'distinct_count'").collect()
    assert(colStats.nonEmpty && colStats.head.getString(1) != "NULL",
      "FOR ALL COLUMNS left no NDV on songs.song_id")
    StarCatalog.drop(spark)
  }
}
