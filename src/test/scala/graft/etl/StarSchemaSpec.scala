package graft.etl

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class StarSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("typed datasets round-trip the DataFrame lineages") {
    import spark.implicits._
    val sp = StarSchema.songplays.typed(spark, sf)
    // typed transform: field access is compile-checked
    val users = sp.map(_.user_id).distinct().count()
    assert(users > 0 && users <= StarSchema.users.typed(spark, sf).count())
    assert(StarSchema.songs.typed(spark, sf).filter(_.duration != null).count() > 0)
    assert(StarSchema.time.typed(spark, sf).filter(t => t.weekday == t.week).count() ==
      StarSchema.time.typed(spark, sf).count()) // E7 quirk visible through types
  }

  test("typed tables collect rows the NULL contract keeps") {
    val dir = TestSpark.tempDir("graft_star_nulls").toString
    StarSchemaSpec.writeNullFixture(spark, dir)
    val songplays = StarSchema.songplays.typed(spark, dir).collect()
    assert(songplays.map(p => Option(p.start_time).isEmpty).toSeq == Seq(true, false),
      "the NULL-ts view keeps its play, NULL start_time first")
    val users = StarSchema.users.typed(spark, dir).collect()
    assert(users.toSeq.contains(StarSchema.User(null, "free")), users.mkString(";"))
    assert(users.length == 3)
    val songs = StarSchema.songs.typed(spark, dir).collect()
    assert(songs.find(_.song_id == 2L).get.year == null)
    val artists = StarSchema.artists.typed(spark, dir).collect()
    assert(artists.find(_.artist_id == 2L).get.location == null)
    val time = StarSchema.time.typed(spark, dir).collect()
    assert(time.length == 2 && time.head.start_time == null && time.head.hour == null &&
      time.head.weekday == null, time.mkString(";"))
  }

  test("surrogate ids are unique (the documented NULL-id fix)") {
    val ids = StarSchema.withSurrogateIds(spark, sf)
    assert(ids.select("songplay_id").distinct().count() == ids.count())
  }
}

object StarSchemaSpec {
  /** The star build's inputs (events, part, supplier) with a NULL in each
    * column the NULL contract keeps: a NULL-ts view, a NULL-user view, a
    * NULL `p_size` and a NULL `s_nationkey`. */
  def writeNullFixture(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def write(table: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$table.parquet")
    val t0 = 1700000000000000000L // 2023-11-14T22:13:20Z, nanos (BIGINT ts shape)
    write("events", StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))), Seq(
      Row(1L, t0, 7L, "view", 1.0, """{"k": "free"}"""),
      Row(2L, t0, 7L, "purchase", 1.0, """{"k": "free"}"""),
      Row(3L, null, 7L, "view", 1.0, """{"k": "paid"}"""),  // NULL-ts view
      Row(4L, t0, null, "view", 1.0, """{"k": "free"}""")))  // NULL-user view
    write("part", StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))), Seq(
      Row(1L, "p1", "Brand#1", "T", 5, 10.5),
      Row(2L, "p2", "Brand#2", "T", null, 20.0)))
    write("supplier", StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))), Seq(
      Row(1L, "s1", 3, 1.5),
      Row(2L, "s2", null, 2.5)))
  }
}
