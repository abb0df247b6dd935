package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class IngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** staging_songs (sql_queries.py:50-61). */
  private val songsStagingSchema = StructType(Seq(
    StructField("num_songs", IntegerType),
    StructField("artist_id", StringType),
    StructField("artist_latitude", DoubleType),
    StructField("artist_longitude", DoubleType),
    StructField("artist_location", StringType),
    StructField("artist_name", StringType),
    StructField("song_id", StringType),
    StructField("title", StringType),
    StructField("duration", DoubleType),
    StructField("year", IntegerType)))

  /** S2: song metadata load — 'auto' name matching, DECIMAL load-casts. The
    * star build reads song metadata from the `part` fixture, so this load
    * lives here, beside the test that pins it. */
  private def readSongsJson(path: String): DataFrame = {
    val dec9 = DecimalType(9, 0)
    spark.read.schema(songsStagingSchema).json(path)
      .withColumn("duration", col("duration").cast(dec9))
      .withColumn("artist_latitude", col("artist_latitude").cast(dec9))
      .withColumn("artist_longitude", col("artist_longitude").cast(dec9))
  }

  private def tmpJson(name: String, lines: Seq[String]): String = {
    val dir = TestSpark.tempDir("ingest").toString
    Files.write(java.nio.file.Paths.get(s"$dir/$name"),
      lines.mkString("\n").getBytes("UTF-8"))
    s"$dir/$name"
  }

  test("S1 events load: schema mapping, DECIMAL(9,0) rounding, NOT NULL validation") {
    // shapes mirror the Sparkify log JSON the reference COPYs (jsonpaths S1)
    val path = tmpJson("events.json", Seq(
      """{"event_id":1,"artist":"A","page":"NextSong","registration":1540919166796,"sessionId":139,"song":"S","length":277.15873,"ts":1541105830796,"userId":10,"level":"free"}""",
      """{"event_id":2,"artist":null,"page":"Home","sessionId":140,"ts":1541106106796,"userId":10}""",
      """{"event_id":3,"artist":"B","page":"NextSong","sessionId":null,"ts":1541106352796,"userId":26}"""))
    val df = Ingest.readEventsJson(spark, path)
    // row 3 dropped: sessionId NOT NULL (sql_queries.py:40)
    assert(df.count() == 2)
    // 277.15873 rounds HALF_UP to 277 at load (DECIMAL(9,0) quirk)
    val len = df.filter(col("event_id") === 1).select("length").head.getDecimal(0)
    assert(len.intValue == 277)
    // registration: numeric JSON value stringified (VARCHAR staging col)
    val reg = df.filter(col("event_id") === 1).select("registration").head.getString(0)
    assert(reg == "1540919166796")
  }

  test("S1 events load: gender truncated to 1 char (VARCHAR(1), sql_queries.py:83)") {
    val path = tmpJson("events_gender.json", Seq(
      """{"event_id":1,"gender":"Female","sessionId":1,"ts":1541105830796}""",
      """{"event_id":2,"gender":"M","sessionId":2,"ts":1541105830797}""",
      """{"event_id":3,"sessionId":3,"ts":1541105830798}"""))
    val g = Ingest.readEventsJson(spark, path)
      .select("event_id", "gender").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(g(1L) == "F")
    assert(g(2L) == "M")
    assert(g(3L) == null) // NULL passes through untruncated
  }

  test("S2 songs load: 'auto' name matching + DECIMAL load-casts") {
    val path = tmpJson("songs.json", Seq(
      """{"num_songs":1,"artist_id":"AR1","artist_latitude":35.64957,"artist_longitude":-120.6998,"artist_name":"N","song_id":"SO1","title":"T","duration":218.93179,"year":2004}""",
      """{"num_songs":1,"artist_id":"AR2","artist_name":"M","song_id":"SO2","title":"U","duration":150.5,"year":0}"""))
    val df = readSongsJson(path)
    assert(df.count() == 2)
    val r1 = df.filter(col("song_id") === "SO1")
      .select("duration", "artist_latitude", "artist_longitude").head
    assert(r1.getDecimal(0).intValue == 219)  // 218.93179 → 219
    assert(r1.getDecimal(1).intValue == 36)   // 35.64957 → 36
    assert(r1.getDecimal(2).intValue == -121) // -120.6998 → -121 (half away from zero)
    // missing fields are null ('auto' matching)
    assert(df.filter(col("song_id") === "SO2").select("artist_latitude").head.isNullAt(0))
  }

  test("jsonpaths manifest: positional mapping to target columns, typed read, renames") {
    // Shaped like the reference's log_json_path.json (S3 LOG_JSONPATH):
    // camelCase source fields, positionally mapped to snake_case staging
    // columns — the case by-name matching cannot handle.
    val manifest =
      """{"jsonpaths": ["$['artist']", "$.firstName", "$['sessionId']", "$['ts']"]}"""
    val target = StructType(Seq(
      StructField("artist_name", StringType),
      StructField("first_name", StringType),
      StructField("session_id", IntegerType),
      StructField("ts", LongType)))
    val (readSchema, renames) = Ingest.jsonpathsMapping(manifest, target)
    assert(readSchema.fieldNames.toSeq == Seq("artist", "firstName", "sessionId", "ts"))
    assert(readSchema.fields.map(_.dataType).toSeq ==
      Seq(StringType, StringType, IntegerType, LongType))
    assert(renames == Seq("artist" -> "artist_name", "firstName" -> "first_name",
      "sessionId" -> "session_id", "ts" -> "ts"))

    val path = tmpJson("events_jp.json", Seq(
      """{"artist":"A","firstName":"Lily","sessionId":139,"ts":1541105830796,"extra":"ignored"}""",
      """{"artist":"B","sessionId":140,"ts":1541106106796}"""))
    val df = Ingest.readJsonViaJsonpaths(spark, path, manifest, target)
    assert(df.columns.toSeq == Seq("artist_name", "first_name", "session_id", "ts"))
    val rows = df.orderBy("session_id").collect()
    assert(rows(0).getString(0) == "A" && rows(0).getString(1) == "Lily" &&
      rows(0).getInt(2) == 139 && rows(0).getLong(3) == 1541105830796L)
    assert(rows(1).isNullAt(1), "missing source field reads as null")

    // count mismatch and nested paths are loud failures, not silent skew
    intercept[RuntimeException] {
      Ingest.jsonpathsMapping("""{"jsonpaths": ["$['a']"]}""", target)
    }
    intercept[RuntimeException] {
      Ingest.jsonpathsMapping(
        """{"jsonpaths": ["$['a']['b']", "$.b", "$.c", "$.d"]}""", target)
    }
  }

  test("jsonpaths: one source field may load into multiple columns (Redshift COPY allows it)") {
    // $['id'] twice: the read schema must deduplicate (a duplicate-name
    // schema fails the json read far from the manifest), and the positional
    // projection reads the field once, projects it twice.
    val manifest = """{"jsonpaths": ["$['id']", "$['id']", "$.name"]}"""
    val target = StructType(Seq(
      StructField("id_a", LongType),
      StructField("id_b", LongType),
      StructField("name", StringType)))
    val (readSchema, renames) = Ingest.jsonpathsMapping(manifest, target)
    assert(readSchema.fieldNames.toSeq == Seq("id", "name"),
      "read schema must carry each source field once")
    assert(renames == Seq("id" -> "id_a", "id" -> "id_b", "name" -> "name"))
    val path = tmpJson("events_dup.json", Seq("""{"id":7,"name":"x"}"""))
    val df = Ingest.readJsonViaJsonpaths(spark, path, manifest, target)
    assert(df.columns.toSeq == Seq("id_a", "id_b", "name"))
    val r = df.collect()(0)
    assert(r.getLong(0) == 7L && r.getLong(1) == 7L && r.getString(2) == "x")
    // the same field demanded at two DIFFERENT types has no single parse
    // type — loud manifest error, not a downstream AnalysisException
    val conflicting = StructType(Seq(
      StructField("id_a", LongType),
      StructField("id_b", StringType),
      StructField("name", StringType)))
    val e = intercept[IllegalArgumentException] {
      Ingest.jsonpathsMapping(manifest, conflicting)
    }
    assert(e.getMessage.contains("different"), e.getMessage)
  }

  test("Layout: distkey repartition + sortkey sortWithinPartitions hold per partition") {
    val li = graft.Tables.lineitem(spark, TestSpark.sf)
    val out = Layout.layout(li, Some("l_orderkey"), Some("l_shipdate"), partitions = 4)
    assert(out.rdd.getNumPartitions == 4)
    // each partition is sorted by the sortkey (ISO string order = time order)
    val unsorted = out.select(col("l_shipdate").cast("string")).rdd.mapPartitions { it =>
      val ts = it.map(_.getString(0)).toSeq
      Iterator.single(ts.zip(ts.drop(1)).count { case (a, b) => a > b })
    }.collect().sum
    assert(unsorted == 0)
  }
}
