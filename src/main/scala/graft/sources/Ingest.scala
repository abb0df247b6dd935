package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S1/S2 ingestion: the reference's two COPY paths re-expressed as schema'd
  * JSON reads (reference: /root/reference/sql_queries.py:122-136).
  *
  *  - S1 `COPY staging_events ... format as json <jsonpaths>`: an explicit
  *    field→column mapping manifest. Spark equivalent: an explicit
  *    `StructType` — fields are matched by name, missing fields are null,
  *    and the declared types drive parse-time coercion.
  *  - S2 `COPY staging_songs ... format as json 'auto'`: name matching,
  *    which is Spark's default behavior with a declared schema. The star
  *    build reads song metadata from the `part` fixture, so the S2 JSON
  *    load has no production caller; `IngestSpec` holds it and pins it.
  *  - `STATUPDATE ON` (S3): planner stats during load — AQE's runtime stats
  *    play that role (Sessions enables AQE).
  *
  * Load-time semantics preserved (SURVEY.md §1.2): DECIMAL(9,0) columns are
  * rounded at load (`length`, `duration`, lat/long — the J1 join therefore
  * compares rounded values), `registration` is stringified, and the two
  * staging NOT NULLs are *validated* (Spark does not enforce nullable=false
  * on read, so a filter drops violating rows the way a Redshift COPY would
  * reject them).
  *
  * At scale: `spark.read.json` with an explicit schema is a single
  * distributed pass (no schema-inference pre-pass), splittable per file —
  * the S3A analog of COPY's slice parallelism.
  */
object Ingest {

  private val dec9 = DecimalType(9, 0)

  /** staging_events (sql_queries.py:26-46). `length` declared DOUBLE here
    * and cast after read: parsing straight to DECIMAL(9,0) would round, but
    * making the cast explicit keeps the load-rounding in one visible place. */
  val eventsStagingSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("artist", StringType),
    StructField("auth", StringType),
    StructField("firstName", StringType),
    StructField("gender", StringType),
    StructField("itemInSession", IntegerType),
    StructField("lastName", StringType),
    StructField("length", DoubleType),
    StructField("level", StringType),
    StructField("location", StringType),
    StructField("method", StringType),
    StructField("page", StringType),
    StructField("registration", StringType), // numeric in source, stringified (:39)
    StructField("sessionId", IntegerType, nullable = false),
    StructField("song", StringType),
    StructField("status", IntegerType),
    StructField("ts", LongType, nullable = false),
    StructField("userAgent", StringType),
    StructField("userId", IntegerType)))

  /** S1: events log load — explicit mapping, DECIMAL load-cast, NOT NULL
    * validation on (sessionId, ts), and the VARCHAR(1) truncation the
    * star schema declares on gender (sql_queries.py:83): Redshift silently
    * truncates on insert, so the load applies `substring(gender, 1, 1)`. */
  def readEventsJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(eventsStagingSchema).json(path)
      .withColumn("length", col("length").cast(dec9))
      .withColumn("gender", substring(col("gender"), 1, 1))
      .filter(col("sessionId").isNotNull && col("ts").isNotNull)

  /** Redshift jsonpaths manifest → (read schema, source→target renames).
    *
    * The one COPY option that previously had no executable analog: the
    * reference's S1 COPY names a jsonpaths file (sql_queries.py:125 via
    * dwh.cfg [S3] LOG_JSONPATH) whose i-th `"$['field']"` entry maps the
    * source field to the i-th column of the TARGET table — a positional
    * contract, unlike Spark's by-name matching. This translates the
    * manifest into (a) the `StructType` to hand `spark.read.json` — fields
    * named by the SOURCE leaf in manifest order, typed by the corresponding
    * target column, so the read stays a single schema'd distributed pass —
    * and (b) the rename list that restores the target column names.
    *
    * Both `$['field']` and `$.field` forms parse (the two Redshift spells);
    * nested paths are rejected — the reference's log_json_path.json is flat,
    * and a nested mapping has no by-position analog in a flat staging table.
    */
  def jsonpathsMapping(manifestJson: String,
      target: StructType): (StructType, Seq[(String, String)]) = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(manifestJson)
    val arr = root.get("jsonpaths")
    require(arr != null && arr.isArray, "manifest must have a jsonpaths array")
    val Bracket = """\$\[['"]([^'"\[\]]+)['"]\]""".r
    val Dotted = """\$\.([A-Za-z0-9_]+)""".r
    val sources = (0 until arr.size).map { i =>
      arr.get(i).asText match {
        case Bracket(f) => f
        case Dotted(f)  => f
        case p => sys.error(s"unsupported jsonpath '$p' (flat $$['field'] / $$.field only)")
      }
    }
    require(sources.size == target.fields.length,
      s"jsonpaths has ${sources.size} entries but target has ${target.fields.length} columns " +
        "(COPY maps them positionally)")
    // Redshift COPY accepts the SAME source field in multiple jsonpaths
    // entries (loading one field into two columns), so the read schema is
    // deduplicated by source field — a naive per-entry schema would carry
    // duplicate names and fail the json read far from the manifest with an
    // unexplained duplicate-column error. A field loaded into columns of
    // DIFFERENT types has no single read type; reject that loudly here.
    val fieldType = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    sources.zip(target.fields).foreach { case (src, tf) =>
      fieldType.get(src) match {
        case Some(prev) =>
          require(prev.dataType == tf.dataType,
            s"jsonpaths maps source field '$src' to columns of different " +
              s"types (${prev.dataType.simpleString} vs ${tf.dataType.simpleString}) " +
              "— one JSON field has one parse type")
        case None =>
          fieldType(src) = StructField(src, tf.dataType, tf.nullable)
      }
    }
    val readSchema = StructType(fieldType.values.toSeq)
    (readSchema, sources.zip(target.fields.map(_.name)))
  }

  /** S1 via an actual jsonpaths manifest: schema'd single-pass read of the
    * (deduplicated) source fields, then ONE positional projection to the
    * target columns — `col(src).as(tgt)` per manifest entry, so a source
    * field mapped to two columns is read once and projected twice, and a
    * mapping where a source field name equals a DIFFERENT target column's
    * name (e.g. swapped ids) cannot cross-contaminate the way one-at-a-time
    * renames would. */
  def readJsonViaJsonpaths(spark: SparkSession, dataPath: String,
      manifestJson: String, target: StructType): DataFrame = {
    val (readSchema, mapping) = jsonpathsMapping(manifestJson, target)
    spark.read.schema(readSchema).json(dataPath)
      .select(mapping.map { case (src, tgt) =>
        org.apache.spark.sql.functions.col(src).as(tgt)
      }: _*)
  }

  /** Deterministic staging dir holding a JSON-serialized copy of the fixture
    * events table — the landing-zone shape the reference's S1 COPY actually
    * reads (newline-delimited JSON objects). Published through the
    * [[graft.Artifacts]] store discipline (round 15 — previously a
    * hand-rolled weaker copy: top-level-only content signature, an
    * in-place `mode(overwrite)` write two concurrent JVMs could interleave
    * into a corrupt-but-`_SUCCESS`-carrying cache, and a dir name the
    * janitor never swept), so it is content-keyed against fixture
    * rewrites, built under a lock + atomic rename, and [[graft.Artifacts
    * .gc]]-reclaimable like every other artifact. The format tag in the
    * NAME versions the STAGED representation (ts as BIGINT nanos):
    * bumping it retires dirs written under an older serialization even
    * when the fixture bytes did not change (as when Tables.events gained
    * ts normalization — same parquet mtimes, different JSON payload). */
  def stagedEventsJson(spark: SparkSession, sfDir: String): String =
    graft.Artifacts.publishedDirPath("events_json_ts_ns_v2",
        graft.Artifacts.tableSig(sfDir, "events")) { tmp =>
      graft.Tables.events(spark, sfDir).write.mode("overwrite").json(tmp)
    }

  /** Manifest for [[eventsFixtureTarget]], mixing both Redshift jsonpath
    * spellings; entry order follows the TARGET columns (the positional COPY
    * contract), and every target column is RENAMED from its source field so
    * a by-name fallback would produce all-null columns and fail the oracle. */
  val eventsFixtureManifest: String =
    """{"jsonpaths": ["$['event_id']", "$['ts']", "$.user_id",
      |               "$.event_type", "$['value']", "$.props"]}""".stripMargin

  val eventsFixtureTarget: StructType = StructType(Seq(
    StructField("evt_id", LongType),
    StructField("ts_ns", LongType),
    StructField("uid", LongType),
    StructField("etype", StringType),
    StructField("val", DoubleType),
    StructField("props_json", StringType)))

  /** The reference's PRIMARY entry point — a jsonpaths COPY of JSON logs —
    * end to end under the oracle: serialize the fixture events to
    * newline-delimited JSON, read them back through the manifest mapping,
    * and require the result to hash-match DuckDB reading the original
    * parquet. Proves the whole chain (JSON round-trip, schema'd single-pass
    * read, positional rename) is lossless, at any fixture scale. */
  val defs: Seq[graft.QueryDef] = Seq(
    graft.QueryDef(
      "s1_scan_events_json",
      (s, d) => {
        val json = stagedEventsJson(s, d)
        val read = readJsonViaJsonpaths(s, json, eventsFixtureManifest,
          eventsFixtureTarget)
        // Serialization-drift guard, NULL-tolerant since round 19: a
        // schema'd JSON read nulls unparseable fields silently (an ISO
        // string under the LongType ts_ns schema) — schema_match would stay
        // true while every ms diverged — so the query must fail loudly on
        // drift. But a LEGITIMATE NULL ts round-trips as an omitted JSON
        // field and reads back null too, so a per-row null test cannot tell
        // the two apart (the old guard raised on any NULL-ts corpus row).
        // Drift nulls EVERY row; source nulls only their own. The guard is
        // therefore corpus-level — zero parseable ts_ns over a non-empty
        // read — attached as a broadcast 1-row scalar (the an_histogram
        // cross-join discipline; one extra aggregate scan of the staged
        // JSON, still scan-parallel). A corpus with literally no
        // timestamped event is indistinguishable from drift and fails
        // loudly too, by design.
        val chk = read.agg(count(col("ts_ns")).as("n_ts"),
          count(lit(1)).as("n_rows"))
        read.crossJoin(broadcast(chk))
          .select(col("evt_id"),
            when(col("n_rows") > 0 && col("n_ts") === 0,
                raise_error(lit("staged events JSON: every ts_ns read null — " +
                  "serialized type drifted from BIGINT nanos")).cast(LongType))
              .otherwise(graft.EpochTime.Ms.of(col("ts_ns"))).as("ms"),
            col("uid"), col("etype"), col("val"), col("props_json"))
          .orderBy("evt_id")
      },
      Some(s"""SELECT event_id AS evt_id, ${graft.EpochTime.Ms.sql("ts")} AS ms, user_id AS uid,
             |       event_type AS etype, value AS val, props AS props_json
             |FROM events ORDER BY evt_id""".stripMargin)))
}
