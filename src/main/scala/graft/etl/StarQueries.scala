package graft.etl

import graft.{EpochTime, QueryDef}

/** Driver-facing registrations for the star-schema ETL (StarEtl) with their
  * DuckDB oracles. The two `*_fixed` entries are the documented deviations
  * from the reference's preserved bugs (SURVEY.md §2.4 A2, §2.6 E7).
  *
  * NULL-EVENT CONTRACT (star half): the reference loads NULL staging
  * fields verbatim (nothing in sql_queries.py filters them), so the builds
  * KEEP rows with NULL keys — a NULL-ts view row becomes a NULL start_time
  * in songplays/time, a NULL-props row a NULL level/user_agent. The only
  * thing to pin is presentation order: Spark sorts NULLs FIRST ascending,
  * DuckDB LAST, so every nullable ORDER BY key carries NULLS FIRST in the
  * oracle (matching Spark's default).
  */
object StarQueries {
  /** The oracle's staged view events (the [[StarEtl.stagingEvents]] analog). */
  private val SeCte = s"se AS (SELECT *, ${EpochTime.Ms.sql("ts")} AS ms FROM events WHERE event_type = 'view')"

  /** [[StarEtl.songDim]]'s oracle: the DECIMAL(9,0)-rounded purchase dim. */
  private val DimCte =
    """dim AS (SELECT user_id AS d_user, TRY_CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(9,0)) AS d_value,
      |               MIN(event_id) AS song_id
      |        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)""".stripMargin

  /** The songplays build over `se` and `dim`. */
  private val SongplaysSelect =
    s"""SELECT DISTINCT make_timestamp(${EpochTime.floorDivSql("se.ms", EpochTime.Second.ms)} * 1000000) AS start_time,
      |       CAST(se.user_id AS VARCHAR) AS user_id, dim.song_id,
      |       CAST(se.event_id AS VARCHAR) AS session_id, se.props AS user_agent
      |FROM se JOIN dim ON se.user_id = dim.d_user
      |                AND TRY_CAST(CASE WHEN isfinite(se.value) THEN se.value END AS DECIMAL(9,0)) = dim.d_value""".stripMargin

  /** Indents every line after the first by `n` spaces, so a shared CTE
    * lines up where it is interpolated (whitespace only). */
  private def indentTail(sql: String, n: Int): String = sql.linesIterator.mkString("\n" + " " * n)

  /** `songplays` as a CTE, for the demo analytics over the fact. */
  private val SongplaysCtes =
    s"WITH $SeCte,\n$DimCte,\nsongplays AS (\n  ${indentTail(SongplaysSelect, 2)})"

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "songplays_build",
      StarSchema.songplays.frame,
      Some(s"""WITH $SeCte,
             |$DimCte
             |$SongplaysSelect
             |ORDER BY start_time NULLS FIRST, user_id, song_id, session_id,
             |         user_agent NULLS FIRST""".stripMargin)),
    QueryDef(
      "users_build",
      StarSchema.users.frame,
      Some("""SELECT DISTINCT user_id, json_extract_string(props, '$.k') AS level
             |FROM events WHERE event_type = 'view'
             |ORDER BY user_id NULLS FIRST, level NULLS FIRST""".stripMargin)),
    QueryDef(
      "users_fixed",
      (s, d) => StarEtl.usersFixed(s, d),
      Some(s"""SELECT user_id, level FROM (
             |  SELECT user_id, json_extract_string(props, '$$.k') AS level,
             |         row_number() OVER (PARTITION BY user_id
             |                            ORDER BY ${EpochTime.Ms.sql("ts")} DESC, event_id DESC) AS rn
             |  FROM events WHERE event_type = 'view')
             |WHERE rn = 1 ORDER BY user_id NULLS FIRST""".stripMargin)),
    QueryDef(
      "songs_build",
      StarSchema.songs.frame,
      Some("""SELECT DISTINCT p_partkey AS song_id, p_name AS title, p_brand AS artist_id,
             |       p_size AS year, CAST(TRY_CAST(CASE WHEN isfinite(p_retailprice) THEN p_retailprice END AS DECIMAL(9,0)) AS BIGINT) AS duration
             |FROM part ORDER BY song_id""".stripMargin)),
    QueryDef(
      "artists_build",
      StarSchema.artists.frame,
      Some("""SELECT DISTINCT s_suppkey AS artist_id, s_name AS name,
             |       s_nationkey AS location, CAST(TRY_CAST(CASE WHEN isfinite(s_acctbal) THEN s_acctbal END AS DECIMAL(9,0)) AS BIGINT) AS latitude
             |FROM supplier ORDER BY artist_id""".stripMargin)),
    QueryDef(
      "time_build",
      StarSchema.time.frame,
      Some(s"""WITH t AS (SELECT DISTINCT ${EpochTime.secondStartSql("ts")} AS start_time
             |           FROM events WHERE event_type = 'view')
             |SELECT start_time,
             |       CAST(hour(start_time) AS INTEGER) AS hour,
             |       CAST(day(start_time) AS INTEGER) AS day,
             |       CAST(weekofyear(start_time) AS INTEGER) AS week,
             |       CAST(month(start_time) AS INTEGER) AS month,
             |       CAST(year(start_time) AS INTEGER) AS year,
             |       CAST(weekofyear(start_time) AS INTEGER) AS weekday
             |FROM t ORDER BY start_time NULLS FIRST""".stripMargin)),
    QueryDef(
      "time_fixed",
      (s, d) => StarSchema.time.present(StarEtl.timeFixed(s, d)),
      Some(s"""WITH t AS (SELECT DISTINCT ${EpochTime.secondStartSql("ts")} AS start_time
             |           FROM events WHERE event_type = 'view')
             |SELECT start_time,
             |       CAST(hour(start_time) AS INTEGER) AS hour,
             |       CAST(day(start_time) AS INTEGER) AS day,
             |       CAST(weekofyear(start_time) AS INTEGER) AS week,
             |       CAST(month(start_time) AS INTEGER) AS month,
             |       CAST(year(start_time) AS INTEGER) AS year,
             |       CAST(isodow(start_time) - 1 AS INTEGER) AS weekday
             |FROM t ORDER BY start_time NULLS FIRST""".stripMargin)),
    /** Demo analytics over the built star schema (SURVEY §2.5: the
      * "queries given to you by the analytics team" the reference README
      * alludes to but never ships): top songs by play count. */
    QueryDef(
      "demo_top_songs",
      (s, d) => {
        import org.apache.spark.sql.functions._
        StarSchema.songplays.frame(s, d)
          .groupBy(col("song_id"))
          .agg(count(lit(1)).as("n_plays"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("n_plays").desc, col("song_id").asc)
          .limit(10)
      },
      Some(s"""$SongplaysCtes
             |SELECT song_id, COUNT(*) AS n_plays, COUNT(DISTINCT user_id) AS n_users
             |FROM songplays GROUP BY song_id
             |ORDER BY n_plays DESC, song_id ASC LIMIT 10""".stripMargin)),

    /** Demo analytics: plays per hour-of-day over the star time dim. */
    QueryDef(
      "demo_plays_per_hour",
      (s, d) => {
        import org.apache.spark.sql.functions._
        StarSchema.songplays.frame(s, d)
          .select(hour(col("start_time")).as("hour"))
          .groupBy(col("hour"))
          .agg(count(lit(1)).as("n_plays"))
          .orderBy("hour")
      },
      Some(s"""$SongplaysCtes
             |SELECT CAST(hour(start_time) AS INTEGER) AS hour, COUNT(*) AS n_plays
             |FROM songplays GROUP BY hour ORDER BY hour NULLS FIRST""".stripMargin)),

    QueryDef(
      "j1_rounded_join",
      (s, d) => {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.types.DecimalType
        val se  = StarEtl.stagingEvents(s, d).filter(col("event_type") === "view")
        val dim = StarEtl.songDim(s, d)
        se.join(broadcast(dim),
            se("user_id") === dim("d_user") &&
              se("value").cast(DecimalType(9, 0)) === dim("d_value"), "inner")
          .select(se("event_id"), dim("song_id"))
          .orderBy("event_id", "song_id")
      },
      Some(s"""WITH ${indentTail(DimCte, 5)}
             |SELECT e.event_id, dim.song_id
             |FROM events e JOIN dim ON e.user_id = dim.d_user
             |                      AND TRY_CAST(CASE WHEN isfinite(e.value) THEN e.value END AS DECIMAL(9,0)) = dim.d_value
             |WHERE e.event_type = 'view'
             |ORDER BY event_id, song_id""".stripMargin)),
  )
}
