package graft.etl

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.col

/** The star schema, declared once (SURVEY.md §1.1, §4.2): each of the five
  * tables is one [[Table]] entry — the `sql_queries.py:64-118` CREATE TABLE
  * analog, carrying its columns (the row case class), its one DataFrame
  * lineage in [[StarEtl]], its physical keys and its presentation order.
  * [[StarPipeline]] writes from this list, [[StarCatalog]] declares from it,
  * and [[StarQueries]] / [[graft.SparkEntry]] present from it.
  *
  * Row fields the star NULL contract can leave NULL (StarQueries' scaladoc:
  * the builds KEEP NULL-keyed rows) are boxed; the source tables' primary
  * keys (event_id, p_partkey, s_suppkey) stay primitive.
  *
  * The fact id is nullable-by-spec: the reference inserts songplay_id as
  * NULL (PK with no IDENTITY, omitted from the INSERT column list,
  * sql_queries.py:141-150) — here the field simply doesn't exist on the
  * faithful fact row; [[withSurrogateIds]] is the documented fix, generating
  * partition-monotonic ids without any global coordination
  * (`monotonically_increasing_id`, safe at any scale).
  */
object StarSchema {

  final case class Songplay(
      start_time: java.sql.Timestamp,
      user_id: String,
      song_id: Long,
      session_id: String,
      user_agent: String)

  final case class User(user_id: java.lang.Long, level: String)
  // duration/latitude: DECIMAL(9,0) HALF_UP load-rounding applied, then
  // carried as (nullable) BIGINT — see StarEtl.songs/artists.
  final case class Song(song_id: Long, title: String, artist_id: String,
      year: java.lang.Integer, duration: java.lang.Long)
  final case class Artist(artist_id: Long, name: String, location: java.lang.Integer,
      latitude: java.lang.Long)
  final case class TimeRow(start_time: java.sql.Timestamp, hour: java.lang.Integer,
      day: java.lang.Integer, week: java.lang.Integer, month: java.lang.Integer,
      year: java.lang.Integer, weekday: java.lang.Integer)

  /** One star table. `distKey = None` is the reference's `diststyle all`;
    * `orderKeys` is the presentation ORDER BY the oracle compares in. */
  final case class Table[T <: Product: TypeTag](
      name: String,
      lineage: (SparkSession, String) => DataFrame,
      distKey: Option[String],
      sortKey: String,
      orderKeys: Seq[String]) {
    lazy val encoder: Encoder[T] = Encoders.product[T]

    /** The reference's physical hints, as the catalog records them. */
    def hints: String = distKey.fold("diststyle=all")(k => s"distkey=$k") + s", sortkey=$sortKey"

    def present(df: DataFrame): DataFrame = df.orderBy(orderKeys.map(col): _*)

    /** The lineage in presentation order — the oracle-facing frame. */
    def frame(spark: SparkSession, sfDir: String): DataFrame = present(lineage(spark, sfDir))

    def typed(spark: SparkSession, sfDir: String): Dataset[T] = frame(spark, sfDir).as(encoder)
  }

  val songplays = Table[Songplay]("songplays", StarEtl.songplays, Some("song_id"), "start_time",
    Seq("start_time", "user_id", "song_id", "session_id", "user_agent"))
  val users = Table[User]("users", StarEtl.users, None, "user_id", Seq("user_id", "level"))
  val songs = Table[Song]("songs", StarEtl.songs, Some("song_id"), "song_id", Seq("song_id"))
  val artists = Table[Artist]("artists", StarEtl.artists, None, "artist_id", Seq("artist_id"))
  val time = Table[TimeRow]("time", StarEtl.time, None, "start_time", Seq("start_time"))

  /** Insert order = sql_queries.py:227 (songplays first — legal because
    * constraints are unenforced, SURVEY §1.3). */
  val tables: Seq[Table[_ <: Product]] = Seq(songplays, users, songs, artists, time)

  /** Documented deviation (SURVEY §1.3): real surrogate fact ids. */
  def withSurrogateIds(spark: SparkSession, sfDir: String) = {
    import org.apache.spark.sql.functions.monotonically_increasing_id
    songplays.frame(spark, sfDir)
      .withColumn("songplay_id", monotonically_increasing_id())
  }
}
