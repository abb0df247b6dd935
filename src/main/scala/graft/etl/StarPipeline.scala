package graft.etl

import org.apache.spark.sql.SparkSession

import graft.sources.Layout

/** End-to-end ELT runner — the `etl.py` + `create_tables.py` analog
  * (/root/reference/etl.py:37-43, create_tables.py:40-41).
  *
  * The reference's lifecycle (drop → create → stage → insert, one commit per
  * statement) collapses to: build each star table's DataFrame lineage and
  * write it with mode=overwrite (idempotent reset ≙ DROP IF EXISTS +
  * CREATE + INSERT). Write order matches the reference's insert order
  * (songplays first — legal because constraints are unenforced, SURVEY §1.3).
  *
  * Each write carries the reference's physical layout mapped to Spark
  * (SURVEY §4.2): fact distkey→repartition on song_id, sortkey→
  * sortWithinPartitions on start_time; dims are small and land as single
  * sorted files so later reads broadcast them.
  */
object StarPipeline {

  final case class TableResult(name: String, rows: Long, path: String)

  def run(spark: SparkSession, sfDir: String, outDir: String): Seq[TableResult] = {
    val tables = Seq(
      // (name, df, distKey, sortKey) — insert order = sql_queries.py:227
      // Unsorted lineages on purpose: Layout.writeParquet repartitions by
      // the distkey and sortWithinPartitions anyway, so the oracle-facing
      // builders' global orderBy would be a discarded presentation exchange
      // + global sort.
      ("songplays", StarEtl.songplaysUnsorted(spark, sfDir), Some("song_id"), Some("start_time")),
      ("users",     StarEtl.usersUnsorted(spark, sfDir),     None,            Some("user_id")),
      ("songs",     StarEtl.songsUnsorted(spark, sfDir),     Some("song_id"), Some("song_id")),
      ("artists",   StarEtl.artistsUnsorted(spark, sfDir),   None,            Some("artist_id")),
      ("time",      StarEtl.timeUnsorted(spark, sfDir),      None,            Some("start_time")))
    tables.map { case (name, df, dist, sort) =>
      val path = s"$outDir/$name"
      Layout.writeParquet(df, path, dist, sort)
      TableResult(name, spark.read.parquet(path).count(), path)
    }
  }
}
