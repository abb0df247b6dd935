package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dedup.Dedup
import graft.etl.{StarQueries, StarSchema}
import graft.mm.Multimodal
import graft.ops.{Analytics, Relational}
import graft.sim.Similarity
import graft.streaming.EventsStream
import graft.text.TextStats

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] has a DuckDB-equivalent SQL string in
  * [[oracleSql]] (same column names, same explicit ORDER BY) unless the
  * operator is not SQL-expressible, in which case the driver records a
  * weaker rows-only check.
  */
object SparkEntry {

  private def allDefs: Seq[QueryDef] =
    StarQueries.defs ++ Relational.defs ++ Analytics.defs ++ TextStats.defs ++
      Dedup.defs ++ Similarity.defs ++ Multimodal.defs ++ EventsStream.defs ++
      graft.streaming.DocsStream.defs ++ graft.streaming.EmbedStream.defs ++
      graft.sources.Ingest.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    StarSchema.songplays.frame(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryDef.queryMap(allDefs)

  /** DuckDB equivalents over the same parquet tables (plain table names). */
  def oracleSql: Map[String, String] =
    QueryDef.oracleMap(allDefs)
}
