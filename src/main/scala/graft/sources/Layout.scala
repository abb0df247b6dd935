package graft.sources

import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions.{count, lit}

/** Physical-layout helpers mirroring the reference's table hints
  * (SURVEY.md §4.2; /root/reference/sql_queries.py:40-117):
  *
  *  - DISTKEY / diststyle key  → `repartition(col)`: co-locates rows by key
  *    so downstream joins/aggs on that key avoid a shuffle.
  *  - SORTKEY                  → `sortWithinPartitions(col)`: parquet
  *    row-group min/max stats then give the zone-map range pruning Redshift
  *    gets from sorted blocks.
  *  - diststyle all            → `broadcast(df)` at join time (no storage
  *    action needed; see the broadcast() hints across graft.ops).
  *
  * At 100 TB the same two knobs become table layout policy: partition count
  * scales with cluster cores, and bucketed tables (`writeBucketed`) make
  * repeated equi-joins on the bucket key exchange-free on both sides.
  */
object Layout {

  /** Apply distkey/sortkey layout to a DataFrame before writing. */
  def layout(df: DataFrame, distKey: Option[String], sortKey: Option[String],
      partitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.functions.col
    val dist = distKey match {
      case Some(k) if partitions > 0 => df.repartition(partitions, col(k))
      case Some(k)                   => df.repartition(col(k))
      case None                      => df
    }
    sortKey.fold(dist)(k => dist.sortWithinPartitions(k))
  }

  /** S4 table sink: idempotent overwrite parquet write (the reference's
    * drop-create-insert cycle collapses to mode=overwrite). Returns the
    * rows written, counted by the write itself ([[countedWrite]]), the way
    * the reference's INSERT reports the rows it loaded. */
  def writeParquet(df: DataFrame, path: String,
      distKey: Option[String] = None, sortKey: Option[String] = None): Long =
    countedWrite(layout(df, distKey, sortKey))(_.write.mode(SaveMode.Overwrite).parquet(path))

  /** Hive-style partitioned write: the time/tenant pruning lever. A query
    * filtering on the partition column reads only matching directories —
    * at 100 TB that is the difference between scanning a day and scanning
    * the lake ("PartitionFilters" in the scan node; see LayoutPruningSpec).
    * Returns the rows written ([[countedWrite]]). */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Long =
    countedWrite(df)(_.write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(path))

  /** Runs `write` over `df` and returns the number of rows it wrote, with
    * no job beyond the write: a `count(1)` [[Observation]] sits on the
    * frame the writer consumes, above that frame's last exchange, so the
    * metric is collected in the write's result stage. The DAG scheduler
    * merges a result task's accumulators once per partition, so a retried
    * or speculative task cannot count its rows twice; an observation below
    * an exchange would run in a shuffle-map stage, which is counted again
    * when the stage is resubmitted. The count arrives through a query
    * listener, so the listener bus is drained first: a write that reports
    * no count fails here instead of waiting for one. */
  private def countedWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val written = Observation()
    write(df.observe(written, count(lit(1)).as("rows")))
    org.apache.spark.ProfileBus.drain(df.sparkSession.sparkContext)
    written.future.value match {
      case Some(scala.util.Success(row)) => row.getLong(0)
      case other => throw new IllegalStateException(s"write reported no row count: $other")
    }
  }

  /** Bucketed catalog table: both sides of a repeated join on `bucketCol`
    * read pre-shuffled. Requires a warehouse-backed catalog (saveAsTable). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int, sortCol: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).bucketBy(buckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).format("parquet").saveAsTable(table)
  }

  /** Morton (Z-order) value of two non-negative keys, `bits` bits each: bit
    * j of `a` lands at position 2j, bit j of `b` at 2j+1. A single SORTKEY
    * prunes one dimension; sorting/partitioning by the interleaved value
    * keeps BOTH dimensions clustered — a box predicate on (a, b) touches
    * only the quadtree cells it overlaps (the Delta/Iceberg OPTIMIZE ZORDER
    * layout, and the reason it exists). Pure integer bit math: unrolled
    * shift/mask sum, codegen'd, and exactly restatable in any engine. */
  def zorderValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      bits: Int = 16): org.apache.spark.sql.Column = {
    // bits = 32 would place b's top bit at position 63 (the BIGINT sign
    // bit, inverting the sort for half the domain) and bits > 32 wraps
    // shift amounts mod 64 into collisions — both silent corruptions of
    // the clustering this function promises.
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    import org.apache.spark.sql.functions.{shiftleft, shiftright}
    val (al, bl) = (a.cast("bigint"), b.cast("bigint"))
    (0 until bits).flatMap { j =>
      Seq(shiftleft(shiftright(al, j).bitwiseAND(lit(1L)), 2 * j),
        shiftleft(shiftright(bl, j).bitwiseAND(lit(1L)), 2 * j + 1))
    }.reduce(_ + _)
  }
}
