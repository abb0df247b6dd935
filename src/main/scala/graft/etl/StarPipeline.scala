package graft.etl

import org.apache.spark.sql.SparkSession

import graft.sources.Layout

/** End-to-end ELT runner — the `etl.py` + `create_tables.py` analog
  * (/root/reference/etl.py:37-43, create_tables.py:40-41).
  *
  * The reference's lifecycle (drop → create → stage → insert, one commit per
  * statement) collapses to: build each star table's DataFrame lineage and
  * write it with mode=overwrite (idempotent reset ≙ DROP IF EXISTS +
  * CREATE + INSERT), in the insert order [[StarSchema.tables]] declares.
  *
  * Each write carries the reference's physical layout mapped to Spark
  * (SURVEY §4.2): distkey→repartition, sortkey→sortWithinPartitions;
  * diststyle-all dims are small and land as single sorted files so later
  * reads broadcast them. The lineages are unsorted: a presentation ORDER BY
  * would be a presentation exchange + global sort the layout discards.
  *
  * Each [[TableResult]]'s row count comes from the load itself, as the
  * reference's COPY/INSERT report the rows they loaded:
  * [[graft.sources.Layout.writeParquet]] returns the rows it wrote, so no
  * table is read back to be counted.
  */
object StarPipeline {

  final case class TableResult(name: String, rows: Long, path: String)

  /** Writes every [[StarSchema.tables]] entry, in its insert order, with
    * the table's own distkey and sortkey. */
  def run(spark: SparkSession, sfDir: String, outDir: String): Seq[TableResult] =
    StarSchema.tables.map { t =>
      val path = s"$outDir/${t.name}"
      TableResult(t.name,
        Layout.writeParquet(t.lineage(spark, sfDir), path, t.distKey, Some(t.sortKey)), path)
    }
}
