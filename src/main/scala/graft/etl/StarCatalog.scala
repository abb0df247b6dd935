package graft.etl

import org.apache.spark.sql.SparkSession

/** Catalog DDL for the star schema — the `sql_queries.py:15-118` +
  * `create_tables.py:13-27` analog: the reference declares every table with
  * explicit DROP/CREATE statements before loading; here the same surface is
  * ANSI `DROP TABLE IF EXISTS` / `CREATE TABLE ... USING PARQUET` through
  * the Spark catalog, generated from the [[StarSchema.tables]] declarations.
  *
  * The reference's physical hints don't exist as Spark DDL keywords, so they
  * are carried as TBLPROPERTIES documentation while the real layout is
  * applied at write time by [[graft.sources.Layout]] (distkey→repartition,
  * sortkey→sortWithinPartitions) — see SURVEY §4.2 for the mapping.
  *
  * Tables are EXTERNAL (LOCATION = the ELT output dir) so `reset` +
  * [[StarPipeline.run]] + `register` reproduces the reference's
  * drop → create → insert lifecycle without coupling the catalog to the
  * data files' lifetime.
  */
object StarCatalog {

  def dropStatements: Seq[String] =
    StarSchema.tables.map(t => s"DROP TABLE IF EXISTS ${t.name}")

  /** CREATE without LOCATION — managed-table form (round-trip tests). */
  def createStatements: Seq[String] = createStatements(None)

  /** CREATE with optional LOCATION per table (external over ELT output).
    * Columns come from the row case class's encoder schema, every one
    * declared nullable: the builds keep NULL-keyed rows (StarQueries). */
  def createStatements(locationFor: Option[String => String]): Seq[String] =
    StarSchema.tables.map { t =>
      val cols = t.encoder.schema.fields.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
      val loc = locationFor.map(f => s" LOCATION '${f(t.name)}'").getOrElse("")
      s"CREATE TABLE IF NOT EXISTS ${t.name} ($cols) USING PARQUET$loc " +
        s"TBLPROPERTIES ('graft.reference.hints' = '${t.hints}')"
    }

  /** create_tables.py:13-19 analog: drop everything. */
  def drop(spark: SparkSession): Unit = dropStatements.foreach(spark.sql(_))

  /** create_tables.py:21-27 analog: declare everything (managed form). */
  def create(spark: SparkSession): Unit = createStatements.foreach(spark.sql(_))

  /** The reference main's drop-then-create sequencing (create_tables.py:40-41). */
  def reset(spark: SparkSession): Unit = { drop(spark); create(spark) }

  /** Re-declare the tables as EXTERNAL over the ELT output directories, so
    * `spark.table("songplays")` etc. serve the loaded data. */
  def register(spark: SparkSession, outDir: String): Unit = {
    drop(spark)
    createStatements(Some((name: String) => s"$outDir/$name")).foreach(spark.sql(_))
  }
}
