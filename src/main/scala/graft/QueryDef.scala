package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query: a Spark DataFrame program plus (when the operator is
  * SQL-expressible) a DuckDB-equivalent oracle over the same parquet tables.
  * Column names and ORDER BY must agree between the two (driver contract).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

object QueryDef {
  /** Aggregate a module list into the SparkEntry maps. A duplicate name
    * across modules must be LOUD: toMap's last-wins would silently drop
    * the earlier query from BOTH the profiler and the correctness matrix —
    * the silently-shrinking-matrix failure mode the r10 Verify hardening
    * (errors.json) exists to prevent. */
  def queryMap(defs: Seq[QueryDef]): Map[String, (SparkSession, String) => DataFrame] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names across modules: ${dups.mkString(", ")}")
    defs.map(d => d.name -> d.fn).toMap
  }

  def oracleMap(defs: Seq[QueryDef]): Map[String, String] =
    defs.flatMap(d => d.oracle.map(d.name -> _)).toMap
}

/** Formatting for MACHINE-PARSED output (the GRAFT_PIPELINE and
  * GRAFT_PROFILE records, Verify's oracle_sql.json and errors.json). */
object Jnum {
  /** Locale-fixed: Scala's f"" interpolator formats through the JVM default
    * locale, so a comma-decimal host (LANG=de_DE and friends) would emit
    * `"value":76,206` — invalid JSON that silently drops the record from
    * tools/scaling.py's parse. Human-facing stderr lines keep the plain
    * interpolator. */
  def f(v: Double, decimals: Int): String =
    String.format(java.util.Locale.ROOT, "%." + decimals + "f", Double.box(v))

  /** A JSON string literal: quote, backslash and every char below 0x20
    * escaped, so a tab or newline in a path or in oracle SQL cannot break
    * the line a parser reads. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
