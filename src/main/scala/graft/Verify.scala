package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: regex over query names (dev loop; driver passes 2).
    val nameFilter = args.lift(2).map(_.r)
    val cpus = Sessions.defaultCpus
    val spark = Sessions.local(cpus)
    new java.io.File(outDir).mkdirs()
    // A query whose constructor or execution throws must still leave a
    // visible trace: r10 showed that silently-absent outputs shrink the
    // driver's correctness matrix (21 broken queries simply vanished from
    // CORRECTNESS_r10.json). Collect failures and dump them as
    // errors.json alongside oracle_sql.json so every registered query is
    // accounted for in the round's artifacts.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => nameFilter.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // NonFatal only: an OOM/StackOverflow wrecks the session, and
        // continuing would attribute dozens of cascading bogus failures to
        // healthy queries — the run must abort at the root cause.
        catch { case scala.util.control.NonFatal(e) =>
          val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)
          errors(name) = msg
          System.err.println(s"[verify] $name failed: $msg")
        }
      }
    // Oracle SQL and error messages can hold tabs or CRs; unescaped, they
    // would make tools/local_check.py's json.load fail and lose the whole
    // oracle comparison.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Jnum.str(k)}: ${Jnum.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${Jnum.str(k)}: ${Jnum.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries failed (see errors.json)")
    spark.stop()
  }
}
