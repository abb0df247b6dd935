package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Sessions defaults = the same
  * semantics Verify and Profile run with). */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local("4")
  val sf: String = "/root/testdata/sf0.001"

  private val scratch = new java.util.concurrent.ConcurrentLinkedQueue[Path]
  sys.addShutdownHook(scratch.forEach(streaming.StreamDirs.deleteRecursively(_)))

  /** A fresh scratch directory under `java.io.tmpdir`, deleted with
    * everything in it when the test JVM exits. Every spec's scratch
    * directory comes from here, so a test run leaves none behind. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    scratch.add(dir)
    dir
  }
}
