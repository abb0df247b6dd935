package graft.streaming

/** Temp-dir lifecycle for the streaming monitors that round-trip a
  * micro-batch result through a process-local parquet dir (the
  * fresh-attribute-ids discipline — see EventsStream.runCountsMonitor).
  * ONE owner for the recursive delete: EventsStream and EmbedStream each
  * carried a private copy, and only EmbedStream's closed the
  * `Files.walk` stream — the unclosed copy leaked a directory fd per
  * monitor run until GC (round-17 review finding; a long-lived driver
  * cycling monitors eventually hits EMFILE). */
/** The ONE complete-mode / memory-sink / AvailableNow lifecycle behind
  * every registered streaming monitor that returns its final result table
  * (round 17: eight near-identical restatements across DocsStream and
  * EventsStream meant a sink or trigger retune had to be applied in eight
  * places — DocsStream.runScreenStream had already been factored for
  * exactly that reason, but only for the two screens).
  *
  * Scale note, stated once here instead of wrongly per-monitor: COMPLETE
  * mode never evicts aggregation state (Spark must preserve the full
  * result table), so a watermark on these frames would be INERT — the
  * true state bound is the GROUP CARDINALITY (O(cells): hours×types,
  * day×type grids, verdict pairs — the same O(cells) argument every
  * monitor's own scaladoc makes), which is why these monitors are safe in
  * complete mode at 100 TB while anything with per-event state (the
  * sessionizer) uses append mode + a real watermark. A production
  * deployment that wants time-horizon eviction switches to update mode
  * with a keyed upsert sink (the EmbedStream.runUpsertStream shape); the
  * registered memory-sink form IS the published O(cells) table. */
private[streaming] object StreamRuns {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions.col
  import org.apache.spark.sql.streaming.Trigger

  def completeToMemory(spark: SparkSession, frame: DataFrame,
      queryName: String, orderCols: Seq[String]): DataFrame = {
    val q = frame.writeStream.outputMode("complete").format("memory")
      .queryName(queryName).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(queryName).orderBy(orderCols.map(col): _*)
  }
}

private[graft] object StreamDirs {

  def deleteRecursively(root: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(root)) {
      // Files.walk is backed by open DirectoryStreams — close it.
      val it = Files.walk(root).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      try it.forEach(p => Files.deleteIfExists(p))
      finally it.close()
    }
  }

  /** Run `body` against a fresh temp dir and delete the dir on EVERY exit
    * path: a streaming query that dies mid-run (bad landing file, type
    * flip — the documented loud-failure paths) must not orphan its temp
    * parquet (round-17 review finding — the failure path re-exhibited the
    * leak the success path had already fixed). `body` must materialize its
    * result (localCheckpoint) before returning, since the dir is gone
    * afterwards. */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally deleteRecursively(dir)
  }
}
