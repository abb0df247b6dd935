package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Streaming ANN-index operations: arriving vectors probed against the
  * TRAINED serving index without retraining — the operational property IVF
  * buys (centroids are a snapshot artifact; new traffic only needs the
  * narrow nearest-cell map). The monitored product is CELL DRIFT: when the
  * arriving traffic's cell distribution diverges from the indexed corpus's,
  * the index is stale (corpus drift) and retraining is due — the ANN
  * analog of the st_drift shard monitor, watched continuously in any
  * production vector pipeline.
  */
object EmbedStream {

  /** Streaming-source schema for the embeddings fixture parquet. */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** STREAM-LEGAL nearest-cell assignment: a per-row fold over the literal
    * centroid table (K entries — model-sized, shipped in the plan like any
    * broadcast model). The batch path's row_number window
    * (Similarity.nearest) is illegal on a stream; this fold computes the
    * same answer — `round(cos, 6)` maximized, ties to the LOWEST cid —
    * because centroids fold in ascending-cid order and only a strictly
    * greater cosine replaces the running best (EmbedStreamSpec pins the
    * tie case and stream≡batch on the fixture). */
  def cellExpr(s: SparkSession, cents: Seq[(Int, Seq[Double])], v: Column): Column = {
    val centsLit = typedLit(cents.sortBy(_._1))
    val init = struct(lit(-2.0).as("best"), lit(-1).as("cid"))
    aggregate(centsLit, init, (acc, c) => {
      val c6 = round(call_function("cosine_sim", c.getField("_2"), v), 6)
      when(c6 > acc.getField("best"),
        struct(c6.as("best"), c.getField("_1").as("cid"))).otherwise(acc)
    }).getField("cid")
  }

  /** INDEX UPSERT as an incremental stream — the maintenance leg of the ANN
    * lifecycle (build: sim_ivf_assign; serve: sim_ann_ivf; monitor:
    * st_cell_drift; maintain: here). Arriving vectors are assigned to their
    * nearest TRAINED cell with the stream-legal fold (no retrain, no
    * streaming state — the assignment is a narrow per-row map) and appended
    * to a parquet DELTA LOG stamped with the micro-batch sequence;
    * compaction keeps the max-sequence row per vec_id — the same
    * latest-wins upsert-by-key discipline as the sessionizer's emission
    * protocol (EventsStream.compactSessions). At 100 TB the log is the
    * index's write-ahead delta partition and compaction is the periodic
    * merge into the base assignment artifact — arrivals never touch the
    * indexed corpus. `maxFilesPerTrigger` > 0 forces multi-batch runs so
    * the spec can prove a later re-arrival supersedes an earlier one. */
  def runUpsertStream(spark: SparkSession, embDir: String,
      cents: Seq[(Int, Seq[Double])],
      queryName: String = "ann_upsert",
      maxFilesPerTrigger: Int = 0): DataFrame =
      StreamDirs.withTempDir(s"graft_$queryName") { logDir =>
    val reader = spark.readStream.schema(embSchema)
    if (maxFilesPerTrigger > 0) reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    val q = reader.parquet(embDir)
      .withColumn("cell",
        cellExpr(spark, cents, col("embedding").cast("array<double>")))
      .select(col("vec_id"), col("cell"))
      .writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, id: Long) =>
        b.withColumn("batch_seq", lit(id)).write.mode("append").parquet(logDir); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // Explicit schema: a zero-micro-batch run (empty arrival dir) leaves the
    // log dir empty, and schema inference would throw where the correct
    // answer is an empty assignment frame.
    val logSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("cell", IntegerType),
      StructField("batch_seq", LongType)))
    val compacted = spark.read.schema(logSchema).parquet(logDir)
      .groupBy(col("vec_id"))
      .agg(max(struct(col("batch_seq"), col("cell"))).as("m"))
      .select(col("vec_id"), col("m.cell").as("cell"))
      // Eagerly materialize off the log files so the temp delta log can be
      // deleted before the caller consumes the frame. (In production the
      // delta log is a managed WAL partition that compaction RETIRES, not a
      // process temp dir — this helper models one compaction cycle.)
      .localCheckpoint()
    compacted
  }

  /** Arriving-vector cell counts as an incremental stream over a directory
    * of arriving embedding files: narrow nearest-cell map + ONE aggregation
    * over K cell keys (state O(K), not O(vectors)); complete-mode memory
    * sink, AvailableNow. */
  def runCellCountStream(spark: SparkSession, embDir: String,
      cents: Seq[(Int, Seq[Double])],
      queryName: String = "embed_cell_counts"): DataFrame = {
    val q = spark.readStream.schema(embSchema).parquet(embDir)
      .withColumn("cell",
        cellExpr(spark, cents, col("embedding").cast("array<double>")))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_new"))
      .writeStream.outputMode("complete").format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(queryName).orderBy("cell")
  }

  /** Registered batch variant (the st_* convention: batch semantics under
    * the oracle, stream ≡ batch pinned by EmbedStreamSpec). Fixture split:
    * vec_id % 5 ≠ 0 is the indexed corpus, % 5 = 0 the arriving traffic;
    * BOTH sides read the persisted cell-assignment artifact (one narrow
    * probe each — the index is never retrained), then per-cell shares and
    * the absolute drift are exact integer permilles. */
  val defs: Seq[graft.QueryDef] = Seq(
    graft.QueryDef(
      "st_cell_drift",
      (s, d) => {
        val asg = graft.sim.Similarity.assignCells(s, d)
          .select(col("vec_id"), col("cell"))
        val idx = asg.filter(expr("vec_id % 5 <> 0"))
          .groupBy(col("cell")).agg(count(lit(1)).as("n_index"))
        val nw = asg.filter(expr("vec_id % 5 = 0"))
          .groupBy(col("cell")).agg(count(lit(1)).as("n_new"))
        val joined = idx.join(nw, Seq("cell"), "full_outer")
          .na.fill(0L, Seq("n_index", "n_new"))
        val tot = joined.agg(sum(col("n_index")).as("tot_index"),
          sum(col("n_new")).as("tot_new"))
        joined.crossJoin(broadcast(tot))
          .withColumn("index_permille", expr("(1000 * n_index) div tot_index"))
          .withColumn("new_permille", expr("(1000 * n_new) div tot_new"))
          .withColumn("drift_permille", expr("abs(new_permille - index_permille)"))
          .select(col("cell"), col("n_index"), col("n_new"),
            col("index_permille"), col("new_permille"), col("drift_permille"))
          .orderBy("cell")
      },
      Some(s"""WITH ${graft.sim.Similarity.duckKmeansChain()},
              |idx AS (SELECT cell, COUNT(*) AS n_index FROM assign
              |        WHERE vec_id % 5 <> 0 GROUP BY cell),
              |nw AS (SELECT cell, COUNT(*) AS n_new FROM assign
              |       WHERE vec_id % 5 = 0 GROUP BY cell),
              |j AS (SELECT coalesce(i.cell, w.cell) AS cell,
              |             coalesce(i.n_index, 0) AS n_index,
              |             coalesce(w.n_new, 0) AS n_new
              |      FROM idx i FULL OUTER JOIN nw w ON i.cell = w.cell),
              |tot AS (SELECT CAST(SUM(n_index) AS BIGINT) AS tot_index,
              |               CAST(SUM(n_new) AS BIGINT) AS tot_new FROM j)
              |SELECT cell, n_index, n_new,
              |       (1000 * n_index) // tot_index AS index_permille,
              |       (1000 * n_new) // tot_new AS new_permille,
              |       abs((1000 * n_new) // tot_new
              |           - (1000 * n_index) // tot_index) AS drift_permille
              |FROM j, tot ORDER BY cell""".stripMargin)),

    /** ANN INDEX UPSERT (batch semantics; stream ≡ batch pinned by
      * EmbedStreamSpec): re-embedded vectors (the % 5 = 0 slice, rotated —
      * the deterministic "document edited and re-embedded" stand-in) are
      * assigned against the trained centroids and supersede their stored
      * assignment latest-wins. `moved` marks assignments that changed —
      * the accumulating mover mass is the retraining trigger. */
    graft.QueryDef(
      "st_ann_upsert",
      (s, d) => graft.sim.Similarity.upsertAssign(s, d),
      Some(graft.sim.Similarity.upsertOracleSql)))
}
