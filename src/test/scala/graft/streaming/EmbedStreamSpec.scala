package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class EmbedStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("streaming cell counts equal the batch st_cell_drift arrival column (multi-batch)") {
    // Stage the arriving split (vec_id % 5 = 0) as its own directory — the
    // stream must see ONLY arrivals; the index side never streams.
    val s = spark
    val dir = TestSpark.tempDir("embed_arrivals").toString
    graft.Tables.embeddings(spark, sf).filter(expr("vec_id % 5 = 0"))
      .write.mode("overwrite").parquet(dir)
    val cents = graft.sim.Similarity.trainKMeans(spark, sf)
    val streamed = EmbedStream.runCellCountStream(spark, dir, cents,
      "embed_cells_spec")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val batch = EmbedStream.defs.find(_.name == "st_cell_drift").get.fn(spark, sf)
      .filter(col("n_new") > 0).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(streamed == batch,
      s"stream cell counts $streamed != batch arrival counts $batch")
  }

  test("streaming upsert: a later re-arrival supersedes, compacted state equals batch st_ann_upsert") {
    // Two arrival files with ordered mtimes, one per micro-batch
    // (maxFilesPerTrigger = 1): first the ORIGINAL % 5 = 0 vectors, then
    // their rotated re-embeddings. Latest-wins compaction must keep only
    // the rotated assignments — exactly the batch query's new_cell column.
    val dir = TestSpark.tempDir("embed_upsert").toString
    val t0 = System.currentTimeMillis()
    def stage(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = TestSpark.tempDir("embed_upsert_w").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$dir/$name.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime): Unit
    }
    val orig = graft.Tables.embeddings(spark, sf).filter(expr("vec_id % 5 = 0"))
      .select(col("vec_id"), col("embedding"), col("label"))
    val rot = orig.select(col("vec_id"),
      expr("concat(slice(embedding, 2, size(embedding) - 1), " +
        "array(element_at(embedding, 1)))").as("embedding"), col("label"))
    stage(orig, "arrivals1", t0 - 60000)
    stage(rot, "arrivals2", t0)
    val cents = graft.sim.Similarity.trainKMeans(spark, sf)
    val streamed = EmbedStream.runUpsertStream(spark, dir, cents,
      "ann_upsert_spec", maxFilesPerTrigger = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val batch = graft.sim.Similarity.upsertAssign(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(streamed == batch,
      s"compacted stream assignments disagree with batch upsert (stream=${streamed.size} batch=${batch.size})")
    // the rotation must actually move some assignments, or the supersede
    // path proved nothing
    val movers = graft.sim.Similarity.upsertAssign(spark, sf)
      .filter(col("moved")).count()
    assert(movers > 0, "rotation moved no assignments — supersede untested")
  }

  test("fold assignment breaks round-6 cosine ties to the lowest cid (the nearest() contract)") {
    val s = spark; import s.implicits._
    val v = Seq(1.0, 0.0, 0.0)
    // two identical centroids listed HIGH cid first: the fold must still
    // pick cid 1 (sorted order + strictly-greater update)
    val cents = Seq((2, v), (1, v), (3, Seq(0.0, 1.0, 0.0)))
    val got = Seq(Tuple1(v)).toDF("v")
      .select(EmbedStream.cellExpr(spark, cents, col("v")).as("cell"))
      .head.getInt(0)
    assert(got == 1)
  }

  test("st_cell_drift: shares are exact permilles of each side's total, drift is their gap") {
    val rows = EmbedStream.defs.find(_.name == "st_cell_drift").get.fn(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val totIdx = rows.map(_.getLong(1)).sum
    val totNew = rows.map(_.getLong(2)).sum
    rows.foreach { r =>
      assert(r.getLong(3) == 1000 * r.getLong(1) / totIdx)
      assert(r.getLong(4) == 1000 * r.getLong(2) / totNew)
      assert(r.getLong(5) == math.abs(r.getLong(4) - r.getLong(3)))
    }
    // every corpus vector is on exactly one side of the split
    val n = graft.Tables.embeddings(spark, sf).count()
    assert(totIdx + totNew == n)
  }
}
