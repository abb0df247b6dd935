package graft.tools

import java.util.Locale
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

class ProfileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  // the sf0.01 fixture, beside the suite's sf0.001 one
  val sf01 = new java.io.File(TestSpark.sf).getParent + "/sf0.01"

  private def shuffleHeavy(): Unit =
    spark.range(0, 400000, 1, 8).repartition(16)
      .groupBy((col("id") % 97).as("k")).count().collect()

  test("a shuffle-free action reports only its own jobs: no neighbour's late or concurrent events") {
    val sc = spark.sparkContext
    shuffleHeavy() // unprofiled, right before: its task ends may still be queued
    // A neighbour job on another thread whose first stage blocks until the
    // profiled action releases it, so its remaining stages, tasks and
    // shuffle bytes all land inside the profiled window.
    val neighbour = new Thread(() => sc.parallelize(1 to 8, 2)
      .map { x => ProfileSpec.running.countDown(); ProfileSpec.release.await(); x }
      .repartition(4).count())
    neighbour.start()
    assert(ProfileSpec.running.await(60, TimeUnit.SECONDS))
    val r = Profile.run(spark) {
      ProfileSpec.release.countDown()
      neighbour.join()
      sc.parallelize(1 to 100, 4).map(_ * 2).count()
    }
    assert((r.jobs, r.stages, r.tasks) == ((1, 1, 4)), s"record: $r")
    assert(r.shuffleReadBytes == 0 && r.shuffleWriteBytes == 0 && r.maxTaskShuffleRows == 0,
      s"record: $r")
    assert(r.maxTaskMs >= r.medianTaskMs && r.wallS > 0)
    // a shuffle-heavy action, profiled on its own, does shuffle
    val h = Profile.run(spark)(shuffleHeavy())
    assert(h.shuffleWriteBytes > 0 && h.shuffleReadBytes > 0 && h.maxTaskShuffleRows > 0,
      s"record: $h")
  }

  test("an action that throws propagates its exception and yields no record") {
    val sc = spark.sparkContext
    sc.setJobGroup("caller", "the caller's own group")
    try {
      val e = intercept[SparkException] {
        Profile.run(spark)(sc.parallelize(1 to 8, 4)
          .map(i => if (i == 5) throw new IllegalStateException("boom") else i).count())
      }
      assert(e.getMessage.contains("boom"))
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller")
    } finally sc.clearJobGroup()
    // nothing of the failed action leaks into the next record
    val r = Profile.run(spark)(sc.parallelize(1 to 10, 2).count())
    assert((r.jobs, r.stages, r.tasks) == ((1, 1, 2)), s"record: $r")
  }

  test("Profile.main prints locale-proof GRAFT_PROFILE records whose rows match df.count()") {
    val buf = new java.io.ByteArrayOutputStream
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try Console.withOut(buf) {
      Profile.main(Array(sf01, "agg_groupby", "--runs", "3", "--prescan", "documents:text"))
    } finally Locale.setDefault(saved)
    val mapper = new ObjectMapper
    val recs = buf.toString("UTF-8").linesIterator
      .filter(_.startsWith("GRAFT_PROFILE "))
      .map(l => mapper.readTree(l.stripPrefix("GRAFT_PROFILE "))).toSeq
    val metrics = Set("run", "rows", "wall_s", "jobs", "stages", "tasks", "max_task_ms",
      "median_task_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
      "max_task_shuffle_rows")
    for (r <- recs) {
      val fields = r.fieldNames.asScala.toSet
      assert(fields == metrics + "dir" + (if (r.has("query")) "query" else "prescan"), fields)
      assert(r.get("wall_s").isDouble && r.get("jobs").asInt >= 1, r.toString)
    }
    val (pre, q) = recs.partition(_.has("prescan"))
    // the keys tools/scaling.py's warm-up decomposition reads
    assert(pre.map(_.get("run").asInt) == Seq(1, 2, 3))
    assert(q.map(_.get("run").asInt) == Seq(1, 2, 3))
    assert(pre.forall(_.get("rows").asLong ==
      spark.read.parquet(s"$sf01/documents.parquet").count()))
    val expected = SparkEntry.queries("agg_groupby")(spark, sf01).count()
    assert(expected > 0 && q.forall(_.get("rows").asLong == expected))
    // main borrowed the suite's session and left it running
    assert(!spark.sparkContext.isStopped)
  }
}

object ProfileSpec {
  // Shared with task closures (same JVM in local mode); latches do not serialize.
  val running = new CountDownLatch(1)
  val release = new CountDownLatch(1)
}
