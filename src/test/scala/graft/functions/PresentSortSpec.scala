package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.{col, count, lit, max}
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, Tables, TestSpark}

/** The presentation-sort rule: below the bound a global sort moves its rows
  * through one single-partition exchange instead of a range exchange, with
  * the same rows in the same order and never an extra exchange. */
class PresentSortSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeLike] =
    collect(p) { case e: ShuffleExchangeLike => e }

  private def rangeExchanges(p: SparkPlan): Int =
    shuffles(p).count(_.outputPartitioning.isInstanceOf[RangePartitioning])

  /** (rows, exchanges in the initial plan, range exchanges in the initial
    * plan, range exchanges in the plan AQE finally ran). */
  private def run(df: DataFrame): (Seq[org.apache.spark.sql.Row], Int, Int, Int) = {
    val initial = df.queryExecution.executedPlan
    val (n, ranged) = (shuffles(initial).size, rangeExchanges(initial))
    val rows = df.collect().toSeq
    (rows, n, ranged, rangeExchanges(df.queryExecution.executedPlan))
  }

  /** Runs `body` with the rule's bound below every fixture input, so the
    * range sort EnsureRequirements planned is kept. */
  private def withBoundLowered[T](body: => T): T = {
    val key = SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  Seq("jn_fuzzy_name", "sim_topk_agg", "tx_curriculum_order").foreach { q =>
    test(s"$q: same rows in the same order with the rule and with the range sort") {
      val (fired, firedN, firedRange, firedFinalRange) = run(SparkEntry.queries(q)(spark, sf))
      val (kept, keptN, keptRange, _) =
        withBoundLowered(run(SparkEntry.queries(q)(spark, sf)))
      assert(fired.nonEmpty)
      assert(fired == kept, s"$q: row order differs between the two sorts")
      assert(keptRange == 1, s"$q: the lowered bound must keep the range exchange")
      assert(firedRange == 0 && firedFinalRange == 0,
        s"$q: the rule must replace the range exchange, also after AQE re-planning")
      assert(firedN == keptN, s"$q: the rule changed the exchange count $keptN -> $firedN")
    }
  }

  test("orderBy + limit still plans TakeOrderedAndProject") {
    val p = Tables.lineitem(spark, sf).orderBy("l_orderkey", "l_linenumber").limit(5)
      .queryExecution.executedPlan
    assert(collect(p) { case t: TakeOrderedAndProjectExec => t }.size == 1, s"$p")
    assert(rangeExchanges(p) == 0, s"$p")
  }

  test("a sort over a global aggregate gains no exchange") {
    val agg = Tables.lineitem(spark, sf)
      .agg(count(lit(1)).as("n"), max(col("l_orderkey")).as("top"))
    val before = shuffles(agg.queryExecution.executedPlan).size
    val sorted = agg.orderBy("n").queryExecution.executedPlan
    assert(shuffles(sorted).size == before, s"$sorted")
  }
}
