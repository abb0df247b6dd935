package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The skew-measurement regime shared by SkewSpec and the PLANS.md skew
  * appendix — one audited definition, so the asserted numbers and the
  * published numbers can never measure different things. */
object SkewHarness {

  /** Run `f` with broadcast joins and AQE partition coalescing off and 32
    * shuffle partitions: the regime that models the operator's target (a
    * dim too big to broadcast, partitions above the coalesce advisory size
    * — at spec scale coalescing would merge everything into one task and
    * mask the spreading law under test). Every conf is restored after. */
  def withSkewRegime[A](spark: SparkSession)(f: => A): A = {
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.shuffle.partitions")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try f
    finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** (plainMax, saltedMax): max shuffle-read rows of any single join task
    * for the plain vs salted join over [[StressFixtures]]' hot-key
    * fact/dim, measured under [[withSkewRegime]]. */
  def measureSaltedVsPlain(spark: SparkSession, buckets: Int = 32): (Long, Long) =
    withSkewRegime(spark) {
      def maxRows(df: DataFrame): Long =
        Profile.run(spark)(df.write.format("noop").mode("overwrite").save()).maxTaskShuffleRows
      val fact = StressFixtures.skewedFact(spark)
      val dim = StressFixtures.dim(spark)
      (maxRows(fact.join(dim, "k")),
        maxRows(graft.ops.Skew.saltedJoin(fact, dim, "k", "id", buckets)))
    }
}
