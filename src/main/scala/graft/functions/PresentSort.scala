package graft.functions

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** The one place that chooses how a global ORDER BY moves its rows.
  *
  * The reference has physical SORTKEYs but no ORDER BY (SURVEY §2.5); the
  * engine's presentation sort exists so Verify and the DuckDB oracle can
  * compare rows in order. `EnsureRequirements` plans every global sort on a
  * range exchange, and a range exchange first runs a bounds-sampling job
  * that drains its child — re-running everything above the last
  * materialized shuffle — before its own map tasks run the child again.
  *
  * This query-stage preparation rule (registered by [[GraftExtensions]], so
  * it runs after `EnsureRequirements` in every `graft.Sessions` session)
  * swaps that range exchange for a single-partition exchange when the
  * sort's input fits one shuffle partition: the summed `stats.sizeInBytes`
  * of the leaves under the logical `Sort` is at most
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes`. A single-partition
  * sort needs no sampler, so the segment above it runs once. The bound is
  * on the INPUT: a row-multiplying sort input (explode, fan-out join) is
  * judged by the leaves it reads, not by the rows it emits. A
  * `localCheckpoint` leaf carries the stats of the plan it snapshots; at
  * AQE re-planning a finished query stage is judged by the leaves of the
  * logical plan it ran, so re-planning reaches the same decision as the
  * initial plan. Larger inputs keep Spark's range sort as planned.
  *
  * The rule only swaps an exchange `EnsureRequirements` already placed, so
  * it never adds one, and `SinglePartition` satisfies every distribution
  * the range partitioning did. The row order is the sort's either way. */
object PresentSort extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case s @ SortExec(_, true,
        e @ ShuffleExchangeExec(_: RangePartitioning, _, ENSURE_REQUIREMENTS, _), _)
        if fitsOnePartition(s) =>
      s.withNewChildren(Seq(e.copy(outputPartitioning = SinglePartition)))
  }

  private def fitsOnePartition(s: SortExec): Boolean = s.logicalLink.exists {
    case sort: Sort => leafBytes(sort) <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    case _ => false
  }

  private def leafBytes(p: LogicalPlan): BigInt = p match {
    case q: LogicalQueryStage => leafBytes(q.logicalPlan)
    case leaf if leaf.children.isEmpty => leaf.stats.sizeInBytes
    case _ => p.children.map(leafBytes).sum
  }
}
