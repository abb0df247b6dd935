package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Tripwires for the plan-shape claims the operator Scaladocs make: if a
  * refactor re-introduces a sort-merge join where a broadcast was promised,
  * or adds a shuffle to a scan-parallel projection, these fail BEFORE the
  * bench round notices a regression. String checks run on the physical plan
  * of the sf0.001 fixture (plan shape, not timing — cheap).
  *
  * Assertion style (the round-13 advisory): UPPER BOUNDS on exchange counts
  * and ABSENCE of the specific bad operator each claim rules out — never
  * exact exchange counts, which AQE settings, partition-count changes, or a
  * Spark version bump can shift without any semantic regression. A plan
  * that gets CHEAPER than documented should pass; only the documented
  * failure mode (an extra shuffle class, a join-back, a global sort) trips. */
class PlanShapeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def exchanges(p: String): Int =
    "(?<!Reused)Exchange ".r.findAllIn(p).length

  private def hashExchanges(p: String): Int =
    "(?<!Reused)Exchange hashpartitioning".r.findAllIn(p).length

  test("tx_curriculum_order: scan-parallel — at most the output-sort exchange") {
    val p = plan("tx_curriculum_order")
    assert(exchanges(p) <= 1, s"expected at most the ORDER BY presentation exchange:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"), "no join/window allowed")
  }

  test("dd_soft_dedup: one fingerprint shuffle feeds the window, no join-back") {
    val p = plan("dd_soft_dedup")
    assert(!p.contains("Join"), s"group size must come from a window, not a join-back:\n$p")
    assert(exchanges(p) <= 2, s"expected at most fp hash + output presentation exchanges:\n$p")
  }

  test("an_kanon_audit / an_audience_overlap / mm_modality_mix: dims broadcast, no sort-merge join") {
    Seq("an_kanon_audit", "an_audience_overlap", "mm_modality_mix",
        "an_watermark_lag", "an_backfill_plan", "tx_dp_histogram").foreach { q =>
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q: sort-merge join crept in:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian product crept in:\n$p")
    }
  }

  test("sim_mips_ivf: probes broadcast against the assignment artifact") {
    val p = plan("sim_mips_ivf")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"probe join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"sort-merge join crept in:\n$p")
  }

  test("an_attribution: one user_id hash exchange feeds all three windows") {
    // the correctness half of this claim lives in AnalyticsSpec; the plan
    // half is pinned here with the rest of the tripwires
    val p = plan("an_attribution")
    // a second hash exchange BETWEEN the windows would push this over
    assert(hashExchanges(p) <= 1,
      s"the per-session windows must reuse the user_id partitioning:\n$p")
    assert(!p.contains("SortMergeJoin"), s"sort-merge join crept in:\n$p")
  }

  test("dd_line_dedup: keeper is a map-combinable aggregation, not a window") {
    // boilerplate lines are hot keys by definition — a window form would
    // sort every copy of a million-copy banner in one partition, and a
    // struct-min would force SortAggregate (Dedup.scala scaladoc)
    val p = plan("dd_line_dedup")
    assert(!p.contains("Window"), s"keep rule must be an aggregation, not a window:\n$p")
    assert(!p.contains("SortAggregate"),
      s"packed-BIGINT min must hash-aggregate, not sort-aggregate:\n$p")
  }

  test("tx_mixture_sample: broadcast accounting attach, scan-parallel draw") {
    val p = plan("tx_mixture_sample")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"O(sources) accounting side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"sort-merge join crept in:\n$p")
    assert(!p.contains("Window"), s"threshold draw must not sort/window the doc stream:\n$p")
  }

  test("dd_decontaminate: eval-shingle dictionary is broadcast, never shuffled-joined") {
    val p = plan("dd_decontaminate")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"eval dictionary must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"sort-merge join crept in:\n$p")
  }

  test("bucketedPairs family: pair expansion is explode-from-buckets, never a self-join") {
    // the consolidated skeleton (Dedup.bucketedPairs) expands pairs from
    // collected bucket lists — a refactor that reintroduces the sk=sk
    // self-join form would put a sort-merge or cartesian here. Since the
    // round-15 one-pass form, the bucket build must be the CAPPED native
    // aggregate (memory bound lives inside the collect): a fallback to
    // plain collect_list would reopen the unbounded hot-bucket buffer.
    Seq("dd_minhash_lsh", "dd_winnow_pairs", "jn_fuzzy_name", "sim_rp_pairs",
        "mm_video_dedup", "dd_simhash_pairs").foreach { q =>
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q: sort-merge join crept in:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian product crept in:\n$p")
      // mm_video_dedup / dd_simhash_pairs serve from persisted pair-graph
      // artifacts — their skeleton runs at artifact-BUILD time, so the
      // (store-warm) serving plan is a FileScan with no aggregate to pin
      // (DedupSpec pins the skeleton itself directly, deterministically).
      if (q != "mm_video_dedup" && q != "dd_simhash_pairs") {
        assert(p.contains("collect_sorted_capped"),
          s"$q: bucket build must use the capped collect aggregate:\n$p")
        assert(!p.contains("collect_list"),
          s"$q: unbounded collect_list crept into the pair path:\n$p")
      }
    }
  }

  test("pair expansion never materializes the full per-bucket pair array") {
    // Round 16: the one-shot explode(flatten(transform(ds, ... slice ...)))
    // built each bucket's ENTIRE pair array in one Generate input —
    // O(cap²·payload) transient, an OOM at the 100×-replica probe with the
    // cap itself holding. The two-level explode keeps the per-row transient
    // at O(cap·payload); a regression to the flatten form reads as the
    // flatten(transform call inside a Generate's arguments.
    Seq("dd_minhash_lsh", "dd_winnow_pairs", "jn_fuzzy_name", "sim_rp_pairs")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("flatten(transform"),
          s"$q: one-shot flatten pair expansion (O(cap^2) transient) crept back:\n$p")
      }
  }

  test("tx_pack_sequences: the packing window partitions by source, never globally") {
    val executed = SparkEntry.queries("tx_pack_sequences")(spark, sf).queryExecution.executedPlan
    val p = executed.toString
    assert(p.contains("Window"), s"packing is a per-source prefix sum window:\n$p")
    // a plan-tree check: the presentation sort's SinglePartition exchange
    // prints the same text a global window's exchange would
    val global = collect(executed) { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(global.isEmpty,
      s"a global (single-partition) window would serialize the corpus:\n$p")
  }

  test("suite-wide: every unpartitioned window sits on a statically bounded frame") {
    // VERDICT r21 #6: `WindowExec: No Partition Defined` moves ALL data to
    // one partition — benign exactly when the frame is already tiny (the
    // an_skew_report rank over a post-limit 5-row frame, today's ONLY
    // site), a scale-killer anywhere else. Pin it for every declared
    // query: an unpartitioned logical Window must sit on a child whose
    // maxRows is statically bounded (a Limit below it propagates maxRows),
    // so a future corpus-sized global window fails here, not in a 100 TB
    // run. Uses the optimized logical plan — cheap (no execution), and
    // maxRows is exactly the bound the optimizer can prove.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      fn(spark, sf).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty &&
            !w.child.maxRows.exists(_ <= 100) =>
          s"$name (child maxRows=${w.child.maxRows})"
      }
    }.distinct
    assert(offenders.isEmpty,
      s"unpartitioned window over an unbounded frame in: ${offenders.mkString(", ")}")
  }
}
