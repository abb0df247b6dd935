package graft.ops

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{EpochTime, QueryDef, Tables}

/** The OLAP half of the analytics query surface (split out of
  * Analytics.scala in round 17 — same package, no behavior change; the
  * Dedup/Similarity/TextStats trait splits are the template, plan identity
  * proven the same way by a normalized PLANS.md diff): pivot, grouping
  * sets, exact + sketch percentiles/distincts, date arithmetic, explode,
  * union-by-name, window frames and navigation, array agg, regex extract,
  * funnel/retention/sessionize/attribution, salted agg/join, merge-upsert,
  * z-order, histograms, and the multi-join SQL demo. Shared helpers
  * (cents, hash-bit exprs, balancedSamplePhase1) stay in Analytics.scala.
  * Mixed into [[Analytics]]; LAZY because oracle strings interpolate
  * object-body vals, which initialize after trait bodies. */
private[ops] trait AnalyticsOlapQueries { this: Analytics.type =>

  /** an_sessionize / an_attribution session gap: a new session starts
    * after 30 minutes without an event (the stream operators'
    * st_sessionize gap is [[graft.streaming.EventsStream.SessionGapMs]]). */
  private[ops] val SessionGapMs: Long = EpochTime.Hour.ms / 2

  private[ops] lazy val olapDefs: Seq[QueryDef] = Seq(

    QueryDef(
      "an_pivot",
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .count()
        .na.fill(0L, Seq("F", "O", "P"))
        .orderBy("o_orderpriority"),
      // NULLS FIRST pins below (here and on every nullable relational sort
      // key in this file): Spark sorts NULLs FIRST ascending, DuckDB LAST —
      // invisible on the all-non-null fixtures, divergent on real data.
      Some("""SELECT o_orderpriority,
             |       COUNT(*) FILTER (o_orderstatus = 'F') AS F,
             |       COUNT(*) FILTER (o_orderstatus = 'O') AS O,
             |       COUNT(*) FILTER (o_orderstatus = 'P') AS P
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority NULLS FIRST""".stripMargin)),

    QueryDef(
      "an_grouping_sets",
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem_gs")
        s.sql("""SELECT COALESCE(l_returnflag, '_all_') AS rf,
                |       COALESCE(l_linestatus, '_all_') AS ls,
                |       CAST(grouping_id(l_returnflag, l_linestatus) AS INTEGER) AS gid,
                |       COUNT(*) AS n
                |FROM lineitem_gs
                |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                |                        (l_returnflag, l_linestatus))
                |ORDER BY rf, ls, gid""".stripMargin)
      },
      Some("""SELECT COALESCE(l_returnflag, '_all_') AS rf,
             |       COALESCE(l_linestatus, '_all_') AS ls,
             |       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INTEGER) AS gid,
             |       COUNT(*) AS n
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
             |                        (l_returnflag, l_linestatus))
             |ORDER BY rf, ls, gid""".stripMargin)),

    QueryDef(
      "an_percentile",
      // one percentile buffer for both quantiles (array form) — halves the
      // value-map build vs two separate percentile() aggregates.
      // lineitemSpread (r21, guide §2.5): the partial percentile buffers are
      // built PRE-exchange, so a coarse-row-group fact serialized the whole
      // value-buffer build on one core; no-op on well-laid-out sources.
      (s, d) => Tables.lineitemSpread(s, d)
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(CASE WHEN isnan(l_extendedprice) OR abs(l_extendedprice) > 9e16D THEN NULL ELSE l_extendedprice END, array(0.5D, 0.9D))").as("ps"))
        .select(col("l_returnflag"),
          expr("round(element_at(ps, 1), 4)").as("p50"),
          expr("round(element_at(ps, 2), 4)").as("p90"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |       round(quantile_cont(CASE WHEN (isfinite(l_extendedprice) AND abs(l_extendedprice) <= 9e16) THEN l_extendedprice END, 0.5), 4) AS p50,
             |       round(quantile_cont(CASE WHEN (isfinite(l_extendedprice) AND abs(l_extendedprice) <= 9e16) THEN l_extendedprice END, 0.9), 4) AS p90
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag NULLS FIRST""".stripMargin)),

    QueryDef(
      "an_date_funcs",
      (s, d) => Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          quarter(col("o_orderdate")).as("q"),
          date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
          trunc(col("o_orderdate").cast("date"), "month").as("month_start"),
          datediff(to_date(lit("1996-01-01")), col("o_orderdate").cast("date")).as("days_to_96"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |       CAST(year(o_orderdate) AS INTEGER) AS y,
             |       CAST(quarter(o_orderdate) AS INTEGER) AS q,
             |       CAST(o_orderdate AS DATE) + 30 AS plus30,
             |       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
             |       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1996-01-01') AS INTEGER) AS days_to_96
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    QueryDef(
      "an_explode_tokens",
      (s, d) => Tables.part(s, d)
        .filter(col("p_partkey") <= 200)
        .select(col("p_partkey"), explode(split(col("p_name"), " ")).as("tok"))
        .orderBy("p_partkey", "tok"),
      Some("""SELECT p_partkey, unnest(string_split(p_name, ' ')) AS tok
             |FROM part WHERE p_partkey <= 200
             |ORDER BY p_partkey, tok""".stripMargin)),

    QueryDef(
      "an_union_by_name",
      (s, d) => {
        val a = Tables.customer(s, d)
          .select(col("c_custkey").as("id"), col("c_name").as("name"),
            col("c_acctbal").as("bal"))
        val b = Tables.supplier(s, d)
          .select(col("s_name").as("name"), col("s_suppkey").as("id"))
        a.unionByName(b.withColumn("bal", lit(null).cast("double")), allowMissingColumns = true)
          .orderBy(col("id").asc, col("name").asc, col("bal").asc_nulls_first)
      },
      Some("""SELECT id, name, bal FROM (
             |  SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal FROM customer
             |  UNION ALL BY NAME
             |  SELECT s_name AS name, s_suppkey AS id, NULL::DOUBLE AS bal FROM supplier)
             |ORDER BY id ASC, name ASC NULLS FIRST, bal ASC NULLS FIRST""".stripMargin)),

    QueryDef(
      "an_window_range_frame",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("cents"))
          .rangeBetween(-1000000L, 0L)
        Tables.orders(s, d)
          .withColumn("cents", cents("o_totalprice"))
          .withColumn("n_within_10k", count(lit(1)).over(w))
          .select(col("o_custkey"), col("o_orderkey"), col("cents"), col("n_within_10k"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, cents,
             |       CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY cents
             |            RANGE BETWEEN 1000000 PRECEDING AND CURRENT ROW) AS BIGINT)
             |         AS n_within_10k
             |FROM (SELECT *, CAST(round(CASE WHEN (isfinite(o_totalprice) AND abs(o_totalprice) <= 9e16) THEN o_totalprice END * 100) AS BIGINT) AS cents FROM orders)
             |ORDER BY o_custkey NULLS FIRST, o_orderkey""".stripMargin)),

    QueryDef(
      "an_window_nav",
      (s, d) => {
        val order = Window.partitionBy(col("o_custkey"))
          .orderBy(col("cents").asc, col("o_orderkey").asc)
        val full = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.orders(s, d)
          .withColumn("cents", cents("o_totalprice"))
          .withColumn("drank", dense_rank().over(order))
          .withColumn("ntile4", ntile(4).over(order))
          .withColumn("cheapest", first(col("o_orderkey")).over(full))
          .withColumn("dearest", last(col("o_orderkey")).over(full))
          .select(col("o_custkey"), col("o_orderkey"), col("drank"), col("ntile4"),
            col("cheapest"), col("dearest"))
          .orderBy("o_custkey", "o_orderkey")
      },
      // The WINDOW order carries the null pin too: ntile/dense_rank/
      // first/last are POSITION-dependent, so a NULL cents row placed
      // FIRST (Spark) vs LAST (DuckDB) shifts every row's ntile — unlike
      // the range-frame sibling above, where a NULL-keyed row's frame is
      // the null group under either placement and only the final sort
      // needed pinning.
      Some("""SELECT o_custkey, o_orderkey,
             |       CAST(dense_rank() OVER w AS INTEGER) AS drank,
             |       CAST(ntile(4) OVER w AS INTEGER) AS ntile4,
             |       first_value(o_orderkey) OVER wf AS cheapest,
             |       last_value(o_orderkey) OVER wf AS dearest
             |FROM (SELECT *, CAST(round(CASE WHEN (isfinite(o_totalprice) AND abs(o_totalprice) <= 9e16) THEN o_totalprice END * 100) AS BIGINT) AS cents FROM orders)
             |WINDOW w AS (PARTITION BY o_custkey
             |             ORDER BY cents ASC NULLS FIRST, o_orderkey ASC),
             |       wf AS (PARTITION BY o_custkey
             |              ORDER BY cents ASC NULLS FIRST, o_orderkey ASC
             |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |ORDER BY o_custkey NULLS FIRST, o_orderkey""".stripMargin)),

    QueryDef(
      "an_array_agg",
      (s, d) => Tables.orders(s, d)
        .filter(col("o_custkey") <= 50)
        .groupBy(col("o_custkey"))
        // Serialized deterministically (sorted, comma-joined) so the result
        // is a flat string column both engines hash identically.
        .agg(array_join(sort_array(collect_list(col("o_orderkey"))), ",").as("orderkeys"))
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey, array_to_string(list_sort(list(o_orderkey)), ',') AS orderkeys
             |FROM orders WHERE o_custkey <= 50
             |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    /** Registered form of the HLL++ distinct-count sketch: the raw
      * [[approxDistinctSketch]] estimate has no DuckDB analog, but its
      * CONTRACT is portable. The default rsd=0.05 is a relative STANDARD
      * DEVIATION, not a hard bound — ~32% of estimates sit outside 1σ by
      * definition, so testing |approx − exact| ≤ rsd would flake at some
      * cardinality. The companion asserts the realistic envelope, 3σ = 15%
      * (≳99.7% of estimates; a violation indicates a broken sketch, not
      * routine estimator noise). The oracle emits the exact count plus
      * literal TRUE, so a bound violation hash-mismatches. The exact
      * count-distinct shuffle exists only in this verification query —
      * production code keeps the one-pass sketch, so this companion's
      * growth row in SCALING.md (`exact-companion`) is the exact
      * operator's curve, not the production path's. */
    QueryDef(
      "an_approx_distinct_bound",
      // r21 A/B note: lineitemSpread was tried and measured +39% — the
      // exact-distinct partial dedups per partition, so 32 spread partials
      // shuffle up to 32x the rows one partition's local dedup emits.
      // Left narrow.
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx"),
          countDistinct(col("l_partkey")).as("n_exact"))
        .select(col("l_returnflag"), col("n_exact"),
          (abs(col("approx") - col("n_exact")) <= col("n_exact") * 0.15)
            .as("within_bound"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_exact,
             |       TRUE AS within_bound
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag NULLS FIRST""".stripMargin)),

    /** Registered form of the quantile sketch ([[approxPercentileSketch]]).
      * "Exact" is the NEAREST-RANK percentile over integer cents — rank
      * ceil(p·n) via integer arithmetic, no interpolation — because a
      * continuous (interpolated) percentile is a double whose last-ulp
      * depends on the engine's interpolation formula and would hash-
      * mismatch spuriously. The verdict tests percentile_approx's DOCUMENTED
      * contract, which is a RANK guarantee, not a value guarantee: the
      * returned element's rank is within ±n/accuracy of the target rank
      * (QuantileSummaries / Greenwald-Khanna, relative error 1/accuracy).
      * A value-percentage bound would silently depend on the data's local
      * density and on partition-count-sensitive merge order; instead the
      * verdict checks the estimate lies between the VALUES at ranks
      * target ± ceil(n/accuracy) — translation of the rank window through
      * the sorted data, valid under any partitioning (AnalyticsSpec).
      * Oracle mirrors the rank rule and emits TRUE. Its SCALING.md growth
      * row (`exact-companion`) is the EXACT operator's curve (full per-group
      * window sort), not the sketch's — it is a verification query; the
      * production path is [[approxPercentileSketch]]'s one-pass sketch. */
    QueryDef(
      "an_approx_percentile_bound",
      (s, d) => {
        // r21 A/B note: lineitemSpread was tried and measured +10% — the
        // spread exchange buys nothing here (the window runs at
        // |l_returnflag| = 4-way parallelism regardless) and the approx
        // sketch partials multiply with partition count. Left narrow.
        val c = Tables.lineitem(s, d)
          .select(col("l_returnflag"), cents("l_extendedprice").as("cts"))
        val byFlag = Window.partitionBy(col("l_returnflag"))
        // The exact rank percentile is over the NON-NULL population:
        // percentile_approx (and DuckDB's quantile family) skip NULL
        // measurements, so an unfiltered ranked frame would count NULL cts
        // rows into n and bias every target rank — and the engines would
        // place those rows at OPPOSITE ends of the rank order anyway.
        val r = c.filter(col("cts").isNotNull)
          .withColumn("rn", row_number().over(byFlag.orderBy(col("cts"))))
          .withColumn("n", count(lit(1)).over(byFlag))
        // Rank slack from the documented guarantee: accuracy=10000 → the
        // estimate's rank is within ceil(n/10000) of the target rank.
        val exact = r.groupBy(col("l_returnflag")).agg(
          max(when(col("rn") === expr("(n + 1) div 2"), col("cts")))
            .as("exact_p50_cents"),
          max(when(col("rn") === expr("(19 * n + 19) div 20"), col("cts")))
            .as("exact_p95_cents"),
          max(when(col("rn") === expr("greatest(1L, (n + 1) div 2 - (n + 9999) div 10000)"),
            col("cts"))).as("lo50"),
          max(when(col("rn") === expr("least(n, (n + 1) div 2 + (n + 9999) div 10000)"),
            col("cts"))).as("hi50"),
          max(when(col("rn") === expr("greatest(1L, (19 * n + 19) div 20 - (n + 9999) div 10000)"),
            col("cts"))).as("lo95"),
          max(when(col("rn") === expr("least(n, (19 * n + 19) div 20 + (n + 9999) div 10000)"),
            col("cts"))).as("hi95"))
        val approx = c.groupBy(col("l_returnflag"))
          .agg(expr("percentile_approx(cts, array(0.5D, 0.95D), 10000)").as("ap"))
          .select(col("l_returnflag").as("rf2"),
            expr("ap[0]").as("a50"), expr("ap[1]").as("a95"))
        // Null-SAFE join key: l_returnflag is nullable, and a plain === on
        // the group key silently DROPS the NULL-flag group (NULL === NULL
        // is NULL) while the single-pass oracle keeps it — the percentile
        // of unclassified rows is a legitimate accounting group.
        exact.join(approx, exact("l_returnflag") <=> approx("rf2"))
          .select(col("l_returnflag"), col("exact_p50_cents"), col("exact_p95_cents"),
            (col("a50").between(col("lo50"), col("hi50")) &&
             col("a95").between(col("lo95"), col("hi95")))
              .as("within_bound"))
          .orderBy("l_returnflag")
      },
      Some("""WITH c AS (SELECT l_returnflag,
             |                  CAST(round(CASE WHEN (isfinite(l_extendedprice) AND abs(l_extendedprice) <= 9e16) THEN l_extendedprice END * 100) AS BIGINT) AS cts
             |           FROM lineitem),
             |r AS (SELECT l_returnflag, cts,
             |             row_number() OVER (PARTITION BY l_returnflag ORDER BY cts) AS rn,
             |             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
             |      FROM c WHERE cts IS NOT NULL)
             |SELECT l_returnflag,
             |       MAX(CASE WHEN rn = (n + 1) // 2 THEN cts END) AS exact_p50_cents,
             |       MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN cts END) AS exact_p95_cents,
             |       TRUE AS within_bound
             |FROM r GROUP BY l_returnflag
             |ORDER BY l_returnflag NULLS FIRST""".stripMargin)),

    QueryDef(
      "an_regex_extract",
      (s, d) => Tables.customer(s, d)
        .select(
          col("c_custkey"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, regexp_extract(c_name, '([0-9]+)', 1) AS digits
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    /** Conversion funnel: per user, first view and first subsequent
      * purchase; conversion lag in ms. Two grouped mins + a broadcastable
      * join — the sequence-analytics shape (no per-event state needed). */
    QueryDef(
      "an_funnel",
      (s, d) => {
        val e = Tables.events(s, d)
          // an_sessionize's NULL-EVENT CONTRACT: no owner / no position
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), col("event_type"), EpochTime.Ms.of(col("ts")).as("ms"))
        val firstView = e.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ms")).as("first_view_ms"))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id").as("u2"), col("ms").as("pms"))
        firstView.join(purchases,
            firstView("user_id") === purchases("u2") &&
              col("pms") >= firstView("first_view_ms"), "left_outer")
          .groupBy(col("user_id"), col("first_view_ms"))
          .agg(min(col("pms")).as("first_purchase_ms"))
          .withColumn("lag_ms", col("first_purchase_ms") - col("first_view_ms"))
          .orderBy("user_id")
      },
      Some(s"""WITH ev AS (SELECT user_id, event_type, ${EpochTime.Ms.sql("ts")} AS ms FROM events
             |            WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |fv AS (SELECT user_id, MIN(ms) AS first_view_ms
             |            FROM ev WHERE event_type = 'view' GROUP BY user_id),
             |fp AS (SELECT fv.user_id, fv.first_view_ms, MIN(e.ms) AS first_purchase_ms
             |       FROM fv LEFT JOIN ev e
             |         ON e.user_id = fv.user_id AND e.event_type = 'purchase'
             |        AND e.ms >= fv.first_view_ms
             |       GROUP BY fv.user_id, fv.first_view_ms)
             |SELECT user_id, first_view_ms, first_purchase_ms,
             |       first_purchase_ms - first_view_ms AS lag_ms
             |FROM fp ORDER BY user_id""".stripMargin)),

    /** Salted two-phase aggregation (graft.ops.Skew): identical result to
      * the plain group-by — the oracle IS the plain group-by — but hot keys
      * spread over 32 reducers in phase one. */
    QueryDef(
      "an_salted_agg",
      (s, d) => Skew.saltedSumCount(
          Tables.lineitem(s, d).withColumn("cents", cents("l_extendedprice")),
          key = "l_returnflag", saltSource = "l_orderkey",
          valueCol = col("cents"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |       CAST(SUM(CAST(round(CASE WHEN (isfinite(l_extendedprice) AND abs(l_extendedprice) <= 9e16) THEN l_extendedprice END * 100) AS BIGINT)) AS BIGINT)
             |         AS sum_value,
             |       COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag NULLS FIRST""".stripMargin)),

    /** Salted equi-join (graft.ops.Skew.saltedJoin): hot fact keys spread
      * over 32 reducers by joining on (key, salt) against a replicated dim.
      * The oracle is the PLAIN join — salting must be result-invisible. */
    QueryDef(
      "an_salted_join",
      (s, d) => Skew.saltedJoin(
          // lineitemSpread (r21, guide §2.5): the broadcast-join probe and
          // the partial brand aggregate run pre-exchange on the fact side.
          Tables.lineitemSpread(s, d)
            .select(col("l_partkey").as("k"), col("l_orderkey"), col("l_quantity")),
          Tables.part(s, d).select(col("p_partkey").as("k"), col("p_brand")),
          key = "k", saltSource = "l_orderkey")
        .groupBy(col("p_brand"))
        // NON-FINITE CONTRACT (Tables.centsSql): a NaN quantity otherwise
        // poisons the double SUM — Spark's cast then injects 0 where the
        // oracle's cast errors.
        .agg(expr("CAST(sum(CASE WHEN isnan(l_quantity) OR " +
            "abs(l_quantity) > 9e16D THEN NULL " +
            "ELSE l_quantity END) AS BIGINT)").as("sum_qty"),
          count(lit(1)).as("n"))
        // p_brand is nullable (the nullgrid corpus stages a NULL-brand
        // part): pin the NULL direction on BOTH sides — Spark ASC defaults
        // NULLS FIRST, DuckDB NULLS LAST.
        .orderBy(col("p_brand").asc_nulls_first),
      Some("""SELECT p_brand,
             |       CAST(SUM(CASE WHEN (isfinite(l_quantity) AND abs(l_quantity) <= 9e16) THEN l_quantity END)
             |            AS BIGINT) AS sum_qty,
             |       COUNT(*) AS n
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand ORDER BY p_brand NULLS FIRST""".stripMargin)),

    /** MERGE/upsert semantics (SCD type-1) without a table format: snapshot
      * ⟕⟖ changes with coalesce — matched rows take the change's values,
      * unmatched changes insert. Here: customer balances upserted from each
      * customer's latest order total. One shuffle join on the key (broadcast
      * when the change set is small); at scale this is exactly the join
      * Delta/Iceberg MERGE plans under the hood. */
    QueryDef(
      "an_merge_upsert",
      (s, d) => {
        val base = Tables.customer(s, d)
          .select(col("c_custkey").as("k"), cents("c_acctbal").as("bal_cents"),
            col("c_mktsegment").as("seg"))
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        val changes = Tables.orders(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("o_custkey").as("k2"), cents("o_totalprice").as("new_bal"))
        base.join(changes, base("k") === changes("k2"), "full_outer")
          .select(
            coalesce(col("k"), col("k2")).as("k"),
            coalesce(col("new_bal"), col("bal_cents")).as("bal_cents"),
            coalesce(col("seg"), lit("NEW")).as("seg"))
          .orderBy("k")
      },
      Some("""WITH base AS (SELECT c_custkey AS k,
             |                     CAST(round(CASE WHEN (isfinite(c_acctbal) AND abs(c_acctbal) <= 9e16) THEN c_acctbal END * 100) AS BIGINT) AS bal_cents,
             |                     c_mktsegment AS seg
             |              FROM customer),
             |changes AS (SELECT o_custkey AS k,
             |                   CAST(round(CASE WHEN (isfinite(o_totalprice) AND abs(o_totalprice) <= 9e16) THEN o_totalprice END * 100) AS BIGINT) AS new_bal
             |            FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
             |                          ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
             |                  FROM orders) WHERE rn = 1)
             |SELECT COALESCE(base.k, changes.k) AS k,
             |       COALESCE(changes.new_bal, base.bal_cents) AS bal_cents,
             |       COALESCE(base.seg, 'NEW') AS seg
             |FROM base FULL JOIN changes ON base.k = changes.k
             |ORDER BY k NULLS FIRST""".stripMargin)),

    /** Z-order (Morton) clustering value over (orderkey, partkey) folded to
      * 10 bits each — the multi-dimensional layout key
      * (graft.sources.Layout.zorderValue): sorting or partitioning by it
      * keeps BOTH join/filter dimensions clustered, so a box predicate
      * touches only overlapping quadtree cells (single-SORTKEY layouts prune
      * one dimension only; ZorderSpec proves the partition pruning on a real
      * write). Narrow integer bit math, no shuffle. */
    QueryDef(
      "an_zorder",
      // r21 A/B note: lineitemSpread was tried (to parallelize the range
      // sort's child) and measured +59% — the extra exchange of the wide
      // output rows costs more than the light bit-math projection saves.
      // Left narrow.
      (s, d) => Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          graft.sources.Layout.zorderValue(
            expr("l_orderkey % 1024"), expr("l_partkey % 1024"), bits = 10).as("zval"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some {
        val terms = (0 until 10).flatMap(j => Seq(
          s"((((l_orderkey % 1024) >> $j) & 1) << ${2 * j})",
          s"((((l_partkey % 1024) >> $j) & 1) << ${2 * j + 1})"))
        s"""SELECT l_orderkey, l_linenumber, l_partkey,
           |       CAST(${terms.mkString(" + ")} AS BIGINT) AS zval
           |FROM lineitem ORDER BY l_orderkey NULLS FIRST, l_linenumber""".stripMargin
      }),

    /** COHORT RETENTION: users bucketed by first-seen epoch-week, distinct
      * users per (cohort, week offset) — the engagement matrix behind every
      * product-analytics dashboard. Two shuffles: the per-user min (partial
      * aggregate pushes map-side) and the cohort×offset distinct count; the
      * first-week frame joins back user-keyed, so at scale both shuffles
      * hash on user_id and the join is co-partitioned (no extra exchange
      * under AQE). Integer epoch-week arithmetic only. */
    QueryDef(
      "an_retention",
      (s, d) => {
        val e = Tables.events(s, d)
          // an_sessionize's NULL-EVENT CONTRACT: no owner / no position
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), EpochTime.Week.of(col("ts")).as("wk"))
        val first = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
        e.join(first, "user_id")
          .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset_wk"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort_wk", "offset_wk")
      },
      Some(s"""WITH e AS (SELECT user_id, ${EpochTime.Week.sql("ts")} AS wk FROM events
             |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |f AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY user_id)
             |SELECT f.cohort_wk, e.wk - f.cohort_wk AS offset_wk,
             |       COUNT(DISTINCT e.user_id) AS n_users
             |FROM e JOIN f USING (user_id)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    /** Multi-join analytic through the SQL surface (join-reorder +
      * broadcast-hint showcase; Catalyst plans the dim chain as broadcasts). */
    QueryDef(
      "an_sql_revenue",
      (s, d) => {
        // lineitemSpread (r21, guide §2.5): the fact side probes four
        // broadcast dims and feeds the partial distinct-aggregate, all
        // pre-exchange — single-core on a coarse-row-group input.
        Tables.lineitemSpread(s, d).createOrReplaceTempView("li_sql")
        Tables.orders(s, d).createOrReplaceTempView("o_sql")
        Tables.customer(s, d).createOrReplaceTempView("c_sql")
        Tables.nation(s, d).createOrReplaceTempView("n_sql")
        Tables.region(s, d).createOrReplaceTempView("r_sql")
        s.sql("""SELECT /*+ BROADCAST(c_sql), BROADCAST(n_sql), BROADCAST(r_sql) */
                |       r_name,
                |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
                |         AS revenue,
                |       COUNT(DISTINCT o_orderkey) AS n_orders
                |FROM li_sql
                |JOIN o_sql ON l_orderkey = o_orderkey
                |JOIN c_sql ON o_custkey = c_custkey
                |JOIN n_sql ON c_nationkey = n_nationkey
                |JOIN r_sql ON n_regionkey = r_regionkey
                |GROUP BY r_name ORDER BY r_name NULLS FIRST""".stripMargin)
      },
      // r_name is nullable (the nullgrid stages a NULL-name region, reached
      // through a full dim chain since v6): NULL direction pinned both sides.
      Some("""SELECT r_name,
             |       CAST(SUM(TRY_CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS revenue,
             |       COUNT(DISTINCT o_orderkey) AS n_orders
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name NULLS FIRST""".stripMargin)),

    /** BATCH SESSIONIZATION — the offline twin of st_sessionize (streaming/
      * EventsStream.scala): split each user's event stream into sessions at
      * >30-minute gaps and emit per-session stats. The canonical gaps-and-
      * islands shape: lag() marks session starts, a running sum over the
      * SAME window numbers them (one doc_id-style shuffle on user_id, one
      * sort, both windows fused), then a grouped aggregate. Tied timestamps
      * are safe: equal-ms rows are indistinguishable in every selected
      * column, so any tie order yields the same (user_id, session_seq)
      * multiset. Scale shape: the window partitions by user_id — millions
      * of small independent partitions, no global sort anywhere before the
      * final presentation ORDER BY.
      *
      * NULL-EVENT CONTRACT (the user-grain/timeline rule, shared with
      * an_attribution / an_funnel / an_retention / st_sessionize): an
      * event with NULL `user_id` has no owner and one with NULL `ts` has
      * no position on the timeline — both are excluded, with the oracle
      * carrying the identical WHERE. Without it the engines genuinely
      * diverge (Spark windows sort a NULL ms FIRST, DuckDB LAST, shifting
      * every session_seq for that user), and at scale the NULL-user
      * pseudo-partition would hold EVERY anonymous event in one window —
      * the exact skew bomb the user_id partitioning exists to avoid. */
    QueryDef(
      "an_sessionize",
      (s, d) => {
        val w = Window
          .partitionBy(col("user_id")).orderBy(col("ms"))
        Tables.events(s, d)
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), EpochTime.Ms.of(col("ts")).as("ms"))
          .withColumn("new_sess",
            when(col("ms") - lag(col("ms"), 1).over(w) > SessionGapMs, 1L)
              .otherwise(when(lag(col("ms"), 1).over(w).isNull, 1L).otherwise(0L)))
          .withColumn("session_seq", sum(col("new_sess")).over(
            w.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)))
          .groupBy(col("user_id"), col("session_seq"))
          .agg(count(lit(1)).as("n_events"),
            min(col("ms")).as("start_ms"), max(col("ms")).as("end_ms"))
          .withColumn("dur_ms", col("end_ms") - col("start_ms"))
          .orderBy("user_id", "session_seq")
      },
      Some(s"""WITH e AS (SELECT user_id, ${EpochTime.Ms.sql("ts")} AS ms FROM events
             |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |m AS (SELECT user_id, ms,
             |        CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
             |               OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) > $SessionGapMs
             |             THEN 1 ELSE 0 END AS new_sess
             |      FROM e),
             |s AS (SELECT user_id, ms,
             |        CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms
             |                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |          AS session_seq
             |      FROM m)
             |SELECT user_id, session_seq, COUNT(*) AS n_events,
             |       MIN(ms) AS start_ms, MAX(ms) AS end_ms,
             |       MAX(ms) - MIN(ms) AS dur_ms
             |FROM s GROUP BY user_id, session_seq
             |ORDER BY user_id, session_seq""".stripMargin)),

    /** FIRST-TOUCH ATTRIBUTION — every `purchase` event credited to the
      * FIRST event of its session (the entry channel), with time-to-convert:
      * the marketing-attribution shape every event warehouse serves, built
      * on [[defs an_sessionize]]'s exact gaps-and-islands numbering. Ties
      * are made deterministic by ordering on (ms, event_id) — event_id is
      * unique, so equal-millisecond rows attribute identically in both
      * engines (an_sessionize could ignore ties because its outputs were
      * tie-invariant; first_type is NOT, so the order must be total).
      *
      * Scale shape: ONE shuffle on user_id that every window reuses — the
      * session-numbering windows key on user_id, and the per-session
      * first_value windows key on (user_id, session_seq), which a user_id
      * hash partitioning already co-locates (ClusteredDistribution is
      * satisfied; no second exchange, no self-join — first_value replaces
      * the firsts-table join). Millions of users = millions of small
      * independent partitions; no global sort before the presentation
      * ORDER BY. */
    QueryDef(
      "an_attribution",
      (s, d) => {
        val W = Window
        val wu = W.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
        val ws = W.partitionBy(col("user_id"), col("session_seq"))
          .orderBy(col("ms"), col("event_id"))
          .rowsBetween(W.unboundedPreceding, W.currentRow)
        Tables.events(s, d)
          // an_sessionize's NULL-EVENT CONTRACT: no owner / no position
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("event_id"), col("user_id"), col("event_type"),
            EpochTime.Ms.of(col("ts")).as("ms"))
          .withColumn("new_sess",
            when(lag(col("ms"), 1).over(wu).isNull, 1L)
              .when(col("ms") - lag(col("ms"), 1).over(wu) > SessionGapMs, 1L)
              .otherwise(0L))
          .withColumn("session_seq", sum(col("new_sess")).over(
            wu.rowsBetween(W.unboundedPreceding, W.currentRow)))
          .withColumn("first_type", first(col("event_type")).over(ws))
          .withColumn("first_ms", first(col("ms")).over(ws))
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("session_seq"),
            col("first_type"), (col("ms") - col("first_ms")).as("ms_to_convert"))
          .orderBy("event_id")
      },
      Some(s"""WITH e AS (SELECT event_id, user_id, event_type, ${EpochTime.Ms.sql("ts")} AS ms
             |           FROM events
             |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |m AS (SELECT *, CASE WHEN lag(ms) OVER w IS NULL
             |                       OR ms - lag(ms) OVER w > $SessionGapMs
             |                     THEN 1 ELSE 0 END AS new_sess
             |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
             |s AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id
             |                       ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING)
             |                     AS BIGINT) AS session_seq FROM m),
             |f AS (SELECT *, first_value(event_type) OVER ws AS first_type,
             |             first_value(ms) OVER ws AS first_ms
             |      FROM s WINDOW ws AS (PARTITION BY user_id, session_seq
             |                           ORDER BY ms, event_id
             |                           ROWS UNBOUNDED PRECEDING))
             |SELECT event_id, user_id, session_seq, first_type,
             |       CAST(ms - first_ms AS BIGINT) AS ms_to_convert
             |FROM f WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin)),

    /** Equi-width HISTOGRAM of document length — the stats-collection pass
      * behind length-based quality filters and planner NDV/skew estimates.
      * Two-pass shape: pass 1 computes the global max (one scalar, the
      * partial-agg tree makes it a map-side reduce), pass 2 buckets every
      * row against the broadcast scalar — integer arithmetic only
      * (`(n_chars * 10) div (max+1)` ∈ [0,9]), so bucket edges are
      * bit-identical in both engines. Neither pass shuffles more than the
      * 10-key final aggregate. */
    QueryDef(
      "an_histogram",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val mx = docs.agg(max(col("n_chars")).as("max_chars"))
        docs.crossJoin(broadcast(mx))
          .withColumn("bucket", expr("(n_chars * 10) div (max_chars + 1)"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"))
          .orderBy(col("bucket").asc_nulls_first)
      },
      Some("""WITH g AS (SELECT MAX(n_chars) AS max_chars FROM documents)
             |SELECT (n_chars * 10) // (g.max_chars + 1) AS bucket,
             |       COUNT(*) AS n_docs,
             |       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
             |FROM documents, g
             |GROUP BY 1 ORDER BY bucket NULLS FIRST""".stripMargin)),
  )
}
