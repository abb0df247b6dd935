package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{EpochTime, QueryDef, Tables}

/** Per-operator micro-queries: one `queries` entry per inventory row of
  * SURVEY.md §2, plus the relational breadth (join types, aggregation
  * grouping variants, windows, set ops, subqueries) a user of the engine
  * needs beyond strict reference parity.
  *
  * Determinism rules shared with every oracle (SURVEY.md §7 risk list):
  * explicit ORDER BY on a non-null key prefix; money sums carried as
  * DECIMAL(18,2) (exact, order-independent) or integer cents; averages as
  * integer micro-units via integer division; never raw double accumulation
  * in a compared column.
  *
  * Scale notes: dimension sides of joins are `broadcast()` (at 100 TB the
  * fact side streams with no shuffle); aggregations rely on Spark's
  * partial/final hash aggregate (map-side combine); window functions
  * partition by high-cardinality keys so no single partition explodes.
  */
object Relational {
  private val Dec9 = DecimalType(9, 0)

  private def cents(c: String) = expr(graft.Tables.centsSql(c))

  /** jn_asof_tolerance's horizon: an as-of match older than this many ms
    * is a miss (the fixture's order-to-event gap median, ~23 years). */
  private val AsofToleranceMs = 730000000000L

  /** jn_range's window: orders of one customer within 30 days. */
  private val RangeWindowMs = 30 * EpochTime.Day.ms

  /** Candidate pairs for the multi-pass fuzzy join (see `jn_fuzzy_multiblock`
    * below for the recall contract). Factored out so RelationalSpec can drive
    * it with a planted hot block. Input: (p_partkey, p_name, p_brand,
    * p_size). Output: deduped (part_a, part_b, na, nb) candidates from the
    * union of the (brand, size) and (name-prefix-12, size) passes, each
    * capped per-block by [[graft.dedup.Dedup.bucketedPairs]]. */
  def fuzzyMultiblockPairs(p: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def named(pairs: org.apache.spark.sql.DataFrame) = pairs
      .select(col("p.x.p_partkey").as("part_a"), col("p.y.p_partkey").as("part_b"),
        col("p.x.p_name").as("na"), col("p.y.p_name").as("nb"))
    val doc = struct(col("p_partkey"), col("p_name"))
    val byKey = graft.dedup.Dedup
      .bucketedPairs(p, doc, col("p_brand"), col("p_size"))
    val byPrefixSize = graft.dedup.Dedup
      .bucketedPairs(p, doc, substring(col("p_name"), 1, 12).as("pfx"), col("p_size"))
    named(byKey).union(named(byPrefixSize)).distinct()
  }

  /** The shared as-of composition for `jn_asof` / `jn_asof_tolerance`
    * (previously two verbatim ~20-line copies): order and event sides
    * unioned into one per-key timeline, with the last-seen orderkey AND
    * its timestamp carried forward by one window over ONE (k)-partitioned
    * shuffle. Equal-timestamp order sides are pre-deduped to the max
    * orderkey, and the `is_order desc` leg of the sort makes a same-tick
    * order visible to its event (DuckDB ASOF `>=` semantics). Both
    * consumers filter/project from this one frame, so the tie-break and
    * the o_orderdate cast cannot drift between them.
    *
    * NULL-EVENT CONTRACT (both inputs): a row with a NULL timeline
    * position (`ts` / `o_orderdate`) or a NULL key cannot participate in
    * an as-of match — excluded on BOTH inputs, with every consumer's
    * oracle carrying the matching WHEREs. Each leg closes a real
    * divergence: a NULL-ms EVENT sorts FIRST in Spark's window (dropped
    * by the `asof_orderkey IS NOT NULL` filter) while DuckDB's ASOF JOIN
    * sorts it LAST (matching the key's latest order — an accidental t=+∞
    * reading); a NULL-date ORDER likewise sorts FIRST in Spark, so its
    * orderkey is carried to events that DuckDB (`e.t >= o.t` over NULL →
    * no match) leaves unmatched; and the NULL-KEY rows of the two inputs
    * land in the SAME Spark window partition and match each other where
    * the oracle's `e.k = o.k` equi-condition never does (found by the
    * combined NULL-grid corpus — the single-table grids could not fire
    * the interaction). */
  private def asofComposed(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val orders = Tables.orders(s, d)
      .filter(col("o_custkey").isNotNull && col("o_orderdate").isNotNull)
      // o_orderdate arrives TIMESTAMP_NTZ; session TZ is UTC so the cast
      // matches DuckDB's epoch_ms on the naive value
      .groupBy(col("o_custkey").as("k"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("t"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
      .select(col("k"), col("t"), lit(1).as("is_order"),
        col("o_orderkey"), lit(null).cast("long").as("event_id"))
    val events = Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id").as("k"), EpochTime.Ms.of(col("ts")).as("t"),
        lit(0).as("is_order"), lit(null).cast("long").as("o_orderkey"),
        col("event_id"))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t").asc, col("is_order").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders.unionAll(events)
      .withColumn("asof_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .withColumn("asof_t",
        last(when(col("is_order") === 1, col("t")), ignoreNulls = true).over(w))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- S1/S2 scans -----------------------------------------------------
    QueryDef(
      "s1_scan_events",
      (s, d) => Tables.events(s, d)
        .select(
          col("event_id"),
          EpochTime.Ms.of(col("ts")).as("ms"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .orderBy("event_id"),
      Some(s"""SELECT event_id, ${EpochTime.Ms.sql("ts")} AS ms, user_id, event_type, value, props
             |FROM events ORDER BY event_id""".stripMargin)),
    QueryDef(
      "s2_scan_part",
      (s, d) => Tables.part(s, d).orderBy("p_partkey"),
      Some("SELECT * FROM part ORDER BY p_partkey")),

    // ---- P1-P3 projection / filter / cast --------------------------------
    QueryDef(
      "p1_project_alias",
      (s, d) => Tables.events(s, d)
        .select(col("event_id").as("eid"), col("user_id").as("uid"),
          col("event_type").as("etype"))
        .orderBy("eid"),
      Some("""SELECT event_id AS eid, user_id AS uid, event_type AS etype
             |FROM events ORDER BY eid""".stripMargin)),
    QueryDef(
      "p2_filter_literal",
      (s, d) => Tables.events(s, d)
        .filter(col("event_type") === "view")
        .select(col("event_id"), col("value"))
        .orderBy("event_id"),
      Some("""SELECT event_id, value FROM events
             |WHERE event_type = 'view' ORDER BY event_id""".stripMargin)),
    QueryDef(
      "p3_cast",
      (s, d) => Tables.events(s, d)
        .select(
          col("event_id"),
          col("user_id").cast(StringType).as("user_id_str"),
          // Load-rounding semantics live in the DECIMAL(9,0) cast (HALF_UP);
          // the scale-0 result is then carried as BIGINT so the compared
          // bytes are representation-independent across engines.
          col("value").cast(Dec9).cast(LongType).as("value_dec"))
        .orderBy("event_id"),
      Some("""SELECT event_id, CAST(user_id AS VARCHAR) AS user_id_str,
             |       CAST(TRY_CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(9,0)) AS BIGINT) AS value_dec
             |FROM events ORDER BY event_id""".stripMargin)),

    // ---- E1 scalar expression --------------------------------------------
    QueryDef(
      "e1_epoch_seconds",
      (s, d) => Tables.events(s, d)
        .select(
          col("event_id"),
          EpochTime.Ms.of(col("ts")).as("ms"),
          EpochTime.Second.of(col("ts")).as("sec"),
          EpochTime.secondStart(col("ts")).as("start_time"))
        .orderBy("event_id"),
      Some(s"""SELECT event_id, ${EpochTime.Ms.sql("ts")} AS ms, ${EpochTime.Second.sql("ts")} AS sec,
             |       ${EpochTime.secondStartSql("ts")} AS start_time
             |FROM events ORDER BY event_id""".stripMargin)),

    // ---- Join family -----------------------------------------------------
    QueryDef(
      "jn_inner_broadcast",
      (s, d) => {
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "inner")
          .select(o("o_orderkey"), c("c_custkey"), c("c_mktsegment"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, c_custkey, c_mktsegment
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |ORDER BY o_orderkey""".stripMargin)),
    QueryDef(
      "jn_left_outer",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
          .groupBy(c("c_custkey"))
          .agg(count(o("o_orderkey")).as("n_orders"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, COUNT(o_orderkey) AS n_orders
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),
    QueryDef(
      "jn_semi",
      (s, d) => {
        val c = Tables.customer(s, d)
        val big = Tables.orders(s, d).filter(col("o_totalprice") > 100000)
        c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
          .select(col("c_custkey"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey FROM customer WHERE EXISTS (
             |  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
             |ORDER BY c_custkey""".stripMargin)),
    QueryDef(
      "jn_anti",
      (s, d) => {
        val c = Tables.customer(s, d)
        val big = Tables.orders(s, d).filter(col("o_totalprice") > 250000)
        c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
          .select(col("c_custkey"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey FROM customer WHERE NOT EXISTS (
             |  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 250000)
             |ORDER BY c_custkey""".stripMargin)),
    QueryDef(
      "jn_full_outer",
      (s, d) => {
        val n = Tables.nation(s, d)
        val sup = Tables.supplier(s, d)
        n.join(sup, n("n_nationkey") === sup("s_nationkey"), "full_outer")
          .select(
            coalesce(n("n_nationkey"), sup("s_nationkey")).as("nk"),
            n("n_name"), sup("s_suppkey"))
          .orderBy(col("nk").asc_nulls_first, col("s_suppkey").asc_nulls_first)
      },
      Some("""SELECT COALESCE(n_nationkey, s_nationkey) AS nk, n_name, s_suppkey
             |FROM nation FULL JOIN supplier ON n_nationkey = s_nationkey
             |ORDER BY nk ASC NULLS FIRST, s_suppkey ASC NULLS FIRST""".stripMargin)),
    QueryDef(
      "jn_cross",
      (s, d) => {
        val r = Tables.region(s, d)
        val n = Tables.nation(s, d).filter(col("n_nationkey") < 5)
          .select("n_nationkey")
        r.crossJoin(n).select(col("r_regionkey"), col("n_nationkey"))
          .orderBy("r_regionkey", "n_nationkey")
      },
      Some("""SELECT r_regionkey, n_nationkey
             |FROM region CROSS JOIN (SELECT n_nationkey FROM nation WHERE n_nationkey < 5)
             |ORDER BY r_regionkey NULLS FIRST, n_nationkey""".stripMargin)),

    /** As-of join — an operator Spark lacks natively, composed from
      * built-ins the scalable way (SURVEY preference (a)): tag both inputs,
      * union, and carry the latest order forward with an ignore-nulls
      * `last()` over a (key, time) window. One shuffle on the key, no
      * range-condition row explosion, state bounded by the window — exactly
      * how an as-of join distributes at 100 TB. The oracle is DuckDB's
      * NATIVE `ASOF JOIN`, i.e. an independent implementation of the same
      * semantics. Order sides with equal timestamps are pre-deduped to the
      * max orderkey so both engines are deterministic. */
    QueryDef(
      "jn_asof",
      (s, d) => asofComposed(s, d)
        .filter(col("is_order") === 0 && col("asof_orderkey").isNotNull)
        .select(col("event_id"), col("k").as("user_id"), col("asof_orderkey"))
        .orderBy("event_id"),
      Some(s"""WITH o AS (SELECT o_custkey AS k, epoch_ms(o_orderdate) AS t,
             |                  MAX(o_orderkey) AS o_orderkey
             |           FROM orders
             |           WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
             |           GROUP BY 1, 2),
             |e AS (SELECT user_id AS k, ${EpochTime.Ms.sql("ts")} AS t, event_id FROM events
             |      WHERE user_id IS NOT NULL AND ts IS NOT NULL)
             |SELECT e.event_id, e.k AS user_id, o.o_orderkey AS asof_orderkey
             |FROM e ASOF JOIN o ON e.k = o.k AND e.t >= o.t
             |ORDER BY event_id""".stripMargin)),

    /** As-of join with a tolerance horizon: same distribution shape as
      * jn_asof, but the matched order's timestamp is carried alongside so a
      * residual filter enforces `event.t - order.t <= tol` — the "match
      * only if recent enough" form every as-of consumer eventually needs
      * (stale matches become misses). Still one shuffle, no row explosion;
      * the oracle is DuckDB's native ASOF JOIN with the same residual.
      * (Fixture event times sit ~22-27 years after the order era, so the
      * tolerance cuts at the gap median to exercise both keep and drop.) */
    QueryDef(
      "jn_asof_tolerance",
      (s, d) => {
        asofComposed(s, d)
          .filter(col("is_order") === 0 && col("asof_orderkey").isNotNull &&
            col("t") - col("asof_t") <= AsofToleranceMs)
          .select(col("event_id"), col("k").as("user_id"), col("asof_orderkey"))
          .orderBy("event_id")
      },
      Some(s"""WITH o AS (SELECT o_custkey AS k, epoch_ms(o_orderdate) AS t,
             |                  MAX(o_orderkey) AS o_orderkey
             |           FROM orders
             |           WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
             |           GROUP BY 1, 2),
             |e AS (SELECT user_id AS k, ${EpochTime.Ms.sql("ts")} AS t, event_id FROM events
             |      WHERE user_id IS NOT NULL AND ts IS NOT NULL)
             |SELECT e.event_id, e.k AS user_id, o.o_orderkey AS asof_orderkey
             |FROM e ASOF JOIN o ON e.k = o.k AND e.t >= o.t
             |WHERE e.t - o.t <= $AsofToleranceMs
             |ORDER BY event_id""".stripMargin)),

    /** Range join, bucketized — the scale-correct shape for interval
      * predicates: equi-join on a coarse time bucket (so Catalyst plans a
      * hash join, never a nested-loop theta join), then filter the precise
      * range. Each row lands in ⌈range/bucket⌉+1 buckets; here: orders
      * matched to same-customer orders within 30 days (bucket = 30 days).
      * The oracle states the plain range predicate directly. */
    QueryDef(
      "jn_range",
      (s, d) => {
        val W = RangeWindowMs
        val o = Tables.orders(s, d).select(
          col("o_custkey").as("k"),
          col("o_orderkey"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("t"))
        val l = o.select(col("k"), col("o_orderkey").as("a"), col("t").as("ta"))
          .withColumn("bkt", explode(array(
            expr(s"ta div $W - 1"), expr(s"ta div $W"), expr(s"ta div $W + 1"))))
        val r = o.select(col("k").as("k2"), col("o_orderkey").as("b"), col("t").as("tb"))
          .withColumn("bkt2", expr(s"tb div $W"))
        l.join(r, l("k") === r("k2") && l("bkt") === r("bkt2") &&
            l("a") < r("b") &&
            r("tb") >= l("ta") - W && r("tb") <= l("ta") + W)
          .select(col("k").as("o_custkey"), col("a"), col("b")).distinct()
          .orderBy("o_custkey", "a", "b")
      },
      Some(s"""SELECT DISTINCT l.o_custkey AS o_custkey, l.o_orderkey AS a, r.o_orderkey AS b
             |FROM orders l JOIN orders r
             |  ON l.o_custkey = r.o_custkey AND l.o_orderkey < r.o_orderkey
             | AND epoch_ms(r.o_orderdate) BETWEEN epoch_ms(l.o_orderdate) - $RangeWindowMs
             |                                 AND epoch_ms(l.o_orderdate) + $RangeWindowMs
             |ORDER BY o_custkey, a, b""".stripMargin)),

    /** Fuzzy (edit-distance) join, blocked — approximate string matching
      * without the quadratic cross product: exact equi-join on a blocking
      * key (brand, size), in-block pair expansion capped at 1000 per block
      * (the Dedup.MaxBucket discipline — a degenerate block must not go
      * quadratic), then `levenshtein` ≤ 10 verification. Both engines
      * implement standard Levenshtein, so the oracle is exact. At scale the
      * blocking key is the whole game: the shuffle carries blocks, and
      * distance runs only inside them. */
    QueryDef(
      "jn_fuzzy_name",
      (s, d) => {
        val p = Tables.part(s, d)
          .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"))
        // No length-difference prefilter ahead of the verify: p_name lengths
        // span 7-12 chars, so |len(a)-len(b)| ≤ 10 passes 100% of candidates
        // (and levenshtein ≤ 10 itself passes 99.1%) — measured in r22 and
        // rejected.
        graft.dedup.Dedup
          .bucketedPairs(p, struct(col("p_partkey"), col("p_name")),
            col("p_brand"), col("p_size"))
          .select(col("p.x.p_partkey").as("part_a"), col("p.y.p_partkey").as("part_b"),
            levenshtein(col("p.x.p_name"), col("p.y.p_name")).as("edit_dist"))
          .filter(col("edit_dist") <= 10)
          .orderBy("part_a", "part_b")
      },
      Some(s"""WITH p AS (SELECT p_partkey, p_name, p_brand, p_size FROM part),
              |keep AS (SELECT p_brand, p_size FROM p GROUP BY 1, 2
              |         HAVING COUNT(*) <= ${graft.dedup.Dedup.MaxBucket})
              |SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
              |       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
              |FROM p a JOIN keep k ON a.p_brand = k.p_brand AND a.p_size = k.p_size
              |     JOIN p b ON a.p_brand = b.p_brand AND a.p_size = b.p_size
              |              AND a.p_partkey < b.p_partkey
              |WHERE levenshtein(a.p_name, b.p_name) <= 10
              |ORDER BY part_a, part_b""".stripMargin)),

    /** Multi-pass blocking for the fuzzy join: a typo in the BLOCKING KEY
      * itself ((brand, size) above) escapes that block entirely — the
      * standard fix is to union candidates from a second key that EXCLUDES
      * the suspect field before the verify step. Pass 1 blocks on
      * (brand, size) and so tolerates any name corruption; pass 2 blocks on
      * (name-prefix-12, size) and so tolerates any brand corruption.
      *
      * RECALL CONTRACT: a true pair is found iff at least one pass keeps it,
      * i.e. iff (brand AND size agree) OR (name-prefix-12 AND size agree) for
      * a block of ≤ MaxBucket members. Lost, by design: (a) pairs where two
      * of the three fields are corrupted at once (no pass's key survives),
      * (b) pairs whose first 12 name chars differ AND brand differs, and
      * (c) pairs inside a block larger than MaxBucket — dropped entirely,
      * like every banded-LSH generator here. Round 4 used name-prefix ALONE
      * as the second key; the fixture has only 64 distinct names, so every
      * block held n/64 docs (313 at sf0.1, ~3.1 M pairs, 11 s — and at 3×
      * more data every block would cross the cap and pass-2 recall would
      * drop to exactly 0). Compounding with size multiplies key cardinality
      * by 50: measured blocks at sf0.1 are max 17 / p99 13 vs cap 1000 —
      * the cap is ~60× of p99 away instead of 3×, and cost is ~62 k capped
      * candidates instead of 3.1 M.
      *
      * Same audited `cappedElementPairs` bound on both passes; candidates
      * are deduped BEFORE the levenshtein verify so each pair is scored
      * once. RelationalSpec proves the cap fires on a planted hot
      * (prefix, size) block and that a brand-typo pair is recovered by
      * pass 2. */
    QueryDef(
      "jn_fuzzy_multiblock",
      (s, d) => {
        val p = Tables.part(s, d)
          .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"))
        fuzzyMultiblockPairs(p)
          .select(col("part_a"), col("part_b"),
            levenshtein(col("na"), col("nb")).as("edit_dist"))
          .filter(col("edit_dist") <= 10)
          .orderBy("part_a", "part_b")
      },
      Some(s"""WITH p AS (SELECT p_partkey, p_name, p_brand, p_size FROM part),
              |k1 AS (SELECT p_brand, p_size FROM p GROUP BY 1, 2
              |       HAVING COUNT(*) <= ${graft.dedup.Dedup.MaxBucket}),
              |c1 AS (SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
              |              a.p_name AS na, b.p_name AS nb
              |       FROM p a JOIN k1 k ON a.p_brand = k.p_brand AND a.p_size = k.p_size
              |            JOIN p b ON a.p_brand = b.p_brand AND a.p_size = b.p_size
              |                     AND a.p_partkey < b.p_partkey),
              |k2 AS (SELECT substring(p_name, 1, 12) AS pfx, p_size FROM p GROUP BY 1, 2
              |       HAVING COUNT(*) <= ${graft.dedup.Dedup.MaxBucket}),
              |c2 AS (SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
              |              a.p_name AS na, b.p_name AS nb
              |       FROM p a JOIN k2 k ON substring(a.p_name, 1, 12) = k.pfx
              |                         AND a.p_size = k.p_size
              |            JOIN p b ON substring(b.p_name, 1, 12) = k.pfx
              |                     AND b.p_size = k.p_size
              |                     AND a.p_partkey < b.p_partkey),
              |u AS (SELECT * FROM c1 UNION SELECT * FROM c2)
              |SELECT part_a, part_b, CAST(levenshtein(na, nb) AS INTEGER) AS edit_dist
              |FROM u WHERE levenshtein(na, nb) <= 10
              |ORDER BY part_a, part_b""".stripMargin)),

    // ---- Aggregation family ----------------------------------------------
    QueryDef(
      "agg_groupby",
      // r22 A/B note (VERDICT r21 next-round #1): Tables.lineitemSpread was
      // tried here and measured a WASH (paired min-of-4: 0.755 → 0.742,
      // −2%) — unlike its Expand sibling agg_rollup (−24%), the plain
      // per-row work (two decimal casts + sum partials) is too light to
      // beat the spread exchange's cost. Left narrow.
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // per-value DECIMAL cast BEFORE the sum (the sum_base discipline):
          // a raw double accumulation is order-dependent, and its final
          // CAST AS BIGINT truncates in Spark but rounds in DuckDB — exact
          // only while every l_quantity is integer-valued. The explicit
          // scale-0 re-round makes the fractional case identical too.
          expr("CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) " +
            "AS DECIMAL(18,0)) AS BIGINT)").as("sum_qty"),
          expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2))")
            .as("sum_base"),
          count(lit(1)).as("n"))
        .withColumn("avg_qty_micro", expr("(sum_qty * 1000000) div n"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |       CAST(CAST(SUM(TRY_CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS DECIMAL(18,2))) AS DECIMAL(18,0))
             |            AS BIGINT) AS sum_qty,
             |       CAST(SUM(TRY_CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_base,
             |       COUNT(*) AS n,
             |       (CAST(CAST(SUM(TRY_CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END AS DECIMAL(18,2))) AS DECIMAL(18,0))
             |             AS BIGINT) * 1000000) // COUNT(*) AS avg_qty_micro
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),
    QueryDef(
      "agg_having",
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 15)
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey, COUNT(*) AS n_orders FROM orders
             |GROUP BY o_custkey HAVING COUNT(*) >= 15
             |ORDER BY o_custkey""".stripMargin)),
    QueryDef(
      "agg_count_distinct",
      (s, d) => Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority NULLS FIRST""".stripMargin)),
    QueryDef(
      "agg_rollup",
      // lineitemSpread (r21, guide §2.5): Expand triples the fact stream
      // BEFORE the partial aggregate, all pre-exchange — single-core on a
      // coarse-row-group input; no-op on well-laid-out sources.
      (s, d) => Tables.lineitemSpread(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        // grouping()-labeled subtotals: a plain coalesce-to-'_all_' would
        // conflate a genuine NULL data group with the subtotal row, tying
        // the sort keys and making the ordered compare nondeterministic.
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2))")
            .as("sum_base"),
          grouping(col("l_returnflag")).as("g_rf"),
          grouping(col("l_linestatus")).as("g_ls"))
        .select(
          when(col("g_rf") === 1, "_all_")
            .otherwise(coalesce(col("l_returnflag"), lit("_null_"))).as("rf"),
          when(col("g_ls") === 1, "_all_")
            .otherwise(coalesce(col("l_linestatus"), lit("_null_"))).as("ls"),
          col("n"), col("sum_base"))
        .orderBy("rf", "ls"),
      Some("""SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN '_all_'
             |            ELSE COALESCE(l_returnflag, '_null_') END AS rf,
             |       CASE WHEN GROUPING(l_linestatus) = 1 THEN '_all_'
             |            ELSE COALESCE(l_linestatus, '_null_') END AS ls,
             |       COUNT(*) AS n,
             |       CAST(SUM(TRY_CAST(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_base
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY rf, ls""".stripMargin)),
    QueryDef(
      "agg_cube",
      (s, d) => Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        // grouping()-labeled subtotals — the agg_rollup tie-safety rule.
        .agg(count(lit(1)).as("n"),
          grouping(col("o_orderstatus")).as("g_st"),
          grouping(col("o_orderpriority")).as("g_pri"))
        .select(
          when(col("g_st") === 1, "_all_")
            .otherwise(coalesce(col("o_orderstatus"), lit("_null_"))).as("st"),
          when(col("g_pri") === 1, "_all_")
            .otherwise(coalesce(col("o_orderpriority"), lit("_null_"))).as("pri"),
          col("n"))
        .orderBy("st", "pri"),
      Some("""SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN '_all_'
             |            ELSE COALESCE(o_orderstatus, '_null_') END AS st,
             |       CASE WHEN GROUPING(o_orderpriority) = 1 THEN '_all_'
             |            ELSE COALESCE(o_orderpriority, '_null_') END AS pri,
             |       COUNT(*) AS n
             |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
             |ORDER BY st, pri""".stripMargin)),

    // ---- Window family ---------------------------------------------------
    QueryDef(
      "w_topn",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |         row_number() OVER (PARTITION BY o_custkey
             |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
             |  FROM orders) WHERE rn <= 2
             |ORDER BY o_custkey NULLS FIRST, rn""".stripMargin)),
    QueryDef(
      "w_running_sum",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(s, d)
          .withColumn("cents", cents("o_totalprice"))
          .withColumn("running_cents", sum(col("cents")).over(w))
          .select(col("o_custkey"), col("o_orderkey"), col("running_cents"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |       CAST(SUM(CAST(round(CASE WHEN (isfinite(o_totalprice) AND abs(o_totalprice) <= 9e16) THEN o_totalprice END * 100) AS BIGINT))
             |            OVER (PARTITION BY o_custkey
             |                  ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey ASC
             |                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents
             |FROM orders
             |ORDER BY o_custkey NULLS FIRST, o_orderkey""".stripMargin)),
    QueryDef(
      "w_lag",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        Tables.orders(s, d)
          .withColumn("prev_cents", lag(cents("o_totalprice"), 1).over(w))
          .select(col("o_custkey"), col("o_orderkey"), col("prev_cents"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |       lag(CAST(round(CASE WHEN (isfinite(o_totalprice) AND abs(o_totalprice) <= 9e16) THEN o_totalprice END * 100) AS BIGINT), 1)
             |         OVER (PARTITION BY o_custkey
             |               ORDER BY o_orderdate ASC NULLS FIRST, o_orderkey ASC) AS prev_cents
             |FROM orders
             |ORDER BY o_custkey NULLS FIRST, o_orderkey""".stripMargin)),

    // ---- Sort / limit ----------------------------------------------------
    QueryDef(
      "sort_limit_topk",
      (s, d) => Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice")),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin)),

    // ---- Set operations --------------------------------------------------
    QueryDef(
      "set_union_all",
      (s, d) => {
        val c = Tables.customer(s, d)
          .select(col("c_custkey").as("k"), lit("c").as("src"))
        val sup = Tables.supplier(s, d)
          .select(col("s_suppkey").as("k"), lit("s").as("src"))
        c.unionAll(sup).orderBy("k", "src")
      },
      Some("""SELECT c_custkey AS k, 'c' AS src FROM customer
             |UNION ALL SELECT s_suppkey AS k, 's' AS src FROM supplier
             |ORDER BY k, src""".stripMargin)),
    QueryDef(
      "set_intersect",
      (s, d) => Tables.customer(s, d).select(col("c_nationkey").as("nk"))
        .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nk")))
        .orderBy("nk"),
      Some("""SELECT c_nationkey AS nk FROM customer
             |INTERSECT SELECT s_nationkey AS nk FROM supplier
             |ORDER BY nk NULLS FIRST""".stripMargin)),
    QueryDef(
      "set_except",
      (s, d) => Tables.part(s, d).select(col("p_partkey").as("k"))
        .except(Tables.lineitem(s, d).filter(col("l_quantity") > 45)
          .select(col("l_partkey").as("k")))
        .orderBy("k"),
      Some("""SELECT p_partkey AS k FROM part
             |EXCEPT SELECT l_partkey AS k FROM lineitem WHERE l_quantity > 45
             |ORDER BY k""".stripMargin)),

    // ---- Scalar functions: strings, CASE, COALESCE, JSON -----------------
    QueryDef(
      "str_funcs",
      (s, d) => Tables.customer(s, d)
        .filter(col("c_name").like("%1%"))
        .select(
          col("c_custkey"),
          upper(col("c_name")).as("uname"),
          substring(col("c_name"), 1, 9).as("prefix"),
          length(col("c_name")).as("name_len"),
          when(col("c_acctbal") < 0, "neg").otherwise("pos").as("sign_flag"),
          coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("-")).as("seg"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, UPPER(c_name) AS uname, substr(c_name, 1, 9) AS prefix,
             |       CAST(length(c_name) AS INTEGER) AS name_len,
             |       CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS sign_flag,
             |       COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '-') AS seg
             |FROM customer WHERE c_name LIKE '%1%'
             |ORDER BY c_custkey""".stripMargin)),
    QueryDef(
      "json_extract",
      // eventsSpread (r21, guide §2.5): two JSON path extractions per row,
      // pre-exchange.
      (s, d) => Tables.eventsSpread(s, d)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          get_json_object(col("props"), "$.k").cast(IntegerType).as("k_int"))
        .orderBy("event_id"),
      // TRY_CAST (the dd_exact_priority discipline): Spark's .cast yields
      // NULL on a non-numeric k while a plain DuckDB CAST would abort the
      // whole oracle instead of producing the comparable NULL.
      Some("""SELECT event_id, json_extract_string(props, '$.k') AS k_str,
             |       TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int
             |FROM events ORDER BY event_id""".stripMargin)),

    // ---- Subqueries ------------------------------------------------------
    QueryDef(
      "sub_scalar",
      (s, d) => {
        val o = Tables.orders(s, d)
        val m = o.agg(max(col("o_totalprice")).as("mx"))
        o.crossJoin(broadcast(m))
          .filter(col("o_totalprice") > col("mx") * 0.98)
          .select(col("o_orderkey"), col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_totalprice > (SELECT MAX(o_totalprice) FROM orders) * 0.98
             |ORDER BY o_orderkey""".stripMargin)),
    QueryDef(
      "sub_in",
      (s, d) => {
        val rich = Tables.customer(s, d).filter(col("c_acctbal") > 9000)
        val o = Tables.orders(s, d)
        o.join(broadcast(rich), o("o_custkey") === rich("c_custkey"), "left_semi")
          .select(col("o_orderkey"), col("o_custkey"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey FROM orders
             |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
             |ORDER BY o_orderkey""".stripMargin)),
  )
}
