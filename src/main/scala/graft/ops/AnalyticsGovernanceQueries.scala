package graft.ops

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{EpochTime, QueryDef, Tables}

/** The dataset-GOVERNANCE half of the analytics query surface (round-17
  * split, same template as [[AnalyticsOlapQueries]]): deterministic
  * hash/train-split/balanced/temperature/fixed sampling, skew and shard
  * drift reports, the data card, volume anomaly and heavy-hitter
  * monitors, corpus diff, k-anonymity audit, audience overlap, watermark
  * lag, backfill planning, and the experiment SRM gate — the
  * monitoring/audit surface a training-data pipeline runs on a schedule.
  * Mixed into [[Analytics]]; LAZY for the same object-init-order
  * reason. */
private[ops] trait AnalyticsGovernanceQueries { this: Analytics.type =>

  /** an_watermark_lag's freshness budget: an event type whose newest event
    * lags the newest of all by less than 4 hours is fresh. The streaming
    * twin ([[graft.streaming.EventsStream.freshnessFromMax]]) reads it too. */
  val FreshnessBudgetMs: Long = 4 * EpochTime.Hour.ms

  private[ops] lazy val governanceDefs: Seq[QueryDef] = Seq(

    /** Deterministic stratified sampling — the training-data mixing
      * primitive: per-source keep rates applied via a SHARED hash of the key
      * (md5 high bits mod 100), so the sample is reproducible in any engine
      * and stable under reruns/backfills — none of which holds for
      * rand()-based sampling. Narrow (no shuffle): the filter runs at the
      * scan. */
    QueryDef(
      "an_hash_sample",
      (s, d) => Tables.documents(s, d)
        .withColumn("bucket",
          expr(s"${hashBits("doc_id", 15)} % 100"))
        .filter(expr(
          "(source = 'src0' AND bucket < 25) OR " +
            "(source = 'src1' AND bucket < 75) OR " +
            "(source NOT IN ('src0', 'src1') AND bucket < 50)"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source").asc_nulls_first),
      Some(s"""WITH b AS (SELECT *,
             |  ${duckHashBits("doc_id", 15)} % 100 AS bucket
             |  FROM documents)
             |SELECT source, COUNT(*) AS n_sampled, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
             |FROM b
             |WHERE (source = 'src0' AND bucket < 25)
             |   OR (source = 'src1' AND bucket < 75)
             |   OR (source NOT IN ('src0', 'src1') AND bucket < 50)
             |GROUP BY source ORDER BY source NULLS FIRST""".stripMargin)),

    /** Deterministic stratified TRAIN/VAL/TEST split (80/10/10 by md5
      * bucket of doc_id) — the assignment every training pipeline needs to
      * be reproducible across reruns and engines (no RNG: the same doc
      * lands in the same split on any cluster, any partitioning, any day).
      * One narrow pass + one small aggregation; the per-doc split column is
      * the production output, the per-(source, split) counts emitted here
      * keep the oracle result compact. */
    QueryDef(
      "an_train_split",
      (s, d) => Tables.documents(s, d)
        .withColumn("bucket",
          expr(s"${hashBits("doc_id", 15)} % 100"))
        .withColumn("split",
          expr("CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source").asc_nulls_first, col("split")),
      Some(s"""WITH b AS (SELECT *,
             |  ${duckHashBits("doc_id", 15)} % 100 AS bucket
             |  FROM documents),
             |sp AS (SELECT source, n_chars,
             |         CASE WHEN bucket < 80 THEN 'train'
             |              WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
             |       FROM b)
             |SELECT source, split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
             |FROM sp GROUP BY source, split ORDER BY source NULLS FIRST, split""".stripMargin)),

    /** BALANCED (exact-count) per-stratum subsample — 30 documents per
      * language, deterministically (no RNG: md5 hash order, so any engine,
      * any partitioning, any rerun picks the same rows — the class-balanced
      * eval-set builder). See [[balancedSamplePhase1]] for the two-phase
      * rank that bounds every task at O(k·groups-per-task), never
      * O(stratum). Strata smaller than k yield all their rows (no coarse
      * prefilter to under-deliver on small strata). */
    QueryDef(
      "an_balanced_sample",
      (s, d) => {
        val wGlobal = Window
          .partitionBy(col("lang")).orderBy(col("hkey").asc, col("doc_id").asc)
        balancedSamplePhase1(
          Tables.documents(s, d).select(col("lang"), col("doc_id")), 30)
          .withColumn("pick", row_number().over(wGlobal))
          .filter(col("pick") <= 30)
          .select(col("lang"), col("doc_id"), col("pick").cast("int").as("pick"))
          .orderBy(col("lang").asc_nulls_first, col("pick"))
      },
      Some("""SELECT lang, doc_id, CAST(pick AS INTEGER) AS pick
             |FROM (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
             |        ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS pick
             |      FROM documents)
             |WHERE pick <= 30 ORDER BY lang NULLS FIRST, pick""".stripMargin)),

    /** TEMPERATURE-WEIGHTED SOURCE MIXING (α = 0.5) — the multilingual /
      * multi-source sampling plan every large pretraining run publishes:
      * sampling weight wᵢ ∝ nᵢ^α flattens the source distribution so
      * low-resource sources are upsampled relative to their raw share
      * (α=1 is proportional, α=0 uniform; 0.5 is the square-root
      * temperature the multilingual-LM lineage standardized). Per source:
      * raw docs, weight, the α-mix share vs the proportional share (ppm),
      * and the boost factor the mix applies.
      *
      * Cross-engine exactness: nᵢ^0.5 = sqrt(nᵢ) is a SINGLE
      * correctly-rounded IEEE-754 op in both engines (no float SUM, no
      * pow), immediately quantized to integer micro-units
      * (`floor(sqrt·1e6)` — double multiply is also correctly rounded), so
      * the share division is BIGINT-exact: no float aggregation ever
      * happens. Headroom: nᵢ = 10¹² docs → weight_micro 10¹² → numerator
      * 10¹⁸ < 2⁶³. Scale shape: one groupBy on source (the partial-agg
      * count), one broadcast scalar attach of the two totals — the
      * an_data_card discipline; output is |sources| rows. */
    QueryDef(
      "an_temperature_sample",
      (s, d) => {
        val n = Tables.documents(s, d)
          .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
          .withColumn("weight_micro",
            expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)"))
        val tot = n.agg(sum(col("n_docs")).as("tot_docs"),
          sum(col("weight_micro")).as("tot_w"))
        n.crossJoin(broadcast(tot))
          .withColumn("share_ppm", expr("(1000000 * weight_micro) div tot_w"))
          .withColumn("prop_ppm", expr("(1000000 * n_docs) div tot_docs"))
          .withColumn("boost_permille", expr("(1000 * share_ppm) div prop_ppm"))
          .select(col("source"), col("n_docs"), col("weight_micro"),
            col("share_ppm"), col("prop_ppm"), col("boost_permille"))
          .orderBy(col("source").asc_nulls_first)
      },
      Some("""WITH n AS (SELECT source, COUNT(*) AS n_docs,
             |         CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000) AS BIGINT)
             |           AS weight_micro
             |       FROM documents GROUP BY source),
             |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tot_docs,
             |               CAST(SUM(weight_micro) AS BIGINT) AS tot_w FROM n)
             |SELECT source, n_docs, weight_micro,
             |       (1000000 * weight_micro) // tot_w AS share_ppm,
             |       (1000000 * n_docs) // tot_docs AS prop_ppm,
             |       (1000 * ((1000000 * weight_micro) // tot_w))
             |         // ((1000000 * n_docs) // tot_docs) AS boost_permille
             |FROM n, tot ORDER BY source NULLS FIRST""".stripMargin)),

    /** FIXED-SIZE PER-STRATUM SAMPLE — exactly k=10 docs per source, chosen
      * as the k SMALLEST md5 draws (a deterministic reservoir: uniform over
      * each stratum, stable across engines, reruns, partitionings — the
      * eval-set constructor where an_hash_sample's threshold form yields a
      * RATE, not a count). The scale story is the bounded TopK Aggregator
      * (graft.functions.TopK, SURVEY §2.8): partial buffers cap every
      * map-side combine at k entries, so the shuffle carries
      * O(sources × k) rows where the window row_number formulation — the
      * oracle's formulation, deliberately an independent algorithm — sorts
      * every row of each stratum through the exchange. The 48-bit draw is
      * exact in a Double (2⁴⁸ < 2⁵³), so score ordering is bit-faithful.
      * Tie-break on an h48 collision inside a stratum: the aggregator's
      * total order is (score desc, id asc) — see graft.functions.TopK.lt —
      * so equal draws resolve by doc_id ASC, exactly the oracle's
      * `ORDER BY h48 ASC, doc_id ASC` (pinned by TopKSpec's equal-score
      * case; the round-13 advisory flagged this as score-only, but the id
      * leg of the comparator is the doc_id tie-break). */
    QueryDef(
      "an_fixed_sample",
      (s, d) => {
        import s.implicits._
        val scored = Tables.documents(s, d)
          .select(col("source"), col("doc_id"),
            expr(hashBits("doc_id", 12)).as("h48"))
          .as[(String, Long, Long)]
        scored.groupByKey(_._1)
          .mapValues(t => graft.functions.TopK.Scored(t._2, -t._3.toDouble))
          .agg(graft.functions.TopK.topK(10).toColumn)
          .flatMap { case (src, entries) =>
            entries.zipWithIndex.map { case (en, i) =>
              (src, en.id, (-en.score).toLong, i + 1)
            }
          }
          .toDF("source", "doc_id", "h48", "sample_rank")
          .withColumn("sample_rank", col("sample_rank").cast("int"))
          .orderBy(col("source").asc_nulls_first, col("sample_rank"))
      },
      Some(s"""SELECT source, doc_id, h48, CAST(rank AS INTEGER) AS sample_rank FROM (
             |  SELECT source, doc_id,
             |         ${duckHashBits("doc_id", 12)} AS h48,
             |         row_number() OVER (PARTITION BY source
             |           ORDER BY ${duckHashBits("doc_id", 12)} ASC, doc_id ASC) AS rank
             |  FROM documents)
             |WHERE rank <= 10 ORDER BY source NULLS FIRST, sample_rank""".stripMargin)),

    /** PER-KEY SKEW REPORT — the diagnostic a 100 TB operator runs before
      * choosing a join/aggregation strategy: the top-5 heaviest keys with
      * their row share, next to the global key count and total. Scale
      * shape: one partially-aggregated shuffle builds the per-key counts,
      * the top-5 comes from a distributed TakeOrdered (never a global
      * window over all keys), and the 1-row totals frame rides along as a
      * broadcast scalar. Integer share arithmetic only. */
    QueryDef(
      "an_skew_report",
      (s, d) => {
        val counts = Tables.events(s, d)
          .groupBy(col("user_id")).agg(count(lit(1)).as("n_rows"))
        val tot = counts.agg(count(lit(1)).as("n_keys"), sum(col("n_rows")).as("n_total"))
        val w = Window
          .orderBy(col("n_rows").desc, col("user_id").asc)
        counts.orderBy(col("n_rows").desc, col("user_id").asc).limit(5)
          .withColumn("rank", row_number().over(w).cast("int"))
          .crossJoin(broadcast(tot))
          .withColumn("share_permille", expr("(1000 * n_rows) div n_total"))
          .select(col("rank"), col("user_id"), col("n_rows"),
            col("share_permille"), col("n_keys"), col("n_total"))
          .orderBy("rank")
      },
      Some("""WITH c AS (SELECT user_id, COUNT(*) AS n_rows FROM events GROUP BY 1),
             |t AS (SELECT COUNT(*) AS n_keys, CAST(SUM(n_rows) AS BIGINT) AS n_total FROM c),
             |top AS (SELECT user_id, n_rows,
             |          row_number() OVER (ORDER BY n_rows DESC, user_id ASC) AS rank
             |        FROM c)
             |SELECT CAST(rank AS INTEGER) AS rank, user_id, n_rows,
             |       (1000 * n_rows) // n_total AS share_permille, n_keys, n_total
             |FROM top, t WHERE rank <= 5 ORDER BY rank""".stripMargin)),

    /** SHARD DRIFT REPORT — per daily shard, the total-variation distance
      * (in 1e-6 units) between the shard's event-type mix and the corpus
      * mix. The monitoring pass a 100 TB ingest runs on every new partition:
      * a drifting shard means upstream breakage or corpus rot, and it must
      * surface before the shard is blessed into training. Exact integer
      * shares on a FULL day×type grid (absent combinations count as zero —
      * without the grid a missing type would silently drop its |0 − g|
      * term). Scale shape: two partially-aggregated shuffles (day×type,
      * type), the type table and 1-row total ride as broadcasts, and the
      * grid is |days|·|types| rows — schema-sized, never data-sized. */
    QueryDef(
      "an_shard_drift",
      (s, d) => tvDriftByUnit(
          Tables.events(s, d)
            .select(EpochTime.Day.of(col("ts")).as("day"), col("event_type")),
          "day", "event_type", "n_events")
        // NULL day (a NULL-ts event's bucket) is a legitimate accounting
        // group in a monitor — kept, with the null direction pinned on both
        // sides (Spark ASC is NULLS FIRST, DuckDB NULLS LAST).
        .orderBy(col("day").asc_nulls_first),
      Some(s"""WITH e AS (SELECT ${EpochTime.Day.sql("ts")} AS day, event_type FROM events),
             |sh AS (SELECT day, event_type, COUNT(*) AS cnt FROM e GROUP BY 1, 2),
             |tot AS (SELECT day, CAST(SUM(cnt) AS BIGINT) AS tot FROM sh GROUP BY 1),
             |g AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS gcnt FROM sh GROUP BY 1),
             |gt AS (SELECT CAST(SUM(gcnt) AS BIGINT) AS gtot FROM g)
             |SELECT t.day,
             |       CAST(SUM(COALESCE(s.cnt, 0)) AS BIGINT) AS n_events,
             |       CAST(SUM(abs((1000000 * COALESCE(s.cnt, 0)) // t.tot
             |                    - (1000000 * g.gcnt) // gt.gtot)) AS BIGINT) AS tv_micro
             |FROM tot t CROSS JOIN g CROSS JOIN gt
             |LEFT JOIN sh s ON s.day = t.day AND s.event_type = g.event_type
             |GROUP BY t.day ORDER BY t.day NULLS FIRST""".stripMargin)),

    /** CORPUS DATA CARD — the per-language datasheet a training org
      * publishes with a corpus release: volume (docs, tokens, mean length),
      * exact-duplicate mass (corpus-wide fingerprints, attributed per
      * language), quality-gate pass counts (the tx_quality criteria), and
      * each language's share of the corpus — ONE plan, so the numbers are
      * mutually consistent by construction instead of stitched from
      * separate runs. Shapes: one fingerprint shuffle + join back (the
      * dd_exact key), narrow token/stopword arithmetic, one lang rollup,
      * 1-row total as broadcast. Integer units throughout. */
    QueryDef(
      "an_data_card",
      (s, d) => {
        val tk = "split(trim(text), ' +')"
        val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
          expr(s"size($tk)").as("ntok"),
          expr(s"size(filter($tk, t -> t IN ${graft.text.TextStats.stopList}))").as("nstop"),
          graft.dedup.Dedup.normFp(col("text")).as("fp"))
        // OPTIMIZATION r21 (guide §2.4): the per-fp copy count rides ONE
        // window over the fp shuffle instead of a groupBy(fp) + join-back —
        // which re-ran the whole tokenize+md5 docs subtree a second time
        // as the probe side (3 documents scans -> 2; the tot branch prunes
        // to a bare count). The inner `join(dupfp, "fp")` dropped NULL-fp
        // (NULL-text) docs — restated by the explicit filter; nfp over the
        // fp partition equals the joined group count for every kept row.
        val wFp = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
        val tot = docs.agg(count(lit(1)).as("total_docs"))
        docs.filter(col("fp").isNotNull)
          .withColumn("nfp", count(lit(1)).over(wFp))
          .crossJoin(broadcast(tot))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ntok")).as("n_tokens"),
            sum(when(col("nfp") >= 2, 1L).otherwise(0L)).as("n_dup"),
            sum(when(expr("ntok BETWEEN 10 AND 1000 AND (100 * nstop) div ntok < 40"),
              1L).otherwise(0L)).as("n_quality_pass"),
            max(col("total_docs")).as("total_docs"))
          // 128-bit product (an_volume_anomaly's DECIMAL(38,0) ≙ HUGEINT
          // discipline): 1e6 * n_tokens wraps a BIGINT once a language
          // holds > 9.2e12 tokens (~37 TB of text — inside this query's
          // stated regime); the QUOTIENT is per-doc micro-tokens, safely
          // back in 64 bits.
          .withColumn("avg_tokens_micro",
            expr("CAST((1000000 * CAST(n_tokens AS DECIMAL(38,0))) div n_docs AS BIGINT)"))
          .withColumn("docs_share_permille", expr("(1000 * n_docs) div total_docs"))
          .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_dup"),
            col("n_quality_pass"), col("avg_tokens_micro"), col("docs_share_permille"))
          .orderBy(col("lang").asc_nulls_first)
      },
      Some(s"""WITH docs AS (
             |  SELECT doc_id, lang,
             |         len(string_split_regex(trim(text), ' +')) AS ntok,
             |         len(list_filter(string_split_regex(trim(text), ' +'),
             |                         t -> t IN ${graft.text.TextStats.stopList})) AS nstop,
             |         md5(translate(regexp_replace(trim(text), ' +', ' ', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fp
             |  FROM documents),
             |dupfp AS (SELECT fp, COUNT(*) AS nfp FROM docs GROUP BY fp),
             |tot AS (SELECT COUNT(*) AS total_docs FROM docs)
             |SELECT lang, COUNT(*) AS n_docs,
             |       CAST(SUM(ntok) AS BIGINT) AS n_tokens,
             |       CAST(SUM(CASE WHEN nfp >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
             |       CAST(SUM(CASE WHEN ntok BETWEEN 10 AND 1000
             |                      AND (100 * nstop) // ntok < 40
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass,
             |       CAST((1000000 * CAST(SUM(ntok) AS HUGEINT)) // COUNT(*) AS BIGINT)
             |         AS avg_tokens_micro,
             |       (1000 * COUNT(*)) // total_docs AS docs_share_permille
             |FROM docs JOIN dupfp USING (fp), tot
             |GROUP BY lang, total_docs ORDER BY lang NULLS FIRST""".stripMargin)),

    /** VOLUME ANOMALY DAYS — flag days whose event count departs from the
      * corpus mean by more than 2σ, with the inequality cleared of all
      * division and square roots: |x−μ| > 2σ ⟺ (n·x − s)² > 4·(n·sq − s²)
      * where s = Σx, sq = Σx². The squared quantities are 128-bit exact —
      * Spark DECIMAL(38,0) ≙ DuckDB HUGEINT — because the BIGINT form
      * silently wraps once |n·x − s| passes ~3e9 (about 1e8 events/day over
      * 30 days, i.e. exactly the 100 TB regime): Spark would wrap while
      * DuckDB raised, so the engines diverged right where the gate matters.
      * Budget: dev² and n·sq stay under 1e38 for any physical corpus
      * (1e11 events/day × a century of days gives dev² ~ 1e31); the
      * diagnostic columns are emitted as exact decimal STRINGS so no
      * consumer is forced back into a 64-bit lane. The verdict stays
      * division- and sqrt-free. This is the day-shard volume gate next to
      * an_shard_drift's MIX gate (a shard can hold its type mix while
      * silently doubling or halving in volume). Shapes: one day rollup, a
      * 1-row broadcast stats frame, a map-side CASE. */
    QueryDef(
      "an_volume_anomaly",
      (s, d) => {
        val daily = Tables.events(s, d)
          .select(EpochTime.Day.of(col("ts")).as("day"))
          .groupBy(col("day")).agg(count(lit(1)).as("n_events"))
        val stats = daily.agg(count(lit(1)).as("n"),
          sum(col("n_events")).as("s"),
          sum(expr("CAST(n_events AS DECIMAL(19,0)) * n_events")).as("sq"))
        daily.crossJoin(broadcast(stats))
          .withColumn("dev", expr("CAST(n AS DECIMAL(19,0)) * n_events - s"))
          .withColumn("dev2", expr("dev * dev"))
          .withColumn("thresh2",
            expr("4 * (CAST(n AS DECIMAL(19,0)) * sq - CAST(s AS DECIMAL(19,0)) * s)"))
          .withColumn("is_anomaly", col("dev2") > col("thresh2"))
          .select(col("day"), col("n_events"),
            expr("CAST(dev2 AS STRING)").as("dev2"),
            expr("CAST(thresh2 AS STRING)").as("thresh2"),
            col("is_anomaly"))
          // an_shard_drift's NULL-day accounting-group pin
          .orderBy(col("day").asc_nulls_first)
      },
      Some(s"""WITH daily AS (SELECT ${EpochTime.Day.sql("ts")} AS day, COUNT(*) AS n_events
             |               FROM events GROUP BY 1),
             |st AS (SELECT COUNT(*) AS n, CAST(SUM(n_events) AS BIGINT) AS s,
             |              SUM(CAST(n_events AS HUGEINT) * n_events) AS sq
             |       FROM daily)
             |SELECT day, n_events,
             |       CAST((CAST(n AS HUGEINT) * n_events - s)
             |            * (CAST(n AS HUGEINT) * n_events - s) AS VARCHAR) AS dev2,
             |       CAST(4 * (CAST(n AS HUGEINT) * sq - CAST(s AS HUGEINT) * s)
             |            AS VARCHAR) AS thresh2,
             |       (CAST(n AS HUGEINT) * n_events - s)
             |         * (CAST(n AS HUGEINT) * n_events - s)
             |         > 4 * (CAST(n AS HUGEINT) * sq - CAST(s AS HUGEINT) * s)
             |         AS is_anomaly
             |FROM daily, st ORDER BY day NULLS FIRST""".stripMargin)),

    /** HEAVY HITTERS under the Misra-Gries sketch contract
      * (graft.functions.FreqSketch): the frequent-items op of a data
      * pipeline (hot tokens / domains / fingerprints) run where it is
      * HARD — a derived stream that concentrates half its mass on 5 hot
      * items and spreads the rest over thousands of singletons, so a
      * 16-counter summary is under constant decrement pressure from the
      * tail. The query emits the items the MG guarantee says MUST survive
      * (true count > n/(k+1), exact integer inequality), their exact
      * counts, and `in_sketch` — membership of each in the sketch actually
      * computed by the mergeable Aggregator. The oracle states the exact
      * heavy-hitter set plus literal TRUE, so a single guarantee violation
      * (an order-dependence bug in reduce/merge, a wrong subtraction rule)
      * hash-mismatches. Raw sketch contents are deliberately NOT emitted:
      * which tail items pad the remaining counters is order-dependent in
      * any MG, and the guarantee — not raw membership — is the portable
      * contract. Scale shape: the sketch side shuffles k counters per
      * partition (not the item domain); the exact side exists only for
      * verification, like every `_bound` companion. */
    QueryDef(
      "an_heavy_hitters",
      (s, d) => {
        val k = 16
        val items = Tables.events(s, d).select(
          expr("IF(pmod(event_id, 2) = 0, concat('hot_', event_type), " +
            "concat('cold_', CAST(event_id AS STRING)))").as("item"))
        val mg = udaf(graft.functions.FreqSketch.misraGries(k), Encoders.STRING)
        val sketch = items.agg(mg(col("item")).as("sk"))
        val exact = items.groupBy(col("item")).agg(count(lit(1)).as("n_exact"))
        val tot = exact.agg(sum(col("n_exact")).as("n"))
        exact.crossJoin(broadcast(tot))
          .filter(col("n_exact") * (k + 1) > col("n"))
          .crossJoin(broadcast(sketch))
          .select(col("item"), col("n_exact"),
            expr("array_contains(transform(sk, e -> e.item), item)").as("in_sketch"))
          .orderBy("item")
      },
      Some("""WITH it AS (SELECT CASE WHEN event_id % 2 = 0
             |                        THEN 'hot_' || event_type
             |                        ELSE 'cold_' || CAST(event_id AS VARCHAR)
             |                   END AS item FROM events),
             |c AS (SELECT item, COUNT(*) AS n_exact FROM it GROUP BY item),
             |tot AS (SELECT SUM(n_exact) AS n FROM c)
             |SELECT item, n_exact, TRUE AS in_sketch
             |FROM c, tot WHERE n_exact * 17 > n ORDER BY item""".stripMargin)),

    /** CORPUS RELEASE DIFF — what changed between dataset version v1 and
      * v2, by identity (doc_id) AND content (text fingerprint): the
      * data-versioning report a pipeline publishes with every release so
      * consumers know whether to re-train (`added`/`removed` shift the
      * mix, `changed` silently invalidates cached features). The fixture
      * ships one corpus version, so v2 is DERIVED deterministically in both
      * engines — drop doc_id % 13 = 0 (deletions), append a marker to
      * doc_id % 7 = 0 (content edits), re-id doc_id % 11 = 0 as
      * doc_id + 1000000 (additions) — exercising all four verdicts with
      * non-trivial per-source counts.
      *
      * Distributed shape: one md5 fingerprint per side (narrow), ONE
      * full-outer join on doc_id (the only corpus-sized shuffle; at scale
      * both releases would be bucketed by doc_id and the join co-locates),
      * verdict as a map-side CASE, source × status rollup of schema-sized
      * output. No windows, no pair expansion. */
    QueryDef(
      "an_corpus_diff",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val v1 = docs.select(col("doc_id"), col("source").as("src1"),
          md5(col("text")).as("fp1"))
        val v2base = docs.filter(expr("doc_id % 13 <> 0"))
          .select(col("doc_id"), col("source"),
            expr("CASE WHEN doc_id % 7 = 0 THEN concat(text, ' v2') " +
              "ELSE text END").as("text"))
        val v2 = v2base
          .select(expr("CASE WHEN doc_id % 11 = 0 THEN doc_id + 1000000 " +
              "ELSE doc_id END").as("doc_id"),
            col("source").as("src2"), md5(col("text")).as("fp2"))
        v1.join(v2, Seq("doc_id"), "full_outer")
          .withColumn("status", expr(
            """CASE WHEN fp1 IS NULL THEN 'added'
              |     WHEN fp2 IS NULL THEN 'removed'
              |     WHEN fp1 = fp2 THEN 'unchanged'
              |     ELSE 'changed' END""".stripMargin))
          .withColumn("source", coalesce(col("src1"), col("src2")))
          .groupBy(col("source"), col("status"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("source").asc_nulls_first, col("status"))
      },
      Some("""WITH v1 AS (SELECT doc_id, source AS src1, md5(text) AS fp1
             |            FROM documents),
             |v2b AS (SELECT doc_id, source,
             |          CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END
             |            AS text
             |        FROM documents WHERE doc_id % 13 <> 0),
             |v2 AS (SELECT CASE WHEN doc_id % 11 = 0 THEN doc_id + 1000000
             |                   ELSE doc_id END AS doc_id,
             |              source AS src2, md5(text) AS fp2 FROM v2b),
             |j AS (SELECT COALESCE(v1.src1, v2.src2) AS source,
             |             CASE WHEN fp1 IS NULL THEN 'added'
             |                  WHEN fp2 IS NULL THEN 'removed'
             |                  WHEN fp1 = fp2 THEN 'unchanged'
             |                  ELSE 'changed' END AS status
             |      FROM v1 FULL OUTER JOIN v2 USING (doc_id))
             |SELECT source, status, COUNT(*) AS n_docs
             |FROM j GROUP BY source, status ORDER BY source NULLS FIRST, status""".stripMargin)),

    /** K-ANONYMITY AUDIT — the release-governance check before event data
      * leaves the pipeline: group the stream by its quasi-identifier tuple
      * (event_type × hour-of-day × value decade) and flag every cell whose
      * DISTINCT-user support is below k=5 — those cells re-identify users
      * and must be suppressed or generalized before export. Emits the full
      * cell census with the verdict so the suppression step is a single
      * semi-join against the 'suppress' rows.
      *
      * Distributed shape: one shuffle keyed on the QI tuple carrying
      * (qi, user_id); the distinct-user count partial-aggregates map-side
      * after an in-partition distinct. Output is O(|QI domain|) — here
      * 24·|types|·|decades|, bounded regardless of corpus size. Decade
      * bucket = explicit floor(value/10) on both engines — a raw
      * double→bigint CAST truncates in Spark but rounds in DuckDB, and
      * integer division (`div` and `//` alike) truncates toward zero in
      * BOTH engines, so a negative value would bucket to the wrong
      * (toward-zero) decade under either shortcut. */
    QueryDef(
      "an_kanon_audit",
      (s, d) => Tables.events(s, d)
        .select(col("event_type"),
          EpochTime.hourOfDay(col("ts")).as("hour_of_day"),
          // Tables.centsSql's measure guard (NaN or |x| > 9e16 → NULL)
          expr("CAST(floor(CASE WHEN isnan(value) OR abs(value) > 9e16D THEN NULL ELSE value END / 10.0D) AS BIGINT)").as("value_decade"),
          col("user_id"))
        .groupBy(col("event_type"), col("hour_of_day"), col("value_decade"))
        .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
        .withColumn("verdict",
          when(col("n_users") >= 5, "ok").otherwise("suppress"))
        // value_decade is NULLABLE (a NULL event value survives the floor);
        // null direction pinned on BOTH sides because the engines' defaults
        // diverge — Spark ASC is NULLS FIRST, DuckDB NULLS LAST (the
        // an_union_by_name discipline).
        // event_type and hour_of_day are nullable too (a NULL type / a
        // NULL-ts event's hour) — same pin on every nullable key.
        .orderBy(col("event_type").asc_nulls_first,
          col("hour_of_day").asc_nulls_first,
          col("value_decade").asc_nulls_first),
      Some(s"""SELECT event_type, ${EpochTime.hourOfDaySql("ts")} AS hour_of_day,
             |       CAST(floor(CASE WHEN (isfinite(value) AND abs(value) <= 9e16) THEN value END / 10) AS BIGINT) AS value_decade,
             |       COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
             |       CASE WHEN COUNT(DISTINCT user_id) >= 5 THEN 'ok'
             |            ELSE 'suppress' END AS verdict
             |FROM events GROUP BY 1, 2, 3
             |ORDER BY event_type NULLS FIRST, hour_of_day NULLS FIRST,
             |         value_decade NULLS FIRST""".stripMargin)),

    /** AUDIENCE-OVERLAP MATRIX — |users(a) ∩ users(b)| and Jaccard for every
      * unordered pair of event types: the cross-feature co-engagement grid
      * behind funnel design and feature bundling (and the same shape as a
      * source-overlap audit on training corpora).
      *
      * Distributed shape: the ONLY data-sized shuffle is the
      * (user, type) DISTINCT; each user then carries a type SET bounded by
      * the type domain (not by activity), and the pair expansion is
      * O(|types|²) per user — never a user×user or row×row join. Per-type
      * audience sizes ride the same distinct frame, and the final join is
      * O(|types|²)-sized. At 100 TB the type domain is still dozens, so
      * everything after the distinct is negligible. */
    QueryDef(
      "an_audience_overlap",
      (s, d) => {
        val ut = Tables.events(s, d)
          // NULL-EVENT CONTRACT (user-grain rule): a NULL user_id is not a
          // user — without the filter Spark's groupBy(user_id) folds ALL
          // anonymous events into one pseudo-user whose type set emits
          // pairs, while the oracle's self-join (NULL = NULL → no match)
          // emits none: a genuine n_both divergence, not just ordering.
          .filter(col("user_id").isNotNull)
          .select(col("user_id"), col("event_type")).distinct()
        val pairs = ut.groupBy(col("user_id"))
          .agg(sort_array(collect_set(col("event_type"))).as("ts"))
          .select(explode(expr(
            "flatten(transform(ts, (a, i) -> " +
              "transform(slice(ts, i + 2, size(ts)), b -> struct(a AS ta, b AS tb))))"))
            .as("p"))
          .groupBy(col("p.ta").as("type_a"), col("p.tb").as("type_b"))
          .agg(count(lit(1)).as("n_both"))
        val n = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        pairs
          .join(broadcast(n.select(col("event_type").as("type_a"), col("n").as("na"))), "type_a")
          .join(broadcast(n.select(col("event_type").as("type_b"), col("n").as("nb"))), "type_b")
          .select(col("type_a"), col("type_b"), col("n_both"),
            expr("(1000 * n_both) div (na + nb - n_both)").as("jaccard_permille"))
          .orderBy("type_a", "type_b")
      },
      Some("""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events
             |            WHERE user_id IS NOT NULL),
             |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             |             COUNT(*) AS n_both
             |      FROM ut a JOIN ut b ON a.user_id = b.user_id
             |           AND a.event_type < b.event_type
             |      GROUP BY 1, 2),
             |n AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1)
             |SELECT type_a, type_b, n_both,
             |       (1000 * n_both) // (na.n + nb.n - n_both) AS jaccard_permille
             |FROM p JOIN n na ON na.event_type = type_a
             |       JOIN n nb ON nb.event_type = type_b
             |ORDER BY type_a, type_b""".stripMargin)),

    /** FRESHNESS / WATERMARK-LAG AUDIT — per event type, how far its newest
      * event trails the newest event anywhere: the staleness monitor that
      * catches a dead upstream producer (one topic stops flowing while the
      * rest advance). Reference point is the CORPUS max — self-contained
      * and engine-reproducible, where wall-clock `now()` would not be.
      * Verdict at a 4-hour lag budget.
      *
      * Distributed shape: one partial-aggregating max per type (map-side
      * combine), then an O(|types|) frame cross-joined with its own 1-row
      * global max — broadcast scalar, no second data pass. */
    QueryDef(
      "an_watermark_lag",
      (s, d) => {
        val perType = Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(max(EpochTime.Ms.of(col("ts"))).as("max_ms"))
        val global = perType.agg(max(col("max_ms")).as("global_max_ms"))
        perType.crossJoin(broadcast(global))
          .select(col("event_type"), col("max_ms"),
            expr("global_max_ms - max_ms").as("lag_ms"),
            expr(s"CASE WHEN global_max_ms - max_ms < $FreshnessBudgetMs THEN 'fresh' " +
              "ELSE 'stale' END").as("freshness"))
          // NULL event_type is an accounting group — kept, null pin both sides
          .orderBy(col("event_type").asc_nulls_first)
      },
      Some(s"""WITH m AS (SELECT event_type, MAX(${EpochTime.Ms.sql("ts")}) AS max_ms
             |          FROM events GROUP BY 1),
             |g AS (SELECT MAX(max_ms) AS global_max_ms FROM m)
             |SELECT event_type, max_ms, global_max_ms - max_ms AS lag_ms,
             |       CASE WHEN global_max_ms - max_ms < $FreshnessBudgetMs THEN 'fresh'
             |            ELSE 'stale' END AS freshness
             |FROM m, g ORDER BY event_type NULLS FIRST""".stripMargin)),

    /** BACKFILL PLANNER — per-type day-partition coverage against the
      * corpus calendar span: how many epoch-days between the corpus min and
      * max does each event type actually have data for, and how many are
      * holes a backfill job must fill. A missing day inside the span is the
      * operational signature of a dropped ingestion batch — the thing a
      * partitioned warehouse must detect BEFORE a consumer reads zeros.
      * Verdict 'backfill' when any day is missing (the spec plants holes;
      * the fixture calendar is complete, verdict 'complete' everywhere).
      *
      * Distributed shape: one (type, day) DISTINCT shuffle — day grain, so
      * the aggregate output is O(types×days) regardless of event volume —
      * then an O(types) rollup cross-joined with its own 1-row span. The
      * day GRID is never materialized (present-count vs span arithmetic),
      * so there is no generate_series × types expansion to shuffle. */
    QueryDef(
      "an_backfill_plan",
      (s, d) => {
        val td = Tables.events(s, d)
          .select(col("event_type"),
            EpochTime.Day.of(col("ts")).as("day")).distinct()
        val span = td.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        td.groupBy(col("event_type")).agg(count(lit(1)).as("n_days_present"))
          .crossJoin(broadcast(span))
          .select(col("event_type"), col("n_days_present"),
            expr("hi - lo + 1").as("span_days"),
            expr("hi - lo + 1 - n_days_present").as("n_missing"),
            expr("CASE WHEN hi - lo + 1 = n_days_present THEN 'complete' " +
              "ELSE 'backfill' END").as("verdict"))
          // NULL event_type is an accounting group — kept, null pin both sides
          .orderBy(col("event_type").asc_nulls_first)
      },
      Some(s"""WITH td AS (SELECT DISTINCT event_type,
             |              ${EpochTime.Day.sql("ts")} AS day FROM events),
             |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM td),
             |p AS (SELECT event_type, COUNT(*) AS n_days_present FROM td GROUP BY 1)
             |SELECT event_type, n_days_present, hi - lo + 1 AS span_days,
             |       hi - lo + 1 - n_days_present AS n_missing,
             |       CASE WHEN hi - lo + 1 = n_days_present THEN 'complete'
             |            ELSE 'backfill' END AS verdict
             |FROM p, span ORDER BY event_type NULLS FIRST""".stripMargin)),

    /** A/B ASSIGNMENT + SAMPLE-RATIO-MISMATCH GATE — the experimentation-
      * platform integrity check: users are deterministically bucketed
      * 50/50 into arms by md5(user_id) (the an_hash_sample bucket bits, so
      * assignment replays on any engine), then per event type the gate
      * compares arm audiences against the declared split. A distinct-user
      * imbalance beyond 3·⌊√n⌋ (≈3σ for a fair coin over n users) means
      * the assignment or logging pipe is corrupted and every downstream
      * metric read is invalid — the first dashboard any experiment review
      * checks. IEEE sqrt of an integer below 2⁵³ is correctly rounded, so
      * ⌊√n⌋ is engine-exact (the tx_mixture_sample discipline).
      *
      * Distributed shape: one (type, user) DISTINCT shuffle, conditional-
      * sum pivot to arm counts (partial-aggregating), O(types) verdict
      * arithmetic. */
    QueryDef(
      "an_experiment_srm",
      (s, d) => Tables.events(s, d)
        .select(col("event_type"), col("user_id")).distinct()
        .withColumn("arm", expr(
          s"CASE WHEN ${hashBits("user_id", 15)} % 100 < 50 THEN 'A' ELSE 'B' END"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_users_a"),
          sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_users_b"))
        .select(col("event_type"), col("n_users_a"), col("n_users_b"),
          abs(col("n_users_a") - col("n_users_b")).as("dev"),
          expr("3 * CAST(floor(sqrt(CAST(n_users_a + n_users_b AS DOUBLE))) AS BIGINT)")
            .as("bound"),
          expr("CASE WHEN abs(n_users_a - n_users_b) > " +
            "3 * CAST(floor(sqrt(CAST(n_users_a + n_users_b AS DOUBLE))) AS BIGINT) " +
            "THEN 'srm' ELSE 'ok' END").as("verdict"))
        // NULL event_type is an accounting group — kept, null pin both sides
        .orderBy(col("event_type").asc_nulls_first),
      Some(s"""WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
             |a AS (SELECT event_type,
             |        CASE WHEN ${duckHashBits("user_id", 15)} % 100 < 50
             |             THEN 'A' ELSE 'B' END AS arm
             |      FROM ut),
             |g AS (SELECT event_type,
             |        CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_users_a,
             |        CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_users_b
             |      FROM a GROUP BY event_type)
             |SELECT event_type, n_users_a, n_users_b,
             |       abs(n_users_a - n_users_b) AS dev,
             |       3 * CAST(floor(sqrt(CAST(n_users_a + n_users_b AS DOUBLE))) AS BIGINT)
             |         AS bound,
             |       CASE WHEN abs(n_users_a - n_users_b) >
             |            3 * CAST(floor(sqrt(CAST(n_users_a + n_users_b AS DOUBLE))) AS BIGINT)
             |            THEN 'srm' ELSE 'ok' END AS verdict
             |FROM g ORDER BY event_type NULLS FIRST""".stripMargin)),
  )
}
