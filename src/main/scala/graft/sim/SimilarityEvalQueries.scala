package graft.sim

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef

/** The EVALUATION / MONITORING half of the similarity query surface
  * (round-17 split, same template as [[SimilarityServeQueries]]): recall
  * evals against brute-force ground truth (ann/pq), the nprobe
  * recall-vs-cost sweep, centroid-outlier and per-dimension drift
  * monitors, and the norm audit. All pair- or model-sized — none of these
  * scan beyond what the serving paths already materialize. Mixed into
  * [[Similarity]]; LAZY for the same object-init-order reason as
  * `serveDefs`. */
private[sim] trait SimilarityEvalQueries { this: Similarity.type =>

  private[sim] lazy val evalDefs: Seq[QueryDef] = Seq(

    /** ANN RECALL@3 EVAL — index quality as an operator, not a one-off
      * notebook: per query, how many of the exact brute-force top-3 the
      * IVF search returned (1000‰ = perfect). Production runs this
      * continuously on a query sample after every index rebuild — a recall
      * regression is corpus drift or a bad training run, and it must
      * surface BEFORE serving degrades. Cost is the brute pass on the
      * SAMPLE only (queries broadcast over one corpus scan); the IVF side
      * reuses the memoized trained index. The left join from the exact
      * top-3 guarantees every query reports, hits or not. */
    QueryDef(
      "sim_ann_recall",
      (s, d) => {
        val ivf = annIvfSearch(s, d, K, NProbe)
          .select(col("q_id"), col("cand_id")).withColumn("hit", lit(1))
        bruteTopK(s, d, 3)
          .select(col("q_id"), col("cand_id"))
          .join(ivf, Seq("q_id", "cand_id"), "left_outer")
          .groupBy(col("q_id"))
          .agg(count(col("hit")).as("n_hits"))
          .withColumn("recall_permille", expr("(1000 * n_hits) div 3"))
          .orderBy("q_id")
      },
      Some(s"""WITH ${duckKmeansChain()},
              |${duckIvfCtes(NProbe)},
              |ivf AS (SELECT q_id, cand_id FROM ivfranked WHERE rank <= 3),
              |${duckBruteCte(3)}
              |SELECT b.q_id, CAST(COUNT(i.cand_id) AS BIGINT) AS n_hits,
              |       (1000 * CAST(COUNT(i.cand_id) AS BIGINT)) // 3 AS recall_permille
              |FROM brute b LEFT JOIN ivf i
              |  ON i.q_id = b.q_id AND i.cand_id = b.cand_id
              |GROUP BY b.q_id ORDER BY b.q_id""".stripMargin)),

    /** NPROBE TUNING SWEEP — the recall-vs-probe-budget curve an IVF
      * operator is actually tuned on: aggregate recall@3 vs brute force at
      * nprobe ∈ {1, 2, 4}, one row per setting. This is the artifact a
      * capacity review reads — "what recall does each unit of probe budget
      * buy on OUR corpus" — and it must come from the same engine-exact
      * index the serving path uses (the memoized trained model + stored
      * cell table; the oracle replays training and ranks candidates per
      * (nprobe, query) from one shared probe ranking). Cost: ONE brute
      * pass on the 8-query sample and ONE candidate join — the arms are
      * derived from a single probe ranking ([[ivfSearchSweep]]), exactly
      * the oracle's own shape. Monotonicity (more probes ⇒ recall can
      * only rise) is spec-asserted.
      *
      * OPTIMIZATION r22 (guide §1.2): the previous per-arm union planned
      * the IVF probe+join+re-rank subtree AND the brute ground-truth
      * subtree once per arm (ReuseExchange deduped none of them — the
      * before-plan carries three independent copies of each, 30 scans
      * total), so the corpus was cosine-scanned 6×. Fused: brute runs
      * once and is arm-exploded (its rows are arm-independent), the IVF
      * side derives all arms from one max-nprobe ranking, and one
      * groupBy(nprobe) replaces the three single-row aggs. Paired A/B
      * and plan diff in OPTIMIZATION_r22.md / plans/r22.
      *
      * Empty-sample contract (the dd_band_tuning omission rule): with an
      * empty query sample the old arm-wise agg would emit (np, 0, 0, NULL)
      * rows where the oracle's GROUP BY emits none — fused, the
      * groupBy(nprobe) over the arm-exploded empty brute frame emits none
      * either; the n_queries > 0 filter restates the omission explicitly
      * (never fires on the fixtures). */
    QueryDef(
      "sim_nprobe_sweep",
      (s, d) => {
        val npv = Seq(1, 2, 4)
        val arms = array(npv.map(lit(_)): _*)
        val ivf = ivfSearchSweep(s, d, K, npv, "cosine_sim", "cos6")
          .withColumn("hit", lit(1))
        bruteTopK(s, d, 3).select(col("q_id"), col("cand_id"))
          .withColumn("nprobe", explode(arms))
          .join(ivf, Seq("nprobe", "q_id", "cand_id"), "left_outer")
          .groupBy(col("nprobe"))
          .agg(countDistinct(col("q_id")).as("n_queries"),
            count(col("hit")).as("n_hits"))
          .filter(col("n_queries") > 0)
          .select(col("nprobe"), col("n_queries"), col("n_hits"),
            expr("(1000 * n_hits) div (3 * n_queries)").as("recall_permille"))
          .orderBy("nprobe")
      },
      Some {
        val pcos = duckCosOf("e.v", "c.cv")
        s"""WITH ${duckKmeansChain()},
           |probes0 AS (SELECT e.vec_id AS q_id, e.v AS va, c.cid AS probe_cell,
           |              row_number() OVER (PARTITION BY e.vec_id
           |                                 ORDER BY $pcos DESC, c.cid ASC) AS rn
           |            FROM e, c$Iters c WHERE e.vec_id < 8),
           |npv AS (SELECT unnest([1, 2, 4]) AS nprobe),
           |cands AS (SELECT a.vec_id AS cand_id, e.v AS vb, a.cell
           |          FROM assign a JOIN e USING (vec_id)),
           |vis AS (SELECT n.nprobe, p.q_id, c.cand_id,
           |          row_number() OVER (PARTITION BY n.nprobe, p.q_id
           |            ORDER BY ${duckCosOf("p.va", "c.vb")} DESC, c.cand_id ASC)
           |            AS rank
           |        FROM probes0 p JOIN npv n ON p.rn <= n.nprobe
           |             JOIN cands c
           |               ON c.cell = p.probe_cell AND c.cand_id <> p.q_id),
           |ivf AS (SELECT nprobe, q_id, cand_id FROM vis WHERE rank <= 3),
           |${duckBruteCte(3)},
           |x AS (SELECT n.nprobe, b.q_id, b.cand_id, i.cand_id AS hit
           |      FROM npv n CROSS JOIN brute b
           |      LEFT JOIN ivf i ON i.nprobe = n.nprobe AND i.q_id = b.q_id
           |           AND i.cand_id = b.cand_id)
           |SELECT CAST(nprobe AS INTEGER) AS nprobe,
           |       CAST(COUNT(DISTINCT q_id) AS BIGINT) AS n_queries,
           |       CAST(COUNT(hit) AS BIGINT) AS n_hits,
           |       (1000 * CAST(COUNT(hit) AS BIGINT)) // (3 * COUNT(DISTINCT q_id))
           |         AS recall_permille
           |FROM x GROUP BY nprobe ORDER BY nprobe""".stripMargin
      }),

    /** EMBEDDING OUTLIER DETECTION — the data-quality pass that flags
      * mislabeled / off-distribution vectors before they poison training:
      * per-label mean embedding (integer micro-unit component sums, the
      * k-means discipline, so the oracle replays the centroid exactly),
      * then the 3 LOWEST cosine-to-own-centroid vectors per label. Shape:
      * one explode+groupBy for the centroids (a label-count-sized frame,
      * broadcast back), a narrow scoring pass over the corpus, and a
      * per-label bottom-k window — the corpus is never shuffled except for
      * that final k-row-per-label ranking. */
    QueryDef(
      "sim_centroid_outliers",
      (s, d) => {
        val e = vecs(s, d)
        val cent = e.select(col("label"), posexplode(col("v")).as(Seq("j", "x")))
          .groupBy(col("label"), col("j"))
          .agg(sum(expr("CAST(round(x * 1000000) AS BIGINT)")).as("sm"),
            count(lit(1)).as("c"))
          .groupBy(col("label"))
          .agg(expr("transform(array_sort(collect_list(struct(j, " +
            "CAST(sm AS DOUBLE) / (c * 1000000.0) AS comp))), p -> p.comp)").as("cv"))
        val w = Window.partitionBy(col("label"))
          .orderBy(col("cos6").asc, col("vec_id").asc)
        e.join(broadcast(cent), "label")
          .withColumn("cos6", expr("round(cosine_sim(v, cv), 6)"))
          // bruteTopK NaN convention (round-19 review): a zero-norm
          // vector's cosine-to-centroid is NaN — it has no outlier RANK
          // (ascending NaN sorts GREATEST in Spark but the oracle's
          // NULL/NaN is excluded), and its norm is already the
          // sim_norm_audit signal; rank only ranks real similarities.
          .filter(!isnan(col("cos6")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("label"), col("vec_id"), col("cos6"),
            col("rank").cast("int").as("rank"))
          .orderBy("label", "rank")
      },
      Some {
        val cos = duckCosOf("e.v", "c.cv")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
           |           WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) <= 1e9, FALSE))) = 0),
           |cent AS (SELECT label, list(comp ORDER BY jj) AS cv FROM (
           |  SELECT label, jj,
           |         CAST(SUM(CAST(round(v[jj] * 1000000) AS BIGINT)) AS DOUBLE)
           |           / (COUNT(*) * 1000000.0) AS comp
           |  FROM e, (SELECT unnest(range(1, ${Dim + 1})) AS jj)
           |  GROUP BY label, jj) GROUP BY label),
           |sc AS (SELECT e.label, e.vec_id, $cos AS cos6
           |       FROM e JOIN cent c USING (label)
           |       WHERE NOT isnan($cos))
           |SELECT label, vec_id, cos6, CAST(rank AS INTEGER) AS rank
           |FROM (SELECT *, row_number() OVER (PARTITION BY label
           |        ORDER BY cos6 ASC, vec_id ASC) AS rank FROM sc)
           |WHERE rank <= 3 ORDER BY label, rank""".stripMargin
      }),

    /** PER-DIMENSION feature statistics over the embedding corpus — the
      * drift/collapse monitor run before training (a dead or exploding
      * dimension shows up as degenerate sum/sumsq). Component sums in
      * exact integer micro-units (sumsq ≤ N·10¹² stays far inside BIGINT
      * at fixture scale; at 100 TB this becomes a DECIMAL(38) or per-shard
      * partial, same plan), so both engines agree bit-for-bit; the mean is
      * the one IEEE-exact double division both compute identically. Shape:
      * explode + ONE partial-aggregated shuffle of Dim keys — map-side
      * combine reduces every partition to Dim rows before the exchange. */
    QueryDef(
      "sim_dim_stats",
      (s, d) => vecs(s, d)
        .select(posexplode(col("v")).as(Seq("j", "x")))
        .select(col("j"), expr("CAST(round(x * 1000000) AS BIGINT)").as("xm"))
        .groupBy(col("j"))
        .agg(count(lit(1)).as("n"), sum(col("xm")).as("sum_micro"),
          sum(expr("xm * xm")).as("sumsq_micro2"))
        .withColumn("mean", expr("CAST(sum_micro AS DOUBLE) / (n * 1000000.0)"))
        .select(col("j").cast("int").as("j"), col("n"), col("sum_micro"),
          col("sumsq_micro2"), col("mean"))
        .orderBy("j"),
      Some(s"""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              |           WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) <= 1e9, FALSE))) = 0),
              |x AS (SELECT jj, CAST(round(v[jj] * 1000000) AS BIGINT) AS xm
              |      FROM e, (SELECT unnest(range(1, ${Dim + 1})) AS jj))
              |SELECT CAST(jj - 1 AS INTEGER) AS j, COUNT(*) AS n,
              |       CAST(SUM(xm) AS BIGINT) AS sum_micro,
              |       CAST(SUM(xm * xm) AS BIGINT) AS sumsq_micro2,
              |       CAST(SUM(xm) AS DOUBLE) / (COUNT(*) * 1000000.0) AS mean
              |FROM x GROUP BY jj ORDER BY j""".stripMargin)),

    /** PQ RECALL@3 EVAL — the `sim_ann_recall` discipline applied to the
      * OTHER index half: per query, how many of the exact top-3 the
      * compressed ADC serving path returned (1000‰ = lossless ranking).
      * The exact side is the DOT-metric brute force ([[bruteMipsTopK]]):
      * ADC scores are query·reconstructed-candidate inner products, so a
      * cosine ground truth would conflate quantization loss with metric
      * mismatch whenever candidate norms spread (exactly what
      * `sim_norm_audit` measures) and 1000‰ would be unreachable even at
      * infinite codebook size. PQ is a lossy code; production watches this
      * number after every codebook retrain, because distortion creep
      * (corpus drift away from the trained centroids) degrades serving
      * silently while `sim_pq_codes`' dist2_total still looks plausible.
      * Cost: the brute pass runs on the QUERY SAMPLE only (queries
      * broadcast over one corpus scan); the PQ side probes the persisted
      * code table + memoized codebook — no training, no raw-vector scan.
      * The left join from the exact top-3 guarantees every query reports,
      * hits or not. */
    QueryDef(
      "sim_pq_recall",
      (s, d) => {
        val pq = pqTopK(s, d, 3)
          .select(col("q_id"), col("cand_id")).withColumn("hit", lit(1))
        bruteMipsTopK(s, d, 3)
          .select(col("q_id"), col("cand_id"))
          .join(pq, Seq("q_id", "cand_id"), "left_outer")
          .groupBy(col("q_id"))
          .agg(count(col("hit")).as("n_hits"))
          .withColumn("recall_permille", expr("(1000 * n_hits) div 3"))
          .orderBy("q_id")
      },
      Some(duckPqRecallSql)),

    /** EMBEDDING NORM AUDIT — per label: count and min/max/mean squared
      * norm in exact integer micro-units (quantize each component to
      * micro, square, sum — identical integer arithmetic in both engines;
      * no sqrt, so no float rounding anywhere). The embedding-health
      * monitor: collapsing norms = a dying encoder, exploding norms =
      * training instability, and norm SPREAD is precisely what makes dot
      * ranking diverge from cosine ranking (the sim_mips_* motivation) —
      * a spread audit tells you whether the distinction matters for your
      * corpus. One narrow scan + partial-aggregating O(labels) rollup. */
    QueryDef(
      "sim_norm_audit",
      (s, d) => vecs(s, d)
        .withColumn("norm2_micro", expr(
          "aggregate(transform(v, x -> CAST(round(x * 1000000) AS BIGINT)), 0L, " +
            "(a, y) -> a + y * y) div 1000000"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          min(col("norm2_micro")).as("min_norm2_micro"),
          max(col("norm2_micro")).as("max_norm2_micro"),
          expr("sum(norm2_micro) div count(1)").as("avg_norm2_micro"))
        .orderBy("label"),
      Some("""WITH n AS (SELECT label,
             |         CAST(list_sum(list_transform(
             |           list_transform(CAST(embedding AS DOUBLE[]),
             |                          x -> CAST(round(x * 1000000) AS BIGINT)),
             |           y -> y * y)) // 1000000 AS BIGINT) AS norm2_micro
             |       FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) <= 1e9, FALSE))) = 0)
             |SELECT label, COUNT(*) AS n_vecs,
             |       CAST(MIN(norm2_micro) AS BIGINT) AS min_norm2_micro,
             |       CAST(MAX(norm2_micro) AS BIGINT) AS max_norm2_micro,
             |       CAST(CAST(SUM(norm2_micro) AS BIGINT) // COUNT(*) AS BIGINT)
             |         AS avg_norm2_micro
             |FROM n GROUP BY label ORDER BY label""".stripMargin)),
  )
}
