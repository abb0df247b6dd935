package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Similarity search over the `embeddings` table (BASELINE north-star
  * "similarity search"): brute-force cosine top-k as the correctness
  * baseline, and a trained IVF (k-means) two-stage path as the scale story.
  *
  * Scale design: brute force is O(|Q|·N) — fine when the query set is small
  * and broadcast (the N×|Q| join broadcasts the queries, so the corpus
  * streams through map-side with no shuffle; the only exchange is the
  * per-query top-k). The IVF variant trains K coarse centroids with Lloyd's
  * iterations, assigns every vector to its nearest centroid, and searches
  * only the query's `NProbe` nearest cells — the standard recall/cost trade
  * (at 100 TB, K grows ~√N and centroids stay a broadcast table). All paths
  * share one bit-reproducible cosine: a left-fold dot/norm formula the
  * DuckDB oracle mirrors operation-for-operation.
  */
object Similarity extends SimilarityServeQueries with SimilarityEvalQueries {

  /** Embedding dimensionality of the fixture corpus (TESTDATA.md); the
    * Spark side reads array sizes dynamically, the oracle SQL needs the
    * constant. */
  val Dim = 64

  /** IVF shape: K coarse cells, `Iters` Lloyd's rounds, `NProbe` cells
    * searched per query. K matches the fixture's label-cluster count; at
    * scale these become tuning knobs (K ~ √N). */
  val K = 5
  val Iters = 3
  val NProbe = 3

  /** At-scale IVF sizing: K = ⌊√N⌋ cells, so cell population and centroid
    * count grow together (~√N each) — the standard IVF knob. NProbe stays a
    * fixed probe budget: as K grows with the corpus the probed FRACTION
    * K⁻¹·NProbe shrinks, which is exactly how a 100 TB index keeps per-query
    * work sublinear. Both engines derive K from the same COUNT, so the
    * oracle replays the √N-sized training verbatim. */
  val SqrtNProbe = 8
  def sqrtK(n: Long): Int = math.max(2, math.sqrt(n.toDouble).toInt)

  /** NULL-EMBEDDING CONTRACT (round 19 — the embeddings analog of the
    * NULL-text and NULL-fingerprint contracts): a NULL embedding
    * participates in NO vector computation, filtered ONCE at this reader
    * boundary; every oracle's embeddings scan carries the matching
    * NULL + finite-component predicate. Without it the oracles'
    * unnest-range cross joins COUNT the NULL rows that Spark's posexplode
    * drops, training divergent centroids and splitting denominators
    * (sim_dim_stats' n, centroid means). Zero-norm vectors REMAIN in the
    * corpus — dot products are defined for them — and cosine RANKING /
    * THRESHOLD sites guard NaN individually (the bruteTopK convention);
    * the one documented boundary is a zero-norm vector acting as a
    * k-means SEED or assignment subject, where the engines' NaN-vs-NULL
    * orderings differ (NullEmbeddingSpec pins the guarded paths).
    *
    * NON-FINITE COMPONENT CONTRACT (round 20 — the embeddings analog of
    * Tables.centsSql): a vector carrying a NaN/±Infinity or NULL COMPONENT
    * is corrupt upstream output and participates in no vector computation
    * either. Without the boundary filter a NaN component flows into the
    * micro-unit quantization casts (`CAST(round(x*1e6) AS BIGINT)` in
    * trainKMeans / u8Codes), where Spark's non-ANSI CAST silently injects
    * 0 and DuckDB's cast errors — the exact divergence class d5e0bfc
    * closed for money doubles. Oracle mirror on every embeddings scan:
    * `len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) <= 1e9, FALSE))) = 0`.
    * NullEmbeddingSpec pins both directions. */
  private[sim] val finiteEmbSql =
    // |x| > 1e9 subsumes the Infinity equality and bounds the micro-unit
    // arithmetic: u8Codes computes (x·1e6 + m)·127 with m = max|x·1e6|,
    // which must stay inside BIGINT in BOTH engines (DuckDB errors on
    // overflow, Spark wraps silently) — |x| ≤ 1e9 keeps it ≤ ~2.5e17.
    "NOT exists(embedding, x -> x IS NULL OR isnan(x) OR abs(x) > CAST(1e9 AS FLOAT))"

  private[sim] def vecs(s: SparkSession, d: String): DataFrame = {
    Tables.embeddings(s, d)
      .filter(col("embedding").isNotNull)
      .filter(expr(finiteEmbSql))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("label"))
  }

  /** Codegen'd native expression (graft.functions.CosineSim); bit-identical
    * to the left-fold HOF formula and the DuckDB oracle's list_sum. */
  private[sim] val cosExpr = "round(cosine_sim(va, vb), 6)"

  private[sim] def duckCosOf(a: String, b: String): String =
    s"round(list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])) / " +
      s"sqrt(list_sum(list_transform($a, x -> x * x)) * " +
      s"list_sum(list_transform($b, x -> x * x))), 6)"

  private[sim] val duckCos = duckCosOf("va", "vb")

  /** Centroids as a broadcastable literal DataFrame: (cid INT, cv array<double>). */
  private[sim] def centroidsDf(s: SparkSession, cents: Seq[(Int, Seq[Double])]): DataFrame = {
    import s.implicits._
    cents.toDF("cid", "cv")
  }

  /** Nearest-centroid assignment: rank `round(cosine, 6)` descending, ties
    * to the lowest centroid id. One narrow pass over the corpus against a
    * broadcast centroid table + a row_number window on vec_id. */
  private[sim] def nearest(e: DataFrame, cdf: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos6").desc, col("cid").asc)
    e.crossJoin(broadcast(cdf))
      .withColumn("cos6", expr("round(cosine_sim(v, cv), 6)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"), col("cos6"))
  }

  /** Lloyd's k-means over the embeddings with ENGINE-EXACT arithmetic, so
    * the DuckDB oracle can replay training bit-for-bit:
    *  - component sums are quantized to integer micro-units
    *    (`CAST(round(x*1e6) AS BIGINT)`) — integer addition is exact and
    *    order-independent, where a float sum would depend on aggregation
    *    order no two engines share;
    *  - centroid components are the IEEE-exact double
    *    `sum_micro / (n * 1e6)` (sums stay far below 2^53);
    *  - assignment ranks `round(cosine, 6)` with ties to the lowest cid.
    * Init = the first K vectors. Per-iteration centroids are collected to
    * the driver (K×Dim doubles — model state, the same pattern Spark ML's
    * KMeans uses) and re-broadcast as literals, keeping every iteration a
    * flat two-shuffle job. A cell that loses all members drops out — in
    * both engines identically, since every step is deterministic. */
  def trainKMeans(s: SparkSession, d: String, k: Int = K, iters: Int = Iters)
      : Seq[(Int, Seq[Double])] =
    graft.Artifacts.memo(trained,
      s"${graft.Artifacts.contentKey(d, "embeddings")}|$k|$iters")(
      trainKMeansUncached(s, d, k, iters))

  /** Trained models are deterministic functions of (corpus CONTENT, K,
    * Iters), so the driver memoizes them like any ANN index artifact —
    * repeated queries (assign / search / dedup) share one training run,
    * and an in-place corpus rewrite provably retrains instead of serving
    * a stale model (the [[graft.Artifacts]] content-signature key). */
  private[sim] val trained =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(Int, Seq[Double])]]

  /** Corpus cardinality per corpus content, memoized with the same
    * discipline as [[trained]]: `sim_ann_ivf_sqrtn` sizes its index from N
    * on every invocation, and an uncached count() would re-scan the corpus
    * before the query even plans. */
  def corpusSize(s: SparkSession, d: String): Long =
    graft.Artifacts.memo(corpusN, graft.Artifacts.contentKey(d, "embeddings"))(
      vecs(s, d).count())

  private[sim] val corpusN = scala.collection.concurrent.TrieMap.empty[String, Long]

  private[sim] def trainKMeansUncached(s: SparkSession, d: String, k: Int, iters: Int)
      : Seq[(Int, Seq[Double])] = {
    val e = vecs(s, d).select(col("vec_id"), col("v"))
    var cents: Seq[(Int, Seq[Double])] = e.filter(col("vec_id") < k).orderBy("vec_id")
      .collect().toSeq.map(r => (r.getLong(0).toInt, r.getSeq[Double](1)))
    for (_ <- 0 until iters) {
      val asg = nearest(e, centroidsDf(s, cents)).select(col("vec_id"), col("cid"))
      cents = asg.join(e, "vec_id")
        .select(col("cid"), posexplode(col("v")).as(Seq("j", "x")))
        .groupBy(col("cid"), col("j"))
        .agg(sum(expr("CAST(round(x * 1000000) AS BIGINT)")).as("sm"),
          count(lit(1)).as("c"))
        .groupBy(col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(j, " +
          "CAST(sm AS DOUBLE) / (c * 1000000.0) AS comp))), p -> p.comp)").as("cv"))
        .collect().toSeq
        .map(r => (r.getInt(0), r.getSeq[Double](1)))
        .sortBy(_._1)
    }
    cents
  }

  /** Trained-cell assignment for every vector — (vec_id, cell, cos6) — as a
    * PERSISTED parquet artifact per (corpus content, k): the assignment
    * table is half of every IVF serving plan (probe joins, cell blocking,
    * the IVF-PQ composite), and recomputing the broadcast-nearest scan per
    * consumer is per-query corpus cost the index already paid. Same
    * content-key + atomic-publish discipline as the MinHash signature
    * table; at 100 TB this is the cell-assignment column of the index. */
  private[sim] def cellsStored(s: SparkSession, d: String, k: Int): DataFrame =
    graft.Artifacts.indexParquet(s, s"ivf_cells_k${k}i$Iters", d, "embeddings")(
      nearest(vecs(s, d).select(col("vec_id"), col("v")),
          centroidsDf(s, trainKMeans(s, d, k, Iters)))
        .select(col("vec_id"), col("cid").as("cell"), col("cos6")))

  /** Trained-cell assignment for every vector: (vec_id, cell, cos6). */
  def assignCells(s: SparkSession, d: String): DataFrame = cellsStored(s, d, K)

  /** UPDATED versions of the indexed `vec_id % 5 = 0` vectors — components
    * rotated left one position — the deterministic "document re-embedded
    * after an edit" stand-in both engines can state literally (rotation
    * changes the direction, so assignments genuinely move; a scalar rescale
    * would be cosine-invariant and test nothing). */
  def rotatedArrivals(s: SparkSession, d: String): DataFrame =
    vecs(s, d).filter(expr("vec_id % 5 = 0"))
      .select(col("vec_id"),
        expr("concat(slice(v, 2, size(v) - 1), array(element_at(v, 1)))").as("v"))

  /** INDEX MAINTENANCE (the st_ann_upsert batch semantics): re-arrived
    * vectors are assigned against the TRAINED centroids — no retrain, the
    * operational property IVF buys — and supersede their stored assignment
    * latest-wins. Output: per re-arrival, the stored cell, the new cell,
    * and whether it moved (the mover count is the retraining-pressure
    * metric: movers accumulate as the corpus drifts from the trained
    * snapshot, the same signal st_cell_drift watches distributionally).
    * Plan shape: the stored assignment artifact is probed (no corpus
    * re-scan); only the arrival slice touches the centroid broadcast. */
  def upsertAssign(s: SparkSession, d: String): DataFrame = {
    val cdf = centroidsDf(s, trainKMeans(s, d, K, Iters))
    val newAsg = nearest(rotatedArrivals(s, d), cdf)
      .select(col("vec_id"), col("cid").as("new_cell"))
    val old = assignCells(s, d).select(col("vec_id"), col("cell").as("old_cell"))
    newAsg.join(old, "vec_id")
      .select(col("vec_id"), col("old_cell"), col("new_cell"),
        (col("old_cell") =!= col("new_cell")).as("moved"))
      .orderBy("vec_id")
  }

  /** Oracle SQL for `st_ann_upsert` — lives here to reuse the private
    * k-means replay ([[duckKmeansChain]]) and cosine builders. */
  def upsertOracleSql: String =
    s"""WITH ${duckKmeansChain()},
       |arr AS (SELECT vec_id, list_concat(v[2:], [v[1]]) AS v2 FROM e
       |        WHERE vec_id % 5 = 0),
       |na AS (SELECT vec_id, cid AS new_cell FROM (
       |  SELECT a.vec_id, c.cid,
       |         row_number() OVER (PARTITION BY a.vec_id
       |                            ORDER BY ${duckCosOf("a.v2", "c.cv")} DESC,
       |                                     c.cid ASC) AS rn
       |  FROM arr a, c$Iters c) WHERE rn = 1)
       |SELECT n.vec_id, s.cell AS old_cell, n.new_cell,
       |       s.cell <> n.new_cell AS moved
       |FROM na n JOIN assign s USING (vec_id) ORDER BY vec_id""".stripMargin

  /** DuckDB WITH-fragment replaying k-means training and the final
    * assignment — `assign` ends as (vec_id, cell, cos6). Shared by every
    * oracle that consumes trained cells (also graft.dedup's embedding
    * near-dup). `kExpr` is a SQL expression for the cell count, so the
    * √N-scaled variant can derive K from the corpus itself. */
  def duckKmeansChain(kExpr: String = K.toString, iters: Int = Iters): String = {
    val sb = new StringBuilder
    sb ++= "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) <= 1e9, FALSE))) = 0),\n"
    sb ++= s"c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, v AS cv FROM e WHERE vec_id < ($kExpr)),\n"
    for (i <- 1 to iters) {
      val cos = duckCosOf("e.v", "c.cv")
      sb ++= s"a$i AS (SELECT vec_id, cid FROM (\n"
      sb ++= s"  SELECT e.vec_id, c.cid,\n"
      sb ++= s"         row_number() OVER (PARTITION BY e.vec_id\n"
      sb ++= s"                            ORDER BY $cos DESC, c.cid ASC) AS rn\n"
      sb ++= s"  FROM e, c${i - 1} c) WHERE rn = 1),\n"
      sb ++= s"c$i AS (SELECT cid, list(comp ORDER BY jj) AS cv FROM (\n"
      sb ++= s"  SELECT a.cid, jj,\n"
      sb ++= s"         CAST(SUM(CAST(round(e.v[jj] * 1000000) AS BIGINT)) AS DOUBLE)\n"
      sb ++= s"           / (COUNT(*) * 1000000.0) AS comp\n"
      sb ++= s"  FROM a$i a JOIN e USING (vec_id), (SELECT unnest(range(1, ${Dim + 1})) AS jj)\n"
      sb ++= s"  GROUP BY a.cid, jj)\n"
      sb ++= s"GROUP BY cid),\n"
    }
    val cos = duckCosOf("e.v", "c.cv")
    sb ++= s"assign AS (SELECT vec_id, cid AS cell, cos6 FROM (\n"
    sb ++= s"  SELECT e.vec_id, c.cid, $cos AS cos6,\n"
    sb ++= s"         row_number() OVER (PARTITION BY e.vec_id\n"
    sb ++= s"                            ORDER BY $cos DESC, c.cid ASC) AS rn\n"
    sb ++= s"  FROM e, c$iters c) WHERE rn = 1)"
    sb.toString
  }

  /** Exact brute-force cosine top-k for the fixed query set (vec_id < 8):
    * queries broadcast over one corpus scan, self excluded, per-query
    * window rank — the ground truth the cosine ANN paths are evaluated
    * against. Zero-norm candidates are EXCLUDED before ranking: cosine_sim
    * yields NaN for them (see [[graft.functions.CosineSim]]'s edge note),
    * NaN has no similarity rank, and without the filter the window
    * formulation would sort NaN first while the bounded TopK aggregator
    * drops it — this filter is what keeps sim_topk_brute ≡ sim_topk_agg
    * and pins the convention the oracles mirror (their 0/0 is likewise
    * excluded in [[duckBruteSql]]/[[duckBruteCte]]). */
  private[sim] def bruteTopK(s: SparkSession, d: String, k: Int): DataFrame = {
    val e = vecs(s, d)
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("va"))
    val c = e.select(col("vec_id").as("cand_id"), col("v").as("vb"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos6").desc, col("cand_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("q_id"))
      .withColumn("cos6", expr(cosExpr))
      .filter(col("cos6").isNotNull && !isnan(col("cos6")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("cand_id"), col("cos6"), col("rank"))
  }

  /** Exact brute-force DOT-PRODUCT top-k for the fixed query set — the
    * MIPS ground truth. Serves `sim_mips_topk` directly and is the exact
    * side of the PQ recall eval (ADC scores approximate the DOT metric, so
    * a cosine ground truth would conflate metric mismatch with
    * quantization loss). No NaN guard needed: a dot product of finite
    * vectors is always finite, zero-norm included. */
  private[sim] def bruteMipsTopK(s: SparkSession, d: String, k: Int): DataFrame = {
    val e = vecs(s, d)
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("va"))
    val c = e.select(col("vec_id").as("cand_id"), col("v").as("vb"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("ip").desc, col("cand_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("q_id"))
      .withColumn("ip", expr("dot_product(va, vb)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("cand_id"),
        expr("round(ip, 6)").as("ip6"), col("rank"))
  }

  /** Standalone brute-force cosine top-`k` oracle — ONE text for
    * `sim_topk_brute` and `sim_topk_agg` (previously two byte-identical
    * copies). `NOT isnan(cos)` mirrors [[bruteTopK]]'s zero-norm exclusion;
    * under NULL-on-0/0 DuckDB semantics the predicate is NULL and the row
    * drops the same way. */
  private[sim] def duckBruteSql(k: Int): String =
    s"""SELECT q_id, cand_id, cos6, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id, $duckCos AS cos6,
       |         row_number() OVER (PARTITION BY q.vec_id
       |                            ORDER BY $duckCos DESC, c.vec_id ASC) AS rank
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS va
       |        FROM embeddings WHERE vec_id < 8 AND embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) <= 1e9, FALSE))) = 0) q,
       |       (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vb FROM embeddings
       |        WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) <= 1e9, FALSE))) = 0) c
       |  WHERE c.vec_id <> q.vec_id AND NOT isnan($duckCos))
       |WHERE rank <= $k ORDER BY q_id, rank""".stripMargin

  /** The same ranking as a `brute AS (...)` CTE projected to (q_id,
    * cand_id) — the exact-cosine ground-truth block of the IVF recall
    * evals (`sim_ann_recall`, `sim_nprobe_sweep`). */
  private[sim] def duckBruteCte(k: Int): String =
    s"""brute AS (SELECT q_id, cand_id FROM (
       |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
       |         row_number() OVER (PARTITION BY q.vec_id
       |                            ORDER BY $duckCos DESC, c.vec_id ASC) AS rank
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS va
       |        FROM embeddings WHERE vec_id < 8 AND embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) <= 1e9, FALSE))) = 0) q,
       |       (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vb FROM embeddings
       |        WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) <= 1e9, FALSE))) = 0) c
       |  WHERE c.vec_id <> q.vec_id AND NOT isnan($duckCos)) WHERE rank <= $k)""".stripMargin

  /** Dot-metric twin of [[duckBruteCte]] — the exact ground truth of the
    * PQ recall eval ([[duckPqRecallSql]]), mirroring [[bruteMipsTopK]]. */
  private[sim] def duckMipsBruteCte(k: Int): String =
    s"""brute AS (SELECT q_id, cand_id FROM (
       |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY ${duckDotRawOf("q.va", "c.vb")} DESC, c.vec_id ASC) AS rank
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS va
       |        FROM embeddings WHERE vec_id < 8 AND embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) <= 1e9, FALSE))) = 0) q,
       |       (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vb FROM embeddings
       |        WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) <= 1e9, FALSE))) = 0) c
       |  WHERE c.vec_id <> q.vec_id) WHERE rank <= $k)""".stripMargin

  /** The IVF probe block shared by EVERY IVF-served path (`sim_ann_ivf`,
    * `sim_ann_ivf_sqrtn`, `sim_mips_ivf`, `sim_ann_filtered`,
    * `sim_ivf_pq`): rank the broadcast centroids per query under
    * `metricFn`, keep each query's top `nprobe` cells. One audited home,
    * the bucketedPairs discipline — callers project (q_id, probe_cell,
    * …) from the returned frame. `e` must carry (vec_id, v) plus any
    * pass-through columns the caller needs (e.g. label). */
  private[sim] def ivfProbes(e: DataFrame, cdf: DataFrame, nprobe: Int,
      metricFn: String): DataFrame = {
    val wq = Window.partitionBy(col("vec_id")).orderBy(col("psc").desc, col("cid").asc)
    e.filter(col("vec_id") < 8)
      .crossJoin(broadcast(cdf))
      .withColumn("psc", expr(s"round($metricFn(v, cv), 6)"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
  }

  /** IVF probe/search shape shared by the cosine and dot serving paths:
    * assign the corpus to trained cells, probe each query's `nprobe`
    * nearest cells under `metricFn` (centroids broadcast via [[ivfProbes]],
    * corpus never shuffled by the probe), exact re-rank the union of
    * probed cells to top-3 under the same metric. One body for
    * [[annIvfSearch]] and [[mipsIvfSearch]] — previously two near-verbatim
    * copies that a probe/re-rank fix would have had to hit twice. */
  private[sim] def ivfSearch(s: SparkSession, d: String, k: Int, nprobe: Int,
      metricFn: String, scoreCol: String): DataFrame = {
    val e = vecs(s, d).select(col("vec_id"), col("v"))
    val cdf = centroidsDf(s, trainKMeans(s, d, k, Iters))
    val asg = cellsStored(s, d, k).select(col("vec_id"), col("cell"))
    val probes = ivfProbes(e, cdf, nprobe, metricFn)
      .select(col("vec_id").as("q_id"), col("v").as("va"), col("cid").as("probe_cell"))
    val c = e.join(asg, "vec_id")
      .select(col("vec_id").as("cand_id"), col("v").as("vb"), col("cell"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col(scoreCol).desc, col("cand_id").asc)
    c.join(broadcast(probes),
        c("cell") === probes("probe_cell") && col("cand_id") =!= col("q_id"))
      .withColumn(scoreCol, expr(s"round($metricFn(va, vb), 6)"))
      // The bruteTopK NaN convention applied to the re-rank (round-19
      // review): a zero-norm candidate's cosine is NaN, and Spark sorts
      // NaN GREATEST under desc — rank 1 — while the oracle's NULL/NaN
      // fails its NOT isnan guard; a NaN score has no similarity rank.
      // No-op under the dot metric (a dot is never NaN on real inputs).
      .filter(!isnan(col(scoreCol)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("cand_id"), col(scoreCol), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** OPTIMIZATION r22 (guide §1.2/§2.4) — the nprobe-SWEEP form of
    * [[ivfSearch]]: every arm of `nprobes` evaluated from ONE probe
    * ranking and ONE corpus candidate join. [[ivfProbes]] runs once at
    * max(nprobes) keeping the per-query cell rank `rn`; arm np's
    * candidate set is exactly the rows with `rn <= np` (a cell's rank
    * does not depend on the cutoff, so filtering the max-arm ranking at
    * np reproduces ivfProbes(np) bit-for-bit), and the per-arm top-3
    * re-rank becomes one window over (nprobe, q_id) after a 3-way arm
    * explode of the scored candidates. Returns (nprobe, q_id, cand_id).
    * The previous per-arm union re-planned the probe ranking, the
    * corpus-cells join AND the re-rank window once PER ARM — ReuseExchange
    * never deduped the arms' identical subtrees (r22 before-plan: three
    * independent probe/join/window chains, zero ReusedExchange nodes). */
  private[sim] def ivfSearchSweep(s: SparkSession, d: String, k: Int,
      nprobes: Seq[Int], metricFn: String, scoreCol: String): DataFrame = {
    val e = vecs(s, d).select(col("vec_id"), col("v"))
    val cdf = centroidsDf(s, trainKMeans(s, d, k, Iters))
    val asg = cellsStored(s, d, k).select(col("vec_id"), col("cell"))
    val probes = ivfProbes(e, cdf, nprobes.max, metricFn)
      .select(col("vec_id").as("q_id"), col("v").as("va"),
        col("cid").as("probe_cell"), col("rn"))
    val c = e.join(asg, "vec_id")
      .select(col("vec_id").as("cand_id"), col("v").as("vb"), col("cell"))
    val w = Window.partitionBy(col("nprobe"), col("q_id"))
      .orderBy(col(scoreCol).desc, col("cand_id").asc)
    c.join(broadcast(probes),
        c("cell") === probes("probe_cell") && col("cand_id") =!= col("q_id"))
      .withColumn(scoreCol, expr(s"round($metricFn(va, vb), 6)"))
      // ivfSearch's NaN convention, unchanged: a NaN score has no rank.
      .filter(!isnan(col(scoreCol)))
      .withColumn("nprobe", explode(array(nprobes.map(lit(_)): _*)))
      .filter(col("rn") <= col("nprobe"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("nprobe"), col("q_id"), col("cand_id"))
  }

  /** Cosine IVF serving — `sim_ann_ivf` and the √N-scaled variant. */
  private[sim] def annIvfSearch(s: SparkSession, d: String, k: Int, nprobe: Int): DataFrame =
    ivfSearch(s, d, k, nprobe, "cosine_sim", "cos6")

  /** IVF serving under the INNER-PRODUCT metric (the faiss
    * IndexIVF/METRIC_INNER_PRODUCT shape): the SAME trained index — raw-
    * vector centroids + stored cell assignments, no retrain, no second
    * index — probed by centroid dot product, with the probed union exact-
    * dot re-ranked. This is how one physical index serves both the cosine
    * queries (sim_ann_ivf) and the dot-trained retrieval models
    * (sim_mips_topk is the brute ground truth); recall vs brute MIPS is
    * asserted in SimilaritySpec. Plan shape identical to [[annIvfSearch]]
    * by construction (shared [[ivfSearch]] body). */
  private[sim] def mipsIvfSearch(s: SparkSession, d: String, k: Int, nprobe: Int): DataFrame =
    ivfSearch(s, d, k, nprobe, "dot_product", "ip6")

  /** (vec_id, scale `m`, u8 codes `q`) for the whole corpus — THE u8
    * quantizer definition, shared by `sim_quantize_u8` (publishes the
    * codes' checksums) and `sim_topk_q8` (serves from them):
    * q_i = ((x_i·1e6 + m)·127) div (2m), m = max(1, max|x_i·1e6|). One
    * owner (round-17 review finding — the derivation existed in four
    * textual copies, and a quantizer retune applied to sim_quantize_u8
    * but not sim_topk_q8 would silently desynchronize served scores from
    * published codes). The oracle SQL stays literal per query — the
    * per-round oracle hash gate is its tripwire (the normFp contract). */
  private[sim] def u8Codes(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      // the vecs() NULL-embedding + non-finite-component contracts
      .filter(col("embedding").isNotNull)
      .filter(expr(finiteEmbSql))
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
          .as("vm"))
      .withColumn("m",
        expr("greatest(aggregate(vm, CAST(0 AS BIGINT), (a, x) -> greatest(a, abs(x))), " +
          "CAST(1 AS BIGINT))"))
      .select(col("vec_id"), col("m"),
        expr("transform(vm, x -> ((x + m) * 127) div (2 * m))").as("q"))

  /** UNROUNDED dot — the ranking key of the exact MIPS convention: the
    * Spark side ([[bruteMipsTopK]]'s `dot_product`) ranks by the raw
    * double and only ROUNDS THE PROJECTED score, and the sim_mips_topk
    * oracle does the same, so every exact-dot ground truth must rank
    * unrounded too (round 17: [[duckMipsBruteCte]] ranked by the rounded
    * form — two candidates differing past the 6th decimal at the rank-k
    * boundary would silently split the engines' "exact" sets). The
    * IVF-SERVED paths are the opposite convention — both engines rank by
    * round(metric, 6) ([[ivfSearch]] / [[duckIvfCtes]]) — which is why
    * both forms exist. */
  private[sim] def duckDotRawOf(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]))"

  private[sim] def duckDotOf(a: String, b: String): String =
    s"round(${duckDotRawOf(a, b)}, 6)"

  /** Shared probe/candidate/ranked-result CTE text of the IVF oracle under
    * a given metric, ending in `ivfranked(q_id, cand_id, <scoreCol>,
    * rank)` — the oracle twin of [[ivfProbes]]+[[ivfSearch]], consumed by
    * the cosine search oracle ([[duckAnnIvfSql]]), the dot search oracle
    * ([[duckMipsIvfSql]]) and the recall-eval oracle. */
  private[sim] def duckIvfCtes(nprobe: Int,
      metricOf: (String, String) => String = duckCosOf,
      scoreCol: String = "cos6"): String = {
    val pm = metricOf("e.v", "c.cv")
    s"""probes AS (SELECT vec_id AS q_id, va, probe_cell FROM (
       |  SELECT e.vec_id, e.v AS va, c.cid AS probe_cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |                            ORDER BY $pm DESC, c.cid ASC) AS rn
       |  FROM e, c${Iters} c WHERE e.vec_id < 8) WHERE rn <= $nprobe),
       |cands AS (SELECT a.vec_id AS cand_id, e.v AS vb, a.cell
       |          FROM assign a JOIN e USING (vec_id)),
       |ivfranked AS (
       |  SELECT p.q_id, c.cand_id, ${metricOf("p.va", "c.vb")} AS $scoreCol,
       |         row_number() OVER (PARTITION BY p.q_id
       |                            ORDER BY ${metricOf("p.va", "c.vb")} DESC, c.cand_id ASC) AS rank
       |  FROM probes p JOIN cands c
       |    ON c.cell = p.probe_cell AND c.cand_id <> p.q_id
       |  WHERE NOT isnan(${metricOf("p.va", "c.vb")}))""".stripMargin
  }

  /** Oracle for [[mipsIvfSearch]]: the shared k-means replay, probes and
    * re-rank under the dot metric. */
  private[sim] def duckMipsIvfSql(nprobe: Int): String =
    s"""WITH ${duckKmeansChain()},
       |${duckIvfCtes(nprobe, duckDotOf, "ip6")}
       |SELECT q_id, cand_id, ip6, CAST(rank AS INTEGER) AS rank
       |FROM ivfranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  /** Oracle for [[annIvfSearch]] over a given training chain + probe budget. */
  private[sim] def duckAnnIvfSql(chain: String, nprobe: Int): String =
    s"""WITH $chain,
       |${duckIvfCtes(nprobe)}
       |SELECT q_id, cand_id, cos6, CAST(rank AS INTEGER) AS rank
       |FROM ivfranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  /** Random-hyperplane (sign-random-projection) LSH shape: RpBands bands of
    * RpBandBits sign bits — the TRAINING-FREE complement to the IVF path
    * (no k-means pass over the corpus; hyperplanes are data-independent, so
    * codes for new vectors never require re-fitting — the property that
    * matters for an append-only 100 TB corpus). Collision probability per
    * bit is 1 − θ/π (θ = the pair's angle), so same-band candidates skew
    * toward high cosine; candidates are verified with the exact native
    * cosine like every other near-dup path. */
  val RpBands: Int = graft.functions.RpBandCodesImpl.Bands
  val RpBandBits: Int = graft.functions.RpBandCodesImpl.BandBits

  /** Total hyperplanes. The ±1 component for plane `p`, dim `i` is the high
    * bit of md5("rp:p:i") — a fixed public derivation BOTH engines compute
    * themselves (the same md5-family trick as the MinHash oracle). Vector
    * components are quantized to integer micro-units before the projection
    * (`CAST(round(x*1e6) AS BIGINT)` — the k-means contract), so the dot is
    * an integer SUM: exact, order-independent, no float-parity games. */
  private[sim] val RpPlanes = RpBands * RpBandBits

  /** CORPUS-ADAPTIVE band width (round 16 — found by the 100×-replica
    * probe, the sqrtK discipline applied to LSH): a FIXED band width has a
    * fixed code space (16 bands × 2⁸ values = 4096 buckets), so bucket
    * sizes grow linearly with the corpus and candidate-pair mass grows
    * QUADRATICALLY — measured at the 200k-vector point: every one of the
    * 4096 buckets held >100 vectors, 950 were over the MaxBucket cap, and
    * the kept pair mass was 699M pairs (DiagBuckets; the cap bounds
    * per-bucket memory, never total mass, and once every bucket overflows
    * the cap recall collapses to zero). The SAME 128 hyperplanes therefore
    * REGROUP into wider bands as N grows — thresholds keep the expected
    * bucket load ≤ 64 at each regime boundary (N ≤ 64·2^bits), so pair
    * mass stays ~linear in N. Both engines derive bits from the same
    * COUNT(*) (the sim_ann_ivf_sqrtn precedent), and at every fixture
    * scale the ladder yields today's 16×8 shape, so established oracles
    * and plans are untouched.
    *
    * The recall trade is real and documented: wider bands are more
    * selective, so per-band match probability p^bits falls. For true
    * near-duplicates (cos ≥ 0.95, p ≈ 0.936/bit) recall is ~99.9% at 8-bit
    * bands, ~97% at 16-bit (8 bands), ~40% at 32-bit (4 bands) — past the
    * 16-bit regime (N > 4M vectors) the TRAINED √N-cell IVF path
    * (dd_embed_cosine / dd_semantic_dedup) is the production near-dup
    * screen; RP-LSH remains the training-free screen for append-heavy
    * corpora below that. Widths stay multiples of the kernel's 8-bit
    * codes so regrouping is pure bit-packing over the unchanged plane
    * set. */
  private[sim] val RpShape: Seq[(Long, Int)] = Seq(16384L -> 8, 4194304L -> 16)
  private[sim] val RpBitsMax = 32

  def rpBitsFor(n: Long): Int =
    RpShape.collectFirst { case (t, b) if n <= t => b }.getOrElse(RpBitsMax)

  /** The same ladder as SQL over `COUNT(*)` — generated from [[RpShape]]
    * so the two engines cannot drift. Dialect-shared CASE text: the DuckDB
    * oracle embeds it, and LadderBoundarySpec evaluates the same string in
    * Spark SQL at the exact thresholds to prove both rung selectors agree
    * at every boundary N. */
  private[graft] def rpShapeSql(from: String): String =
    "SELECT CASE " +
      RpShape.map { case (t, b) => s"WHEN COUNT(*) <= $t THEN $b" }.mkString(" ") +
      s" ELSE $RpBitsMax END AS bits FROM $from"

  /** Regroup the kernel's 16 8-bit band codes (a `codes` column) into
    * `128/bits` bands of `bits` sign bits — pure bit-packing over the
    * unchanged plane set: grouped band gi's bit (j·8 + k) is code
    * gi·g+j's bit k, exactly the oracle's `p // bits` / `1 << (p % bits)`
    * grouping of plane p. Identity at `bits = 8` (the fixture regime) so
    * the established plan is byte-for-byte untouched there. Shared with
    * SimilaritySpec's regroup-equivalence property. */
  private[graft] def rpBandedCodes(bits: Int): Column = {
    val g = bits / RpBandBits
    // bits % RpBandBits == 0 stated EXPLICITLY (round-19 review): a width
    // in 9..15 truncates to g = 1 and the old divisibility-of-16 check
    // passed, silently serving 8-bit bands while the oracle's shape CTE
    // grouped planes at the true width — a retune must fail fast instead.
    require(bits >= RpBandBits && bits % RpBandBits == 0 && RpBands % g == 0,
      s"bits=$bits must be a positive multiple of $RpBandBits dividing 128")
    if (g == 1) col("codes")
    else expr(s"transform(sequence(0, ${RpBands / g - 1}), gi -> " +
      s"aggregate(sequence(0, ${g - 1}), CAST(0 AS BIGINT), " +
      s"(acc, j) -> acc + shiftleft(element_at(codes, gi * $g + j + 1), " +
      s"$RpBandBits * j)))")
  }

  /** In-engine ±1 derivation, shared literal text shape for both dialects
    * (`cat` = the engine's string concat of 'rp:', p, ':', i). */
  private[sim] def sgnCase(cat: String): String =
    s"CASE WHEN substr(md5($cat), 1, 1) IN ('0','1','2','3','4','5','6','7') " +
      "THEN 1 ELSE -1 END"

  /** PRODUCT QUANTIZATION (PQ) shape: the corpus is compressed to
    * `PqM` codes per vector (one per `PqSub`-dim subspace, each from a
    * `PqKs`-entry sub-codebook) — 8 bytes a vector here, vs 512 bytes of
    * raw doubles. Queries score candidates from the codes alone (ADC:
    * query-subvector · sub-centroid, summed over subspaces), which is how
    * FAISS-style engines afford billion-vector serving: the raw corpus
    * never pages in. Training is Lloyd's per subspace with ENGINE-EXACT
    * integer arithmetic: subvectors quantized to micro-units once, L2
    * distances and centroid means in BIGINT (`sum div n` — truncating
    * division in BOTH engines), ties to the lowest code. At fixture scale
    * PqKs=8 keeps the oracle replay small; at 100 TB the knobs become
    * PqKs=256 (one byte per code) and the same plan trains per-shard. */
  val PqM = 8
  val PqSub: Int = Dim / PqM
  val PqKs = 16

  /** Subvector view of the corpus in exact integer micro-units. */
  private[sim] def pqSubVecs(s: SparkSession, d: String, m: Int): DataFrame =
    vecs(s, d).select(col("vec_id"), expr(
      s"transform(slice(v, ${m * PqSub + 1}, $PqSub), " +
        "x -> CAST(round(x * 1000000) AS BIGINT))").as("vm"))

  private[sim] val pqDist2 =
    "aggregate(zip_with(vm, cv, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"

  /** Nearest sub-centroid by integer L2; ties to the lowest code. */
  private[sim] def pqNearest(e: DataFrame, cdf: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dist2").asc, col("cid").asc)
    e.crossJoin(broadcast(cdf))
      .withColumn("dist2", expr(pqDist2))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid").as("code"), col("dist2"))
  }

  private[sim] def pqCentsDf(s: SparkSession, cents: Seq[(Int, Seq[Long])]): DataFrame = {
    import s.implicits._
    cents.toDF("cid", "cv")
  }

  private[sim] val pqTrained = scala.collection.concurrent.TrieMap
    .empty[String, IndexedSeq[Seq[(Int, Seq[Long])]]]

  /** The trained PQ model (all M sub-codebooks), memoized per corpus
    * CONTENT with the same index-artifact discipline as [[trainKMeans]].
    * Driver state is M×PqKs×PqSub longs — model-sized, never data-sized. */
  def trainPq(s: SparkSession, d: String): IndexedSeq[Seq[(Int, Seq[Long])]] =
    graft.Artifacts.memo(pqTrained, graft.Artifacts.contentKey(d, "embeddings"))(
      (0 until PqM).map(m => trainPqSub(s, d, m)))

  private[sim] def trainPqSub(s: SparkSession, d: String, m: Int): Seq[(Int, Seq[Long])] = {
    val e = pqSubVecs(s, d, m)
    var cents: Seq[(Int, Seq[Long])] = e.filter(col("vec_id") < PqKs).orderBy("vec_id")
      .collect().toSeq.map(r => (r.getLong(0).toInt, r.getSeq[Long](1)))
    for (_ <- 0 until Iters) {
      val asg = pqNearest(e, pqCentsDf(s, cents)).select(col("vec_id"), col("code"))
      cents = asg.join(e, "vec_id")
        .select(col("code"), posexplode(col("vm")).as(Seq("j", "x")))
        .groupBy(col("code"), col("j"))
        .agg(sum(col("x")).as("sm"), count(lit(1)).as("c"))
        .groupBy(col("code"))
        .agg(expr("transform(array_sort(collect_list(struct(j, sm div c AS comp))), " +
          "p -> p.comp)").as("cv"))
        .collect().toSeq.map(r => (r.getInt(0), r.getSeq[Long](1))).sortBy(_._1)
    }
    cents
  }

  /** All M subvectors of every vector in ONE narrow pass:
    * (vec_id, m, vm) — the encode path must not scan the corpus once per
    * subspace (measured 2.05 s → one-pass form; at 100 TB, M passes would
    * be M full reads). */
  private[sim] def pqSubVecsAll(s: SparkSession, d: String): DataFrame =
    vecs(s, d).select(col("vec_id"), posexplode(expr(
      s"transform(sequence(0, ${PqM - 1}), m -> transform(" +
        s"slice(v, m * $PqSub + 1, $PqSub), " +
        "x -> CAST(round(x * 1000000) AS BIGINT)))")).as(Seq("m", "vm")))

  /** The full codebook as one broadcastable table: (m, cid, cv) — M×Ks
    * rows. */
  private[sim] def pqCodebookDf(s: SparkSession,
      model: IndexedSeq[Seq[(Int, Seq[Long])]]): DataFrame = {
    import s.implicits._
    model.zipWithIndex
      .flatMap { case (cents, m) => cents.map { case (cid, cv) => (m, cid, cv) } }
      .toDF("m", "cid", "cv")
  }

  /** Every vector's PQ code per subspace — (vec_id, m, code, dist2) — as a
    * PERSISTED parquet artifact: the code table IS the PQ index (N×M small
    * ints; what a FAISS index file stores), and all three serving consumers
    * (`sim_pq_codes`, `sim_pq_topk`, `sim_ivf_pq`) probe the stored table
    * instead of re-encoding the corpus per query. */
  def pqAssignAll(s: SparkSession, d: String): DataFrame =
    // knob-tagged name (PqM/PqKs/Iters are documented retune targets —
    // PqKs becomes 256 at 100 TB): see Artifacts.indexParquet's policy
    graft.Artifacts.indexParquet(s, s"pq_codes_m${PqM}ks${PqKs}i$Iters", d, "embeddings")(
      pqAssignAllUncached(s, d))

  /** One corpus scan, one broadcast join on the subspace id, one window
    * ranked within (vec_id, m). */
  private[sim] def pqAssignAllUncached(s: SparkSession, d: String): DataFrame = {
    val model = trainPq(s, d)
    val w = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("dist2").asc, col("cid").asc)
    pqSubVecsAll(s, d)
      .join(broadcast(pqCodebookDf(s, model)), "m")
      .withColumn("dist2", expr(pqDist2))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("cid").as("code"), col("dist2"))
  }

  /** PQ ADC top-k serving as a frame — (q_id, cand_id, score, rank ≤ k):
    * queries stay exact while candidates are scored from their persisted
    * codes against the broadcast codebook (see `sim_pq_topk`). Shared by
    * the serving query and the recall eval so both rank identically. */
  private[sim] def pqTopK(s: SparkSession, d: String, k: Int): DataFrame = {
    val model = trainPq(s, d)
    val q = pqSubVecsAll(s, d).filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("m"), col("vm").as("qv"))
    val db = pqAssignAll(s, d)
      .select(col("vec_id").as("cand_id"), col("m"), col("code"))
      .join(broadcast(pqCodebookDf(s, model).withColumnRenamed("cid", "code")),
        Seq("m", "code"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("cand_id").asc)
    db.join(broadcast(q), "m")
      .withColumn("sc",
        expr("aggregate(zip_with(qv, cv, (a, b) -> a * b), 0L, (acc, x) -> acc + x)"))
      .groupBy(col("q_id"), col("cand_id"))
      .agg(sum(col("sc")).as("score"))
      .filter(col("cand_id") =!= col("q_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** DuckDB chain for one PQ subspace (`e` must already exist): emits
    * m{m}e (micro subvectors), m{m}c0..c{Iters} (training), m{m}asg
    * (final code + distortion per vector). */
  private[sim] def duckPqSubChain(m: Int): String = {
    val lo = m * PqSub + 1
    val hi = m * PqSub + PqSub
    def dist(e: String, c: String) =
      s"list_sum(list_transform(range(1, ${PqSub + 1}), " +
        s"j -> ($e.vm[j] - $c.cv[j]) * ($e.vm[j] - $c.cv[j])))"
    val sb = new StringBuilder
    sb ++= s"m${m}e AS (SELECT vec_id, list_transform(v[$lo:$hi], " +
      s"x -> CAST(round(x * 1000000) AS BIGINT)) AS vm FROM e),\n"
    sb ++= s"m${m}c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, vm AS cv " +
      s"FROM m${m}e WHERE vec_id < $PqKs),\n"
    for (i <- 1 to Iters) {
      sb ++= s"m${m}a$i AS (SELECT vec_id, cid FROM (\n"
      sb ++= s"  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id\n"
      sb ++= s"           ORDER BY ${dist("e", "c")} ASC, c.cid ASC) AS rn\n"
      sb ++= s"  FROM m${m}e e, m${m}c${i - 1} c) WHERE rn = 1),\n"
      sb ++= s"m${m}c$i AS (SELECT cid, list(comp ORDER BY jj) AS cv FROM (\n"
      sb ++= s"  SELECT a.cid, jj, CAST(SUM(e.vm[jj]) AS BIGINT) // COUNT(*) AS comp\n"
      sb ++= s"  FROM m${m}a$i a JOIN m${m}e e USING (vec_id), " +
        s"(SELECT unnest(range(1, ${PqSub + 1})) AS jj)\n"
      sb ++= s"  GROUP BY a.cid, jj)\nGROUP BY cid),\n"
    }
    sb ++= s"m${m}asg AS (SELECT vec_id, cid AS code, dist2 FROM (\n"
    sb ++= s"  SELECT e.vec_id, c.cid, ${dist("e", "c")} AS dist2,\n"
    sb ++= s"         row_number() OVER (PARTITION BY e.vec_id\n"
    sb ++= s"           ORDER BY ${dist("e", "c")} ASC, c.cid ASC) AS rn\n"
    sb ++= s"  FROM m${m}e e, m${m}c$Iters c) WHERE rn = 1)"
    sb.toString
  }

  private[sim] def duckPqChains: String =
    (0 until PqM).map(duckPqSubChain).mkString(",\n")

  private[sim] def duckPqCodesSql: String = {
    val union = (0 until PqM)
      .map(m => s"SELECT vec_id, $m AS m, code, dist2 FROM m${m}asg")
      .mkString("\n       UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) <= 1e9, FALSE))) = 0),
       |$duckPqChains,
       |u AS ($union)
       |SELECT vec_id, array_to_string(list(CAST(code AS VARCHAR) ORDER BY m), ' ') AS codes,
       |       CAST(SUM(dist2) AS BIGINT) AS dist2_total
       |FROM u GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  /** ADC scoring selects shared by the PQ top-k oracle and its recall
    * eval: per subspace, query subvector · assigned sub-centroid. */
  private[sim] def duckPqScoreSel: String = (0 until PqM).map { m =>
    s"""SELECT q.vec_id AS q_id, a.vec_id AS cand_id,
       |       list_sum(list_transform(range(1, ${PqSub + 1}), j -> q.vm[j] * c.cv[j])) AS sc
       |FROM m${m}e q, m${m}asg a JOIN m${m}c$Iters c ON a.code = c.cid
       |WHERE q.vec_id < 8""".stripMargin
  }.mkString("\nUNION ALL ")

  /** The PQ top-3 CTE chain (training replay + ADC ranking) shared by
    * `sim_pq_topk` and `sim_pq_recall`. Emits `r` (ranked candidates). */
  private[sim] def duckPqRankedCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |     WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) <= 1e9, FALSE))) = 0),
       |$duckPqChains,
       |sc AS ($duckPqScoreSel),
       |tot AS (SELECT q_id, cand_id, CAST(SUM(sc) AS BIGINT) AS score
       |        FROM sc GROUP BY q_id, cand_id),
       |r AS (SELECT q_id, cand_id, score,
       |             row_number() OVER (PARTITION BY q_id
       |                                ORDER BY score DESC, cand_id ASC) AS rank
       |      FROM tot WHERE cand_id <> q_id)""".stripMargin

  private[sim] def duckPqTopkSql: String =
    s"""WITH $duckPqRankedCtes
       |SELECT q_id, cand_id, score, CAST(rank AS INTEGER) AS rank
       |FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  /** Oracle for `sim_pq_recall`: the PQ ADC top-3 against the exact
    * brute-force DOT-metric top-3 ([[duckMipsBruteCte]] — the metric ADC
    * approximates), hits counted per query from the exact side. */
  private[sim] def duckPqRecallSql: String =
    s"""WITH $duckPqRankedCtes,
       |pq AS (SELECT q_id, cand_id FROM r WHERE rank <= 3),
       |${duckMipsBruteCte(3)}
       |SELECT b.q_id, CAST(COUNT(p.cand_id) AS BIGINT) AS n_hits,
       |       (1000 * CAST(COUNT(p.cand_id) AS BIGINT)) // 3 AS recall_permille
       |FROM brute b LEFT JOIN pq p
       |  ON p.q_id = b.q_id AND p.cand_id = b.cand_id
       |GROUP BY b.q_id ORDER BY b.q_id""".stripMargin

  /** Oracle for `sim_ivf_pq`: k-means chain (coarse cells) + all M PQ
    * sub-chains, probe the NProbe nearest cells per query, ADC-score only
    * the candidates assigned to probed cells. */
  private[sim] def duckIvfPqSql: String = {
    val pcos = duckCosOf("e.v", "c.cv")
    val scoreSel = (0 until PqM).map { m =>
      s"""SELECT p.q_id, g.vec_id AS cand_id,
         |       list_sum(list_transform(range(1, ${PqSub + 1}), j -> q.vm[j] * c.cv[j])) AS sc
         |FROM probes p
         |JOIN assign g ON g.cell = p.probe_cell AND g.vec_id <> p.q_id
         |JOIN m${m}asg a ON a.vec_id = g.vec_id
         |JOIN m${m}c$Iters c ON a.code = c.cid
         |JOIN m${m}e q ON q.vec_id = p.q_id""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH ${duckKmeansChain()},
       |$duckPqChains,
       |probes AS (SELECT vec_id AS q_id, probe_cell FROM (
       |  SELECT e.vec_id, c.cid AS probe_cell,
       |         row_number() OVER (PARTITION BY e.vec_id
       |                            ORDER BY $pcos DESC, c.cid ASC) AS rn
       |  FROM e, c$Iters c WHERE e.vec_id < 8) WHERE rn <= $NProbe),
       |sc AS ($scoreSel),
       |tot AS (SELECT q_id, cand_id, CAST(SUM(sc) AS BIGINT) AS score
       |        FROM sc GROUP BY q_id, cand_id),
       |r AS (SELECT q_id, cand_id, score,
       |             row_number() OVER (PARTITION BY q_id
       |                                ORDER BY score DESC, cand_id ASC) AS rank
       |      FROM tot)
       |SELECT q_id, cand_id, score, CAST(rank AS INTEGER) AS rank
       |FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  }

  /** Assembled from the two query-family traits (round-17 split along the
    * build/serve/eval seams VERDICT r16 #3 named; Dedup.scala's round-16
    * trait split is the template). The traits' def vals are lazy because
    * their oracle strings interpolate object-body vals — see the trait
    * scaladocs. Order within `defs` is not load-bearing (SparkEntry maps
    * by name; DumpPlans sorts by name).
    */
  val defs: Seq[QueryDef] = serveDefs ++ evalDefs
}
