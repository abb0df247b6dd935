package graft.sim

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef

/** The SERVING half of the similarity query surface (split out of
  * Similarity.scala in round 17 — same package, no behavior change; the
  * round-16 Dedup.scala trait split is the template, plan identity proven
  * the same way by a normalized PLANS.md diff). Every entry here ANSWERS a
  * similarity query against the corpus or a trained index: LSH candidate
  * pairs, brute/agg cosine top-k, IVF assignment + cosine/MIPS serving,
  * filtered ANN, u8/q8 quantized serving, the k-NN graph, and PQ
  * code/ADC serving. Model TRAINING (k-means, PQ codebooks), the adaptive
  * RP-LSH ladder, and the shared DuckDB replay chains stay in
  * Similarity.scala — these defs only call them. Mixed into [[Similarity]];
  * `serveDefs` is LAZY so its oracle strings (which interpolate object-body
  * vals like the PQ CTE chains) are built only at `Similarity.defs`
  * assembly time, after the object body initializes — a strict trait val
  * would read uninitialized nulls (trait bodies initialize before the
  * object body). */
private[sim] trait SimilarityServeQueries { this: Similarity.type =>

  private[sim] lazy val serveDefs: Seq[QueryDef] = Seq(

    /** Hyperplane-LSH near-dup candidates over the embeddings: each vector
      * gets RpBands band codes from sign-random projections; same (band,
      * code) ⇒ candidate pair, capped per bucket (graft.dedup.Dedup
      * .MaxBucket — a degenerate corpus collapsing to few codes must not go
      * quadratic), verified by exact cosine ≥ 0.35. Banded-candidate
      * contract like dd_simhash_pairs: the oracle derives the SAME
      * hyperplanes (md5 signs) and the same integer micro-unit dots, so
      * both engines emit the same (recall-limited) pair set.
      *
      * Scale shape: the projection is a NARROW MAP — the codegen'd native
      * kernel (graft.functions.RpBandCodes) computes all RpPlanes signed
      * integer dots per row against a per-JVM constant ±1 matrix and packs
      * them into band codes in one pass. The earlier matrix-multiply-as-join
      * formulation (exploded components × broadcast plane table → two wide
      * aggregations) shuffled N×Dim×RpPlanes intermediate rows for what is
      * per-row arithmetic with a constant operand; the kernel removes that
      * exchange entirely, leaving the (band, code) bucket groupBy as the
      * LSH path's only shuffle — the one the algorithm inherently needs.
      * Quantization stays in SQL (`CAST(round(x*1e6) AS BIGINT)`) so float
      * rounding parity with the oracle is untouched; the kernel is pure
      * integer arithmetic and bit-identical to the SUM(xm*sgn) form (spec:
      * RpBandCodesSpec proves equality against the exploded formulation). */
    QueryDef(
      "sim_rp_pairs",
      (s, d) => {
        val e = vecs(s, d).select(col("vec_id"), col("v"))
        // Corpus-adaptive band width (see RpShape): the kernel's 16 8-bit
        // codes regroup into 128/bits bands of bits/8 codes each — pure
        // bit-packing over the unchanged plane set, identity at fixture
        // scale (g = 1 keeps the established plan byte-for-byte).
        val bits = rpBitsFor(corpusSize(s, d))
        val withCodes = e.withColumn("codes",
          expr("rp_band_codes(transform(v, x -> CAST(round(x * 1000000) AS BIGINT)))"))
        val postings = withCodes
          .select(col("vec_id"), col("v"),
            posexplode(rpBandedCodes(bits)).as(Seq("bi", "bv")))
        graft.dedup.Dedup
          .bucketedPairs(postings, struct(col("vec_id"), col("v")), col("bi"), col("bv"))
          .select(col("p.x.vec_id").as("vec_a"), col("p.y.vec_id").as("vec_b"),
            expr("round(cosine_sim(p.x.v, p.y.v), 6)").as("cos6"))
          // !isnan: a zero-norm member scores NaN, and BOTH engines compare
          // NaN greater than any numeric so `>= 0.35` alone passes it — the
          // guard (mirrored in the oracle WHERE) is the bruteTopK convention
          // applied to the verify filter (round-19 review;
          // NullEmbeddingSpec pins the pair set).
          .filter(col("cos6") >= 0.35 && !isnan(col("cos6")))
          .distinct()
          .orderBy("vec_a", "vec_b")
      },
      Some(
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           |           WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) <= 1e9, FALSE))) = 0),
           |shape AS (${rpShapeSql("e")}),
           |planes AS (SELECT p.p, i.i,
           |    ${sgnCase("'rp:' || CAST(p.p AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)")} AS sgn
           |  FROM (SELECT unnest(range(0, $RpPlanes)) AS p) p,
           |       (SELECT unnest(range(0, $Dim)) AS i) i),
           |-- e's WHERE (the vecs() contract) is what prevents the phantom
           |-- band code a NULL embedding would otherwise get here: all-NULL
           |-- dots sum through CASE WHEN dm >= 0 ... ELSE 0 to bv = 0,
           |-- inflating (bi, 0) buckets Spark never posts to
           |comps AS (SELECT vec_id, i.i, CAST(round(v[i.i + 1] * 1000000) AS BIGINT) AS xm
           |          FROM e, (SELECT unnest(range(0, $Dim)) AS i) i),
           |dots AS (SELECT vec_id, p, SUM(xm * sgn) AS dm
           |         FROM comps JOIN planes USING (i) GROUP BY vec_id, p),
           |codes AS (SELECT vec_id, p // sh.bits AS bi,
           |                 CAST(SUM(CASE WHEN dm >= 0
           |                           THEN (CAST(1 AS BIGINT) << (p % sh.bits)) ELSE 0 END)
           |                      AS BIGINT) AS bv
           |          FROM dots, shape sh GROUP BY vec_id, p // sh.bits),
           |keep AS (SELECT bi, bv FROM codes GROUP BY bi, bv
           |         HAVING COUNT(*) <= ${graft.dedup.Dedup.MaxBucket}),
           |ev AS (SELECT c.vec_id, c.bi, c.bv, e.v FROM codes c JOIN e USING (vec_id))
           |SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b,
           |       ${duckCosOf("a.v", "c.v")} AS cos6
           |FROM ev a JOIN keep k ON a.bi = k.bi AND a.bv = k.bv
           |     JOIN ev c ON c.bi = a.bi AND c.bv = a.bv AND a.vec_id < c.vec_id
           |-- NOT isnan mirrors the Spark-side guard: BOTH engines compare
           |-- NaN greater than any numeric, so >= 0.35 alone would pass a
           |-- zero-norm pair in both — the guard, not the threshold, is
           |-- what excludes it
           |WHERE ${duckCosOf("a.v", "c.v")} >= 0.35
           |  AND NOT isnan(${duckCosOf("a.v", "c.v")})
           |ORDER BY vec_a, vec_b""".stripMargin)),

    /** Brute-force cosine top-5 for queries vec_id < 8 (self excluded;
      * zero-norm candidates have no rank — see [[bruteTopK]]). */
    QueryDef(
      "sim_topk_brute",
      (s, d) => bruteTopK(s, d, 5).orderBy("q_id", "rank"),
      Some(duckBruteSql(5))),

    /** Top-k via the bounded typed Aggregator (graft.functions.TopK): same
      * result as the window formulation (same oracle — [[duckBruteSql]]),
      * but partial buffers cap the shuffle at O(queries × k) — the
      * formulation that survives millions of candidates per query. The
      * explicit NaN filter mirrors [[bruteTopK]]'s: TopK already drops NaN
      * at reduce, so the filter is what makes the equivalence to the
      * window path hold by construction, not by the aggregator's side
      * behavior. */
    QueryDef(
      "sim_topk_agg",
      (s, d) => {
        import s.implicits._
        val e = vecs(s, d)
        val q = e.filter(col("vec_id") < 8).select(col("vec_id").as("q_id"), col("v").as("va"))
        val c = e.select(col("vec_id").as("cand_id"), col("v").as("vb"))
        val scored = c.crossJoin(broadcast(q))
          .filter(col("cand_id") =!= col("q_id"))
          .withColumn("cos6", expr(cosExpr))
          .filter(col("cos6").isNotNull && !isnan(col("cos6")))
          .select(col("q_id"), col("cand_id"), col("cos6"))
          .as[(Long, Long, Double)]
        scored.groupByKey(_._1)
          .mapValues(t => graft.functions.TopK.Scored(t._2, t._3))
          .agg(graft.functions.TopK.topK(5).toColumn)
          .flatMap { case (qid, entries) =>
            entries.zipWithIndex.map { case (en, i) => (qid, en.id, en.score, i + 1) }
          }
          .toDF("q_id", "cand_id", "cos6", "rank")
          .orderBy("q_id", "rank")
      },
      Some(duckBruteSql(5))),

    /** Trained IVF cell assignment for every vector (k-means, K cells,
      * Iters Lloyd's rounds — the oracle replays training exactly). */
    QueryDef(
      "sim_ivf_assign",
      (s, d) => assignCells(s, d).orderBy("vec_id"),
      Some(s"""WITH ${duckKmeansChain()}
              |SELECT vec_id, cell, cos6 FROM assign ORDER BY vec_id""".stripMargin)),

    /** ANN search over the trained IVF index, nprobe=NProbe: each query
      * searches its NProbe nearest cells only; exact cosine re-ranks the
      * candidates. Recall vs sim_topk_brute is asserted ≥0.9 in
      * SimilaritySpec. */
    QueryDef(
      "sim_ann_ivf",
      (s, d) => annIvfSearch(s, d, K, NProbe),
      Some(duckAnnIvfSql(duckKmeansChain(), NProbe))),

    /** ANN over a √N-SIZED IVF index: K = ⌊√N⌋ cells (22 at sf0.01, 44 at
      * sf0.1 — vs the fixture-cluster-count K=5 above), fixed NProbe probe
      * budget. This is the configuration the at-scale tuning note on [[K]]
      * promises: cells and centroids both grow ~√N, the probed fraction
      * NProbe/K SHRINKS as the corpus grows, and the oracle derives the
      * same K from COUNT(*) and replays the larger training run verbatim.
      * Recall vs brute force asserted in SimilaritySpec. */
    QueryDef(
      "sim_ann_ivf_sqrtn",
      (s, d) => annIvfSearch(s, d, sqrtK(corpusSize(s, d)), SqrtNProbe),
      Some(duckAnnIvfSql(
        duckKmeansChain("SELECT greatest(2, CAST(floor(sqrt(COUNT(*))) AS BIGINT)) FROM e"),
        SqrtNProbe))),

    /** FILTERED ANN — top-3 within the query's LABEL, the
      * metadata-predicate vector search every retrieval system serves
      * ("nearest within this category/tenant/language"). The predicate is
      * applied PRE-scoring, inside the candidate join condition, so the
      * exact-cosine re-rank touches only label-matching candidates from the
      * probed cells — the pre-filter strategy, correct when the filter is
      * selective enough that probed cells still hold matches (the fixture's
      * 10 labels ≈ 10% selectivity; a near-empty post-filter result is the
      * signal to raise nprobe, which [[SqrtNProbe]]'s scaling note covers).
      * Same artifact-probing plan as sim_ann_ivf plus one narrow label
      * attach on each side; queries and their labels ride the same
      * broadcast. A query whose probed cells hold fewer than 3 same-label
      * candidates reports fewer rows — in both engines, by construction. */
    QueryDef(
      "sim_ann_filtered",
      (s, d) => {
        val e = vecs(s, d).select(col("vec_id"), col("v"), col("label"))
        val cdf = centroidsDf(s, trainKMeans(s, d, K, Iters))
        val asg = cellsStored(s, d, K).select(col("vec_id"), col("cell"))
        val probes = ivfProbes(e, cdf, NProbe, "cosine_sim")
          .select(col("vec_id").as("q_id"), col("v").as("va"),
            col("label").as("q_label"), col("cid").as("probe_cell"))
        val c = e.join(asg, "vec_id")
          .select(col("vec_id").as("cand_id"), col("v").as("vb"),
            col("cell"), col("label"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos6").desc, col("cand_id").asc)
        c.join(broadcast(probes),
            c("cell") === probes("probe_cell") &&
              col("label") === col("q_label") && col("cand_id") =!= col("q_id"))
          .withColumn("cos6", expr(cosExpr))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("q_label").as("label"), col("cand_id"),
            col("cos6"), col("rank"))
          .orderBy("q_id", "rank")
      },
      Some {
        val pcos = duckCosOf("e.v", "c.cv")
        s"""WITH ${duckKmeansChain()},
           |lab AS (SELECT vec_id, label FROM embeddings),
           |probes AS (SELECT vec_id AS q_id, va, q_label, probe_cell FROM (
           |  SELECT e.vec_id, e.v AS va, l.label AS q_label, c.cid AS probe_cell,
           |         row_number() OVER (PARTITION BY e.vec_id
           |                            ORDER BY $pcos DESC, c.cid ASC) AS rn
           |  FROM e JOIN lab l USING (vec_id), c$Iters c
           |  WHERE e.vec_id < 8) WHERE rn <= $NProbe),
           |cands AS (SELECT a.vec_id AS cand_id, e.v AS vb, a.cell, l.label
           |          FROM assign a JOIN e USING (vec_id) JOIN lab l USING (vec_id)),
           |r AS (SELECT p.q_id, p.q_label AS label, c.cand_id,
           |             ${duckCosOf("p.va", "c.vb")} AS cos6,
           |             row_number() OVER (PARTITION BY p.q_id
           |                                ORDER BY ${duckCosOf("p.va", "c.vb")} DESC,
           |                                         c.cand_id ASC) AS rank
           |      FROM probes p JOIN cands c
           |        ON c.cell = p.probe_cell AND c.label = p.q_label
           |           AND c.cand_id <> p.q_id)
           |SELECT q_id, label, cand_id, cos6, CAST(rank AS INTEGER) AS rank
           |FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
      }),

    /** EMBEDDING QUANTIZATION (asymmetric per-vector uint8) — the 4x
      * memory/IO compression step before an ANN index ships to serving:
      * q_i = (v_i + m) * 127 / (2m) with m = max|v_i|, mapping [-m, m] to
      * [0, 127]. All arithmetic in integer micro-units (the sim_rp_pairs
      * discipline): floats become `round(v * 1e6)` BIGINTs first, so both
      * engines compute bit-identical codes — no float division anywhere,
      * and integer division agrees because BOTH engines truncate toward
      * zero (Spark `div` ≡ DuckDB `//`; every operand here is non-negative
      * anyway, so even a floor-vs-truncate disagreement couldn't bite).
      * A narrow one-pass map (no shuffle, no model
      * state); emitted checksums (sum/min/max of codes) keep the oracle
      * row compact while pinning every code. */
    QueryDef(
      "sim_quantize_u8",
      // quantizer derivation shared with sim_topk_q8 — Similarity.u8Codes
      // is the one owner (round 17)
      (s, d) => u8Codes(s, d)
        .select(col("vec_id"), col("m").as("scale_micro"),
          expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x)").as("q_sum"),
          expr("array_min(q)").as("q_min"), expr("array_max(q)").as("q_max"))
        .orderBy("vec_id"),
      Some("""WITH vm AS (SELECT vec_id,
             |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vm
             |  FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) <= 1e9, FALSE))) = 0),
             |mm AS (SELECT vec_id, vm,
             |         greatest(list_max(list_transform(vm, x -> abs(x))), 1) AS m
             |       FROM vm),
             |q AS (SELECT vec_id, m,
             |        list_transform(vm, x -> ((x + m) * 127) // (2 * m)) AS q
             |      FROM mm)
             |SELECT vec_id, CAST(m AS BIGINT) AS scale_micro,
             |       CAST(list_sum(q) AS BIGINT) AS q_sum,
             |       CAST(list_min(q) AS BIGINT) AS q_min,
             |       CAST(list_max(q) AS BIGINT) AS q_max
             |FROM q ORDER BY vec_id""".stripMargin)),

    /** QUANTIZED MIPS top-k — the serving path over [[sim_quantize_u8]]'s
      * codes: rank candidates by the DEQUANTIZED inner product
      * ma·mb·Σ(2qa_i−127)(2qb_i−127) (each code dequantizes to
      * m·(2q/127 − 1); the constant 1/127² divisor cannot change ranks and
      * is dropped, so every score is an exact BIGINT and both engines rank
      * identically — no float ulp anywhere, the property the float cosine
      * path can't give the oracle). Same distributed shape as
      * sim_topk_brute: queries broadcast, one window per query for the
      * top-k; at scale the scan reads 64-byte codes instead of 256-byte
      * floats — the 4× IO cut is the point of quantized serving.
      *
      * Exactness envelope (the k-means-sum-bound discipline): worst-case
      * |score| = ma·mb·Dim·127², which fits BIGINT only while the max
      * |component| stays ≲ 3.0 (scale m ≤ 3e6 micro at Dim=64). Beyond it
      * Spark's non-ANSI multiply wraps silently while DuckDB's checked
      * arithmetic errors — SimilaritySpec pins the fixture inside the
      * envelope so the boundary can't be crossed unnoticed. */
    QueryDef(
      "sim_topk_q8",
      (s, d) => {
        val q8 = u8Codes(s, d)
        val qs = q8.filter(col("vec_id") < 8)
          .select(col("vec_id").as("q_id"), col("m").as("ma"), col("q").as("qa"))
        val cs = q8.select(col("vec_id").as("cand_id"), col("m").as("mb"), col("q").as("qb"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("score").desc, col("cand_id").asc)
        cs.crossJoin(broadcast(qs))
          .filter(col("cand_id") =!= col("q_id"))
          .withColumn("score", expr(
            "ma * mb * aggregate(zip_with(qa, qb, (a, b) -> (2 * a - 127) * (2 * b - 127)), " +
              "CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("cand_id"), col("score"), col("rank"))
          .orderBy("q_id", "rank")
      },
      Some("""WITH vm AS (SELECT vec_id,
             |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vm
             |  FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) <= 1e9, FALSE))) = 0),
             |q8 AS (SELECT vec_id,
             |         greatest(list_max(list_transform(vm, x -> abs(x))), 1) AS m,
             |         list_transform(vm, x ->
             |           ((x + greatest(list_max(list_transform(vm, y -> abs(y))), 1)) * 127)
             |             // (2 * greatest(list_max(list_transform(vm, y -> abs(y))), 1))) AS q
             |       FROM vm),
             |sc AS (SELECT qq.vec_id AS q_id, c.vec_id AS cand_id,
             |         CAST(qq.m * c.m * list_sum(list_transform(range(1, len(qq.q) + 1),
             |           i -> (2 * qq.q[i] - 127) * (2 * c.q[i] - 127))) AS BIGINT) AS score
             |       FROM (SELECT * FROM q8 WHERE vec_id < 8) qq, q8 c
             |       WHERE c.vec_id <> qq.vec_id)
             |SELECT q_id, cand_id, score, CAST(rank AS INTEGER) AS rank FROM (
             |  SELECT q_id, cand_id, score,
             |         row_number() OVER (PARTITION BY q_id
             |                            ORDER BY score DESC, cand_id ASC) AS rank
             |  FROM sc)
             |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin)),

    /** APPROXIMATE k-NN GRAPH over the whole corpus — the structure behind
      * semantic-dedup clustering and graph-based ANN serving (every vector's
      * top-3 same-cell neighbors by exact cosine). Blocking is the √N-sized
      * IVF index: with K=⌊√N⌋ cells the within-cell pair mass is ~N²/K =
      * N^1.5, i.e. ~√N candidates per vertex — sublinear per vertex and
      * embarrassingly cell-parallel, vs the N² brute graph that is
      * impossible at 100 TB (where this shape gets a cell-size cap, the
      * MaxBucket discipline of graft.dedup, and multi-assign for recall at
      * cell borders). One shuffle keyed on the cell id expands pairs; the
      * per-src top-3 window ranks only same-cell candidates. The oracle
      * replays the identical training run and blocking, so rows match
      * exactly; isolated singleton cells yield no edges in both engines. */
    QueryDef(
      "sim_knn_graph",
      (s, d) => {
        val e = vecs(s, d).select(col("vec_id"), col("v"))
        val k = sqrtK(corpusSize(s, d))
        val asg = cellsStored(s, d, k).select(col("vec_id"), col("cell"))
        val av = e.join(asg, "vec_id")
        val a = av.select(col("vec_id").as("src"), col("v").as("va"), col("cell"))
        val b = av.select(col("vec_id").as("dst"), col("v").as("vb"), col("cell"))
        val w = Window.partitionBy(col("src"))
          .orderBy(col("cos6").desc, col("dst").asc)
        a.join(b, "cell")
          .filter(col("src") =!= col("dst"))
          .withColumn("cos6", expr(cosExpr))
          // bruteTopK NaN convention (round-19 review): a zero-norm
          // endpoint's cosine is NaN — no similarity rank on either side.
          .filter(!isnan(col("cos6")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("src"), col("dst"), col("cos6"), col("rank"))
          .orderBy("src", "rank")
      },
      Some(s"""WITH ${duckKmeansChain(
               "SELECT greatest(2, CAST(floor(sqrt(COUNT(*))) AS BIGINT)) FROM e")},
           |av AS (SELECT a.vec_id, a.cell, e.v FROM assign a JOIN e USING (vec_id)),
           |p AS (SELECT x.vec_id AS src, y.vec_id AS dst,
           |             ${duckCosOf("x.v", "y.v")} AS cos6
           |      FROM av x JOIN av y ON x.cell = y.cell AND x.vec_id <> y.vec_id
           |      WHERE NOT isnan(${duckCosOf("x.v", "y.v")})),
           |r AS (SELECT src, dst, cos6,
           |             row_number() OVER (PARTITION BY src
           |                                ORDER BY cos6 DESC, dst ASC) AS rank
           |      FROM p)
           |SELECT src, dst, cos6, CAST(rank AS INTEGER) AS rank
           |FROM r WHERE rank <= 3 ORDER BY src, rank""".stripMargin)),

    /** PQ CODEBOOK ENCODING — the index-build half of product quantization:
      * every vector reduced to its M sub-codes (emitted as a space-joined
      * string: the driver compare can't hash list columns) plus the total
      * quantization distortion, the number PQ tuning watches. One narrow
      * pass per subspace against its broadcast sub-codebook, union, one
      * vec_id rollup. The oracle replays all M trainings from the same
      * integer arithmetic. */
    QueryDef(
      "sim_pq_codes",
      (s, d) => pqAssignAll(s, d)
        .groupBy(col("vec_id"))
        .agg(expr("array_join(transform(array_sort(collect_list(struct(m, code))), " +
          "p -> CAST(p.code AS STRING)), ' ')").as("codes"),
          sum(col("dist2")).as("dist2_total"))
        .orderBy("vec_id"),
      Some(duckPqCodesSql)),

    /** PQ TOP-K SERVING (ADC — asymmetric distance computation): queries
      * stay exact while candidates are scored from their CODES alone
      * (query-subvector · assigned sub-centroid, summed over subspaces, all
      * BIGINT micro² — bit-identical cross-engine). This is the
      * billion-vector serving shape: the scoring join touches the M×Ks
      * codebook (broadcast) and the N×M code table — never the raw
      * vectors. Recall vs exact brute force is asserted in SimilaritySpec;
      * rank ties break to the lowest candidate id in both engines. */
    QueryDef(
      "sim_pq_topk",
      (s, d) => pqTopK(s, d, 3)
        .select(col("q_id"), col("cand_id"), col("score"), col("rank"))
        .orderBy("q_id", "rank"),
      Some(duckPqTopkSql)),

    /** IVF-PQ COMPOSITE SERVING — the two index halves composed into the
      * FAISS `IndexIVFPQ` shape that actually serves billion-vector
      * corpora: the coarse IVF quantizer prunes the corpus to each query's
      * NProbe nearest cells, and ONLY those candidates are ADC-scored from
      * their PQ codes (query-subvector · assigned sub-centroid, summed
      * over subspaces, all BIGINT micro² — bit-identical cross-engine).
      * Per-query work is therefore (NProbe/K of the corpus) × (M code
      * lookups against a broadcast M×Ks codebook) — sublinear candidate
      * count AND compressed candidate representation; the raw vectors
      * appear nowhere in the serving plan (`.explain` shows the code table
      * + two broadcasts, no embeddings column past the probe stage).
      *
      * Scale shape: both inputs are the PERSISTED index artifacts the
      * standalone paths already build (memoized coarse centroids + PQ
      * codebooks; cell-assignment and code tables are linear one-pass
      * maps), so serving cost is independent of training. At 100 TB the
      * knobs become K~√N cells (probed fraction shrinks as the corpus
      * grows — the sim_ann_ivf_sqrtn argument) and PqKs=256 codes/byte;
      * the plan is unchanged. Tie ranks break to the lowest cand_id in
      * both engines; recall vs exact brute force asserted in
      * SimilaritySpec. */
    QueryDef(
      "sim_ivf_pq",
      (s, d) => {
        val model = trainPq(s, d)
        val e = vecs(s, d).select(col("vec_id"), col("v"))
        val cdf = centroidsDf(s, trainKMeans(s, d))
        val probes = ivfProbes(e, cdf, NProbe, "cosine_sim")
          .select(col("vec_id").as("q_id"), col("cid").as("probe_cell"))
        // The serving index: (cand_id, cell, m, code) — codes + coarse cell,
        // never the raw vectors.
        val serving = pqAssignAll(s, d)
          .select(col("vec_id").as("cand_id"), col("m"), col("code"))
          .join(assignCells(s, d).select(col("vec_id").as("cand_id"), col("cell")),
            "cand_id")
        val q = pqSubVecsAll(s, d).filter(col("vec_id") < 8)
          .select(col("vec_id").as("q_id"), col("m"), col("vm").as("qv"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("score").desc, col("cand_id").asc)
        serving
          .join(broadcast(probes),
            col("cell") === col("probe_cell") && col("cand_id") =!= col("q_id"))
          .join(broadcast(pqCodebookDf(s, model).withColumnRenamed("cid", "code")),
            Seq("m", "code"))
          .join(broadcast(q), Seq("q_id", "m"))
          .withColumn("sc",
            expr("aggregate(zip_with(qv, cv, (a, b) -> a * b), 0L, (acc, x) -> acc + x)"))
          .groupBy(col("q_id"), col("cand_id"))
          .agg(sum(col("sc")).as("score"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("cand_id"), col("score"), col("rank"))
          .orderBy("q_id", "rank")
      },
      Some(duckIvfPqSql)),

    /** MAXIMUM-INNER-PRODUCT top-k (MIPS) — retrieval models trained with a
      * dot-product objective (DPR/two-tower recommenders) must be SERVED by
      * dot product: the argmax differs from cosine whenever candidate norms
      * differ, so reusing a cosine top-k silently biases toward unit-norm
      * candidates. Exact brute formulation here (the recall oracle);
      * candidates score with the codegen'd native [[graft.functions
      * .DotProduct]] against broadcast queries, rank desc / ties to min
      * cand_id, emit k=5 in integer-micro-free 6-dp rounding.
      *
      * Scale path (documented, spec-checked in SimilaritySpec): MIPS
      * reduces to cosine by norm augmentation — append
      * sqrt(M²−‖x‖²) to each candidate (M = max candidate norm, a 1-row
      * broadcast scalar) and 0 to each query; augmented-cosine order equals
      * dot order per query, so the EXISTING IVF/LSH cosine index serves
      * MIPS with no new index structure. The brute pass stays
      * O(queries×corpus) with a candidates-side scan that never shuffles
      * (queries broadcast), same shape as sim_topk_brute; the bounded TopK
      * aggregator (sim_topk_agg) is the million-candidate formulation. */
    QueryDef(
      "sim_mips_topk",
      (s, d) => bruteMipsTopK(s, d, 5).orderBy("q_id", "rank"),
      Some("""SELECT q_id, cand_id, round(ip, 6) AS ip6, CAST(rank AS INTEGER) AS rank FROM (
             |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
             |         list_sum(list_transform(range(1, len(va) + 1), i -> va[i] * vb[i])) AS ip,
             |         row_number() OVER (PARTITION BY q.vec_id
             |           ORDER BY list_sum(list_transform(range(1, len(va) + 1),
             |                                            i -> va[i] * vb[i])) DESC,
             |                    c.vec_id ASC) AS rank
             |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS va
             |        FROM embeddings WHERE vec_id < 8 AND embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) <= 1e9, FALSE))) = 0) q,
             |       (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vb FROM embeddings
             |        WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) <= 1e9, FALSE))) = 0) c
             |  WHERE c.vec_id <> q.vec_id)
             |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    /** MIPS served through the trained IVF index — see [[mipsIvfSearch]]. */
    QueryDef(
      "sim_mips_ivf",
      (s, d) => mipsIvfSearch(s, d, K, NProbe),
      Some(duckMipsIvfSql(NProbe))),
  )
}
