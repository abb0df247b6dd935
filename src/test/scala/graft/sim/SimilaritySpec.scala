package graft.sim

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def run(name: String) = run2(name, sf)

  test("brute-force top-k: 5 neighbors per query, self excluded, cos in [-1,1]") {
    val t = run("sim_topk_brute")
    val perQ = t.groupBy("q_id").count().collect()
    assert(perQ.nonEmpty && perQ.forall(_.getLong(1) == 5))
    assert(t.filter(col("cand_id") === col("q_id")).count() == 0)
    assert(t.filter(col("cos6") > 1.000001 || col("cos6") < -1.000001).count() == 0)
  }

  test("hyperplane-LSH pairs: subset of exact >=0.35 pairs; duplicate vectors always collide") {
    val rp = run("sim_rp_pairs").select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rp.nonEmpty, "banded candidates should exist on the fixture")
    // every emitted pair really is >= 0.35 exact cosine (no false positives:
    // candidates are VERIFIED with the same native cosine the brute path uses)
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val l = e.select(col("vec_id").as("vec_a"), col("v").as("va"))
    val r = e.select(col("vec_id").as("vec_b"), col("v").as("vb"))
    val exact = l.join(r, col("vec_a") < col("vec_b"))
      .withColumn("cos6", expr("round(cosine_sim(va, vb), 6)"))
      .filter(col("cos6") >= 0.35)
      .select("vec_a", "vec_b").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(rp.subsetOf(exact), s"${(rp -- exact).size} emitted pairs are not real >=0.35 pairs")
    // identical vectors agree on every sign bit, so they share ALL bands:
    // recall on true duplicates is 1 by construction. Planted via a copy of
    // vec 0 staged into a temp corpus.
    val dir = TestSpark.tempDir("rp_dup").toString
    val dup = graft.Tables.embeddings(spark, sf)
    dup.unionAll(dup.filter(col("vec_id") === 0)
        .select(lit(900000L).as("vec_id"), col("embedding"), col("label")))
      .write.parquet(s"$dir/embeddings.parquet")
    val found = Similarity.defs.find(_.name == "sim_rp_pairs").get.fn(spark, dir)
      .filter(col("vec_a") === 0 && col("vec_b") === 900000L).count()
    assert(found == 1L, "an exact duplicate vector must be found by every band")
  }

  test("k-means training: K centroids of Dim components, deterministic") {
    // uncached path both times: determinism of the training itself, not memo
    val c1 = Similarity.trainKMeansUncached(spark, sf, Similarity.K, Similarity.Iters)
    val c2 = Similarity.trainKMeansUncached(spark, sf, Similarity.K, Similarity.Iters)
    assert(c1 == c2, "training must be bit-deterministic (oracle replays it)")
    assert(c1.size == Similarity.K)
    assert(c1.forall(_._2.size == Similarity.Dim))
    // training moved the centroids off their init vectors
    val init = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < Similarity.K)
      .orderBy("vec_id")
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0))
    assert(c1.map(_._2) != init.toSeq)
  }

  test("IVF assignment: every vector lands in exactly one trained cell") {
    val a = run("sim_ivf_assign")
    val n = graft.Tables.embeddings(spark, sf).count()
    assert(a.count() == n)
    assert(a.select("cell").distinct().count() <= Similarity.K)
  }

  test("ANN(IVF) recall >= 0.9 vs brute force at top-3") {
    val brute = run("sim_topk_brute").filter(col("rank") <= 3)
      .select("q_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = run("sim_ann_ivf")
      .select("q_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ann).size.toDouble / brute.size
    assert(recall >= 0.9, s"ANN recall $recall below 0.9 (${brute.size} truth pairs)")
  }

  test("ANN(IVF, K=sqrt(N)) recall >= 0.8 vs brute force at top-3") {
    // the at-scale configuration: K grows with the corpus, probe budget
    // fixed, so the probed fraction shrinks — recall is the contract
    val brute = run("sim_topk_brute").filter(col("rank") <= 3)
      .select("q_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = run("sim_ann_ivf_sqrtn")
      .select("q_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ann).size.toDouble / brute.size
    assert(recall >= 0.8, s"sqrt-N ANN recall $recall below 0.8 (${brute.size} truth pairs)")
    // K really is sqrt-sized (not the fixture K=5)
    val n = graft.Tables.embeddings(spark, sf).count()
    assert(Similarity.sqrtK(n) > Similarity.K)
  }

  test("ANN rank-1 cosine never exceeds brute-force rank-1 cosine") {
    val ann = run("sim_ann_ivf")
    assert(ann.count() > 0)
    val b1 = run("sim_topk_brute").filter(col("rank") === 1)
      .select(col("q_id"), col("cos6").as("bcos"))
    val a1 = ann.filter(col("rank") === 1).select(col("q_id"), col("cos6").as("acos"))
    val bad = a1.join(b1, "q_id").filter(col("acos") > col("bcos")).count()
    assert(bad == 0)
  }

  test("centroid outliers: 3 per label, and they are the true per-label minima") {
    val out = run("sim_centroid_outliers")
    val perLabel = out.groupBy("label").count().collect()
    assert(perLabel.nonEmpty && perLabel.forall(_.getLong(1) == 3))
    // recompute every vector's cosine to its own-label mean; the query's
    // rank-1 row must BE the label's global minimum (not just a low value)
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("label"))
    val cent = e.select(col("label"), posexplode(col("v")).as(Seq("j", "x")))
      .groupBy(col("label"), col("j"))
      .agg(sum(expr("CAST(round(x * 1000000) AS BIGINT)")).as("sm"),
        count(lit(1)).as("c"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(j, " +
        "CAST(sm AS DOUBLE) / (c * 1000000.0) AS comp))), p -> p.comp)").as("cv"))
    val minPerLabel = e.join(cent, "label")
      .withColumn("cos6", expr("round(cosine_sim(v, cv), 6)"))
      .groupBy("label").agg(min("cos6").as("true_min"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    out.filter(col("rank") === 1).collect().foreach { r =>
      assert(r.getDouble(2) == minPerLabel(r.getInt(0)),
        s"label ${r.getInt(0)} rank-1 outlier is not the true minimum")
    }
  }

  test("sim_ann_recall: every query reports, permille bounds hold, mean matches the recall gate") {
    val rows = Similarity.defs.find(_.name == "sim_ann_recall").get
      .fn(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 8, "one row per fixed query, hits or not")
    assert(rows.forall { case (_, h, p) => h >= 0 && h <= 3 && p >= 0 && p <= 1000 })
    // the aggregate must agree with the >= 0.9 gate the search spec enforces
    val mean = rows.map(_._2).sum.toDouble / (3 * rows.length)
    assert(mean >= 0.9, s"mean recall $mean below the ANN gate")
  }

  test("sim_nprobe_sweep: recall is monotone in the probe budget") {
    val rows = run("sim_nprobe_sweep").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(1, 2, 4))
    assert(rows.forall(_._2 == 8L), "every sweep point scores the full query sample")
    rows.foreach { case (np, _, h, p) =>
      assert(h >= 0 && h <= 24 && p >= 0 && p <= 1000, s"np=$np bounds: $h/$p")
    }
    // more probes can only surface more of the brute top-3
    assert(rows.sliding(2).forall { case Array(a, b) => a._3 <= b._3 },
      s"recall must be monotone in nprobe: ${rows.toSeq}")
    assert(rows.last._4 >= 900, "nprobe=4 of K=5 cells must be near-exhaustive")
  }

  test("sim_nprobe_sweep: empty query sample emits NO arm rows (oracle's GROUP BY omission)") {
    import spark.implicits._
    // The round-15 omission rule (shared with dd_band_tuning): a sweep arm
    // with zero scored queries is ABSENT from the table, not an
    // (np, 0, 0, NULL) row. The query sample is vec_id < 8, so a corpus
    // whose ids all sit above 8 trains the index normally (K=5 centroids
    // from 20 vectors) but scores nothing.
    val dir = TestSpark.tempDir("sweep_nosample").toString
    graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 20)
      .select((col("vec_id") + 100L).as("vec_id"), col("embedding"), col("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(run2("sim_nprobe_sweep", dir).count() == 0,
      "an unsampled corpus must omit all three sweep arms")
  }

  test("sim_knn_graph: dense per-src ranks, descending cosine, bounded by brute force") {
    val g = run("sim_knn_graph").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(g.nonEmpty)
    g.groupBy(_._1).foreach { case (src, edges) =>
      val ordered = edges.sortBy(_._4)
      assert(ordered.map(_._4).toSeq == (1 to ordered.length).toSeq,
        s"src $src: ranks must be dense from 1")
      assert(ordered.length <= 3)
      assert(ordered.map(_._3).toSeq == ordered.map(_._3).sortBy(-_).toSeq,
        s"src $src: cosine must be non-increasing with rank")
      assert(!edges.exists(e => e._2 == src), "self edges excluded")
    }
    // same-cell blocking can only MISS neighbors: the graph's best edge per
    // src never beats the exact brute-force rank-1 for the shared query set
    val brute = run("sim_topk_brute").filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    g.filter(e => e._4 == 1 && brute.contains(e._1)).foreach { e =>
      assert(e._3 <= brute(e._1) + 1e-9,
        s"src ${e._1}: graph rank-1 ${e._3} exceeds brute ${brute(e._1)}")
    }
  }

  test("sim_pq_codes: M codes per vector, codes within the codebook, zero-distortion centroids") {
    val rows = run("sim_pq_codes").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val n = graft.Tables.embeddings(spark, sf).count()
    assert(rows.length.toLong == n, "every vector gets a code word")
    rows.foreach { case (id, codes, dist) =>
      val cs = codes.split(" ").map(_.toInt)
      assert(cs.length == Similarity.PqM, s"vec $id: one code per subspace")
      assert(cs.forall(c => c >= 0 && c < Similarity.PqKs), s"vec $id: code outside codebook")
      assert(dist >= 0, s"vec $id: distortion must be non-negative")
    }
  }

  test("sim_pq_topk: PQ picks near-optimal neighbors (true-cosine quality ratio)") {
    // Exact-hit recall@3 over 8 queries is 24 Bernoulli slots — far too
    // noisy to gate codebook quality. The smooth metric: the TRUE cosine
    // of what PQ picked vs the true cosine of the optimal (brute) picks.
    val vecsById = graft.Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    val pq = run("sim_pq_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val brute = run("sim_topk_brute").filter(col("rank") <= 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    assert(pq.keySet == brute.keySet, "every query must report")
    val ratios = brute.keys.toSeq.map { q =>
      def meanCos(picks: Array[(Long, Long)]) =
        picks.map(p => cos(vecsById(q), vecsById(p._2))).sum / picks.length
      meanCos(pq(q)) / meanCos(brute(q))
    }
    val mean = ratios.sum / ratios.size
    assert(mean >= 0.7, s"PQ mean quality ratio $mean below floor (per-query: $ratios)")
  }

  test("sim_ivf_pq: dense ranks, ADC scores agree with the PQ-only path, near-PQ quality") {
    val r = run("sim_ivf_pq").collect()
    assert(r.nonEmpty, "composite serving must produce picks on the fixture")
    // per-query ranks are dense from 1 (<=3 picks; a tiny probed cell may
    // legitimately hold fewer than 3 candidates)
    val byQ = r.map(x => (x.getLong(0), x.getInt(3))).groupBy(_._1)
    byQ.values.foreach(g => assert(g.map(_._2).sorted.toSeq == (1 to g.size).toSeq))
    // the ADC score is the SAME number the PQ-only path computes: any
    // (q, cand) pair both paths rank must carry an identical integer score
    // (the composite changes the candidate SET, never the scoring)
    val ivfScores = r.map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2))).toMap
    val pqScores = run("sim_pq_topk").collect()
      .map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2))).toMap
    val shared = ivfScores.keySet & pqScores.keySet
    assert(shared.nonEmpty, "the two serving paths should overlap on the fixture")
    shared.foreach(k => assert(ivfScores(k) == pqScores(k),
      s"ADC score diverges between serving paths at $k"))
    // smooth quality metric vs exact brute force (the sim_pq_topk
    // discipline): cell pruning on top of PQ may only cost a little
    val vecsById = graft.Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v").collect()
      .map(x => x.getLong(0) -> x.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    val ivf = r.map(x => (x.getLong(0), x.getLong(1))).groupBy(_._1)
    val brute = run("sim_topk_brute").filter(col("rank") <= 3).collect()
      .map(x => (x.getLong(0), x.getLong(1))).groupBy(_._1)
    assert(ivf.keySet == brute.keySet, "every query must report")
    val ratios = brute.keys.toSeq.map { q =>
      def meanCos(picks: Array[(Long, Long)]) =
        picks.map(p => cos(vecsById(q), vecsById(p._2))).sum / picks.length
      meanCos(ivf(q)) / meanCos(brute(q))
    }
    val mean = ratios.sum / ratios.size
    assert(mean >= 0.65, s"IVF-PQ mean quality ratio $mean below floor (per-query: $ratios)")
  }

  test("sim_pq_recall: every query reports; hits restate the pq∩brute top-3 overlap") {
    val rec = run("sim_pq_recall").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // ground truth is the DOT-metric brute force (the metric ADC
    // approximates), not the cosine one — see the sim_pq_recall doc
    val brute3 = run("sim_mips_topk").filter(col("rank") <= 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq3 = run("sim_pq_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rec.keySet == brute3.map(_._1), "one row per brute query, hits or not")
    rec.foreach { case (q, (hits, permille)) =>
      assert(hits >= 0 && hits <= 3)
      assert(permille == 1000 * hits / 3, s"query $q: permille must restate hits")
      val overlap = (brute3.filter(_._1 == q) intersect pq3.filter(_._1 == q)).size
      assert(hits == overlap, s"query $q: n_hits $hits != actual overlap $overlap")
    }
  }

  test("sim_ann_filtered: every hit matches the query's label; filter can only lower the best score") {
    val labels = graft.Tables.embeddings(spark, sf).select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val filt = run("sim_ann_filtered").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
    assert(filt.nonEmpty)
    filt.foreach { case (q, lbl, cand, _, _) =>
      assert(lbl == labels(q), s"query $q: emitted label must be the query's")
      assert(labels(cand) == lbl, s"query $q: candidate $cand fails the label filter")
      assert(cand != q, "self excluded")
    }
    // per query: ranks dense from 1, cosine non-increasing in rank
    filt.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._5)
      assert(sorted.map(_._5).toSeq == (1 to sorted.length).toSeq, s"query $q: ranks not dense")
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._4 >= b._4
        case _ => true
      }, s"query $q: cosine must be non-increasing in rank")
    }
    // filtered candidates are a subset of the unfiltered probe space, so the
    // filtered best score can never exceed the unfiltered best score
    val unfilt1 = run("sim_ann_ivf").filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    filt.filter(_._5 == 1).foreach { case (q, _, _, cos, _) =>
      assert(cos <= unfilt1(q) + 1e-9, s"query $q: filtered best beats unfiltered best")
    }
  }

  test("sim_mips_topk: dot-product ranking; norm augmentation reduces MIPS to the cosine index") {
    val t = run("sim_mips_topk")
    val perQ = t.groupBy("q_id").count().collect()
    assert(perQ.nonEmpty && perQ.forall(_.getLong(1) == 5))
    assert(t.filter(col("cand_id") === col("q_id")).count() == 0)

    // The scale path the Scaladoc documents: append sqrt(M^2 - |x|^2) to each
    // candidate (M = max candidate norm) and 0 to each query; augmented
    // COSINE order must equal dot-product order per query, because
    // cos_aug = ip / (|q| * M) with |q| and M constant per query.
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val m2 = e.agg(max(expr("aggregate(v, 0D, (a, x) -> a + x * x)"))).head.getDouble(0)
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), expr("concat(v, array(0D))").as("va"))
    val c = e.select(col("vec_id").as("cand_id"),
      expr(s"concat(v, array(sqrt($m2 - aggregate(v, 0D, (a, x) -> a + x * x))))").as("vb"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    val viaCosine = c.crossJoin(broadcast(q))
      .filter(col("cand_id") =!= col("q_id"))
      .withColumn("cos", expr("cosine_sim(va, vb)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "cand_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val viaDot = t.select("q_id", "rank", "cand_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(viaCosine == viaDot,
      "augmented-cosine top-5 must equal dot-product top-5 for every query")
  }

  test("sim_mips_ivf: one index serves the dot metric; recall@3 vs brute MIPS holds") {
    val ivf = run("sim_mips_ivf").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val perQ = ivf.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perQ.nonEmpty && perQ.values.forall(_ == 3), "3 results per query")
    val brute = run("sim_mips_topk").filter(col("rank") <= 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = ivf.count(brute.contains)
    // 0.92 measured on the fixture; the floor leaves headroom for fixture
    // regeneration without tolerating a broken probe
    assert(overlap >= (brute.size * 6) / 10,
      s"recall@3 too low: $overlap of ${brute.size} brute results found")
  }

  test("sim_norm_audit: micro-unit norms replay exactly in the JVM; bounds are consistent") {
    val audit = run("sim_norm_audit").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(audit.nonEmpty)
    audit.foreach { case (l, n, mn, mx, avg) =>
      assert(n > 0 && mn <= avg && avg <= mx, s"label $l: bound ordering")
    }
    // independent replay: same quantize-square-sum integer arithmetic
    val vecs = graft.Tables.embeddings(spark, sf)
      .select(col("label"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    val byLabel = vecs.groupBy(_._1).view.mapValues { vs =>
      val norms = vs.map(_._2.map(x => { val q = math.round(x * 1e6); q * q }).sum / 1000000L)
      (vs.length.toLong, norms.min, norms.max, norms.sum / norms.length)
    }.toMap
    audit.foreach { case (l, n, mn, mx, avg) =>
      assert(byLabel(l) == ((n, mn, mx, avg)), s"label $l: JVM replay mismatch")
    }
  }

  test("zero-norm candidates rank in NEITHER top-k formulation (brute ≡ agg)") {
    // cosine_sim of a zero-norm vector is NaN (CosineSim's edge note): the
    // window path would sort NaN first while TopK drops it — the explicit
    // exclusion in both paths is what keeps them equivalent. Planted via a
    // temp corpus with an all-zero candidate (vec 9; queries are vec_id<8).
    import spark.implicits._
    val tmp = TestSpark.tempDir("graft-zeronorm").toString
    val rnd = new scala.util.Random(7)
    val rows: Seq[(Long, Array[Float], Int)] =
      (0L until 9L).map(i => (i, Array.fill(8)(rnd.nextFloat() - 0.5f), (i % 3).toInt)) :+
        ((9L, Array.fill(8)(0.0f), 0))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val brute = run2("sim_topk_brute", tmp).collect()
    val agg = run2("sim_topk_agg", tmp).collect()
    assert(brute.nonEmpty)
    assert(brute.map(_.toSeq).toSeq == agg.map(_.toSeq).toSeq,
      "window and aggregator formulations must agree row-for-row")
    assert(!brute.exists(_.getLong(1) == 9L),
      "the zero-norm candidate must not rank (NaN has no similarity)")
    assert(brute.map(r => (r.getLong(0), r.getInt(3))).groupBy(_._1)
      .forall(_._2.map(_._2).sorted.toSeq == (1 to 5)),
      "ranks stay dense 1..5 after the exclusion (9 finite candidates remain)")
  }

  test("sim_topk_q8 exactness envelope: the fixture's scales fit the BIGINT score bound") {
    // worst-case |score| = ma*mb*Dim*127^2 (doc on sim_topk_q8): Spark
    // would wrap past 2^63 while DuckDB errors, so the boundary must be
    // pinned, not assumed
    val m = graft.Tables.embeddings(spark, sf)
      .selectExpr("max(aggregate(transform(embedding, " +
        "x -> abs(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))), " +
        "CAST(1 AS BIGINT), (a, x) -> greatest(a, x))) AS m")
      .head.getLong(0)
    val worst = BigInt(m) * BigInt(m) * Similarity.Dim * 127 * 127
    assert(worst <= BigInt(Long.MaxValue),
      s"max scale $m micro breaches the q8 BIGINT envelope (worst=$worst)")
  }

  /** [[run]] against an arbitrary fixture dir (the one defs lookup). */
  private def run2(name: String, dir: String) =
    Similarity.defs.find(_.name == name).get.fn(spark, dir)

  test("rpBitsFor ladder: fixture regime keeps 16x8; boundaries are exact") {
    // Every shipped fixture (N <= 16384) must keep the established 16x8
    // shape bit-for-bit — the oracle-parity guarantee — and the regime
    // boundaries are the stated inclusive thresholds.
    assert(Similarity.rpBitsFor(1L) == 8)
    assert(Similarity.rpBitsFor(2000L) == 8)
    assert(Similarity.rpBitsFor(16384L) == 8)
    assert(Similarity.rpBitsFor(16385L) == 16)
    assert(Similarity.rpBitsFor(4194304L) == 16)
    assert(Similarity.rpBitsFor(4194305L) == 32)
  }

  test("rpBandedCodes: 16-bit regrouping equals JVM bit-packing of the 8-bit codes") {
    // The corpus-adaptive band width regroups the kernel's 16 8-bit codes
    // into 8 16-bit bands (bits=16 regime, N > 16384). Pin the SQL
    // transform/aggregate regrouping against an independent JVM regroup of
    // the SAME collected codes: band gi = code[2gi] | code[2gi+1] << 8.
    val codesDf = graft.Tables.embeddings(spark, sf)
      .selectExpr("vec_id",
        "rp_band_codes(transform(CAST(embedding AS ARRAY<DOUBLE>), " +
          "x -> CAST(round(x * 1000000) AS BIGINT))) AS codes")
      .orderBy("vec_id").limit(50).cache()
    val raw = codesDf.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val grouped = codesDf
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.posexplode(Similarity.rpBandedCodes(16))
          .as(Seq("bi", "bv")))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(grouped.nonEmpty)
    for (((vid, bi), bv) <- grouped) {
      val ref = raw(vid)(2 * bi) | (raw(vid)(2 * bi + 1) << 8)
      assert(bv == ref, s"vec $vid band $bi: got $bv, JVM regroup $ref")
    }
    // and bits=8 is the identity column over the same frame
    val id8 = codesDf.select(Similarity.rpBandedCodes(8).as("c")).collect()
      .map(_.getSeq[Long](0))
    assert(id8.map(_.toList).toSeq == codesDf.collect().map(_.getSeq[Long](1).toList).toSeq)
  }

  test("rpBandedCodes at the 4x32 TOP rung: JVM bit-packing equality; exact dup shares all bands") {
    // Round 17 (VERDICT r16 #1): the 32-bit rung fires only past 4,194,304
    // vectors — dead code at every fixture scale — and its geometry is the
    // extreme of the ladder (4 bands of 32 bits). Pin (a) the regrouping
    // arithmetic against an independent JVM packing of the same collected
    // 8-bit codes (band gi = codes[4gi] | codes[4gi+1]<<8 | codes[4gi+2]<<16
    // | codes[4gi+3]<<24), and (b) the rung's recall floor for EXACT
    // duplicates: identical vectors produce identical codes, so an exact
    // dup shares all 4 bands deterministically (near-pair survival at this
    // width is probabilistic by design — the ladder doc states ~40% at
    // cos 0.95 — so the deterministic floor is what a spec can pin; the
    // banding itself agreeing with the JVM reference covers "survives iff
    // the regrouped codes collide").
    val codesDf = graft.Tables.embeddings(spark, sf)
      .selectExpr("vec_id",
        "rp_band_codes(transform(CAST(embedding AS ARRAY<DOUBLE>), " +
          "x -> CAST(round(x * 1000000) AS BIGINT))) AS codes")
      .orderBy("vec_id").limit(50).cache()
    val raw = codesDf.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val grouped = codesDf
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.posexplode(Similarity.rpBandedCodes(32))
          .as(Seq("bi", "bv")))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(grouped.nonEmpty)
    assert(grouped.keys.map(_._2).max == 3, "128 planes at 32 bits must yield exactly 4 bands")
    for (((vid, bi), bv) <- grouped) {
      val ref = (0 until 4).map(j => raw(vid)(4 * bi + j) << (8 * j)).reduce(_ | _)
      assert(bv == ref, s"vec $vid band $bi: got $bv, JVM regroup $ref")
    }
    // exact-duplicate recall floor: same vector => same 4 band codes
    import spark.implicits._
    val v = graft.Tables.embeddings(spark, sf)
      .selectExpr("CAST(embedding AS ARRAY<DOUBLE>) AS v").limit(1)
      .collect()(0).getSeq[Double](0)
    val dupBands = Seq(("a", v), ("b", v)).toDF("id", "v")
      .selectExpr("id",
        "rp_band_codes(transform(v, x -> CAST(round(x * 1000000) AS BIGINT))) AS codes")
      .select(org.apache.spark.sql.functions.col("id"), Similarity.rpBandedCodes(32).as("b32"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(dupBands("a") == dupBands("b"),
      "an exact duplicate must share all 4 bands at the 32-bit rung")
  }

  test("simBitsFor ladder: fixture regime keeps 4x15; bands tile 60 bits") {
    assert(graft.dedup.Dedup.simBitsFor(5000L) == 15)
    assert(graft.dedup.Dedup.simBitsFor(16384L) == 15)
    assert(graft.dedup.Dedup.simBitsFor(16385L) == 20)
    assert(graft.dedup.Dedup.simBitsFor(2097152L) == 20)
    assert(graft.dedup.Dedup.simBitsFor(2097153L) == 30)
    for (n <- Seq(100L, 100000L, 10000000L)) {
      val bits = graft.dedup.Dedup.simBitsFor(n)
      assert(60 % bits == 0, s"bands must tile the 60-bit code exactly at n=$n")
    }
  }
}
