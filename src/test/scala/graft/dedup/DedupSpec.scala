package graft.dedup

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def run(name: String) =
    Dedup.defs.find(_.name == name).get.fn(spark, sf)

  private def run2(name: String, dir: String) =
    Dedup.defs.find(_.name == name).get.fn(spark, dir)

  test("dd_exact: one group per distinct normalized text, keeper is min id") {
    val g = run("dd_exact")
    val docs = graft.Tables.documents(spark, sf).count()
    assert(g.agg(sum("n_docs")).head.getLong(0) == docs)
    assert(g.filter(col("keeper") < 0).count() == 0)
  }

  test("MinHash-LSH candidates recall the high-Jaccard pairs") {
    val lsh = run("dd_minhash_lsh").select("doc_a", "doc_b")
    val jac = run("dd_ngram_jaccard").filter(col("jaccard_permille") >= 800)
      .select("doc_a", "doc_b")
    // ≥0.8-Jaccard pairs survive 16 bands of 4 with prob ~0.9996 each
    val missed = jac.except(lsh).count()
    assert(missed == 0, s"$missed high-jaccard pairs missed by LSH")
    assert(jac.count() > 0, "fixture should contain planted near-dups")
    assert(lsh.count() > 0)
  }

  test("SimHash: deterministic and near-dups have small Hamming distance") {
    val s1 = run("dd_simhash").collect().toSeq
    val s2 = run("dd_simhash").collect().toSeq
    assert(s1 == s2)
    // every code fits in 32 bits
    assert(s1.forall(r => { val v = r.getLong(1); v >= 0 && v <= 0xffffffffL }))
  }

  test("embedding near-dup pairs stay within one trained IVF cell") {
    val p = run("dd_embed_cosine").collect()
    assert(p.nonEmpty)
    assert(p.forall(_.getDouble(3) >= 0.35))
    // pairs are blocked by cell: both members carry the pair's cell id
    val asg = graft.sim.Similarity.assignCells(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(p.forall(r => asg(r.getLong(0)) == r.getInt(2) &&
      asg(r.getLong(1)) == r.getInt(2)))
  }

  test("dup clusters: pairs land in one component, labeled by its min member") {
    val labels = run("dd_dup_clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = run("dd_ngram_jaccard").filter(col("jaccard_permille") >= 500)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    // the label IS the minimum member of its component
    labels.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid, s"cluster $cid not labeled by min member")
    }
  }

  test("connected components: 100-node chain collapses in O(log n) rounds via pointer doubling") {
    import spark.implicits._
    // path graph 0-1-2-...-100: worst case for pure neighbor-min propagation
    // (diameter rounds = 100); pointer doubling must stay logarithmic
    val chain = (0L until 100L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.connectedComponents(chain)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 101 && got.values.forall(_ == 0L),
      "every chain node must label to the min node 0")
    assert(rounds <= 10, s"chain of 100 should collapse in ~log2 rounds, took $rounds")
  }

  test("dup clusters run with RELIABLE checkpoints when a checkpoint dir is set") {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "precondition: no checkpoint dir configured")
    // local-checkpoint baseline FIRST, while no dir is configured
    val baseline = run("dd_dup_clusters").collect().toSeq
    val dir = TestSpark.tempDir("graft_ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      val reliable = run("dd_dup_clusters").collect().toSeq
      assert(reliable == baseline, "checkpoint mode changed the fixpoint")
      // the loop actually wrote cluster-store checkpoints (executor-loss-safe)
      val written = new java.io.File(dir).listFiles()
      assert(written != null && written.nonEmpty, "no reliable checkpoint data written")
    } finally {
      // Restore the shared session's no-checkpoint-dir default so no later
      // suite runs in reliable mode only when this test happened to run
      // first. setCheckpointDir(null) is a supported reset — the body is
      // `checkpointDir = Option(directory).map(...)` and the non-local-path
      // warning branch is skipped entirely under isLocal — no reflection
      // into private state needed.
      sc.setCheckpointDir(null)
    }
    assert(sc.getCheckpointDir.isEmpty, "checkpoint dir must not leak past this test")
  }

  test("bucket cap drops adversarial hot-key buckets from pair expansion") {
    import spark.implicits._
    // 200 docs all sharing one hot shingle key (a stop-shingle stand-in):
    // uncapped this bucket alone would expand to 19,900 pairs.
    val hot = (0L until 200L).map(id => ("hot", id)).toDF("sk", "doc_id")
    val cold = Seq(("cold", 1L), ("cold", 2L)).toDF("sk", "doc_id")
    val buckets = hot.unionAll(cold).groupBy("sk")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
    val capped = Dedup.bucketPairs(buckets, cap = 100)
    assert(capped.count() == 1, "only the cold bucket's single pair survives")
    assert(capped.head() == org.apache.spark.sql.Row(1L, 2L))
    // default cap is above every fixture bucket (max observed 25 at sf0.1)
    val uncapped = Dedup.bucketPairs(buckets)
    assert(uncapped.count() == 19900 + 1)
  }

  test("bucketedIdPairs == the oracle's join form on seeded random postings (cap + order)") {
    import spark.implicits._
    // End-to-end randomized property over the WHOLE skeleton (invert ->
    // capped collect -> expand), not just the bucket lists: the emitted
    // pair SET must equal the SQL self-join form every oracle states
    // (keep keys with <= cap postings, pair a.doc_id < b.doc_id), and
    // doc_a < doc_b must hold row-wise (the sorted-bucket order the
    // downstream joins key on). Seeded so a failure reproduces.
    val rnd = new scala.util.Random(4242L)
    val rows = Seq.fill(4000)((s"k${rnd.nextInt(300)}", rnd.nextInt(900).toLong))
      .distinct  // postings are (key, doc) sets in every caller
    val cap = 25
    val postings = rows.toDF("bk", "doc_id")
    val got = Dedup.bucketedPairs(postings, col("doc_id"), col("bk"))
      .select(col("p.x").as("doc_a"), col("p.y").as("doc_b"))
    assert(got.filter(col("doc_a") >= col("doc_b")).count() == 0,
      "pairs must come out doc_a < doc_b")
    // reference: plain capped self-join semantics (default MaxBucket never
    // fires on 300 keys x ~13 postings, so also check an explicit low cap)
    def reference(capN: Int) = {
      val byKey = rows.groupBy(_._1).filter(_._2.size <= capN)
      byKey.values.flatMap { ps =>
        val ds = ps.map(_._2).sorted
        for (i <- ds.indices; j <- (i + 1) until ds.size) yield (ds(i), ds(j))
      }.toSet
    }
    val gotSet = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotSet == reference(Dedup.MaxBucket), "default-cap pair set mismatch")
    val gotCapped = graft.dedup.Dedup.cappedElementPairs(
      postings.groupBy("bk").agg(
        org.apache.spark.sql.functions.expr(s"collect_sorted_capped(doc_id, $cap)").as("ds"))
        .filter(col("ds").isNotNull), cap)
      .collect().map(r => (r.getStruct(1).getLong(0), r.getStruct(1).getLong(1))).toSet
    assert(gotCapped == reference(cap), "low-cap pair set mismatch")
  }

  test("bucketedPairs: the cap is enforced INSIDE the one-pass capped collect") {
    import spark.implicits._
    // A key with MaxBucket+1 postings must never materialize its list:
    // collect_sorted_capped collapses the bucket to an overflow flag the
    // moment it passes the cap (the 100 TB stop-shingle OOM guard), and
    // only the cold bucket expands. One aggregation, NO second pass — a
    // regression to the two-pass counting+anti-join form (or to unbounded
    // collect_list) shows up as a join or the wrong aggregate below.
    val hot = (0L to Dedup.MaxBucket.toLong).map(id => ("hot", id))
    val cold = Seq(("cold", 1L), ("cold", 2L))
    val pairs = Dedup.bucketedIdPairs(
      (hot ++ cold).toDF("bk", "doc_id"), col("bk"))
    assert(pairs.collect().toSeq ==
      Seq(org.apache.spark.sql.Row(1L, 2L)))
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("collect_sorted_capped"),
      s"bucket build must be the capped native aggregate:\n$plan")
    assert(!plan.contains("collect_list"),
      s"unbounded collect_list must never build pair buckets:\n$plan")
    // Name the join NODES rather than grepping the bare substring "Join":
    // any future Spark/AQE plan annotation containing "Join" (a hint, a
    // stats line) would false-fail the broader match (round-15 advice).
    for (node <- Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin", "CartesianProduct"))
      assert(!plan.contains(node),
        s"the one-pass skeleton needs no hot-key join ($node found):\n$plan")
  }

  test("simhash_pairs: multi-band candidates verified by Hamming threshold") {
    val p = run("dd_simhash_pairs").collect()
    assert(p.nonEmpty)
    assert(p.forall(_.getInt(2) <= 10))
    // pairs are deduped across the 4 bands
    val keys = p.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.distinct.length == keys.length)
  }

  test("dd_dup_matrix: cells sum to the jaccard pair count, canonical cell order") {
    val matrix = run("dd_dup_matrix").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // dd_ngram_jaccard reports at >= 200 permille; the matrix rolls up the
    // >= 500 subset, so filter the reported pairs to the matrix threshold
    val pairs = run("dd_ngram_jaccard")
      .filter(col("jaccard_permille") >= 500).count()
    assert(matrix.map(_._3).sum == pairs,
      "matrix cells must account for every >= 0.5-jaccard pair exactly once")
    assert(matrix.forall { case (lo, hi, _) => lo <= hi }, "cells must be canonical")
  }

  test("dd_shard_manifest: accounts for exactly the cleaned corpus, exact packing arithmetic") {
    val manifest = run("dd_shard_manifest").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val kept = run("dd_clean_corpus").count()
    assert(manifest.map(_._3).sum == kept,
      "manifest doc counts must sum to the dd_clean_corpus keep-set")
    assert(manifest.map(_._1).toSet.subsetOf(Set("train", "val", "test")))
    manifest.foreach { case (_, _, _, toks, seqs) =>
      assert(seqs == (toks + 255) / 256, "n_sequences must be the 256-token ceil-div")
    }
  }

  test("dd_substring_mass: winnow-pair docs carry repeated mass; bounds hold") {
    val mass = run("dd_substring_mass").collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(mass.values.forall(m => m >= 0 && m <= 1000))
    assert(mass.values.exists(_ > 0), "fixture plants near-dups — some doc must carry mass")
    // any pair sharing >= 2 winnowed fingerprints shares a run of >= 8
    // tokens, i.e. at least one cross-doc repeated 8-gram on each side
    val paired = run("dd_winnow_pairs").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val zeroMassPaired = paired.filter(d => mass.getOrElse(d, 0L) == 0L)
    assert(zeroMassPaired.isEmpty,
      s"winnow-paired docs with zero substring mass: $zeroMassPaired")
  }

  test("dd_incremental: old corpus is read only through its fingerprint index") {
    // Reconstruct the registered query's result from (a) the persisted
    // index parquet and (b) a dataset dir containing ONLY the new batch —
    // the old corpus documents are physically absent from every input the
    // operator touches, so agreement proves the index file carries all the
    // corpus knowledge the screen needs.
    val registered = run("dd_incremental").collect().toSeq
    val batchDir = TestSpark.tempDir("graft_batch_only")
    graft.Tables.documents(spark, sf).filter(expr("doc_id % 5 = 0"))
      .write.mode("overwrite").parquet(batchDir.resolve("documents.parquet").toString)
    val batchFps = graft.text.TextStats.winnowedFpRows(spark, batchDir.toString)
      .select(col("doc_id"), col("fp"))
    val idx = spark.read.parquet(Dedup.winnowFpIndexPath(spark, sf))
    val fromIndexOnly = Dedup.incrementalNearDup(batchFps, idx).collect().toSeq
    assert(fromIndexOnly == registered)
    assert(registered.nonEmpty)
    // verdicts are complete: every batch doc with >= 8 tokens is screened
    val expected = graft.Tables.documents(spark, sf)
      .filter(expr("doc_id % 5 = 0 AND size(split(trim(text), ' +')) >= 8")).count()
    assert(registered.size.toLong == expected)
  }

  test("dd_source_dup_rate: crafted cross-source and intra-source duplicates attribute correctly") {
    val s = spark; import s.implicits._
    // srcA: "x y" (duplicated by srcB), "u v" (duplicated INSIDE srcA), "u v", "solo a"
    // srcB: "x y" (cross-source dup), "solo b"
    val dir = TestSpark.tempDir("srcdup_docs").toString
    Seq(
      (1L, "x y", "en", "srcA", 3L),
      (2L, "u v", "en", "srcA", 3L),
      (3L, "u v", "en", "srcA", 3L),
      (4L, "solo a", "en", "srcA", 6L),
      (5L, "x y", "en", "srcB", 3L),
      (6L, "solo b", "en", "srcB", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.defs.find(_.name == "dd_source_dup_rate").get.fn(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // srcA: 4 docs; dups: doc1 (pairs with 5), docs 2+3 (intra) -> n_dup=3;
    // cross-source: only doc1's fp spans two sources -> n_cross_dup=1
    assert(got("srcA") == (4L, 3L, 1L, 750L))
    // srcB: 2 docs; doc5 dups doc1 (also cross) -> n_dup=1, n_cross_dup=1
    assert(got("srcB") == (2L, 1L, 1L, 500L))
  }

  test("dd_containment: a quoted slice is flagged at 1000 permille where Jaccard stays silent") {
    val s = spark; import s.implicits._
    // doc 1: 100 distinct tokens (98 shingles); doc 2: a 10-token contiguous
    // slice of doc 1 (8 shingles, ALL contained) -> Jaccard 8/98 = 81 permille
    // (under dd_ngram_jaccard's 200 threshold) but containment 1000 permille;
    // doc 3: unrelated.
    val big = (0 until 100).map(i => s"w$i").mkString(" ")
    val slice = (10 until 20).map(i => s"w$i").mkString(" ")
    val other = (0 until 20).map(i => s"z$i").mkString(" ")
    val dir = TestSpark.tempDir("cont_docs").toString
    Seq(
      (1L, big, "en", "srcA", big.length.toLong),
      (2L, slice, "en", "srcB", slice.length.toLong),
      (3L, other, "en", "srcA", other.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cont = run2("dd_containment", dir).collect()
    assert(cont.length == 1, s"exactly the planted pair: ${cont.toSeq}")
    val row = cont.head
    assert((row.getLong(0), row.getLong(1)) == (1L, 2L))
    assert(row.getLong(2) == 1000L, "full containment of the quoted slice")
    assert(row.getLong(3) == 2L, "the smaller gram set is the contained doc")
    val jac = run2("dd_ngram_jaccard", dir).collect()
    assert(jac.isEmpty, "Jaccard at its threshold must MISS the quote case")
  }

  test("tx_vocab_prune-style invariants hold for dd fixture langs") {
    // (vocab prune lives in graft.text but shares the fixture contract)
    val rows = graft.text.TextStats.defs.find(_.name == "tx_vocab_prune").get
      .fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (lang, nTok, nTyp, nTypKept, nTokKept, cov) =>
      assert(nTypKept <= nTyp, s"$lang: kept types exceed types")
      assert(nTokKept <= nTok, s"$lang: kept mass exceeds mass")
      assert(cov == 1000L * nTokKept / nTok, s"$lang: coverage must be exact integer share")
      assert(nTyp <= nTok, s"$lang: more types than tokens")
    }
    val totalToks = graft.Tables.documents(spark, sf)
      .selectExpr("size(split(trim(text), ' +')) AS n").agg(sum(col("n"))).head.getLong(0)
    assert(rows.map(_._2).sum == totalToks, "per-lang token mass must partition the corpus")
  }

  test("dd_minhash_quality: every candidate clears the band floor; error restates est vs exact") {
    val rows = Dedup.defs.find(_.name == "dd_minhash_quality").get.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty, "the fixture's planted near-dups must produce candidates")
    rows.foreach { case (a, b, est, exact, err) =>
      assert(a < b, "pairs are ordered")
      assert(est >= 62,
        s"($a,$b): a band collision pins >= 4 of 64 components equal -> est >= 62, got $est")
      assert(est <= 1000 && exact >= 0 && exact <= 1000)
      assert(err == math.abs(est - exact), s"($a,$b): err must restate |est - exact|")
    }
  }

  test("dd_line_dedup: kept spans equal distinct spans; a planted repeated line is removed") {
    val r = run("dd_line_dedup").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.forall { case (_, nl, rm, kept) =>
      rm >= 0 && rm <= nl && kept == Dedup.LineTok * (nl - rm)
    })
    val totLines = r.map(_._2).sum
    val totRemoved = r.map(_._3).sum
    assert(totRemoved > 0, "fixture vocabulary must produce cross-doc span collisions")
    // First-occurrence keep ⇒ surviving spans are exactly the DISTINCT spans.
    val lt = Dedup.LineTok
    val distinct = graft.Tables.documents(spark, sf)
      .select(expr("split(trim(text), ' +')").as("t"))
      .withColumn("nl", expr(s"CAST(size(t) AS BIGINT) div $lt"))
      .filter(col("nl") >= 1)
      .select(explode(expr(s"transform(sequence(0, CAST(nl AS INT) - 1), " +
        s"i -> array_join(slice(t, i * $lt + 1, $lt), ' '))")).as("line"))
      .distinct().count()
    assert(totLines - totRemoved == distinct,
      s"kept ${totLines - totRemoved} != distinct $distinct")
    // Planted: doc B repeats doc A's only span; only B's copy is removed,
    // and A keeps first-occurrence priority by doc_id order.
    val s = spark; import s.implicits._
    val dir = TestSpark.tempDir("line_dedup").toString
    Seq((900000L, "alpha beta gamma delta", "en", "s0", 22L),
        (900001L, "alpha beta gamma other words here", "en", "s0", 33L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val p = run2("dd_line_dedup", dir).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(p(900000L) == ((1L, 0L)), "first occurrence keeps its span")
    assert(p(900001L) == ((2L, 1L)), "the repeated span is removed, the novel one kept")
  }

  test("dd_line_dedup_apply: reconstruction keeps first occurrences in span order") {
    val s = spark; import s.implicits._
    val dir = TestSpark.tempDir("line_apply").toString
    // A: two spans, both novel. B: repeats A's first span + one novel span
    // (kept span must survive IN ORDER after the removed one is dropped).
    // C: under one span width -> empty reconstruction, md5('') pinned.
    Seq((910000L, "alpha beta gamma delta epsilon zeta", "en", "s0", 35L),
        (910001L, "alpha beta gamma one two three", "en", "s0", 30L),
        (910002L, "tiny doc", "en", "s0", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    def m(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val p = run2("dd_line_dedup_apply", dir).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getString(2)))).toMap
    assert(p(910000L) == ((2L, m("alpha beta gamma delta epsilon zeta"))),
      "first-occurrence doc reconstructs unchanged")
    assert(p(910001L) == ((1L, m("one two three"))),
      "dup span removed, novel span survives in position order")
    assert(p(910002L) == ((0L, m(""))), "span-less doc pins the empty-string md5")
  }

  test("dd_cluster_best: one keeper per cluster, longest doc wins, ties break to min id") {
    val rows = run("dd_cluster_best").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty, "fixture must produce near-dup clusters")
    // membership restates dd_dup_clusters exactly
    val cl = run("dd_dup_clusters").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(t => (t._1, t._2)).toSet == cl,
      "cluster membership must restate dd_dup_clusters")
    rows.groupBy(_._2).foreach { case (c, ms) =>
      val keeps = ms.filter(_._4 == "keep")
      assert(keeps.length == 1, s"cluster $c: exactly one keeper, got ${keeps.length}")
      val best = ms.minBy(m => (-m._3, m._1)) // longest, then min id
      assert(keeps.head._1 == best._1,
        s"cluster $c: keeper ${keeps.head._1} != longest/min-id ${best._1}")
    }
  }

  test("dd_dedup_funnel: per-source mass is monotone and the near stage equals the clean corpus") {
    val rows = run("dd_dedup_funnel").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, raw, q, e, n, l) =>
      assert(raw >= q && q >= e && e >= n,
        s"$src: stage mass must be non-increasing: $raw/$q/$e/$n")
      assert(l <= n, s"$src: line mass $l cannot exceed surviving mass $n")
    }
    // the sf0.01 fixture passes the quality gate wholesale and has no exact
    // duplicates (oracle agrees), so those stages fire only on the planted
    // fixture below; the near-dup and line stages must fire here
    assert(rows.exists { case (_, _, _, e, n, _) => n < e }, "near-dup stage must fire")
    assert(rows.exists { case (_, _, _, _, n, l) => l < n }, "line stage must fire")
    // tok_near restates the clean corpus exactly
    val cleanTok = run("dd_clean_corpus")
      .join(graft.Tables.documents(spark, sf), Seq("doc_id"))
      .agg(sum(expr("CAST(size(split(trim(text), ' +')) AS BIGINT)")))
      .head.getLong(0)
    assert(rows.map(_._5).sum == cleanTok,
      "funnel tok_near must equal the clean-corpus token mass")
    // Planted corpus exercising the two stages the natural fixture skips:
    // doc 1 all-stopword (quality drop), doc 3 an exact copy of doc 2
    // (exact drop), doc 4 a one-word extension of doc 2 (near-dup drop at
    // jaccard 10/11).
    val s = spark; import s.implicits._
    val w = (1 to 12).map(i => s"word$i").mkString(" ")
    val dir = TestSpark.tempDir("funnel_plant").toString
    Seq((1L, ("the " * 11).trim, "en", "s0", 43L),
        (2L, w, "en", "s0", w.length.toLong),
        (3L, w, "en", "s0", w.length.toLong),
        (4L, w + " word13", "en", "s0", w.length + 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val p = run2("dd_dedup_funnel", dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).head
    val (raw, q, e, n) = p
    assert(raw == 11 + 12 + 12 + 13, s"raw mass: $p")
    assert(q == raw - 11, "quality gate drops the all-stopword doc")
    assert(e == q - 12, "exact stage drops the identical copy")
    assert(n == e - 13, "near-dup stage drops the extended copy")
  }

  test("dd_purge_manifest: attributed artifacts delete rows, the fp index rebuilds") {
    val rows = run("dd_purge_manifest").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet == Set("jac_pairs", "mh_sig", "simhash60", "winnow_idx"))
    rows.foreach { case (a, (_, n, p)) =>
      assert(p >= 0 && p <= n, s"$a: purge count $p out of range 0..$n")
    }
    assert(rows("winnow_idx")._1 == "rebuild", "unattributed index must rebuild")
    assert(rows.filterKeys(_ != "winnow_idx").values.forall(_._1 == "delete_rows"))
    // simhash60 covers every doc; the signature table only docs with >= 3 tokens
    assert(rows("mh_sig")._2 <= rows("simhash60")._2)
    // tombstone rule restated directly against the corpus
    val docs = graft.Tables.documents(spark, sf)
    assert(rows("simhash60")._3 == docs.filter(expr("doc_id % 97 = 0")).count())
    assert(rows("simhash60")._3 > 0, "fixture must contain tombstoned docs")
  }

  test("dd_semantic_dedup: drop set is exactly the higher-id side of dd_embed_cosine pairs") {
    val verdicts = run("dd_semantic_dedup").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
    val pairs = run("dd_embed_cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // a vector drops iff it is the HIGHER id of at least one >=tau same-cell
    // pair; its n_dups is the count of such pairs
    val dupCounts = pairs.groupBy(_._2).map { case (b, ps) => b -> ps.length.toLong }
    verdicts.foreach { case (id, _, nDups, status) =>
      assert(nDups == dupCounts.getOrElse(id, 0L), s"vec $id: n_dups mismatch")
      assert((status == "drop") == (nDups > 0), s"vec $id: status != n_dups verdict")
    }
    // exactly-one-representative floor: the min id of every cell always keeps
    verdicts.groupBy(_._2).foreach { case (cell, vs) =>
      val minId = vs.map(_._1).min
      assert(vs.find(_._1 == minId).get._4 == "keep", s"cell $cell: min id must keep")
    }
    assert(verdicts.exists(_._4 == "drop"), "fixture must exercise the drop path")
  }

  test("dd_soft_dedup: every doc weighted, group mass conserved vs dd_exact") {
    val w = run("dd_soft_dedup")
    val docs = graft.Tables.documents(spark, sf).count()
    assert(w.count() == docs, "soft dedup keeps every document")
    // the weight is exactly the integer reciprocal of the group size, and
    // unique docs keep full weight
    assert(w.filter(expr("weight_micro <> 1000000 div fp_count")).count() == 0)
    assert(w.filter(col("fp_count") === 1 && col("weight_micro") =!= 1000000L).count() == 0)
    // Σ_docs fp_count == Σ_groups n_docs² — the two views agree on group sizes
    val viaExact = run("dd_exact").agg(sum(expr("n_docs * n_docs"))).head.getLong(0)
    val viaSoft = w.agg(sum(col("fp_count"))).head.getLong(0)
    assert(viaSoft == viaExact, s"group-size mass mismatch: $viaSoft vs $viaExact")
  }

  test("dd_split_leakage: verdict rule exact; pair mass conserved vs the >=0.5 pair graph") {
    val l = run("dd_split_leakage").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(l.forall { case (lo, hi, _, v) => (lo != hi) == (v == "leak") },
      "leak verdict must be exactly split_lo <> split_hi")
    assert(l.forall { case (lo, hi, _, _) => lo <= hi }, "combinations are unordered")
    val totalPairs = l.map(_._3).sum
    val graphPairs = run("dd_ngram_jaccard").filter(col("jaccard_permille") >= 500).count()
    assert(totalPairs == graphPairs,
      s"every >=0.5 pair must be audited exactly once: $totalPairs vs $graphPairs")
  }

  test("jaccard build: the distinct-shingle exchange is REUSED across the count and bucket branches") {
    // The survey's cost claim for the pair-graph build: the expensive
    // scan -> posexplode -> window -> distinct shingle subtree feeds BOTH
    // the per-doc denominator aggregation and the capped bucket build, and
    // Catalyst/AQE must compute its exchange once (a regression here makes
    // the 100 TB corpus scan run twice per build). Reuse is a runtime AQE
    // decision, so execute and inspect the FINAL adaptive plan.
    val df = Dedup.jaccardPairsUncached(spark, sf)
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("TableCacheQueryStage"),
      s"distinct-shingle exchange must be shared, not recomputed:\n$plan")
  }

  test("dd_band_tuning: empty corpus emits NO arm rows (oracle's GROUP BY omission)") {
    import spark.implicits._
    // The round-15 omission rule: a layout with zero candidates is ABSENT
    // from the tuning table (the oracle's GROUP BY shape), not a
    // (b, r, 0, 0, 0, 0) row. An empty corpus is the degenerate case where
    // all three arms are empty — and it additionally proves the whole
    // signature/pair-graph artifact chain builds cleanly over zero docs.
    val dir = TestSpark.tempDir("band_empty").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(run2("dd_band_tuning", dir).count() == 0,
      "empty corpus must omit all three arms, not emit zero rows")
  }

  test("simhashPairGraph: the 20-bit ladder regime matches a JVM reference past 16384 docs") {
    // Round 16: band width is corpus-adaptive (Dedup.SimShape — 15 bits at
    // fixture scale, 20 past 16,384 docs). The 10×-fixture oracle run pins
    // the scaled shape cross-engine once per session; THIS spec pins it
    // repeatably: a 17k-doc corpus (just past the threshold) must band at
    // 20 bits, and the persisted graph must equal an independent JVM
    // reference computed from the code table (group by (b, code>>20b &
    // mask), cap at MaxBucket, expand sorted pairs, Hamming ≤ 10, dedupe
    // across bands). A regime-selection bug (still 15 bits) or a banding
    // arithmetic slip diverges almost surely.
    import spark.implicits._
    val n = 17000
    val docs = (0L until n).map(i =>
      (i, s"w${i % 37} x${(i * 7) % 41} y${(i * 13) % 43} z${(i * 29) % 47}",
        s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    val dir = TestSpark.tempDir("graft_simshape").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Dedup.simBitsFor(n.toLong) == 20, "17k docs must select the 20-bit regime")
    val got = Dedup.simhashPairGraph(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // independent reference from the (separately spec-pinned) code table
    val codes = graft.Tables.documents(spark, dir)
      .selectExpr("doc_id", "simhash60(array_distinct(split(trim(text), ' +'))) AS c")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ref = scala.collection.mutable.Set.empty[(Long, Long, Int)]
    for (b <- 0 until 3) {
      codes.groupBy { case (_, c) => (c >> (20 * b)) & ((1L << 20) - 1) }
        .values.filter(_.length <= Dedup.MaxBucket)
        .foreach { bucket =>
          val sorted = bucket.sortBy(identity)
          for (i <- sorted.indices; j <- (i + 1) until sorted.length) {
            val h = java.lang.Long.bitCount(sorted(i)._2 ^ sorted(j)._2)
            if (h <= 10) ref += ((sorted(i)._1, sorted(j)._1, h))
          }
        }
    }
    assert(got.nonEmpty, "fixture must produce near-dup pairs")
    assert(got == ref.toSet,
      s"scaled-regime pair graph diverged: got ${got.size}, ref ${ref.size}")
  }

  test("simhashBandedPairs at the 2x30 TOP rung: planted near-dup survives; graph equals JVM reference") {
    // Round 17 (VERDICT r16 #1): the 30-bit rung fires only past 2,097,152
    // docs — dead code at every fixture scale — and its band geometry is
    // qualitatively different (2 bands of 30 bits: ONE band must match
    // exactly for a candidate to surface). The graph body is factored to
    // take an explicit width (Dedup.simhashBandedPairs), so this spec
    // exercises the exact production expansion at bits=30 on a small
    // corpus: (a) a PLANTED near-dup pair — found by deterministic search
    // over one-token variants for a pair whose <=10 differing code bits
    // all fall inside one 30-bit band, so the OTHER band matches exactly —
    // must appear in the graph; (b) the whole graph must equal an
    // independent JVM banding of the (separately spec-pinned) code table.
    import spark.implicits._
    // candidate search: base doc + one-token variants; a one-token swap
    // over 9 tokens flips ~7 of 60 bits in expectation, and ~(1/2)^h of
    // those land entirely inside one band — deterministic given the fixed
    // token hash, and the 3000-candidate pool makes a hit near-certain.
    val baseText = "alpha bravo charlie delta echo foxtrot golf hotel india"
    val cands = (0 until 3000).map(k => (k, baseText.replace("india", s"india$k")))
      .toDF("k", "text")
      .selectExpr("k", "simhash60(array_distinct(split(trim(text), ' +'))) AS c")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val baseCode = spark.sql(
      s"SELECT simhash60(array_distinct(split('$baseText', ' +')))").collect()(0).getLong(0)
    val mask30 = (1L << 30) - 1
    val planted = (0 until 3000).find { k =>
      val x = baseCode ^ cands(k)
      val h = java.lang.Long.bitCount(x)
      h >= 1 && h <= 10 && ((x & mask30) == 0L || (x >> 30) == 0L)
    }
    assert(planted.isDefined,
      "search must find a variant whose diff bits are confined to one 30-bit band")
    val plantedText = baseText.replace("india", s"india${planted.get}")
    // corpus: 400 distinct filler docs + the planted pair, ids fixed
    val docs = ((0L until 400L).map(i =>
        (i, s"w${i % 37} x${(i * 7) % 41} y${(i * 13) % 43} z${(i * 29) % 47} u$i", "src0")) ++
      Seq((9001L, baseText, "src1"), (9002L, plantedText, "src1")))
      .toDF("doc_id", "text", "source")
    val dir = TestSpark.tempDir("graft_simtop").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.simhashBandedPairs(spark, dir, 30).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got.exists(p => p._1 == 9001L && p._2 == 9002L),
      s"planted near-dup (hamming ${java.lang.Long.bitCount(baseCode ^ cands(planted.get))}) " +
        "must survive 2x30 banding")
    // independent JVM reference: band b = code >> 30b & mask, cap, expand,
    // Hamming <= 10, dedupe across bands — same recipe as the 20-bit spec
    val codes = graft.Tables.documents(spark, dir)
      .selectExpr("doc_id", "simhash60(array_distinct(split(trim(text), ' +'))) AS c")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ref = scala.collection.mutable.Set.empty[(Long, Long, Int)]
    for (b <- 0 until 2) {
      codes.groupBy { case (_, c) => (c >> (30 * b)) & mask30 }
        .values.filter(_.length <= Dedup.MaxBucket)
        .foreach { bucket =>
          val sorted = bucket.sortBy(identity)
          for (i <- sorted.indices; j <- (i + 1) until sorted.length) {
            val h = java.lang.Long.bitCount(sorted(i)._2 ^ sorted(j)._2)
            if (h <= 10) ref += ((sorted(i)._1, sorted(j)._1, h))
          }
        }
    }
    assert(got == ref.toSet,
      s"top-rung pair graph diverged: got ${got.size}, ref ${ref.size}")
  }
}
