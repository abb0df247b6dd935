package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Edge semantics of the round-5 text operators that the fixture data
  * cannot reach: a document longer than the 256-token window must straddle
  * MORE than two windows with contiguous coverage, and quantized codes must
  * dequantize within the scheme's error bound. */
class TextStatsSpec extends AnyFunSuite {
  import TextStatsSpec.refBpe
  lazy val spark = TestSpark.spark

  /** The one BPE trainer over a documents frame, as `bpeMerges` runs it. */
  private def train(docs: org.apache.spark.sql.DataFrame, rounds: Int) =
    TextStats.bpeMergesDriverHeap(TextStats.wordFreqDict(docs), rounds)

  test("tx_mask_spans: planted doc corrupts to the exact T5 span schedule") {
    val s = spark; import s.implicits._
    // 17 tokens t0..t16: masked groups g = i div 3 with g % 5 = 0 are
    // g=0 (i=0,1,2) and g=5 (i=15,16) -> sentinels <extra_id_0>, <extra_id_1>.
    val text = (0 until 17).map(i => s"t$i").mkString(" ")
    val dir = TestSpark.tempDir("mask_docs").toString
    Seq((1L, text, "en", "s0", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    def m(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val r = TextStats.defs.find(_.name == "tx_mask_spans").get.fn(spark, dir)
      .collect().head
    assert(r.getLong(1) == 17L && r.getLong(2) == 5L, s"counts: $r")
    val corrupted = "<extra_id_0> " + (3 to 14).map(i => s"t$i").mkString(" ") +
      " <extra_id_1>"
    assert(r.getString(3) == m(corrupted), "corrupted stream must match the schedule")
    assert(r.getString(4) == m("t0 t1 t2 t15 t16"), "target must be the masked tokens in order")
    // determinism: the schedule is positional, so a re-run is byte-identical
    val again = TextStats.defs.find(_.name == "tx_mask_spans").get.fn(spark, dir)
      .collect().head
    assert(r.toSeq == again.toSeq)
  }

  test("pack_sequences: a 600-token doc spans 3+ windows; windows tile with no gaps") {
    val s = spark; import s.implicits._
    // One source: 100 + 600 + 30 tokens. Windows of 256:
    //   doc 1: cum_excl 0,   cum 100 -> win [0, 0]
    //   doc 2: cum_excl 100, cum 700 -> win [0, 2]  (straddles 3 windows)
    //   doc 3: cum_excl 700, cum 730 -> win [2, 2]
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    val dir = TestSpark.tempDir("pack_docs").toString
    Seq(
      (1L, words(100), "en", "s0", 100L),
      (2L, words(600), "en", "s0", 600L),
      (3L, words(30), "en", "s0", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextStats.defs.find(_.name == "tx_pack_sequences").get.fn(spark, dir)
      .select("doc_id", "n_tokens", "win_first", "win_last", "offset_in_win", "is_split")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSeq
    assert(got == Seq(
      (1L, 100L, 0L, 0L, 0L, false),
      (2L, 600L, 0L, 2L, 100L, true),
      (3L, 30L, 2L, 2L, 188L, false)))
    // Contiguity: each doc starts exactly where the previous ended
    // (offset + tokens ≡ next offset mod 256, window indices contiguous).
    assert(got.sliding(2).forall { case Seq(a, b) =>
      (a._5 + a._2) % 256 == b._5 && b._3 == a._4 + (if ((a._5 + a._2) % 256 == 0) 1 else 0)
    })
  }

  test("pack_sequences_sharded: equals the unsharded packing; no task owns a whole source") {
    val s = spark; import s.implicits._
    // One source with 200 docs — more than 3x the shard width of 64 — so
    // the two-level scan is actually exercised: the per-shard windows must
    // each see at most 64 rows while the SOURCE has 200.
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    val dir = TestSpark.tempDir("pack_shard_docs").toString
    (0L until 200L).map(i => (i, words((i % 13 + 1).toInt), "en", "s0", i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val unsharded = TextStats.defs.find(_.name == "tx_pack_sequences").get
      .fn(spark, dir).collect().map(_.toSeq).toSeq
    val sharded = TextStats.defs.find(_.name == "tx_pack_sequences_sharded").get
      .fn(spark, dir).collect().map(_.toSeq).toSeq
    assert(sharded == unsharded,
      "two-level scan must reproduce the single-partition cumulative sum exactly")
    // The scale property itself: every level-1 window partition is bounded
    // by the shard width (64), never by the source's size (200).
    val perShard = graft.Tables.documents(spark, dir)
      .groupBy(col("source"), expr("doc_id div 64").as("shard"))
      .agg(count(lit(1)).as("n"))
      .collect()
    assert(perShard.length >= 4, "200 docs over width-64 shards must make 4 shards")
    assert(perShard.forall(_.getAs[Long]("n") <= 64),
      "a level-1 partition larger than the shard width defeats the sharding")
  }

  test("quantize_u8: codes stay in [0,127] and dequantize within m/127 per element") {
    val s = spark; import s.implicits._
    // Drive the REAL query over the fixture embeddings, then reconstruct
    // per-element values from (scale, code) and bound the error by the
    // scheme's step size: v̂ = m(2q/127 − 1), |v − v̂| ≤ 2m/127 (one step).
    val sf = TestSpark.sf
    val q = graft.sim.Similarity.defs.find(_.name == "sim_quantize_u8").get
      .fn(spark, sf).collect()
    assert(q.nonEmpty)
    q.foreach { r =>
      val (m, qmin, qmax) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(qmin >= 0 && qmax <= 127, s"code out of range: $r")
      assert(m >= 1, s"degenerate scale: $r")
    }
    // Independent error check on one vector, in plain Scala.
    val row = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").orderBy("vec_id").head()
    val v = row.getSeq[Float](1).map(x => math.round(x.toDouble * 1e6))
    val m = math.max(v.map(math.abs).max, 1L)
    v.foreach { x =>
      val q8 = ((x + m) * 127) / (2 * m)
      val dequant = (2.0 * q8 / 127 - 1) * m
      assert(math.abs(x - dequant) <= 2.0 * m / 127 + 1,
        s"dequantization error beyond one step: x=$x m=$m q=$q8")
    }
  }

  test("tx_tfidf: rare term outranks frequent-everywhere term; score is exact tf*1e6 div df") {
    val s = spark; import s.implicits._
    // df: apple 1, banana 2, cherry 2, the 3
    val dir = TestSpark.tempDir("tfidf_docs").toString
    Seq(
      (1L, "the apple apple banana", "en", "s0", 22L),
      (2L, "the banana cherry", "en", "s0", 17L),
      (3L, "the cherry cherry cherry", "en", "s0", 24L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextStats.defs.find(_.name == "tx_tfidf").get.fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getInt(5)))
    // doc 1: apple tf=2 df=1 -> 2_000_000 beats banana 500_000 and the 333_333
    val d1 = got.filter(_._1 == 1L).sortBy(_._6)
    assert(d1.head == ((1L, "apple", 2L, 1L, 2000000L, 1)))
    assert(d1.map(_._2).toSeq == Seq("apple", "banana", "the"))
    // doc 3: cherry tf=3 df=2 -> 1_500_000 top despite "the" being everywhere
    assert(got.filter(_._1 == 3L).minBy(_._6)._2 == "cherry")
    // every row's score is exactly tf*1e6 div df
    assert(got.forall(r => r._5 == r._3 * 1000000L / r._4))
  }

  test("tx_winnowing: docs sharing an 8+-token run share a fingerprint; disjoint docs don't") {
    val s = spark; import s.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dir = TestSpark.tempDir("winnow_docs").toString
    Seq(
      (1L, s"one two $shared three four five six", "en", "s0", 0L),
      (2L, s"seven eight nine ten $shared eleven", "en", "s0", 0L),
      (3L, "all words here differ from both other docs entirely today", "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // recompute the fingerprint SETS with the same expressions the query
    // checksums, so set intersection is directly assertable
    val toks = "split(trim(text), ' +')"
    val fps = graft.Tables.documents(spark, dir)
      .withColumn("grams", expr(s"transform(sequence(0, size($toks) - 4), i -> " +
        s"CAST(conv(substr(md5(array_join(slice($toks, i + 1, 4), ' ')), 1, 12), 16, 10) AS BIGINT))"))
      .withColumn("fps",
        expr("array_distinct(transform(sequence(0, size(grams) - 5), i -> array_min(slice(grams, i + 1, 5))))"))
      .select(col("doc_id"), col("fps")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // winnowing guarantee: any shared run of >= k + w - 1 = 8 tokens
    // yields at least one common selected fingerprint
    assert((fps(1L) & fps(2L)).nonEmpty, "10-token shared run must collide")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty,
      "no 4-gram is shared with the disjoint doc")
    // and the registered query's checksums agree with these sets
    val q = TextStats.defs.find(_.name == "tx_winnowing").get.fn(spark, dir)
      .select("doc_id", "n_fps", "fp_sum").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    q.foreach { case (id, n, sum) =>
      assert(n == fps(id).size && sum == fps(id).sum)
    }
  }

  test("tx_bigram_lm: positions sum to tokens minus docs; identical-token doc maxes out") {
    val sf = graft.TestSpark.sf
    val rows = TextStats.defs.find(_.name == "tx_bigram_lm").get
      .fn(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every doc with >= 2 tokens reports, and bigram positions = tokens - 1
    val expected = graft.Tables.documents(spark, sf)
      .selectExpr("doc_id", "size(split(trim(text), ' +')) AS n")
      .filter(col("n") >= 2).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.map(_._1).toSet == expected.keySet)
    rows.foreach { case (id, nb, fam) =>
      assert(nb == expected(id) - 1L)
      // each position contributes at most 1e6 (c2 <= c1 by construction)
      assert(fam >= 0 && fam <= 1000000L * nb)
    }
  }

  test("tx_quality_buckets: buckets partition the corpus with ordered familiarity ranges") {
    val sf = "/root/testdata/sf0.001"
    val rows = TextStats.defs.find(_.name == "tx_quality_buckets").get
      .fn(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(rows.keySet.subsetOf(Set("head", "middle", "tail")))
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(rows.values.map(_._1).sum == nDocs, "every doc lands in exactly one bucket")
    // cutoff semantics: head floors above middle's ceiling, middle above tail's
    for (hi <- rows.get("head"); mid <- rows.get("middle"))
      assert(hi._3 > mid._4, "head fam_min must exceed middle fam_max")
    for (mid <- rows.get("middle"); lo <- rows.get("tail"))
      assert(mid._3 > lo._4, "middle fam_min must exceed tail fam_max")
  }

  test("tx_cdc_chunks: chunks tile each doc's gram stream with no gaps") {
    val sf = "/root/testdata/sf0.001"
    val rows = TextStats.defs.find(_.name == "tx_cdc_chunks").get.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(4), r.getLong(5)))
    val grams = graft.Tables.documents(spark, sf)
      .selectExpr("doc_id", "CAST(size(split(trim(text), ' +')) - 3 AS BIGINT) AS n")
      .filter(col("n") >= 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.map(_._1).toSet == grams.keySet)
    rows.groupBy(_._1).foreach { case (id, cs) =>
      val ordered = cs.sortBy(_._2)
      assert(ordered.map(_._3).sum == grams(id), s"doc $id: chunks must cover every gram")
      assert(ordered.head._4 == 0L, s"doc $id: first chunk starts at gram 0")
      assert(ordered.last._5 == grams(id) - 1, s"doc $id: last chunk ends at the last gram")
      ordered.sliding(2).foreach {
        case Array(a, b) => assert(b._4 == a._5 + 1,
          s"doc $id: chunk ${b._2} must start right after chunk ${a._2}")
        case _ =>
      }
    }
  }

  test("dd_cdc_dedup: chunk identity survives a mid-doc insertion (the CDC property)") {
    val s = spark; import s.implicits._
    // doc 2 = doc 1 with one token inserted at position 150: every fixed
    // window after the edit would shift, but CDC chunks before the edit
    // (and re-synchronized ones after) keep their identity.
    // unique tokens: no gram recurs inside a doc, so only genuine
    // re-synchronization (not periodicity) can make chunks match
    val base = Seq.tabulate(240)(i => s"w$i")
    val edited = (base.take(150) :+ "INSERTED") ++ base.drop(150)
    val dir = TestSpark.tempDir("cdc_docs").toString
    Seq(
      (1L, base.mkString(" "), "en", "srcA", 0L),
      (2L, edited.mkString(" "), "en", "srcB", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.dedup.Dedup.defs.find(_.name == "dd_cdc_dedup").get.fn(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(5))).toMap
    got.foreach { case (id, (nChunks, nShared, permille)) =>
      assert(nShared >= 1, s"doc $id: at least one chunk must survive the edit")
      assert(nShared < nChunks, s"doc $id: the edited chunk itself must differ")
      assert(permille > 0 && permille < 1000, s"doc $id: shared mass strictly partial")
    }
  }

  test("tx_bpe_merges: leftmost-greedy overlap parity, lexicographic ties, merged re-pairing") {
    val s = spark; import s.implicits._
    def docs(texts: String*) = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "s0", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    // "aaaa" x3 + "ab" x2: round 1 picks (a,a) with weighted count 9 (three
    // overlapping adjacencies per "aaaa" — the naive adjacent count BPE
    // selects on) over (a,b)=2; greedy application merges positions 0 and 2
    // ONLY (parity rule: the overlapping middle pair never merges), so
    // round 2 sees "aa aa" and picks (aa,aa)=3 — which also proves a merged
    // symbol re-pairs with itself.
    val m1 = train(docs("aaaa aaaa aaaa ab ab"), 2)
    assert(m1 == Seq((1L, "a", "a", "aa", 9L), (2L, "aa", "aa", "aaaa", 3L)),
      s"got $m1")
    // pure tie: (x,y) and (y,z) both count 2 -> lexicographically smallest
    // (lhs, rhs) wins
    val m2 = train(docs("xy xy yz yz"), 1)
    assert(m2 == Seq((1L, "x", "y", "xy", 2L)), s"got $m2")
    // single-char words contribute no pairs and survive every round
    val m3 = train(docs("a b c d"), 1)
    assert(m3.isEmpty, s"no pairs exist, got $m3")
  }

  test("tx_bpe_apply: fold application equals greedy on the overlap case; counts conserve") {
    val s = spark; import s.implicits._
    // Corpus where round 1 learns (a,a): "aaa" must segment as [aa, a]
    // (2 subwords) — the fold's just-merged slot must NOT re-match as the
    // left half of the same pair — and "aaaa" as [aa, aa].
    val dir = TestSpark.tempDir("bpe_apply").toString
    Seq((1L, "aaa aaa aaa aaaa", "en", "s0", 16L),
        (2L, "aaaa b", "en", "s0", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = TextStats.defs.find(_.name == "tx_bpe_apply").get.fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // After up to 8 merges the tiny vocab fully collapses: every word
    // becomes 1 subword except words whose intermediate states pin the
    // greedy rule. Compute expected by replaying the learned merges in
    // Scala on each word.
    val merges = train(
      Seq((1L, "aaa aaa aaa aaaa", "en", "s0", 16L), (2L, "aaaa b", "en", "s0", 6L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"), TextStats.BpeRounds)
    assert(merges == refBpe("aaa aaa aaa aaaa aaaa b".split(" ").toSeq, TextStats.BpeRounds))
    def apply1(syms: List[String], a: String, b: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toList
    }
    def segment(w: String): Int =
      merges.foldLeft(w.split("").filter(_.nonEmpty).toList) {
        case (sy, (_, a, b, _, _)) => apply1(sy, a, b)
      }.length
    val expect = Seq(
      (1L, 4L, (3 * segment("aaa") + segment("aaaa")).toLong),
      (2L, 2L, (segment("aaaa") + segment("b")).toLong))
    assert(rows == expect, s"got $rows expect $expect (merges=$merges)")
  }

  test("tx_bpe_merges: training equals the in-memory reference on seeded random corpora") {
    val s = spark; import s.implicits._
    val rng = new scala.util.Random(7)
    for (trial <- 1 to 6) {
      // tiny alphabet forces dense overlaps and ties — the adversarial zone
      // for the marks/runs parity and lexicographic selection
      val words = Seq.fill(5 + rng.nextInt(6))(
        Seq.fill(1 + rng.nextInt(6))("ab" (rng.nextInt(2))).mkString)
      val text = words.mkString(" ")
      val docs = Seq((1L, text, "en", "s0", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val got = train(docs, 3)
      val exp = refBpe(words, 3)
      assert(got == exp, s"trial $trial corpus='$text': got $got expect $exp")
    }
  }

  test("bpeMergesDriverHeap: equals the in-memory reference on the fixture and adversarial corpora") {
    val s = spark; import s.implicits._
    // fixture corpus, past the registered depth (stale-heap entries, merged
    // re-pairing, and posting staleness all get exercised by 24 rounds);
    // the reference counts words with a plain Scala split, independent of
    // wordFreqDict
    val fixture = graft.Tables.documents(spark, TestSpark.sf)
    val fixtureWords = fixture.select("text").as[String].collect().toSeq
      .flatMap(_.trim.split(" +")).filter(_.nonEmpty)
    val fixtureGot = train(fixture, 24)
    assert(fixtureGot.length == 24, s"fixture must sustain 24 merges: $fixtureGot")
    assert(fixtureGot == refBpe(fixtureWords, 24))
    // adversarial: tiny alphabet, dense overlaps and count ties; deeper than
    // any word so the exhausted-heap stop path also runs
    val rng = new scala.util.Random(11)
    for (trial <- 1 to 6) {
      val words = Seq.fill(5 + rng.nextInt(6))(
        Seq.fill(1 + rng.nextInt(7))("ab" (rng.nextInt(2))).mkString)
      val docs = Seq((1L, words.mkString(" "), "en", "s0", 1L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val got = train(docs, 12)
      val exp = refBpe(words, 12)
      assert(got == exp, s"trial $trial corpus='${words.mkString(" ")}'")
    }
    // prefix stability end-to-end through the artifact store: merge k never
    // depends on the rounds budget, so a deep table starts with the
    // registered 8-round one
    val deep = TextStats.bpeMerges(spark, TestSpark.sf, 300)
    val shallow = TextStats.bpeMerges(spark, TestSpark.sf)
    assert(deep.take(shallow.length) == shallow)
    assert(deep.length > shallow.length)
    // non-ASCII tie-break: a supplementary char (U+1D6FC, a surrogate pair)
    // vs a BMP char (U+FF71) with tied pair counts — UTF-16 compareTo would
    // order the surrogate pair FIRST (0xD835 < 0xFF71) while Spark/DuckDB
    // binary UTF-8 order (= code-point order) puts U+FF71 first. refBpe
    // cannot judge this (String.split("") halves the surrogate pair), so
    // the expected merge is pinned literally.
    val supp = new String(Character.toChars(0x1D6FC)) // 𝛼
    val bmp = "ｱ"                                // ｱ
    val tieDocs = Seq((1L, s"${supp}a ${bmp}a", "en", "s0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val heapGot = train(tieDocs, 1)
    assert(heapGot == Seq((1L, bmp, "a", bmp + "a", 1L)), s"got $heapGot")
    assert(heapGot.head._2 == bmp,
      s"code-point order must pick U+FF71 over U+1D6FC, got lhs=${heapGot.head._2}")
  }

  test("wordFreqDict minCount floor: bounds the collect; merges exact per the stated contract") {
    val s = spark; import s.implicits._
    // (a) a floor at/below the fixture's minimum frequency prunes nothing
    // and is byte-identical to the unfloored dictionary
    val fixture = graft.Tables.documents(spark, TestSpark.sf)
    val full = TextStats.wordFreqDict(fixture)
    val minFreq = full.map(_._2).min
    assert(TextStats.wordFreqDict(fixture, minFreq) == full)
    // (b) a corpus where the floor ACTUALLY prunes: frequent words over
    // {a,b,c,d}, hapax noise over a DISJOINT symbol range (uppercase — the
    // URLs/typos/numbers of real web text), each noise word a UNIQUE
    // 2-symbol pair so no pruned pair accumulates a competitive count.
    // Pruned words then contain no pair any merge round can select, so
    // contract clause (b) applies: floored training must equal unfloored
    // training EXACTLY, including the n_pairs counts, while the dictionary
    // (= the driver collect) shrinks by the full noise vocabulary.
    val frequent = Seq.fill(50)("abab cdcd")
    val noise = (0 until 40).map(i => s"${('A' + i / 10).toChar}${('A' + i % 10).toChar}")
    val docs = (frequent ++ noise).zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dictFull = TextStats.wordFreqDict(docs)
    val dictFloored = TextStats.wordFreqDict(docs, 2L)
    assert(dictFloored.length == 2, s"floor must keep only abab/cdcd: $dictFloored")
    assert(dictFull.length == dictFloored.length + 40, "the 40 hapax words must prune")
    // 4 rounds exhausts the kept words ((a,b), (c,d), (ab,ab), (cd,cd)) —
    // past that the unfloored trainer would start merging noise pairs the
    // floored one no longer has, which is exactly the approximation the
    // knob documents (hapax merges are vocabulary noise by construction)
    val R = 4
    assert(TextStats.bpeMergesDriverHeap(dictFloored, R) ==
      TextStats.bpeMergesDriverHeap(dictFull, R),
      "disjoint-symbol pruning must not change merges or counts")
    // (c) the pruned-mass bound of the contract: M = Σ_pruned freq·(len−1)
    // = 40 here, and every pruned pair's true count (1) is ≤ M — the
    // quantity clause (a)'s margin condition compares against.
    val m = dictFull.filterNot(dictFloored.contains)
      .map { case (w, f) => f * (w.length - 1) }.sum
    assert(m == 40L)
  }

  test("bpe merge table is a persisted content-keyed artifact, probed instead of retrained") {
    val s = spark; import s.implicits._
    val dir = TestSpark.tempDir("bpe_artifact").toString
    def write(text: String): Unit =
      Seq((1L, text, "en", "s0", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def artDir = new java.io.File(graft.Artifacts.baseDir,
      s"graft_bpe_merges_r${TextStats.BpeRounds}_" +
        graft.Artifacts.tableSig(dir, "documents"))
    def artSuccess = new java.io.File(artDir, "_SUCCESS")
    // No-retrain proxy: the DATA files' mtimes. (_SUCCESS mtime is not
    // usable here since round 15 — every handout deliberately refreshes it
    // so the janitor never sweeps a hot artifact; a retrain replaces the
    // part files via tmp-dir rename, so THEIR mtimes move exactly when a
    // rewrite happens.)
    def dataMtimes = Option(artDir.listFiles())
      .fold(Seq.empty[(String, Long)])(_.toSeq.filter(_.getName.startsWith("part-"))
        .map(f => f.getName -> f.lastModified()).sortBy(_._1))
    write("aaaa aaaa aaaa ab ab")
    val m1 = TextStats.bpeMerges(spark, dir)
    assert(m1.nonEmpty)
    assert(artSuccess.exists(), "training must publish the merge table to the store")
    val published = dataMtimes
    assert(published.nonEmpty)
    // A fresh JVM has an empty memo but the same artifact store: clearing
    // the in-process memo models a restart, and the second call must come
    // back from the PUBLISHED table (same data-file mtimes = no rewrite).
    TextStats.bpeModels.clear()
    assert(TextStats.bpeMerges(spark, dir) == m1)
    assert(dataMtimes == published,
      "post-restart consumer must read the artifact, not retrain")
    // Rewriting the corpus in place changes the content signature: a new
    // artifact is trained and published; the old key can never be served.
    write("xy xy yz yz")
    val m3 = TextStats.bpeMerges(spark, dir)
    assert(m3 != m1, "rewritten corpus must yield its own merges")
    assert(artSuccess.exists(), "rewrite must publish under the new signature")
  }

  test("bpeSubwordDict: merge symbols containing quotes and backslashes apply intact") {
    // The earlier string-built SQL fold escaped quotes with SQL-standard
    // doubling, which Spark parses as adjacent-literal CONCATENATION — a
    // learned merge like d't silently became d''t -> "d" "t" = "dt" and
    // never matched; backslashes were not escaped at all. The fold now
    // binds symbols as column literals; this corpus learns merges carrying
    // both characters and both words must collapse to ONE subword.
    val s = spark; import s.implicits._
    val text = "d't d't d't a\\b a\\b a\\b"
    val docs = Seq((1L, text, "en", "s0", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val merges = train(docs, 4)
    assert(merges.exists(_._4.contains("'")), s"no quote-carrying merge in $merges")
    assert(merges.exists(_._4.contains("\\")), s"no backslash-carrying merge in $merges")
    val dict = TextStats.bpeSubwordDictFor(docs, merges).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dict == Map("d't" -> 1L, "a\\b" -> 1L), s"got $dict")
  }

  test("tx_pii_scrub: planted footer counts once per class; in-text PII is also caught") {
    val sf = TestSpark.sf
    val q = TextStats.defs.find(_.name == "tx_pii_scrub").get
    // Fixture corpus is PII-free, so every doc reports EXACTLY the planted
    // footer: one email, one IP, one phone, one account id.
    val base = q.fn(spark, sf).collect()
    assert(base.nonEmpty)
    base.foreach { r =>
      assert((1 to 4).forall(i => r.getLong(i) == 1L),
        s"doc ${r.getLong(0)}: fixture text must contribute no extra redactions")
    }
    // A crafted doc carrying one REAL instance of each class in its body
    // must count 2 per class (body + footer) — the battery scrubs raw
    // text, not just the planted spans.
    val s = spark; import s.implicits._
    val dir = TestSpark.tempDir("pii_docs").toString
    Seq((77L,
      "reach bob.smith@mail.example.org from 10.1.2.3 call 555-0100 ref 12345678",
      "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val p = q.fn(spark, dir).collect().head
    assert((1 to 4).forall(i => p.getLong(i) == 2L),
      s"crafted doc: each class must count body + footer, got ${p.toSeq}")
  }

  test("tx_mixture_sample: membership equals an independent JVM md5-threshold replay") {
    val sf = TestSpark.sf
    val q = TextStats.defs.find(_.name == "tx_mixture_sample").get
    val rows = q.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    // Independent replay: per-source doc lists collected driver-side, the
    // sqrt/fixed-point/threshold pipeline recomputed in plain Scala with
    // java MessageDigest — no Spark expressions shared with the query.
    val docs = graft.Tables.documents(spark, sf)
      .select(col("source"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
    def h32(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val nd = docs.values.map(_.length.toLong).sum
    val wfp = docs.map { case (src, ds) =>
      src -> math.floor(math.sqrt(ds.length.toDouble) * 1000.0).toLong
    }
    val sw = wfp.values.sum
    rows.foreach { r =>
      val (src, nDocs, weightFp, nTarget, nSampled, pickedSum) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(nDocs == docs(src).length.toLong)
      assert(weightFp == wfp(src), s"$src weight")
      val expTarget = (nd / 5) * wfp(src) / sw
      assert(nTarget == expTarget, s"$src target")
      val thresh = expTarget * 4294967296L / nDocs
      val picked = docs(src).map(_._2).filter(h32(_) < thresh)
      assert(nSampled == picked.length.toLong, s"$src sample size")
      assert(pickedSum == picked.sum, s"$src membership checksum")
    }
    // the budget is honored in expectation: integer targets sum to <= N/5
    assert(rows.map(_.getLong(3)).sum <= nd / 5)
  }

  test("tx_split_assign: JVM md5 replay, stable under append, disjoint from sampler bits") {
    val sf = TestSpark.sf
    val q = TextStats.defs.find(_.name == "tx_split_assign").get
    val rows = q.fn(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    def md5hex(id: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    rows.foreach { case (id, h16, split) =>
      val exp = java.lang.Long.parseLong(md5hex(id).substring(8, 12), 16)
      assert(h16 == exp, s"doc $id split hash")
      val expSplit = if (exp < 3276) "val" else if (exp < 6553) "test" else "train"
      assert(split == expSplit)
    }
    // assignment is a pure function of doc_id: the same ids re-split after
    // an append (different corpus content) land identically — eval-set
    // stability across corpus versions
    val splits = rows.map { case (id, _, s) => id -> s }.toMap
    val again = q.fn(spark, sf).collect().map(r => r.getLong(1) -> r.getString(3))
    assert(again.forall { case (id, s) => splits(id) == s })
    // the split bits (hex 9-12) are not the sampler bits (hex 1-8): a doc's
    // split says nothing about its mixture draw — check the two rankings
    // disagree somewhere (they would be identical if both read the same bits)
    val ids = rows.map(_._1).take(64)
    val bySampler = ids.sortBy(id => java.lang.Long.parseLong(md5hex(id).substring(0, 8), 16))
    val bySplit = ids.sortBy(id => java.lang.Long.parseLong(md5hex(id).substring(8, 12), 16))
    assert(bySampler != bySplit)
  }

  test("tx_curriculum_order: stages partition by threshold and the schedule is stage-monotone") {
    val sf = graft.TestSpark.sf
    val cur = TextStats.defs.find(_.name == "tx_curriculum_order").get.fn(spark, sf)
    val rows = cur.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(rows.map(_._1).distinct.length == rows.length, "every doc scheduled exactly once")
    assert(rows.length == graft.Tables.documents(spark, sf).count())
    // stage is exactly the threshold rule
    assert(rows.forall { case (_, diff, stage, _) =>
      stage == (if (diff < 444) 0 else if (diff < 457) 1 else 2)
    })
    // the output IS the schedule: sorted by sched_key, stages never regress
    val stagesInOrder = rows.map(_._3)
    assert(stagesInOrder.zip(stagesInOrder.tail).forall { case (a, b) => a <= b },
      "easy->hard: stage must be non-decreasing along the schedule")
    // sched_key embeds the stage in its high bits
    assert(rows.forall { case (_, _, stage, key) => key / 1099511627776L == stage })
    // within a stage the md5 shuffle decorrelates from doc_id order: the
    // schedule inside stage 0 must not be doc_id-sorted on any real fixture
    val s0 = rows.filter(_._3 == 0).map(_._1)
    assert(s0.length > 2 && s0 != s0.sorted, "in-stage order must be shuffled, not id order")
  }

  test("tx_dp_histogram: thresholds match an independent CDF derivation; noise replays in the JVM") {
    // Independent derivation of the inverse-CDF table: accumulate the pmf
    // P(j) = (1/2)(1/3)^|j| = 2*3^(20-|j|) / (4*3^20) directly (the library
    // derives F(j) in closed form instead). The clip folds the infinite left
    // tail into j = -20, and that tail mass is EXACTLY 1 in units of 4*3^20
    // (sum_{k>=21} (1/2)3^-k = (1/4)3^-20), so the accumulator starts at 1.
    val d0 = BigInt(4) * BigInt(3).pow(20)
    var cum = BigInt(1)
    val independent = (-20 to 19).map { j =>
      cum += BigInt(2) * BigInt(3).pow(20 - math.abs(j))
      (((BigInt(1) << 48) * cum) / d0).toLong
    }
    assert(TextStats.dpThresholds == independent,
      "closed-form CDF must equal the accumulated pmf")

    val sf = graft.TestSpark.sf
    val h = TextStats.defs.find(_.name == "tx_dp_histogram").get.fn(spark, sf)
    val rows = h.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    // JVM md5 replay of every source's draw
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { case (source, nRaw, noise, nNoisy) =>
      val hex = md.digest(s"dp1:$source".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 12)
      val u48 = java.lang.Long.parseLong(hex, 16)
      val expected = independent.count(t => u48 >= t) - 20
      assert(noise == expected, s"$source: engine noise $noise != JVM replay $expected")
      assert(noise >= -20 && noise <= 20)
      assert(nNoisy == math.max(nRaw + noise, 0L), s"$source: clamp violated")
    }
    // the mechanism must actually perturb something on a 20-source fixture
    // (P(all 20 draws are zero) = 2^-20)
    assert(rows.exists(_._3 != 0), "at least one count should be perturbed")
  }

  test("tx_pack_efficiency: accounting restates the packing layout exactly") {
    val sf = graft.TestSpark.sf
    val eff = TextStats.defs.find(_.name == "tx_pack_efficiency").get.fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(eff.nonEmpty)
    // cross-check against the per-doc packing layout itself
    val pack = TextStats.defs.find(_.name == "tx_pack_sequences").get.fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(4), r.getBoolean(6)))
    val bySrc = pack.groupBy(_._1)
    eff.foreach { case (src, nDocs, total, nWin, waste, fill, nSplit) =>
      val docs = bySrc(src)
      assert(nDocs == docs.length)
      assert(total == docs.map(_._2).sum)
      assert(nWin == docs.map(_._3).max + 1, s"$src: window count != max win_last + 1")
      assert(waste == nWin * 256 - total && waste >= 0 && waste < 256)
      assert(fill == 1000 * total / (nWin * 256))
      assert(nSplit == docs.count(_._4), s"$src: split count mismatch")
    }
  }

  test("tx_length_drift: a planted truncated source is flagged; uniform sources are not") {
    val s = spark; import s.implicits._
    // 4 sources with the same length profile (bands 1 and 3), plus a SMALL
    // source of 2-token stubs (band 0 only) — the truncation-bug
    // signature. The stub source must stay small (4 of 164 docs) because
    // the reference mix is corpus-wide: a large outlier would drag every
    // healthy source's TV up with it (the monitor flags the outlier, but
    // the healthy-source assertion needs the mix barely perturbed).
    val dir = TestSpark.tempDir("len_drift_docs").toString
    val healthy = for (src <- Seq("a", "b", "c", "d"); i <- 0 until 40) yield
      (src.hashCode.toLong * 1000 + i, (0 until (if (i % 2 == 0) 40 else 100))
        .map(_ => "w").mkString(" "), "en", src, 5L)
    val stubs = (0 until 4).map(i => (900000L + i, "w w", "en", "trunc", 5L))
    (healthy ++ stubs).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextStats.defs.find(_.name == "tx_length_drift").get.fn(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val bySrc = got.map(r => r._1 -> r).toMap
    assert(got.length == 5)
    assert(!bySrc("trunc")._4, s"truncated source must drift: ${bySrc("trunc")}")
    Seq("a", "b", "c", "d").foreach { s0 =>
      assert(bySrc(s0)._4, s"healthy source must not drift: ${bySrc(s0)}")
    }
    // verdict restates the threshold on the emitted score
    got.foreach { case (_, _, tv, ok) => assert(ok == (tv < 100000L)) }
  }

  test("shardedCum: exact equivalence with the unsharded cumsum, NULL counts included") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // The two adversarial spots: a NULL count OPENING a partition (the
    // unsharded sum is NULL until the first non-NULL) and a NULL count
    // OPENING a shard mid-partition (a naive carry_in + cum_in_shard goes
    // NULL where the unsharded sum carries the prior total forward).
    val rows = (0L to 130L).map { i =>
      val n: java.lang.Long =
        if (i == 0L || i == 64L) null else java.lang.Long.valueOf(10 + i % 7)
      ("src" + (i % 2), i, n)
    }
    val df = rows.toDF("source", "doc_id", "n_tokens")
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val unsharded = df.withColumn("cum", sum(col("n_tokens")).over(w))
      .select("source", "doc_id", "n_tokens", "cum")
      .orderBy("source", "doc_id").collect().toSeq
    val sharded = TextStats.shardedCum(df, Seq("source"))
      .select("source", "doc_id", "n_tokens", "cum")
      .orderBy("source", "doc_id").collect().toSeq
    assert(sharded == unsharded)
  }

  test("nTokensAs is NULL-total: NULL text yields NULL, not non-ANSI -1") {
    val s = spark; import s.implicits._
    // The session runs ansi off, where size(split(NULL)) = -1 — a value
    // that would corrupt the packing cumsum and quality sums while every
    // DuckDB oracle yields NULL. The shared count must propagate NULL.
    val df = Seq((1L, "a b  c"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = df.select(
        org.apache.spark.sql.functions.expr(TextStats.nTokensAs("BIGINT")).as("n"))
      .collect()
    assert(out(0).getLong(0) == 3L)
    assert(out(1).isNullAt(0), "NULL text must stay NULL (not -1)")
    // and the raw non-total form really does differ (the bug being guarded)
    val raw = df.select(org.apache.spark.sql.functions
        .expr("size(split(trim(text), ' +'))").as("n")).collect()
    assert(raw(1).getInt(0) == -1, "non-ANSI size(NULL) contract changed?")
  }
}

object TextStatsSpec {
  /** In-memory reference BPE: standard BPE over a corpus's word tokens
    * (weighted naive-adjacent counts, count-desc/(lhs,rhs)-asc selection,
    * leftmost-greedy rescan apply), recounting every round. Symbols are
    * `String.split("")` units, so keep its inputs in the BMP. */
  def refBpe(tokens: Seq[String], rounds: Int): Seq[(Long, String, String, String, Long)] = {
    val words = tokens.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    var syms = words.keys.map(w => w -> w.split("").filter(_.nonEmpty).toList).toMap
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    for (r <- 1 to rounds) {
      val cnt = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, f) <- words; Seq(a, b) <- syms(w).sliding(2) if syms(w).length >= 2)
        cnt((a, b)) = cnt.getOrElse((a, b), 0L) + f
      if (cnt.nonEmpty) {
        val ((a, b), c) = cnt.toSeq.minBy { case ((x, y), n) => (-n, x, y) }
        out += ((r.toLong, a, b, a + b, c))
        syms = syms.map { case (w, sy) =>
          val ns = scala.collection.mutable.ListBuffer.empty[String]
          var i = 0
          while (i < sy.length) {
            if (i + 1 < sy.length && sy(i) == a && sy(i + 1) == b) { ns += (a + b); i += 2 }
            else { ns += sy(i); i += 1 }
          }
          w -> ns.toList
        }
      }
    }
    out.toSeq
  }
}
