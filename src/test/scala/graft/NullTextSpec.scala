package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** NULL-text contract (round-17 review finding): the fixtures never carry a
  * NULL `text`, but the column is nullable on external/staged corpora, and
  * non-ANSI `size(split(NULL))` = -1 silently diverges from every DuckDB
  * oracle's `len(NULL)` = NULL — a -1 token count banded a NULL doc at
  * length-band 0 (oracle: 7), emitted n_tokens=-1 rows (oracle: NULL), and
  * poisoned SUM totals the oracle's SUM skips. These tests run the
  * affected queries over a corpus WITH a NULL-text doc and pin the
  * oracle-side semantics on the Spark output (the DuckDB replay itself
  * can't run here; the expression-level semantics are deterministic). */
class NullTextSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val dir: String = {
    val d = TestSpark.tempDir("graft_nulltext").toString
    val rows = Seq[(java.lang.Long, String, String, String, java.lang.Long)](
      (1L, "the quick brown fox jumps over the lazy dog again and again", "en", "src0", 60L),
      (2L, "a completely different second document with many plain words here", "en", "src0", 66L),
      (99L, null, "en", "src1", null)).map { case (id, t, l, s2, n) =>
      org.apache.spark.sql.Row(id: java.lang.Long, t, l, s2, n)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def run(name: String) = SparkEntry.queries(name)(spark, dir)

  test("tx_tokens: the NULL-text row reports NULL counts, not -1") {
    val r = run("tx_tokens").collect().map(x => x.getLong(0) -> x).toMap
    assert(r(99L).isNullAt(1) && r(99L).isNullAt(2) && r(99L).isNullAt(3),
      s"NULL doc must report NULL counts: ${r(99L)}")
    assert(r(1L).getInt(1) == 12, "non-null rows unchanged")
  }

  test("tx_mask_spans: the NULL-text row is NULL across schedule and digests") {
    val r = run("tx_mask_spans").collect().map(x => x.getLong(0) -> x).toMap
    val row = r(99L)
    assert((1 to 4).forall(row.isNullAt),
      s"NULL doc must be NULL in n_tokens/n_masked/digests: $row")
    assert(!r(1L).isNullAt(1) && r(1L).getLong(1) == 12L)
  }

  test("tx_length_drift: the NULL-text doc bands at 7 in BOTH engines' semantics") {
    // guarded NULL div -> NULL; least() skips the NULL arm in Spark AND
    // DuckDB -> band 7. The unguarded -1 banded it at 0 only in Spark.
    val bands = run("tx_length_drift").collect()
    assert(bands.nonEmpty) // per-source report exists; the contract is no crash + src1 counted
    val soft = run("dd_soft_dedup").collect().map(x => x.getLong(0) -> x).toMap
    assert(soft(99L).isNullAt(3),
      s"dd_soft_dedup: NULL doc's eff_tokens_micro must be NULL: ${soft(99L)}")
  }

  test("tx_mix_budget: NULL token counts do not poison the per-source totals") {
    // src1 holds ONLY the NULL doc: its token total is NULL (SUM over no
    // non-null values) and the budget math must answer for src0 regardless.
    val r = run("tx_mix_budget").collect()
    assert(r.nonEmpty, "budget must still be computable with a NULL-text source")
  }

  test("dd_line_dedup: the NULL-text row is NULL, not a zero-line doc") {
    val r = run("dd_line_dedup").collect().map(x => x.getLong(0) -> x).toMap
    val row = r(99L)
    assert(row.isNullAt(1) && row.isNullAt(2) && row.isNullAt(3),
      s"NULL doc must report NULL line stats (oracle len(NULL) = NULL): $row")
  }

  test("tx_bpe_merges / tx_bpe_apply: the NULL-text doc trains nothing and gets no row") {
    // Training sees only the two non-NULL docs' words, exactly as the
    // oracle's unnest drops the NULL text before counting.
    val words = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "a completely different second document with many plain words here")
      .flatMap(_.split(" "))
    val merges = run("tx_bpe_merges").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq
    assert(merges == graft.text.TextStatsSpec.refBpe(words, graft.text.TextStats.BpeRounds),
      s"merges must be trained on the non-NULL docs alone: $merges")
    val applied = run("tx_bpe_apply").collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(applied == Seq(1L -> 12L, 2L -> 10L),
      s"doc 99 must have no row (oracle's unnest emits none): $applied")
  }

  // ---- The NULL-fingerprint contract (round 19): a NULL fingerprint is
  // not dedupable. dd_exact's scaladoc states the family rule; these pin
  // each sibling's half of it.

  test("dd_simhash: the NULL-text doc is ABSENT, matching the oracle's unnest") {
    val r = run("dd_simhash").collect()
    assert(r.length == 2 && !r.exists(_.getLong(0) == 99L),
      s"NULL-text doc must be absent (oracle emits no row): ${r.mkString(";")}")
  }

  test("dd_exact / dd_exact_priority: no NULL-fingerprint group") {
    val e = run("dd_exact").collect()
    assert(e.length == 2 && e.forall(!_.isNullAt(0)),
      s"NULL fp must be excluded: ${e.mkString(";")}")
    val p = run("dd_exact_priority").collect()
    assert(p.length == 2 && p.forall(!_.isNullAt(0)),
      s"NULL fp must be excluded: ${p.mkString(";")}")
  }

  test("dd_bloom_probe: NULL-fp docs excluded; zero false negatives holds") {
    val r = run("dd_bloom_probe").collect()
    // src1 holds ONLY the NULL doc, so it has no probeable members at all.
    assert(r.map(_.getString(0)).toSeq == Seq("src0"),
      s"only fingerprintable sources appear: ${r.mkString(";")}")
    assert(r.forall(_.getLong(4) == 0L),
      s"n_false_neg must be zero by construction: ${r.mkString(";")}")
  }

  test("dd_source_dup_rate: the NULL-fp doc counts as a never-dup doc") {
    val r = run("dd_source_dup_rate").collect()
      .map(x => x.getString(0) -> x).toMap
    val src1 = r("src1")
    assert(src1.getLong(1) == 1L && src1.getLong(2) == 0L && src1.getLong(3) == 0L,
      s"src1's NULL doc must count in n_docs but never as dup: $src1")
  }

  test("dd_soft_dedup: two NULL-text docs are NOT mutual duplicates") {
    val d2 = TestSpark.tempDir("graft_nulltext2").toString
    val rows = Seq[(java.lang.Long, String)](
      (1L, "one real document with several plain words"),
      (98L, null), (99L, null)).map { case (id, t) =>
      org.apache.spark.sql.Row(id: java.lang.Long, t, "en", "src0",
        Option(t).map(_.length.toLong).map(Long.box).orNull)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$d2/documents.parquet")
    val r = SparkEntry.queries("dd_soft_dedup")(spark, d2).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(98L).getLong(1) == 1L && r(99L).getLong(1) == 1L,
      s"each NULL-fp doc is a singleton (full weight): ${r.values.mkString(";")}")
    assert(r(98L).getLong(2) == 1000000L,
      s"singleton weight must be full: ${r(98L)}")
  }
}
