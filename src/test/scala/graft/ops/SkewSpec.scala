package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.tools.StressFixtures

class SkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("MaxBucket keeps an adversarial 10^4-copy hot corpus bounded through the REAL queries") {
    val dir = TestSpark.tempDir("hot_corpus").toString
    StressFixtures.stageHotCorpus(spark, dir, nHot = 10000)
    val b = StressFixtures.PlantBase
    // n-gram Jaccard: every hot-shingle bucket (10^4 docs) is dropped by the
    // cap, so candidate generation returns ONLY the planted trio's 3 pairs —
    // uncapped, one bucket alone would expand ~5×10^7 pairs.
    val jac = graft.dedup.Dedup.defs.find(_.name == "dd_ngram_jaccard").get
      .fn(spark, dir).collect()
    assert(jac.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((b, b + 1), (b, b + 2), (b + 1, b + 2)),
      s"expected exactly the planted near-dup pairs, got ${jac.length} pairs")
    // SimHash pairs: the identical hot docs share every band bucket; all of
    // those buckets blow the cap and are dropped, so no emitted pair may
    // touch a hot doc.
    val sp = graft.dedup.Dedup.defs.find(_.name == "dd_simhash_pairs").get
      .fn(spark, dir).collect()
    assert(sp.forall(r => r.getLong(0) >= b && r.getLong(1) >= b),
      "a hot-bucket pair leaked past the cap")
  }

  test("saltedJoin beats the plain shuffle join's worst task on a hot key") {
    // regime + measurement live in SkewHarness, shared with the PLANS.md
    // appendix so the published numbers measure what this spec asserts
    val (plainMax, saltedMax) = graft.tools.SkewHarness.measureSaltedVsPlain(spark)
    info(s"max task shuffle rows: plain=$plainMax salted=$saltedMax")
    // 90% of the fact lands on one reducer unsalted…
    assert(plainMax >= 150000L, s"hot key not concentrated? plainMax=$plainMax")
    // …and spreads over ~32 reducers salted (≥4× headroom asserted)
    assert(saltedMax * 4 < plainMax,
      s"salting did not spread the hot key: plain=$plainMax salted=$saltedMax")
  }
}
