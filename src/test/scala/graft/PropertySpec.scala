package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property-based invariants (SURVEY.md §5.3) via ScalaCheck's own runner. */
object GraftProperties extends Properties("graft") {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  property("epoch→timestamp→epoch floors to whole seconds") =
    forAll(Gen.chooseNum(-4102444800000L, 4102444800000L)) { ms =>
      val got = Seq(ms).toDF("ms")
        .select(unix_millis(etl.StarEtl.epochToTimestamp(col("ms"))).as("back"))
        .head.getLong(0)
      got == Math.floorDiv(ms, 1000L) * 1000
    }

  // ms, second, hour, day, week in nanos — written out, not read from EpochTime
  private val bucketNs = Seq(1000000L, 1000000000L, 3600000000000L, 86400000000000L,
    604800000000000L)
  private val dayNs = bucketNs(3)
  // 1900..2100 in epoch-nanos, plus k·u-1, k·u, k·u+1 for every width u
  // around 1.7e18, 0 and -1.7e18 (the bucket edges a rounding bug misses)
  private val tsGen: Gen[Long] = Gen.oneOf(
    Gen.chooseNum(-2208988800000000000L, 4102444800000000000L),
    for {
      u <- Gen.oneOf(bucketNs)
      near <- Gen.oneOf(1700000000000000000L, 0L, -1700000000000000000L)
      d <- Gen.choose(-1L, 1L)
    } yield near / u * u + d)

  property("EpochTime buckets floor epoch-nanos; a k-day shift moves day by k only") =
    forAll(tsGen, Gen.chooseNum(-20000L, 20000L)) { (ts, k) =>
      val t = col("ts")
      val t2 = col("ts") + lit(k * dayNs)
      val r = Seq(ts).toDF("ts").select(
        EpochTime.Ms.of(t), EpochTime.Second.of(t), EpochTime.Hour.of(t),
        EpochTime.Day.of(t), EpochTime.Week.of(t), EpochTime.hourOfDay(t),
        EpochTime.Day.of(t2), EpochTime.hourOfDay(t2)).head
      val hod = Math.floorMod(Math.floorDiv(ts, bucketNs(2)), 24L)
      bucketNs.indices.forall(i => r.getLong(i) == Math.floorDiv(ts, bucketNs(i))) &&
        r.getLong(5) == hod &&
        r.getLong(6) == r.getLong(3) + k && r.getLong(7) == hod
    }

  property("DECIMAL(9,0) cast is monotone (order-preserving rounding)") =
    forAll(Gen.chooseNum(-9.9e7, 9.9e7), Gen.chooseNum(-9.9e7, 9.9e7)) { (a, b) =>
      val Seq(lo, hi) = Seq(a, b).sorted.toSeq
      val r = Seq(lo, hi).toDF("x")
        .select(col("x").cast(DecimalType(9, 0)).as("d"))
        .as[java.math.BigDecimal].collect()
      r(0).compareTo(r(1)) <= 0
    }

  property("TopK buffer = sorted take(k) for arbitrary inputs") =
    forAll(Gen.listOf(Gen.zip(Gen.chooseNum(0L, 50L), Gen.chooseNum(0.0, 1.0)))) { xs =>
      val agg = functions.TopK.topK(4)
      val buf = xs.foldLeft(agg.zero)((b, x) =>
        agg.reduce(b, functions.TopK.Scored(x._1, x._2)))
      val expected = xs.map(x => functions.TopK.Scored(x._1, x._2))
        .sortBy(s => (-s.score, s.id)).take(4)
      buf.entries == expected
    }

  property("TopK merge ≡ reduce over concatenation") =
    forAll(
      Gen.listOf(Gen.zip(Gen.chooseNum(0L, 50L), Gen.chooseNum(0.0, 1.0))),
      Gen.listOf(Gen.zip(Gen.chooseNum(0L, 50L), Gen.chooseNum(0.0, 1.0)))) { (xs, ys) =>
      val agg = functions.TopK.topK(3)
      def fold(l: List[(Long, Double)]) =
        l.foldLeft(agg.zero)((b, x) => agg.reduce(b, functions.TopK.Scored(x._1, x._2)))
      agg.merge(fold(xs), fold(ys)).entries == fold(xs ++ ys).entries
    }

  private val tokenGen = Gen.listOf(Gen.alphaNumStr.suchThat(_.nonEmpty))

  property("simhash60 fits in 60 bits and equals the vote-by-vote reference") =
    forAll(tokenGen) { toks =>
      val row = toks.toDF("t").groupBy().agg(collect_list(col("t")).as("ts"))
        .selectExpr("simhash60(ts) AS h") // registered by TestSpark session
        .head
      if (toks.isEmpty) row.isNullAt(0) // round 15: empty array → null
      else {
        val got = row.getLong(0)
        // independent reference computation of the same semantics
        val votes = new Array[Int](60)
        toks.foreach { t =>
          val h = functions.SimHashImpl.tokenHash60(
            org.apache.spark.unsafe.types.UTF8String.fromString(t))
          (0 until 60).foreach(j => votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1))
        }
        val expect = (0 until 60).foldLeft(0L)((acc, j) =>
          if (votes(j) >= 0) acc | (1L << j) else acc)
        got == expect && (got >>> 60) == 0L
      }
    }

  property("md5_prefix48 equals the SQL conv(substr(md5)) chain it replaces") =
    forAll(Gen.alphaNumStr) { s =>
      val rows = Seq(s).toDF("t")
        .selectExpr("md5_prefix48(t) AS native",
          "CAST(conv(substr(md5(t), 1, 12), 16, 10) AS BIGINT) AS chain")
        .head
      rows.getLong(0) == rows.getLong(1) && (rows.getLong(0) >>> 48) == 0L
    }

  property("cosine_sim is symmetric and 1.0 on self (non-zero vectors)") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(-100, 100))
        .suchThat(_.exists(_ != 0))) { xsInt =>
      val xs = xsInt.map(_.toDouble)
      val df = Seq((xs, xs.reverse)).toDF("a", "b")
        .selectExpr("cosine_sim(a, b) AS ab", "cosine_sim(b, a) AS ba",
          "cosine_sim(a, a) AS aa")
      val r = df.head
      r.getDouble(0) == r.getDouble(1) && math.abs(r.getDouble(2) - 1.0) < 1e-9
    }

  property("distinct is idempotent") = {
    val d1 = etl.StarEtl.users(spark, TestSpark.sf)
    d1.distinct().count() == d1.count()
  }

  property("filter∘join ≡ join∘filter row counts") = {
    val o = Tables.orders(spark, TestSpark.sf)
    val c = Tables.customer(spark, TestSpark.sf)
    val a = o.join(c, o("o_custkey") === c("c_custkey"))
      .filter(col("o_totalprice") > 50000).count()
    val b = o.filter(col("o_totalprice") > 50000)
      .join(c, o("o_custkey") === c("c_custkey")).count()
    a == b
  }
}
