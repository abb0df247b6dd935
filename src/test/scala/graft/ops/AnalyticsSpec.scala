package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class AnalyticsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("an_temperature_sample: sqrt flattening up-weights scarce sources, exact integer shares") {
    val s = spark; import s.implicits._
    // The fixture's sources are uniform (zero flattening signal), so plant
    // a skewed corpus: 400/100/25 docs -> sqrt weights 20/10/5, every share
    // and boost an exact integer the assertions can state literally.
    val dir = TestSpark.tempDir("temp_sample_docs").toString
    val docs = (0 until 400).map(i => (i.toLong, "a b c", "en", "srcA", 5L)) ++
      (0 until 100).map(i => (400L + i, "a b c", "en", "srcB", 5L)) ++
      (0 until 25).map(i => (500L + i, "a b c", "en", "srcC", 5L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Analytics.defs.find(_.name == "an_temperature_sample").get
      .fn(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // weights: sqrt(400)=20, sqrt(100)=10, sqrt(25)=5 (micro-units); tot_w=35e6,
    // tot_docs=525 -> shares 4/7, 2/7, 1/7 of 1e6; props 400/525, 100/525, 25/525
    assert(got("srcA") == (400L, 20000000L, 571428L, 761904L, 750L))
    assert(got("srcB") == (100L, 10000000L, 285714L, 190476L, 1500L))
    assert(got("srcC") == (25L, 5000000L, 142857L, 47619L, 3000L))
    // the flattening law: boost strictly decreasing in source size,
    // crossing 1000 (proportional) between the large and small sources
    assert(got("srcA")._5 < 1000L && got("srcC")._5 > 1000L)
  }

  test("approxDistinctSketch: HLL estimate within 5% of exact per group at sf0.1") {
    // The pure sketch plan has no DuckDB oracle (the estimate is
    // engine-specific) — the registered query is an_approx_distinct_bound,
    // which pairs the sketch with the exact count. THIS test is the tighter
    // correctness signal for the sketch path alone: Spark's HLL++ default
    // rsd is 5%; assert the relative error per group at the largest local
    // fixture. A broken approx_count_distinct integration (wrong column,
    // wrong grouping, degenerate sketch) lands far outside this.
    val sf = "/root/testdata/sf0.1"
    val approx = Analytics.approxDistinctSketch(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      val err = math.abs(approx(k).toDouble - n) / n
      assert(err <= 0.05, s"group $k: approx=${approx(k)} exact=$n relErr=$err")
    }
  }

  test("approxPercentileSketch: sketch within 1% of the exact percentile per group at sf0.1") {
    val sf = "/root/testdata/sf0.1"
    val approx = Analytics.approxPercentileSketch(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = graft.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, array(0.5D, 0.95D))").as("p"))
      .selectExpr("l_returnflag", "p[0] AS p50", "p[1] AS p95")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, (p50, p95)) =>
      val (a50, a95) = approx(k)
      assert(math.abs(a50 - p50) / p50 <= 0.01, s"$k p50: approx=$a50 exact=$p50")
      assert(math.abs(a95 - p95) / p95 <= 0.01, s"$k p95: approx=$a95 exact=$p95")
    }
  }

  test("an_balanced_sample: exactly 30 per stratum, deterministic, coarse-filter-consistent") {
    val sf = TestSpark.sf
    val q = Analytics.defs.find(_.name == "an_balanced_sample").get
    val rows = q.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val perLang = rows.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perLang.nonEmpty && perLang.values.forall(_ == 30),
      s"every stratum must yield exactly its target count: $perLang")
    // determinism: a second run picks the identical rows (no RNG anywhere)
    val again = q.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(rows.toSeq == again.toSeq)
  }

  test("an_attribution: every purchase attributed, sessions restate an_sessionize") {
    val sf = TestSpark.sf
    val df = Analytics.defs.find(_.name == "an_attribution").get.fn(spark, sf)
    // plan half of the claim (one user_id hash exchange feeds all three
    // windows) is pinned in graft.PlanShapeSpec with the other tripwires
    val rows = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
    val nPurch = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(rows.length.toLong == nPurch, "every purchase event must report")
    assert(rows.forall(_._5 >= 0), "time-to-convert is non-negative")
    // a purchase with lag 0 opened its session: first touch IS the purchase
    rows.filter(_._5 == 0L).foreach { r =>
      assert(r._4 == "purchase", s"zero-lag purchase must self-attribute: $r")
    }
    assert(rows.exists(_._4 != "purchase"), "fixture must exercise cross-type attribution")
    // attributed (user, session) pairs are a subset of an_sessionize's sessions
    val sess = Analytics.defs.find(_.name == "an_sessionize").get.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(r => (r._2, r._3)).toSet.subsetOf(sess),
      "attribution sessions must restate the sessionize numbering")
  }

  test("an_skew_report: top-5 via distributed TakeOrdered, shares consistent") {
    val sf = TestSpark.sf
    val q = Analytics.defs.find(_.name == "an_skew_report").get
    val df = q.fn(spark, sf)
    // the top-k must be a TakeOrdered, not a global single-partition window
    // ranking every key
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected TakeOrdered in:\n$plan")
    val rows = df.collect()
    assert(rows.length == 5)
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4, 5))
    // descending by weight, and each share is n_rows/n_total in permille
    val weights = rows.map(_.getLong(2))
    assert(weights.sameElements(weights.sortBy(-_)))
    rows.foreach(r => assert(r.getLong(3) == 1000 * r.getLong(2) / r.getLong(5)))
  }

  test("an_balanced_sample: one giant stratum — global window input stays O(k·partitions)") {
    import spark.implicits._
    // 50k-row single-language stratum spread over 8 partitions: the naive
    // per-stratum window would sort all 50k rows in ONE task. Phase 1 must
    // cap its output at k rows per (lang, partition) — the bound the global
    // window then ranks — while still containing the true global top-k.
    val giant = spark.range(0, 50000).toDF("doc_id")
      .withColumn("lang", lit("xx")).repartition(8)
    val p1 = Analytics.balancedSamplePhase1(giant.select($"lang", $"doc_id"), 30)
    val survivors = p1.count()
    assert(survivors <= 30L * 8, s"phase 1 must emit <= k rows per partition: $survivors")
    // superset-safety: phase 1 survivors contain the exact global top-30,
    // so the two-phase pick equals the naive single-window pick.
    val naive = giant
      .withColumn("hkey", md5(col("doc_id").cast("string")))
      .orderBy($"hkey".asc, $"doc_id".asc).limit(30)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val picked = p1.orderBy($"hkey".asc, $"doc_id".asc).limit(30)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(picked == naive)
    // a stratum smaller than k yields ALL its rows (the contract the old
    // coarse-bucket prefilter silently broke on small strata)
    val tiny = Seq.tabulate(7)(i => ("yy", i.toLong)).toDF("lang", "doc_id")
    assert(Analytics.balancedSamplePhase1(tiny, 30).count() == 7)
  }

  test("an_sessionize: crafted gaps split sessions at exactly >30 minutes") {
    import spark.implicits._
    // user 1: events at 0 ms, 60 s (same session), then 2000 s — the gap
    // (1940 s) exceeds the 1800 s threshold, so a second session starts.
    // user 2: a lone event. ts is epoch-NANOS in the fixture schema.
    def ns(ms: Long) = ms * 1000000L
    val dir = TestSpark.tempDir("sess_events").toString
    Seq(
      (1L, ns(0L), 1L, "view", 0.0),
      (2L, ns(60000L), 1L, "view", 0.0),
      (3L, ns(2000000L), 1L, "click", 0.0),
      (4L, ns(500L), 2L, "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Analytics.defs.find(_.name == "an_sessionize").get.fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      (1L, 1L, 2L, 0L, 60000L, 60000L),
      (1L, 2L, 1L, 2000000L, 2000000L, 0L),
      (2L, 1L, 1L, 500L, 500L, 0L)))
  }

  test("an_sessionize: sessions partition the event stream; inter-session gaps > 30 min") {
    val sf = "/root/testdata/sf0.001"
    val sess = Analytics.defs.find(_.name == "an_sessionize").get.fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val total = graft.Tables.events(spark, sf).count()
    assert(sess.map(_._3).sum == total, "every event lands in exactly one session")
    sess.groupBy(_._1).foreach { case (_, ss) =>
      val ordered = ss.sortBy(_._2)
      assert(ordered.map(_._2).toSeq == (1L to ordered.length).toSeq,
        "session_seq is dense from 1")
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._4 - a._5 > 1800000L,
            s"consecutive sessions must be > 30 min apart: $a $b")
        case _ =>
      }
    }
  }

  test("an_shard_drift: hand-computed total-variation on a two-day fixture") {
    import spark.implicits._
    // day 0: 3xA 1xB; day 1: 1xA 3xB. Global mix: 50/50. Per-day TV =
    // |750000-500000| + |250000-500000| = 500000 micro. ts in epoch-nanos.
    def ns(day: Long, i: Long) = (day * 86400000L + i) * 1000000L
    val dir = TestSpark.tempDir("drift_events").toString
    val rows = Seq.tabulate(3)(i => (i.toLong, ns(0, i), 1L, "A", 0.0)) ++
      Seq((3L, ns(0, 9), 1L, "B", 0.0), (4L, ns(1, 0), 1L, "A", 0.0)) ++
      Seq.tabulate(3)(i => (5L + i, ns(1, i + 1), 1L, "B", 0.0))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Analytics.defs.find(_.name == "an_shard_drift").get.fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 4L, 500000L), (1L, 4L, 500000L)))
  }

  test("an_data_card: numbers agree with the standalone operators they summarize") {
    val sf = "/root/testdata/sf0.001"
    val card = Analytics.defs.find(_.name == "an_data_card").get.fn(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(6))).toMap
    val profile = graft.text.TextStats.defs.find(_.name == "tx_lang_profile").get
      .fn(spark, sf).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(card.keySet == profile.keySet, "same language partition as tx_lang_profile")
    card.foreach { case (lang, (nDocs, nToks, nDup, nPass, share)) =>
      assert(nDocs == profile(lang), s"$lang: doc count disagrees with tx_lang_profile")
      assert(nDup <= nDocs && nPass <= nDocs && nToks >= nDocs)
      assert(share == 1000L * nDocs / card.values.map(_._1).sum)
    }
    // total duplicate mass agrees with dd_exact's fingerprint groups
    val dupFromExact = graft.dedup.Dedup.defs.find(_.name == "dd_exact").get
      .fn(spark, sf).collect().map(r => r.getLong(1)).filter(_ >= 2L).sum
    assert(card.values.map(_._3).sum == dupFromExact,
      "per-language dup counts must sum to dd_exact's duplicate-group mass")
  }

  test("an_volume_anomaly: a planted 10x day is flagged; uniform days are not") {
    import spark.implicits._
    // days 0..9 carry 10 events each, day 10 carries 100: mean 18.2,
    // sigma 25.9 -> only day 10 exceeds the 2-sigma gate.
    def ns(day: Long, i: Long) = (day * 86400000L + i) * 1000000L
    val dir = TestSpark.tempDir("anom_events").toString
    val rows = (for (day <- 0L until 10L; i <- 0L until 10L)
      yield (day * 100 + i, ns(day, i), 1L, "A", 0.0)) ++
      (0L until 100L).map(i => (1000L + i, ns(10, i), 1L, "A", 0.0))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Analytics.defs.find(_.name == "an_volume_anomaly").get.fn(spark, dir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), BigInt(r.getString(2)), BigInt(r.getString(3)),
          r.getBoolean(4)))
    assert(got.length == 11)
    got.foreach { case (day, n, dev2, thresh2, flag) =>
      assert(flag == (day == 10L), s"day $day (n=$n): wrong verdict")
      // the exact-decimal diagnostic columns restate the division-free
      // inequality (the round-10 128-bit lane: dev2/thresh2 are arbitrary-
      // precision strings, so the check itself can't wrap)
      assert(flag == (dev2 > thresh2), s"day $day: verdict != dev2>thresh2")
    }
    // 128-bit regime: the old BIGINT formulation wrapped once |n*x-s| passed
    // ~3e9; replay the engine's inequality in BigInt on daily counts of 1e8
    // events/day and require the same verdicts the DECIMAL(38,0) lane gives.
    val counts = (0 until 30).map(i => BigInt(100000000L + i)) :+ BigInt(300000000L)
    val (bn, bs, bsq) = (BigInt(counts.length), counts.sum, counts.map(c => c * c).sum)
    val flags = counts.map(x => (bn * x - bs).pow(2) > 4 * (bn * bsq - bs * bs))
    assert(flags.count(identity) == 1 && flags.last,
      "BigInt replay: only the planted 3x day is anomalous at 1e8/day scale")
  }

  test("an_corpus_diff: status totals restate the v2 derivation rule exactly") {
    val sf = TestSpark.sf
    val got = Analytics.defs.find(_.name == "an_corpus_diff").get.fn(spark, sf)
      .collect()
      .groupBy(_.getString(1)).map { case (k, rs) => k -> rs.map(_.getLong(2)).sum }
    def n(pred: String) =
      graft.Tables.documents(spark, sf).filter(expr(pred)).count()
    val deleted = n("doc_id % 13 = 0")
    val reIdd = n("doc_id % 11 = 0 AND doc_id % 13 <> 0")
    val edited = n("doc_id % 7 = 0 AND doc_id % 11 <> 0 AND doc_id % 13 <> 0")
    val total = n("true")
    assert(got("added") == reIdd, "added = re-id'd survivors")
    assert(got("removed") == deleted + reIdd,
      "removed = deletions + originals of re-id'd docs")
    assert(got("changed") == edited, "changed = edited survivors keeping their id")
    assert(got("unchanged") == total - deleted - reIdd - edited)
  }

  test("an_kanon_audit: cell census conserves events; verdict is exactly the k=5 rule") {
    val sf = graft.TestSpark.sf
    val a = Analytics.defs.find(_.name == "an_kanon_audit").get.fn(spark, sf)
    val events = graft.Tables.events(spark, sf).count()
    assert(a.agg(sum(col("n_events"))).head.getLong(0) == events,
      "every event lands in exactly one quasi-identifier cell")
    assert(a.filter(col("n_users") > col("n_events")).count() == 0)
    assert(a.filter(expr("(n_users >= 5) <> (verdict = 'ok')")).count() == 0,
      "verdict must be exactly the k>=5 rule")
    assert(a.filter(col("hour_of_day") < 0 || col("hour_of_day") > 23).count() == 0)
    // the audit is actionable only if the fixture exercises both branches
    val verdicts = a.select("verdict").distinct().collect().map(_.getString(0)).toSet
    assert(verdicts == Set("ok", "suppress"),
      s"fixture must exercise both verdict branches, got $verdicts")
  }

  test("an_audience_overlap: intersections bounded by audiences; full grid on the fixture") {
    val sf = graft.TestSpark.sf
    val o = Analytics.defs.find(_.name == "an_audience_overlap").get.fn(spark, sf)
    val rows = o.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.forall { case (a, b, _, _) => a < b }, "pairs are unordered: type_a < type_b")
    // every intersection is bounded by each side's audience
    val aud = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type")).distinct()
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { case (a, b, both, jac) =>
      assert(both <= math.min(aud(a), aud(b)), s"($a,$b): intersection exceeds an audience")
      assert(jac >= 0 && jac <= 1000, s"($a,$b): jaccard_permille out of range: $jac")
      assert(jac == 1000L * both / (aud(a) + aud(b) - both), s"($a,$b): jaccard restates counts")
    }
    // 5 types on the fixture, all co-engaged: the full C(5,2) grid
    assert(rows.length == aud.size * (aud.size - 1) / 2)
  }

  test("an_watermark_lag: newest type lags zero; verdict restates the 4h budget") {
    val sf = graft.TestSpark.sf
    val w = Analytics.defs.find(_.name == "an_watermark_lag").get.fn(spark, sf)
    val rows = w.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.count(_._3 == 0L) >= 1, "the globally-newest type must show zero lag")
    assert(rows.forall { case (_, _, lag, v) => (lag < 14400000L) == (v == "fresh") })
    assert(rows.map(_._4).toSet == Set("fresh", "stale"),
      "sf0.001 fixture must exercise both freshness branches")
    val globalMax = rows.map(_._2).max
    assert(rows.forall { case (_, mx, lag, _) => lag == globalMax - mx })
  }

  test("an_backfill_plan: planted day holes are counted; the complete fixture plans nothing") {
    import spark.implicits._
    def ns(day: Long, i: Long) = (day * 86400000L + i) * 1000000L
    val dir = TestSpark.tempDir("backfill_events").toString
    // type A covers days 0..9; type B skips days 3 and 7
    val rows = (for (day <- 0L until 10L) yield (day, ns(day, 0), 1L, "A", 0.0)) ++
      (for (day <- 0L until 10L if day != 3 && day != 7)
        yield (100 + day, ns(day, 1), 1L, "B", 0.0))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Analytics.defs.find(_.name == "an_backfill_plan").get.fn(spark, dir)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toList
    assert(got == List(("A", 10L, 10L, 0L, "complete"), ("B", 8L, 10L, 2L, "backfill")))
    // fixture calendar is complete for every type
    val fix = Analytics.defs.find(_.name == "an_backfill_plan").get
      .fn(spark, graft.TestSpark.sf).collect()
    assert(fix.nonEmpty && fix.forall(_.getString(4) == "complete"))
  }

  test("an_fixed_sample: exactly the k smallest md5 draws per source, via the bounded aggregator") {
    val sf = graft.TestSpark.sf
    val got = Analytics.defs.find(_.name == "an_fixed_sample").get.fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    // independent JVM replay: k smallest 48-bit md5 draws per source
    val md = java.security.MessageDigest.getInstance("MD5")
    def h48(id: Long) = java.lang.Long.parseLong(
      md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 12), 16)
    val docs = graft.Tables.documents(spark, sf).select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expected = docs.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      ds.toSeq.map(d => (d._2, h48(d._2))).sortBy(p => (p._2, p._1)).take(10)
        .zipWithIndex.map { case ((id, h), i) => (src, id, h, i + 1) }
    }.toSet
    assert(got.toSet == expected, "engine sample must equal the JVM replay")
    // every source contributes min(10, |stratum|) rows
    val per = got.groupBy(_._1).view.mapValues(_.length).toMap
    val sizes = docs.groupBy(_._1).view.mapValues(_.length).toMap
    assert(per.keySet == sizes.keySet)
    per.foreach { case (src, n) => assert(n == math.min(10, sizes(src))) }
    // sub-k stratum: a 3-doc source must deliver ALL 3 rows with dense
    // ranks (every fixture stratum has >= 10 docs, so plant one)
    import spark.implicits._
    val dir = TestSpark.tempDir("fixed_sample_docs").toString
    ((0 until 3).map(i => (i.toLong, "a b", "en", "tiny", 3L)) ++
      (0 until 40).map(i => (100L + i, "a b", "en", "big", 3L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = Analytics.defs.find(_.name == "an_fixed_sample").get.fn(spark, dir)
      .collect().map(r => (r.getString(0), r.getInt(3)))
    val byStr = planted.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(byStr("tiny") == Seq(1, 2, 3), s"sub-k stratum delivers all rows: $byStr")
    assert(byStr("big") == (1 to 10), s"full stratum caps at k: $byStr")
  }

  test("an_experiment_srm: healthy md5 split passes; a planted corrupt pipe trips the gate") {
    import spark.implicits._
    val sf = graft.TestSpark.sf
    val healthy = Analytics.defs.find(_.name == "an_experiment_srm").get.fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
    assert(healthy.nonEmpty)
    healthy.foreach { case (t, na, nb, dev, bound, v) =>
      assert(dev == math.abs(na - nb) && bound == 3 * math.sqrt((na + nb).toDouble).toLong)
      assert(v == (if (dev > bound) "srm" else "ok"), s"$t: verdict must restate the bound")
    }
    assert(healthy.forall(_._6 == "ok"),
      "a uniform md5 split over the fixture audience must not trip the gate")
    // corrupt pipe: drop most arm-B users of one type (the classic logging
    // bug where one variant's events are lost) -> dev far beyond 3*sqrt(n)
    val md = java.security.MessageDigest.getInstance("MD5")
    def arm(u: Long) = if (java.lang.Long.parseLong(
      md.digest(u.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 15), 16) % 100 < 50) "A" else "B"
    val aUsers = (1L to 4000L).filter(arm(_) == "A").take(60)
    val bUsers = (1L to 4000L).filter(arm(_) == "B").take(3)
    val dir = TestSpark.tempDir("srm_events").toString
    (aUsers ++ bUsers).zipWithIndex
      .map { case (u, i) => (i.toLong, (i.toLong + 1) * 1000000000L, u, "click", 0.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val tripped = Analytics.defs.find(_.name == "an_experiment_srm").get.fn(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(5)))
    assert(tripped.toSeq == Seq(("click", "srm")), s"60/3 split must trip: ${tripped.toSeq}")
  }
}
