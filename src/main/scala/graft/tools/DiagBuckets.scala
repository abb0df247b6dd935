package graft.tools

import org.apache.spark.sql.functions._

/** One-screen bucket-size census for the two banded candidate generators
  * the 100×-replica probe benches (round 16): per query, the bucket-size
  * histogram, the kept-bucket pair mass Σ C(n,2) for n ≤ MaxBucket, and
  * the over-cap bucket count. Diagnoses a pair-mass blowup analytically
  * (what the expansion WILL emit) without running the expansion. */
object DiagBuckets {
  /** Usage: `DiagBuckets <dir> [families-csv] [forcedBits]` — families from
    * {rp, simhash, phash} (default all three; a rung-sized fixture need
    * only stage the table its family reads), forcedBits overrides the
    * ladder-selected width so a rung's band geometry can be censused BELOW
    * its corpus threshold (e.g. "what would 2×30 keep at today's N" — the
    * threshold-tuning measurement, round 17). */
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/tmp/graft_sf1x100")
    val families = args.lift(1).map(_.split(",").toSet).getOrElse(Set("rp", "simhash", "phash"))
    val forcedBits = args.lift(2).map(_.toInt)
    val s = graft.Sessions.local(graft.Sessions.defaultCpus)

    def census(label: String, buckets: org.apache.spark.sql.DataFrame): Unit = {
      // buckets: one row per posting with bucket-key column "k"
      val sizes = buckets.groupBy(col("k")).agg(count(lit(1)).as("n"))
      val row = sizes.agg(
        count(lit(1)).as("n_buckets"),
        max(col("n")).as("max_n"),
        sum(when(col("n") > graft.dedup.Dedup.MaxBucket, 1L).otherwise(0L)).as("over_cap"),
        sum(when(col("n") <= graft.dedup.Dedup.MaxBucket, expr("n * (n - 1) div 2"))
          .otherwise(0L)).as("kept_pair_mass"),
        sum(when(col("n") > 100, 1L).otherwise(0L)).as("gt100"),
        sum(when(col("n") > 500, 1L).otherwise(0L)).as("gt500")).collect()(0)
      println(s"[diag] $label buckets=${row.getLong(0)} max=${row.getLong(1)} " +
        s"over_cap=${row.getLong(2)} kept_pair_mass=${row.getLong(3)} " +
        s"gt100=${row.getLong(4)} gt500=${row.getLong(5)} " +
        s"cap=${graft.dedup.Dedup.MaxBucket}")
    }

    if (families("rp")) {
      val e = graft.Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val nVec = e.count()
      val rpBits = forcedBits.getOrElse(graft.sim.Similarity.rpBitsFor(nVec))
      // forcedBits comes from the SimShape ladder's vocabulary in the doc
      // example; only widths that regroup the 16 8-bit codes exactly are
      // valid here — anything else would either crash after paying the
      // count, or (bits=12 -> g=1) silently census the 8-bit geometry under
      // a wrong label.
      require(rpBits % graft.sim.Similarity.RpBandBits == 0 &&
          graft.sim.Similarity.RpBands % (rpBits / graft.sim.Similarity.RpBandBits) == 0,
        s"rp census: bits=$rpBits does not regroup 16x8 codes exactly " +
          "(valid: 8, 16, 32, 64, 128); scope forcedBits to simhash,phash instead")
      // the SHARED regroup (Similarity.rpBandedCodes) — an inline copy here
      // would let the census drift from the banding sim_rp_pairs actually
      // uses, the exact blind spot this tool exists to remove
      val codes = e.selectExpr("vec_id",
        "rp_band_codes(transform(v, x -> CAST(round(x * 1000000) AS BIGINT))) AS codes")
      census(s"rp(bits=$rpBits, n=$nVec)", codes
        .select(posexplode(graft.sim.Similarity.rpBandedCodes(rpBits)).as(Seq("bi", "bv")))
        .select(concat_ws(":", col("bi"), col("bv")).as("k")))
    }

    lazy val nDoc = graft.Tables.documents(s, d).count()
    // a forced width that doesn't tile the 60-bit code would census a
    // truncated band set under a wrong label
    forcedBits.foreach(b => require(60 % b == 0 || !families("simhash") && !families("phash"),
      s"simhash/phash census: bits=$b must tile 60"))
    if (families("simhash")) {
      val sh = graft.Tables.documents(s, d)
        .selectExpr("doc_id", "simhash60(array_distinct(split(trim(text), ' +'))) AS simhash")
      val bits = forcedBits.getOrElse(graft.dedup.Dedup.simBitsFor(nDoc))
      val bandKeys = (0 until 60 / bits).map(b =>
        concat_ws(":", lit(b),
          expr(s"shiftright(simhash, ${b * bits}) & ${(1L << bits) - 1}")))
      census(s"simhash(bits=$bits, n=$nDoc)", sh.select(explode(array(bandKeys: _*)).as("k")))
    }

    if (families("phash")) {
      // third ladder family (round 16): the 60-bit pHash rides the same
      // SimShape width over the same documents count
      val bits = forcedBits.getOrElse(graft.dedup.Dedup.simBitsFor(nDoc))
      val ph = graft.mm.Multimodal.decodeLumaPartitions(
          graft.Tables.documents(s, d)
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
          "payload")
        .withColumn("mean_b", expr("aggregate(luma, 0, (a, x) -> a + x) div 60"))
        .withColumn("phash", expr(
          "aggregate(zip_with(luma, sequence(0, 59), (b, i) -> " +
            "IF(b > mean_b, shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)), " +
            "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, x) -> a + x)"))
      val phKeys = (0 until 60 / bits).map(b =>
        concat_ws(":", lit(b),
          expr(s"shiftright(phash, ${b * bits}) & ${(1L << bits) - 1}")))
      census(s"phash(bits=$bits, n=$nDoc)", ph.select(explode(array(phKeys: _*)).as("k")))
    }
    s.stop()
  }
}
