package graft.tools

import org.apache.spark.sql.functions._

/** One-screen bucket-size census for the three banded candidate
  * generators at the ladder-selected width (tools/census_gate.py's rung
  * census): per family, the bucket-size histogram, the kept-bucket pair
  * mass Σ C(n,2) for n ≤ MaxBucket, and the over-cap bucket count.
  * Diagnoses a pair-mass blowup analytically (what the expansion WILL
  * emit) without running the expansion. */
object DiagBuckets {
  /** Usage: `DiagBuckets <dir> [families-csv]` — families from
    * {rp, simhash, phash} (default all three; a rung-sized fixture need
    * only stage the table its family reads). */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: DiagBuckets <dir> [families-csv]")
    val d = args.head
    val families = args.lift(1).map(_.split(",").toSet).getOrElse(Set("rp", "simhash", "phash"))
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
      val rpBits = graft.sim.Similarity.rpBitsFor(nVec)
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
    if (families("simhash")) {
      val sh = graft.Tables.documents(s, d)
        .selectExpr("doc_id", "simhash60(array_distinct(split(trim(text), ' +'))) AS simhash")
      val bits = graft.dedup.Dedup.simBitsFor(nDoc)
      val bandKeys = (0 until 60 / bits).map(b =>
        concat_ws(":", lit(b),
          expr(s"shiftright(simhash, ${b * bits}) & ${(1L << bits) - 1}")))
      census(s"simhash(bits=$bits, n=$nDoc)", sh.select(explode(array(bandKeys: _*)).as("k")))
    }

    if (families("phash")) {
      // third ladder family: the 60-bit pHash rides the same SimShape width
      // over the same documents count, banded by mm_phash_dedup's own
      // posting frame (Multimodal.phashBands)
      val bits = graft.dedup.Dedup.simBitsFor(nDoc)
      census(s"phash(bits=$bits, n=$nDoc)",
        graft.mm.Multimodal.phashBands(s, d, bits).select(col("bk").as("k")))
    }
    s.stop()
  }
}
