package graft.tools

import org.apache.spark.sql.functions._

/** pHash kept-vs-verified measurement (VERDICT r17 #2): of the three ladder
  * families, pHash is the one whose censused kept mass (947M band-level
  * pairs at the 2.56M-doc rung fixture, SCALING.md top-rung table) had no
  * output-vs-waste number — simhash's 100x measurement showed 82% of kept
  * candidates VERIFY, so its mass is output; pHash's stub-decode entropy
  * (28,642 distinct band buckets) made the same question worth measuring.
  *
  * Runs [[graft.mm.Multimodal.phashCandidates]] — the DISTINCT banded
  * candidate frame with Hamming distances, exactly what `mm_phash_dedup`
  * filters — and counts candidates and Hamming<=8 survivors in ONE
  * aggregation (no artifact write, no second expansion). Also reports the
  * distinct band-bucket count vs corpus size, the entropy ratio the
  * production guard ([[graft.mm.Multimodal.phashEntropyWarning]]) keys on.
  *
  * Usage: runMain graft.tools.PhashVerifyProbe [dir] [forcedBits]
  */
object PhashVerifyProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/tmp/graft_docs512")
    val s = graft.Sessions.local(graft.Sessions.defaultCpus)
    val nDocs = graft.Tables.documents(s, d).count()
    val bits = args.lift(1).map(_.toInt)
      .getOrElse(graft.dedup.Dedup.simBitsFor(nDocs))
    val t0 = System.nanoTime()
    val row = graft.mm.Multimodal.phashCandidates(s, d, bits)
      .agg(
        count(lit(1)).as("candidates"),
        coalesce(sum(when(col("hamming") <= 8, 1L).otherwise(0L)), lit(0L))
          .as("verified"))
      .collect()(0)
    val wall = (System.nanoTime() - t0) / 1e9
    val cand = row.getLong(0)
    val verified = row.getLong(1)
    // floor_div is printed from the production constant so tools/scaling.py
    // interpolates the guard's ACTUAL divisor — a retune of the Scala value
    // can't silently desynchronize the committed SCALING.md narrative.
    println(f"[phashverify] dir=$d n_docs=$nDocs bits=$bits " +
      f"candidates=$cand verified=$verified " +
      f"ratio=${if (cand > 0) verified.toDouble / cand else 0.0}%.4f wall=$wall%.1fs " +
      f"floor_div=${graft.mm.Multimodal.PhashEntropyFloorDiv}")
    s.stop()
  }
}
