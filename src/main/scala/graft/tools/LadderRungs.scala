package graft.tools
/** Prints the adaptive-ladder rungs a fixture fires — derived from the SAME
  * Scala selectors the queries use (graft.dedup.Dedup.simBitsFor /
  * graft.sim.Similarity.rpBitsFor) plus the shared bucket cap, so
  * tools/ladder_gate.py can record the fired rung in its per-round artifact
  * without keeping a hand-mirrored Python copy of the thresholds (a third
  * statement of the ladder would drift exactly the way the
  * stated-once-and-generated discipline exists to prevent). */
object LadderRungs {
  def main(args: Array[String]): Unit = {
    val d = args.head
    val s = graft.Sessions.local(graft.Sessions.defaultCpus)
    val nDocs = graft.Tables.documents(s, d).count()
    val nVecs = graft.Tables.embeddings(s, d).count()
    println(s"[rungs] n_docs=$nDocs sim_bits=${graft.dedup.Dedup.simBitsFor(nDocs)} " +
      s"n_vecs=$nVecs rp_bits=${graft.sim.Similarity.rpBitsFor(nVecs)} " +
      s"max_bucket=${graft.dedup.Dedup.MaxBucket}")
    s.stop()
  }
}
