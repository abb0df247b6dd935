package graft

import org.scalatest.funsuite.AnyFunSuite

/** The round-10 stale-index guarantee: every persisted artifact and memoized
  * model is keyed by dataset CONTENT, so rewriting a dataset dir in place
  * provably forces a rebuild — a path-keyed cache (rounds 5–9) would serve
  * the old artifact silently. */
class ArtifactsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def writeDocs(dir: String, docs: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    docs.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("indexParquetPath builds once per content and publishes atomically") {
    val dir = TestSpark.tempDir("graft_art1").toString
    writeDocs(dir, Seq((1L, "a b c"), (2L, "d e f")))
    var builds = 0
    def build = { builds += 1; Tables.documents(spark, dir).select("doc_id") }
    val p1 = Artifacts.indexParquetPath(spark, "spec_idx", dir, "documents")(build)
    val p2 = Artifacts.indexParquetPath(spark, "spec_idx", dir, "documents")(build)
    assert(p1 == p2)
    assert(builds == 1)
    // published via atomic rename, so _SUCCESS must be present at the final path
    assert(new java.io.File(p1, "_SUCCESS").exists())
    assert(spark.read.parquet(p1).count() == 2)
  }

  test("an in-place dataset rewrite forces a rebuild — stale reads impossible") {
    val dir = TestSpark.tempDir("graft_art2").toString
    writeDocs(dir, Seq((1L, "a b c"), (2L, "d e f")))
    var builds = 0
    def build = { builds += 1; Tables.documents(spark, dir).select("doc_id") }
    val p1 = Artifacts.indexParquetPath(spark, "spec_idx2", dir, "documents")(build)
    assert(spark.read.parquet(p1).count() == 2)
    writeDocs(dir, Seq((1L, "a b c"), (2L, "d e f"), (3L, "g h i")))
    val p2 = Artifacts.indexParquetPath(spark, "spec_idx2", dir, "documents")(build)
    assert(p1 != p2, "content signature must change when the dataset does")
    assert(builds == 2)
    assert(spark.read.parquet(p2).count() == 3)
  }

  test("memo keys (k-means / PQ / corpus-size discipline) track content") {
    val dir = TestSpark.tempDir("graft_art3").toString
    writeDocs(dir, Seq((1L, "a b c")))
    val k1 = Artifacts.contentKey(dir, "documents")
    assert(Artifacts.contentKey(dir, "documents") == k1) // stable while unchanged
    writeDocs(dir, Seq((1L, "a b c"), (2L, "d e f")))
    assert(Artifacts.contentKey(dir, "documents") != k1)
  }

  test("gc sweeps only store-shaped dirs past the horizon; a swept artifact rebuilds") {
    // Destructive test: run against a PRIVATE store root, passed EXPLICITLY.
    // gc(-1) on the shared tmpdir would delete artifacts a concurrently-
    // running Verify/Profile JVM is reading (observed round 11: 15 sf0.01
    // queries failed PATH_NOT_FOUND while this suite ran in parallel), and
    // the earlier sys-prop mutation of graft.artifact.dir was itself a
    // hazard: under parallel suite execution a concurrent suite's publish
    // during the window landed in this private root and was torn down with
    // it. Explicit root parameters keep the blast radius to this test.
    val isoRoot = TestSpark.tempDir("graft_art5_store").toString
    val dir = TestSpark.tempDir("graft_art5").toString
    writeDocs(dir, Seq((1L, "a b c"), (2L, "d e f")))
    var builds = 0
    def build = { builds += 1; Tables.documents(spark, dir).select("doc_id") }
    val p1 = Artifacts.indexParquetPath(spark, "spec_gc", dir, "documents", isoRoot)(build)
    assert(p1.startsWith(isoRoot), "spec artifact must land in the private root")
    assert(builds == 1 && new java.io.File(p1, "_SUCCESS").exists())
    // a NON-store graft dir at the store root must never be swept
    val decoy = new java.io.File(isoRoot, "graft_sf_decoy")
    decoy.mkdirs()
    try {
      assert(Artifacts.gc(Long.MaxValue / 2, isoRoot) == 0,
        "nothing is older than the far horizon")
      val swept = Artifacts.gc(-1, isoRoot) // everything store-shaped is "old"
      assert(swept >= 1, "the published artifact must be swept at horizon 0")
      assert(!new java.io.File(p1).exists())
      assert(decoy.exists(), "gc must not touch non-store dirs")
      // next touch re-publishes under the same content key
      val p2 = Artifacts.indexParquetPath(spark, "spec_gc", dir, "documents", isoRoot)(build)
      assert(p2 == p1 && builds == 2)
      assert(new java.io.File(p2, "_SUCCESS").exists())
      assert(spark.read.parquet(p2).count() == 2)
    } finally { decoy.delete(): Unit }
  }

  test("an artifact swept out-of-band (another JVM's janitor) self-heals on next handout") {
    val isoRoot = TestSpark.tempDir("graft_art6_store").toString
    val dir = TestSpark.tempDir("graft_art6").toString
    writeDocs(dir, Seq((1L, "a b c"), (2L, "d e f")))
    var builds = 0
    def build = { builds += 1; Tables.documents(spark, dir).select("doc_id") }
    val p1 = Artifacts.indexParquetPath(spark, "spec_heal", dir, "documents", isoRoot)(build)
    assert(builds == 1)
    // simulate a FOREIGN process deleting the published dir: the in-JVM
    // fast-path map still holds the path, so without the _SUCCESS re-check
    // the next consumer would read a vanished directory
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete(): Unit
    }
    deleteRec(new java.io.File(p1))
    assert(!new java.io.File(p1).exists())
    val p2 = Artifacts.indexParquetPath(spark, "spec_heal", dir, "documents", isoRoot)(build)
    assert(p2 == p1 && builds == 2, "handout must republish, not serve the dead path")
    assert(spark.read.parquet(p2).count() == 2)
  }

  test("a handout refreshes _SUCCESS mtime, so hot artifacts outlive the janitor horizon") {
    val isoRoot = TestSpark.tempDir("graft_art8_store").toString
    val dir = TestSpark.tempDir("graft_art8").toString
    writeDocs(dir, Seq((1L, "a b c")))
    def build = Tables.documents(spark, dir).select("doc_id")
    val p = Artifacts.indexParquetPath(spark, "spec_touch", dir, "documents", isoRoot)(build)
    val success = new java.io.File(p, "_SUCCESS")
    // age the artifact far past a 60s horizon, then probe it once
    assert(success.setLastModified(System.currentTimeMillis() - 3600 * 1000L))
    val p2 = Artifacts.indexParquetPath(spark, "spec_touch", dir, "documents", isoRoot)(build)
    assert(p2 == p)
    assert(success.lastModified() > System.currentTimeMillis() - 60 * 1000L,
      "handout must refresh the _SUCCESS mtime")
    // the just-probed artifact survives a janitor pass at a 60s horizon
    assert(Artifacts.gc(60 * 1000L, isoRoot) == 0,
      "a hot artifact must not be swept")
    assert(success.exists())
  }

  test("gc ages writer temps by their NEWEST inner file, sparing a live build") {
    val isoRoot = TestSpark.tempDir("graft_art9_store").toString
    val old = System.currentTimeMillis() - 3600 * 1000L
    // live build: dir mtime is old (dirs keep their creation mtime while
    // Spark stages output under _temporary) but an inner file is FRESH
    val live = new java.io.File(isoRoot, "graft_live_0123456789ab_w01234567")
    val liveInner = new java.io.File(live, "_temporary/part-0")
    liveInner.getParentFile.mkdirs()
    java.nio.file.Files.write(liveInner.toPath, "x".getBytes)
    // Age BOTH directory levels: only the inner part FILE stays fresh, so
    // this pins the newest-inner-FILE rule itself — a newestMtime that
    // stopped recursing into files would see only old dir mtimes here and
    // wrongly sweep the live build.
    assert(live.setLastModified(old))
    assert(liveInner.getParentFile.setLastModified(old))
    // crashed leftover: everything inside idle for a full horizon
    val dead = new java.io.File(isoRoot, "graft_dead_0123456789ab_w89abcdef")
    val deadInner = new java.io.File(dead, "part-0")
    deadInner.getParentFile.mkdirs()
    java.nio.file.Files.write(deadInner.toPath, "x".getBytes)
    Seq(deadInner, dead).foreach(f => assert(f.setLastModified(old)))
    assert(Artifacts.gc(60 * 1000L, isoRoot) == 1,
      "exactly the idle leftover is swept")
    assert(live.exists(), "a temp with fresh output is a LIVE writer, not garbage")
    assert(!dead.exists())
  }

  test("tableSig walks nested layouts: a leaf rewrite under a partition dir changes the key") {
    val dir = TestSpark.tempDir("graft_art10").toString
    val leaf = new java.io.File(s"$dir/t.parquet/part=1/f1.parquet")
    leaf.getParentFile.mkdirs()
    java.nio.file.Files.write(leaf.toPath, "aaaa".getBytes)
    val sig1 = Artifacts.tableSig(dir, "t")
    // rewrite the leaf two levels down: same name, different size — the
    // top-level entry (the partition DIR) keeps its (name, size) and on
    // Linux its mtime, so a non-recursive signature would not move
    java.nio.file.Files.write(leaf.toPath, "aaaaaaaa".getBytes)
    assert(Artifacts.tableSig(dir, "t") != sig1,
      "nested leaf rewrite must change the content signature")
  }

  test("two roots with one content key never serve each other's paths") {
    // The fast-path map is keyed by (root, name, sig): a second store root
    // must publish its own copy, not hand out the first root's path.
    val rootA = TestSpark.tempDir("graft_art7a").toString
    val rootB = TestSpark.tempDir("graft_art7b").toString
    val dir = TestSpark.tempDir("graft_art7").toString
    writeDocs(dir, Seq((1L, "a b c")))
    def build = Tables.documents(spark, dir).select("doc_id")
    val pA = Artifacts.indexParquetPath(spark, "spec_roots", dir, "documents", rootA)(build)
    val pB = Artifacts.indexParquetPath(spark, "spec_roots", dir, "documents", rootB)(build)
    assert(pA.startsWith(rootA) && pB.startsWith(rootB) && pA != pB)
    assert(new java.io.File(pA, "_SUCCESS").exists() && new java.io.File(pB, "_SUCCESS").exists())
  }

  test("a consumer (winnow fp index) rebuilds over the rewritten corpus") {
    val dir = TestSpark.tempDir("graft_art4").toString
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val t2 = "one two three four five six seven eight nine ten eleven twelve"
    writeDocs(dir, Seq((1L, t1), (2L, t1)))
    val fps1 = spark.read.parquet(graft.dedup.Dedup.winnowFpIndexPath(spark, dir))
      .collect().map(_.getLong(0)).toSet
    writeDocs(dir, Seq((1L, t2), (2L, t2)))
    val fps2 = spark.read.parquet(graft.dedup.Dedup.winnowFpIndexPath(spark, dir))
      .collect().map(_.getLong(0)).toSet
    assert(fps1.nonEmpty && fps2.nonEmpty)
    assert(fps1 != fps2, "index must reflect the rewritten corpus, not the old one")
  }
}
