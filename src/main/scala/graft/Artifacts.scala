package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once persisted artifacts (signature tables, pair graphs, fingerprint
  * indexes) and memoized driver-state models (k-means centroids, PQ
  * codebooks), keyed by dataset CONTENT — not by the dataset path.
  *
  * Why content keys: a path-keyed cache (`dir.hashCode`, rounds 5–9) silently
  * serves a stale artifact when the dataset under the path is regenerated
  * within a JVM lifetime or across JVMs sharing one tmpdir — a correctness
  * hazard for a real engine even though harness fixtures are immutable. The
  * key here digests the table's file names, sizes, and mtimes (the
  * `stagedEventsJson` staging-cache discipline from round 5, see
  * sources/Ingest.scala), so a mutated corpus forces a rebuild (up to
  * [[tableSig]]'s stated detection boundary) and two distinct corpora can
  * never collide onto one artifact file.
  *
  * Why atomic publish: concurrent JVMs (bench + tests) may race to build the
  * same artifact. Each builder writes to a private temp dir and publishes
  * with a single atomic directory rename; the loser of the race discards its
  * temp copy and reads the winner's (identical — the build is a deterministic
  * function of the content key). A reader never observes a half-written
  * artifact because the final path only ever appears via rename.
  *
  * At 100 TB the same discipline holds with the tmpdir swapped for a durable
  * object-store prefix and the mtime digest swapped for the catalog's
  * snapshot/version id: an index is an artifact of a corpus SNAPSHOT.
  */
object Artifacts {

  /** Content signature of one fixture table under `d`: a 12-hex md5 of the
    * absolute path plus every data file's (relative path, size, mtime),
    * walked RECURSIVELY so partitioned layouts (hive-style subdirs) sign
    * their leaf files — a top-level-only listing would miss a rewrite two
    * levels down because a directory entry's (size, mtime) need not change
    * when its contents do. Cheap — directory listings, no data read — so
    * callers can recompute it per query and still catch in-place dataset
    * rewrites. Detection boundary: a rewrite that preserves a leaf file's
    * name, byte length, AND mtime within the filesystem's timestamp
    * resolution is invisible to this key (Spark's UUID part names make
    * that combination unreachable for Spark-written tables; a catalog
    * snapshot id replaces this digest on a real cluster — see the
    * object doc). */
  def tableSig(d: String, table: String): String = {
    val src = new java.io.File(s"$d/$table.parquet")
    // Fail loud on a missing source (round-19 review): File.length and
    // lastModified return 0 for nonexistent paths, so a missing table
    // would otherwise sign as `path:0:0` and PUBLISH an artifact of
    // nothing under a stable key — served silently until the table
    // appears and shifts the sig.
    require(src.exists(),
      s"tableSig: source table does not exist: ${src.getAbsolutePath}")
    def walk(f: java.io.File, rel: String): Seq[String] =
      if (f.isDirectory)
        Option(f.listFiles()).fold(Seq.empty[java.io.File])(_.toSeq.sortBy(_.getName))
          .flatMap(c => walk(c, s"$rel/${c.getName}"))
      else Seq(s"|$rel:${f.length}:${f.lastModified}")
    val sig = src.getAbsolutePath + walk(src, src.getName).mkString
    md5Hex(sig).take(12)
  }

  /** Memo key for driver-state models derived from table `table` of dataset
    * `d`: the content signature, so the model cache invalidates exactly when
    * the artifact files would. */
  def contentKey(d: String, table: String): String = s"$d@${tableSig(d, table)}"

  /** Artifact store root: the `graft.artifact.dir` system property when set
    * (in-JVM override — lets a destructive spec like ArtifactsSpec's gc test
    * point the store at a private root instead of sweeping the shared tmpdir
    * out from under a concurrently-running Verify/Profile JVM), else
    * `GRAFT_ARTIFACT_DIR` (on a cluster, a durable shared path — every
    * executor and every job sees one copy per corpus snapshot), else the JVM
    * tmpdir (the sandbox default). */
  def baseDir: String =
    sys.props.get("graft.artifact.dir")
      .orElse(sys.env.get("GRAFT_ARTIFACT_DIR"))
      .getOrElse(sys.props("java.io.tmpdir"))

  /** Path of the build-once parquet artifact `name` derived from
    * `d/table.parquet`, building it if this content signature has no
    * published copy yet. `build` runs at most once per (name, content) per
    * race winner; the result is `_SUCCESS`-guarded and atomically renamed
    * into place.
    *
    * NAMING POLICY (round 17): the content signature detects corpus
    * changes, NOT code changes — so when `build` bakes in a documented
    * tunable (an LSH shape ladder, a bucket cap, k-means k/iters, PQ
    * m/ks, a hash count), the tunable belongs IN `name`
    * (`mh_sig_h64`, `pq_codes_m8ks16i3`, `simhash_pairs_<ladder>…`): a
    * retune then misses the store and rebuilds instead of silently
    * serving the stale artifact with an identical schema. Constants that
    * are definitional to the operator (shingle width 3, frame stride,
    * the md5 family) stay out of the name — changing those is changing
    * the operator, which a round's oracle gate catches directly.
    *
    * `root` defaults to [[baseDir]]; a destructive spec passes its own
    * private root EXPLICITLY instead of mutating the process-global
    * `graft.artifact.dir` property — under parallel suite execution a
    * concurrent suite's publish during the mutation window would land in
    * the private root and be torn down with it. The fast-path map is keyed
    * by (root, name, content-sig) so two roots never serve each other's
    * paths. */
  def indexParquetPath(s: SparkSession, name: String, d: String, table: String,
      root: String = baseDir)(build: => DataFrame): String =
    // `s` is deliberately part of the signature even though the local-FS
    // implementation never touches it: the builder DataFrame carries its
    // own session, but an object-store-backed implementation of this same
    // API resolves and stats paths through the session's hadoopConf — and
    // the symmetric indexParquet needs it for the read. Dropping it would
    // be an API break the first time the store leaves the local disk.
    publishedDirPath(name, tableSig(d, table), root)(
      p => build.write.mode("overwrite").parquet(p))

  /** The store discipline for ANY directory payload — in-JVM build lock
    * per (root, name, content-sig), private-temp write + atomic rename
    * across JVMs, `_SUCCESS`-guarded handouts with touch-refresh and
    * self-heal, a store-shaped published name (`graft_<name>_<sig>`) so
    * [[gc]] janitors it like every other artifact. `writeTo` receives the
    * temp path and must leave a Spark-style `_SUCCESS` there (any
    * DataFrameWriter format does). [[indexParquetPath]] is the parquet
    * specialization; the staged-JSON landing zone
    * (graft.sources.Ingest.stagedEventsJson) publishes newline-delimited
    * JSON through the same path — it previously hand-rolled a weaker copy
    * (top-level-only signature, un-swept dir name, unlocked in-place
    * overwrite) and inherited none of the race fixes. */
  def publishedDirPath(name: String, contentSig: String,
      root: String = baseDir)(writeTo: String => Unit): String = {
    val key = s"${name}_$contentSig"
    val mapKey = s"$root|$key"
    def publish(): String = {
      val fin = new java.io.File(root, s"graft_$key")
      if (!new java.io.File(fin, "_SUCCESS").exists()) {
        val tmp = new java.io.File(root,
          s"graft_${key}_w${java.util.UUID.randomUUID.toString.take(8)}")
        writeTo(tmp.getAbsolutePath)
        if (fin.exists() && !new java.io.File(fin, "_SUCCESS").exists()) {
          // Corrupt leftover (crashed writer): QUARANTINE it atomically
          // instead of deleting in place — delete-in-place could destroy a
          // concurrent JVM's just-published VALID artifact that replaced
          // fin between our _SUCCESS check and the delete (round-19
          // review). Rename-aside is atomic, so whatever we captured can
          // be inspected: a stolen valid copy is restored (or discarded if
          // a third racer re-published fin meanwhile); true corruption is
          // deleted from quarantine. A failed rename-aside means another
          // JVM moved/replaced fin concurrently — fall through; the rename
          // race below re-adjudicates on the winner's _SUCCESS either way.
          val q = new java.io.File(root,
            s"graft_${key}_q${java.util.UUID.randomUUID.toString.take(8)}")
          if (fin.renameTo(q)) {
            if (new java.io.File(q, "_SUCCESS").exists()) {
              if (!q.renameTo(fin) && !new java.io.File(fin, "_SUCCESS").exists())
                throw new IllegalStateException(
                  s"artifact quarantine recovery failed for $fin: stole a " +
                    "valid copy, cannot restore it, and fin has no valid winner")
              if (q.exists() && new java.io.File(fin, "_SUCCESS").exists())
                deleteRecursively(q) // a third racer won fin; ours is redundant
            } else deleteRecursively(q)
          }
        }
        if (!tmp.renameTo(fin)) {
          // A failed rename means EITHER a concurrent winner published fin
          // first (fine — discard our copy and read theirs) OR fin is an
          // undeletable corrupt dir and no valid copy exists anywhere.
          // Conflating the two silently handed out a _SUCCESS-less path;
          // distinguish by the winner's _SUCCESS and fail loud otherwise —
          // a thrown build beats an unreadable artifact served as real.
          if (new java.io.File(fin, "_SUCCESS").exists()) deleteRecursively(tmp)
          else {
            deleteRecursively(tmp)
            throw new IllegalStateException(
              s"artifact publish failed: cannot rename into $fin and no " +
                "valid copy exists (undeletable corrupt leftover?)")
          }
        }
      }
      fin.getAbsolutePath
    }
    // One in-JVM build at a time per (root, key): TrieMap.getOrElseUpdate
    // inserts atomically but may evaluate the thunk in two threads and
    // discard one result — harmless for correctness (publish handles the
    // rename race) but each discarded result is a full duplicate Spark
    // build. The lock object is canonical via the TrieMap's atomic insert.
    val lock = buildLocks.getOrElseUpdate(mapKey, new Object)
    lock.synchronized {
      val cached = published.getOrElseUpdate(mapKey, publish())
      // Self-heal a swept artifact: the fast-path map can outlive the files
      // when ANOTHER process's retention sweep (or a manual tmp clean)
      // removes the published dir — observed round 11 as PATH_NOT_FOUND
      // mid-suite when a concurrent JVM gc'd the shared store. The durable
      // guard is the _SUCCESS file, so re-check it on every handout and
      // republish on miss: one file stat per query against a query-plan's
      // worth of work. A valid handout also REFRESHES the _SUCCESS mtime,
      // so an artifact a live workload keeps probing can never age past a
      // janitor's retention horizon between touches (gc ages by _SUCCESS
      // mtime); pick maxAgeMs comfortably above the longest query so an
      // in-flight reader's path outlives its scan.
      val success = new java.io.File(cached, "_SUCCESS")
      if (success.exists()) {
        success.setLastModified(System.currentTimeMillis()): Unit
        cached
      } else {
        published.remove(mapKey)
        val healed = published.getOrElseUpdate(mapKey, publish())
        // The retry must hand out a VERIFIED path: if the store is being
        // swept faster than we can republish, failing loud is the only
        // honest option left.
        if (!new java.io.File(healed, "_SUCCESS").exists()) {
          published.remove(mapKey)
          throw new IllegalStateException(
            s"artifact self-heal failed: republished $healed lacks _SUCCESS " +
              "(store being swept concurrently?)")
        }
        healed
      }
    }
  }

  /** [[indexParquetPath]] + read: the artifact as a DataFrame. */
  def indexParquet(s: SparkSession, name: String, d: String, table: String)
      (build: => DataFrame): DataFrame =
    Tables.parquet(s, indexParquetPath(s, name, d, table)(build))

  /** Memoize a driver-state model under a content-signature key. The cache
    * grows one entry per corpus CONTENT actually seen — model-sized values
    * only (centroids, codebooks, a count), never data-sized. Concurrency
    * contract: the insert is atomic but the thunk is NOT serialized — two
    * threads racing an uncached key may both run `build` and one result is
    * discarded (safe: every memoized build is a deterministic function of
    * the content key; the only cost is the duplicate build, and the mains
    * run queries serially). */
  def memo[T](cache: scala.collection.concurrent.TrieMap[String, T], key: String)
      (build: => T): T =
    cache.getOrElseUpdate(key, build)

  /** Retention sweep for the artifact store: delete published artifacts
    * whose `_SUCCESS` is older than `maxAgeMs` (handouts REFRESH that
    * mtime — see [[indexParquetPath]] — so only artifacts no live workload
    * probes can age out), plus writer temp dirs whose NEWEST inner file is
    * older than the same horizon. The temp-dir age must be the newest
    * inner mtime, not the dir's own: a directory's mtime is set at
    * creation and Spark stages task output under `_temporary` subpaths, so
    * a dir-mtime check would sweep a still-writing build whose job simply
    * outlived the horizon; with the recursive check, only a writer that
    * has produced NOTHING for a full horizon — a crashed JVM's leftover —
    * qualifies. Content keying makes the sweep safe at any time: a live
    * corpus snapshot re-publishes under the same key on next touch, and a
    * reader never RECEIVES a path without its `_SUCCESS` (the fast-path
    * map is invalidated for swept keys; a reader already mid-scan is
    * protected by the touch-on-handout refresh as long as maxAgeMs
    * comfortably exceeds the longest query). On a cluster this is the
    * nightly janitor over the shared store prefix. Returns the number of
    * directories fully removed (a partially-undeletable dir is not
    * counted). `root` defaults to [[baseDir]]; specs sweep a private root
    * explicitly (see [[indexParquetPath]]). */
  def gc(maxAgeMs: Long, storeRoot: String = baseDir): Int = {
    val cutoff = System.currentTimeMillis() - maxAgeMs
    val root = new java.io.File(storeRoot)
    // Store-shaped names ONLY — graft_<name>_<12-hex content sig>, plus
    // writer temps with a _w<8-hex> suffix. The tmpdir also hosts unrelated
    // graft-prefixed dirs (spec temps, the scaling fixture); those are not
    // this store's to delete.
    val storeName = "^graft_.+_[0-9a-f]{12}(_w[0-9a-f]{8})?$".r
    def newestMtime(f: java.io.File): Long =
      if (f.isDirectory)
        (f.lastModified() +: Option(f.listFiles()).getOrElse(Array.empty)
          .map(newestMtime).toSeq).max
      else f.lastModified()
    val victims = Option(root.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && storeName.matches(f.getName))
      .filter { f =>
        val success = new java.io.File(f, "_SUCCESS")
        if (success.exists()) success.lastModified() < cutoff
        else newestMtime(f) < cutoff // leftover idle for a full horizon
      }
    victims.count { f =>
      published.filterInPlace((_, p) => p != f.getAbsolutePath)
      deleteRecursively(f)
    }
  }

  // Published-artifact paths, keyed by (name, content-sig). Only a fast-path
  // map: the durable guard is the _SUCCESS file, which other JVMs also honor.
  private val published = scala.collection.concurrent.TrieMap.empty[String, String]

  // Per-(root, key) build locks — canonical objects via the TrieMap's
  // atomic insert; bounded by the artifact count, like `published`.
  private val buildLocks = scala.collection.concurrent.TrieMap.empty[String, Object]

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** True iff `f` and everything under it is gone afterwards — a silent
    * partial delete upstream turned into "corrupt dir served as real"
    * (publish) and an overcounted sweep (gc), so failure must be visible. */
  private def deleteRecursively(f: java.io.File): Boolean = {
    val childrenOk =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).forall(deleteRecursively)
      else true
    childrenOk && (f.delete() || !f.exists())
  }
}
