package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session defaults so Verify, Profile and the
  * test suites run with identical semantics.
  *
  * - UTC session TZ: E1/E2-E7 extract-family correctness vs the oracle.
  * - ANSI off: Redshift-permissive integer division / overflow (SURVEY §4.3).
  * - nanosAsLong: legacy-fixture compatibility — fixtures through round 9
  *   shipped `events.ts` as parquet TIMESTAMP(NANOS), which Spark reads as
  *   BIGINT nanos under this flag; current fixtures ship TIMESTAMP(MICROS).
  *   Do NOT read events.parquet raw on that basis: `Tables.events`
  *   normalizes EITHER physical shape to BIGINT epoch-nanos at the reader
  *   boundary (TablesSpec is the tripwire), and every consumer goes
  *   through it.
  * - AQE on: runtime re-plan (skew joins, dynamic coalescing) — the knob that
  *   matters at the 100 TB target, harmless locally.
  * - shuffle.partitions from cpus: local mode wants ~#threads, not 200; on a
  *   real cluster this would scale with executors (AQE coalesces the rest).
  * - RocksDB state store: streaming state (the sessionizer's pending
  *   sessions, the landing-zone dedup's seen-keys) lives off-heap on local
  *   disk instead of the default HDFSBackedStateStore's executor heap — at
  *   hundreds of millions of users the heap provider OOMs long before the
  *   watermark can expire anything. Every spec runs on this provider, so
  *   the tested path IS the at-scale path.
  */
object Sessions {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ~100-query workloads generate several codegen units per query; the
      // default 100-entry generated-class cache churns completely within one
      // pass, so every re-execution pays Janino compilation again. Sized to
      // hold the whole library's generated classes (a few MB of classes —
      // model-state scale, not data scale).
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Iterative operators (graft.dedup.Dedup.connectedComponents)
      // checkpoint each round and drop the reference to the previous
      // round's frame; with a reliable checkpoint dir configured the FILES
      // of dropped rounds would otherwise accumulate on the cluster store
      // for the life of the session (cleanCheckpoints defaults to false;
      // local-mode localCheckpoint blocks are already GC-cleaned by the
      // ContextCleaner). This makes dropped reliable checkpoints follow
      // the same lifecycle — the GraphFrames/Pregel discipline.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")

  /** The mains' core count: `SPARK_GRAFT_CPUS`, else every core the JVM
    * sees — never a fixed count that oversubscribes a small host. */
  def defaultCpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  def local(cpus: String): SparkSession = {
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Hadoop-FS configs derived from a dwh.cfg-style [[GraftConfig]] so the
    * reference's cloud entry point (`COPY … FROM 's3://…'` with `[AWS]`
    * credentials, sql_queries.py:122-136 / dwh.cfg) maps onto Spark's
    * s3a:// read path. Pure mapping — no network, no session — so the
    * wiring is testable in this sandbox:
    *
    *  - `[AWS] KEY/SECRET`  → `fs.s3a.access.key` / `fs.s3a.secret.key`
    *    plus the static-credentials provider (`SimpleAWSCredentialsProvider`;
    *    with `TOKEN` also set, the temporary-session provider).
    *  - no credentials at all → `AnonymousAWSCredentialsProvider` — the
    *    reference's source bucket is public, exactly this case. A PARTIAL
    *    credential set (SECRET/TOKEN without KEY, or KEY without SECRET)
    *    is a loud config error, never a silent anonymous fallback.
    *  - `[AWS] ENDPOINT/REGION` → `fs.s3a.endpoint` / `fs.s3a.endpoint.region`
    *    (S3-compatible stores, region pinning).
    *  - `[AWS] CREDENTIALS_PROVIDER` overrides the inferred provider.
    *  - `[HADOOP] <key> = <value>` passes through verbatim for any other
    *    filesystem knob (fs.gs.*, fs.abfs.*, fs.s3a.connection.*, …).
    *
    * The s3a connector itself (hadoop-aws + SDK bundle) ships on real
    * clusters' classpaths, not in this zero-egress sandbox; the contract
    * here is that a user's existing dwh.cfg yields a session whose
    * hadoopConfiguration can open `s3a://` without further wiring. */
  def cloudFsConf(cfg: GraftConfig.Config): Map[String, String] = {
    val aws = Seq(
      "KEY" -> "fs.s3a.access.key",
      "SECRET" -> "fs.s3a.secret.key",
      "TOKEN" -> "fs.s3a.session.token",
      "ENDPOINT" -> "fs.s3a.endpoint",
      "REGION" -> "fs.s3a.endpoint.region",
    ).flatMap { case (k, h) => cfg.get("AWS", k).map(h -> _) }.toMap
    // Anonymous is inferred only when NO credential material is present at
    // all (the reference's public source bucket). A PARTIAL credential set
    // — SECRET or TOKEN without KEY, or KEY without SECRET — is a config
    // error, not an anonymous session: silently proceeding unauthenticated
    // turns a typo'd KEY line into a confusing 403 at read time (and the
    // reference's own configparser access raises on a missing option).
    val hasKey = aws.contains("fs.s3a.access.key")
    val hasSecret = aws.contains("fs.s3a.secret.key")
    val hasToken = aws.contains("fs.s3a.session.token")
    if (cfg.get("AWS", "CREDENTIALS_PROVIDER").isEmpty && (hasKey || hasSecret || hasToken))
      require(hasKey && hasSecret,
        s"[AWS] credentials are partial (KEY=${if (hasKey) "set" else "MISSING"}, " +
          s"SECRET=${if (hasSecret) "set" else "MISSING"}" +
          (if (hasToken) ", TOKEN=set" else "") +
          ") — set both KEY and SECRET, or neither for anonymous access")
    val provider = cfg.get("AWS", "CREDENTIALS_PROVIDER").getOrElse {
      (hasKey, hasToken) match {
        case (true, true) => "org.apache.hadoop.fs.s3a.TemporaryAWSCredentialsProvider"
        case (true, false) => "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider"
        case _ => "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider"
      }
    }
    val hadoop = cfg.sections.find(_._1.equalsIgnoreCase("HADOOP"))
      .map(_._2).getOrElse(Map.empty)
    aws + ("fs.s3a.aws.credentials.provider" -> provider) ++ hadoop
  }

  /** Land [[cloudFsConf]] on a LIVE session's hadoopConfiguration. Hadoop
    * `FileSystem` instances are created lazily at first access per scheme,
    * so setting these after `getOrCreate()` governs every `s3a://` scheme
    * NOT YET touched in this JVM — and, unlike `spark.hadoop.*` builder
    * configs, this works when an earlier suite already owns the shared
    * SparkContext. Caveat: Hadoop caches FileSystem instances per
    * (scheme, authority, ugi), NOT per Configuration, so a bucket already
    * opened under earlier credentials keeps them regardless of these
    * sets. To re-credential a touched bucket, either scope the keys with
    * `fs.s3a.bucket.<name>.*` BEFORE first access, set
    * `fs.s3a.impl.disable.cache=true` via [HADOOP] (per-open cost), or
    * start a fresh JVM — the reference's one-shot etl.py run is the
    * fresh-JVM case, which is why this mapping suffices for its
    * workflow. */
  def applyCloudFs(spark: SparkSession, cfg: GraftConfig.Config): Map[String, String] = {
    val confs = cloudFsConf(cfg)
    confs.foreach { case (k, v) => spark.sparkContext.hadoopConfiguration.set(k, v) }
    confs
  }
}
