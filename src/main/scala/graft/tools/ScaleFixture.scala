package graft.tools

import org.apache.spark.sql.functions._

/** Stage an N×-replicated copy of the sf0.1 fixture for the pair-family
  * extra-decade measurements (tools/scaling.py): no sf1 fixture ships, so
  * further decade points are synthesized by replication with DISJOINT
  * content per replica — the shape where true pair output grows exactly
  * linearly in the replica count, so any super-linear runtime growth is
  * engine cost, not output mass:
  *
  *  - documents: every token gets a replica prefix (`r3the quick…`), an
  *    injective per-replica token map (fixture tokens never start with a
  *    digit, so `r<digits><token>` parses uniquely) — intra-replica
  *    shingle/gram/simhash near-dup structure is isomorphic to the
  *    original, cross-replica overlap is zero by construction.
  *  - part: `p_size += 100·r`. Both fuzzy-join passes block on p_size, so
  *    blocks are replica-disjoint while names/brands (and the name-prefix-12
  *    block structure) stay bit-identical per replica.
  *  - embeddings: each replica's vectors are component-ROTATED by
  *    `r mod dim` — intra-replica dot products (and thus the RP-LSH bucket
  *    structure) are exactly preserved, cross-replica similarity
  *    decorrelates. Rotation alone has only `dim` distinct values (the
  *    fixture dim is 64), so past replica 9 (round 16, for the 100×
  *    point) each replica ALSO gets a per-replica diagonal ±1 SIGN MASK
  *    from the bits of xxhash64(r): a diagonal ±1 matrix is orthogonal —
  *    signs square away inside a replica, so intra-replica dot products
  *    are still exactly preserved — while two replicas sharing a rotation
  *    class (r ≡ r' mod dim) now differ in ~half their signs and their
  *    cross dot products decorrelate instead of aliasing to exact
  *    duplicates (100 replicas of dim-64 vectors would otherwise alias in
  *    36 rotation classes and the "output grows exactly linearly"
  *    construction would break). Replicas 0-9 keep the round-12
  *    rotation-only scheme bit-identical, so the established 10× numbers
  *    stay comparable.
  *  - lineitem / events (round 12, for the NON-pair decade point —
  *    an_percentile/agg_rollup/json_extract): plain replication with id
  *    shifts. Group keys (l_returnflag/l_linestatus) stay identical, so
  *    per-group value mass grows linearly — exactly the axis the exact
  *    percentile's group-buffer and the rollup's grouping-set expansion
  *    must absorb at scale.
  *
  * Ids shift by r·10⁷ per replica. Idempotent via a versioned `_STAGED`
  * marker that also pins the replica count and table set (a parameter
  * change restages). Usage:
  * `runMain graft.tools.ScaleFixture <out> [src] [replicas] [tables-csv]`
  * — defaults reproduce the round-12 10× full-table fixture. */
object ScaleFixture {
  val IdStride = 10000000L

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_sf1x")
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val replicas = if (args.length > 2) args(2).toInt else 10
    val allTables = Seq("documents", "part", "embeddings", "lineitem", "events")
    val tables = if (args.length > 3) args(3).split(",").toSeq else allTables
    require(tables.forall(allTables.contains), s"unknown table in $tables")
    // v3 marker: parameter-pinned. The pre-round-16 10x fixture carries
    // "staged-v2"; its v3 restage is bit-equivalent content (replicas 0-9
    // never enter the sign-flip branch) so established numbers hold.
    val markerVersion = s"staged-v3|r$replicas|${tables.mkString(",")}"
    val marker = new java.io.File(out, "_STAGED")
    if (marker.exists() &&
        new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8").trim == markerVersion) {
      println(s"[scalefixture] $out already staged")
      return
    }
    val s = graft.Sessions.local(graft.Sessions.defaultCpus)
    def replicated(table: String) =
      s.read.parquet(s"$src/$table.parquet")
        .select(col("*"), explode(expr(s"sequence(0, ${replicas - 1})")).as("r"))

    def stage(table: String)(build: => org.apache.spark.sql.DataFrame): Unit =
      if (tables.contains(table))
        build.drop("r").repartition(32)
          .write.mode("overwrite").parquet(s"$out/$table.parquet")

    stage("documents") {
      replicated("documents")
        .withColumn("doc_id", col("doc_id") + col("r") * IdStride)
        .withColumn("text", expr(
          "array_join(transform(split(trim(text), ' +'), " +
            "t -> concat('r', CAST(r AS STRING), t)), ' ')"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }

    stage("part") {
      replicated("part")
        .withColumn("p_partkey", col("p_partkey") + col("r") * IdStride)
        .withColumn("p_size", col("p_size") + col("r") * 100)
    }

    stage("embeddings") {
      replicated("embeddings")
        .withColumn("vec_id", col("vec_id") + col("r") * IdStride)
        // rotation by r mod dim, then (replicas >= 10 only) the diagonal
        // ±1 mask from xxhash64(r). Bit index i % 63 avoids the arithmetic-
        // shift sign bit; the mask only needs to DIFFER between replicas,
        // never within one, so a period-63 index over dim 64 is harmless.
        .withColumn("rr", expr("CAST(r % size(embedding) AS INT)"))
        .withColumn("embedding", expr(
          "transform(concat(slice(embedding, rr + 1, size(embedding) - rr), " +
            "slice(embedding, 1, rr)), " +
            "(x, i) -> CASE WHEN r < 10 THEN x " +
            "WHEN (shiftright(xxhash64(r), i % 63) & 1) = 1 THEN -x " +
            "ELSE x END)"))
        .drop("rr")
    }

    stage("lineitem") {
      replicated("lineitem")
        .withColumn("l_orderkey", col("l_orderkey") + col("r") * IdStride)
    }

    stage("events") {
      replicated("events")
        .withColumn("event_id", col("event_id") + col("r") * IdStride)
    }

    tables.foreach { t =>
      println(s"[scalefixture] $t rows = ${s.read.parquet(s"$out/$t.parquet").count()}")
    }
    java.nio.file.Files.write(marker.toPath, (markerVersion + "\n").getBytes("UTF-8"))
    s.stop()
  }
}
