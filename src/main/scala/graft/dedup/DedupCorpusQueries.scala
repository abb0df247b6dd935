package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** The corpus-rollup / lifecycle half of the dedup query surface (split
  * out of Dedup.scala in round 16 — same package, no behavior change):
  * exact/priority canonical selection, the cleaned-corpus composites and
  * shard manifest, transitive clusters and best-representative selection,
  * per-source accounting, line-level dedup (counts and apply), the dedup
  * funnel, deletion propagation, soft dedup, and the split-leakage audit.
  * These consume the pair graphs and fingerprint families Dedup.scala
  * builds; none generates candidates itself. Mixed into [[Dedup]];
  * `corpusDefs` is LAZY for the same trait-init reason as
  * [[DedupPairQueries.pairDefs]]. */
private[dedup] trait DedupCorpusQueries { this: Dedup.type =>

  /** Width of the `pos` field in the packed line-keeper key (2^20 — spans
    * per doc, i.e. docs under ~3M tokens at [[LineTok]]=3). */
  private val LinePosW = 1048576L

  /** Largest doc_id the packed key can carry without overflowing a BIGINT
    * (doc_id * [[LinePosW]] + pos ≤ Long.MaxValue for pos < LinePosW). */
  private val LineMaxDoc = Long.MaxValue / LinePosW

  /** The packed line-keeper key `doc_id * 2^20 + pos`: min over ONE scalar
    * BIGINT hash-aggregates with map-side combine (a struct min forces
    * SortAggregate + per-task sorts — PlanShapeSpec pins the aggregate
    * shape), and ordering matches (doc_id, pos) lexicographic while the
    * fields are in range. The width contract is ENFORCED, not just stated:
    * an out-of-range row (pos ≥ 2^20, i.e. a ≥3M-token doc, or doc_id ≥
    * 2^43) raises loudly instead of silently bleeding its keepers into the
    * neighboring doc_id's key range — at 100 TB a silent mis-attribution
    * would corrupt removal counts with no error anywhere downstream. The
    * guard is three integer compares per span row inside codegen. */
  private val packedLineKey: String =
    s"""CASE WHEN pos >= 0 AND pos < $LinePosW
       |          AND doc_id >= 0 AND doc_id < $LineMaxDoc
       |     THEN doc_id * $LinePosW + pos
       |     ELSE raise_error(concat('packed line key out of range: doc_id=',
       |            CAST(doc_id AS STRING), ' pos=', CAST(pos AS STRING))) END"""
      .stripMargin.replace('\n', ' ')

  /** Decode the doc side of [[packedLineKey]]. */
  private val packedLineDoc: String = s"kp div $LinePosW"

  /** Attach `nl` — the NULL-guarded [[LineTok]]-span count (NULL text →
    * NULL, matching the oracle's `len(NULL)`; the unguarded `size` answers
    * -1) — to a frame carrying token array `t`. The ONE definition of the
    * line-span denominator: dd_line_dedup, dd_dedup_funnel's line stage,
    * and dd_line_dedup_apply previously carried three hand-copied
    * expressions that a retune had to edit in lockstep (round-19 review). */
  private def withNl(docs: DataFrame): DataFrame =
    docs.withColumn("nl",
      expr(s"CAST(CASE WHEN t IS NULL THEN NULL ELSE size(t) END AS BIGINT) div $LineTok"))

  /** Span rows `(doc_id, pos, line)` — the [[LineTok]]-token consecutive
    * non-overlapping pseudo-line stream the whole line-dedup family shares
    * (dd_line_dedup, dd_line_dedup_apply, dd_dedup_funnel's line stage).
    * Expects `doc_id`, token array `t`, and span count `nl`; the partial
    * tail span is outside the line model on both engines. */
  private def lineSpans(docs: DataFrame): DataFrame =
    docs.filter(col("nl") >= 1)
      .select(col("doc_id"),
        posexplode(expr(s"transform(sequence(0, CAST(nl AS INT) - 1), " +
          s"i -> array_join(slice(t, i * $LineTok + 1, $LineTok), ' '))"))
          .as(Seq("pos", "line")))

  /** Global first-occurrence keeper per distinct line — `(line, kp)` where
    * kp is the min [[packedLineKey]]. ONE map-combinable aggregation: the
    * million-copy cookie banner collapses to one partial per task, never
    * one partition (the window form would sort every copy in one place). */
  private def lineKeepers(lines: DataFrame): DataFrame =
    lines.groupBy(col("line")).agg(min(expr(packedLineKey)).as("kp"))

  /** md5 of the empty string — the clean_md5 of a document with no kept
    * spans, pinned so both engines state the same constant. */
  private val md5Empty = "d41d8cd98f00b204e9800998ecf8427e"

  /** The dd_clean_corpus keep-set (unordered): quality gate → exact-dedup
    * canonical (min doc_id per fingerprint) → near-dup loser drop at
    * ≥ 0.5 Jaccard. Shared by dd_clean_corpus and the dd_shard_manifest
    * composite so both state the same three-stage plan. */
  private[graft] def cleanCorpusKeepers(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        expr(s"size($toks)").as("n_tokens"),
        expr(s"size(filter($toks, t -> t IN ('the', 'a', 'of', 'and', 'to')))").as("n_stop"),
        normFp(col("text")).as("fp"))
      .filter(expr(graft.text.TextStats.qualityKeepSql))
    val keepers = docs.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    val nearDupLosers = jaccardPairs(s, d, permille = 500)
      .select(col("doc_b").as("doc_id")).distinct()
    keepers.select(col("doc_id"))
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
  }

  private[dedup] lazy val corpusDefs: Seq[QueryDef] = Seq(

    /** Exact dedup: group by normalized-text fingerprint; keeper = min id.
      * NULL-TEXT CONTRACT (round-19 review; NullTextSpec): a NULL
      * fingerprint is NOT DEDUPABLE — two unknown-content docs are not
      * copies of each other — so fingerprint-keyed queries exclude NULL
      * text on both sides. (Grouping NULLs also ordered divergently:
      * Spark sorts NULLS FIRST ascending, DuckDB NULLS LAST.) The sibling
      * semantics: dd_soft_dedup weights a NULL-fp doc as a singleton,
      * dd_source_dup_rate counts it as never-duplicate. */
    QueryDef(
      "dd_exact",
      (s, d) => Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .groupBy(normFp(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
        .orderBy("fp"),
      Some("""SELECT md5(translate(regexp_replace(trim(text), ' +', ' ', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fp,
             |       COUNT(*) AS n_docs, MIN(doc_id) AS keeper
             |FROM documents WHERE text IS NOT NULL
             |GROUP BY fp ORDER BY fp""".stripMargin)),

    /** Priority-aware canonical selection — the production exact-dedup
      * variant: within each exact-dup group keep the doc from the
      * highest-priority SOURCE (rank = numeric suffix of `source`; lower =
      * more curated), ties by min doc_id. "Curated beats crawl" is how real
      * training pipelines choose the canonical copy; plain min-id keeps
      * whichever copy happened to be ingested first. One window shuffle on
      * the fingerprint (same key as dd_exact — at scale the two share a
      * partitioning). */
    QueryDef(
      "dd_exact_priority",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // NULL text excluded: the dd_exact NULL-fingerprint contract.
        val ranked = Tables.documents(s, d)
          .filter(col("text").isNotNull)
          .withColumn("fp", normFp(col("text")))
          // try_cast + sentinel: a source outside the 'srcN' scheme ranks
          // LAST deterministically in both engines (a plain CAST returns
          // NULL→NULLS FIRST in Spark but ERRORS in DuckDB)
          .withColumn("src_rank",
            expr("coalesce(try_cast(substr(source, 4) AS INT), 2147483647)"))
        val byFp = Window.partitionBy(col("fp"))
        ranked
          .withColumn("rn", row_number().over(byFp.orderBy(col("src_rank"), col("doc_id"))))
          .withColumn("n_docs", count(lit(1)).over(byFp))
          .filter(col("rn") === 1)
          .select(col("fp"), col("doc_id").as("keeper"),
            col("source").as("keeper_source"), col("n_docs"))
          .orderBy("fp")
      },
      Some("""WITH r AS (
             |  SELECT doc_id, source,
             |         md5(translate(regexp_replace(trim(text), ' +', ' ', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fp,
             |         COALESCE(TRY_CAST(substr(source, 4) AS INT), 2147483647) AS src_rank
             |  FROM documents WHERE text IS NOT NULL)
             |SELECT fp, keeper, keeper_source, n_docs FROM (
             |  SELECT fp, doc_id AS keeper, source AS keeper_source,
             |         COUNT(*) OVER (PARTITION BY fp) AS n_docs,
             |         row_number() OVER (PARTITION BY fp ORDER BY src_rank, doc_id) AS rn
             |  FROM r) WHERE rn = 1 ORDER BY fp""".stripMargin)),

    /** End-to-end corpus cleaning — the composite an LLM-data pipeline
      * actually runs: quality gate (token count + stopword ratio) →
      * exact-dup removal (keep min doc_id per fingerprint) → near-dup
      * removal (drop the higher id of every ≥0.5-Jaccard pair, greedy by
      * id). Each stage is one of the verified operators above; composed
      * they stay three shuffles end to end, and the shared jaccardPairs
      * scaffolding keeps the shingle subtree to ONE computation. */
    QueryDef(
      "dd_clean_corpus",
      (s, d) => cleanCorpusKeepers(s, d).orderBy("doc_id"),
      Some(s"""WITH q AS (
              |  SELECT doc_id, md5(translate(regexp_replace(trim(text), ' +', ' ', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fp
              |  FROM documents
              |  WHERE len(string_split_regex(trim(text), ' +')) BETWEEN 10 AND 1000
              |    AND (100 * len(list_filter(string_split_regex(trim(text), ' +'),
              |                               t -> t IN ('the', 'a', 'of', 'and', 'to'))))
              |        // len(string_split_regex(trim(text), ' +')) < 40),
              |keepers AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY fp),
              |${duckJaccard(500)},
              |losers AS (SELECT DISTINCT doc_b AS doc_id FROM jac)
              |SELECT doc_id FROM keepers
              |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
              |ORDER BY doc_id""".stripMargin)),

    /** CROSS-SOURCE DUPLICATION MATRIX — which sources duplicate each
      * other: the ≥ 0.5-Jaccard near-dup pairs rolled up to unordered
      * (source, source) cells. This is the data-sourcing report behind
      * "drop crawl X, it's 80% a copy of crawl Y" decisions. The pair list
      * is orders of magnitude smaller than the corpus, so the two
      * source-lookup joins shuffle pair-sized data against the (doc_id,
      * source) projection; least/greatest canonicalizes the cell before the
      * final handful-of-keys aggregation. */
    QueryDef(
      "dd_dup_matrix",
      (s, d) => {
        val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
        jaccardPairs(s, d, permille = 500)
          .select(col("doc_a"), col("doc_b"))
          .join(src.toDF("doc_a", "src_a"), Seq("doc_a"))
          .join(src.toDF("doc_b", "src_b"), Seq("doc_b"))
          .select(least(col("src_a"), col("src_b")).as("src_lo"),
            greatest(col("src_a"), col("src_b")).as("src_hi"))
          .groupBy(col("src_lo"), col("src_hi"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("src_lo", "src_hi")
      },
      Some(s"""WITH ${duckJaccard(500)}
              |SELECT least(a.source, b.source) AS src_lo,
              |       greatest(a.source, b.source) AS src_hi,
              |       COUNT(*) AS n_pairs
              |FROM jac j JOIN documents a ON j.doc_a = a.doc_id
              |           JOIN documents b ON j.doc_b = b.doc_id
              |GROUP BY 1, 2 ORDER BY src_lo, src_hi""".stripMargin)),

    /** TRAINING-SHARD MANIFEST — the full corpus-to-shards pipeline as ONE
      * declarative plan: clean (quality gate → exact-dedup canonical →
      * near-dup drop, the dd_clean_corpus stages) → deterministic md5
      * train/val/test split (the an_train_split recipe) → per (split,
      * source) packing accounting at the tx_pack_sequences window size.
      * This is the nightly job's output contract: how many docs, tokens,
      * and 256-token packed sequences each shard cell ships. Composing
      * verified operators keeps every stage's scale shape (the jaccard
      * subtree still computes once; the split adds NO shuffle — it rides
      * the final (split, source) aggregation); n_sequences is the
      * concat-and-cut ceil-div on the aggregated token total, exact
      * integer arithmetic in both engines. */
    QueryDef(
      "dd_shard_manifest",
      (s, d) => {
        val kept = cleanCorpusKeepers(s, d)
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), expr(s"size($toks)").as("n_tokens"))
          .join(kept, Seq("doc_id"), "left_semi")
          .withColumn("bucket",
            expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 100"))
          .withColumn("split",
            expr("CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END"))
          .groupBy(col("split"), col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"))
          .withColumn("n_sequences", expr("(n_tokens + 255) div 256"))
          .orderBy("split", "source")
      },
      Some(s"""WITH q AS (
              |  SELECT doc_id, md5(translate(regexp_replace(trim(text), ' +', ' ', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fp
              |  FROM documents
              |  WHERE len(string_split_regex(trim(text), ' +')) BETWEEN 10 AND 1000
              |    AND (100 * len(list_filter(string_split_regex(trim(text), ' +'),
              |                               t -> t IN ('the', 'a', 'of', 'and', 'to'))))
              |        // len(string_split_regex(trim(text), ' +')) < 40),
              |keepers AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY fp),
              |${duckJaccard(500)},
              |losers AS (SELECT DISTINCT doc_b AS doc_id FROM jac),
              |kept AS (SELECT doc_id FROM keepers
              |         WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
              |rows_ AS (
              |  SELECT d.source,
              |         len(string_split_regex(trim(d.text), ' +')) AS n_tokens,
              |         CASE WHEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
              |                        AS BIGINT) % 100 < 80 THEN 'train'
              |              WHEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
              |                        AS BIGINT) % 100 < 90 THEN 'val'
              |              ELSE 'test' END AS split
              |  FROM documents d JOIN kept k USING (doc_id))
              |SELECT split, source, COUNT(*) AS n_docs,
              |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
              |       (CAST(SUM(n_tokens) AS BIGINT) + 255) // 256 AS n_sequences
              |FROM rows_ GROUP BY split, source ORDER BY split, source""".stripMargin)),

    /** Near-dup cluster assignment — [[connectedComponents]] over the
      * ≥0.5-Jaccard pair graph, the transitive step a production dedup
      * pipeline runs after candidate generation (pairwise "drop the higher
      * id" under-merges chains A~B~C). Output: every doc appearing in a
      * pair, labeled by the min doc_id of its component. The oracle computes
      * the same fixpoint as a DuckDB recursive-CTE transitive closure — an
      * independent algorithm, so agreement checks the semantics, not the
      * implementation. */
    QueryDef(
      "dd_dup_clusters",
      (s, d) => dupClustersStored(s, d).orderBy("doc_id"),
      Some(s"""WITH RECURSIVE
             |${duckJaccard(500)},
             |edges AS (SELECT doc_a AS a, doc_b AS b FROM jac
             |          UNION ALL SELECT doc_b, doc_a FROM jac),
             |reach(a, r) AS (
             |  SELECT DISTINCT a, a FROM edges
             |  UNION
             |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.a = e.b)
             |SELECT a AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY a
             |ORDER BY doc_id""".stripMargin)),

    /** BEST-REPRESENTATIVE SELECTION per near-dup cluster — the FineWeb /
      * Gopher keep rule: within each transitive duplicate cluster keep the
      * LONGEST document (ties → min doc_id), not the min-id canonical.
      * Min-id keep is arbitrary — when a truncated scrape and its full
      * original land in one cluster, the pipeline must keep the full copy.
      * Emitted per clustered doc: cluster, length, keep/drop verdict.
      *
      * Distributed shape: probes the PERSISTED cluster-label artifact
      * ([[Dedup.dupClustersStored]] — round 17; previously re-ran the
      * iterative closure per query), one doc-keyed length
      * attach, then the argmax is a map-combinable MAX of ONE packed BIGINT
      * — n_tokens·2^32 + (2^32−1−doc_id), so max-by-length ties break to
      * min-id in the same scalar op (the dd_line_dedup packing discipline;
      * contract: n_tokens < 2^31, doc_id < 2^32 — ENFORCED with a
      * raise_error guard like [[packedLineKey]], so an out-of-range doc
      * fails the job instead of silently electing the wrong keeper). A
      * struct argmax would force SortAggregate; the packed form combines
      * map-side, so a million-doc boilerplate cluster costs one partial per
      * task. Verdict join is cluster-keyed, pair-graph-sized. */
    QueryDef(
      "dd_cluster_best",
      (s, d) => {
        val clusters = dupClustersStored(s, d)
        val len = Tables.documents(s, d)
          .select(col("doc_id"), expr(s"CAST(size($toks) AS BIGINT)").as("n_tokens"))
        val cl = clusters.join(len, Seq("doc_id"))
        val best = cl.groupBy(col("cluster_id"))
          .agg(max(expr(
            "CASE WHEN n_tokens >= 0 AND n_tokens < 2147483648 " +
              "AND doc_id >= 0 AND doc_id <= 4294967295 " +
              "THEN n_tokens * 4294967296 + (4294967295 - doc_id) " +
              "ELSE raise_error(concat('packed best key out of range: doc_id=', " +
              "CAST(doc_id AS STRING), ' n_tokens=', CAST(n_tokens AS STRING))) END"))
            .as("kb"))
          .select(col("cluster_id"), expr("4294967295 - (kb % 4294967296)").as("best_doc"))
        cl.join(best, Seq("cluster_id"))
          .withColumn("status",
            when(col("doc_id") === col("best_doc"), "keep").otherwise("drop"))
          .select(col("doc_id"), col("cluster_id"), col("n_tokens"), col("status"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE
             |${duckJaccard(500)},
             |edges AS (SELECT doc_a AS a, doc_b AS b FROM jac
             |          UNION ALL SELECT doc_b, doc_a FROM jac),
             |reach(a, r) AS (
             |  SELECT DISTINCT a, a FROM edges
             |  UNION
             |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.a = e.b),
             |cl AS (SELECT a AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY a),
             |len AS (SELECT doc_id,
             |          CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS n_tokens
             |        FROM documents),
             |j AS (SELECT c.doc_id, c.cluster_id, l.n_tokens
             |      FROM cl c JOIN len l USING (doc_id)),
             |b AS (SELECT cluster_id,
             |        MAX(n_tokens * 4294967296 + (4294967295 - doc_id)) AS kb
             |      FROM j GROUP BY cluster_id)
             |SELECT j.doc_id, j.cluster_id, j.n_tokens,
             |       CASE WHEN j.doc_id = 4294967295 - (kb % 4294967296)
             |            THEN 'keep' ELSE 'drop' END AS status
             |FROM j JOIN b USING (cluster_id) ORDER BY j.doc_id""".stripMargin)),

    /** DUPLICATION RATE BY SOURCE — the provenance diagnostic behind source
      * weighting decisions: per source, how many of its docs are exact
      * duplicates of ANY doc in the corpus (same normalized fingerprint as
      * [[dd_exact]] — the two share a partitioning at scale), and how many
      * duplicate a doc from a DIFFERENT source. A source with high
      * cross-source dup mass is re-crawling someone else's corpus and
      * should be down-weighted, not deduped doc-by-doc. Scale shape: one
      * fingerprint shuffle builds per-fp (copies, distinct sources), one
      * join back on the same key, one partial-agg shuffle on source —
      * no windows, no broadcasts of data-sized state. */
    QueryDef(
      "dd_source_dup_rate",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val doc = Tables.documents(s, d).select(col("doc_id"), col("source"),
          normFp(col("text")).as("fp"))
        // OPTIMIZATION r21 (guide §2.4): per-fp copy/source counts ride ONE
        // window over the fp shuffle instead of a groupBy(fp) + join-back,
        // which re-ran the md5 projection a second time as the probe side
        // (2 documents scans -> 1, one exchange fewer). NULL-fp (NULL-text)
        // docs keep the dd_exact NULL-fingerprint contract — never a
        // duplicate — via the dd_soft_dedup per-doc isolation key: their
        // window partition is the doc itself, so n_copies = n_sources = 1,
        // which fails the >= 2 tests exactly like the old left join's NULL
        // (the rollup only consumes the booleans). collect_set, like the
        // old COUNT(DISTINCT source), skips NULL sources.
        doc
          .withColumn("n_copies", count(lit(1)).over(Window.partitionBy(
            coalesce(col("fp"), concat(lit("null:"), col("doc_id"))))))
          .withColumn("n_sources", size(collect_set(col("source")).over(
            Window.partitionBy(
              coalesce(col("fp"), concat(lit("null:"), col("doc_id")))))))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_copies") >= 2, 1L).otherwise(0L)).as("n_dup"),
            sum(when(col("n_sources") >= 2, 1L).otherwise(0L)).as("n_cross_dup"))
          .withColumn("dup_permille", expr("(1000 * n_dup) div n_docs"))
          .orderBy(col("source").asc_nulls_first)
      },
      Some("""WITH doc AS (SELECT doc_id, source,
             |               md5(translate(regexp_replace(trim(text), ' +', ' ', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fp
             |             FROM documents),
             |grp AS (SELECT fp, COUNT(*) AS n_copies,
             |               COUNT(DISTINCT source) AS n_sources
             |        FROM doc GROUP BY fp)
             |SELECT source, COUNT(*) AS n_docs,
             |       CAST(SUM(CASE WHEN n_copies >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
             |       CAST(SUM(CASE WHEN n_sources >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_cross_dup,
             |       (1000 * CAST(SUM(CASE WHEN n_copies >= 2 THEN 1 ELSE 0 END) AS BIGINT))
             |         // COUNT(*) AS dup_permille
             |FROM doc LEFT JOIN grp USING (fp)
             |GROUP BY source ORDER BY source NULLS FIRST""".stripMargin)),

    /** CHUNK-LEVEL NEAR-DUP MASS over content-defined chunks — the
      * edit-robust upgrade of [[dd_substring_mass]]: a doc that shares
      * PARAGRAPHS with another (boilerplate, syndication, partial
      * re-crawl) lights up by shared-chunk mass even when whole-doc
      * fingerprints all differ, and CDC boundaries mean an insertion only
      * perturbs the chunks it touches. Chunk identity is the additive
      * fingerprint + gram count from graft.text.TextStats.cdcChunkIndex —
      * the PERSISTED chunk index (~1/16 the gram count: one entry per
      * chunk, not per gram — the storage math that makes chunk indexes
      * affordable at 100 TB), so serving probes the artifact instead of
      * re-chunking the corpus. One chunk-key shuffle counts distinct docs
      * per chunk, one join back on the same key, one doc rollup. */
    QueryDef(
      "dd_cdc_dedup",
      (s, d) => {
        val ch = graft.text.TextStats.cdcChunkIndex(s, d)
          .select(col("doc_id"), col("chunk_seq"), col("cg"), col("cfp"))
        val idx = ch.groupBy(col("cfp"), col("cg"))
          .agg(countDistinct(col("doc_id")).as("nd"))
        ch.join(idx, Seq("cfp", "cg"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"),
            sum(col("cg")).as("n_grams"),
            sum(when(col("nd") >= 2, col("cg")).otherwise(0L)).as("shared_grams"))
          .withColumn("shared_permille", expr("(1000 * shared_grams) div n_grams"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${graft.text.TextStats.duckCdcChain},
             |ch AS (SELECT doc_id, chunk_seq, COUNT(*) AS cg,
             |              CAST(SUM(ghash) AS BIGINT) AS cfp
             |       FROM c GROUP BY doc_id, chunk_seq),
             |idx AS (SELECT cfp, cg, COUNT(DISTINCT doc_id) AS nd
             |        FROM ch GROUP BY cfp, cg)
             |SELECT doc_id, COUNT(*) AS n_chunks,
             |       CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
             |       CAST(SUM(cg) AS BIGINT) AS n_grams,
             |       CAST(SUM(CASE WHEN nd >= 2 THEN cg ELSE 0 END) AS BIGINT)
             |         AS shared_grams,
             |       (1000 * CAST(SUM(CASE WHEN nd >= 2 THEN cg ELSE 0 END) AS BIGINT))
             |         // CAST(SUM(cg) AS BIGINT) AS shared_permille
             |FROM ch JOIN idx USING (cfp, cg)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    /** LINE-LEVEL DEDUP (the C4 / RefinedWeb boilerplate rule) — dedup at
      * LINE granularity across the whole corpus, not document granularity:
      * every occurrence of a line after its global first keep is removed,
      * which is what strips repeated navigation chrome, cookie banners and
      * license boilerplate that document-level near-dup can never touch.
      * The fixture corpus has no newlines, so a "line" is the deterministic
      * proxy both engines derive identically: consecutive non-overlapping
      * [[LineTok]]-token spans (the partial tail span is dropped). The keep
      * rule is first-occurrence by (doc_id, pos) — ONE window over the line
      * hash, the same global-canonical discipline as dd_exact's min-doc
      * pick. Emitted per document: span count, spans removed, tokens kept.
      *
      * Distributed shape: tokenization is materialized BEFORE the explode
      * (the tx_winnowing lesson), and the keep decision is an AGGREGATION,
      * not a window — each line's keeper is `min(struct(doc_id, pos))`
      * (identical semantics to first-by-(doc_id, pos), which the oracle
      * replays as rn = 1), and a doc's removed count is just its line count
      * minus the lines it keeps, read off the keeper table with NO join
      * back to the raw line stream. That matters at 100 TB because
      * boilerplate lines are BY DEFINITION hot keys: a window form sorts
      * every copy of a million-copy cookie banner in one partition, while
      * the min-struct aggregate collapses copies map-side to one partial
      * per task. Two map-combinable shuffles (line-keyed, then doc-keyed),
      * no pair expansion anywhere — linear end to end. */
    QueryDef(
      "dd_line_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), expr(toks).as("t"))
          .transform(withNl)
        // Keeper rule: [[lineKeepers]] — min packed (doc_id, pos) BIGINT,
        // map-combinable, width contract enforced in packedLineKey.
        val keepPerDoc = lineKeepers(lineSpans(docs))
          .groupBy(expr(packedLineDoc).as("doc_id"))
          .agg(count(lit(1)).as("n_kept"))
        docs.select(col("doc_id"), col("nl").as("n_lines"))
          .join(keepPerDoc, Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("n_lines"),
            (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
          .withColumn("n_tokens_kept", expr(s"$LineTok * (n_lines - n_removed)"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS t
             |           FROM documents),
             |d AS (SELECT doc_id, t, CAST(len(t) // $LineTok AS BIGINT) AS nl FROM t),
             |l AS (SELECT doc_id, i AS pos,
             |        array_to_string(t[i * $LineTok + 1 : i * $LineTok + $LineTok], ' ') AS line
             |      FROM d, unnest(range(0, nl)) AS u(i)),
             |r AS (SELECT doc_id,
             |        row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
             |      FROM l),
             |p AS (SELECT doc_id,
             |        CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
             |      FROM r GROUP BY doc_id)
             |-- NULL-TEXT CONTRACT (NullTextSpec): a NULL doc reports NULL
             |-- line stats, not a zero-line doc — the bare COALESCE read 0
             |-- removed lines for a doc with no line model at all
             |SELECT d.doc_id, d.nl AS n_lines,
             |       CASE WHEN d.nl IS NULL THEN NULL
             |            ELSE COALESCE(p.n_removed, 0) END AS n_removed,
             |       CAST($LineTok * (d.nl - COALESCE(p.n_removed, 0)) AS BIGINT)
             |         AS n_tokens_kept
             |FROM d LEFT JOIN p USING (doc_id) ORDER BY d.doc_id""".stripMargin)),

    /** DEDUP FUNNEL — per-source token mass surviving each pipeline stage:
      * raw → quality gate → exact dedup (min-doc per fingerprint) →
      * near-dup drop (≥0.5 Jaccard losers) → line-level dedup of the
      * surviving corpus. The per-release accounting table a training team
      * actually watches: which stage is eating which source's tokens. The
      * first four stages restate [[cleanCorpusKeepers]]'s exact semantics
      * (same gate, same canonical pick, same loser set); the line stage
      * runs the dd_line_dedup keeper rule over ONLY the surviving docs, so
      * its mass is the tokens the packed corpus actually ships (span-
      * covered tokens: partial tail spans are outside the line model on
      * both sides).
      *
      * Scale shape: stage verdicts are doc-keyed flags carried in ONE
      * frame (no per-stage corpus re-scan); the near-dup set probes the
      * persisted pair-graph artifact; the line stage adds the standard
      * two line-keyed map-combinable shuffles; final rollup is
      * O(sources). */
    QueryDef(
      "dd_dedup_funnel",
      (s, d) => {
        val base = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("text"),
            // NULL-total (TextStats.nTokensAs): non-ANSI size(NULL) is -1,
            // which would leak into the tok_raw sums the oracle leaves NULL.
            expr(graft.text.TextStats.nTokensAs("BIGINT")).as("n_tokens"),
            expr(s"size(filter($toks, t -> t IN ('the', 'a', 'of', 'and', 'to')))")
              .as("n_stop"),
            normFp(col("text")).as("fp"))
          .withColumn("q_ok",
            expr(graft.text.TextStats.qualityKeepSql))
        val nearLoser = jaccardPairs(s, d, permille = 500)
          .select(col("doc_b").as("doc_id")).distinct()
          .withColumn("n_bad", lit(true))
        // OPTIMIZATION r22 (guide §2.4 — VERDICT r21 #4): the exact-keeper
        // verdict rides ONE window over the fp shuffle instead of a
        // groupBy(fp)+min + join-back, whose probe side re-ran the whole
        // tokenize+md5+gate base subtree (5 documents scans → 3 with
        // flagged's two consumers). Equivalence: old e_ok(doc) ⇔ doc is in
        // {min q_ok doc_id per fp} ⇔ q_ok AND doc_id = min(q_ok doc_ids in
        // its fp group) — the window states the right side directly; a
        // NULL-text doc (q_ok NULL) gets the dd_soft_dedup per-doc
        // isolation key, its group min is NULL, the equality is NULL, and
        // the coalesce lands the old left-join's FALSE. Trade stated
        // honestly: the window shuffles base's full rows (text included) by
        // fp where the old agg shuffled only (fp, doc_id) — but the old
        // join-back shuffled the same full rows by doc_id whenever the
        // keeper set outgrows a broadcast (any real corpus), plus the
        // second corpus scan; a hot fp (million-copy boilerplate) buffers
        // one window partition, the dd_exact_priority documented trade.
        val wFp = org.apache.spark.sql.expressions.Window.partitionBy(
          coalesce(col("fp"), concat(lit("null:"), col("doc_id"))))
        val flagged = base
          .join(nearLoser, Seq("doc_id"), "left_outer")
          .withColumn("e_ok", coalesce(
            col("q_ok") &&
              col("doc_id") === min(when(col("q_ok"), col("doc_id"))).over(wFp),
            lit(false)))
          .withColumn("s_ok", col("e_ok") && coalesce(col("n_bad"), lit(false)) =!= true)
          // Intra-query reuse (VERDICT r21 #4, guide §5 localCheckpoint):
          // flagged has two consumers (the line stage and the per-source
          // rollup) and exchange reuse does not span them, so without the
          // truncation the tokenize+md5+gate+window chain ran twice.
          // Paired with the window rewrite above: 1.691 → 1.539 (−9%),
          // documents scans 5 → 2. LOCAL checkpoint deliberately: the
          // funnel is a once-per-release accounting job, so it skips a
          // reliable-store round-trip of corpus-sized rows every release
          // (the connectedComponents scaladoc trade, opposite verdict
          // because its loop re-references checkpoints across rounds).
          // The cost: the blocks live only in executor storage and have no
          // lineage to recompute from, so losing an executor mid-run makes
          // LocalCheckpointRDD FAIL the job (the caller must re-run the
          // whole query); it does not silently recompute the lost rows.
          .localCheckpoint()
        val surv = flagged.filter(col("s_ok"))
          .select(col("doc_id"), col("source"), expr(toks).as("t"))
          .transform(withNl)
        val lineTok = lineKeepers(lineSpans(surv))
          .select(expr(packedLineDoc).as("doc_id"))
          .groupBy(col("doc_id")).agg(expr(s"$LineTok * count(1)").as("tok_line_doc"))
        // OPTIMIZATION r21 (guide §2.4/§1.2 step 1): the per-source rollup
        // only needs each keeper doc's SOURCE, so it attaches a plain
        // (doc_id, source) projection instead of re-joining `surv` — whose
        // subtree re-ran the full tokenize + normFp-md5 + quality-gate +
        // exact-keeper + near-loser chain a third time (the r20 plan shows
        // three copies of the base subtree; this drops the middle one: 6
        // documents scans → 4). Equivalence: the old form summed
        // coalesce(tok_line_doc, 0) over ALL surviving docs per source —
        // zero-keeper docs contribute nothing, so summing over lineTok's
        // rows alone is the same total; a source whose survivors all keep
        // nothing produced a (source, 0) row before and NO row now, and the
        // final left_outer join + coalesce(tok_line, 0) restates exactly
        // that 0. lineTok docs ⊆ documents, so the inner attach drops
        // nothing.
        val lineBySrc = lineTok
          .join(Tables.documents(s, d).select(col("doc_id"), col("source")), Seq("doc_id"))
          .groupBy(col("source"))
          .agg(sum(col("tok_line_doc")).as("tok_line"))
        flagged.groupBy(col("source"))
          .agg(sum(col("n_tokens")).as("tok_raw"),
            sum(when(col("q_ok"), col("n_tokens")).otherwise(0L)).as("tok_quality"),
            sum(when(col("e_ok"), col("n_tokens")).otherwise(0L)).as("tok_exact"),
            sum(when(col("s_ok"), col("n_tokens")).otherwise(0L)).as("tok_near"))
          .join(lineBySrc, Seq("source"), "left_outer")
          .withColumn("tok_line", coalesce(col("tok_line"), lit(0L)))
          .orderBy(col("source").asc_nulls_first)
      },
      Some(s"""WITH ${duckJaccard(500)},
             |base AS (
             |  SELECT doc_id, source,
             |         CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT)
             |           AS n_tokens,
             |         len(list_filter(string_split_regex(trim(text), ' +'),
             |                         t -> t IN ('the', 'a', 'of', 'and', 'to')))
             |           AS n_stop,
             |         md5(translate(regexp_replace(trim(text), ' +', ' ', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fp,
             |         string_split_regex(trim(text), ' +') AS t
             |  FROM documents),
             |b2 AS (SELECT *, (n_tokens BETWEEN 10 AND 1000
             |                  AND (100 * n_stop) // n_tokens < 40) AS q_ok FROM base),
             |ek AS (SELECT MIN(doc_id) AS doc_id FROM b2 WHERE q_ok GROUP BY fp),
             |nl_ AS (SELECT DISTINCT doc_b AS doc_id FROM jac),
             |fl AS (SELECT b2.*, (ek.doc_id IS NOT NULL) AS e_ok,
             |              (ek.doc_id IS NOT NULL AND nl_.doc_id IS NULL) AS s_ok
             |       FROM b2 LEFT JOIN ek USING (doc_id) LEFT JOIN nl_ USING (doc_id)),
             |surv AS (SELECT doc_id, source, t,
             |                CAST(len(t) // $LineTok AS BIGINT) AS nl FROM fl WHERE s_ok),
             |l AS (SELECT doc_id, source, i AS pos,
             |        array_to_string(t[i * $LineTok + 1 : i * $LineTok + $LineTok], ' ')
             |          AS line
             |      FROM surv, unnest(range(0, nl)) AS u(i)),
             |kp AS (SELECT MIN(doc_id * 1048576 + pos) AS kp FROM l GROUP BY line),
             |lt AS (SELECT kp // 1048576 AS doc_id,
             |              CAST($LineTok * COUNT(*) AS BIGINT) AS tok_line_doc
             |       FROM kp GROUP BY 1),
             |ls AS (SELECT s.source,
             |              CAST(SUM(COALESCE(lt.tok_line_doc, 0)) AS BIGINT) AS tok_line
             |       FROM surv s LEFT JOIN lt USING (doc_id) GROUP BY s.source),
             |agg AS (SELECT source,
             |          CAST(SUM(n_tokens) AS BIGINT) AS tok_raw,
             |          CAST(SUM(CASE WHEN q_ok THEN n_tokens ELSE 0 END) AS BIGINT)
             |            AS tok_quality,
             |          CAST(SUM(CASE WHEN e_ok THEN n_tokens ELSE 0 END) AS BIGINT)
             |            AS tok_exact,
             |          CAST(SUM(CASE WHEN s_ok THEN n_tokens ELSE 0 END) AS BIGINT)
             |            AS tok_near
             |        FROM fl GROUP BY source)
             |SELECT agg.source, tok_raw, tok_quality, tok_exact, tok_near,
             |       COALESCE(ls.tok_line, 0) AS tok_line
             |FROM agg LEFT JOIN ls ON ls.source = agg.source
             |ORDER BY agg.source NULLS FIRST""".stripMargin)),

    /** DELETION-PROPAGATION MANIFEST (the right-to-be-forgotten report):
      * given a tombstone set (here the deterministic doc_id % 97 = 0 rule
      * both engines state), what happens to each PERSISTED index artifact —
      * artifacts with per-row doc attribution (the MinHash signature table,
      * the SimHash code table, the Jaccard pair graph) support targeted
      * `delete_rows`, while the winnowed-fp index stores DISTINCT
      * fingerprints with NO doc attribution, so deletion forces a
      * `rebuild`; its n_purged is the fingerprint count that must disappear
      * afterwards (fps unique to tombstoned ingested docs — an fp shared
      * with any live doc survives the rebuild). This is a real design
      * consequence surfaced as data: deduplicated indexes trade deletability
      * for size, and a compliance pass must know which is which.
      *
      * Scale shape: each count probes the artifact (or, for the winnow
      * uniqueness test, the winnow posting stream) with map-combinable
      * aggregates and ONE anti-join on fp; output is 4 rows. The tombstone
      * predicate stands in for a broadcast tombstone dictionary — swapping
      * `% 97 = 0` for a semi-join against a tombstone table changes no plan
      * shape (the dd_decontaminate broadcast discipline). */
    QueryDef(
      "dd_purge_manifest",
      (s, d) => {
        val tomb = "doc_id % 97 = 0"
        val mh = minhashSigStored(s, d).agg(
          count(lit(1)).as("n_rows"),
          sum(when(expr(tomb), 1L).otherwise(0L)).as("n_purged"))
          .select(lit("mh_sig").as("artifact"), lit("delete_rows").as("action"),
            col("n_rows"), col("n_purged"))
        val sh = simhash60Stored(s, d).agg(
          count(lit(1)).as("n_rows"),
          sum(when(expr(tomb), 1L).otherwise(0L)).as("n_purged"))
          .select(lit("simhash60").as("artifact"), lit("delete_rows").as("action"),
            col("n_rows"), col("n_purged"))
        val jp = jaccardPairs(s, d, permille = 0).agg(
          count(lit(1)).as("n_rows"),
          sum(when(expr("doc_a % 97 = 0 OR doc_b % 97 = 0"), 1L).otherwise(0L))
            .as("n_purged"))
          .select(lit("jac_pairs").as("artifact"), lit("delete_rows").as("action"),
            col("n_rows"), col("n_purged"))
        // doc-ATTRIBUTED winnow postings as their own artifact: the
        // uniqueness test deletion requires can't use the fp-only index
        // (no attribution — that's the point of the rebuild verdict), and
        // recomputing the posting stream per compliance query would be the
        // manifest's only non-probe cost.
        val wPost = graft.Artifacts.indexParquet(s, "winnow_post", d, "documents")(
          graft.text.TextStats.winnowedFpRows(s, d)
            .filter(expr("doc_id % 5 <> 0")).select(col("doc_id"), col("fp")))
        val wGone = wPost.filter(expr(tomb)).select(col("fp")).distinct()
          .join(wPost.filter(expr(s"NOT ($tomb)")).select(col("fp")).distinct(),
            Seq("fp"), "left_anti")
        val wn = Tables.parquet(s, winnowFpIndexPath(s, d))
          .agg(count(lit(1)).as("n_rows"))
          .crossJoin(wGone.agg(count(lit(1)).as("n_purged")))
          .select(lit("winnow_idx").as("artifact"), lit("rebuild").as("action"),
            col("n_rows"), col("n_purged"))
        mh.unionAll(sh).unionAll(jp).unionAll(wn).orderBy("artifact")
      },
      Some(s"""WITH ${duckJaccard(0)},
             |${graft.text.TextStats.duckWinnowChain},
             |mh AS (SELECT COUNT(*) AS n_rows,
             |         CAST(SUM(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |           AS n_purged
             |       FROM documents
             |       WHERE len(string_split_regex(trim(text), ' +')) >= 3),
             |shc AS (SELECT COUNT(*) AS n_rows,
             |          CAST(SUM(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |            AS n_purged
             |        FROM documents),
             |jp AS (SELECT COUNT(*) AS n_rows,
             |         CAST(SUM(CASE WHEN doc_a % 97 = 0 OR doc_b % 97 = 0
             |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_purged
             |       FROM jac),
             |wpost AS (SELECT DISTINCT doc_id, unnest(fps) AS fp FROM m
             |          WHERE doc_id % 5 <> 0),
             |wrows AS (SELECT COUNT(DISTINCT fp) AS n_rows FROM wpost),
             |wgone AS (SELECT COUNT(*) AS n_purged FROM
             |            (SELECT DISTINCT fp FROM wpost WHERE doc_id % 97 = 0
             |             EXCEPT
             |             SELECT DISTINCT fp FROM wpost WHERE doc_id % 97 <> 0))
             |SELECT 'jac_pairs' AS artifact, 'delete_rows' AS action, n_rows, n_purged
             |  FROM jp
             |UNION ALL SELECT 'mh_sig', 'delete_rows', n_rows, n_purged FROM mh
             |UNION ALL SELECT 'simhash60', 'delete_rows', n_rows, n_purged FROM shc
             |UNION ALL SELECT 'winnow_idx', 'rebuild', wrows.n_rows,
             |            CAST(wgone.n_purged AS BIGINT) FROM wrows, wgone
             |ORDER BY artifact""".stripMargin)),

    /** LINE-DEDUP APPLY — the other half of [[defs dd_line_dedup]]: not the
      * per-doc removal COUNTS but the cleaned corpus itself, each document
      * re-assembled from only the spans it globally keeps (first occurrence
      * by (doc_id, pos), same packed-BIGINT keeper rule), in original span
      * order. This is the operator a training pipeline actually materializes
      * — C4's rule is "remove the line everywhere but its first occurrence",
      * and the output here IS that corpus (emitted as md5(clean_text) to
      * keep the driver compare narrow; the text column is one alias away).
      *
      * Distributed shape: the keeper table (one row per DISTINCT line) comes
      * from a map-combinable min — the million-copy cookie banner collapses
      * to one partial per task, never one partition. Occurrences then join
      * the keeper table on the line key, a 1:1-match fan-in with no
      * expansion (the keeper side has exactly one row per line, so a hot
      * line fans out to its occurrences and nothing more). The narrow
      * tokenize/explode stream is computed twice — once under the keeper
      * aggregation, once for the join probe; Spark can't reuse the exchange
      * because the agg side's partial combine sits below it — and that is
      * the right trade: both passes are linear map work, while the
      * single-pass alternatives (a window over the line key, or collecting
      * occurrence lists per line) serialize every copy of a hot line into
      * one partition. Re-assembly is a per-doc collect of that doc's own
      * kept spans — bounded by the doc's span count, the same contract as
      * tx_pack_sequences' per-doc token collect. Linear end to end, no pair
      * stage, hot lines stay map-side. */
    QueryDef(
      "dd_line_dedup_apply",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), expr(toks).as("t"))
          .transform(withNl)
        val lines = lineSpans(docs)
        val keep = lineKeepers(lines)
        // The probe-side pack can stay unguarded: every span row also flows
        // through lineKeepers' guarded min in the same job, so an
        // out-of-range row raises there before a silent mismatch here.
        val cleaned = lines.join(keep, Seq("line"))
          .filter(expr(s"doc_id * $LinePosW + pos = kp"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_kept"),
            collect_list(struct(col("pos"), col("line"))).as("pl"))
          .select(col("doc_id"), col("n_kept"),
            md5(expr("array_join(transform(array_sort(pl), x -> x.line), ' ')"))
              .as("clean_md5"))
        docs.select(col("doc_id"))
          .join(cleaned, Seq("doc_id"), "left_outer")
          .select(col("doc_id"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            coalesce(col("clean_md5"), lit(md5Empty)).as("clean_md5"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS t
             |           FROM documents),
             |d AS (SELECT doc_id, t, CAST(len(t) // $LineTok AS BIGINT) AS nl FROM t),
             |l AS (SELECT doc_id, i AS pos,
             |        array_to_string(t[i * $LineTok + 1 : i * $LineTok + $LineTok], ' ') AS line
             |      FROM d, unnest(range(0, nl)) AS u(i)),
             |k AS (SELECT line, MIN(doc_id * 1048576 + pos) AS kp FROM l GROUP BY line),
             |kept AS (SELECT l.doc_id, l.pos, l.line
             |         FROM l JOIN k ON k.line = l.line
             |              AND l.doc_id * 1048576 + l.pos = k.kp),
             |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             |          md5(string_agg(line, ' ' ORDER BY pos)) AS clean_md5
             |        FROM kept GROUP BY doc_id)
             |SELECT d.doc_id, COALESCE(agg.n_kept, 0) AS n_kept,
             |       COALESCE(agg.clean_md5, md5('')) AS clean_md5
             |FROM d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin)),

    /** SOFT dedup — reweight instead of drop (the SoftDeDup idea: keep every
      * copy but downweight it by its duplicate count, so the training
      * sampler sees each unique text with total mass 1 while preserving
      * in-dup-group diversity that hard dedup destroys). Per doc:
      * fingerprint-group size and the integer micro-unit sampling weight
      * 1e6/fp_count, plus the doc's effective (weighted) token mass.
      *
      * Distributed shape: ONE shuffle on the normalized-text fingerprint
      * (the dd_exact key — at scale this query and dd_exact share a
      * partitioning) carrying only (fp, doc_id, n_tokens); the group size
      * is a window count over that exchange, no join-back. Output is
      * corpus-sized but NARROW (3 ints per doc), the per-doc weight column
      * a sampler consumes directly. */
    QueryDef(
      "dd_soft_dedup",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        Tables.documents(s, d)
          .select(col("doc_id"),
            normFp(col("text")).as("fp"),
            // NULL-total (TextStats.nTokensAs): -1 would emit a negative
            // eff_tokens_micro where the oracle answers NULL
            expr(graft.text.TextStats.nTokensAs("BIGINT")).as("n_tokens"))
          // NULL fp (NULL text) isolates PER DOC: window PARTITION BY
          // groups all NULLs together in both engines, so two unknown-
          // content docs would halve each other's sampling weight as if
          // they were copies — the dd_exact NULL-fingerprint contract says
          // they are not dedupable (round-19 review; NullTextSpec).
          .withColumn("fp_count", count(lit(1)).over(Window.partitionBy(
            coalesce(col("fp"), concat(lit("null:"), col("doc_id"))))))
          .select(col("doc_id"), col("fp_count"),
            expr("1000000 div fp_count").as("weight_micro"),
            expr("(n_tokens * 1000000) div fp_count").as("eff_tokens_micro"))
          .orderBy("doc_id")
      },
      Some("""WITH f AS (SELECT doc_id,
             |         md5(translate(regexp_replace(trim(text), ' +', ' ', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fp,
             |         CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS n_tokens
             |       FROM documents),
             |c AS (SELECT doc_id, n_tokens,
             |        COUNT(*) OVER (PARTITION BY COALESCE(fp, 'null:' || doc_id))
             |          AS fp_count FROM f)
             |SELECT doc_id, fp_count, 1000000 // fp_count AS weight_micro,
             |       (n_tokens * 1000000) // fp_count AS eff_tokens_micro
             |FROM c ORDER BY doc_id""".stripMargin)),

    /** TRAIN/EVAL SPLIT LEAKAGE AUDIT — the check every benchmark-honest
      * pipeline runs after splitting: how many ≥0.5-Jaccard near-dup pairs
      * CROSS the deterministic 80/10/10 md5 split (an_train_split's exact
      * assignment)? A train↔test near-dup is memorized eval data; the audit
      * emits the pair mass per unordered split combination with a leak
      * verdict, so a gate can fail the build when the crossing count is
      * nonzero (dd_decontaminate is the remedial op).
      *
      * Distributed shape: the ≥0.5 pair graph is the PERSISTED artifact
      * (jaccardPairs — no new corpus pass); the split attach is two
      * doc-keyed joins of a 2-column frame against pair-sized data, then an
      * O(split²)=O(9) aggregate. The split column is derived, not stored,
      * so the audit works on any corpus without schema changes. */
    QueryDef(
      "dd_split_leakage",
      (s, d) => {
        val splitOf = "CASE WHEN CAST(conv(substr(md5(CAST(%s AS STRING)), 1, 15), 16, 10) " +
          "AS BIGINT) %% 100 < 80 THEN 'train' WHEN CAST(conv(substr(md5(CAST(%s AS STRING))" +
          ", 1, 15), 16, 10) AS BIGINT) %% 100 < 90 THEN 'val' ELSE 'test' END"
        jaccardPairs(s, d, permille = 500)
          .select(col("doc_a"), col("doc_b"))
          .withColumn("sa", expr(splitOf.format("doc_a", "doc_a")))
          .withColumn("sb", expr(splitOf.format("doc_b", "doc_b")))
          .select(least(col("sa"), col("sb")).as("split_lo"),
            greatest(col("sa"), col("sb")).as("split_hi"))
          .groupBy(col("split_lo"), col("split_hi"))
          .agg(count(lit(1)).as("n_pairs"))
          .withColumn("leaks",
            when(col("split_lo") =!= col("split_hi"), "leak").otherwise("ok"))
          .orderBy("split_lo", "split_hi")
      },
      Some(s"""WITH RECURSIVE
             |${duckJaccard(500)},
             |sp AS (SELECT doc_a, doc_b,
             |         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_a AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
             |              WHEN CAST(('0x' || substr(md5(CAST(doc_a AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
             |              ELSE 'test' END AS sa,
             |         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_b AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
             |              WHEN CAST(('0x' || substr(md5(CAST(doc_b AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
             |              ELSE 'test' END AS sb
             |       FROM jac)
             |SELECT LEAST(sa, sb) AS split_lo, GREATEST(sa, sb) AS split_hi,
             |       COUNT(*) AS n_pairs,
             |       CASE WHEN LEAST(sa, sb) <> GREATEST(sa, sb) THEN 'leak' ELSE 'ok' END AS leaks
             |FROM sp GROUP BY 1, 2 ORDER BY split_lo, split_hi""".stripMargin)),
  )
}
