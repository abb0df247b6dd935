package graft.text

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** The corpus-TRANSFORM half of the text query surface (round-17 split,
  * same template as [[TextCorpusStatsQueries]]): chunking/CDC, sequence
  * packing (windowed and sharded), span/blocklist masking, mixture
  * budgeting/sampling, PII scrubbing, BPE train/apply (delegating to
  * [[TextBpe]]), split assignment, curriculum ordering, the DP histogram,
  * and packing-efficiency audit. These produce the training-data
  * artifacts the stats half measures. Mixed into [[TextStats]]; LAZY for
  * the same object-init-order reason. */
private[text] trait TextPipelineQueries { this: TextStats.type =>

  private[text] lazy val pipelineDefs: Seq[QueryDef] = Seq(

    /** Overlapping token-window chunking — the preprocessing step feeding
      * embedding/RAG pipelines: 50-token chunks advancing by 40 (10-token
      * overlap), stable (doc_id, chunk_idx) identity, md5 fingerprint per
      * chunk. One narrow pass (HOF sequence → slice inside codegen, then
      * posexplode); chunk count per doc is ceil-div arithmetic both engines
      * share. At 100 TB this is the shape that matters: no shuffle, output
      * partitioning inherits the scan. */
    QueryDef(
      "tx_chunks",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), expr(toks).as("t"))
        .withColumn("n", size(col("t")))
        .select(col("doc_id"),
          posexplode(expr(
            "transform(sequence(0, (greatest(n - 50, 0) + 39) div 40), i -> " +
              "slice(t, CAST(i * 40 + 1 AS INT), 50))")).as(Seq("chunk_idx", "ctoks")))
        .select(col("doc_id"),
          col("chunk_idx").cast("int").as("chunk_idx"),
          // NULL-TEXT CONTRACT (nullgrid v4): a NULL doc yields one NULL
          // chunk whose token count is NULL in both engines — non-ANSI
          // size(NULL) = -1 where the oracle's len(NULL) is NULL.
          expr("CASE WHEN ctoks IS NULL THEN NULL ELSE size(ctoks) END")
            .cast("int").as("n_chunk_tokens"),
          md5(array_join(col("ctoks"), " ")).as("chunk_fp"))
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH toksq AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents),
             |c AS (SELECT doc_id, t,
             |             unnest(range(0, (greatest(len(t) - 50, 0) + 39) // 40 + 1)) AS idx
             |      FROM toksq)
             |SELECT doc_id, CAST(idx AS INTEGER) AS chunk_idx,
             |       CAST(len(list_slice(t, idx * 40 + 1, idx * 40 + 50)) AS INTEGER)
             |         AS n_chunk_tokens,
             |       md5(array_to_string(list_slice(t, idx * 40 + 1, idx * 40 + 50), ' '))
             |         AS chunk_fp
             |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),

    /** SEQUENCE PACKING: lay each source's documents end-to-end (ordered by
      * doc_id) into fixed 256-token training windows — the concat-and-cut
      * packing every LLM pretraining pipeline runs before batching. Emits,
      * per doc, its first/last window index and offset; `is_split` marks a
      * doc straddling a window boundary. One window shuffle partitioned by
      * source — the packing unit IS the parallelism unit, so at 100 TB the
      * pipeline packs per (source, shard) to keep partitions bounded; the
      * per-source prefix sum itself is the standard sequential scan within a
      * partition (no cross-partition dependency). Integer-only arithmetic:
      * Spark `div` truncation equals DuckDB `//` floor on these non-negative
      * operands. */
    QueryDef(
      "tx_pack_sequences",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.documents(s, d)
          .select(col("source"), col("doc_id"),
            expr(nTokensAs("BIGINT")).as("n_tokens"))
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .select(Seq(col("source"), col("doc_id"), col("n_tokens"))
            ++ windowIndexCols: _*)
          // source is nullable on staged corpora (nullgrid v4): pin the
          // NULL group's direction on both sides
          .orderBy(col("source").asc_nulls_first, col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT source, doc_id,
             |                  CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS n_tokens
             |           FROM documents),
             |c AS (SELECT source, doc_id, n_tokens,
             |             CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
             |      FROM t)
             |SELECT source, doc_id, n_tokens,
             |       (cum - n_tokens) // $PackWin AS win_first,
             |       (cum - 1) // $PackWin AS win_last,
             |       (cum - n_tokens) % $PackWin AS offset_in_win,
             |       (cum - n_tokens) // $PackWin <> (cum - 1) // $PackWin AS is_split
             |FROM c ORDER BY source NULLS FIRST, doc_id""".stripMargin)),

    /** SHARDED SEQUENCE PACKING — the 100 TB shape of tx_pack_sequences.
      * The unsharded variant's window puts an entire source in ONE task; a
      * popular source is terabytes, a straggler/OOM at scale. Two-level scan
      * instead: shard = doc_id div 64 (width is a tunable — at scale it grows
      * with the corpus so the shard COUNT stays bounded and the carry table
      * stays broadcastable);
      *  level 1: per-(source, shard) prefix sum — every window partition is
      *           bounded by the shard width, never by a source's size;
      *  level 2: per-shard token totals (n_docs/64 rows), an exclusive
      *           running sum per source = each shard's carry-in offset,
      *           broadcast-joined back.
      * cum = carry_in + cum_in_shard reproduces the unsharded cumulative sum
      * EXACTLY (same oracle output shape as tx_pack_sequences), because
      * shard order is doc_id order. This is the classic two-level parallel
      * prefix scan expressed in pure DataFrame ops. */
    QueryDef(
      "tx_pack_sequences_sharded",
      (s, d) => shardedCum(
          Tables.documents(s, d)
            .select(col("source"), col("doc_id"),
              expr(nTokensAs("BIGINT")).as("n_tokens")),
          Seq("source"))
        .select(Seq(col("source"), col("doc_id"), col("n_tokens"))
          ++ windowIndexCols: _*)
        .orderBy(col("source").asc_nulls_first, col("doc_id")),
      Some(s"""WITH t AS (SELECT source, doc_id,
             |                  CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS n_tokens,
             |                  doc_id // 64 AS shard
             |           FROM documents),
             |s AS (SELECT source, shard, doc_id, n_tokens,
             |             CAST(SUM(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_in_shard
             |      FROM t),
             |-- carry_in stays NULLABLE and cum restates shardedCum's rule
             |-- (NULL iff NO non-NULL count precedes): the earlier
             |-- COALESCE(carry,0) + plain `carry + cum_in_shard` went NULL
             |-- whenever a NULL-count doc OPENED a shard, diverging from the
             |-- unsharded window-sum on nullable-text corpora (nullgrid v4)
             |c AS (SELECT source, shard,
             |             CAST(SUM(SUM(n_tokens)) OVER (PARTITION BY source ORDER BY shard
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS carry_in
             |      FROM t GROUP BY source, shard),
             |m AS (SELECT s.source, s.doc_id, s.n_tokens,
             |             CASE WHEN carry_in IS NULL AND cum_in_shard IS NULL THEN NULL
             |                  ELSE COALESCE(carry_in, 0) + COALESCE(cum_in_shard, 0)
             |             END AS cum
             |      FROM s JOIN c USING (source, shard))
             |SELECT source, doc_id, n_tokens,
             |       (cum - n_tokens) // $PackWin AS win_first,
             |       (cum - 1) // $PackWin AS win_last,
             |       (cum - n_tokens) % $PackWin AS offset_in_win,
             |       (cum - n_tokens) // $PackWin <> (cum - 1) // $PackWin AS is_split
             |FROM m ORDER BY source NULLS FIRST, doc_id""".stripMargin)),

    /** SPAN CORRUPTION (the T5/span-denoising objective prep): mask every
      * 5th 3-token span — positions i with (i div 3) % 5 = 0 — replacing
      * each masked span with ONE `<extra_id_k>` sentinel (k = i div 15, the
      * span's order among masked spans) and emitting the corrupted input
      * and the target (the masked tokens, in order) as md5 digests plus
      * exact counts. Deterministic by construction — no RNG, the span
      * schedule is pure integer arithmetic — so the corruption is
      * reproducible across engines, runs, and shards, which is what makes
      * a distributed objective-prep pass auditable (re-running a shard
      * yields byte-identical training pairs). ~20% token corruption rate,
      * the T5 default neighborhood.
      *
      * Scale shape: entirely row-local — one narrow projection of array
      * HOFs inside codegen, zero shuffles before the presentation sort.
      * The corruption schedule being positional (not content-keyed) means
      * NO skew by construction. */
    QueryDef(
      "tx_mask_spans",
      // r21 A/B note: Tables.documentsSpread was tried here (the
      // tx_pii_scrub remedy) and measured NO win — the HOF battery over
      // this row count doesn't dominate the way the regex battery does, so
      // the spread exchange was pure cost. Left narrow.
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), expr(toks).as("tk"))
        // NULL-total (TextStats.nTokensAs discipline): size(NULL tk) = -1
        // would drive sequence(0, -2) and emit corrupted/masked values
        // where the oracle answers NULL throughout
        .withColumn("n_tokens",
          expr("CAST(CASE WHEN tk IS NULL THEN NULL ELSE size(tk) END AS BIGINT)"))
        .withColumn("corrupted", expr(
          "array_join(filter(transform(sequence(0, CAST(n_tokens AS INT) - 1), " +
            "i -> CASE WHEN (i div 3) % 5 <> 0 THEN tk[i] " +
            "WHEN i % 3 = 0 THEN concat('<extra_id_', CAST(i div 15 AS STRING), '>') " +
            "ELSE NULL END), x -> x IS NOT NULL), ' ')"))
        .withColumn("target", expr(
          "array_join(transform(filter(sequence(0, CAST(n_tokens AS INT) - 1), " +
            "i -> (i div 3) % 5 = 0), i -> tk[i]), ' ')"))
        .withColumn("n_masked", expr(
          // the NULL-n_tokens row must stay NULL here too: size(NULL
          // filter result) would be -1
          "CASE WHEN n_tokens IS NULL THEN CAST(NULL AS BIGINT) ELSE " +
            "CAST(size(filter(sequence(0, CAST(n_tokens AS INT) - 1), " +
            "i -> (i div 3) % 5 = 0)) AS BIGINT) END"))
        .select(col("doc_id"), col("n_tokens"), col("n_masked"),
          md5(col("corrupted")).as("corrupted_md5"),
          md5(col("target")).as("target_md5"))
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS tk,
             |                  CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT)
             |                    AS n_tokens
             |           FROM documents),
             |m AS (SELECT doc_id, n_tokens,
             |        array_to_string(list_filter(list_transform(
             |          range(0, n_tokens), i ->
             |            CASE WHEN (i // 3) % 5 <> 0 THEN tk[CAST(i + 1 AS INTEGER)]
             |                 WHEN i % 3 = 0
             |                   THEN '<extra_id_' || CAST(i // 15 AS VARCHAR) || '>'
             |                 ELSE NULL END), x -> x IS NOT NULL), ' ') AS corrupted,
             |        array_to_string(list_transform(list_filter(
             |          range(0, n_tokens), i -> (i // 3) % 5 = 0),
             |          i -> tk[CAST(i + 1 AS INTEGER)]), ' ') AS target,
             |        CAST(len(list_filter(range(0, n_tokens), i -> (i // 3) % 5 = 0))
             |             AS BIGINT) AS n_masked
             |      FROM t)
             |SELECT doc_id, n_tokens, n_masked,
             |       md5(corrupted) AS corrupted_md5, md5(target) AS target_md5
             |FROM m ORDER BY doc_id""".stripMargin)),

    /** BLOCKLIST MASKING: count, per document, the tokens that belong to a
      * corpus-derived blocklist (here: the 5 most frequent tokens, ties
      * broken by token — the PII-scrub / vocabulary-filter plumbing; the
      * fixture text has no PII patterns, so the blocklist is derived so the
      * masking actually fires). At scale the blocklist is tiny and rides a
      * BROADCAST to the token stream — one corpus-count shuffle to build it,
      * one doc_id shuffle to re-aggregate, no join shuffle. */
    QueryDef(
      "tx_mask_blocklist",
      (s, d) => {
        val tk = Tables.documents(s, d)
          .select(col("doc_id"), explode(expr(toks)).as("tok"))
        val top = tk.groupBy(col("tok")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("tok")).limit(5)
          .select(col("tok"), lit(1).as("hit"))
        tk.join(broadcast(top), Seq("tok"), "left_outer")
          .groupBy(col("doc_id"))
          .agg(count(col("hit")).as("n_masked"), count(lit(1)).as("n_total"))
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS tok
             |            FROM documents),
             |top AS (SELECT tok FROM tk GROUP BY tok
             |        ORDER BY COUNT(*) DESC, tok LIMIT 5)
             |SELECT tk.doc_id, COUNT(top.tok) AS n_masked, COUNT(*) AS n_total
             |FROM tk LEFT JOIN top ON tk.tok = top.tok
             |GROUP BY tk.doc_id ORDER BY tk.doc_id""".stripMargin)),

    /** CORPUS MIXING to a token budget: downsample the corpus to 1/4 of its
      * tokens while EQUALIZING sources — each source gets an equal share of
      * the budget, so over-represented sources are cut hard and small
      * sources keep everything (rate capped at 1000‰). This is the
      * source-weighting step every pretraining data pipeline runs before
      * packing. Sampling is the deterministic md5-permille discipline
      * (an_hash_sample): reproducible across engines, partitionings and
      * reruns. Distributed shape: one per-source token count (map-side
      * partial), two scalar aggregates broadcast back, then a narrow
      * filter — the corpus is never shuffled. All-integer rate arithmetic,
      * identically nested in both engines. */
    QueryDef(
      "tx_mix_budget",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            // NULL-total: a -1 from size(NULL) would poison the per-source
            // token totals where the oracle's SUM skips the NULL
            expr(nTokensAs("BIGINT")).as("n_tokens"),
            expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 1000")
              .as("bucket"))
        val perSource = docs.groupBy(col("source")).agg(sum(col("n_tokens")).as("t_s"))
        val global = perSource.agg(
          sum(col("t_s")).as("total"), count(lit(1)).as("nsrc"))
        val rates = perSource.crossJoin(broadcast(global))
          .select(col("source"),
            expr("least(CAST(1000 AS BIGINT), (1000 * ((total div 4) div nsrc)) div t_s)")
              .as("rate_permille"))
        docs.join(broadcast(rates), "source")
          .filter(col("bucket") < col("rate_permille"))
          .groupBy(col("source"), col("rate_permille"))
          .agg(count(lit(1)).as("n_docs_sampled"), sum(col("n_tokens")).as("n_tokens_sampled"))
          .orderBy(col("source").asc_nulls_first)
      },
      Some("""WITH docs AS (SELECT doc_id, source,
             |    CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS n_tokens,
             |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS bucket
             |  FROM documents),
             |per_source AS (SELECT source, SUM(n_tokens) AS t_s FROM docs GROUP BY source),
             |g AS (SELECT SUM(t_s) AS total, COUNT(*) AS nsrc FROM per_source),
             |rates AS (SELECT source,
             |    CAST(least(CAST(1000 AS BIGINT), (1000 * ((total // 4) // nsrc)) // t_s) AS BIGINT)
             |      AS rate_permille
             |  FROM per_source, g)
             |SELECT d.source, r.rate_permille,
             |       COUNT(*) AS n_docs_sampled,
             |       CAST(SUM(d.n_tokens) AS BIGINT) AS n_tokens_sampled
             |FROM docs d JOIN rates r ON d.source = r.source
             |WHERE d.bucket < r.rate_permille
             |GROUP BY d.source, r.rate_permille ORDER BY d.source""".stripMargin)),

    /** CONTENT-DEFINED CHUNKING (CDC) — chunk boundaries from the content
      * itself (a 4-gram rolling hash hitting `% 16 == 0`), not fixed
      * offsets: insert a sentence mid-doc and only the chunks AROUND the
      * edit change identity, where [[tx_chunks]]' fixed windows all shift.
      * That edit-stability is why storage dedup and near-dup corpus
      * screening chunk this way. Emitted per chunk: gram count, additive
      * fingerprint, position span. Same one-window discipline as
      * winnowedFpRows — the lead() gram assembly and the boundary running
      * sum share ONE (doc_id, pos) sort; the grouped rollup keys on
      * (doc_id, chunk_seq) with map-side combine. */
    QueryDef(
      "tx_cdc_chunks",
      (s, d) =>
        cdcChunkIndex(s, d)
          .select(col("doc_id"), col("chunk_seq"), col("cg").as("n_grams"),
            col("cfp").as("fp_sum"), col("pos_first"), col("pos_last"))
          .orderBy("doc_id", "chunk_seq"),
      Some(s"""WITH $duckCdcChain
             |SELECT doc_id, chunk_seq, COUNT(*) AS n_grams,
             |       CAST(SUM(ghash) AS BIGINT) AS fp_sum,
             |       MIN(pos) AS pos_first, MAX(pos) AS pos_last
             |FROM c GROUP BY doc_id, chunk_seq
             |ORDER BY doc_id, chunk_seq""".stripMargin)),

    /** PII SCRUBBING — the privacy-redaction battery every pretraining
      * pipeline runs before text ships: emails, IPv4 addresses, phone-shaped
      * numbers and long account-number digit runs are replaced by typed
      * placeholder tags, with per-document redaction counts as the audit
      * output. The fixture corpus is synthetic and PII-free, so the query
      * PLANTS a deterministic contact footer derived from doc_id (the same
      * concat expression in both engines) and then proves the scrubber
      * strips exactly those spans — on a real corpus the identical battery
      * runs over the raw text. Patterns are written escape-free (character
      * classes only) so Java regex and RE2 agree literally; each pattern is
      * counted on the PREVIOUS stage's output and replaced in the same
      * order (email → ip → phone → id), so a span consumed by an earlier
      * stage can never double-count in a later one. Distributed shape: a
      * narrow per-row map — no shuffle, no UDF, all four regexes inside one
      * whole-stage-codegen projection; the only ordering cost is the
      * driver-contract ORDER BY. */
    QueryDef(
      "tx_pii_scrub",
      // OPTIMIZATION r21: Tables.documentsSpread — eight regex passes per
      // row, pre-exchange (guide §2.5 coarse-input remedy; no-op when the
      // source has ≥ parallelism row groups).
      (s, d) => Tables.documentsSpread(s, d)
        .select(col("doc_id"),
          expr("concat(text, ' contact user', CAST(doc_id AS STRING), " +
            "'@example.com tel 555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), " +
            "' host 10.0.', CAST(doc_id % 256 AS STRING), '.', " +
            "CAST((doc_id * 7) % 256 AS STRING), ' acct ', " +
            "CAST(100000 + doc_id AS STRING))").as("body"))
        .withColumn("n_emails",
          expr(s"CAST(regexp_count(body, '$PiiEmail') AS BIGINT)"))
        .withColumn("t1", expr(s"regexp_replace(body, '$PiiEmail', '<EMAIL>')"))
        .withColumn("n_ips", expr(s"CAST(regexp_count(t1, '$PiiIp') AS BIGINT)"))
        .withColumn("t2", expr(s"regexp_replace(t1, '$PiiIp', '<IP>')"))
        .withColumn("n_phones",
          expr(s"CAST(regexp_count(t2, '$PiiPhone') AS BIGINT)"))
        .withColumn("t3", expr(s"regexp_replace(t2, '$PiiPhone', '<PHONE>')"))
        .withColumn("n_ids", expr(s"CAST(regexp_count(t3, '$PiiId') AS BIGINT)"))
        .withColumn("clean", expr(s"regexp_replace(t3, '$PiiId', '<ID>')"))
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          col("n_ids"), md5(col("clean")).as("clean_md5"))
        .orderBy("doc_id"),
      Some(s"""WITH b AS (SELECT doc_id,
             |  text || ' contact user' || CAST(doc_id AS VARCHAR)
             |       || '@example.com tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             |       || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
             |       || CAST((doc_id * 7) % 256 AS VARCHAR)
             |       || ' acct ' || CAST(100000 + doc_id AS VARCHAR) AS body
             |  FROM documents),
             |s1 AS (SELECT doc_id,
             |  CAST(len(regexp_extract_all(body, '$PiiEmail')) AS BIGINT) AS n_emails,
             |  regexp_replace(body, '$PiiEmail', '<EMAIL>', 'g') AS t1 FROM b),
             |s2 AS (SELECT doc_id, n_emails,
             |  CAST(len(regexp_extract_all(t1, '$PiiIp')) AS BIGINT) AS n_ips,
             |  regexp_replace(t1, '$PiiIp', '<IP>', 'g') AS t2 FROM s1),
             |s3 AS (SELECT doc_id, n_emails, n_ips,
             |  CAST(len(regexp_extract_all(t2, '$PiiPhone')) AS BIGINT) AS n_phones,
             |  regexp_replace(t2, '$PiiPhone', '<PHONE>', 'g') AS t3 FROM s2),
             |s4 AS (SELECT doc_id, n_emails, n_ips, n_phones,
             |  CAST(len(regexp_extract_all(t3, '$PiiId')) AS BIGINT) AS n_ids,
             |  regexp_replace(t3, '$PiiId', '<ID>', 'g') AS clean FROM s3)
             |SELECT doc_id, n_emails, n_ips, n_phones, n_ids, md5(clean) AS clean_md5
             |FROM s4 ORDER BY doc_id""".stripMargin)),

    /** BPE MERGE TRAINING (see [[bpeMerges]]): the first [[BpeRounds]]
      * learned merges — (rank, lhs, rhs, merged, weighted pair count) —
      * trained on the corpus word-frequency dictionary with exact
      * deterministic selection and greedy application; the oracle replays
      * every round. */
    QueryDef(
      "tx_bpe_merges",
      (s, d) => bpeMergesDf(s, d),
      Some(duckBpeSql())),

    /** BPE application (see [[bpeApplyDf]]): per-doc word and subword
      * counts under the learned merge table — the corpus-side half of the
      * tokenizer story (train [[bpeMerges]] / apply here). */
    QueryDef(
      "tx_bpe_apply",
      (s, d) => bpeApplyDf(s, d),
      Some(duckBpeApplySql())),

    /** DATA-MIXTURE SAMPLING — temperature-weighted source mixing, the
      * knob every pretraining data recipe turns: source s gets sampling
      * weight ∝ n_s^(1/2) (temperature α = 0.5 flattens the source
      * distribution so small high-quality sources are up-weighted), a
      * total budget of ⌊N/5⌋ documents is split across sources by those
      * weights, and each source's slice is drawn DETERMINISTICALLY by
      * hash threshold: keep doc iff its 32-bit md5 prefix <
      * target/n_s · 2³². Emits the full per-source accounting — count,
      * fixed-point weight, integer target, realized sample size, and a
      * doc_id-sum checksum of the picked set (so the oracle verifies the
      * exact membership, not just counts).
      *
      * Scale shape: the per-source stats and thresholds are an O(sources)
      * table attached by BROADCAST; selection is a pure scan-parallel
      * predicate on a codegen'd hash ([[graft.functions.Md5Prefix48]]) —
      * no sort, no window, no shuffle of the document stream at all
      * (contrast exact top-k-by-hash per source, which would need a
      * per-source sort; the threshold draw's size is binomial around the
      * target, the standard trade in shard-parallel samplers). Numerics:
      * ONE correctly-rounded IEEE sqrt then fixed-point integer math, so
      * Spark and DuckDB agree bit-for-bit; thresh = target·2³²/n_s stays
      * under 2⁶³ for any corpus where target ≤ 2³⁰. */
    QueryDef(
      "tx_mixture_sample",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val rates = mixtureRates(docs)
        val picked = sampleByThreshold(docs, rates)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_sampled"), sum(col("doc_id")).as("picked_sum"))
        // both sides are O(sources) aggregates — broadcast the accounting
        // side so the initial plan is a BroadcastHashJoin, not a 20-row
        // SortMergeJoin (AQE would convert at runtime; declare it anyway)
        rates.select(col("source"), col("n_docs"), col("weight_fp"), col("n_target"))
          .join(broadcast(picked), Seq("source"), "left_outer")
          .select(col("source"), col("n_docs"), col("weight_fp"), col("n_target"),
            coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
            coalesce(col("picked_sum"), lit(0L)).as("picked_sum"))
          .orderBy(col("source").asc_nulls_first)
      },
      Some(s"""WITH $duckMixtureChain,
             |p AS (SELECT d.source, COUNT(*) AS n_sampled,
             |        SUM(d.doc_id) AS picked_sum
             |      FROM documents d JOIN r ON r.source = d.source
             |      WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |              < r.thresh
             |      GROUP BY d.source)
             |SELECT r.source, r.n_docs, r.weight_fp, r.n_target,
             |       CAST(COALESCE(p.n_sampled, 0) AS BIGINT) AS n_sampled,
             |       CAST(COALESCE(p.picked_sum, 0) AS BIGINT) AS picked_sum
             |FROM r LEFT JOIN p ON p.source = r.source ORDER BY r.source NULLS FIRST""".stripMargin)),

    /** DETERMINISTIC STRATIFIED SPLIT — the per-doc ASSIGNMENT TABLE
      * (the artifact downstream jobs join against), complementing
      * `an_train_split` (ops/Analytics.scala), which emits the per-source
      * accounting ROLLUP of a split whose bucket hashes md5 bits 1-60 —
      * overlapping the mixture sampler's draw bits. Here each doc's bucket
      * comes from md5 hex chars 9-12 (16 bits), DISJOINT BY CONSTRUCTION
      * from the 32 bits [[sampleByThreshold]] draws on, so split
      * membership and mixture sampling are provably independent —
      * correlating them would bias the val set toward the sampled mixture.
      * Thresholds are integer 16-bit counts (5% val = 3276/65536, 5% test)
      * so both engines compare exactly; assignment is reproducible from
      * doc_id alone (re-running a shard, or re-splitting after an append,
      * never reshuffles existing docs between splits — the property that
      * keeps eval sets stable across corpus versions).
      *
      * Scale shape: scan-parallel projection, no shuffle except the
      * output's ORDER BY; stratification is free (the hash is uniform
      * within every source). */
    QueryDef(
      "tx_split_assign",
      (s, d) => withSplit(Tables.documents(s, d))
        .select(col("source"), col("doc_id"), col("h16"), col("split"))
        .orderBy("doc_id"),
      Some(s"""SELECT source, doc_id,
             |       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 4)) AS BIGINT)
             |         AS h16,
             |       CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 4))
             |                      AS BIGINT) < $SplitValMax THEN 'val'
             |            WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 4))
             |                      AS BIGINT) < $SplitTestMax THEN 'test'
             |            ELSE 'train' END AS split
             |FROM documents ORDER BY doc_id""".stripMargin)),

    /** CURRICULUM ORDERING — the deterministic easy→hard training schedule:
      * stage documents by a difficulty proxy (integer avg word length ×100;
      * fixed thresholds 444/457 ≈ corpus tertiles), then define the training
      * order WITHIN each stage by a seedless md5 shuffle. The schedule is a
      * SORT KEY, not a dense rank: sched_key = stage·2⁴⁰ + first-40-bits of
      * md5(doc_id), so the whole assignment is a scan-parallel projection —
      * no global row_number window (which would force a single-partition
      * sort at 100 TB); the pipeline writes the corpus sorted by (sched_key,
      * doc_id) and the trainer streams it in curriculum order. Same
      * reproducibility contract as tx_split_assign: any engine, any
      * partitioning, any day → the same order. */
    QueryDef(
      "tx_curriculum_order",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          expr(s"(100 * length(replace(text, ' ', ''))) div size($toks)").as("difficulty_c"))
        .withColumn("stage",
          expr("CAST(CASE WHEN difficulty_c < 444 THEN 0 WHEN difficulty_c < 457 THEN 1 " +
            "ELSE 2 END AS INTEGER)"))
        .withColumn("sched_key",
          expr("stage * 1099511627776L + " +
            "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 10), 16, 10) AS BIGINT)"))
        .select(col("doc_id"), col("difficulty_c"), col("stage"), col("sched_key"))
        .orderBy("sched_key", "doc_id"),
      Some("""WITH t AS (SELECT doc_id,
             |         (100 * length(replace(text, ' ', '')))
             |           // len(string_split_regex(trim(text), ' +')) AS difficulty_c
             |       FROM documents),
             |st AS (SELECT doc_id, difficulty_c,
             |         CAST(CASE WHEN difficulty_c < 444 THEN 0
             |                   WHEN difficulty_c < 457 THEN 1 ELSE 2 END AS INTEGER) AS stage
             |       FROM t)
             |SELECT doc_id, difficulty_c, stage,
             |       stage * 1099511627776 +
             |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10)) AS BIGINT)
             |         AS sched_key
             |FROM st ORDER BY sched_key, doc_id""".stripMargin)),

    /** DIFFERENTIALLY-PRIVATE HISTOGRAM RELEASE — per-source doc counts
      * published under ε = ln 3 (sensitivity 1: one document moves one
      * count by one): each count gets DISCRETE two-sided geometric noise
      * drawn by exact inverse-CDF inversion over a 48-bit md5 uniform keyed
      * on (seed tag, source) — see [[dpThresholds]] for the exact
      * rational thresholds both engines share. Deterministic per seed
      * (rerunning the release never re-randomizes — republishing with
      * fresh noise would leak through averaging), negative counts clamp to
      * zero post-noise (standard, does not affect the DP guarantee).
      *
      * THIS REGISTERED FORM IS THE MECHANISM TEST, NOT A RELEASE: it draws
      * from the fixed public [[DpHarnessSeed]] (so DuckDB can replay the
      * noise bit-for-bit) and emits n_raw/noise alongside n_noisy (so the
      * oracle checks the arithmetic). A real release does neither — it
      * passes a secret per-release seed and projects [[DpPublicCols]];
      * that path is exercised by RunCorpusPipeline's data card.
      *
      * Distributed shape: one partial-aggregating count shuffle; the noise
      * draw is a row-local projection over the O(sources) result. */
    QueryDef(
      "tx_dp_histogram",
      (s, d) => dpNoisyCounts(Tables.documents(s, d), "source", seedTag = DpHarnessSeed),
      Some {
        val tArr = dpThresholds.mkString("[", ", ", "]")
        // The Spark side binds the seed as a lit; this oracle interpolates it
        // into SQL text, so escape quotes to keep the two paths equally
        // robust against a future seed constant containing one.
        val seedSql = DpHarnessSeed.replace("'", "''")
        s"""WITH c AS (SELECT source, COUNT(*) AS n_raw FROM documents GROUP BY 1),
           |u AS (SELECT source, n_raw,
           |        CAST(('0x' || substr(md5('$seedSql' || source), 1, 12)) AS BIGINT) AS u48
           |      FROM c),
           |nz AS (SELECT source, n_raw,
           |         CAST(len(list_filter($tArr, t -> u48 >= t)) - 20 AS INTEGER) AS noise
           |       FROM u)
           |SELECT source, n_raw, noise,
           |       CAST(greatest(n_raw + noise, 0) AS BIGINT) AS n_noisy,
           |       CAST(${TextStats.EpsMicro} AS BIGINT) AS eps_micro
           |FROM nz ORDER BY source NULLS FIRST""".stripMargin
      }),

    /** PACKING EFFICIENCY ACCOUNTING — what the tx_pack_sequences layout
      * costs, per source: window count (ceil of token mass over the
      * 256-token window), padding waste in the final window, fill
      * permille, and the count of documents SPLIT across a window boundary
      * (split docs are the packing quality metric — cross-document
      * attention contamination unless the trainer masks across boundaries;
      * contiguous packing trades splits for zero inter-doc padding).
      *
      * Distributed shape: the split flags ride the SAME per-source prefix
      * sum tx_pack_sequences computes (the sharded two-level scan is the
      * 100 TB form — tx_pack_sequences_sharded); everything else is pure
      * arithmetic on the O(sources) rollup. */
    QueryDef(
      "tx_pack_efficiency",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.documents(s, d)
          .select(col("source"), col("doc_id"),
            expr(nTokensAs("BIGINT")).as("n_tokens"))
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .withColumn("is_split", expr(isSplitExpr))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            sum(when(col("is_split"), 1L).otherwise(0L)).as("n_split_docs"))
          .select(col("source"), col("n_docs"), col("total_tokens"),
            expr(s"(total_tokens + ${PackWin - 1}) div $PackWin").as("n_windows"),
            expr(s"((total_tokens + ${PackWin - 1}) div $PackWin) * $PackWin" +
              " - total_tokens").as("waste_tokens"),
            expr(s"(1000 * total_tokens) div " +
              s"(((total_tokens + ${PackWin - 1}) div $PackWin) * $PackWin)")
              .as("fill_permille"),
            col("n_split_docs"))
          .orderBy(col("source").asc_nulls_first)
      },
      Some(s"""WITH t AS (SELECT source, doc_id,
             |         CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS n_tokens
             |       FROM documents),
             |c AS (SELECT source, doc_id, n_tokens,
             |        CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
             |      FROM t),
             |g AS (SELECT source, COUNT(*) AS n_docs,
             |        CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             |        CAST(SUM(CASE WHEN (cum - n_tokens) // $PackWin <> (cum - 1) // $PackWin
             |                      THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
             |      FROM c GROUP BY source)
             |SELECT source, n_docs, total_tokens,
             |       (total_tokens + ${PackWin - 1}) // $PackWin AS n_windows,
             |       ((total_tokens + ${PackWin - 1}) // $PackWin) * $PackWin - total_tokens AS waste_tokens,
             |       (1000 * total_tokens) // (((total_tokens + ${PackWin - 1}) // $PackWin) * $PackWin)
             |         AS fill_permille,
             |       n_split_docs
             |FROM g ORDER BY source NULLS FIRST""".stripMargin)),
  )
}
