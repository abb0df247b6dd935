package graft.text

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Text-analysis operators over the `documents` table: token counting,
  * per-language profiles, quality scoring, heuristic language ID, and
  * document fingerprinting (BASELINE north-star "text analysis").
  *
  * Everything is built from codegen'd `functions._` / higher-order array
  * functions — no UDFs — so the whole pipeline stays inside whole-stage
  * codegen and scales linearly with document count (narrow, no shuffle
  * except the declared group-bys).
  *
  * Ratios are carried as integer permille/percent via integer division so
  * the DuckDB oracle is bit-exact (no double accumulation).
  *
  * Split (round 15) along the file's three concerns, one trait per
  * sibling file, mixed back into this single public object so no call
  * site changes: [[TextDp]] (the DP release mechanism), [[TextBpe]] (the
  * BPE tokenizer lifecycle). This file keeps tokenize/quality/lang-ID,
  * the registered `defs`, the split/mixture planners, and the CDC/winnow
  * fingerprint helpers.
  */
object TextStats extends TextDp with TextBpe
    with TextCorpusStatsQueries with TextPipelineQueries {

  /** Whitespace tokenizer shared by every query (and the BPE-ish token
    * estimate): split on runs of spaces after trim. `private[graft]`: the
    * streaming fertility monitor (graft.streaming.DocsStream) must tokenize
    * identically or the gate drifts from the batch oracle. */
  private[graft] val toks = "split(trim(text), ' +')"

  /** NULL-total token count. With `spark.sql.ansi.enabled=false` (the
    * session default), `size(split(NULL))` is -1 in Spark while every
    * DuckDB oracle's `len(NULL)` is NULL — a -1 entering the packing
    * cumulative sum would silently shift every later doc's window index
    * in that source, and a -1 n_tokens would flip quality arithmetic the
    * oracle leaves NULL. NULL text never occurs in the fixtures; this
    * guards external/staged corpora where the column is nullable. */
  private[graft] def nTokensAs(sqlType: String): String =
    s"CAST(CASE WHEN text IS NULL THEN NULL ELSE size($toks) END AS $sqlType)"

  /** Packing window size (tokens per training window) — ONE constant for
    * the pack family (tx_pack_sequences / _sharded / tx_pack_efficiency)
    * and their oracles, which previously each restated the literal. */
  private[graft] val PackWin = 256

  /** The split-doc predicate over a per-source cumulative token sum
    * (`cum`, `n_tokens` in scope). */
  private[text] val isSplitExpr =
    s"(cum - n_tokens) div $PackWin <> (cum - 1) div $PackWin"

  /** The window-index projection the pack family derives from `cum` —
    * stated once so tx_pack_sequences_sharded's claim of reproducing
    * tx_pack_sequences EXACTLY rests on a shared definition, not on three
    * hand-copied expression lists staying in sync. */
  private[graft] def windowIndexCols: Seq[org.apache.spark.sql.Column] = Seq(
    expr(s"(cum - n_tokens) div $PackWin").as("win_first"),
    expr(s"(cum - 1) div $PackWin").as("win_last"),
    expr(s"(cum - n_tokens) % $PackWin").as("offset_in_win"),
    expr(isSplitExpr).as("is_split"))

  /** Two-level sharded prefix sum — the 100 TB shape of the packing
    * cumsum, stated ONCE for [[defs tx_pack_sequences_sharded]] and the
    * corpus pipeline's pack stage: an unsharded per-partition window puts
    * an entire partition key (a dominant source — terabytes at scale) in
    * ONE task. shard = doc_id div 64 bounds every window partition by the
    * shard width; per-shard totals get an exclusive running sum per
    * `partCols` (shard-count-sized — model state) broadcast back as each
    * shard's carry-in. cum = carry_in + cum_in_shard reproduces the
    * unsharded cumulative sum EXACTLY because shard order is doc_id
    * order. Expects `doc_id`, `n_tokens`, and `partCols`; adds `cum`. */
  private[graft] def shardedCum(docs: org.apache.spark.sql.DataFrame,
      partCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pc = partCols.map(col)
    val withShard = docs.withColumn("shard", expr("doc_id div 64"))
    val wShard = Window.partitionBy(pc :+ col("shard"): _*).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inShard = withShard.withColumn("cum_in_shard", sum(col("n_tokens")).over(wShard))
    val wCarry = Window.partitionBy(pc: _*).orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = withShard.groupBy(pc :+ col("shard"): _*)
      .agg(sum(col("n_tokens")).as("shard_tokens"))
      // carry_in stays NULLABLE (no coalesce): the unsharded cumsum is
      // NULL exactly while a partition's prefix holds no non-NULL count,
      // and a plain `carry_in + cum_in_shard` would also go NULL whenever
      // a NULL-count doc OPENS a shard (NULL + numeric) — both breaking
      // the stated exact equivalence on nullable-text corpora. The CASE
      // below restates the window-sum rule: NULL iff BOTH sides are
      // (no non-NULL seen), else the sum of whichever sides exist.
      .withColumn("carry_in", sum(col("shard_tokens")).over(wCarry))
      .select(pc :+ col("shard") :+ col("carry_in"): _*)
    inShard.join(broadcast(carries), partCols :+ "shard")
      .withColumn("cum",
        when(col("carry_in").isNull && col("cum_in_shard").isNull,
          lit(null).cast("long"))
          .otherwise(coalesce(col("carry_in"), lit(0L)) +
            coalesce(col("cum_in_shard"), lit(0L))))
      .drop("shard", "cum_in_shard", "carry_in")
  }

  /** Per-doc unigram familiarity `(doc_id, n_tokens, <famCol>)` — the
    * integer-micro corpus-frequency score SHARED by tx_unigram_lm (which
    * reports it) and tx_quality_buckets (which derives its cutoffs from
    * it); one definition so the bucket boundaries are provably computed
    * from the same score the LM query reports. Shape: one token shuffle
    * (map-side combined), vocab join NOT broadcast (billions of entries at
    * 100 TB), corpus total as a broadcast 1-row scalar. */
  private[text] def familiarity(s: org.apache.spark.sql.SparkSession, d: String,
      famCol: String): org.apache.spark.sql.DataFrame = {
    // r21 A/B note: deriving tot from freq (tot = Σ cnt) was built and
    // benched — it reads structurally cheaper (one fewer corpus pass) but
    // measured +11% on tx_unigram_lm / +13% on tx_quality_buckets at sf0.1:
    // the two freq subtrees differ after column pruning (the join probe's
    // build side prunes doc_id and carries an inferred isnotnull(tok)), so
    // neither ReuseExchange nor AQE stage reuse fires and the "derived"
    // total pays a token-keyed hash aggregate where this plain count is a
    // codegen'd scan-side reduce. Kept as the measured-better form.
    val tk = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(toks)).as("tok"))
    val freq = tk.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val tot = tk.agg(count(lit(1)).as("tot"))
    tk.join(freq, "tok")
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(expr("(1000000 * cnt) div tot")).as(famCol))
  }

  /** Shared with graft.streaming.DocsStream's landing-zone quality gate —
    * the gate's verdict must be the same expression batch and stream. */
  private[graft] val stopList = "('the', 'a', 'of', 'and', 'to')"

  /** The FULL quality-keep verdict over (n_tokens, n_stop) — one owner for
    * the thresholds, not just the stop-list (round 17: the predicate was
    * restated inline in the batch keeper chain, tx_quality's bucket query,
    * and the streaming landing gate; a threshold retune applied to one
    * copy would silently pass docs at the landing zone that the corpus
    * cleaner later drops, with no error until a spec run). Consumers:
    * Dedup.cleanCorpusKeepers / dd_quality_buckets' keeper arm /
    * graft.streaming.DocsStream.qualityGate / tx_quality_buckets. */
  private[graft] val qualityKeepSql =
    "n_tokens BETWEEN 10 AND 1000 AND (100 * n_stop) div n_tokens < 40"

  /** PII battery patterns, shared by [[defs tx_pii_scrub]] and the
    * streaming landing gate (graft.streaming.DocsStream.piiGate) so batch
    * scrub and stream monitor agree on what counts as PII. Escape-free
    * (character classes only) so Java regex and RE2 read them identically;
    * applied in declaration order (email → ip → phone → id), each class
    * counted on the PREVIOUS stage's scrubbed output. */
  private[graft] val PiiEmail = "[a-z0-9._]+@[a-z0-9.]+"
  private[graft] val PiiIp = "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+"
  private[graft] val PiiPhone = "[0-9]{3}-[0-9]{4}"
  private[graft] val PiiId = "[0-9]{6,}"

  /** DuckDB replay of [[mixtureRates]] (CTE chain ending in `r`) — a VAL
    * ABOVE `defs` on purpose: `defs` interpolates it at object init, and a
    * lexically-later val would still be null there. */
  private[graft] val duckMixtureChain =
    """st AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
      |w AS (SELECT source, n_docs,
      |        CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000.0) AS BIGINT) AS weight_fp
      |      FROM st),
      |t AS (SELECT SUM(weight_fp) AS sw, SUM(n_docs) AS nd FROM w),
      |r AS (SELECT source, n_docs, weight_fp,
      |        CAST(((nd // 5) * weight_fp) // sw AS BIGINT) AS n_target,
      |        CAST(((((nd // 5) * weight_fp) // sw) * 4294967296) // n_docs AS BIGINT)
      |          AS thresh
      |      FROM w, t)""".stripMargin


  /** Assembled from the two query-family traits (round-17 split along the
    * measure/transform seams; the Dedup and Similarity splits are the
    * template). Lazy trait vals — their oracle strings interpolate
    * object-body vals. Order within `defs` is not load-bearing
    * (SparkEntry maps by name; DumpPlans sorts by name). */
  val defs: Seq[QueryDef] = statsDefs ++ pipelineDefs

  /** Split thresholds over the 16 assignment bits: 5% val, 5% test
    * (constant expressions — inlined at the `defs` use sites above). */
  final val SplitValMax = 3276
  final val SplitTestMax = 6553
  /** The split labels in assignment order: `h16` below [[SplitValMax]] is
    * val, below [[SplitTestMax]] test, and the rest train. */
  final val SplitLabels: Seq[String] = Seq("val", "test", "train")

  /** The [[defs tx_split_assign]] assignment as a frame transform (adds
    * `h16` + `split`), shared with the corpus pipeline so a pipeline run
    * and the registered query can never disagree on membership. */
  private[graft] def withSplit(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    docs
      .withColumn("h16", expr("md5_prefix48(CAST(doc_id AS STRING)) % 65536"))
      .withColumn("split",
        when(col("h16") < SplitValMax, SplitLabels(0))
          .when(col("h16") < SplitTestMax, SplitLabels(1))
          .otherwise(SplitLabels(2)))
  }

  /** Per-source mixture-sampling plan for [[defs tx_mixture_sample]] and
    * the streaming quota-fill monitor (graft.streaming.DocsStream
    * `st_mixture_drift`): doc counts, α=0.5 fixed-point temperature
    * weights, integer budget targets (budget = ⌊N/5⌋), and the 2³²-scaled
    * hash threshold that realizes each target. O(sources) rows — a model
    * table, broadcast by every consumer. */
  private[graft] def mixtureRates(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val stats = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("weight_fp",
        expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000.0D) AS BIGINT)"))
    val tot = stats.agg(sum(col("weight_fp")).as("sw"), sum(col("n_docs")).as("nd"))
    stats.crossJoin(broadcast(tot))
      .withColumn("n_target", expr("(nd div 5) * weight_fp div sw"))
      .withColumn("thresh", expr("n_target * 4294967296L div n_docs"))
  }

  /** The mixture draw's keep predicate over an attached `thresh` column —
    * ONE definition shared by [[sampleByThreshold]] and any caller that
    * attaches the rate table itself (graft.streaming.DocsStream
    * .mixtureFill joins rates once for BOTH n_target and thresh rather
    * than paying two broadcast joins per micro-batch), so the draw cannot
    * drift between consumers. */
  private[graft] val mixtureKeepPredicate =
    "md5_prefix48(CAST(doc_id AS STRING)) div 65536 < thresh"

  /** The deterministic mixture draw: keep a doc iff its 32-bit md5 prefix
    * clears its source's threshold. Stream-legal (broadcast static rate
    * table + scan predicate, no sort/window) — the same expression batch
    * and stream, which is what lets DocsStreamSpec pin stream ≡ batch. */
  private[graft] def sampleByThreshold(docs: org.apache.spark.sql.DataFrame,
      rates: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    docs
      .join(broadcast(rates.select(col("source"), col("thresh"))), Seq("source"))
      .filter(expr(mixtureKeepPredicate))
  }



  /** CDC gram stream: one row per 4-gram with its running chunk number.
    * Boundaries are content-addressed (`ghash % 16 == 0` STARTS a new
    * chunk), so the average chunk is ~16 grams and chunk identity survives
    * edits outside the chunk. Shared by [[tx_cdc_chunks]] and
    * graft.dedup's chunk-level dedup. The 3×lead gram assembly and the
    * boundary cumsum ride ONE (doc_id, pos) window sort — the winnowing
    * lesson (winnowedFpRows). */
  def cdcChunkRows(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wLead = Window.partitionBy("doc_id").orderBy("pos")
    val wCum = wLead.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"), expr(toks).as("tk"))
      .filter(expr("size(tk) >= 4"))
      .select(col("doc_id"), expr("CAST(size(tk) AS BIGINT) - 3").as("n_grams"),
        posexplode(col("tk")).as(Seq("pos", "tok")))
      .withColumn("g4", concat_ws(" ", col("tok"),
        lead("tok", 1).over(wLead), lead("tok", 2).over(wLead), lead("tok", 3).over(wLead)))
      .filter(col("pos") <= col("n_grams") - 1)
      .withColumn("ghash", expr("md5_prefix48(g4)"))
      .withColumn("chunk_seq",
        sum(when(col("ghash") % 16 === 0, 1L).otherwise(0L)).over(wCum))
      .select(col("doc_id"), col("pos"), col("ghash"), col("chunk_seq"))
  }

  /** The per-chunk CDC INDEX — one row per chunk `(doc_id, chunk_seq)` with
    * gram count `cg`, additive fingerprint `cfp`, and position span —
    * persisted as a content-keyed artifact (same lifecycle as the winnow
    * fingerprint and minhash signature indexes). This is the table storage
    * dedup actually keeps: ~1/16 the gram count, so at 100 TB the index is
    * TB-scale while the gram stream it summarizes would be corpus-scale.
    * Both [[tx_cdc_chunks]] and graft.dedup's chunk-level dedup serve from
    * this artifact; the two-window chunking pass runs once per corpus
    * CONTENT, not once per query. */
  def cdcChunkIndex(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    graft.Artifacts.indexParquet(s, "cdc_chunks", d, "documents")(
      cdcChunkRows(s, d)
        .groupBy(col("doc_id"), col("chunk_seq"))
        .agg(count(lit(1)).as("cg"), sum(col("ghash")).as("cfp"),
          min(col("pos")).cast("long").as("pos_first"),
          max(col("pos")).cast("long").as("pos_last")))

  /** DuckDB CTE chain ending in `c(doc_id, pos, ghash, chunk_seq)` — the
    * oracle replay of [[cdcChunkRows]], shared with the chunk-dedup oracle. */
  lazy val duckCdcChain: String =
    """t AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS tk
      |          FROM documents),
      |g AS (SELECT doc_id, i AS pos,
      |        CAST(('0x' || substr(md5(array_to_string(tk[i+1:i+4], ' ')), 1, 12))
      |             AS BIGINT) AS ghash
      |      FROM t, unnest(range(0, len(tk) - 4 + 1)) AS u(i)
      |      WHERE len(tk) >= 4),
      |c AS (SELECT doc_id, pos, ghash,
      |        CAST(SUM(CASE WHEN ghash % 16 = 0 THEN 1 ELSE 0 END)
      |               OVER (PARTITION BY doc_id ORDER BY pos
      |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS chunk_seq
      |      FROM g)""".stripMargin

  /** Winnowed fingerprints as DISTINCT (doc_id, n_grams, fp) rows — shared
    * by [[tx_winnowing]]'s checksums and graft.dedup's winnowed candidate
    * generator. RELATIONAL formulation on purpose: 4-grams are assembled
    * from exploded tokens with three lead()s and winnowed with a 5-row
    * frame min, all over ONE doc_id window shuffle, so each gram md5 is
    * computed exactly once inside codegen. The nested-array-HOF form
    * (transform over slices of a grams array) lets CollapseProject inline
    * the whole gram array into every window reference — the minhashSig
    * lesson (graft.dedup.Dedup): measured ~25× slower under a generator at
    * sf0.1.
    *
    * Tokenization is materialized as an array column BEFORE the explode
    * (round 9): with `posexplode(split(text))` in one select, the sibling
    * `size(split(text))` projection lands ABOVE the Generate and re-runs
    * the regex split once per exploded ROW (~54× per doc — 270k splits in
    * a single pre-shuffle task at sf0.1, ~7 s of the measured 11 s).
    * Exploding a pre-computed `tk` array keeps the split per-DOC; the
    * post-Generate `size(tk)` is O(1) against the carried array pointer. */
  def winnowedFpRows(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    // OPTIMIZATION r21 (guide §2.4): fully ROW-LOCAL winnowing — the gram
    // md5 array materializes as its own column, the 5-window minima are
    // array_min over slices, and the per-doc distinct is array_distinct —
    // no token-stream Exchange(doc_id)+Sort+2×Window, no global distinct
    // exchange (doc_id is in the key, so per-doc dedup ≡ the old global
    // .distinct()). The round-9 "~25× slower under a generator" trap was
    // CollapseProject inlining a SINGLE-reference gram array into the
    // window-min lambda (recomputing every gram md5 once per window
    // position — O(n²) md5s); here `grams` is referenced three times in
    // the consuming projection (size + sequence bound + slice), and
    // CollapseProject refuses to inline a non-cheap multi-referenced
    // producer, so each gram md5 computes exactly once per doc — verified
    // in the committed plan (md5_prefix48 appears once,
    // plans/r21/tx_winnowing_after.txt). Identity to the window form:
    // gram p = tokens p..p+3 (i = p+3 below), fp(p) = min(grams[p..p+4])
    // for p ≤ m−5 — exactly the old full-window filter; docs under 8
    // tokens have no full window on either path (size(NULL) = -1 under
    // non-ANSI covers NULL text).
    Tables.documents(s, d)
      .select(col("doc_id"), expr(toks).as("tk"))
      .filter(expr("size(tk) >= 8"))
      .select(col("doc_id"), expr(
        "transform(sequence(3, size(tk) - 1), i -> " +
          "md5_prefix48(concat_ws(' ', tk[i - 3], tk[i - 2], tk[i - 1], tk[i])))")
        .as("grams"))
      .select(col("doc_id"),
        expr("CAST(size(grams) AS BIGINT)").as("n_grams"),
        explode(expr(
          "array_distinct(transform(sequence(0, size(grams) - 5), " +
            "p -> array_min(slice(grams, p + 1, 5))))")).as("fp"))
  }

  /** DuckDB CTE chain ending in `m(doc_id, grams, fps)` — the oracle replay
    * of [[winnowed]], shared by the tx_winnowing and dd_winnow_pairs
    * oracles. (`lazy`: referenced from `defs`, which initializes first.) */
  lazy val duckWinnowChain: String =
    """t AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS tk
      |          FROM documents),
      |g AS (SELECT doc_id,
      |        list_transform(range(0, len(tk) - 4 + 1), i ->
      |          CAST(('0x' || substr(md5(array_to_string(tk[i+1:i+4], ' ')), 1, 12))
      |               AS BIGINT)) AS grams
      |      FROM t WHERE len(tk) >= 8),
      |m AS (SELECT doc_id, grams,
      |        list_distinct(list_transform(range(0, len(grams) - 5 + 1), i ->
      |          list_min(grams[i+1:i+5]))) AS fps
      |      FROM g)""".stripMargin
}
