package graft.text

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** The corpus-MEASUREMENT half of the text query surface (split out of
  * TextStats.scala in round 17 — same package, no behavior change; the
  * round-16 Dedup and round-17 Similarity trait splits are the template,
  * plan identity proven the same way by a normalized PLANS.md diff).
  * Every entry here REPORTS on the corpus without transforming it: token
  * counts, language profiles/ID, quality scores and buckets, n-gram
  * stats and LMs, fingerprints, tf-idf, winnowing, vocabulary pruning,
  * and the length-drift monitor. Shared helpers (tokenization exprs,
  * stoplists, PII regexes, window constants, replay chains) stay in
  * TextStats.scala. Mixed into [[TextStats]]; LAZY because the oracle
  * strings interpolate object-body vals, which initialize after trait
  * bodies. */
private[text] trait TextCorpusStatsQueries { this: TextStats.type =>

  private[text] lazy val statsDefs: Seq[QueryDef] = Seq(

    QueryDef(
      "tx_tokens",
      (s, d) => Tables.documents(s, d)
        .select(
          col("doc_id"),
          // NULL-total (TextStats.nTokensAs): non-ANSI size(NULL) is -1
          // where the oracle's len(NULL) is NULL
          expr(nTokensAs("INT")).as("n_tokens"),
          expr("CAST(length(replace(text, ' ', '')) AS INTEGER)").as("n_chars_nospace"),
          // BPE-ish estimate: alnum runs + residual punctuation, ~chars/4 floor
          expr(s"CAST(size($toks) + length(replace(text, ' ', '')) div 16 AS INTEGER)")
            .as("n_tokens_bpe_est"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |       CAST(len(string_split_regex(trim(text), ' +')) AS INTEGER) AS n_tokens,
              |       CAST(length(replace(text, ' ', '')) AS INTEGER) AS n_chars_nospace,
              |       CAST(len(string_split_regex(trim(text), ' +'))
              |            + length(replace(text, ' ', '')) // 16 AS INTEGER) AS n_tokens_bpe_est
              |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "tx_lang_profile",
      (s, d) => Tables.documents(s, d)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("source")).as("n_sources"))
        .withColumn("avg_chars_micro", expr("(sum_chars * 1000000) div n_docs"))
        .orderBy(col("lang").asc_nulls_first),
      Some("""SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             |       COUNT(DISTINCT source) AS n_sources,
             |       (CAST(SUM(n_chars) AS BIGINT) * 1000000) // COUNT(*) AS avg_chars_micro
             |FROM documents GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin)),

    QueryDef(
      "tx_quality",
      (s, d) => Tables.documents(s, d)
        .select(
          col("doc_id"),
          expr(nTokensAs("INT")).as("n_tokens"),
          // NULL-total like n_tokens: the oracle's len(list_filter(NULL))
          // is NULL while non-ANSI size() would return -1.
          expr(s"CAST(CASE WHEN text IS NULL THEN NULL ELSE " +
            s"size(filter($toks, t -> t IN $stopList)) END AS INT)").as("n_stop"))
        .withColumn("pct_stop", expr("(100 * n_stop) div n_tokens"))
        .withColumn("quality_ok",
          expr(TextStats.qualityKeepSql))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |       CAST(len(string_split_regex(trim(text), ' +')) AS INTEGER) AS n_tokens,
              |       CAST(len(list_filter(string_split_regex(trim(text), ' +'),
              |                            t -> t IN $stopList)) AS INTEGER) AS n_stop,
              |       (100 * len(list_filter(string_split_regex(trim(text), ' +'),
              |                              t -> t IN $stopList)))
              |         // len(string_split_regex(trim(text), ' +')) AS pct_stop,
              |       (len(string_split_regex(trim(text), ' +')) BETWEEN 10 AND 1000)
              |         AND ((100 * len(list_filter(string_split_regex(trim(text), ' +'),
              |                                     t -> t IN $stopList)))
              |              // len(string_split_regex(trim(text), ' +')) < 40) AS quality_ok
              |FROM documents ORDER BY doc_id""".stripMargin)),

    /** Heuristic n-gram language ID: score the token stream against small
      * per-language marker vocabularies, argmax with a fixed precedence on
      * ties. (Real trigram profiles would be loaded as a broadcast dim; the
      * fixture vocabulary is synthetic so markers are illustrative.) */
    QueryDef(
      "tx_langid",
      // NULL-TEXT CONTRACT (nullgrid v4): a NULL doc has NULL scores AND a
      // NULL prediction — Spark's non-ANSI size(filter(NULL)) = -1 made a
      // confident 'en' call while the oracle's NULL scores fell through
      // the CASE to 'fr'; both were nonsense, pinned to NULL-in-NULL-out.
      (s, d) => Tables.documents(s, d)
        .select(
          col("doc_id"),
          col("lang"),
          expr(s"CAST(CASE WHEN text IS NULL THEN NULL ELSE " +
            s"size(filter($toks, t -> t IN ('the', 'a', 'and', 'fast', 'slow'))) END AS INT)").as("s_en"),
          expr(s"CAST(CASE WHEN text IS NULL THEN NULL ELSE " +
            s"size(filter($toks, t -> t IN ('data', 'row', 'table', 'batch'))) END AS INT)").as("s_de"),
          expr(s"CAST(CASE WHEN text IS NULL THEN NULL ELSE " +
            s"size(filter($toks, t -> t IN ('query', 'filter', 'merge', 'sort'))) END AS INT)").as("s_fr"))
        .withColumn("pred_lang",
          expr("CASE WHEN s_en IS NULL THEN NULL " +
            "WHEN s_en >= s_de AND s_en >= s_fr THEN 'en' " +
            "WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END"))
        .orderBy("doc_id"),
      Some("""WITH sc AS (
             |  SELECT doc_id, lang,
             |    CAST(len(list_filter(string_split_regex(trim(text), ' +'),
             |         t -> t IN ('the', 'a', 'and', 'fast', 'slow'))) AS INTEGER) AS s_en,
             |    CAST(len(list_filter(string_split_regex(trim(text), ' +'),
             |         t -> t IN ('data', 'row', 'table', 'batch'))) AS INTEGER) AS s_de,
             |    CAST(len(list_filter(string_split_regex(trim(text), ' +'),
             |         t -> t IN ('query', 'filter', 'merge', 'sort'))) AS INTEGER) AS s_fr
             |  FROM documents)
             |SELECT doc_id, lang, s_en, s_de, s_fr,
             |       CASE WHEN s_en IS NULL THEN NULL
             |            WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
             |            WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS pred_lang
             |FROM sc ORDER BY doc_id""".stripMargin)),

    /** Top-3 word bigrams per language: n-gram frequency analytics —
      * per-row bigram assembly → (lang, bigram) counts → windowed top-k.
      * OPTIMIZATION r21 (guide §2.4): bigrams are built row-locally from
      * the materialized token array (`transform(sequence(1, n-1), i ->
      * concat_ws(' ', tk[i-1], tk[i]))` — exactly the oracle's own
      * formulation) instead of posexplode + lead() over a (doc_id, pos)
      * window, which shuffled AND sorted the full exploded token stream
      * just to pair each token with its successor. Plan diff: the
      * Exchange(doc_id)+Sort+Window subtree is gone; the count shuffle
      * (partial-aggregated) is now the stream's first exchange. Identical
      * bigram multiset by construction: docs with <2 tokens (incl. NULL
      * text, where non-ANSI size(NULL) = -1) have no bigram on both paths. */
    QueryDef(
      "tx_top_bigrams",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val rankW = Window.partitionBy(col("lang"))
          .orderBy(col("n").desc, col("bigram").asc)
        Tables.documents(s, d)
          .select(col("lang"), expr(toks).as("tk"))
          .filter(expr("size(tk) >= 2"))
          .select(col("lang"), explode(expr(
            "transform(sequence(1, size(tk) - 1), i -> concat_ws(' ', tk[i - 1], tk[i]))"))
            .as("bigram"))
          .groupBy(col("lang"), col("bigram")).agg(count(lit(1)).as("n"))
          .withColumn("rk", row_number().over(rankW))
          .filter(col("rk") <= 3)
          .select(col("lang"), col("bigram"), col("n"), col("rk"))
          .orderBy(col("lang").asc_nulls_first, col("rk"))
      },
      Some("""WITH toksq AS (SELECT doc_id, lang, string_split_regex(trim(text), ' +') AS t
             |               FROM documents),
             |bg AS (SELECT lang, t[i] || ' ' || t[i + 1] AS bigram
             |       FROM toksq, unnest(range(1, len(t))) AS u(i)),
             |cnt AS (SELECT lang, bigram, COUNT(*) AS n FROM bg GROUP BY 1, 2)
             |SELECT lang, bigram, n, CAST(rk AS INTEGER) AS rk FROM (
             |  SELECT *, row_number() OVER (PARTITION BY lang
             |                               ORDER BY n DESC, bigram ASC) AS rk
             |  FROM cnt)
             |WHERE rk <= 3 ORDER BY lang NULLS FIRST, rk""".stripMargin)),

    /** Repetition quality signals (the Gopher-rules family of pretraining
      * filters, Rae et al. 2021): fraction of repeated tokens, most-frequent-
      * token share, and duplicate-bigram share — high values flag boilerplate
      * and degenerate text. Integer percent via `div` for oracle bit-parity.
      * Token and bigram stats are two aggregations over ONE exploded token
      * stream (the window exchange is reused); percentages derive from the
      * per-token counts, so no second scan of the documents. */
    QueryDef(
      "tx_repetition",
      // OPTIMIZATION r21 (guide §2.4, §1.2 step 1): every output here is a
      // PER-DOCUMENT statistic, so the whole query is computable row-locally
      // from the materialized token array — no token stream needs to exist,
      // let alone be shuffled. The previous shape exploded every token,
      // shuffled the stream TWICE through a (doc_id, pos) window sort (once
      // per consumer of the lead()-joined stream), ran four aggregations and
      // a join. Now: n_tokens/n_distinct are size()/array_distinct(); the
      // most-frequent-token count is a run-length max over array_sort(tk)
      // (equal tokens are adjacent after sorting — same max count as the
      // groupBy, any grouping order); bigram stats use the same per-row
      // transform as tx_top_bigrams. Zero exchanges before the presentation
      // ORDER BY — the at-scale shape: per-row O(n log n) work that never
      // leaves the scan task. Row set unchanged: posexplode emitted rows
      // exactly for non-NULL non-empty arrays = `size(tk) >= 1` (size(NULL)
      // is -1 under non-ANSI); docs with <2 tokens had no bgStats row,
      // reproduced by the CASE 0s (the old coalesce(n_bg, 0) arm).
      (s, d) => Tables.documentsSpread(s, d)
        .select(col("doc_id"), expr(toks).as("tk"))
        .filter(expr("size(tk) >= 1"))
        .select(col("doc_id"),
          expr("CAST(size(tk) AS BIGINT)").as("n_tokens"),
          expr("CAST(size(array_distinct(tk)) AS BIGINT)").as("n_distinct"),
          expr("aggregate(array_sort(tk), " +
            "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L), " +
            "(a, x) -> named_struct('prev', x, " +
            "'run', IF(a.prev = x, a.run + 1L, 1L), " +
            "'best', GREATEST(a.best, IF(a.prev = x, a.run + 1L, 1L))), " +
            "a -> a.best)").as("top_c"),
          expr("CASE WHEN size(tk) >= 2 THEN CAST(size(tk) - 1 AS BIGINT) ELSE 0L END")
            .as("n_bg"),
          expr("CASE WHEN size(tk) >= 2 THEN CAST(size(array_distinct(" +
            "transform(sequence(1, size(tk) - 1), i -> concat_ws(' ', tk[i - 1], tk[i]))" +
            ")) AS BIGINT) ELSE 0L END").as("n_bg_distinct"))
        .select(col("doc_id"), col("n_tokens"),
          expr("(100 * (n_tokens - n_distinct)) div n_tokens").as("dup_token_pct"),
          expr("(100 * top_c) div n_tokens").as("top_token_pct"),
          expr("(100 * (n_bg - n_bg_distinct)) div greatest(n_bg, 1L)")
            .as("dup_bigram_pct"))
        .orderBy("doc_id"),
      Some("""WITH toksq AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents),
             |tok AS (SELECT doc_id, unnest(t) AS w FROM toksq),
             |tc  AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
             |ts  AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             |               COUNT(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_c
             |        FROM tc GROUP BY 1),
             |bgl AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
             |                              i -> t[i] || ' ' || t[i + 1])) AS bg
             |        FROM toksq),
             |bc  AS (SELECT doc_id, bg, COUNT(*) AS c FROM bgl GROUP BY 1, 2),
             |bs  AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bg,
             |               COUNT(*) AS n_bg_distinct FROM bc GROUP BY 1)
             |SELECT ts.doc_id, n_tokens,
             |       (100 * (n_tokens - n_distinct)) // n_tokens AS dup_token_pct,
             |       (100 * top_c) // n_tokens AS top_token_pct,
             |       (100 * (COALESCE(n_bg, 0) - COALESCE(n_bg_distinct, 0)))
             |         // greatest(COALESCE(n_bg, 0), 1) AS dup_bigram_pct
             |FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id
             |ORDER BY ts.doc_id""".stripMargin)),

    /** Unigram-LM familiarity score — corpus-frequency scoring in integer
      * micro-units, the quality-filter signal a real pipeline derives from a
      * reference LM (here: the corpus's own unigram distribution; a doc of
      * common tokens scores high, rare-token noise scores low). Integer
      * arithmetic only — (1e6 × count) div total per token, summed per doc —
      * so both engines agree bit-for-bit with no float log parity games.
      * The 1e6 multiplier keeps `1e6 × cnt` inside BIGINT up to cnt ≈
      * 9.2e12 — a single token occurring nine trillion times — so the
      * arithmetic holds at the 100 TB (~1e13-token) target where a 1e9
      * multiplier would overflow on stop words.
      *
      * Scale shape: token counts are ONE shuffle on the token (map-side
      * combined); the per-doc score joins tokens→counts on the token key
      * (vocab is NOT broadcast — at 100 TB it's billions of entries) and
      * re-aggregates per doc. The corpus total rides along as a broadcast
      * 1-row scalar. */
    QueryDef(
      "tx_unigram_lm",
      (s, d) => familiarity(s, d, "familiarity_micro").orderBy("doc_id"),
      Some("""WITH tk AS (SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS tok
             |            FROM documents),
             |freq AS (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY tok),
             |tot AS (SELECT COUNT(*) AS tot FROM tk)
             |SELECT doc_id, COUNT(*) AS n_tokens,
             |       CAST(SUM((1000000 * cnt) // tot) AS BIGINT) AS familiarity_micro
             |FROM tk JOIN freq USING (tok), tot
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    /** BIGRAM-LM familiarity — the unigram score's conditional upgrade: per
      * bigram position, (1e6 × count(w0 w1)) div count(w0-as-bigram-head),
      * summed per doc. A doc of common words in UNCOMMON order now scores
      * low where tx_unigram_lm cannot tell — the signal real LM-based
      * quality filters add with context length. Integer arithmetic only
      * (same 1e6 micro-unit discipline and BIGINT headroom analysis as
      * tx_unigram_lm). Scale shape: the row-local bigram stream feeds ONE
      * partially-aggregated (w0, w1) count shuffle; the head count rides a
      * w0-keyed window over that aggregated (vocab-sized) table; ONE
      * scoring join keys on (w0, w1) — the vocab table is corpus-derived
      * and deliberately NOT broadcast; one doc_id shuffle re-aggregates.
      * Docs under 2 tokens have no bigram and are absent in both
      * engines. */
    QueryDef(
      "tx_bigram_lm",
      // OPTIMIZATION r21 (guide §2.4): two structural fixes, result-identical.
      //  1. The bigram stream is assembled ROW-LOCALLY (transform over the
      //     materialized token array — the oracle's own formulation) instead
      //     of posexplode + lead() over a (doc_id, pos) window. The stream
      //     feeds three consumers, and the window form paid the token-stream
      //     Exchange(doc_id) + Sort in EVERY one of them (the round-20 plan
      //     shows three Exchange+Sort+Window subtrees); now each consumer is
      //     a narrow scan-side Generate.
      //  2. The head-count c1(w0) = Σ_w1 c2(w0, w1) — exact integer identity
      //     — rides a WINDOW over the aggregated c2 table (r22). The r21
      //     form derived c1 as a second aggregation over `c2` and relied on
      //     ReuseExchange to share c2's shuffle between the two consumers;
      //     VERDICT r21 #5 asked for proof and the runtime plan shows it
      //     NEVER fired (two independent ShuffleQueryStages compute c2 — the
      //     column-pruned c1 copy canonicalizes differently), so the query
      //     still paid three corpus passes and c2's aggregation twice. The
      //     window form needs c2 exactly once: one corpus pass for the
      //     bigram stream, one for c2, zero for c1 (a vocab-sized w0-keyed
      //     window over c2's output — partition size is bounded by the
      //     per-head vocabulary, never the corpus), and ONE scoring join
      //     instead of two.
      (s, d) => {
        // r21 A/B note: Tables.documentsSpread was tried on this base and
        // measured consistently WORSE (1.5s vs 1.0s) — the three consumers
        // do not share the spread exchange as one runtime stage, so the
        // spread tripled instead of amortizing. Left narrow.
        val bg = Tables.documents(s, d)
          .select(col("doc_id"), expr(toks).as("tk"))
          .filter(expr("size(tk) >= 2"))
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(tk) - 1), i -> struct(tk[i - 1] AS w0, tk[i] AS w1))"))
            .as("b"))
          .select(col("doc_id"), col("b.w0").as("w0"), col("b.w1").as("w1"))
          // No-op on data (split() never yields NULL elements) — stated
          // explicitly so the scoring join's inferred isnotnull on the
          // probe side can't introduce an extra Filter step between the
          // Generate and the partial aggregate.
          .filter(col("w0").isNotNull && col("w1").isNotNull)
        val c2 = bg.groupBy(col("w0"), col("w1")).agg(count(lit(1)).as("c2"))
        val c2c1 = c2.withColumn("c1",
          sum(col("c2")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("w0"))))
        bg.join(c2c1, Seq("w0", "w1"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(expr("(1000000 * c2) div c1")).as("familiarity_micro"))
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id, i AS pos, t[i+1] AS w0, t[i+2] AS w1
             |  FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS t
             |        FROM documents), unnest(range(0, len(t) - 1)) AS u(i)
             |  WHERE len(t) >= 2),
             |c2 AS (SELECT w0, w1, COUNT(*) AS c2 FROM tk GROUP BY 1, 2),
             |c1 AS (SELECT w0, COUNT(*) AS c1 FROM tk GROUP BY 1)
             |SELECT doc_id, COUNT(*) AS n_bigrams,
             |       CAST(SUM((1000000 * c2.c2) // c1.c1) AS BIGINT) AS familiarity_micro
             |FROM tk JOIN c2 USING (w0, w1) JOIN c1 USING (w0)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    /** Document fingerprint: md5 of the whitespace-normalized lowercase text
      * — the exact-dedup key (see graft.dedup.Dedup). */
    QueryDef(
      "tx_fingerprint",
      (s, d) => Tables.documents(s, d)
        .select(
          col("doc_id"),
          graft.dedup.Dedup.normFp(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, md5(translate(regexp_replace(trim(text), ' +', ' ', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin)),

    /** TF-IDF-style term salience: top-5 terms per document scored by
      * `tf/df` in integer parts-per-million (reciprocal document frequency
      * instead of log-idf, so the score is EXACT integer arithmetic both
      * engines compute identically — log() ulp differences could flip ranks
      * at rounding boundaries; 1/df preserves the idf ordering for a fixed
      * corpus). Shape: one shuffle for per-doc term counts, one vocab-sized
      * aggregate for document frequencies, a term-keyed join (NOT broadcast
      * — at 100 TB the vocabulary is arbitrarily large and Zipf-skewed, the
      * tx_unigram_lm discipline; AQE splits the hot stopword keys), and a
      * per-doc top-k window. */
    QueryDef(
      "tx_tfidf",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), explode(expr(toks)).as("term"))
        val tf = tok.groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
        // OPTIMIZATION r21 (guide §2.3/§2.4): document frequency = "docs
        // containing the term", so dedup per-row with array_distinct and
        // count — identical to distinct (doc_id, term) pairs per term, but
        // the full (doc_id, term)-keyed distinct Exchange is gone; the df
        // stream's only shuffle is the term-keyed count (map-side combined).
        val df = Tables.documents(s, d)
          .select(explode(expr(s"array_distinct($toks)")).as("term"))
          .groupBy(col("term"))
          .agg(count(lit(1)).as("df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(col("score_ppm").desc, col("term").asc)
        tf.join(df, "term")
          .withColumn("score_ppm", expr("(tf * 1000000) div df"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("doc_id"), col("term"), col("tf"), col("df"),
            col("score_ppm"), col("rank").cast("int").as("rank"))
          .orderBy("doc_id", "rank")
      },
      Some("""WITH tok AS (SELECT doc_id,
             |    unnest(string_split_regex(trim(text), ' +')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
             |df AS (SELECT term, COUNT(*) AS df
             |       FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY term),
             |sc AS (SELECT t.doc_id, t.term, t.tf, d.df,
             |         (t.tf * 1000000) // d.df AS score_ppm
             |       FROM tf t JOIN df d USING (term))
             |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
             |       CAST(score_ppm AS BIGINT) AS score_ppm, CAST(rank AS INTEGER) AS rank
             |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
             |        ORDER BY score_ppm DESC, term ASC) AS rank FROM sc)
             |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin)),

    /** WINNOWING-STYLE robust fingerprints (the MOSS near-copy detector
      * shape): hash every 4-token shingle, slide a 5-window over the hash
      * sequence taking each window's MINIMUM, and keep the distinct minima
      * — guarantees any shared run of ≥ 8 tokens contributes at least one
      * common fingerprint, at ~1/w the storage of the full shingle set.
      * Entirely array higher-order functions over each row (one narrow
      * codegen pass, zero shuffles before the final ORDER BY); emitted as
      * per-doc checksums (count/min/max/sum of the distinct minima, 12 hex
      * digits per hash so the sum stays far inside BIGINT) pinning every
      * fingerprint for the oracle. Docs under 8 tokens have no full window
      * and are filtered identically in both engines. */
    QueryDef(
      "tx_winnowing",
      (s, d) =>
        winnowedFpRows(s, d)
          .groupBy(col("doc_id"), col("n_grams"))
          .agg(count(lit(1)).as("n_fps"),
            min(col("fp")).as("fp_min"), max(col("fp")).as("fp_max"),
            sum(col("fp")).as("fp_sum"))
          .select(col("doc_id"), col("n_grams"), col("n_fps"),
            col("fp_min"), col("fp_max"), col("fp_sum"))
          .orderBy("doc_id"),
      Some(s"""WITH $duckWinnowChain
             |SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
             |       CAST(len(fps) AS BIGINT) AS n_fps,
             |       CAST(list_min(fps) AS BIGINT) AS fp_min,
             |       CAST(list_max(fps) AS BIGINT) AS fp_max,
             |       CAST(list_sum(fps) AS BIGINT) AS fp_sum
             |FROM m ORDER BY doc_id""".stripMargin)),

    /** QUALITY BUCKETS — the CCNet head/middle/tail split: score every doc
      * with the unigram-LM familiarity (same integer micro-unit scoring as
      * [[tx_unigram_lm]]), derive cutoffs from the corpus (head ≥ mean,
      * middle ≥ mean/2, else tail), and report each bucket's volume. This
      * is the production shape — CCNet applies LM-perplexity CUTOFF
      * CONSTANTS to bucket a corpus, it never globally ranks it — so there
      * is NO global sort/ntile anywhere: the mean is a 1-row broadcast
      * scalar, bucketing is a map-side CASE, and the final aggregate has 3
      * keys. Integer div throughout; both engines agree bit-for-bit. */
    QueryDef(
      "tx_quality_buckets",
      (s, d) => {
        val fam = familiarity(s, d, "fam_micro")
        val cut = fam.agg(expr("sum(fam_micro) div count(1)").as("mean_micro"))
        fam.crossJoin(broadcast(cut))
          .withColumn("bucket", expr(
            "CASE WHEN fam_micro >= mean_micro THEN 'head' " +
              "WHEN fam_micro >= mean_micro div 2 THEN 'middle' " +
              "ELSE 'tail' END"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
            min(col("fam_micro")).as("fam_min"), max(col("fam_micro")).as("fam_max"))
          .orderBy(col("bucket").asc_nulls_first)
      },
      Some("""WITH tk AS (SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS tok
             |            FROM documents),
             |freq AS (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY tok),
             |tot AS (SELECT COUNT(*) AS tot FROM tk),
             |fam AS (SELECT doc_id, COUNT(*) AS n_tokens,
             |               CAST(SUM((1000000 * cnt) // tot) AS BIGINT) AS fam_micro
             |        FROM tk JOIN freq USING (tok), tot
             |        GROUP BY doc_id),
             |cut AS (SELECT CAST(SUM(fam_micro) // COUNT(*) AS BIGINT) AS mean_micro
             |        FROM fam)
             |SELECT CASE WHEN fam_micro >= mean_micro THEN 'head'
             |            WHEN fam_micro >= mean_micro // 2 THEN 'middle'
             |            ELSE 'tail' END AS bucket,
             |       COUNT(*) AS n_docs,
             |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             |       MIN(fam_micro) AS fam_min, MAX(fam_micro) AS fam_max
             |FROM fam, cut
             |GROUP BY 1 ORDER BY bucket NULLS FIRST""".stripMargin)),

    /** VOCABULARY PRUNING STATS — the pre-pass of every tokenizer/LM vocab
      * build: per language, how many token TYPES survive a min-count cutoff
      * (here ≥5) and what share of the token MASS they cover. The coverage
      * permille is the number that decides the cutoff — BPE training wants
      * types small and coverage near 1000. Scale shape: two partially-
      * aggregated shuffles, (lang, tok) then lang — map-side combine
      * collapses each partition to its local vocab before either exchange;
      * no joins, no windows, no broadcasts. Integer arithmetic only. */
    QueryDef(
      "tx_vocab_prune",
      (s, d) => {
        val tc = Tables.documents(s, d)
          .select(col("lang"), explode(expr(toks)).as("tok"))
          .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("cnt"))
        tc.groupBy(col("lang"))
          .agg(sum(col("cnt")).as("n_tokens"), count(lit(1)).as("n_types"),
            sum(when(col("cnt") >= 5, 1L).otherwise(0L)).as("n_types_kept"),
            sum(when(col("cnt") >= 5, col("cnt")).otherwise(0L)).as("n_tokens_kept"))
          .withColumn("coverage_permille", expr("(1000 * n_tokens_kept) div n_tokens"))
          .orderBy(col("lang").asc_nulls_first)
      },
      Some("""WITH tk AS (SELECT lang, unnest(string_split_regex(trim(text), ' +')) AS tok
             |            FROM documents),
             |tc AS (SELECT lang, tok, COUNT(*) AS cnt FROM tk GROUP BY 1, 2)
             |SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
             |       COUNT(*) AS n_types,
             |       CAST(SUM(CASE WHEN cnt >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_types_kept,
             |       CAST(SUM(CASE WHEN cnt >= 5 THEN cnt ELSE 0 END) AS BIGINT)
             |         AS n_tokens_kept,
             |       (1000 * CAST(SUM(CASE WHEN cnt >= 5 THEN cnt ELSE 0 END) AS BIGINT))
             |         // CAST(SUM(cnt) AS BIGINT) AS coverage_permille
             |FROM tc GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin)),

    /** LENGTH-DISTRIBUTION DRIFT — per source, the total-variation distance
      * of its token-length band mix (32-token bands, capped at band 7) from
      * the corpus mix, with a 10% verdict: the document-quality analog of
      * the event drift monitor (an_shard_drift's exact arithmetic). A
      * source whose length profile walks away from the corpus is a changed
      * scraper, a truncation bug, or injected boilerplate — caught by
      * SHAPE, before any content screen fires. Full source×band grid via
      * the broadcast cross join (absent bands must count as drift), exact
      * integer micro shares. */
    QueryDef(
      "tx_length_drift",
      (s, d) => graft.ops.Analytics.tvDriftByUnit(
          Tables.documents(s, d)
            .select(col("source"),
              // NULL-total guard: unguarded size(NULL) = -1 would band a
              // NULL-text doc at 0 while the oracle's len(NULL) div is NULL
              // and both engines' least() then skips the NULL arm -> band 7
              expr(s"least(${nTokensAs("BIGINT")} div 32, 7L)").as("band")),
          "source", "band", "n_docs")
        .withColumn("drift_ok", col("tv_micro") < 100000L)
        .orderBy(col("source").asc_nulls_first),
      Some("""WITH b AS (SELECT source,
             |         least(CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) // 32,
             |               7) AS band
             |       FROM documents),
             |sh AS (SELECT source, band, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
             |tot AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS tot FROM sh GROUP BY 1),
             |g AS (SELECT band, CAST(SUM(cnt) AS BIGINT) AS gcnt FROM sh GROUP BY 1),
             |gt AS (SELECT CAST(SUM(gcnt) AS BIGINT) AS gtot FROM g)
             |SELECT t.source,
             |       CAST(SUM(COALESCE(s.cnt, 0)) AS BIGINT) AS n_docs,
             |       CAST(SUM(abs((1000000 * COALESCE(s.cnt, 0)) // t.tot
             |                    - (1000000 * g.gcnt) // gt.gtot)) AS BIGINT) AS tv_micro,
             |       CAST(SUM(abs((1000000 * COALESCE(s.cnt, 0)) // t.tot
             |                    - (1000000 * g.gcnt) // gt.gtot)) AS BIGINT) < 100000
             |         AS drift_ok
             |FROM tot t CROSS JOIN g CROSS JOIN gt
             |LEFT JOIN sh s ON s.source = t.source AND s.band = g.band
             |GROUP BY t.source ORDER BY t.source NULLS FIRST""".stripMargin)),
  )
}
