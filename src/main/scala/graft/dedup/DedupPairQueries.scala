package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** The candidate-generation / pair-graph / index-tuning half of the dedup
  * query surface (split out of Dedup.scala in round 16 — same package, no
  * behavior change; the round-15 TextStats/TextBpe split is the template).
  * Every entry here produces or evaluates NEAR-DUP PAIRS: LSH candidates,
  * banded simhash pairs, winnowed/incremental screens, embedding-cell
  * cosine pairs, decontamination/bloom screens, and the estimator-quality /
  * band-tuning evals. All of them route through the audited
  * [[Dedup.bucketedPairs]] skeleton (or probe its persisted pair-graph
  * artifacts) — the builders themselves live in Dedup.scala. Mixed into
  * [[Dedup]]; `pairDefs` is LAZY so its oracle strings (which interpolate
  * object-body vals like [[Dedup.duckInterChain]]) are built only at
  * `Dedup.defs` assembly time, after the object body initializes — a
  * strict trait val would read uninitialized nulls (trait bodies
  * initialize before the object body). */
private[dedup] trait DedupPairQueries { this: Dedup.type =>

  private[dedup] lazy val pairDefs: Seq[QueryDef] = Seq(

    /** MinHash-LSH candidate pairs — see [[minhashPairs]] for the shape. */
      QueryDef(
      "dd_minhash_lsh",
      (s, d) => minhashPairs(s, d).orderBy("doc_a", "doc_b"),
      Some(
        s"""WITH ${duckShingleChain("shq")},
           |${duckSigChain("shq")},
           |bands AS (SELECT doc_id, unnest([
           |            ${duckBandList(NumBands, RowsPerBand)}]) AS bk FROM sig),
           |keep AS (SELECT bk FROM bands GROUP BY bk HAVING COUNT(*) <= $MaxBucket)
           |SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
           |FROM bands a JOIN keep k ON a.bk = k.bk
           |     JOIN bands c ON c.bk = a.bk AND a.doc_id < c.doc_id
           |ORDER BY doc_a, doc_b""".stripMargin)),

    /** Exact n-gram Jaccard over the inverted shingle index; permille via
      * integer division; threshold 200‰. */
    QueryDef(
      "dd_ngram_jaccard",
      (s, d) => jaccardPairs(s, d, permille = 200)
        .select(col("doc_a"), col("doc_b"), col("jaccard_permille"))
        .orderBy("doc_a", "doc_b"),
      Some(s"""WITH ${duckJaccard(200)}
              |SELECT doc_a, doc_b, jaccard_permille FROM jac
              |ORDER BY doc_a, doc_b""".stripMargin)),

    /** N-GRAM CONTAINMENT screen — the ASYMMETRIC companion to Jaccard:
      * C = |A∩B| / min(|A|, |B|), the fraction of the SMALLER doc's
      * shingles found in the other. Jaccard misses the quote/superset
      * case — a short doc fully embedded in a long one scores
      * |A|/(|A|+|B|-|A|) ≈ |A|/|B| (arbitrarily low) on Jaccard but 1000‰
      * on containment — and that case is exactly how boilerplate, quoted
      * passages, and page-plus-chrome crawls survive Jaccard-only dedup in
      * real training corpora (the reason suffix-array/containment screens
      * exist alongside MinHash). `contained_doc` names the swallowed side
      * (the smaller gram set; ties to doc_a), which is the copy a
      * containment-aware cleaner would drop or trim.
      *
      * Cost at 100 TB: ZERO new index work — probes the same persisted
      * pair-graph artifact as the Jaccard family ([[jaccardPairs]] stores
      * i/na/nb per co-shingle pair precisely so every derived coefficient
      * is a column expression over the stored graph, not a new corpus
      * pass), then one integer division per pair. Threshold 500‰. */
    QueryDef(
      "dd_containment",
      (s, d) => jaccardPairs(s, d, permille = 0)
        .withColumn("containment_permille", expr("(1000 * i) div least(na, nb)"))
        .filter(col("containment_permille") >= 500)
        .withColumn("contained_doc", expr("if(na <= nb, doc_a, doc_b)"))
        .select(col("doc_a"), col("doc_b"), col("containment_permille"),
          col("contained_doc"))
        .orderBy("doc_a", "doc_b"),
      Some(s"""WITH $duckInterChain,
              |cont AS (SELECT doc_a, doc_b,
              |               (1000 * i) // least(na.n, nb.n) AS containment_permille,
              |               CASE WHEN na.n <= nb.n THEN doc_a ELSE doc_b END AS contained_doc
              |        FROM inter JOIN n na ON na.doc_id = doc_a
              |             JOIN n nb ON nb.doc_id = doc_b)
              |SELECT doc_a, doc_b, containment_permille, contained_doc FROM cont
              |WHERE containment_permille >= 500 ORDER BY doc_a, doc_b""".stripMargin)),

    /** WINNOWED near-dup candidates: the inverted index is built over the
      * tx_winnowing fingerprints instead of the full shingle posting list —
      * ~1/5 the index size (one selected hash per 5-gram window) while the
      * winnowing guarantee still surfaces every pair sharing a run of ≥ 8
      * tokens. Same audited bucket shape as every other candidate
      * generator (capped buckets, sorted pair expansion); pairs must share
      * ≥ 2 selected fingerprints, which drops the single-window accidental
      * collisions. This is the index you ship when the shingle index
      * itself is the storage problem at 100 TB. */
    QueryDef(
      "dd_winnow_pairs",
      (s, d) => {
        val postings = graft.text.TextStats.winnowedFpRows(s, d)
          .select(col("doc_id"), col("fp"))
        bucketedIdPairs(postings, col("fp"))
          .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2)
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH ${graft.text.TextStats.duckWinnowChain},
              |f AS (SELECT doc_id, unnest(fps) AS fp FROM m),
              |keep AS (SELECT fp FROM f GROUP BY fp HAVING COUNT(*) <= $MaxBucket),
              |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
              |          FROM f a JOIN keep k ON a.fp = k.fp
              |               JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
              |          GROUP BY 1, 2)
              |SELECT doc_a, doc_b, n_shared FROM pairs WHERE n_shared >= 2
              |ORDER BY doc_a, doc_b""".stripMargin)),

    /** CROSS-SHARD INCREMENTAL dedup — the production 100 TB loop: the
      * already-ingested corpus is represented ONLY by its persisted
      * winnowed-fingerprint index (the artifact [[graft.text.TextStats
      * .winnowedFpRows]] pins; built once per dataset dir and reused, the
      * same artifact discipline as the k-means model), and each NEW batch
      * is screened against that index without touching the old documents.
      * Fixture split: docs with doc_id % 5 ≠ 0 are the indexed corpus,
      * % 5 = 0 the incoming batch (the batch predicate pushes through the
      * fingerprint window to the scan, so only batch docs are tokenized).
      * A batch doc sharing ≥ 2 winnowed fingerprints with the index is a
      * near-dup of the corpus — the dd_winnow_pairs threshold. Unlike pair
      * expansion, probing is LINEAR: the index side is distinct on fp, so a
      * hot fingerprint matches each batch posting once and no bucket cap is
      * needed. At scale the index outweighs the batch by orders of
      * magnitude; the inner probe join lets AQE broadcast the batch side so
      * the index is only streamed, never shuffled (persisting the index
      * bucketed by fp makes even rebuild-free merges co-located). */
    QueryDef(
      "dd_incremental",
      (s, d) => {
        val idx = Tables.parquet(s, winnowFpIndexPath(s, d))
        val batch = graft.text.TextStats.winnowedFpRows(s, d)
          .filter(expr("doc_id % 5 = 0"))
          .select(col("doc_id"), col("fp"))
        incrementalNearDup(batch, idx)
      },
      Some(s"""WITH ${graft.text.TextStats.duckWinnowChain},
              |f AS (SELECT doc_id, unnest(fps) AS fp FROM m),
              |idx AS (SELECT DISTINCT fp FROM f WHERE doc_id % 5 <> 0),
              |newb AS (SELECT doc_id, fp FROM f WHERE doc_id % 5 = 0),
              |hits AS (SELECT n.doc_id, COUNT(*) AS n_fps, COUNT(i.fp) AS n_hits
              |         FROM newb n LEFT JOIN idx i ON n.fp = i.fp GROUP BY 1)
              |SELECT doc_id, CAST(n_fps AS BIGINT) AS n_fps,
              |       CAST(n_hits AS BIGINT) AS n_hits,
              |       CASE WHEN n_hits >= 2 THEN 'dup_corpus' ELSE 'keep' END AS status
              |FROM hits ORDER BY doc_id""".stripMargin)),

    /** REPEATED-SUBSTRING MASS — the signal behind substring-level dedup
      * (repeated long runs across documents are memorization fuel even when
      * whole docs are unique): per doc, the share of its 8-token shingle
      * positions whose shingle occurs in ≥ 2 DISTINCT documents. A full
      * near-dup scores 1000‰; templated boilerplate shows up as a partial
      * mass long before any whole-doc detector fires. Shape at scale: one
      * doc_id window builds the positional 8-gram stream (7 leads, one
      * sort, each md5 computed exactly ONCE — hashes truncated to the
      * 48-bit prefix, 12 hex chars, [[gram8Rows]]'s stated collision
      * budget, to shrink shuffle width), then a single (gh, doc_id) partial
      * aggregation collapses positions to postings and EVERYTHING after
      * runs on the postings frame: the cross-doc df is a gh-window count
      * over it and the per-doc rollup a second aggregation — no probe join,
      * no second pass over the gram stream (the naive index+probe form
      * recomputed the md5 projection on the probe side of its reused
      * exchange). The df side is corpus-derived and corpus-sized, so
      * nothing here is broadcast. */
    QueryDef(
      "dd_substring_mass",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val gd = gram8Rows(s, d)
          .groupBy(col("gh"), col("doc_id")).agg(count(lit(1)).as("npos"))
        gd.withColumn("nd", count(lit(1)).over(Window.partitionBy(col("gh"))))
          .groupBy(col("doc_id"))
          .agg(sum(col("npos")).as("n_grams"),
            sum(when(col("nd") >= 2, col("npos")).otherwise(0L)).as("n_repeated"))
          .withColumn("mass_permille", expr("(1000 * n_repeated) div n_grams"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS tk
             |           FROM documents),
             |g AS (SELECT doc_id, i AS pos,
             |             CAST(('0x' || substr(md5(array_to_string(tk[i+1:i+8], ' ')), 1, 12))
             |                  AS BIGINT) AS gh
             |      FROM t, unnest(range(0, len(tk) - 8 + 1)) AS u(i)
             |      WHERE len(tk) >= 8),
             |rep AS (SELECT gh FROM (SELECT gh, COUNT(DISTINCT doc_id) AS nd
             |                        FROM g GROUP BY gh) WHERE nd >= 2)
             |SELECT doc_id, COUNT(*) AS n_grams,
             |       CAST(SUM(CASE WHEN r.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_repeated,
             |       (1000 * CAST(SUM(CASE WHEN r.gh IS NOT NULL THEN 1 ELSE 0 END)
             |                    AS BIGINT)) // COUNT(*) AS mass_permille
             |FROM g LEFT JOIN rep r USING (gh)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    /** Per-doc 32-bit SimHash code. NULL-text docs are ABSENT (not a NULL
      * row): the native simhash32 answers NULL for a NULL token array —
      * "the scalar analog of the absent row" — while the oracle's unnest
      * produces no rows at all for NULL text; the filter makes the engines
      * agree on absence (round-19 review; NullTextSpec pins it). */
    QueryDef(
      "dd_simhash",
      (s, d) => simhash(s, d).filter(col("simhash").isNotNull)
        .orderBy("doc_id"),
      Some(s"""WITH $duckSimhash
              |SELECT doc_id, simhash FROM sims ORDER BY doc_id""".stripMargin)),

    /** SimHash near-dup candidates: multi-band LSH over the 60-bit code —
      * CORPUS-ADAPTIVE width from [[Dedup.SimShape]] (4×15 at fixture
      * scale, widening to 3×20 / 2×30 as the corpus grows — a fixed shape
      * saturates its code space and goes quadratic, the round-16 probe
      * finding), candidates unioned across bands, Hamming ≤ 10
      * verify. Buckets are built with the capped-collect skeleton (not a
      * self-join, which would recompute the simhash scan on both sides) and
      * carry (doc_id, simhash) structs so the Hamming verify happens inside
      * the pair expansion with no join back. The query probes the persisted
      * [[simhashPairGraph]] artifact (built once per corpus content from the
      * stored code table). The oracle states the same banded semantics as an
      * OR of band equalities. */
    QueryDef(
      "dd_simhash_pairs",
      (s, d) => simhashPairGraph(s, d).orderBy("doc_a", "doc_b"),
      Some(
        // banded form with the MaxBucket cap mirrored (the cap DOES trigger
        // at sf0.1: one band bucket holds 1371 docs), so both engines drop
        // the same hot buckets before pair expansion
        s"""WITH $duckSimhash60,
           |shape AS ($simShapeSql),
           |bands AS (SELECT doc_id, simhash, b.b AS bi,
           |                 (simhash >> (sh.bits * b.b)) & ((CAST(1 AS BIGINT) << sh.bits) - 1)
           |                   AS bv
           |          FROM sims, shape sh,
           |               (SELECT unnest(range(0, ${60 / (SimShape.map(_._2) :+ SimBitsMax).min})) AS b) b
           |          WHERE b.b < 60 // sh.bits),
           |keep AS (SELECT bi, bv FROM bands GROUP BY bi, bv
           |         HAVING COUNT(*) <= $MaxBucket)
           |SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
           |       CAST(bit_count(xor(a.simhash, c.simhash)) AS INTEGER) AS hamming
           |FROM bands a JOIN keep k ON a.bi = k.bi AND a.bv = k.bv
           |     JOIN bands c ON c.bi = a.bi AND c.bv = a.bv AND a.doc_id < c.doc_id
           |WHERE bit_count(xor(a.simhash, c.simhash)) <= 10
           |ORDER BY doc_a, doc_b""".stripMargin)),

    /** Embedding-cosine near-dup, IVF-cell blocked: candidates are pairs in
      * the same trained k-means cell (graft.sim.Similarity — the oracle
      * replays training exactly), verified with the exact native cosine.
      * Blocking by learned cell replaces the earlier fixed-cardinality
      * `label` block, and the per-cell all-pairs expansion rides
      * [[cellCosPairs]] — the shared [[bucketedPairs]] skeleton, so cells
      * are capped at [[MaxBucket]] like every other candidate block (at
      * scale K grows ~√N so per-cell pair mass stays bounded; a degenerate
      * cell is dropped, the standard IVF dedup trade). Dot/norm use the
      * identical left-fold formula in both engines. */
    QueryDef(
      "dd_embed_cosine",
      (s, d) => cellCosPairs(s, d)
        .filter(col("cos6") >= 0.35)
        .select(col("vec_a"), col("vec_b"), col("cell"), col("cos6"))
        .orderBy("vec_a", "vec_b"),
      Some(s"""WITH ${graft.sim.Similarity.duckKmeansChain()},
             |ev AS (SELECT e.vec_id, e.v, a.cell FROM e JOIN assign a USING (vec_id)),
             |$duckCellKeep,
             |p AS (SELECT a.vec_id AS vec_a, c.vec_id AS vec_b, a.cell,
             |        list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * c.v[i])) AS dot,
             |        list_sum(list_transform(a.v, x -> x * x)) AS na,
             |        list_sum(list_transform(c.v, x -> x * x)) AS nb
             |      FROM ev a JOIN keepc k ON k.cell = a.cell
             |           JOIN ev c ON a.cell = c.cell AND a.vec_id < c.vec_id)
             |SELECT vec_a, vec_b, cell, round(dot / sqrt(na * nb), 6) AS cos6
             |FROM p WHERE round(dot / sqrt(na * nb), 6) >= 0.35
             |ORDER BY vec_a, vec_b""".stripMargin)),

    /** SEMANTIC DEDUP (the SemDeDup shape): embedding-level dedup as a
      * per-vector KEEP VERDICT, not just a pair list — within each trained
      * IVF cell, a vector is dropped when a LOWER-ID vector in the same
      * cell sits above the cosine threshold, so exactly one representative
      * per near-duplicate semantic group survives (the min-id keep rule,
      * dd_exact's canonical discipline applied to embeddings). This is the
      * semantic counterpart of text near-dup: paraphrases and re-encodes
      * that share no n-grams land in one cell with cosine ~1 and dedup
      * here, invisibly to every lexical screen.
      *
      * Scale shape: identical to [[defs dd_embed_cosine]] — the pair
      * stream IS [[cellCosPairs]] (cell-blocked pair mass N²/K = N^1.5,
      * cell-parallel, hot cells capped at [[MaxBucket]] through the shared
      * [[bucketedPairs]] skeleton, noted `pairs` in SCALING.md's growth
      * table); the verdict adds one vec-keyed rollup and a left join from
      * the cell-assignment ARTIFACT — the pair stream is never re-scanned.
      * A vector is dropped when a LOWER-id same-cell vector clears the
      * threshold, so the dup count groups by the PAIR'S LARGER side
      * (cellCosPairs' vec_b). */
    QueryDef(
      "dd_semantic_dedup",
      (s, d) => {
        val asg = graft.sim.Similarity.assignCells(s, d)
          .select(col("vec_id"), col("cell"))
        val dups = cellCosPairs(s, d)
          .filter(col("cos6") >= 0.35)
          .groupBy(col("vec_b"))
          .agg(count(lit(1)).as("n_dups"))
          .withColumnRenamed("vec_b", "vec_id")
        asg.join(dups, Seq("vec_id"), "left_outer")
          .select(col("vec_id"), col("cell"),
            coalesce(col("n_dups"), lit(0L)).as("n_dups"))
          .withColumn("status",
            when(col("n_dups") > 0, "drop").otherwise("keep"))
          .orderBy("vec_id")
      },
      Some(s"""WITH ${graft.sim.Similarity.duckKmeansChain()},
             |ev AS (SELECT e.vec_id, e.v, a.cell FROM e JOIN assign a USING (vec_id)),
             |$duckCellKeep,
             |p AS (SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
             |        list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * c.v[i])) AS dot,
             |        list_sum(list_transform(a.v, x -> x * x)) AS na,
             |        list_sum(list_transform(c.v, x -> x * x)) AS nb
             |      FROM ev a JOIN keepc k ON k.cell = a.cell
             |           JOIN ev c ON a.cell = c.cell AND a.vec_id > c.vec_id),
             |dd AS (SELECT vec_a AS vec_id, COUNT(*) AS n_dups FROM p
             |       WHERE round(dot / sqrt(na * nb), 6) >= 0.35 GROUP BY vec_a)
             |SELECT a.vec_id, a.cell,
             |       CAST(COALESCE(dd.n_dups, 0) AS BIGINT) AS n_dups,
             |       CASE WHEN COALESCE(dd.n_dups, 0) > 0 THEN 'drop'
             |            ELSE 'keep' END AS status
             |FROM assign a LEFT JOIN dd USING (vec_id) ORDER BY a.vec_id""".stripMargin)),

    /** DECONTAMINATION: flag corpus documents that share any word 3-gram
      * with a benchmark/eval set (stand-in: the src0 documents) — the
      * GPT-3-style n-gram overlap scrub every pretraining pipeline runs so
      * eval answers don't leak into training data. Shape at 100 TB: the
      * benchmark side is first PRE-AGGREGATED to a shingle → distinct-doc-
      * count dictionary (one row per shingle — bounded by the eval suite's
      * vocabulary, tiny) and BROADCAST to the corpus shingle stream, so the
      * join emits at most one match per corpus shingle row; joining the raw
      * per-bench-doc shingle rows instead would fan out |bench docs| copies
      * of every stop-shingle — the hot-key explosion the MaxBucket cap
      * guards elsewhere, avoided here by construction since dropping hot
      * shingles would cost decontamination RECALL (eval leakage). The
      * shared shingle subtree is computed once (ReuseExchange, same as
      * dd_ngram_jaccard). Output per contaminated doc: distinct overlapping
      * shingles and total bench-doc incidences (sum over shared shingles of
      * the bench docs containing each). */
    QueryDef(
      "dd_decontaminate",
      (s, d) => {
        // OPTIMIZATION r21 (guide §2.3 "project before the exchange" /
        // §1.2 step 1): each side shingles ONLY its own source slice via
        // the frame-parameterized shingleRowsOf (the RunCorpusPipeline
        // form) instead of shingling the WHOLE corpus twice and then
        // joining a (doc_id, source) projection to throw most rows away —
        // shingling is per-row, so filtering before it is exactly
        // equivalent to the inner doc_id join after it (NULL source fails
        // both `=== 'src0'` and `=!= 'src0'`, dropped on both paths). Plan:
        // 4 documents scans → 2, and the two doc-keyed joins disappear.
        val docs = Tables.documents(s, d)
        val benchDict = shingleRowsOf(docs.filter(col("source") === "src0"))
          .groupBy(col("sng")).agg(countDistinct(col("doc_id")).as("nb"))
        val corpus = shingleRowsOf(docs.filter(col("source") =!= "src0"))
          .select(col("doc_id"), col("sng"))
        corpus.join(broadcast(benchDict), "sng")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shared_shingles"),
            sum(col("nb")).as("n_bench_incidences"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${duckShingleChain("ex")},
             |benchdict AS (SELECT e.sng, COUNT(DISTINCT e.doc_id) AS nb FROM ex e
             |              JOIN documents d ON d.doc_id = e.doc_id
             |              WHERE d.source = 'src0' GROUP BY e.sng),
             |corpus AS (SELECT e.doc_id, e.sng FROM ex e
             |           JOIN documents d ON d.doc_id = e.doc_id WHERE d.source <> 'src0')
             |SELECT c.doc_id, COUNT(*) AS n_shared_shingles,
             |       CAST(SUM(b.nb) AS BIGINT) AS n_bench_incidences
             |FROM corpus c JOIN benchdict b ON c.sng = b.sng
             |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin)),

    /** BLOOM-FILTER build + probe, SQL-native: the broadcast pre-join
      * pruning structure a 100 TB pipeline puts in front of an expensive
      * join (probe the filter, ship only probable members). The filter over
      * the src0 members' fingerprints is k=4 md5-derived 12-bit positions
      * (the Kirsch-Mitzenmacher trick the MinHash family already uses;
      * 12 bits rather than a production 2^30+ so the false-positive path
      * actually FIRES on the fixture and the oracle pins its exact count) —
      * its DISTINCT position set is ≤ 4·|members| rows of one SMALLINT-
      * range value, broadcastable at any corpus size that has a bounded
      * member side. A doc probes positive iff ALL 4 of its positions are
      * set. Because both engines derive identical positions from identical
      * md5s, the exact false-positive count is DETERMINISTIC and the oracle
      * hash-checks it (not just a bound) — and n_false_neg must be zero by
      * construction in any correct Bloom filter, which the oracle states as
      * a literal 0. */
    QueryDef(
      "dd_bloom_probe",
      (s, d) => {
        // NULL-text docs are excluded on BOTH sides: a NULL fingerprint can
        // be neither inserted into the filter nor probed, so keeping them
        // made the oracle's "n_false_neg is zero by construction" literal
        // FALSE for a NULL-text src0 member (round-19 review; NullTextSpec).
        val fp = Tables.documents(s, d)
          .filter(col("text").isNotNull)
          .select(col("doc_id"), col("source"),
            normFp(col("text")).as("fp"))
        // ONE pass per side: the 4 positions explode from one md5 per doc —
        // the earlier 4-way unionAll of projections re-scanned documents
        // and recomputed the normFp md5 per branch (round-19 review).
        def positions(df: DataFrame) = df
          .select(col("doc_id"), col("source"),
            explode(expr("transform(sequence(0, 3), i -> " +
              "CAST(conv(substr(md5(fp), 1 + 4 * i, 3), 16, 10) AS BIGINT))"))
              .as("pos"))
        val filterSet = positions(fp.filter(col("source") === "src0"))
          .select(col("pos")).distinct()
        val probed = positions(fp)
          .join(broadcast(filterSet.withColumn("set1", lit(1))), Seq("pos"), "left_outer")
          .groupBy(col("doc_id"), col("source"))
          .agg((count(col("set1")) === 4).as("bloom_hit"))
        probed
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_bloom_hits"),
            sum(when(col("bloom_hit") && col("source") =!= "src0", 1L).otherwise(0L))
              .as("n_false_pos"),
            sum(when(!col("bloom_hit") && col("source") === "src0", 1L).otherwise(0L))
              .as("n_false_neg"))
          .orderBy(col("source").asc_nulls_first)
      },
      Some("""WITH fp AS (SELECT doc_id, source,
             |              md5(translate(regexp_replace(trim(text), ' +', ' ', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fp
             |            FROM documents WHERE text IS NOT NULL),
             |pos AS (SELECT doc_id, source,
             |          CAST(('0x' || substr(md5(fp), 1 + 4 * i, 3)) AS BIGINT) AS pos
             |        FROM fp, range(0, 4) r(i)),
             |fset AS (SELECT DISTINCT pos FROM pos WHERE source = 'src0'),
             |probed AS (SELECT p.doc_id, p.source, COUNT(f.pos) = 4 AS bloom_hit
             |           FROM pos p LEFT JOIN fset f ON p.pos = f.pos
             |           GROUP BY p.doc_id, p.source)
             |SELECT source, COUNT(*) AS n_docs,
             |       CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
             |       CAST(SUM(CASE WHEN bloom_hit AND source <> 'src0' THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_false_pos,
             |       CAST(0 AS BIGINT) AS n_false_neg
             |FROM probed GROUP BY source ORDER BY source NULLS FIRST""".stripMargin)),

    /** MINHASH ESTIMATOR QUALITY — the index-tuning eval for the LSH
      * family (the dd_* analog of sim_ann_recall): for every MinHash-LSH
      * candidate pair, the signature's Jaccard ESTIMATE (matching
      * components / 64) next to the EXACT shingle Jaccard, plus the
      * per-pair error. Signature resolution and band layout are tuned on
      * exactly this table — run it after every knob change, before the
      * index is trusted at scale. Cost is pair-sized: signatures join the
      * candidate pairs (never all pairs), and the exact side reuses the
      * capped inverted-index intersection counts (a candidate with no
      * shared shingle scores exact 0 — a band false positive, visible as
      * est >> exact). */
    QueryDef(
      "dd_minhash_quality",
      (s, d) => {
        val sig = minhashSigStored(s, d)
        val arr = array((0 until NumHashes).map(i => col(s"mh$i")): _*)
        val sa = sig.select(col("doc_id").as("doc_a"), arr.as("sa"))
        val sb = sig.select(col("doc_id").as("doc_b"), arr.as("sb"))
        val est = minhashPairs(s, d).join(sa, "doc_a").join(sb, "doc_b")
          .withColumn("nm", expr(
            "aggregate(zip_with(sa, sb, (x, y) -> CAST(x = y AS BIGINT)), " +
              "0L, (acc, v) -> acc + v)"))
          .select(col("doc_a"), col("doc_b"),
            expr(s"(1000 * nm) div $NumHashes").as("est_permille"))
        val jac = jaccardPairs(s, d, permille = 0)
          .select(col("doc_a"), col("doc_b"),
            col("jaccard_permille").as("exact_permille"))
        est.join(jac, Seq("doc_a", "doc_b"), "left_outer")
          .withColumn("exact_permille", coalesce(col("exact_permille"), lit(0L)))
          .withColumn("err_permille", abs(col("est_permille") - col("exact_permille")))
          .orderBy("doc_a", "doc_b")
      },
      Some {
        val nm = (0 until NumHashes)
          .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
          .mkString(" +\n|             ")
        s"""WITH $duckInterChain,
           |${duckSigChain("ex")},
           |bands AS (SELECT doc_id, unnest([
           |            ${duckBandList(NumBands, RowsPerBand)}]) AS bk FROM sig),
           |keepb AS (SELECT bk FROM bands GROUP BY bk HAVING COUNT(*) <= $MaxBucket),
           |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
           |         FROM bands a JOIN keepb k ON a.bk = k.bk
           |              JOIN bands c ON c.bk = a.bk AND a.doc_id < c.doc_id),
           |est AS (SELECT cand.doc_a, cand.doc_b,
           |          ($nm) AS nm
           |        FROM cand JOIN sig sa ON sa.doc_id = cand.doc_a
           |             JOIN sig sb ON sb.doc_id = cand.doc_b),
           |fin AS (SELECT e.doc_a, e.doc_b,
           |          (1000 * nm) // $NumHashes AS est_permille,
           |          COALESCE((1000 * i) // (na.n + nb.n - i), 0) AS exact_permille
           |        FROM est e
           |        LEFT JOIN inter ON inter.doc_a = e.doc_a AND inter.doc_b = e.doc_b
           |        JOIN n na ON na.doc_id = e.doc_a
           |        JOIN n nb ON nb.doc_id = e.doc_b)
           |SELECT doc_a, doc_b, CAST(est_permille AS BIGINT) AS est_permille,
           |       CAST(exact_permille AS BIGINT) AS exact_permille,
           |       CAST(abs(est_permille - exact_permille) AS BIGINT) AS err_permille
           |FROM fin ORDER BY doc_a, doc_b""".stripMargin
      }),

    /** LSH BAND-LAYOUT TUNING — the b×r trade table MinHash-LSH is tuned
      * on: for each layout of the SAME 64 stored hashes (8×8, 16×4, 32×2),
      * the capped candidate-pair count, how many candidates are true ≥0.5
      * pairs, and the resulting recall/precision (permille). More rows per
      * band ⇒ fewer, higher-precision candidates; more bands ⇒ higher
      * recall at more pair mass — this query turns the S-curve algebra
      * into measured numbers on THIS corpus, the dd_* analog of
      * sim_nprobe_sweep (eval-as-operator: rerun per corpus, not per
      * notebook). Ground truth is the persisted ≥0.5 Jaccard pair graph;
      * candidates come from the persisted signature table — three band
      * expansions, zero new corpus passes, every bucket through the shared
      * cap.
      *
      * Shape note (round 15, measured): the per-arm loop LOOKS like it
      * executes the pair skeleton six times (three arms, `cands` consumed
      * by two aggregations each), but Spark's exchange reuse shares the
      * skeleton's shuffles between the two consumers, so only the cheap
      * post-exchange stages repeat. The "obvious" rewrite — one
      * (bands, rws, bk)-keyed postings frame through ONE skeleton pass +
      * one left-join aggregation, the oracle's UNION ALL shape — was
      * built and benched at sf0.1: 2.8s vs 1.5s here at equal total CPU
      * (~54 cpu-s both; the unified form's single wide aggregation loses
      * the smaller per-arm sort runs and reuses nothing). Keep the loop.
      *
      * The one real divergence the analysis found IS fixed: a layout
      * whose every bucket is over-cap yields zero candidates, where the
      * arm-wise `agg` emitted a (b, r, 0, 0, 0, 0) row but the oracle's
      * GROUP BY omits the arm — the n_cands > 0 filter states the
      * oracle's omission explicitly (never fires on the fixtures; all
      * three arms have candidates). */
    QueryDef(
      "dd_band_tuning",
      (s, d) => {
        val sig = minhashSigStored(s, d)
        val jac = jaccardPairs(s, d, permille = 500).select(col("doc_a"), col("doc_b"))
        val tot = jac.agg(count(lit(1)).as("n_true_total"))
        Seq((8, 8), (16, 4), (32, 2)).map { case (b, r) =>
          val cands = bucketedIdPairs(
            sig.select(col("doc_id"),
              explode(array(bandKeyCols(b, r): _*)).as("bk")),
            col("bk")).distinct()
          // OPTIMIZATION r22 (guide §1.2 — VERDICT r21 #7 re-pair): the two
          // per-arm counters ride ONE pass over cands (left-outer marker:
          // count(*) = candidate count, count(t) = candidates with a true
          // pair — jac is unique per (doc_a, doc_b) from its groupBy, so
          // the left join never duplicates a candidate) instead of a
          // count + a second left-semi aggregation, which re-ran the
          // band-expansion tail per arm. This keeps the per-arm loop the
          // round-15 measurement chose — only the within-arm double
          // consumption is fused. Paired min-of-5: 1.402 → 1.294 (−7.7%,
          // steal_s 0.2/0.1 — the r21 #7 re-pair, fresh numbers).
          cands.join(jac.withColumn("t", lit(1)), Seq("doc_a", "doc_b"), "left_outer")
            .agg(count(lit(1)).as("n_cands"), count(col("t")).as("n_true_cands"))
            .crossJoin(tot)
            .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
              col("n_cands"), col("n_true_cands"),
              expr("CASE WHEN n_true_total = 0 THEN 0 " +
                "ELSE (1000 * n_true_cands) div n_true_total END").as("recall_permille"),
              expr("CASE WHEN n_cands = 0 THEN 0 " +
                "ELSE (1000 * n_true_cands) div n_cands END").as("precision_permille"))
        }.reduce(_.unionAll(_))
          .filter(col("n_cands") > 0)
          .orderBy("bands")
      },
      Some {
        val bandArms = Seq((8, 8), (16, 4), (32, 2)).flatMap { case (b, r) =>
          (0 until b).map { bi =>
            val cols = (0 until r).map(j => s"mh${bi * r + j}").mkString(", ")
            s"SELECT $b AS bands, $r AS rws, doc_id, " +
              s"md5(concat_ws('|', $bi, $cols)) AS bk FROM sig"
          }
        }.mkString("\n|  UNION ALL ")
        s"""WITH ${duckJaccard(500)},
           |${duckSigChain("ex")},
           |bands AS (
           |  $bandArms),
           |bkeep AS (SELECT bands, bk FROM bands GROUP BY bands, bk
           |          HAVING COUNT(*) <= $MaxBucket),
           |cand AS (SELECT DISTINCT a.bands, a.rws, a.doc_id AS doc_a, c.doc_id AS doc_b
           |         FROM bands a JOIN bkeep k ON k.bands = a.bands AND k.bk = a.bk
           |              JOIN bands c ON c.bands = a.bands AND c.bk = a.bk
           |                   AND a.doc_id < c.doc_id),
           |tot AS (SELECT COUNT(*) AS n_true_total FROM jac),
           |st AS (SELECT cand.bands, cand.rws,
           |         COUNT(*) AS n_cands,
           |         CAST(SUM(CASE WHEN jac.doc_a IS NOT NULL THEN 1 ELSE 0 END)
           |              AS BIGINT) AS n_true_cands
           |       FROM cand LEFT JOIN jac
           |         ON jac.doc_a = cand.doc_a AND jac.doc_b = cand.doc_b
           |       GROUP BY cand.bands, cand.rws)
           |SELECT CAST(bands AS INTEGER) AS bands,
           |       CAST(rws AS INTEGER) AS rows_per_band,
           |       n_cands, n_true_cands,
           |       CASE WHEN tot.n_true_total = 0 THEN 0
           |            ELSE (1000 * n_true_cands) // tot.n_true_total END
           |         AS recall_permille,
           |       CASE WHEN n_cands = 0 THEN 0
           |            ELSE (1000 * n_true_cands) // n_cands END AS precision_permille
           |FROM st, tot ORDER BY bands""".stripMargin
      }),
  )
}
