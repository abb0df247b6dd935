package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Deduplication operators over `documents` / `embeddings` (BASELINE
  * north-star "dedup"): exact, MinHash-LSH, n-gram Jaccard, SimHash, and
  * embedding-cosine near-dup.
  *
  * Design for the 100 TB case:
  *  - Exact dedup is a fingerprint group-by — one shuffle on the md5 key.
  *  - MinHash-LSH: per-doc signatures are computed with higher-order array
  *    functions (narrow, codegen), then candidates come from a self-join on
  *    (band, band-hash) — the classic band-bucket join. The join key space is
  *    large (md5 of a quarter-signature), so the shuffle distributes well and
  *    no pairwise O(n²) comparison ever happens.
  *  - n-gram Jaccard runs on the inverted shingle index (explode → bucket →
  *    pair-expand → count), again avoiding the quadratic cross product;
  *    buckets above [[MaxBucket]] (stop-shingles / hot bands) are dropped
  *    from candidate generation, bounding the per-key expansion.
  *  - SimHash reduces each doc to a compact code; near-dup candidates come
  *    from multi-band LSH over a 60-bit code (corpus-adaptive width,
  *    [[SimShape]] — 4 bands x 15 bits at fixture scale) plus a
  *    Hamming-distance filter (`bit_count(xor)`), never all-pairs.
  *  - The MinHash function family is `md5(seed:shingle)` with *string* min:
  *    lexicographic min of a uniform hash is a valid min-wise hash and is
  *    bit-reproducible in any engine with md5 (the oracle requirement).
  */
object Dedup extends DedupPairQueries with DedupCorpusQueries {

  private[dedup] val toks = "split(trim(text), ' +')"

  /** MinHash-LSH shape: 64 hashes in 16 bands of 4. P(pair becomes a
    * candidate) = 1-(1-j⁴)¹⁶ — ≥0.8-Jaccard pairs are caught with
    * probability ~0.9996; extra bands cost only integer mins. */
  val NumHashes = 64
  val NumBands = 16
  val RowsPerBand = 4

  /** Distinct word 3-gram shingles, one row per (doc_id, shingle).
    *
    * Row-form on purpose: posexplode + lead() keeps the whole pipeline in
    * whole-stage codegen. The array-HOF formulation (transform/element_at/
    * array_distinct) is interpreted and measured ~1.7 ms/doc — it dominated
    * the dedup queries. The window shuffle partitions by doc_id, which is
    * exactly how it distributes at scale. */
  private[graft] def shingleRows(s: SparkSession, d: String): DataFrame =
    shingleRowsOf(Tables.documents(s, d))

  /** [[shingleRows]] over an arbitrary (doc_id, text) frame — the
    * frame-parameterized form for callers that shingle a SUBSET (the
    * corpus pipeline's eval dictionary shingles only the eval source;
    * the monolithic form forced a full-corpus shingle pass that a
    * doc_id join then threw away, since Catalyst can't push the join
    * below the per-doc window + distinct). */
  private[graft] def shingleRowsOf(docs: DataFrame): DataFrame =
    // OPTIMIZATION r21 (guide §2.4, the tx_tfidf/tx_repetition pattern):
    // 3-gram shingles assemble ROW-LOCALLY from the materialized token
    // array and dedup per row with array_distinct — identical (doc_id, sng)
    // set as the old posexplode + two lead() windows + global distinct
    // (per-doc distinct ≡ global distinct when doc_id is in the key), but
    // the plan loses BOTH the token-stream Exchange(doc_id)+Sort the
    // window forced and the (doc_id, sng)-keyed distinct Exchange. Docs
    // with <3 tokens have no full shingle on either path (the old filter
    // on lead-2 NULL; size(NULL)=-1 under non-ANSI covers NULL text).
    docs
      .select(col("doc_id"), expr(toks).as("tk"))
      .filter(expr("size(tk) >= 3"))
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(2, size(tk) - 1), " +
          "i -> concat_ws(' ', tk[i - 2], tk[i - 1], tk[i])))")).as("sng"))

  /** Positional 8-token shingles, one row per (doc_id, pos, gh) — the
    * repeated-substring index grain. Same relational discipline as
    * [[shingleRows]] (posexplode + leads over ONE doc_id window, every md5
    * computed once in codegen), with the token array materialized BEFORE
    * the explode (the winnowedFpRows round-9 lesson: a sibling projection
    * above the Generate re-runs the split per exploded row). Positions are
    * kept (no distinct): the mass numerator counts POSITIONS, so a doc
    * that repeats boilerplate internally weighs each occurrence.
    *
    * Fingerprint width — 48 bits, INTENTIONALLY, the winnowing family's
    * width (TextStats.winnowedFpRows, same md5_prefix48 kernel): the
    * collision budget is the birthday bound ~2^24 ≈ 16 M distinct grams
    * before collisions perturb counts, and each collision inflates ONE
    * gram's repeat count by one posting — a statistical nudge to a
    * mass-permille, never a correctness break (the consumers threshold
    * aggregate mass, they don't assert identity). A corpus whose distinct
    * 8-gram count approaches 2^24 per screened partition should move this
    * one call site to a 64-bit prefix (conv of 16 hex chars caps at
    * Long.MaxValue); the shuffle key widens, nothing else changes. */
  private[dedup] def gram8Rows(s: SparkSession, d: String): DataFrame = {
    // OPTIMIZATION r21 (guide §2.4, the winnowedFpRows rewrite's sibling):
    // positional 8-gram hashes assemble ROW-LOCALLY (one transform over the
    // materialized token array, each md5 computed once per gram) instead of
    // posexplode + seven lead() windows, which shuffled AND sorted the full
    // token stream just to see each token's successors. posexplode of the
    // gram array keeps the identical (doc_id, pos, gh) grain — pos is the
    // gram's start-token index on both paths; docs under 8 tokens have no
    // gram on either (the old lead-7 NULL filter ≡ the size guard here).
    Tables.documents(s, d)
      .select(col("doc_id"), expr(toks).as("tk"))
      .filter(expr("size(tk) >= 8"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(7, size(tk) - 1), i -> md5_prefix48(concat_ws(' ', " +
          "tk[i - 7], tk[i - 6], tk[i - 5], tk[i - 4], " +
          "tk[i - 3], tk[i - 2], tk[i - 1], tk[i])))")).as(Seq("pos", "gh")))
  }

  /** Bucket-size cap for candidate generation. A stop-shingle or hot band
    * otherwise collects one huge doc list whose pair expansion is quadratic
    * — the 100 TB killer. A key shared by more than this many docs carries
    * no near-dup signal, so such buckets are dropped from pair generation
    * (standard stop-shingle removal). EVERY bucketed candidate generator's
    * oracle mirrors the cap with a `keep … HAVING COUNT(*) <= cap` CTE, so
    * both engines always state the same semantics (at sf0.1 the cap FIRES
    * for simhash band buckets — one holds 1,371 docs — and stays dormant for
    * shingle buckets, max 25 docs; either way the engines agree by
    * construction). The adversarial case is covered by DedupSpec's
    * hot-shingle property. */
  val MaxBucket = 1000

  /** Exact-dedup normalized-text fingerprint — THE one engine-side
    * definition (round 17: it had drifted into 12 inline copies across the
    * batch queries and BOTH streaming dedup paths, where a one-sided
    * normalization retune would silently split stream from batch —
    * DocsStreamSpec pins their equality, but only at spec time). The
    * DuckDB oracles keep their literal
    * `md5(translate(regexp_replace(trim(text), ' +', ' ', 'g'), 'A..Z',
    * 'a..z'))` text (the dialect needs the 'g' flag); the per-round
    * oracle hash gate is the cross-engine tripwire for that text, the
    * same contract as every other oracle string.
    *
    * ASCII-ONLY case fold (round 20, found by the Unicode text-grid
    * replay): `lower()` is NOT engine-portable — Java/Spark full-folds
    * U+0130 'İ' to "i"+COMBINING DOT (two code points) where DuckDB's
    * simple fold yields plain "i", so the same document fingerprinted
    * differently in the two engines. An md5 identity key must be
    * bit-reproducible in ANY engine (the MinHash family rule above), so
    * the canonicalization folds exactly [A-Z]→[a-z] via translate and
    * leaves non-ASCII case untouched (documented trade: "İstanbul" and
    * "istanbul" are distinct documents — acceptable for an identity
    * fingerprint, where a locale-dependent merge would be silent data
    * loss that differs per engine). UnicodeTextSpec pins the trap chars. */
  def normFp(text: Column): Column =
    md5(translate(regexp_replace(trim(text), " +", " "),
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"))

  /** The [[SimShape]] ladder rendered into artifact NAMES: the content key
    * detects corpus changes but is blind to a CONSTANT retune, so an
    * artifact whose build bakes in a documented tunable must carry the
    * tunable in its name — a SimShape/cap/k retune then forces a rebuild
    * instead of silently serving the stale graph with an identical schema
    * (round-17 review finding; see [[graft.Artifacts.indexParquet]]'s
    * naming policy). */
  private[graft] def simShapeTag: String =
    (SimShape.map { case (t, b) => s"$b@$t" } :+ s"$SimBitsMax").mkString("-") + "_"

  /** `dd_line_dedup` span width (tokens per pseudo-line). Small enough that
    * the fixture's ~40-word vocabulary produces real cross-document span
    * collisions (3 tokens ≈ 6.4e4 combinations vs ~2e4 spans at sf0.01),
    * which is the boilerplate-repeat regime the operator exists for. */
  val LineTok = 3


  /** Expand each bucket's sorted element list `ds` into its (x, y) element
    * pairs (x before y in sort order) — the shared tail of EVERY bucketed
    * candidate generator in the engine (shingle/minhash/simhash buckets
    * here, hyperplane-LSH code buckets in graft.sim, fuzzy-join blocks in
    * graft.ops), with the `cap` filter bounding the quadratic per-bucket
    * expansion in ONE audited place. Elements may be scalars or structs;
    * the result is `p.x` / `p.y` of the element type, with the bucket
    * frame's OTHER columns (e.g. the bucket key) carried through so a
    * consumer that needs them (dd_embed_cosine's `cell`) doesn't join
    * back.
    *
    * TWO-LEVEL explode, deliberately (round 16, found by the 100×-replica
    * probe): the earlier one-shot
    * `explode(flatten(transform(ds, … slice …)))` materialized the ENTIRE
    * per-bucket pair array — O(cap²·payload) in one Generate input — so a
    * near-cap bucket of (vec_id, 64-double) structs built a ~half-GB array
    * per bucket row and 32 concurrent tasks OOMed an 8 GB executor heap at
    * the 500k-doc point, with the CAP ITSELF holding (the cap bounds pair
    * COUNT, it never bounded the expansion's transient). Exploding the
    * element first (posexplode) and then only that element's remaining
    * slice keeps the per-row transient at O(cap·payload) — a cap-factor
    * (1000×) reduction — while the pair STREAM is unchanged and stays
    * pipelined in the same codegen stage: downstream filters (Hamming,
    * cosine threshold) still consume pairs one at a time, nothing
    * pair-mass-sized is ever held. Output, ordering, and the plan's
    * no-join shape are identical (DedupSpec/PlanShapeSpec pins). */
  def cappedElementPairs(buckets: DataFrame, cap: Int = MaxBucket): DataFrame =
    buckets
      .filter(size(col("ds")) <= cap)
      .select(col("*"), posexplode(col("ds")).as(Seq("__i", "__x")))
      .withColumn("p", explode(expr(
        "transform(slice(ds, __i + 2, size(ds) - __i - 1), " +
          "y -> struct(__x AS x, y AS y))")))
      .drop("ds", "__i", "__x")

  /** Scalar-id convenience over [[cappedElementPairs]]: (doc_a, doc_b).
    * No production caller remains since jaccardPairs moved onto
    * [[bucketedIdPairs]] (the full skeleton, whose capped collect bounds
    * buckets before any list exists); retained for DedupSpec's direct cap
    * property over a hand-built bucket frame. */
  private[graft] def bucketPairs(buckets: DataFrame, cap: Int = MaxBucket): DataFrame =
    cappedElementPairs(buckets, cap)
      .select(col("p.x").as("doc_a"), col("p.y").as("doc_b"))

  /** The FULL postings→pairs skeleton (VERDICT r13 #7): invert a postings
    * frame by `keys` into sorted per-bucket element lists, drop hot buckets
    * over [[MaxBucket]], expand per-bucket element pairs — the shape every
    * bucketed candidate generator repeats (shingle/minhash/simhash/winnow/
    * frame/cell buckets here, pHash bands in graft.mm, hyperplane-LSH codes
    * in graft.sim, fuzzy-join blocks in graft.ops). `elem` may be a scalar
    * id or a struct carrying a payload (codes/vectors ride the bucket rows
    * so the verify step needs no join back); result is the key columns plus
    * `p.x` / `p.y` of the element type.
    *
    * The cap is enforced INSIDE the collect, in one pass: the native
    * [[graft.functions.CollectSortedCapped collect_sorted_capped]]
    * aggregate keeps at most cap+1 elements per partial buffer and
    * replaces an over-cap bucket's list with a sticky overflow flag (the
    * bucket evals to NULL, filtered here), so no buffer anywhere ever
    * holds an over-cap bucket. Without the bound, a stop-shingle shared
    * by ~100M docs would materialize one ~GB array row just to be
    * discarded by the size filter — the 100 TB OOM the cap exists to
    * prevent. This replaced the round-14/15 two-pass form (map-combined
    * counting pass → broadcast hot-key left-anti → collect_list), which
    * had the same memory bound but computed the postings subplan twice
    * and probed an anti-join per row — measured at sf0.1 over the
    * six-query pair family: 6.9s two-pass vs 5.7s one-pass
    * (dd_winnow_pairs −35%), identical oracle results by construction
    * (a bucket is dropped iff its true non-null element count exceeds
    * the cap — CollectCappedSpec pins equivalence bucket-by-bucket).
    * The size filter in [[cappedElementPairs]] stays as a defensive
    * second statement of the cap. NULL-keyed postings are DROPPED: a
    * null blocking key carries no co-occurrence signal, every oracle's
    * equi-join keep-CTE drops them anyway (NULL = NULL is UNKNOWN in
    * SQL), and without the filter Spark would pair the null bucket the
    * oracle never sees (latent today — derived keys are md5/xxhash of
    * non-null input — but a nullable key like jn_fuzzy's p_brand makes
    * it real). `keys` must be NAMED columns (`col("bk")` /
    * `expr(..).as("bv")`) — the groupBy and null filter use those
    * names. */
  def bucketedPairs(postings: DataFrame, elem: Column, keys: Column*): DataFrame = {
    val p = postings.select((keys :+ elem.as("__e")): _*)
    val keyNames = p.columns.dropRight(1).toSeq
    val nonNull = p.filter(keyNames.map(col(_).isNotNull).reduce(_ && _))
    cappedElementPairs(
      nonNull.groupBy(keyNames.map(col): _*)
        .agg(expr(s"collect_sorted_capped(__e, $MaxBucket)").as("ds"))
        .filter(col("ds").isNotNull))
  }

  /** [[bucketedPairs]] for plain doc_id elements: (doc_a, doc_b) with
    * doc_a < doc_b (the sorted-bucket order). */
  private[graft] def bucketedIdPairs(postings: DataFrame, keys: Column*): DataFrame =
    bucketedPairs(postings, col("doc_id"), keys: _*)
      .select(col("p.x").as("doc_a"), col("p.y").as("doc_b"))

  /** Per-doc 64-component MinHash signature (columns mh0..mh63).
    *
    * Kirsch-Mitzenmacher family: hash_i(s) = (h1 + i*h2m) mod P derived
    * from ONE md5 per shingle (h1 = hex[1..15], h2m = hex[17..31] mod P)
    * — 64 minhashes for the md5 cost of one, and every operation is
    * plain BIGINT math the oracle reproduces exactly. P = 2^31-1 keeps
    * h1 + 63*h2m < 2^61 (no overflow in either engine).
    *
    * Shaped as explode → partial-aggregated `min` per (doc, seed) → band
    * keys from the grouped rows, NOT as nested array HOFs: the HOF form
    * lets CollapseProject inline the 1280-md5 signature expression into
    * every band-key reference (observed ~80× recompute), while this form
    * computes each md5 once inside codegen and gets map-side combine on
    * the min — the formulation that also scales out (the shuffle key is
    * (doc, seed), perfectly distributed). */
  private[dedup] def minhashSig(s: SparkSession, d: String): DataFrame = {
    val hs = shingleRows(s, d).select(col("doc_id"), md5(col("sng")).as("m"))
    val hh = hs.select(col("doc_id"),
      expr("CAST(conv(substr(m, 1, 15), 16, 10) AS BIGINT)").as("h1"),
      expr("CAST(conv(substr(m, 17, 15), 16, 10) AS BIGINT) % 2147483647").as("h2m"))
    val minAggs = (0 until NumHashes).map(i =>
      min(expr(s"(h1 + $i * h2m) % 2147483647")).as(s"mh$i"))
    hh.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
  }

  /** Band keys for a b-bands × r-rows layout over stored minhash columns
    * mh0..mh{b*r-1} — ONE generator for every layout consumer
    * ([[minhashPairs]] and the dd_band_tuning sweep), so a hash-family or
    * delimiter change can't desynchronize the layouts. */
  private[dedup] def bandKeyCols(b: Int, r: Int): Seq[Column] =
    (0 until b).map { bi =>
      val cols = (0 until r).map(j => s"mh${bi * r + j}")
      expr(s"md5(concat_ws('|', $bi, ${cols.mkString(", ")}))")
    }

  /** The 64 minhash components as DuckDB select items (`mh0..mh63`),
    * mirroring [[minhashSig]]'s Kirsch-Mitzenmacher family. */
  private[dedup] val duckMins: String = (0 until NumHashes)
    .map(i => s"MIN((h1 + $i * h2m) % 2147483647) AS mh$i")
    .mkString(",\n          ")

  /** [[bandKeyCols]]'s DuckDB twin: the band-key md5 list for a b×r
    * layout, for use inside `unnest([...])`. */
  private[dedup] def duckBandList(b: Int, r: Int): String =
    (0 until b).map { bi =>
      val cols = (0 until r).map(j => s"mh${bi * r + j}").mkString(", ")
      s"md5(concat_ws('|', $bi, $cols))"
    }.mkString(",\n            ")

  /** DuckDB CTE chain `hs/hh/sig` deriving the 64-component signature
    * table from a `(doc_id, sng)` relation `src` — stated ONCE for the
    * three minhash oracles (lsh, quality, band tuning), which previously
    * hand-copied it; a hash-family change now edits one definition on each
    * side. Pre-stripped: embed anywhere inside an outer stripMargin
    * string. */
  private[dedup] def duckSigChain(src: String): String =
    s"""hs AS (SELECT doc_id, md5(sng) AS m FROM $src),
       |hh AS (SELECT doc_id, CAST(('0x' || substr(m, 1, 15)) AS BIGINT) AS h1,
       |              CAST(('0x' || substr(m, 17, 15)) AS BIGINT) % 2147483647 AS h2m
       |       FROM hs),
       |sig AS (SELECT doc_id,
       |          $duckMins
       |        FROM hh GROUP BY doc_id)""".stripMargin

  /** [[minhashSig]] as a parquet artifact, built once per corpus CONTENT
    * (the winnowFpIndexPath / k-means-model discipline: a signature table
    * is an INDEX, not per-query cost). Every consumer — band expansion,
    * and the quality eval's two signature joins — probes the stored table
    * instead of re-deriving 64 minhashes from the shingle stream; at scale
    * this is the difference between one signature build per corpus and one
    * per query. Keyed by [[graft.Artifacts]] content signature, so an
    * in-place dataset rewrite forces a rebuild instead of serving stale
    * signatures. */
  private[dedup] def minhashSigStored(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.indexParquet(s, s"mh_sig_h$NumHashes", d, "documents")(minhashSig(s, d))

  /** MinHash-LSH candidate pairs from [[minhashSig]]: 16 bands × 4 rows,
    * capped band buckets, deduped across bands. */
  private[dedup] def minhashPairs(s: SparkSession, d: String): DataFrame = {
    val sig = minhashSigStored(s, d)
    val bands = sig.select(col("doc_id"),
      explode(array(bandKeyCols(NumBands, RowsPerBand): _*)).as("bk"))
    bucketedIdPairs(bands, col("bk")).distinct()
  }

  /** Per-doc 32-bit SimHash: for each bit j, majority vote of distinct-token
    * hash bits (+1/-1), ties resolve to 1 (`>= 0`). One narrow pass via the
    * native simhash32 expression (graft.functions.SimHash32) — the exploded
    * tokens×32-bits formulation costs two wide shuffles and is kept only as
    * the DuckDB oracle. */
  private[dedup] def simhash(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr(s"simhash32(array_distinct($toks))").as("simhash"))
  }

  private[dedup] val duckSimhash =
    """sims AS (
      |  SELECT doc_id, CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << j)
      |                              ELSE 0 END) AS BIGINT) AS simhash
      |  FROM (
      |    SELECT doc_id, j,
      |           SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |    FROM (
      |      SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS h
      |      FROM (SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), ' +'))) AS t
      |            FROM documents)),
      |         (SELECT unnest(range(0, 32)) AS j)
      |    GROUP BY doc_id, j)
      |  GROUP BY doc_id)""".stripMargin

  /** 60-bit SimHash codes via the native simhash60 expression (15 md5 hex
    * chars per token hash — the width that supports 15-bit LSH bands). */
  private[dedup] def simhash60(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr(s"simhash60(array_distinct($toks))").as("simhash"))
  }

  /** [[simhash60]] as a parquet artifact, built once per corpus CONTENT —
    * the [[minhashSigStored]] discipline applied to the suite's slowest
    * query: the 60-bit code table is a per-corpus INDEX (one narrow pass
    * over the text), and the banded pair expansion should probe the stored
    * codes, not re-tokenize + re-hash the corpus on every run. */
  private[dedup] def simhash60Stored(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.indexParquet(s, "simhash60", d, "documents")(simhash60(s, d))

  /** CORPUS-ADAPTIVE simhash band width (round 16 — the 100×-replica probe
    * finding, same mechanism as Similarity.RpShape): fixed 15-bit bands
    * give a fixed 4 × 2¹⁵ ≈ 131k-bucket code space, so bucket sizes grow
    * linearly with the corpus and the candidate pair mass quadratically
    * (measured at the 500k-doc point: 117k buckets occupied, kept pair
    * mass 170M). The SAME 60-bit code regroups into wider, fewer bands as
    * N grows — thresholds keep expected bucket load ≤ ~0.5·N/2^bits small;
    * every fixture scale keeps today's 4×15 shape so established oracles
    * are untouched. Recall trade (documented, not hidden): a Hamming-h
    * pair matches a b-bit band with probability ≈ C(60-h, b)/C(60, b), so
    * at h = 3 recall across bands is ~96% at 4×15, ~90% at 3×20, ~73% at
    * 2×30; distant pairs (h ≈ 10) fall off faster — the ladder trades
    * far-pair recall for linear pair mass, and the winnow/jaccard families
    * (unbounded md5 key spaces — no saturation) remain the high-recall
    * lexical screens at scale. Both engines derive bits from the same
    * COUNT(*) over documents. */
  // Literal 15 on purpose, NOT SimBandBits: that constant is declared
  // later in the object body, and the forward reference only works while
  // it stays a compile-time-inlined `final val` — a type annotation or a
  // dropped `final` there would silently turn this rung into 0 at object
  // init (review finding, round 16). The spec pins 15 at fixture sizes.
  private[graft] val SimShape: Seq[(Long, Int)] = Seq(16384L -> 15, 2097152L -> 20)
  private[graft] val SimBitsMax = 30

  def simBitsFor(n: Long): Int =
    SimShape.collectFirst { case (t, b) if n <= t => b }.getOrElse(SimBitsMax)

  /** The ladder as SQL over `COUNT(*) FROM <from>` — generated from
    * [[SimShape]] so the engines cannot drift. The generated CASE text is
    * dialect-shared (DuckDB oracles embed it; LadderBoundarySpec evaluates
    * the same string in Spark SQL at the exact thresholds to prove both
    * rung selectors agree at every boundary N). */
  private[graft] def simShapeSqlFrom(from: String): String =
    "SELECT CASE " +
      SimShape.map { case (t, b) => s"WHEN COUNT(*) <= $t THEN $b" }.mkString(" ") +
      s" ELSE $SimBitsMax END AS bits FROM $from"

  private[graft] def simShapeSql: String = simShapeSqlFrom("documents")

  /** The SimHash near-dup pair graph (banded candidates, Hamming ≤ 10) as a
    * parquet artifact built FROM the stored code table — the [[jaccardPairs]]
    * discipline applied to the Hamming family: the expansion's pair mass is
    * the expensive part (sum of kept-bucket sizes squared), it is a pure
    * function of the corpus snapshot, and every consumer should probe the
    * materialized graph rather than re-expand buckets per query. Band
    * width from [[simBitsFor]] — the count runs once per artifact BUILD
    * (the probe path never reaches this block), and the shape is a pure
    * function of the same corpus content the artifact is keyed by. */
  private[dedup] def simhashPairGraph(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.indexParquet(s, s"simhash_pairs_${simShapeTag}h10c$MaxBucket", d, "documents") {
      simhashBandedPairs(s, d, simBitsFor(Tables.documents(s, d).count()))
    }

  /** The banded expansion at an EXPLICIT band width — the [[simhashPairGraph]]
    * body, factored so every [[SimShape]] rung (including the 2×30 top rung,
    * which only fires past 2,097,152 docs) is exercisable by a spec on a
    * small corpus without staging a rung-sized fixture (DedupSpec's
    * top-rung planted-near-dup test). Production callers always go through
    * the artifact wrapper above, which derives `bits` from the corpus
    * count. */
  private[dedup] def simhashBandedPairs(s: SparkSession, d: String, bits: Int): DataFrame = {
      val sh = simhash60Stored(s, d)
      val bandKeys = (0 until 60 / bits).map(b =>
        struct(lit(b).as("bi"),
          expr(s"shiftright(simhash, ${b * bits}) & ${(1L << bits) - 1}").as("bv")))
      val bands = sh
        .select(col("doc_id"), col("simhash"), explode(array(bandKeys: _*)).as("bk"))
      bucketedPairs(bands, struct(col("doc_id"), col("simhash")), col("bk"))
        .select(col("p.x.doc_id").as("doc_a"), col("p.y.doc_id").as("doc_b"),
          expr("CAST(bit_count(p.x.simhash ^ p.y.simhash) AS INTEGER)").as("hamming"))
        .filter(col("hamming") <= 10)
        .distinct()
  }

  /** The FIXTURE-SCALE simhash band width (the first [[SimShape]] rung —
    * 4 bands × 15 bits at N ≤ 16384). Band COUNT is always derived as
    * 60 / bits; there is deliberately no band-count constant left to wire
    * a consumer to (a fixed count reproduces the saturation bug SimShape
    * fixes). */
  final val SimBandBits = 15

  private[dedup] val duckSimhash60 =
    """sims AS (
      |  SELECT doc_id, CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << j)
      |                              ELSE 0 END) AS BIGINT) AS simhash
      |  FROM (
      |    SELECT doc_id, j,
      |           SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |    FROM (
      |      SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h
      |      FROM (SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), ' +'))) AS t
      |            FROM documents)),
      |         (SELECT unnest(range(0, 60)) AS j)
      |    GROUP BY doc_id, j)
      |  GROUP BY doc_id)""".stripMargin

  /** Inverted-index Jaccard pairs ≥ `permille`: candidate intersections
    * come from [[bucketedIdPairs]] over xxhash64(shingle) postings (the
    * audited invert → capped-collect → expand skeleton), and the
    * per-doc distinct-shingle counts `n` are a direct aggregation of the
    * SAME postings — uncapped on purpose: dropping hot shingles bounds
    * pair generation but must not shrink a doc's denominator. The
    * expensive scan → posexplode → window → distinct shingle subtree is
    * identical under both consumers (n and the capped bucket build), so
    * Catalyst's ReuseExchange computes the distinct exchange once and the
    * second pass is a shuffle re-read, not a corpus re-scan. */
  /** DuckDB CTE chain mirroring [[jaccardPairs]], ending in `jac(doc_a,
    * doc_b, jaccard_permille)`. The `keep` CTE states the [[MaxBucket]] cap
    * the Spark side applies in [[bucketedPairs]]' capped collect: hot
    * shingles are dropped from candidate generation in BOTH engines
    * (per-doc counts `n` stay uncapped on both sides — dropping a hot
    * shingle bounds pair mass, never a doc's denominator). Fixture shingle
    * buckets stay far under the cap today, but the semantics must agree by
    * construction, not by fixture luck. */
  /** The DuckDB tokenize → distinct-3-gram-shingle → unnest CTE prefix
    * (`toksq`/`sh`/`<outName>`), the oracle mirror of [[shingleRows]] —
    * stated ONCE like [[duckSigChain]] so a shingle-definition retune
    * (gram width, tokenizer) edits one definition per engine instead of
    * three hand-copied oracle texts (round-19 review). */
  private[dedup] def duckShingleChain(outName: String): String =
    s"""toksq AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1), i ->
       |         t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS shingles FROM toksq),
       |$outName AS (SELECT doc_id, unnest(shingles) AS sng FROM sh)""".stripMargin

  private[dedup] val duckInterChain: String =
    s"""${duckShingleChain("ex")},
       |n AS (SELECT doc_id, len(shingles) AS n FROM sh),
       |keep AS (SELECT sng FROM ex GROUP BY sng HAVING COUNT(*) <= $MaxBucket),
       |inter AS (SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, COUNT(*) AS i
       |          FROM ex a JOIN keep k ON a.sng = k.sng
       |               JOIN ex c ON a.sng = c.sng AND a.doc_id < c.doc_id
       |          GROUP BY 1, 2)""".stripMargin

  private[dedup] def duckJaccard(permille: Int): String =
    s"""$duckInterChain,
       |jac AS (SELECT doc_a, doc_b, (1000 * i) // (na.n + nb.n - i) AS jaccard_permille
       |        FROM inter JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b
       |        WHERE (1000 * i) // (na.n + nb.n - i) >= $permille)""".stripMargin

  /** Transitive near-dup cluster labels over the ≥0.5-Jaccard pair graph
    * as a content-keyed parquet artifact — the last derived structure of
    * the pair graph that was still recomputed per query (round-17 review
    * finding): [[connectedComponents]] is an O(log diameter) iterative
    * loop of joins + checkpoints + a driver-blocking count per round, and
    * BOTH dd_dup_clusters and dd_cluster_best paid it on every
    * invocation while every sibling structure (jac_pairs, simhash_pairs,
    * cell_cos_pairs) is built once and probed. Knob-tagged per the
    * [[graft.Artifacts.indexParquet]] naming policy (the 500‰ threshold
    * and the cap ride the build). */
  private[dedup] def dupClustersStored(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.indexParquet(s, s"dup_clusters_p500c$MaxBucket", d, "documents")(
      connectedComponents(
        jaccardPairs(s, d, permille = 500).select(col("doc_a"), col("doc_b")))._1)

  /** Truncate lineage between label-propagation rounds. With a configured
    * checkpoint dir this is a RELIABLE checkpoint (blocks on the cluster
    * store, survives executor loss — required for the iterative loop on a
    * real cluster, where one lost executor would otherwise invalidate an
    * unrecoverable lineage chain); without one it falls back to
    * executor-local blocks, the right trade in local mode.
    *
    * Lifecycle: each round REASSIGNS `labels`, dropping the only reference
    * to the previous round's checkpoint, so intermediate rounds don't pin
    * storage for the life of the session — local blocks are unpersisted by
    * the ContextCleaner on GC, and reliable checkpoint FILES are deleted
    * the same way because graft.Sessions sets
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (without it,
    * a 10-round CC would strand ~12 pair-graph-sized snapshots per
    * invocation on the cluster store). Only the returned labels frame's
    * checkpoint outlives the loop. */
  private def ckpt(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** Distributed connected components by min-label propagation WITH pointer
    * doubling: each round every node takes the min label among itself, its
    * neighbors, and the label OF its current label (the doubling step —
    * chains collapse in O(log diameter) rounds where a pure neighbor-min
    * walk needs one round per hop). Each round is two joins + one groupBy
    * over checkpointed frames ([[ckpt]]: RELIABLE when a checkpoint dir is
    * configured — how GraphX/GraphFrames' CC survives executor loss); the
    * convergence count reads the materialized step frame, costing no extra
    * shuffle. Returns (labels, rounds): every node of `pairs`, labeled by
    * the min node id of its component.
    *
    * Stats-compounding note: checkpoint snapshots the round's estimated
    * sizeInBytes into the next round's LogicalRDD, and Catalyst's default
    * join-stats estimate is the PRODUCT of child sizes — so the estimate's
    * BigInt digit count roughly doubles per round here (two labels-derived
    * join inputs). Over many rounds that compounding has the driver
    * spending minutes per round in BigInt stats arithmetic; THIS loop is
    * safe because pointer doubling converges in O(log diameter) rounds
    * and bucket caps bound component diameter — ≤ ~10 rounds ⇒ ~2^10·20
    * digits, microseconds of stats arithmetic. If the loop shape ever
    * changes to one round per hop, re-audit. */
  private[dedup] def connectedComponents(pairs: DataFrame): (DataFrame, Int) = {
    val p = ckpt(pairs)
    val sym = p.unionAll(p.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    var labels = ckpt(sym.select(col("doc_a").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id")))
    var rounds = 0
    var converged = false
    while (!converged) {
      rounds += 1
      val nbrMin = sym.join(labels, sym("doc_b") === labels("doc_id"))
        .groupBy(sym("doc_a").as("nbr_key")).agg(min(col("cluster_id")).as("nbr_min"))
      val hop = labels.select(col("doc_id").as("hop_key"), col("cluster_id").as("hop_min"))
      val step = ckpt(labels
        .join(nbrMin, labels("doc_id") === nbrMin("nbr_key"), "left_outer")
        .join(hop, labels("cluster_id") === hop("hop_key"), "left_outer")
        .select(labels("doc_id"), labels("cluster_id").as("old"),
          least(labels("cluster_id"),
            least(coalesce(col("nbr_min"), labels("cluster_id")),
              coalesce(col("hop_min"), labels("cluster_id")))).as("cluster_id")))
      converged = step.filter(col("cluster_id") < col("old")).count() == 0
      labels = step.select(col("doc_id"), col("cluster_id"))
    }
    (labels, rounds)
  }

  /** The near-dup pair graph (all co-shingle pairs with their exact
    * Jaccard) as a parquet artifact, built once per corpus CONTENT — the
    * same index discipline as [[winnowFpIndexPath]] and
    * [[minhashSigStored]]. Six queries consume this graph at different
    * thresholds (clean, cluster, matrix, manifest, eval, the ngram query
    * itself); in production it is built per corpus snapshot and probed,
    * not re-derived from the shingle stream per consumer. */
  private[graft] def jaccardPairs(s: SparkSession, d: String, permille: Int): DataFrame =
    graft.Artifacts.indexParquet(s, s"jac_pairs_c$MaxBucket", d, "documents")(
      jaccardPairsUncached(s, d))
      .filter(col("jaccard_permille") >= permille)

  /** Same-cell cosine pairs `(cell, vec_a, vec_b, cos6)` with vec_a <
    * vec_b — the shared candidate+verify stage of [[defs dd_embed_cosine]]
    * and [[defs dd_semantic_dedup]], routed through [[bucketedPairs]] so
    * IVF-cell blocking gets the same audited hot-bucket discipline as
    * every other candidate generator (previously each query hand-rolled
    * the cell-keyed self-join with NO cap, so one degenerate cell — a
    * collapsed centroid, an all-zeros embedding cluster — went quadratic).
    * Trained cells are ~√N ≈ far under [[MaxBucket]] at fixture scales, so
    * the cap is dormant and both engines agree by construction (the
    * oracles state the same HAVING cap). Vectors ride the bucket rows as
    * struct elements, so cosine verification needs no join back to the
    * embedding table.
    *
    * Persisted as a content-keyed parquet artifact (the jac_pairs /
    * simhash_pairs discipline): the pair graph is built once per corpus
    * CONTENT and both consumers probe the stored graph — unthresholded
    * (all same-cell pairs with their cos6), so a threshold change is a
    * stored-column filter, not a rebuild. */
  private[dedup] def cellCosPairs(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.indexParquet(s,
      s"cell_cos_pairs_k${graft.sim.Similarity.K}i${graft.sim.Similarity.Iters}c$MaxBucket",
      d, "embeddings")(
      cellCosPairsUncached(s, d))

  private def cellCosPairsUncached(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val asg = graft.sim.Similarity.assignCells(s, d)
      .select(col("vec_id"), col("cell"))
    bucketedPairs(e.join(asg, "vec_id"), struct(col("vec_id"), col("v")), col("cell"))
      .select(col("cell"),
        col("p.x.vec_id").as("vec_a"), col("p.y.vec_id").as("vec_b"),
        expr("round(cosine_sim(p.x.v, p.y.v), 6)").as("cos6"))
  }

  /** The [[MaxBucket]] cap over trained cells as a DuckDB CTE — the oracle
    * mirror of [[cellCosPairs]]'s hot-bucket drop (assumes `ev`
    * (vec_id, v, cell) in scope). */
  private[dedup] def duckCellKeep: String =
    s"keepc AS (SELECT cell FROM ev GROUP BY cell HAVING COUNT(*) <= $MaxBucket)"

  private[dedup] def jaccardPairsUncached(s: SparkSession, d: String): DataFrame = {
    val postings = shingleRows(s, d)
      // xxhash64(shingle): an 8-byte shuffle key instead of a ~20-byte
      // string (collisions ~2^-64 per pair, perturbing one count at most)
      .select(xxhash64(col("sng")).as("sk"), col("doc_id"))
    val n = postings.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = bucketedIdPairs(postings, col("sk"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
    val na = n.select(col("doc_id").as("doc_a"), col("n").as("na"))
    val nb = n.select(col("doc_id").as("doc_b"), col("n").as("nb"))
    inter.join(na, "doc_a").join(nb, "doc_b")
      .withColumn("jaccard_permille", expr("(1000 * i) div (na + nb - i)"))
  }



  /** Screen a batch of (doc_id, fp) fingerprint postings against a
    * persisted DISTINCT-fp index: per doc, how many of its fingerprints the
    * corpus already contains, and the ≥ `minShared` near-dup verdict.
    * Consumes ONLY the batch postings and the index — never the corpus
    * documents (DedupSpec proves it by running against an index file with
    * the old corpus absent). The probe is an inner join on fp with the
    * per-doc totals aggregated separately, so every batch fp survives into
    * `n_fps` while the (corpus-sized) index side is only streamed. */
  def incrementalNearDup(batchFps: DataFrame, fpIndex: DataFrame,
      minShared: Int = 2): DataFrame = {
    val perDoc = batchFps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fps"))
    val hits = batchFps.join(fpIndex.select(col("fp")).distinct(), Seq("fp"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    perDoc.join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_fps"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("status",
        when(col("n_hits") >= minShared, "dup_corpus").otherwise("keep"))
      .orderBy("doc_id")
  }

  /** Winnowed-fingerprint index of the already-ingested shard (doc_id
    * % 5 ≠ 0) as a parquet artifact, built once per corpus CONTENT (the
    * [[graft.Artifacts]] discipline: an index is an artifact of a corpus
    * snapshot, not per-query cost). Returns the path;
    * [[incrementalNearDup]] consumers read the corpus only through this
    * file. */
  def winnowFpIndexPath(s: SparkSession, d: String): String =
    graft.Artifacts.indexParquetPath(s, "winnow_idx", d, "documents")(
      graft.text.TextStats.winnowedFpRows(s, d)
        .filter(expr("doc_id % 5 <> 0"))
        .select(col("fp")).distinct())

  /** Every dedup-family query, assembled from the two query traits (split
    * out of this file in round 16, VERDICT r15 #4 — candidate/pair/eval
    * queries in DedupPairQueries.scala, corpus rollup/lifecycle queries in
    * DedupCorpusQueries.scala; the builders and the audited pair skeleton
    * stay here). Last statement of the object body on purpose: the trait
    * seqs are lazy and their oracle strings interpolate object-body vals
    * (duckInterChain, duckMins, ...), so forcing them here guarantees
    * those are initialized. Order within `defs` is not load-bearing (the
    * registry is a name-keyed map), but builders-then-rollups reads the
    * way the pipeline runs. */
  val defs: Seq[QueryDef] = pairDefs ++ corpusDefs
}
