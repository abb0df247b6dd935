package graft.mm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Multimodal-column plumbing: media payloads ride through the relational
  * engine as opaque `binary` columns plus typed metadata; decode /
  * feature-extract steps are partition-local batch functions.
  *
  * The container has no image/audio codecs, so the decode step is a
  * clearly-marked deterministic STUB ([[fakeDecode]]) — the Spark-side
  * plumbing (binary schema, batched per-partition execution, struct results,
  * partition-count preservation) is real and tested. Swapping the stub for a
  * JNI/codec call changes no plan shape: it stays a narrow map over binary
  * batches, which is exactly how it scales — decode cost parallelizes with
  * partitions, no shuffle, and column pruning drops the heavy binary column
  * for queries that only touch metadata.
  */
object Multimodal {

  /** Decoded-media metadata. */
  final case class MediaMeta(width: Int, height: Int, format: String)

  /** STUB decoder: deterministic fake metadata derived from the payload.
    * A real implementation would parse the container header (JPEG SOF /
    * WAV fmt / MP4 moov) here; same signature, same batch shape. */
  def fakeDecode(payload: Array[Byte]): MediaMeta = {
    val first = if (payload.nonEmpty) payload(0) & 0xff else 0
    MediaMeta(64 + first % 64, 64 + payload.length % 64, "fake/rgb8")
  }

  /** Partition-local batched decode over a binary column — the Scala analog
    * of a pandas-batch UDF: one iterator pass per partition, no shuffle.
    * NULL-total at the typed seam: a NULL payload (NULL source text) emits
    * NULL width/height — matching the oracle's ascii(NULL)/octet_length
    * (NULL) — instead of an NPE aborting the whole job where DuckDB
    * answers. */
  def decodePartitions(df: DataFrame, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id"), col(binCol)).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          if (payload == null) (id, None: Option[Int], None: Option[Int], "fake/rgb8")
          else {
            val m = fakeDecode(payload)
            (id, Some(m.width), Some(m.height), m.format)
          }
        }
      }
      .toDF("doc_id", "width", "height", "format")
  }

  /** STUB luma plane: `samples` BYTE-indexed stride samples of the payload
    * (`payload(i*stride) & 0xff`, stride = bytes/samples). A real decoder
    * would decode the media and downsample the luma channel to `samples`
    * values; the stub keeps the exact signature and batch shape (one small
    * int array per media item) while staying engine-reproducible: sampling
    * is defined in the BYTE domain, so Spark (array indexing here) and the
    * oracle (hex-string slicing of the blob) see identical values for ANY
    * payload — multibyte text included, closing the round-9 char-vs-byte
    * unit mismatch. Payloads shorter than `samples` bytes — and NULL
    * payloads (the oracle's len IS NULL fails its WHERE the same way) —
    * have no plane. */
  def fakeLuma(payload: Array[Byte], samples: Int = 60): Option[Array[Int]] =
    if (payload == null || payload.length < samples) None
    else {
      val stride = payload.length / samples
      Some(Array.tabulate(samples)(i => payload(i * stride) & 0xff))
    }

  /** Batched per-partition luma decode — the same seam as
    * [[decodePartitions]] (one iterator pass, no shuffle, codec swap changes
    * no plan shape), emitting (doc_id, luma array<int>). Undecodable rows
    * (here: payloads under `samples` bytes) are dropped, the contract a
    * real codec's failure path would follow. */
  def decodeLumaPartitions(df: DataFrame, binCol: String, samples: Int = 60): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id"), col(binCol)).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) => fakeLuma(p, samples).map((id, _)) })
      .toDF("doc_id", "luma")
  }

  /** The banded pHash posting frame (doc_id, phash, band key `bk`) at an
    * explicit band width — the frame both the pair expansion buckets on and
    * the entropy guard censuses. Factored (round 18) so the guard's
    * distinct-bucket count and the expansion can never band differently. */
  private[graft] def phashBands(s: SparkSession, d: String, bits: Int): DataFrame = {
    val ph = decodeLumaPartitions(
        Tables.documents(s, d)
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
        "payload")
      .withColumn("mean_b", expr("aggregate(luma, 0, (a, x) -> a + x) div 60"))
      .withColumn("phash", expr(
        "aggregate(zip_with(luma, sequence(0, 59), (b, i) -> " +
          "IF(b > mean_b, shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)), " +
          "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, x) -> a + x)"))
      .select(col("doc_id"), col("phash"))
    ph.select(col("doc_id"), col("phash"),
      explode(expr(s"transform(sequence(0, ${60 / bits - 1}), b -> " +
        s"concat_ws(':', b, shiftright(phash, b * $bits) & ${(1L << bits) - 1}))"))
        .as("bk"))
  }

  /** The pHash DISTINCT banded candidate pairs with their Hamming distance,
    * PRE-verify — [[phashBandedPairs]] minus the final `hamming <= 8` cut —
    * over an ALREADY-BUILT band frame: the build path passes a persisted
    * frame here so the entropy census and the pair expansion share one
    * decode pass instead of each re-running the full
    * decode→luma→pHash→band pipeline. */
  private[mm] def phashCandidatesFrom(bands: DataFrame): DataFrame =
    graft.dedup.Dedup
      .bucketedPairs(bands, struct(col("doc_id"), col("phash")), col("bk"))
      .select(col("p.x.doc_id").as("doc_a"), col("p.x.phash").as("pa"),
        col("p.y.doc_id").as("doc_b"), col("p.y.phash").as("pb"))
      .distinct()
      .withColumn("hamming", expr("CAST(bit_count(pa ^ pb) AS BIGINT)"))

  /** Band-bucket entropy floor for the pHash pair graph, as a fraction of
    * corpus size: below `nDocs / PhashEntropyFloorDiv` distinct band buckets
    * the decode's code entropy has collapsed — same-bucket payloads are
    * near-identical in pHash space and the pair graph is dominated by
    * DECODER collisions, not media similarity. Calibrated on the 2.56M-doc
    * rung census (`tools/census_gate.py`, CENSUS_r22.json: 28,642 pHash
    * band buckets for 2,560,000 docs): the healthy simhash family sits at
    * ~1.0 buckets/doc, the degenerate stub-decode pHash at 0.011; 1/64
    * (0.0156) separates them with margin on both sides. */
  val PhashEntropyFloorDiv = 64L

  /** The entropy guard's verdict, pure so MultimodalSpec pins both sides of
    * the floor. Some(warning) ⇒ the build logs it; the query still runs —
    * the measured kept-vs-verified ratio at the degenerate rung is 0.984
    * (476,993,634 of 484,652,616 distinct candidates VERIFY at Hamming ≤ 8,
    * counted once over [[phashCandidatesFrom]] at that rung fixture), i.e.
    * the mass is genuine output under the stub decode, not engine waste,
    * and the cap + two-level explode already bound the transient — so refusing would reject a
    * correct (if operationally useless) graph. The warning tells the
    * operator the real fix: a higher-entropy decode, not a wider band. */
  def phashEntropyWarning(nDocs: Long, nBuckets: Long): Option[String] =
    if (nDocs >= PhashEntropyFloorDiv && nBuckets < nDocs / PhashEntropyFloorDiv)
      Some(s"[mm_phash_dedup] decode entropy collapsed: $nBuckets distinct band " +
        s"buckets for $nDocs docs (< 1/$PhashEntropyFloorDiv per doc) — the pair " +
        "graph will be dominated by decoder collisions (the capped expansion " +
        "stays bounded and its pairs verify, but per-doc output mass is governed " +
        "by the bucket cap); fix the decode's entropy, not the band width")
    else None

  /** The pHash banded pair expansion at an EXPLICIT band width — the
    * `mm_phash_dedup` body, factored (mirroring
    * [[graft.dedup.Dedup.simhashBandedPairs]], round 17) so every SimShape
    * rung — including the 2×30 top rung that fires only past 2,097,152
    * docs — is exercisable by a spec on a small corpus without staging a
    * rung-sized fixture (MultimodalSpec's top-rung test). The production
    * QueryDef always wraps this in the content-keyed `phash_pairs`
    * artifact and derives `bits` from the corpus count. */
  private[mm] def phashBandedPairs(s: SparkSession, d: String, bits: Int): DataFrame =
    phashBandedPairsFrom(phashBands(s, d, bits))

  /** [[phashBandedPairs]] over an already-built (possibly persisted) band
    * frame — see [[phashCandidatesFrom]]. */
  private[mm] def phashBandedPairsFrom(bands: DataFrame): DataFrame =
    phashCandidatesFrom(bands)
      .filter(col("hamming") <= 8)
      .select(col("doc_a"), col("doc_b"), col("hamming"))

  /** Sampled-frame fingerprints as a PER-ROW array column — the stream-safe
    * form of [[defs mm_video_dedup]]'s frame contract (32-byte frames,
    * every 4th sampled, md5 per frame; identical values): one narrow
    * row-local transform, no explode, no window, so it runs unchanged on a
    * streaming DataFrame at the landing zone. Frame-less payloads (< 1
    * frame) get an empty array — the landing contract screens every
    * arriving item. */
  /** BYTE-EXACT frame fingerprint (round 20, found by the Unicode
    * text-grid replay): the frame hash is md5 OVER THE UPPERCASE HEX
    * RENDERING of the 32-byte frame, because DuckDB 1.0 can neither slice
    * a BLOB nor md5 one — the old contract hashed 32-CHAR string slices
    * in the oracle and relied on an all-ASCII corpus (char ≡ byte), a
    * restriction a real media pipeline cannot carry. Hex is ASCII and
    * both engines render it uppercase, so `md5(hex(bytes))` is identical
    * cross-engine for ANY payload, multibyte included; frame indexing is
    * byte-unit on both sides (64 hex chars per 32-byte frame). */
  def withFrameFps(docs: DataFrame): DataFrame =
    docs
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .withColumn("nf", expr("(length(payload) + 31) div 32"))
      .withColumn("fps", expr(
        "CASE WHEN nf >= 1 THEN array_distinct(transform(" +
          "sequence(CAST(0 AS BIGINT), nf - 1, CAST(4 AS BIGINT)), " +
          "i -> md5(hex(substring(payload, CAST(i * 32 + 1 AS INT), 32))))) " +
          "ELSE CAST(array() AS ARRAY<STRING>) END"))
      .drop("payload", "nf")

  /** Frame-fingerprint index of the already-ingested media shard
    * (doc_id % 5 ≠ 0) as a build-once content-keyed parquet artifact (the
    * winnowFpIndexPath discipline applied to media): DISTINCT sampled-frame
    * fingerprints, probed by the streaming media screen. Returns the path. */
  def frameFpIndexPath(s: SparkSession, d: String): String =
    // `_hx` carries the round-20 hex frame-fingerprint definition in the
    // artifact NAME (the simShapeTag policy: a constant/definition retune
    // must force a rebuild, not silently serve the stale index).
    graft.Artifacts.indexParquetPath(s, "frame_idx_hx", d, "documents")(
      withFrameFps(Tables.documents(s, d).filter(expr("doc_id % 5 <> 0")))
        .select(explode(col("fps")).as("fp")).distinct())

  val defs: Seq[QueryDef] = Seq(

    /** Binary-column metadata without decoding: byte length + content hash.
      * (Payload here is the utf8 text — stands in for image bytes.) */
    QueryDef(
      "mm_binary_meta",
      (s, d) => Tables.documents(s, d)
        .select(
          col("doc_id"),
          encode(col("text"), "UTF-8").as("payload"))
        .select(
          col("doc_id"),
          length(col("payload")).as("n_bytes"),
          md5(col("payload")).as("payload_md5"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
             |       md5(text) AS payload_md5
             |FROM documents ORDER BY doc_id""".stripMargin)),

    /** Decode-stub over the binary payload via the BATCHED per-partition
      * path ([[decodePartitions]] — the pattern a real codec plugs into).
      * The oracle derives width from the first BYTE via a hex slice of the
      * encoded blob (the fakeLuma byte-domain rule) — the earlier
      * ascii-of-first-CHAR form read up to 4 UTF-8 bytes as one code point
      * and diverged on any non-ASCII head; TRY_CAST keeps the empty
      * payload at byte 0 and a NULL payload at NULL, mirroring the stub. */
    QueryDef(
      "mm_decode_stub",
      (s, d) => decodePartitions(
          Tables.documents(s, d)
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
          "payload")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |       CAST(CASE WHEN text IS NULL THEN NULL
             |            ELSE 64 + COALESCE(TRY_CAST('0x' || substr(hex(encode(text)), 1, 2)
             |                               AS BIGINT), 0) % 64 END AS INTEGER) AS width,
             |       CAST(64 + octet_length(encode(text)) % 64 AS INTEGER) AS height,
             |       'fake/rgb8' AS format
             |FROM documents ORDER BY doc_id""".stripMargin)),

    /** Frame sampling over the binary payload — the video shape: treat the
      * payload as fixed 32-byte frames, keep every 4th (stride sampling, the
      * standard cheap keyframe proxy), emit per-frame byte length + content
      * hash. All byte math on the BINARY column (substring/md5 over binary
      * are codegen'd); a real pipeline would hand each sampled slice to the
      * batched decoder above. Narrow: explode multiplies rows by nframes/4
      * but nothing shuffles until the final sort. (Oracle note: the frame
      * fingerprint is md5 OVER THE UPPERCASE HEX of the frame bytes —
      * [[withFrameFps]]'s round-20 byte-exact contract, since DuckDB 1.0
      * cannot slice or md5 a BLOB; the oracle slices 64 hex chars per
      * 32-byte frame, so the engines agree on ANY payload, multibyte
      * included. MultimodalSpec pins a frame boundary that splits a
      * multibyte char.) */
    QueryDef(
      "mm_frame_sample",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .withColumn("nf", expr("(length(payload) + 31) div 32"))
        // empty payload ⇒ no frames (mirrors range(0,0,4) = ∅ in the oracle;
        // Spark's sequence(0, -1, 4) would THROW on the step-sign check)
        .filter(col("nf") >= 1)
        .select(col("doc_id"), col("payload"),
          explode(expr("sequence(CAST(0 AS BIGINT), nf - 1, CAST(4 AS BIGINT))"))
            .as("frame_idx"))
        .select(col("doc_id"), col("frame_idx"),
          expr("length(substring(payload, CAST(frame_idx * 32 + 1 AS INT), 32))")
            .as("n_frame_bytes"),
          expr("md5(hex(substring(payload, CAST(frame_idx * 32 + 1 AS INT), 32)))")
            .as("frame_md5"))
        .orderBy("doc_id", "frame_idx"),
      Some("""WITH f AS (SELECT doc_id, hex(encode(text)) AS hx,
             |                  octet_length(encode(text)) AS nb
             |           FROM documents),
             |idx AS (SELECT doc_id, hx, unnest(range(0, (nb + 31) // 32, 4)) AS frame_idx
             |        FROM f)
             |SELECT doc_id, frame_idx,
             |       CAST(length(substr(hx, CAST(frame_idx * 64 + 1 AS INTEGER), 64)) // 2
             |            AS INTEGER) AS n_frame_bytes,
             |       md5(substr(hx, CAST(frame_idx * 64 + 1 AS INTEGER), 64)) AS frame_md5
             |FROM idx ORDER BY doc_id, frame_idx""".stripMargin)),

    /** PERCEPTUAL-HASH NEAR-DUP over the binary payloads — the image-dedup
      * shape with BOTH mm halves composed: the batched per-partition decode
      * seam ([[decodeLumaPartitions]]) produces the stub luma plane (60
      * byte-indexed stride samples — a codec swap changes no plan shape),
      * then the hash thresholds each sample against the plane mean (the
      * aHash/pHash skeleton), banded with the CORPUS-ADAPTIVE width
      * [[graft.dedup.Dedup.SimShape]] prescribes for 60-bit codes (4×15 at
      * fixture scale, widening past 16,384 docs — a fixed band space
      * saturates and goes quadratic, the round-16 probe finding; the pHash
      * is 60-bit exactly like simhash60, so the ladder and its oracle SQL
      * are shared verbatim), exact Hamming ≤ 8
      * verify inside the capped pair expansion. 60 bits, not 64, so the
      * packed signature stays inside signed BIGINT in BOTH engines (the
      * [[graft.functions.SimHashImpl.tokenHash60]] rule). Sampling is
      * byte-unit on both sides (the oracle slices hex(payload)), so the
      * engines agree on any payload, multibyte included. Scale shape: one
      * narrow decode+signature pass, one band-key shuffle, pair work bounded
      * by the shared MaxBucket cap — identical economics to
      * dd_simhash_pairs, applied to media bytes instead of tokens; like the
      * simhash pair graph, the result is a build-once content-keyed parquet
      * artifact every consumer probes. */
    QueryDef(
      "mm_phash_dedup",
      (s, d) => {
        // The band frame is persisted for the BUILD's lifetime so the
        // entropy census and the pair expansion share ONE decode pass
        // (round-19 review: re-deriving it doubled the multi-minute rung
        // build); unpersisted after indexParquet's write returns. On an
        // artifact probe the builder never runs and nothing is cached.
        var bands: Option[DataFrame] = None
        val out = graft.Artifacts.indexParquet(s,
          s"phash_pairs_${graft.dedup.Dedup.simShapeTag}h8c${graft.dedup.Dedup.MaxBucket}",
          d, "documents") {
          val n = Tables.documents(s, d).count()
          val bits = graft.dedup.Dedup.simBitsFor(n)
          val b = phashBands(s, d, bits)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          bands = Some(b)
          // Entropy guard (round 18): one distinct-count over the band frame
          // per BUILD (never on artifact probes) — collapsed decode entropy
          // means the graph measures decoder collisions, and the operator
          // should hear it from the build, not discover it downstream.
          val nBuckets = b.select(col("bk")).distinct().count()
          phashEntropyWarning(n, nBuckets).foreach(System.err.println)
          phashBandedPairsFrom(b)
        }.orderBy("doc_a", "doc_b")
        bands.foreach(_.unpersist(false))
        out
      },
      Some(s"""WITH p0 AS (SELECT doc_id, hex(encode(text)) AS hx,
             |                   octet_length(encode(text)) AS len
             |            FROM documents),
             |p1 AS (SELECT doc_id, hx, len // 60 AS stride FROM p0 WHERE len >= 60),
             |-- byte i*stride of the payload = 2 hex chars at 2*i*stride+1:
             |-- byte-unit sampling, matching the Spark decoder's array index
             |by_ AS (SELECT doc_id, list_transform(range(0, 60), i ->
             |          CAST(('0x' || substr(hx, CAST(2 * i * stride + 1 AS INTEGER), 2))
             |               AS BIGINT)) AS bytes
             |        FROM p1),
             |m AS (SELECT doc_id, bytes,
             |             CAST(list_sum(bytes) AS BIGINT) // 60 AS mean_b FROM by_),
             |ph AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), i ->
             |          CASE WHEN bytes[i + 1] > mean_b
             |               THEN CAST(1 AS BIGINT) << CAST(i AS INTEGER)
             |               ELSE 0 END)) AS BIGINT) AS phash
             |       FROM m),
             |shape AS (${graft.dedup.Dedup.simShapeSql}),
             |bands AS (SELECT doc_id, phash,
             |            b || ':' || ((phash >> CAST(sh.bits * b AS INTEGER)) &
             |                         ((CAST(1 AS BIGINT) << sh.bits) - 1)) AS bk
             |          FROM ph, shape sh,
             |               unnest(range(0, ${60 / (graft.dedup.Dedup.SimShape.map(_._2) :+ graft.dedup.Dedup.SimBitsMax).min})) u(b)
             |          WHERE b < 60 // sh.bits),
             |keep AS (SELECT bk FROM bands GROUP BY bk
             |         HAVING COUNT(*) <= ${graft.dedup.Dedup.MaxBucket}),
             |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
             |                a.phash AS pa, c.phash AS pb
             |         FROM bands a JOIN keep k ON a.bk = k.bk
             |              JOIN bands c ON c.bk = a.bk AND a.doc_id < c.doc_id)
             |SELECT doc_a, doc_b, CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
             |FROM cand WHERE bit_count(xor(pa, pb)) <= 8
             |ORDER BY doc_a, doc_b""".stripMargin)),

    /** VIDEO NEAR-DUP via shared frame fingerprints — the shot-level dedup
      * shape for media: two payloads are near-dups when ≥ 2 of their
      * SAMPLED frames (every 4th 32-byte block, [[defs mm_frame_sample]]'s
      * exact contract) carry identical fingerprints, scored by containment
      * against the SMALLER payload's sampled-frame count (the
      * dd_containment discipline: a clip embedded in a longer cut reads
      * ~1000‰ where symmetric overlap dilutes). This is the
      * re-encode/re-mux detector: container metadata changes every byte
      * hash, but unchanged frame content keeps its per-frame fingerprints.
      *
      * Scale shape: one narrow frame-hash pass (explode is per-doc,
      * nothing shuffles until the index), DISTINCT (doc, frame-hash)
      * postings, inverted index on the fingerprint with the shared
      * MaxBucket cap (a stop-frame — black/silence — must not go
      * quadratic), pair rollup + two pair-sized count joins. Identical
      * economics to dd_winnow_pairs, applied to media frames; like the
      * pHash pair graph, the result is a build-once content-keyed parquet
      * artifact every consumer probes. (Oracle note: frame fingerprints
      * are md5-over-hex — [[withFrameFps]]'s round-20 byte-exact contract,
      * valid for any payload; the `_hx` artifact-name tag forces a rebuild
      * off the old char-sliced graphs.) */
    QueryDef(
      "mm_video_dedup",
      (s, d) => graft.Artifacts.indexParquet(s, s"video_pairs_hx_c${graft.dedup.Dedup.MaxBucket}", d, "documents") {
        // The frame contract (32-byte frames, every 4th, md5, per-doc
        // distinct) is [[withFrameFps]] — ONE statement shared with the
        // streaming media screen, so the stride/width can't silently
        // desynchronize batch pair graph from stream gate. Exploding the
        // per-doc array_distinct array IS distinct (doc_id, fh).
        val fr = withFrameFps(Tables.documents(s, d)
            .select(col("doc_id"), col("text")))
          .select(col("doc_id"), explode(col("fps")).as("fh"))
        val n = fr.groupBy(col("doc_id")).agg(count(lit(1)).as("nfr"))
        graft.dedup.Dedup.bucketedIdPairs(fr, col("fh"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2)
          .join(n.select(col("doc_id").as("doc_a"), col("nfr").as("na")), "doc_a")
          .join(n.select(col("doc_id").as("doc_b"), col("nfr").as("nb")), "doc_b")
          .withColumn("containment_permille",
            expr("(1000 * n_shared) div least(na, nb)"))
          .select(col("doc_a"), col("doc_b"), col("n_shared"),
            col("containment_permille"))
      }.orderBy("doc_a", "doc_b"),
      Some(s"""WITH f AS (SELECT doc_id, hex(encode(text)) AS hx,
             |                  octet_length(encode(text)) AS nb
             |           FROM documents),
             |idx AS (SELECT doc_id, hx,
             |          unnest(range(0, (nb + 31) // 32, 4)) AS i FROM f),
             |h AS (SELECT DISTINCT doc_id,
             |        md5(substr(hx, CAST(i * 64 + 1 AS INTEGER), 64)) AS fh
             |      FROM idx),
             |n AS (SELECT doc_id, COUNT(*) AS nfr FROM h GROUP BY doc_id),
             |keep AS (SELECT fh FROM h GROUP BY fh
             |         HAVING COUNT(*) <= ${graft.dedup.Dedup.MaxBucket}),
             |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
             |      FROM h a JOIN keep k ON a.fh = k.fh
             |           JOIN h b ON b.fh = a.fh AND a.doc_id < b.doc_id
             |      GROUP BY 1, 2)
             |SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
             |       (1000 * CAST(n_shared AS BIGINT)) // least(na.nfr, nb.nfr)
             |         AS containment_permille
             |FROM p JOIN n na ON na.doc_id = p.doc_a
             |     JOIN n nb ON nb.doc_id = p.doc_b
             |WHERE n_shared >= 2 ORDER BY doc_a, doc_b""".stripMargin)),

    /** MODALITY-MIX CENSUS — the corpus-composition report a multimodal
      * training run is provisioned from (token/byte budget per modality,
      * batch-shape planning, storage forecasts). Modality is the
      * deterministic doc_id shard the other mm_ queries use (6:2:1:1
      * text:image:audio:video — stands in for a stored modality tag);
      * per modality: item count, payload byte mass, mean item size, and the
      * corpus byte share in integer micro-units.
      *
      * Distributed shape: one narrow scan projecting (modality, n_bytes),
      * one O(4)-group aggregate, then the share attach is a cross join
      * against the 1-row total — a broadcast scalar, the same pattern as
      * every `_bound` verdict. Output is O(modalities) regardless of corpus
      * size; the binary payload itself is never shuffled (only its
      * length). */
    QueryDef(
      "mm_modality_mix",
      (s, d) => {
        val items = Tables.documents(s, d)
          .select(
            expr("CASE WHEN doc_id % 10 < 6 THEN 'text' WHEN doc_id % 10 < 8 THEN 'image' " +
              "WHEN doc_id % 10 = 8 THEN 'audio' ELSE 'video' END").as("modality"),
            expr("CAST(octet_length(encode(text, 'UTF-8')) AS BIGINT)").as("n_bytes"))
        val per = items.groupBy(col("modality"))
          .agg(count(lit(1)).as("n_items"), sum(col("n_bytes")).as("sum_bytes"))
        val total = per.agg(sum(col("sum_bytes")).as("total_bytes"))
        per.crossJoin(broadcast(total))
          .select(col("modality"), col("n_items"), col("sum_bytes"),
            expr("sum_bytes div n_items").as("avg_bytes"),
            // 128-bit product (the an_volume_anomaly DECIMAL(38,0) ≙
            // HUGEINT discipline — the oracle's SUM is already HUGEINT):
            // sum_bytes * 1e6 wraps a BIGINT once a modality holds >9.2 TB
            // of payload, i.e. inside the 100 TB design point.
            expr("CAST((CAST(sum_bytes AS DECIMAL(38,0)) * 1000000) " +
              "div total_bytes AS BIGINT)").as("share_micro"))
          .orderBy("modality")
      },
      Some("""WITH m AS (SELECT CASE WHEN doc_id % 10 < 6 THEN 'text'
             |                WHEN doc_id % 10 < 8 THEN 'image'
             |                WHEN doc_id % 10 = 8 THEN 'audio' ELSE 'video' END AS modality,
             |              CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
             |       FROM documents),
             |per AS (SELECT modality, COUNT(*) AS n_items, SUM(n_bytes) AS sum_bytes
             |        FROM m GROUP BY modality),
             |t AS (SELECT SUM(sum_bytes) AS total_bytes FROM per)
             |SELECT modality, n_items, CAST(sum_bytes AS BIGINT) AS sum_bytes,
             |       CAST(sum_bytes // n_items AS BIGINT) AS avg_bytes,
             |       CAST((sum_bytes * 1000000) // total_bytes AS BIGINT) AS share_micro
             |FROM per, t ORDER BY modality""".stripMargin)),
  )
}
