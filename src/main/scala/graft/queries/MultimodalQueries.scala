package graft.queries

import graft.Tables
import graft.multimodal.MultimodalOps
import graft.ops.HashOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-verifiable query over the multimodal metadata path (the driver
  * ships no media fixture, so payloads are synthesized DETERMINISTICALLY
  * from `documents`): each doc becomes a binary payload with a real
  * container header — PNG signature + IHDR carrying doc_id-derived
  * dimensions, GIF89a + little-endian logical-screen dimensions, a RIFF
  * magic, or an 8-byte zero prefix (guaranteed to sniff "bin" — every
  * magic check, including mp4's offset-4 ftyp probe, reads inside the
  * prefix) — followed by the UTF-8 text bytes.
  *
  * The Spark side runs the REAL operators — [[MultimodalOps.withMetadata]]
  * sniffs the magic bytes and measures the payload, [[MultimodalOps
  * .headerDims]] parses width/height out of the binary header — while the
  * oracle reconstructs the same payloads and recomputes format and
  * dimensions from the doc_id ground truth they were synthesized from, so
  * a parser bug on either side breaks the hash match. The one swap:
  * `withMetadata`'s xxhash64 content hash has no DuckDB twin, so the query
  * keys content identity with the portable [[HashOps.charHash]] over the
  * payload's hex image instead (same dedup-keying role; xxhash64 stays
  * unit-tested). Pixel features are float-valued and not SQL-expressible —
  * they remain unit-only by design.
  */
object MultimodalQueries {

  /** Synthesized header dims: bounded, nonzero, doc_id-derived. */
  private val WExpr = "(doc_id % 640) + 1"
  private val HExpr = "(doc_id % 480) + 1"

  /** PNG: 8-byte signature, IHDR length (13), "IHDR", then w/h as
    * big-endian u32 and bit-depth/color/compression/filter/interlace.
    */
  private val PngSigIhdr = "89504E470D0A1A0A0000000D49484452"
  private val PngTail = "0806000000"
  /** GIF89a signature; w/h follow as little-endian u16. */
  private val GifSig = "474946383961"
  private val RiffMagic = "52494646"
  private val BinPrefix = "0000000000000000"

  /** The synthesized media relation `(media_id, content)` shared by the
    * multimodal queries: doc_id-derived container magic (PNG/GIF/RIFF/raw)
    * prepended to the doc's UTF-8 bytes.
    */
  private[graft] def syntheticMedia(spark: SparkSession, dir: String): DataFrame = {
    val w = expr(WExpr)
    val h = expr(HExpr)
    val le16 = (v: org.apache.spark.sql.Column) =>
      concat(lpad(hex(v % 256), 2, "0"),
        lpad(hex((v / 256).cast("long")), 2, "0"))
    val magicHex = when(col("doc_id") % 4 === 0,
        concat(lit(PngSigIhdr), lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"),
          lit(PngTail)))
      .when(col("doc_id") % 4 === 1, concat(lit(GifSig), le16(w), le16(h)))
      .when(col("doc_id") % 4 === 2, lit(RiffMagic))
      .otherwise(lit(BinPrefix))
    Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"),
        concat(unhex(magicHex), encode(col("text"), "UTF-8")).as("content"))
  }

  /** [[syntheticMedia]]'s oracle twin — a CTE body selecting
    * `(media_id, content)` from `documents`.
    */
  private val syntheticMediaSql: String =
    s"""SELECT doc_id AS media_id,
      unhex(CASE
        WHEN doc_id % 4 = 0 THEN '$PngSigIhdr'
          || lpad(hex($WExpr), 8, '0') || lpad(hex($HExpr), 8, '0')
          || '$PngTail'
        WHEN doc_id % 4 = 1 THEN '$GifSig'
          || lpad(hex(($WExpr) % 256), 2, '0') || lpad(hex(($WExpr) // 256), 2, '0')
          || lpad(hex(($HExpr) % 256), 2, '0') || lpad(hex(($HExpr) // 256), 2, '0')
        WHEN doc_id % 4 = 2 THEN '$RiffMagic'
        ELSE '$BinPrefix' END) || encode(text) AS content
    FROM documents"""

  def q60MediaMetadata(spark: SparkSession, dir: String): DataFrame = {
    val meta = MultimodalOps.withMetadata(syntheticMedia(spark, dir))
    val (pw, ph) = MultimodalOps.headerDims(col("content"), col("format"))
    meta
      .withColumn("content_hash", HashOps.charHash(hex(col("content"))))
      .select(col("media_id"), col("n_bytes"), col("format"),
        col("content_hash"), pw.as("width"), ph.as("height"))
      .orderBy("media_id")
  }

  val q60Sql: String = {
    val hash = HashOps.charHashSql("hex(content)")
    s"""WITH m AS (
      SELECT doc_id AS media_id, doc_id % 4 AS kind,
        $WExpr AS w, $HExpr AS h,
        unhex(CASE
          WHEN doc_id % 4 = 0 THEN '$PngSigIhdr'
            || lpad(hex($WExpr), 8, '0') || lpad(hex($HExpr), 8, '0')
            || '$PngTail'
          WHEN doc_id % 4 = 1 THEN '$GifSig'
            || lpad(hex(($WExpr) % 256), 2, '0') || lpad(hex(($WExpr) // 256), 2, '0')
            || lpad(hex(($HExpr) % 256), 2, '0') || lpad(hex(($HExpr) // 256), 2, '0')
          WHEN doc_id % 4 = 2 THEN '$RiffMagic'
          ELSE '$BinPrefix' END) || encode(text) AS content
      FROM documents)
    SELECT media_id,
      CAST(octet_length(content) AS BIGINT) AS n_bytes,
      CASE kind WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'riff'
        ELSE 'bin' END AS format,
      $hash AS content_hash,
      CAST(CASE WHEN kind IN (0, 1) THEN w ELSE -1 END AS BIGINT) AS width,
      CAST(CASE WHEN kind IN (0, 1) THEN h ELSE -1 END AS BIGINT) AS height
    FROM m ORDER BY media_id"""
  }

  // --- q60b: strided frame sampling over binary payloads ------------------
  // The video-frame-sampling plumbing (MultimodalOps.sampleFrames) under
  // the driver's hash gate: each doc's UTF-8 bytes stand in for a media
  // payload, every FrameStride-th FrameBlock-byte block becomes a frame
  // row, and each frame is keyed by the portable hash of its hex image.
  // The oracle re-slices the same payloads with hex-STRING arithmetic
  // (2 hex chars per byte) — byte-slicing and hex-slicing must agree
  // exactly, so an off-by-one in either engine's offset math breaks the
  // hash match. All frames are full blocks by construction (the last
  // start offset is <= len - FrameBlock).
  val FrameBlock = 32
  val FrameStride = 4

  def q60bFrameSample(spark: SparkSession, dir: String): DataFrame = {
    val staged = Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("content"))
    MultimodalOps.sampleFrames(staged, FrameBlock, FrameStride)
      .select(col("media_id"), col("frame_id"),
        length(col("frame")).cast("long").as("frame_bytes"),
        HashOps.charHash(hex(col("frame"))).as("frame_hash"))
      .orderBy("media_id", "frame_id")
  }

  val q60bSql: String = {
    val step = FrameBlock * FrameStride
    val frameHex =
      s"substring(hex(content), CAST(frame_id * ${step * 2} + 1 AS INT), ${FrameBlock * 2})"
    s"""WITH m AS (
      SELECT doc_id AS media_id, encode(text) AS content FROM documents),
    s AS (SELECT media_id, content, octet_length(content) AS len
      FROM m WHERE octet_length(content) >= $FrameBlock),
    f AS (SELECT media_id, content,
        unnest(range(0, ((len - $FrameBlock) // $step) + 1)) AS frame_id
      FROM s)
    SELECT media_id, CAST(frame_id AS BIGINT) AS frame_id,
      CAST(length($frameHex) / 2 AS BIGINT) AS frame_bytes,
      ${HashOps.charHashSql(frameHex)} AS frame_hash
    FROM f ORDER BY media_id, frame_id"""
  }

  // --- q60c: perceptual-hash near-dup pairs over the media column ---------
  // Extends the dedup ladder to the multimodal column: integer pHash
  // (graft.functions.PHash — block-mean grid → scaled-integer DCT → sign
  // bits) per payload, then a BANDED Hamming join (8 bands × 8 bits). By
  // pigeonhole, distance ≤ 7 implies at least one agreeing band, so the
  // banding loses NO pairs at this threshold — the oracle runs the naive
  // all-pairs formulation and the hash match proves the banded plan
  // equals it. At 100 TB the band key is the shuffle key; candidates
  // meet only inside matching 8-bit buckets, never all-pairs.
  val PHashMaxHamming = 7
  val PHashBands = 8

  /** Banded pHash near-dup pair relation — shared by q60c (pairs) and
    * q60e (clusters over them); unordered. MEMOIZED per (application,
    * fixture dir) like the dedup family's shingle/pair relations: the
    * per-payload DCT hash is the expensive stage, and a query-scoped
    * persist would make q60e recompute it after q60c just finished
    * (measured 2.65 s warm — the registry's top warm query before the
    * memo). Released by [[SessionMemos.evictAll]].
    */
  private val phashPairs = Memo.frame(phashPairsBuild _)

  private def phashPairsBuild(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PHash
    // two consumers: the band explode and the exact rerank
    val hashed = graft.CacheScope.persist(
      syntheticMedia(spark, dir)
        .select(col("media_id"), PHash.pHash(col("content")).as("ph")))
    val banded = hashed.select(col("media_id"),
      explode(array((0 until PHashBands).map(t =>
        struct(lit(t).as("band"),
          shiftright(col("ph"), t * 8).bitwiseAND(lit(255L)).as("key"))): _*))
        .as("bk"))
      .select(col("media_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = banded.toDF("id_a", "band", "key")
      .join(banded.toDF("id_b", "band", "key"), Seq("band", "key"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(hashed.toDF("id_a", "ph_a"), "id_a")
      .join(hashed.toDF("id_b", "ph_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("long").as("hamming"))
      .where(col("hamming") <= PHashMaxHamming)
  }

  def q60cPhashPairs(spark: SparkSession, dir: String): DataFrame =
    phashPairs(spark, dir).orderBy("id_a", "id_b")

  /** The `m`..`h` CTE chain deriving each payload's integer pHash —
    * shared by the q60c and q60e oracles.
    */
  private val phashCtes: String = {
    import graft.functions.PHash
    val n = PHash.GridDim * PHash.GridDim
    val tl = PHash.cosSqlList
    s"""m AS ($syntheticMediaSql),
    hx AS (SELECT media_id, hex(content) AS hs, octet_length(content) AS len
      FROM m),
    b AS (SELECT media_id, len,
        list_transform(range(0, len), i ->
          (strpos('0123456789ABCDEF', hs[CAST(2*i+1 AS INT)]) - 1) * 16 +
          (strpos('0123456789ABCDEF', hs[CAST(2*i+2 AS INT)]) - 1)) AS bytes
      FROM hx),
    g AS (SELECT media_id,
        list_transform(range(0, $n), k ->
          CASE WHEN (((k+1) * len) // $n) > ((k * len) // $n)
            THEN CAST(list_sum(bytes[CAST((k * len) // $n + 1 AS INT):CAST(((k+1) * len) // $n AS INT)]) AS BIGINT)
                 // (((k+1) * len) // $n - (k * len) // $n)
            ELSE 0 END) AS grid
      FROM b),
    h AS MATERIALIZED (SELECT media_id,
        CAST(list_sum(list_transform(range(1, $n), k ->
          CASE WHEN list_sum(list_transform(range(0, $n), bb ->
              grid[CAST(bb+1 AS INT)]
                * $tl[CAST((bb // ${PHash.GridDim}) * ${PHash.GridDim} + (k // ${PHash.GridDim}) + 1 AS INT)]
                * $tl[CAST((bb % ${PHash.GridDim}) * ${PHash.GridDim} + (k % ${PHash.GridDim}) + 1 AS INT)])) > 0
            THEN CAST(1 AS BIGINT) << CAST(k - 1 AS INT) ELSE 0 END)) AS BIGINT) AS phash
      FROM g)"""
  }
  // AS MATERIALIZED on the pair relation: without it DuckDB inlines the
  // whole phash-derivation chain into the recursive reach and re-evaluates
  // the per-payload DCT every iteration (observed ~10 min at sf0.01 vs
  // seconds materialized)

  val q60cSql: String =
    s"""WITH $phashCtes
    SELECT a.media_id AS id_a, b.media_id AS id_b,
      CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
    FROM h a JOIN h b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.phash, b.phash)) <= $PHashMaxHamming
    ORDER BY id_a, id_b"""

  // --- q60e: media duplicate clusters over the pHash pair relation --------
  // The q55b composition applied to the multimodal column: near-identical
  // media grouped into components (each labeled by its min media id) so a
  // curation pass can keep one representative per cluster — pairs alone
  // leave transitive chains (a~b, b~c) split across rows. Same engine
  // pieces end to end: banded pHash pairs feed the diameter-independent
  // star contraction (DedupOps.duplicateClustersStar); the oracle walks
  // the same edges with a recursive min-label reach, so the iterative
  // MapReduce-style contraction is hash-verified against a declarative
  // fixpoint.
  def q60ePhashClusters(spark: SparkSession, dir: String): DataFrame =
    graft.ops.DedupOps.duplicateClustersStar(
      syntheticMedia(spark, dir).select(col("media_id")),
      phashPairs(spark, dir), idCol = "media_id")
      .orderBy("media_id")

  val q60eSql: String =
    s"""WITH RECURSIVE $phashCtes,
    p AS MATERIALIZED (
      SELECT a.media_id AS id_a, b.media_id AS id_b
      FROM h a JOIN h b ON a.media_id < b.media_id
      WHERE bit_count(xor(a.phash, b.phash)) <= $PHashMaxHamming),
    ids AS MATERIALIZED (SELECT media_id FROM m),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM p
      UNION ALL SELECT id_b, id_a FROM p),
    reach(id, lab) AS (
      SELECT media_id, media_id FROM ids
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id)
    SELECT id AS media_id, CAST(min(lab) AS BIGINT) AS cluster_id
    FROM reach GROUP BY id ORDER BY media_id"""

  // --- q60d: audio (RIFF/WAVE) header metadata -----------------------------
  // The audio leg of the multimodal surface: each doc becomes a REAL
  // canonical WAV payload (RIFF size, WAVE, 16-byte PCM fmt chunk with
  // doc_id-derived channels/sample-rate, data chunk over the UTF-8 text
  // bytes). The engine PARSES the binary header back with
  // MultimodalOps.wavPcmHeader (substring/hex/conv, codegen'd) and
  // derives sample count and duration with exact integer division; the
  // oracle recomputes every field from the doc_id ground truth the header
  // was synthesized from — a parser or synthesizer bug on either side
  // breaks the hash match, the same contract as q60's image dims.
  private val WavChannelsExpr = "(doc_id % 2) + 1"
  private val WavRateExpr = "8000 + (doc_id % 5) * 2000"

  /** Synthesized canonical WAV relation `(media_id, content)`. */
  private[graft] def syntheticWav(spark: SparkSession, dir: String): DataFrame = {
    val le16 = (v: org.apache.spark.sql.Column) =>
      concat(lpad(hex(v % 256), 2, "0"),
        lpad(hex((v / 256).cast("long")), 2, "0"))
    val le32 = (v: org.apache.spark.sql.Column) =>
      concat(le16(v % 65536), le16((v / 65536).cast("long")))
    val ch = expr(WavChannelsExpr).cast("long")
    val rate = expr(WavRateExpr).cast("long")
    val blockAlign = ch * 2
    val byteRate = rate * blockAlign
    val dataSize = length(encode(col("text"), "UTF-8")).cast("long")
    val hdr = concat(
      lit("52494646"), le32(dataSize + 36), lit("57415645"), // RIFF size WAVE
      lit("666D7420"), le32(lit(16L)), // "fmt " + PCM chunk length
      le16(lit(1L)), le16(ch), le32(rate), le32(byteRate),
      le16(blockAlign), le16(lit(16L)), // block align, 16-bit samples
      lit("64617461"), le32(dataSize)) // "data" + payload size
    Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"),
        concat(unhex(hdr), encode(col("text"), "UTF-8")).as("content"))
  }

  def q60dWavMetadata(spark: SparkSession, dir: String): DataFrame =
    syntheticWav(spark, dir)
      .select(Seq(col("media_id")) ++ MultimodalOps.wavPcmHeader(col("content"))
        .map { case (n, c) => c.as(n) }: _*)
      .select(col("media_id"), col("audio_format"), col("channels"),
        col("sample_rate"), col("byte_rate"), col("block_align"),
        col("bits_per_sample"), col("data_size"),
        expr("data_size div block_align").as("n_samples"),
        expr("(data_size div block_align) * 1000 div sample_rate")
          .as("duration_ms"))
      .orderBy("media_id")

  val q60dSql: String =
    s"""WITH g AS (SELECT doc_id AS media_id,
      $WavChannelsExpr AS channels,
      $WavRateExpr AS sample_rate,
      octet_length(encode(text)) AS data_size
    FROM documents)
    SELECT media_id,
      CAST(1 AS BIGINT) AS audio_format,
      CAST(channels AS BIGINT) AS channels,
      CAST(sample_rate AS BIGINT) AS sample_rate,
      CAST(sample_rate * channels * 2 AS BIGINT) AS byte_rate,
      CAST(channels * 2 AS BIGINT) AS block_align,
      CAST(16 AS BIGINT) AS bits_per_sample,
      CAST(data_size AS BIGINT) AS data_size,
      CAST(data_size // (channels * 2) AS BIGINT) AS n_samples,
      CAST((data_size // (channels * 2)) * 1000 // sample_rate AS BIGINT)
        AS duration_ms
    FROM g ORDER BY media_id"""

  // --- q60g: audio energy-signature fingerprint ----------------------------
  // The audio analogue of q60c's visual pHash: the WAV payload's PCM
  // words are decoded (16-bit little-endian, signed) straight from the
  // binary column with the same substring/hex/conv technique as
  // wavPcmHeader, and a 63-bit energy signature is built from the first
  // 63 samples — bit i set iff |s_i|·take > Σ|s| (strict integer
  // cross-multiply, no division), i.e. sample i is louder than the mean.
  // Mean-relative bits make the signature amplitude-invariant (the same
  // clip at a different gain fingerprints identically), which is the
  // property audio fingerprinting actually needs; 63 bits keeps every
  // shift below the sign bit on both engines. The oracle never parses
  // the container — it recomputes the signature from the text bytes the
  // synthesizer embedded as PCM, so the engine's binary slicing is what
  // is under test (the q60d contract). Banded-Hamming pairing over this
  // column reuses the q60c machinery unchanged.
  val AudioFpWords = 63

  def q60gAudioFingerprint(spark: SparkSession, dir: String): DataFrame =
    syntheticWav(spark, dir)
      .select(col("media_id"),
        graft.functions.AudioEnergy.audioEnergyFp(
          col("content"), skip = 44, maxWords = AudioFpWords).as("sig"))
      .select(col("media_id"),
        element_at(col("sig"), 1).as("n_words"),
        element_at(col("sig"), 2).as("mean_abs"),
        element_at(col("sig"), 3).as("energy_fp"))
      .orderBy("media_id")

  val q60gSql: String = {
    def hb(pos: String): String =
      s"(strpos('0123456789ABCDEF', hs[CAST($pos AS INT)]) - 1)"
    s"""WITH hx AS (SELECT doc_id AS media_id, hex(encode(text)) AS hs,
      octet_length(encode(text)) AS len FROM documents),
    w AS (SELECT media_id, len // 2 AS n_words,
      least(len // 2, $AudioFpWords) AS take, hs FROM hx),
    u AS (SELECT media_id, n_words, take,
      list_transform(range(0, take), i ->
        (${hb("4*i+1")} * 16 + ${hb("4*i+2")})
        + 256 * (${hb("4*i+3")} * 16 + ${hb("4*i+4")})) AS uv
      FROM w),
    v AS (SELECT media_id, n_words, take,
      list_transform(uv, x ->
        abs(CASE WHEN x >= 32768 THEN x - 65536 ELSE x END)) AS av
      FROM u),
    s AS (SELECT media_id, n_words, take, av,
      coalesce(list_sum(av), 0) AS sum_abs FROM v)
    SELECT media_id, CAST(n_words AS BIGINT) AS n_words,
      CAST(CASE WHEN take > 0 THEN sum_abs // take ELSE 0 END AS BIGINT)
        AS mean_abs,
      CAST(coalesce(list_sum(list_transform(range(0, take), i ->
        CASE WHEN av[CAST(i+1 AS INT)] * take > sum_abs
          THEN CAST(1 AS BIGINT) << CAST(i AS INT) ELSE 0 END)), 0)
        AS BIGINT) AS energy_fp
    FROM s ORDER BY media_id"""
  }

  // --- q60f: video-container (ISO-BMFF / MP4) header metadata -------------
  // The video leg: each doc becomes a REAL minimal MP4 box tree (ftyp with
  // brand isom, moov whose first child is a version-0 mvhd carrying
  // doc_id-derived timescale/duration, mdat over the UTF-8 text bytes).
  // The engine walks the boxes back with MultimodalOps.mp4Header — the
  // moov/mdat offsets are READ from the payload, not assumed, so the
  // synthesizer's box sizes are themselves under test — and derives exact
  // integral milliseconds; the oracle recomputes every field from the
  // doc_id ground truth, the q60d contract.
  private val Mp4TimescaleExpr = "600 + (doc_id % 4) * 300"
  private val Mp4DurationExpr = "1000 + (doc_id % 7) * 500"

  /** Synthesized canonical MP4 relation `(media_id, content)`. */
  private[graft] def syntheticMp4(spark: SparkSession, dir: String): DataFrame = {
    val be32 = (v: org.apache.spark.sql.Column) =>
      lpad(hex(v.cast("long")), 8, "0")
    val ts = expr(Mp4TimescaleExpr).cast("long")
    val dur = expr(Mp4DurationExpr).cast("long")
    val dataSize = length(encode(col("text"), "UTF-8")).cast("long")
    // mvhd v0 payload: ver/flags, creation, modification, timescale,
    // duration, rate 1.0, volume 1.0 + 10 reserved bytes, unity matrix,
    // 6x4 predefined, next_track_id — 100 bytes, box 108, moov 116
    val mvhd = concat(
      be32(lit(108L)), lit("6D766864"), be32(lit(0L)),
      be32(lit(0L)), be32(lit(0L)), be32(ts), be32(dur),
      be32(lit(0x00010000L)), lit("01000000"), be32(lit(0L)), be32(lit(0L)),
      be32(lit(0x00010000L)), be32(lit(0L)), be32(lit(0L)),
      be32(lit(0L)), be32(lit(0x00010000L)), be32(lit(0L)),
      be32(lit(0L)), be32(lit(0L)), be32(lit(0x40000000L)),
      be32(lit(0L)), be32(lit(0L)), be32(lit(0L)),
      be32(lit(0L)), be32(lit(0L)), be32(lit(0L)),
      be32(lit(2L)))
    val hdr = concat(
      be32(lit(20L)), lit("66747970"), // ftyp
      lit("69736F6D"), be32(lit(0L)), lit("69736F6D"), // isom, 0, isom
      be32(lit(116L)), lit("6D6F6F76"), mvhd, // moov > mvhd
      be32(dataSize + 8L), lit("6D646174")) // mdat
    Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"),
        concat(unhex(hdr), encode(col("text"), "UTF-8")).as("content"))
  }

  def q60fMp4Metadata(spark: SparkSession, dir: String): DataFrame =
    syntheticMp4(spark, dir)
      .select(Seq(col("media_id")) ++ MultimodalOps.mp4Header(col("content"))
        .map { case (n, c) => c.as(n) }: _*)
      .select(col("media_id"), col("major_brand"), col("timescale"),
        col("duration"),
        expr("duration * 1000 div timescale").as("duration_ms"),
        col("data_size"))
      .orderBy("media_id")

  val q60fSql: String =
    s"""WITH g AS (SELECT doc_id AS media_id,
      $Mp4TimescaleExpr AS timescale,
      $Mp4DurationExpr AS duration,
      octet_length(encode(text)) AS data_size
    FROM documents)
    SELECT media_id,
      'isom' AS major_brand,
      CAST(timescale AS BIGINT) AS timescale,
      CAST(duration AS BIGINT) AS duration,
      CAST(duration * 1000 // timescale AS BIGINT) AS duration_ms,
      CAST(data_size AS BIGINT) AS data_size
    FROM g ORDER BY media_id"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q60_media_metadata" -> (q60MediaMetadata _),
    "q60b_frame_sample" -> (q60bFrameSample _),
    "q60c_phash_pairs" -> (q60cPhashPairs _),
    "q60e_phash_clusters" -> (q60ePhashClusters _),
    "q60d_wav_metadata" -> (q60dWavMetadata _),
    "q60g_audio_fingerprint" -> (q60gAudioFingerprint _),
    "q60f_mp4_metadata" -> (q60fMp4Metadata _))

  val oracleSql: Map[String, String] = Map(
    "q60_media_metadata" -> q60Sql,
    "q60b_frame_sample" -> q60bSql,
    "q60c_phash_pairs" -> q60cSql,
    "q60e_phash_clusters" -> q60eSql,
    "q60d_wav_metadata" -> q60dSql,
    "q60g_audio_fingerprint" -> q60gSql,
    "q60f_mp4_metadata" -> q60fSql)
}
