package graft.queries

import graft.Tables
import graft.ops.{DedupOps, HashOps, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication query surface over `documents` (builder-prompt extension):
  * exact groups, n-gram Jaccard all-pairs, MinHash+LSH, SimHash. Every
  * query is verified bit-exactly by a generated DuckDB oracle sharing
  * HashOps' constants.
  */
object DedupQueries {

  import SqlDefs._

  /** Word n-gram size for shingling. */
  val ShingleN = 5

  /** Output threshold for exact Jaccard pairs (micro-units, 0.3). */
  val JaccardMinMicro = 300000L

  /** Output threshold for MinHash-estimated Jaccard (micro-units, 0.25). */
  val MinhashMinMicro = 250000L

  /** Max Hamming distance for SimHash near-dup pairs (of 64 bits). */
  val SimhashMaxHamming = 3

  private def tokenized(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.tokenize(col("text")).as("toks"))

  /** Session-shared relations (the q03/q50-family pattern): eight dedup
    * queries consume the IDENTICAL per-doc-distinct shingle relation at
    * [[ShingleN]], and three (q25/q55/q55b) the identical Jaccard-pairs
    * relation on top of it — as independent programs each re-tokenized
    * and re-joined the corpus. Memoized per (application, fixture dir)
    * (see [[Memo]]).
    */
  private val shingled = Memo.frame((spark, d) =>
    DedupOps.shingles(tokenized(spark, d), ShingleN))

  /** Bump when [[DedupOps.jaccardPairs]]/[[DedupOps.shingles]]/
    * [[TextOps.tokenize]] change SEMANTICS — the stored artifact's
    * fingerprint sees input files and constants, not code
    * (StoredPairsSpec row-compares store vs fresh build as the backstop).
    */
  private val JpairsStoreVersion = s"1:n=$ShingleN,min=$JaccardMinMicro"

  private[graft] val jpairs: Memo[DataFrame] = Memo.frame((spark, d) =>
    graft.sources.StoredRelations.readOrBuild(spark, "dedup_jpairs",
      Seq(s"$d/documents.parquet"), JpairsStoreVersion)(
      DedupOps.jaccardPairs(shingled(spark, d), JaccardMinMicro)))

  /** The cluster-LABELS relation, stored like the pairs it derives from:
    * in production the labels table is maintained infrastructure — q55c
    * IS its incremental maintenance path — so four consumers (q55's
    * report, q112's histogram, q105's split, q84's retention) read the
    * stored relation instead of each re-running the label-propagation
    * loop. The from-scratch LP (and q55b's independent star-contraction
    * twin, which deliberately does NOT read this store) still execute in
    * full under the oracle compare, so the stored relation is
    * re-verified against the recursive-CTE closure every round. Version
    * chains the pairs version: labels change iff pairs or the LP
    * semantics do.
    */
  private val LabelsStoreVersion = s"1:pairs=$JpairsStoreVersion"

  private[queries] val dupLabels: Memo[DataFrame] = Memo.frame((spark, d) =>
    graft.sources.StoredRelations.readOrBuild(spark, "dedup_labels",
      Seq(s"$d/documents.parquet"), LabelsStoreVersion)(
      DedupOps.duplicateClusters(Tables.documents(spark, d),
        jpairs(spark, d))))

  // --- q24: exact duplicate groups ---------------------------------------
  def q24ExactDup(spark: SparkSession, dir: String): DataFrame =
    DedupOps.exactDuplicates(Tables.documents(spark, dir)).orderBy("doc_id")

  val q24Sql: String =
    s"""WITH c AS (
      SELECT doc_id, ${HashOps.contentKeySql("text")} AS ck FROM documents),
    w AS (
      SELECT doc_id,
        min(doc_id) OVER (PARTITION BY ck) AS canonical_id,
        count(*) OVER (PARTITION BY ck) AS group_size
      FROM c)
    SELECT doc_id, canonical_id, group_size,
      doc_id <> canonical_id AS is_duplicate
    FROM w ORDER BY doc_id"""

  // --- q180: the exact-dedup STREAM executed in the gate --------------------
  // q179's sibling for the STATEFUL streaming path: the corpus replays
  // as 4 deterministic chunk files through exactDedupStream
  // (dropDuplicatesWithinWatermark keyed on the 8-byte content key,
  // never text), survivors land in an append-mode file sink, and the
  // registered relation is the surviving content-key SET — one row per
  // distinct key whatever the arrival order, so q24's batch key
  // semantics oracle this streaming execution hash-exactly. The
  // doc-level twin parity (WHICH doc survives) stays unit-gated in
  // StreamingOpsSpec; this row proves the stateful operator runs inside
  // the correctness gate every round.
  def q180StreamExactDedup(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingOps.exactDedupViaStream(spark,
      s"$dir/documents.parquet", chunks = 4,
      scratchName = s"stream_dedup/${new java.io.File(dir).getName}")

  val q180Sql: String =
    s"""SELECT DISTINCT ${HashOps.contentKeySql("text")} AS content_key
    FROM documents ORDER BY content_key"""

  // --- q189: checkpoint RESTART of the dedup stream, executed in the gate --
  // The one streaming property q179/q180/q181/q185 cannot certify: every
  // other gate execution runs start -> processAllAvailable -> stop in one
  // query lifetime, so the checkpoint is written but never RESUMED. This
  // row replays the first 2 staged chunk files, STOPS the query, reopens
  // a NEW query from the same checkpoint + file sink, replays the rest,
  // and asserts in-body that the two starts share one query identity
  // under distinct runIds (the checkpoint-resume contract). The emitted
  // key set is restart-invariant, so q180's batch oracle verifies the
  // two-start execution hash-exactly; the crash-shaped no-double-emit
  // variant (deleted offset-commit, replayed sink-committed batch) is
  // gated in StreamingParitySpec.
  def q189StreamRestartDedup(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingOps.exactDedupViaStreamRestart(spark,
      s"$dir/documents.parquet", chunks = 4, stopAfterFiles = 2,
      scratchName = s"stream_restart/${new java.io.File(dir).getName}")

  // --- q24b: canonical-form exact dedup ----------------------------------
  // The "fuzzy-exact" dedup every web pipeline runs before anything
  // fancier (RefinedWeb/CCNet practice): group on a NORMALIZED text key —
  // lowercase, punctuation stripped, whitespace collapsed (the reference's
  // own P1-P5 preprocess) — so case/punctuation/spacing variants of the
  // same content collapse into one group. Same single content-keyed
  // shuffle as q24; the canonical key is a narrow codegen'd projection, so
  // the only added cost over q24 is per-row regex work in the scan.
  def q24bCanonicalDup(spark: SparkSession, dir: String): DataFrame =
    DedupOps.exactDuplicates(
      Tables.documents(spark, dir)
        .select(col("doc_id"), TextOps.preprocess(col("text")).as("canon")),
      textCol = "canon")
      .orderBy("doc_id")

  val q24bSql: String =
    s"""WITH c AS (
      SELECT doc_id, ${preprocessSql("text")} AS canon FROM documents),
    k AS (
      SELECT doc_id, ${HashOps.contentKeySql("canon")} AS ck FROM c),
    w AS (
      SELECT doc_id,
        min(doc_id) OVER (PARTITION BY ck) AS canonical_id,
        count(*) OVER (PARTITION BY ck) AS group_size
      FROM k)
    SELECT doc_id, canonical_id, group_size,
      doc_id <> canonical_id AS is_duplicate
    FROM w ORDER BY doc_id"""

  // --- shared oracle CTEs: tokens → shingles → hashes --------------------
  // package-visible: q146's mixture-weight oracle composes the q140b
  // uniqueness body on top of the identical shingle relation
  private[queries] val shingleCte: String =
    s"""tok AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
        range(0, len(toks) - $ShingleN + 1),
        i -> array_to_string(toks[(CAST(i AS INT)+1):(CAST(i AS INT)+$ShingleN)], ' ')))) AS shingle
      FROM tok WHERE len(toks) >= $ShingleN)"""

  // --- q25: n-gram Jaccard all-pairs (inverted index) --------------------
  def q25NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    jpairs(spark, dir).orderBy("id_a", "id_b")

  val q25Sql: String =
    s"""WITH $shingleCte,
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT c.id_a, c.id_b, c.common,
      sa.sz AS size_a, sb.sz AS size_b,
      CAST(floor(1000000 * c.common / (sa.sz + sb.sz - c.common)) AS BIGINT) AS jaccard_micro
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.id_a
    JOIN sizes sb ON sb.doc_id = c.id_b
    WHERE floor(1000000 * c.common / (sa.sz + sb.sz - c.common)) >= $JaccardMinMicro
    ORDER BY c.id_a, c.id_b"""

  // --- q74: containment near-dup pairs -----------------------------------
  // Jaccard's blind spot: a doc quoted inside a much larger one scores
  // |A|/|B| ≈ 0 Jaccard but 1.0 containment. Same inverted index as q25,
  // different final projection (common / min size); run together the two
  // relations bracket subset- and symmetric-duplication.
  val ContainmentMinMicro = 500000L

  def q74Containment(spark: SparkSession, dir: String): DataFrame =
    DedupOps.containmentPairs(shingled(spark, dir), ContainmentMinMicro)
      .orderBy("id_a", "id_b")

  val q74Sql: String =
    s"""WITH $shingleCte,
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT c.id_a, c.id_b, c.common,
      sa.sz AS size_a, sb.sz AS size_b,
      CAST(floor(1000000 * c.common / least(sa.sz, sb.sz)) AS BIGINT) AS containment_micro
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.id_a
    JOIN sizes sb ON sb.doc_id = c.id_b
    WHERE floor(1000000 * c.common / least(sa.sz, sb.sz)) >= $ContainmentMinMicro
    ORDER BY c.id_a, c.id_b"""

  // --- q26: MinHash + LSH banding ----------------------------------------
  def q26MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    DedupOps.minhashPairs(
      DedupOps.minhashSignatures(shingled(spark, dir)),
      rowsPerBand = 4, MinhashMinMicro)
      .orderBy("id_a", "id_b")

  val q26Sql: String = {
    val k = HashOps.MinHashK
    val minExprs = (0 until k)
      .map(i => s"min(${HashOps.permSql(i, "th")}) AS m$i").mkString(", ")
    val bandSelects = (0 until 4).map { b =>
      val key = (0 until 4).map(r => s"CAST(m${b * 4 + r} AS VARCHAR)")
        .mkString(" || '-' || ")
      s"SELECT doc_id, $b AS band, $key AS key FROM sig"
    }.mkString(" UNION ALL ")
    val agree = (0 until k)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $shingleCte,
    h AS (SELECT doc_id, ${HashOps.charHashSql("shingle")} AS th FROM sh),
    sig AS (SELECT doc_id, $minExprs FROM h GROUP BY doc_id),
    bands AS ($bandSelects),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
    SELECT id_a, id_b,
      CAST(floor(1000000 * ($agree) / $k) AS BIGINT) AS est_jaccard_micro
    FROM cand
    JOIN sig sa ON sa.doc_id = id_a
    JOIN sig sb ON sb.doc_id = id_b
    WHERE floor(1000000 * ($agree) / $k) >= $MinhashMinMicro
    ORDER BY id_a, id_b"""
  }

  // --- q80: incremental ingest dedup against a stored signature index ----
  // docs with doc_id % 10 == 9 stand in for the incoming batch; the rest
  // are the already-indexed corpus. Semantics and scale shape in
  // DedupOps.incrementalDupCheck.
  val IncrementalMinMicro = 500000L

  def q80IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val sigs = DedupOps.minhashSignatures(shingled(spark, dir))
    val isNew = col("doc_id") % 10 === 9
    DedupOps.incrementalDupCheck(
      sigs.where(isNew), sigs.where(!isNew),
      rowsPerBand = 4, IncrementalMinMicro)
      .orderBy("doc_id")
  }

  val q80Sql: String = {
    val k = HashOps.MinHashK
    val minExprs = (0 until k)
      .map(i => s"min(${HashOps.permSql(i, "th")}) AS m$i").mkString(", ")
    def bandSelects(src: String, idAs: String): String = (0 until 4).map { b =>
      val key = (0 until 4).map(r => s"CAST(m${b * 4 + r} AS VARCHAR)")
        .mkString(" || '-' || ")
      s"SELECT doc_id AS $idAs, $b AS band, $key AS key FROM $src"
    }.mkString(" UNION ALL ")
    val agree = (0 until k)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $shingleCte,
    h AS (SELECT doc_id, ${HashOps.charHashSql("shingle")} AS th FROM sh),
    sig AS (SELECT doc_id, $minExprs FROM h GROUP BY doc_id),
    newsig AS (SELECT * FROM sig WHERE doc_id % 10 = 9),
    oldsig AS (SELECT * FROM sig WHERE doc_id % 10 <> 9),
    nb AS (${bandSelects("newsig", "new_id")}),
    ob AS (${bandSelects("oldsig", "old_id")}),
    cand AS (
      SELECT DISTINCT nb.new_id, ob.old_id
      FROM nb JOIN ob ON nb.band = ob.band AND nb.key = ob.key),
    sc AS (
      SELECT c.new_id, c.old_id,
        CAST(floor(1000000 * ($agree) / $k) AS BIGINT) AS est
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.new_id
      JOIN sig sb ON sb.doc_id = c.old_id),
    r AS (SELECT *,
        row_number() OVER (PARTITION BY new_id ORDER BY est DESC, old_id) AS rk,
        count(*) OVER (PARTITION BY new_id) AS n_cand
      FROM sc)
    SELECT ns.doc_id,
      coalesce(r.n_cand, 0) AS n_candidates,
      coalesce(r.old_id, -1) AS best_match,
      coalesce(r.est, 0) AS est_jaccard_micro,
      coalesce(r.est, 0) >= $IncrementalMinMicro AS is_dup
    FROM newsig ns
    LEFT JOIN (SELECT * FROM r WHERE rk = 1) r ON ns.doc_id = r.new_id
    ORDER BY ns.doc_id"""
  }

  // --- q26b: MLlib MinHashLSH variant (rows-only — MLlib hashes have no
  // DuckDB twin; agreement with the portable q26 path is unit-tested) -----
  // Hash SHINGLE sets (near-unique), not raw tokens: with the corpus'
  // ~40-word vocabulary, token-level MinHash buckets collide massively and
  // approxSimilarityJoin's candidate set explodes (observed 600s at sf0.1
  // vs ~3s on shingles). The threshold is a Jaccard DISTANCE bound.
  def q26bMinhashMllib(spark: SparkSession, dir: String): DataFrame = {
    val shingled = tokenized(spark, dir)
      .select(col("doc_id"),
        when(size(col("toks")) >= ShingleN,
          array_distinct(transform(
            sequence(lit(0), size(col("toks")) - ShingleN),
            i => concat_ws(" ", slice(col("toks"), i + 1, lit(ShingleN))))))
          .otherwise(array().cast("array<string>")).as("toks"))
    // This variant is a REDUNDANCY probe: the algorithm's correctness is
    // the unit agreement test with the portable q26 path. Slimmed (2 hash
    // tables vs MLlib's default 8, deterministic half-sample of docs) and
    // then RETIRED from the bench/verify registry entirely — see the
    // comment at the `queries` map — because even slimmed it dominated
    // the cold bench re-proving a unit-proven property. Kept as callable
    // library surface for users on the MLlib pipeline.
    val sampled = shingled.where(
      graft.ops.HashOps.charHash(col("doc_id").cast("string")) % 2 === 0)
    DedupOps.minhashPairsMllib(sampled, threshold = 0.5, numTables = 2)
      .orderBy("id_a", "id_b")
  }

  // --- q26c: edit-distance near-dups, blocked by (source, lang) ----------
  val EditMaxDist = 40

  def q26cEditDistance(spark: SparkSession, dir: String): DataFrame =
    DedupOps.editDistancePairs(Tables.documents(spark, dir),
      Seq("source", "lang"), EditMaxDist)
      .orderBy("id_a", "id_b")

  val q26cSql: String =
    s"""SELECT a.source || '|' || a.lang AS block,
      a.doc_id AS id_a, b.doc_id AS id_b,
      CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
    FROM documents a JOIN documents b
      ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE abs(length(a.text) - length(b.text)) <= $EditMaxDist
      AND levenshtein(a.text, b.text) <= $EditMaxDist
    ORDER BY id_a, id_b"""

  // --- q27: SimHash near-dup pairs ---------------------------------------
  def q27Simhash(spark: SparkSession, dir: String): DataFrame =
    DedupOps.simhashPairs(
      DedupOps.simhash(tokenized(spark, dir)), SimhashMaxHamming)
      .orderBy("id_a", "id_b")

  val q27Sql: String = {
    val bitSums = (0 until DedupOps.SimHashBits).map { j =>
      val (a, b) = DedupOps.SimHashPerms(j)
      s"sum(tf * CASE WHEN (($a * th + $b) % ${HashOps.P}) & 1 = 1 THEN 1 ELSE -1 END) AS b$j"
    }.mkString(", ")
    // bit 63's value is Long.MinValue — DuckDB rejects 1::BIGINT << 63 and
    // the bare negative literal parses as HUGEINT, so spell it as min+(-1);
    // fold with | (the engine's two's-complement OR), never +
    def bitLit(j: Int): String =
      if (j == 63) "(-9223372036854775807 - 1)" else (1L << j).toString
    val fp = (0 until DedupOps.SimHashBits)
      .map(j => s"(CASE WHEN b$j > 0 THEN ${bitLit(j)} ELSE CAST(0 AS BIGINT) END)")
      .mkString(" | ")
    val bandSelects = DedupOps.simhashBandLayout(SimhashMaxHamming)
      .map { case (b, start, w) =>
        val key = if (w == DedupOps.SimHashBits) "simhash"
          else s"(simhash >> $start) & ${(1L << w) - 1}"
        s"SELECT doc_id, simhash, $b AS band, $key AS key FROM fp"
      }.mkString(" UNION ALL ")
    s"""WITH tok AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
      GROUP BY doc_id, term),
    h AS (SELECT doc_id, tf, ${HashOps.charHashSql("term")} AS th FROM tf),
    bits AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
    fp AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM bits),
    bands AS ($bandSelects),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, hamming FROM pairs
    WHERE hamming <= $SimhashMaxHamming ORDER BY id_a, id_b"""
  }

  // --- q53: benchmark decontamination ------------------------------------
  // Docs with doc_id % 20 == 0 stand in for a held-out eval benchmark; the
  // rest are the training corpus. A training doc is contaminated when it
  // shares any 5-gram shingle with a benchmark doc. The fixture corpus has
  // duplicate/near-duplicate texts across the split, so the flag fires on
  // real overlap, not a degenerate all-false relation.
  val ContaminationMinShared = 1L

  def q53Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val toked = tokenized(spark, dir)
    val sh = shingled(spark, dir)
    val isBench = col("doc_id") % 20 === 0
    DedupOps.contaminationScores(
      toked.where(!isBench),
      sh.where(!isBench),
      sh.where(isBench),
      ContaminationMinShared)
      .orderBy("doc_id")
  }

  val q53Sql: String =
    s"""WITH $shingleCte,
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
    train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 <> 0),
    shared AS (
      SELECT t.doc_id, count(*) AS n_shared
      FROM train t JOIN bench b ON t.shingle = b.shingle
      GROUP BY t.doc_id)
    SELECT d.doc_id, coalesce(s.n_shared, 0) AS n_shared,
      coalesce(s.n_shared, 0) >= $ContaminationMinShared AS contaminated
    FROM (SELECT doc_id FROM tok WHERE doc_id % 20 <> 0) d
    LEFT JOIN shared s ON d.doc_id = s.doc_id
    ORDER BY d.doc_id"""

  // --- q53b: Bloom-prefiltered decontamination ---------------------------
  // Same relation as q53 (and the same oracle — the Bloom prefilter is
  // output-invisible by construction): the 100 TB-shaped variant where a
  // broadcast Bloom filter prunes the training shingles map-side before
  // the exact confirm join.

  /** Sizes q53b's Bloom filter. Generous vs the fixture's distinct bench
    * shingles; only trades memory for false positives, never correctness.
    */
  val BenchShingleEstimate = 1L << 17

  def q53bDecontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val toked = tokenized(spark, dir)
    val sh = shingled(spark, dir)
    val isBench = col("doc_id") % 20 === 0
    DedupOps.contaminationScoresBloom(
      toked.where(!isBench),
      sh.where(!isBench),
      sh.where(isBench),
      ContaminationMinShared, BenchShingleEstimate)
      .orderBy("doc_id")
  }

  // --- q73: benchmark leakage audit (q53 from the bench side) ------------
  // Same split convention as q53 (doc_id % 20 == 0 is the benchmark);
  // the output is the eval-integrity report: per bench doc, how many
  // training docs it leaks into and the worst single-doc containment.
  def q73LeakageAudit(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir)
    val isBench = col("doc_id") % 20 === 0
    DedupOps.leakageAudit(sh.where(isBench), sh.where(!isBench))
      .orderBy("doc_id")
  }

  val q73Sql: String =
    s"""WITH $shingleCte,
    bench AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 = 0),
    train AS (SELECT doc_id AS train_id, shingle FROM sh WHERE doc_id % 20 <> 0),
    bsz AS (SELECT doc_id, count(*) AS bench_sz FROM bench GROUP BY doc_id),
    pair AS (
      SELECT b.doc_id, t.train_id, count(*) AS n_common
      FROM bench b JOIN train t ON b.shingle = t.shingle
      GROUP BY b.doc_id, t.train_id),
    a AS (
      SELECT doc_id, count(*) AS n_train_docs,
        CAST(sum(n_common) AS BIGINT) AS n_shared_total,
        max(n_common) AS max_common
      FROM pair GROUP BY doc_id)
    SELECT z.doc_id, z.bench_sz,
      coalesce(a.n_train_docs, 0) AS n_train_docs,
      coalesce(a.n_shared_total, 0) AS n_shared_total,
      coalesce(a.max_common, 0) AS max_common,
      CAST(floor(1000000 * coalesce(a.max_common, 0) / z.bench_sz) AS BIGINT)
        AS max_containment_micro
    FROM bsz z LEFT JOIN a USING (doc_id) ORDER BY doc_id"""

  // --- q78: per-source boilerplate profile --------------------------------
  // Semantics and scale shape in DedupOps.boilerplateProfile; the oracle
  // recomputes the within-source shingle df and per-doc roll-up in SQL.
  val BoilerplateMinDocs = 2L

  def q78Boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val toked = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        TextOps.tokenize(col("text")).as("toks"))
    DedupOps.boilerplateProfile(
      DedupOps.shingles(toked, ShingleN, carryCols = Seq("source")),
      BoilerplateMinDocs)
      .orderBy("doc_id")
  }

  val q78Sql: String =
    s"""WITH tok AS (
      SELECT doc_id, source, ${toksSql("text")} AS toks FROM documents),
    sh AS (
      SELECT doc_id, source, unnest(list_distinct(list_transform(
        range(0, len(toks) - $ShingleN + 1),
        i -> array_to_string(toks[(CAST(i AS INT)+1):(CAST(i AS INT)+$ShingleN)], ' ')))) AS shingle
      FROM tok WHERE len(toks) >= $ShingleN),
    bp AS (
      SELECT source, shingle FROM sh GROUP BY source, shingle
      HAVING count(*) >= $BoilerplateMinDocs),
    j AS (
      SELECT s.doc_id, s.source, count(*) AS n_shingles,
        count(b.shingle) AS n_boilerplate
      FROM sh s LEFT JOIN bp b
        ON s.source = b.source AND s.shingle = b.shingle
      GROUP BY s.doc_id, s.source)
    SELECT doc_id, source, n_shingles, n_boilerplate,
      CAST(floor(1000000 * n_boilerplate / n_shingles) AS BIGINT)
        AS boilerplate_micro
    FROM j ORDER BY doc_id"""

  // --- q55: duplicate clusters (connected components) --------------------
  // Near-dup PAIRS (q25's relation) resolved into transitive clusters:
  // every doc labeled with its component's min id. Spark runs iterative
  // min-label propagation; the oracle computes the same fixpoint with a
  // DuckDB recursive CTE — two entirely different algorithms agreeing on
  // the closure is the point of the check.
  def q55DupClusters(spark: SparkSession, dir: String): DataFrame =
    dupLabels(spark, dir).orderBy("doc_id")

  // Same pairs, same expected labels, different algorithm: the
  // diameter-independent large-star/small-star contraction. Sharing q55's
  // recursive-CTE oracle means THREE independent computations of the
  // transitive closure (propagation, contraction, SQL fixpoint) must agree
  // bit-exactly.
  def q55bDupClustersStar(spark: SparkSession, dir: String): DataFrame =
    DedupOps.duplicateClustersStar(
      Tables.documents(spark, dir), jpairs(spark, dir))
      .orderBy("doc_id")

  // --- q55c: INCREMENTAL duplicate-cluster maintenance ---------------------
  // q80 maintains the pair INDEX incrementally; this maintains the
  // cluster LABELS: given yesterday's stored labels (the Snapshots.inA
  // carve, clustered by the existing operator) and today's delta (the
  // remaining docs plus every pair touching them), the update runs
  // connected components over the QUOTIENT graph only — each new edge's
  // endpoints are mapped to their stored base label (or themselves for
  // delta docs), so the contraction's input is bounded by (affected
  // components + delta), never the corpus. The quotient argument makes
  // this EXACT, not approximate: components of the quotient map 1:1 onto
  // merged full-graph components, and min-of-mins = global min, so the
  // output must be BIT-IDENTICAL to clustering the whole corpus from
  // scratch — which is precisely what the oracle does (q55's recursive
  // CTE over all docs). A hash match therefore proves incremental ==
  // full recompute. At 100 TB this is the nightly-ingest shape: base
  // labels are a stored table, and re-clustering cost tracks delta churn
  // instead of corpus size.
  def q55cIncrementalClusters(spark: SparkSession, dir: String): DataFrame = {
    val snaps = CurationQueries.Snapshots
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val baseDocs = docs.where(snaps.inA)
    val deltaDocs = docs.where(!snaps.inA)
    val allPairs = jpairs(spark, dir).select(col("id_a"), col("id_b"))
    // pair metrics depend only on the two docs' shingle sets, so base-
    // only pairs == whole-corpus pairs with both endpoints in the base
    val basePairs = allPairs
      .where(snaps.inAOf(col("id_a")) && snaps.inAOf(col("id_b")))
    val deltaPairs = allPairs
      .where(!snaps.inAOf(col("id_a")) || !snaps.inAOf(col("id_b")))
    // "yesterday's stored table" is now LITERALLY that: the base-carve
    // labels live as a StoredRelations artifact (the query's own premise
    // — incremental maintenance reads yesterday's table from storage,
    // it never re-derives it), versioned on the carve + pairs semantics
    val baseLabels = graft.CacheScope.persist(
      graft.sources.StoredRelations.readOrBuild(spark, "dedup_labels_baseA",
        Seq(s"$dir/documents.parquet"),
        s"1:carve=inA,pairs=$JpairsStoreVersion")(
        DedupOps.duplicateClusters(baseDocs, basePairs)))
    def rep(side: String): org.apache.spark.sql.Column =
      coalesce(col("cluster_id"), col(side)) // base doc → its label; delta → itself
    val e1 = deltaPairs
      .join(baseLabels.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left")
      .select(rep("id_a").as("ra"), col("id_b"))
    val quotientPairs = e1
      .join(baseLabels.withColumnRenamed("doc_id", "id_b"), Seq("id_b"), "left")
      .select(least(col("ra"), rep("id_b")).as("id_a"),
        greatest(col("ra"), rep("id_b")).as("id_b"))
      .where(col("id_a") =!= col("id_b")).distinct()
    val quotientNodes = baseLabels.select(col("cluster_id").as("doc_id"))
      .unionByName(deltaDocs).distinct()
    val qLabels = DedupOps.duplicateClustersStar(quotientNodes, quotientPairs)
      .select(col("doc_id").as("rep"), col("cluster_id").as("new_label"))
    val fromBase = baseLabels
      .join(qLabels, baseLabels("cluster_id") === qLabels("rep"))
      .select(col("doc_id"), col("new_label").as("cluster_id"))
    val fromDelta = deltaDocs
      .join(qLabels, deltaDocs("doc_id") === qLabels("rep"))
      .select(col("doc_id"), col("new_label").as("cluster_id"))
    fromBase.unionByName(fromDelta).orderBy("doc_id")
  }

  // --- q159b: INCREMENTAL canonical maintenance ----------------------------
  // q55c maintains cluster LABELS incrementally; this maintains the
  // quality-aware CANONICAL table (q159's richest-member election, the
  // shared rule in DedupOps.richestCanonical) the same way. Yesterday's
  // canonical rows live as a stored artifact over the base carve; today's
  // delta arrives, and only TOUCHED clusters re-elect. The touch
  // argument makes the untouched carry-over exact, not approximate:
  // every quotient edge has at least one delta endpoint (base-base pairs
  // are already inside the base clustering), so a multi-node quotient
  // component must contain a delta doc — a base cluster is untouched iff
  // its component gained no delta member, and then its membership, its
  // min-id label, AND its election inputs are all bit-identical to
  // yesterday's, so the stored row IS the answer. Touched clusters
  // re-elect over their (pruned) membership only. The oracle is the
  // FROM-SCRATCH election over the whole corpus (q55's recursive closure
  // + the q159 window), so a hash match proves incremental == full
  // recompute. At 100 TB: re-election cost tracks delta churn, the
  // corpus-sized richness relation is only read through the touched
  // semi-join, and the canonical table persists as a fingerprinted
  // artifact between ingests.
  val CanonicalStoreVersion = s"1:carve=inA,pairs=$JpairsStoreVersion,elect=richest"

  def q159bIncrementalCanonical(spark: SparkSession, dir: String): DataFrame = {
    val snaps = CurationQueries.Snapshots
    val toked = Tables.documents(spark, dir).select(col("doc_id"),
      graft.ops.TextOps.tokenize(col("text")).as("toks"))
    val richness = toked.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"),
      size(array_distinct(col("toks"))).cast("long").as("n_distinct_tokens"))
    // yesterday's canonical table: a stored artifact over the base carve,
    // derived by the SAME election the batch tier uses
    val baseCanonical = graft.CacheScope.persist(
      graft.sources.StoredRelations.readOrBuild(spark, "dedup_canonical_baseA",
        Seq(s"$dir/documents.parquet"), CanonicalStoreVersion) {
        val baseDocs = toked.select(col("doc_id")).where(snaps.inA)
        val basePairs = jpairs(spark, dir).select(col("id_a"), col("id_b"))
          .where(snaps.inAOf(col("id_a")) && snaps.inAOf(col("id_b")))
        DedupOps.richestCanonical(
          DedupOps.duplicateClusters(baseDocs, basePairs)
            .join(richness, Seq("doc_id")))
      })
    // today's membership under the new labels — q55c's quotient algebra.
    // Persisted (r16, guide §2.3 duplicate-reference class): three
    // consumers below (touched, the old→new label map, the re-election)
    // each re-ran q55c's post-checkpoint label joins; the relation is
    // two long columns.
    val membership = graft.CacheScope.persist(
      q55cIncrementalClusters(spark, dir))
    val touched = membership
      .join(toked.select(col("doc_id")).where(!snaps.inA), Seq("doc_id"),
        "left_semi")
      .select(col("cluster_id")).distinct()
    // a stored row is stale when its cluster's NEW label is touched — the
    // anti-join must run on new labels, not stored ones: a touched
    // cluster's label can CHANGE (a smaller-id delta doc joins and
    // becomes the new min, or two base clusters merge through a delta
    // doc), and then the old label appears nowhere in the touched set —
    // an old-label anti-join would leak the stale stored row alongside
    // the re-election (measured: 4 leaked rows at sf0.01 pre-fix). The
    // elected member's membership row maps old → new (all members of a
    // base cluster share one new label).
    val touchedOld = baseCanonical.select(col("doc_id"), col("cluster_id"))
      .join(membership.select(col("doc_id"),
        col("cluster_id").as("new_label")), Seq("doc_id"))
      .join(touched.select(col("cluster_id").as("new_label")),
        Seq("new_label"), "left_semi")
      .select(col("cluster_id"))
    val untouched = baseCanonical
      .join(touchedOld, Seq("cluster_id"), "left_anti")
    val reElected = DedupOps.richestCanonical(
      membership.join(touched, Seq("cluster_id"), "left_semi")
        .join(richness, Seq("doc_id")))
    // re-pin column order: the cluster_id-keyed anti-join moved the join
    // key first, and unionByName would propagate that order
    untouched.unionByName(reElected)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("n_tokens"), col("n_distinct_tokens"))
      .orderBy("doc_id")
  }

  // materializeCtes: the recursive closure references `edges` per step.
  // lazy: interpolates labelsCtes, declared LATER in this object — an
  // eager val here would fold a null into the SQL at clinit
  lazy val q159bSql: String = graft.queries.SqlDefs.materializeCtes(
    s"""WITH RECURSIVE $labelsCtes,
    sc AS (SELECT t.doc_id, l.cluster_id,
        CAST(len(t.toks) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(t.toks)) AS BIGINT) AS n_distinct_tokens
      FROM tok t JOIN labs l ON t.doc_id = l.doc_id),
    r AS (SELECT sc.*,
        row_number() OVER (PARTITION BY cluster_id
          ORDER BY n_distinct_tokens DESC, n_tokens DESC, doc_id ASC) AS rk,
        CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
          AS cluster_size
      FROM sc)
    SELECT doc_id, cluster_id, cluster_size, n_tokens, n_distinct_tokens
    FROM r WHERE rk = 1
    ORDER BY doc_id""")

  /** q55's full label chain as a reusable CTE fragment (no leading WITH;
    * callers must prepend `WITH RECURSIVE`): shingles → Jaccard pairs →
    * symmetric edges → recursive reachability → `labs (doc_id,
    * cluster_id)`. Factored out so composite oracles (q134's
    * hard-negative exclusion) replay the identical closure instead of
    * restating it.
    */
  private[queries] val labelsCtes: String =
    s"""$shingleCte,
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    jpairs AS (
      SELECT id_a, id_b FROM common c
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
      WHERE floor(1000000 * c.common / (sa.sz + sb.sz - c.common)) >= $JaccardMinMicro),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM jpairs
      UNION ALL SELECT id_b, id_a FROM jpairs),
    reach(id, lab) AS (
      SELECT doc_id, doc_id FROM tok
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
    labs AS (
      SELECT id AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id
      FROM reach GROUP BY id)"""

  val q55Sql: String =
    s"""WITH RECURSIVE $labelsCtes
    SELECT doc_id, cluster_id FROM labs ORDER BY doc_id"""

  // --- q184: cluster-balanced sampling (dedup → diversify, D4 shape) -------
  // r13 verdict item 4: the corpus ladder dedups (q24/q26), prunes
  // (q50), elects canonicals (q159) and realizes mixtures (q149), but
  // never BALANCES — a template-heavy source keeps its weight until the
  // canonical dial throws all variation away. DedupOps.
  // clusterBalancedSample composes the stored q55 cluster labels with
  // the q149 quota machinery: every cluster contributes ⌊log₂ n⌋ + 1
  // picks in the deterministic keyed-permutation order, so template
  // clusters compress logarithmically while singleton (unique) docs all
  // survive. Per-pick output; the oracle replays the identical closure +
  // window chain, so the hash covers the exact realized sample.
  def q184ClusterBalancedSample(spark: SparkSession, dir: String): DataFrame =
    DedupOps.clusterBalancedSample(dupLabels(spark, dir))
      .orderBy("cluster_id", "rk")

  // lazy: interpolates labelsCtes (declared above, but clinit-order
  // fragile across this object's eager vals — the q159b precedent);
  // materializeCtes like every labelsCtes consumer
  lazy val q184Sql: String = graft.queries.SqlDefs.materializeCtes({
    import graft.ops.HashOps
    val h = HashOps.charHashSql("CAST(doc_id AS VARCHAR)")
    s"""WITH RECURSIVE $labelsCtes,
    hh AS (SELECT doc_id, cluster_id, $h AS h FROM labs),
    kk AS (SELECT doc_id, cluster_id,
        ${HashOps.permSql(0, "h")} AS k FROM hh),
    r AS (SELECT cluster_id, doc_id,
        CAST(row_number() OVER (PARTITION BY cluster_id ORDER BY k, doc_id)
          AS BIGINT) AS rk,
        CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
          AS cluster_size
      FROM kk)
    SELECT cluster_id, cluster_size,
      CAST(length(format('{:b}', cluster_size)) AS BIGINT) AS quota,
      doc_id, rk
    FROM r WHERE rk <= length(format('{:b}', cluster_size))
    ORDER BY cluster_id, rk"""
  })

  // --- q163: duplicate-cluster cohesion audit -------------------------------
  // Label propagation certifies CONNECTIVITY, not similarity strength —
  // a transitive chain a~b~c can collapse docs whose endpoints share
  // almost nothing (the chaining pathology every production near-dup
  // pipeline audits for). One row per multi-member cluster: member and
  // edge counts, the WEAKEST in-cluster edge, and the integer mean edge
  // strength — min_jaccard_micro far below the pairing threshold's
  // neighborhood flags a chained cluster worth splitting (the evidence
  // behind choosing q55b-style star contraction caps or a higher
  // threshold). Edges are within-cluster by construction (a pair IS an
  // edge of the component), so the audit is one label join over the
  // already-bounded pair relation plus a cluster-keyed aggregate —
  // no corpus-sized work beyond the shared jpairs/labels memos.
  def q163ClusterCohesion(spark: SparkSession, dir: String): DataFrame = {
    val pairs = jpairs(spark, dir)
      .select(col("id_a"), col("id_b"), col("jaccard_micro"))
    val labels = dupLabels(spark, dir)
    val clusterSizes = labels.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"))
    pairs.join(labels.withColumnRenamed("doc_id", "id_a"), Seq("id_a"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_edges"),
        min(col("jaccard_micro")).as("min_jaccard_micro"),
        expr("sum(jaccard_micro) DIV count(1)").as("mean_jaccard_micro"))
      .join(clusterSizes, Seq("cluster_id"))
      .select(col("cluster_id"), col("n_members"), col("n_edges"),
        col("min_jaccard_micro"), col("mean_jaccard_micro"))
      .orderBy("cluster_id")
  }

  // lazy: interpolates labelsCtes, declared above but this val sits in
  // the same late-init family — and the recursive closure needs
  // materializeCtes like every labelsCtes consumer
  lazy val q163Sql: String = graft.queries.SqlDefs.materializeCtes(
    s"""WITH RECURSIVE $labelsCtes,
    jm AS (SELECT c.id_a, c.id_b,
        CAST(floor(1000000 * c.common / (sa.sz + sb.sz - c.common)) AS BIGINT)
          AS jaccard_micro
      FROM common c
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
      WHERE floor(1000000 * c.common / (sa.sz + sb.sz - c.common))
        >= $JaccardMinMicro),
    cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
      FROM labs GROUP BY cluster_id),
    e AS (SELECT l.cluster_id, jm.jaccard_micro
      FROM jm JOIN labs l ON jm.id_a = l.doc_id),
    a AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_edges,
        min(jaccard_micro) AS min_jaccard_micro,
        CAST(sum(jaccard_micro) // count(*) AS BIGINT) AS mean_jaccard_micro
      FROM e GROUP BY cluster_id)
    SELECT a.cluster_id, cs.n_members, a.n_edges,
      a.min_jaccard_micro, a.mean_jaccard_micro
    FROM a JOIN cs USING (cluster_id)
    ORDER BY cluster_id""")

  // --- q166: chunk-vs-doc tier consistency audit -----------------------------
  // The cross-tier question behind running dedup at MULTIPLE
  // granularities: which doc PAIRS share byte-identical training chunks
  // (q86's windows) while NOT being doc-level near-duplicates — the
  // partial duplication that escapes whole-doc dedup and is exactly why
  // the chunk tier exists. One row per doc pair sharing at least one
  // exact-duplicate chunk: shared-chunk count plus `same_cluster` from
  // the stored labels — `same_cluster = false` rows are the escape
  // population, and their count is the measured evidence for the chunk
  // tier's marginal value over q55. The pair join is chunk-content-keyed
  // (fan-out bounded by duplicate density, the q86/q128 argument), then
  // two label joins on the bounded pair relation.
  def q166TierConsistency(spark: SparkSession, dir: String): DataFrame = {
    val cq = graft.queries.CurationQueries
    // chunk text reduced to the 62-bit content key BEFORE the distinct and
    // the self-join: both exchanges carry 16-byte rows, never chunk bytes
    val cd = graft.ops.TextAnalysisOps.contextChunks(
      Tables.documents(spark, dir), cq.ChunkSize, cq.ChunkStride)
      .select(col("doc_id"),
        graft.ops.HashOps.contentKey(col("chunk_text")).as("ck"))
      .distinct()
    val shared = cd.toDF("id_a", "ck")
      .join(cd.toDF("id_b", "bck"),
        col("ck") === col("bck") && col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared_chunks"))
    val labs = dupLabels(spark, dir)
    shared
      .join(labs.toDF("id_a", "cl_a"), Seq("id_a"))
      .join(labs.toDF("id_b", "cl_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared_chunks"),
        (col("cl_a") === col("cl_b")).as("same_cluster"))
      .orderBy("id_a", "id_b")
  }

  lazy val q166Sql: String = graft.queries.SqlDefs.materializeCtes(
    s"""WITH RECURSIVE $labelsCtes,
    ck AS (SELECT doc_id,
        array_to_string(toks[(CAST(s AS INT)+1):(CAST(s AS INT)+${graft.queries.CurationQueries.ChunkSize})], ' ')
          AS chunk_text
      FROM (SELECT doc_id, toks,
          unnest(range(0, len(toks), ${graft.queries.CurationQueries.ChunkStride})) AS s
        FROM tok)),
    cd AS (SELECT DISTINCT doc_id,
        ${graft.ops.HashOps.contentKeySql("chunk_text")} AS chk FROM ck),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(count(*) AS BIGINT) AS n_shared_chunks
      FROM cd a JOIN cd b
        ON a.chk = b.chk AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT p.id_a, p.id_b, p.n_shared_chunks,
      (la.cluster_id = lb.cluster_id) AS same_cluster
    FROM p
    JOIN labs la ON p.id_a = la.doc_id
    JOIN labs lb ON p.id_b = lb.doc_id
    ORDER BY p.id_a, p.id_b""")

  // --- q139: dedup savings report (tokens removed per tier) -----------------
  // The number every curation run actually reports upward: not which docs
  // are duplicates (q24/q55) but how much TRAINING BUDGET each dedup tier
  // recovers — per tier (exact text match; near-dup cluster non-canonical
  // members), doc and REAL merged-BPE token counts removed, plus the
  // integer-permille share. Composes three already-verified relations
  // (q24's groups, q55's stored labels, q22b's encoder) into one
  // two-row report — and because the oracle replays all three chains
  // (bpeCountCtes + labelsCtes + the exact-group CTE) under one WITH
  // RECURSIVE, a drift in ANY of them shifts a token sum and breaks the
  // hash. One corpus encode pass + two tiny flag joins; aggregates are
  // scalar-bound.
  def q139DedupSavings(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextAnalysisOps
    val docs = Tables.documents(spark, dir)
    val toks = graft.CacheScope.persist(
      docs.select(col("doc_id"), TextAnalysisOps.bpePreTokens(col("text")).as("pts"))
        .select(col("doc_id"),
          size(graft.functions.BpeMerges.bpeEncode(col("pts")))
            .cast("long").as("n_tokens")))
    val exact = DedupOps.exactDuplicates(docs)
      .select(col("doc_id"), col("is_duplicate").as("removed"))
    val near = dupLabels(spark, dir)
      .select(col("doc_id"), (col("cluster_id") =!= col("doc_id")).as("removed"))
    def tier(name: String, flags: DataFrame): DataFrame =
      toks.join(flags, "doc_id")
        .agg(count(lit(1)).as("docs_total"),
          sum(when(col("removed"), 1L).otherwise(0L)).as("docs_removed"),
          sum(col("n_tokens")).as("tokens_total"),
          sum(when(col("removed"), col("n_tokens")).otherwise(0L))
            .as("tokens_removed"))
        .select(lit(name).as("tier"), col("docs_total"), col("docs_removed"),
          col("tokens_total"), col("tokens_removed"),
          when(col("tokens_total") > 0,
            expr("(1000 * tokens_removed) div tokens_total"))
            .as("removed_permille"))
    tier("exact", exact).unionByName(tier("near", near)).orderBy("tier")
  }

  val q139Sql: String =
    s"""WITH RECURSIVE ${SqlDefs.bpeCountCtes},
    $labelsCtes,
    eg AS (SELECT doc_id, ${HashOps.contentKeySql("text")} AS ck FROM documents),
    ef AS (SELECT doc_id,
      doc_id <> min(doc_id) OVER (PARTITION BY ck) AS removed FROM eg),
    nf AS (SELECT doc_id, doc_id <> cluster_id AS removed FROM labs),
    one AS (
      SELECT 'exact' AS tier, CAST(count(*) AS BIGINT) AS docs_total,
        CAST(sum(CASE WHEN ef.removed THEN 1 ELSE 0 END) AS BIGINT) AS docs_removed,
        CAST(sum(t.n_tokens) AS BIGINT) AS tokens_total,
        CAST(sum(CASE WHEN ef.removed THEN t.n_tokens ELSE 0 END) AS BIGINT) AS tokens_removed
      FROM t JOIN ef USING (doc_id)
      UNION ALL
      SELECT 'near', CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN nf.removed THEN 1 ELSE 0 END) AS BIGINT),
        CAST(sum(t.n_tokens) AS BIGINT),
        CAST(sum(CASE WHEN nf.removed THEN t.n_tokens ELSE 0 END) AS BIGINT)
      FROM t JOIN nf USING (doc_id))
    SELECT tier, docs_total, docs_removed, tokens_total, tokens_removed,
      CASE WHEN tokens_total > 0
        THEN (1000 * tokens_removed) // tokens_total END AS removed_permille
    FROM one ORDER BY tier"""

  // --- q140: vocabulary growth curve (Heaps' law profile) -------------------
  // The corpus-saturation signal beside q139's savings report: walking the
  // corpus in doc_id order, how many NEW distinct shingles does each
  // corpus slice introduce? A flattening curve (Heaps 1978) says more of
  // the same data buys little vocabulary — the empirical basis for "dedup
  // and diversify before scaling up". Exact and integer throughout: each
  // shingle's first occurrence is min(doc_id) — ONE shuffle keyed by
  // shingle over the shared per-doc-distinct relation, map-side combined;
  // bucket membership is a pure integer function of (doc_id, corpus
  // min/max) riding as a 1-row broadcast, so no corpus-sized join or
  // sort anywhere; the cumulative window runs over NBuckets=20 rows.
  val GrowthBuckets = 20

  def q140VocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bounds = docs.agg(min(col("doc_id")).cast("long").as("lo"),
      max(col("doc_id")).cast("long").as("hi"))
    // integer division: all operands non-negative by construction
    val bucketed = (df: DataFrame, idc: String) =>
      df.crossJoin(broadcast(bounds))
        .select(expr(s"(($idc - lo) * $GrowthBuckets) div (hi - lo + 1)")
          .as("bucket"))
    val docsPerBucket = bucketed(docs.select(col("doc_id")), "doc_id")
      .groupBy("bucket").agg(count(lit(1)).as("docs"))
    val firstSeen = shingled(spark, dir)
      .groupBy("shingle").agg(min(col("doc_id")).as("first_doc"))
    val newPerBucket = bucketed(firstSeen, "first_doc")
      .groupBy("bucket").agg(count(lit(1)).as("new_shingles"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(Long.MinValue, 0)
    docsPerBucket.join(newPerBucket, Seq("bucket"), "left")
      .select(col("bucket"), col("docs"),
        coalesce(col("new_shingles"), lit(0L)).as("new_shingles"))
      .withColumn("cum_vocab", sum(col("new_shingles")).over(w))
      .orderBy("bucket")
  }

  val q140Sql: String =
    s"""WITH $shingleCte,
    b AS (SELECT CAST(min(doc_id) AS BIGINT) AS lo,
      CAST(max(doc_id) AS BIGINT) AS hi FROM documents),
    db AS (SELECT ((d.doc_id - b.lo) * $GrowthBuckets) // (b.hi - b.lo + 1)
        AS bucket FROM documents d, b),
    dc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS docs
      FROM db GROUP BY bucket),
    fo AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle),
    nv AS (SELECT ((fo.first_doc - b.lo) * $GrowthBuckets) // (b.hi - b.lo + 1)
        AS bucket, CAST(count(*) AS BIGINT) AS new_shingles
      FROM fo, b GROUP BY 1)
    SELECT dc.bucket, dc.docs,
      COALESCE(nv.new_shingles, 0) AS new_shingles,
      CAST(sum(COALESCE(nv.new_shingles, 0)) OVER
        (ORDER BY dc.bucket) AS BIGINT) AS cum_vocab
    FROM dc LEFT JOIN nv ON dc.bucket = nv.bucket ORDER BY dc.bucket"""

  // --- q140b: per-source vocabulary uniqueness ------------------------------
  // q140 asks WHEN the corpus saturates; this asks WHO still contributes:
  // per source, its shingle vocabulary size, how much of it NO other
  // source has, and the unique share in permille — the source-pruning
  // signal (a source whose vocabulary is fully covered elsewhere adds
  // redundancy, not diversity). Shapes: the shared shingle relation joins
  // `documents` on doc_id (equi-join, no new corpus pass), then two
  // map-side-combined aggregates — (source, shingle) distinct, then
  // shingle-keyed source counts — and a 20-row per-source rollup.
  def q140bSourceVocab(spark: SparkSession, dir: String): DataFrame = {
    val srcOf = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val ss = shingled(spark, dir).join(srcOf, "doc_id")
      .select(col("source"), col("shingle")).distinct()
    val spread = ss.groupBy("shingle").agg(count(lit(1)).as("n_sources"))
    ss.join(spread, "shingle")
      .groupBy("source")
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("n_sources") === 1, 1L).otherwise(0L)).as("unique_vocab"))
      .select(col("source"), col("vocab"), col("unique_vocab"),
        expr("(1000 * unique_vocab) div vocab").as("unique_permille"))
      .orderBy("source")
  }

  val q140bSql: String =
    s"""WITH $shingleCte,
    ss AS (SELECT DISTINCT d.source, sh.shingle
      FROM sh JOIN documents d ON sh.doc_id = d.doc_id),
    spread AS (SELECT shingle, CAST(count(*) AS BIGINT) AS n_sources
      FROM ss GROUP BY shingle)
    SELECT ss.source, CAST(count(*) AS BIGINT) AS vocab,
      CAST(sum(CASE WHEN spread.n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS unique_vocab,
      (1000 * CAST(sum(CASE WHEN spread.n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT))
        // CAST(count(*) AS BIGINT) AS unique_permille
    FROM ss JOIN spread ON ss.shingle = spread.shingle
    GROUP BY ss.source ORDER BY ss.source"""

  // --- q141: source-pair vocabulary overlap matrix ---------------------------
  // q140b scores each source's UNIQUE share against everyone else at once;
  // this resolves the pairwise structure — WHICH sources duplicate each
  // other (shingle-set Jaccard per source pair), the signal behind "drop
  // the second crawl of the same site" source pruning. Shapes: the
  // (source, shingle) distinct relation is one map-side-combined
  // aggregate; the pair intersection is the q25 inverted-index self-join
  // keyed by shingle, whose fan-out per shingle is bounded by S², S the
  // SOURCE count — independent of corpus size, unlike a doc-keyed
  // self-join — so the join output is ≤ |vocab|·S(S−1)/2 rows with the
  // aggregate combining map-side; the size join is a broadcast of the
  // S-row relation. Pairs with an empty intersection are absent by
  // construction (the q25 convention): a missing row IS the zero.
  def q141SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val srcOf = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val ss = shingled(spark, dir).join(srcOf, "doc_id")
      .select(col("source"), col("shingle")).distinct()
    val sizes = ss.groupBy("source").agg(count(lit(1)).as("sz"))
    val inter = ss.as("a").join(ss.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("src_a"), col("sz").as("sz_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("sz").as("sz_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("sz_a"), col("sz_b"), col("inter"),
        expr("(1000000 * inter) div (sz_a + sz_b - inter)").as("jaccard_micro"))
      .orderBy("src_a", "src_b")
  }

  val q141Sql: String =
    s"""WITH $shingleCte,
    ss AS (SELECT DISTINCT d.source, sh.shingle
      FROM sh JOIN documents d ON sh.doc_id = d.doc_id),
    sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS sz
      FROM ss GROUP BY source),
    common AS (
      SELECT a.source AS src_a, b.source AS src_b,
        CAST(count(*) AS BIGINT) AS inter
      FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT c.src_a, c.src_b, sa.sz AS sz_a, sb.sz AS sz_b, c.inter,
      (1000000 * c.inter) // (sa.sz + sb.sz - c.inter) AS jaccard_micro
    FROM common c
    JOIN sizes sa ON sa.source = c.src_a
    JOIN sizes sb ON sb.source = c.src_b
    ORDER BY c.src_a, c.src_b"""

  // --- q144: LSH blocking confusion audit ------------------------------------
  // The near-dup tiers ship with analytic collision guarantees (banding
  // theory), but a production pipeline also wants the MEASURED confusion
  // of its blocking stage against exact ground truth: of the banded
  // candidate pairs, how many are true >=0.3-Jaccard pairs (precision),
  // and what fraction of the true pairs did banding surface at all
  // (recall — a banding miss is an UNDEDUPABLE pair downstream, the error
  // that silently survives to training). Two tiers: the raw band-collision
  // set, and q26's signature-estimate-thresholded subset. Shapes: the
  // candidate relation is q26's banded join (linear in collisions); truth
  // is the STORED exact-pairs artifact (the q25 relation the cluster
  // family already reads); the confusion join is candidate-keyed — never
  // corpus-quadratic — and each tier folds to ONE row, so the report is a
  // 2-row frame. Both engines re-derive truth from scratch under the
  // oracle compare, so the stored artifact is re-verified here too.
  def q144LshConfusion(spark: SparkSession, dir: String): DataFrame = {
    val cand = graft.CacheScope.persist(
      DedupOps.minhashPairs(
        DedupOps.minhashSignatures(shingled(spark, dir)),
        rowsPerBand = 4, minEstMicro = 0L))
    val truth = jpairs(spark, dir)
      .select(col("id_a"), col("id_b"), lit(1L).as("is_true"))
    val truthN = truth.agg(count(lit(1)).as("truth_pairs"))
    def tier(name: String, pairs: DataFrame): DataFrame =
      pairs.join(truth, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("candidates"),
          coalesce(sum(coalesce(col("is_true"), lit(0L))), lit(0L))
            .as("true_positives"))
        .crossJoin(broadcast(truthN)) // 1-row scalar
        .select(lit(name).as("tier"), col("candidates"), col("truth_pairs"),
          col("true_positives"),
          when(col("candidates") > 0,
            expr("(1000000 * true_positives) div candidates"))
            .as("precision_micro"),
          when(col("truth_pairs") > 0,
            expr("(1000000 * true_positives) div truth_pairs"))
            .as("recall_micro"))
    tier("banding", cand.select("id_a", "id_b"))
      .unionByName(tier("thresholded",
        cand.where(col("est_jaccard_micro") >= MinhashMinMicro)
          .select("id_a", "id_b")))
      .orderBy("tier")
  }

  val q144Sql: String = {
    val k = HashOps.MinHashK
    val minExprs = (0 until k)
      .map(i => s"min(${HashOps.permSql(i, "th")}) AS m$i").mkString(", ")
    val bandSelects = (0 until 4).map { b =>
      val key = (0 until 4).map(r => s"CAST(m${b * 4 + r} AS VARCHAR)")
        .mkString(" || '-' || ")
      s"SELECT doc_id, $b AS band, $key AS key FROM sig"
    }.mkString(" UNION ALL ")
    val agree = (0 until k)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $shingleCte,
    h AS (SELECT doc_id, ${HashOps.charHashSql("shingle")} AS th FROM sh),
    sig AS (SELECT doc_id, $minExprs FROM h GROUP BY doc_id),
    bands AS ($bandSelects),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    candj AS (
      SELECT id_a, id_b,
        CAST(floor(1000000 * ($agree) / $k) AS BIGINT) AS est
      FROM cand
      JOIN sig sa ON sa.doc_id = id_a
      JOIN sig sb ON sb.doc_id = id_b),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    truth AS (
      SELECT c.id_a, c.id_b
      FROM common c
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
      WHERE floor(1000000 * c.common / (sa.sz + sb.sz - c.common)) >= $JaccardMinMicro),
    tn AS (SELECT CAST(count(*) AS BIGINT) AS truth_pairs FROM truth),
    pb AS (SELECT CAST(count(*) AS BIGINT) AS candidates,
      CAST(coalesce(sum(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS true_positives
      FROM candj c LEFT JOIN truth t ON c.id_a = t.id_a AND c.id_b = t.id_b),
    pt AS (SELECT CAST(count(*) AS BIGINT) AS candidates,
      CAST(coalesce(sum(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS true_positives
      FROM candj c LEFT JOIN truth t ON c.id_a = t.id_a AND c.id_b = t.id_b
      WHERE c.est >= $MinhashMinMicro),
    per AS (SELECT 'banding' AS tier, candidates, true_positives FROM pb
      UNION ALL SELECT 'thresholded', candidates, true_positives FROM pt)
    SELECT per.tier, per.candidates, tn.truth_pairs, per.true_positives,
      CASE WHEN per.candidates > 0
        THEN (1000000 * per.true_positives) // per.candidates END AS precision_micro,
      CASE WHEN tn.truth_pairs > 0
        THEN (1000000 * per.true_positives) // tn.truth_pairs END AS recall_micro
    FROM per, tn ORDER BY per.tier"""
  }

  // --- q148: cross-source near-dup pair matrix --------------------------------
  // q141 measures VOCABULARY overlap between sources; this measures the
  // realized DOC-level duplication: the verified >=0.3-Jaccard pair
  // relation bucketed by (source, source) — the diagonal is intra-source
  // template mass, off-diagonal entries are mirror/syndication evidence
  // between specific source pairs (the takedown-one-of-them signal q141's
  // vocabulary view can only suggest). Shapes: the STORED pair artifact
  // (re-verified from scratch by the oracle) joins the S-row doc→source
  // lookup twice — both joins keyed by doc id — and least/greatest
  // canonicalizes the pair so (a,b) and (b,a) fold together; the output
  // is ≤ S(S+1)/2 rows.
  def q148CrossSourcePairs(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    jpairs(spark, dir)
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .groupBy(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("src_a", "src_b")
  }

  val q148Sql: String =
    s"""WITH $shingleCte,
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT c.id_a, c.id_b
      FROM common c
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
      WHERE floor(1000000 * c.common / (sa.sz + sb.sz - c.common)) >= $JaccardMinMicro)
    SELECT least(da.source, db.source) AS src_a,
      greatest(da.source, db.source) AS src_b,
      CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs
    JOIN documents da ON da.doc_id = pairs.id_a
    JOIN documents db ON db.doc_id = pairs.id_b
    GROUP BY 1, 2 ORDER BY src_a, src_b"""

  // --- q120b: triangle counting over the near-dup graph --------------------
  // The third graph statistic after connectivity (q55) and centrality
  // (q120): per-doc triangle participation — triangles are what separates
  // a TEMPLATE CLUSTER (many mutually-similar copies, dense triangles)
  // from a CHAIN of pairwise-similar revisions (few), a structure signal
  // cluster size alone can't see. Algorithm: degree-ordered orientation
  // (Cohen 2009's MapReduce triangle counting; Schank & Wagner 2005) —
  // every edge points from its lower-(deg, id) endpoint, so each wedge
  // join's fan-out is bounded by the max ORIENTED out-degree, O(√m) on
  // any graph, instead of the raw degree of a hub doc; the closure probe
  // is one more equi-join on the canonical pair. The oracle enumerates
  // triangles by plain id-ordering — an INDEPENDENT enumeration scheme
  // that must agree triangle-for-triangle with the degree-ordered one.
  def q120bTriangles(spark: SparkSession, dir: String): DataFrame = {
    val p = graft.CacheScope.persist(
      jpairs(spark, dir).select(col("id_a"), col("id_b")))
    val deg = p.select(col("id_a").as("id"))
      .unionByName(p.select(col("id_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("id_a") < col("id_b"))
    val oriented = p
      .join(deg.select(col("id").as("id_a"), col("deg").as("da")), "id_a")
      .join(deg.select(col("id").as("id_b"), col("deg").as("db")), "id_b")
      .select(when(lowFirst, col("id_a")).otherwise(col("id_b")).as("src"),
        when(lowFirst, col("id_b")).otherwise(col("id_a")).as("dst"))
    // persisted: wedge sides and the closure probe all read it
    val ec = graft.CacheScope.persist(oriented)
    val wedges = ec.toDF("a", "b").join(ec.toDF("a", "c"), "a")
      .where(col("b") < col("c"))
    val closure = ec.select(least(col("src"), col("dst")).as("b"),
      greatest(col("src"), col("dst")).as("c"))
    wedges.join(closure, Seq("b", "c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
      .orderBy("doc_id")
  }

  val q120bSql: String =
    s"""WITH $shingleCte,
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    jpairs AS (
      SELECT id_a, id_b FROM common c
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
      WHERE floor(1000000 * c.common / (sa.sz + sb.sz - c.common)) >= $JaccardMinMicro),
    tr AS (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
      FROM jpairs e1
      JOIN jpairs e2 ON e2.id_a = e1.id_a AND e2.id_b > e1.id_b
      JOIN jpairs e3 ON e3.id_a = e1.id_b AND e3.id_b = e2.id_b),
    x AS (SELECT unnest([a, b, c]) AS doc_id FROM tr)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
    FROM x GROUP BY doc_id ORDER BY doc_id"""

  // --- q128: chunk-level NEAR-dup (MinHash+LSH over training chunks) ------
  // Completes the dedup matrix's last cell. Granularity × match-kind now
  // reads: doc×exact (q24), doc×near (q25/q26/q27), chunk×exact (q86),
  // span×exact (q61) — and chunk×near, HERE: two documents sharing a
  // near-identical paragraph (one token edited, one inserted) produce NO
  // byte-identical chunk, so q86 misses them, while whole-doc near-dup
  // (q26) can miss them too when the rest of the docs differ enough to
  // dilute doc-level Jaccard below threshold. The common real case is
  // exactly this: a quoted/boilerplate paragraph embedded in otherwise
  // unrelated pages.
  //
  // Plan shape is q26's, one level down: q69's chunk relation (same
  // ChunkSize/ChunkStride — these ARE the training sequences) → 5-gram
  // shingles WITHIN each chunk → 16-perm MinHash signature per chunk →
  // 4-row LSH bands → band-bucket self-join (only chunks colliding in a
  // band are compared; never all-pairs) → signature-agreement estimate,
  // thresholded. Chunk count is ~tokens/stride, so every stage stays
  // linear in corpus size; the banded join is the same skew-bounded
  // shuffle q26 runs. Chunk key packs (doc_id, chunk_id) into one
  // BIGINT — chunk_id < 2^20 holds whenever a doc has < 2^20·stride
  // (~50M) tokens, far above any real document.
  val ChunkKeyBase = 1L << 20

  def q128ChunkNearDup(spark: SparkSession, dir: String): DataFrame = {
    import CurationQueries.{ChunkSize, ChunkStride}
    val chunks = graft.ops.TextAnalysisOps.contextChunks(
      Tables.documents(spark, dir), ChunkSize, ChunkStride)
      .select((col("doc_id") * ChunkKeyBase + col("chunk_id")).as("cid"),
        col("chunk").as("toks"))
    val pairs = DedupOps.minhashPairs(
      DedupOps.minhashSignatures(
        DedupOps.shingles(chunks, ShingleN, idCol = "cid"), idCol = "cid"),
      rowsPerBand = 4, MinhashMinMicro, idCol = "cid")
    pairs.select(
      expr(s"id_a div $ChunkKeyBase").as("doc_a"),
      (col("id_a") % ChunkKeyBase).as("chunk_a"),
      expr(s"id_b div $ChunkKeyBase").as("doc_b"),
      (col("id_b") % ChunkKeyBase).as("chunk_b"),
      col("est_jaccard_micro"))
      .orderBy("doc_a", "chunk_a", "doc_b", "chunk_b")
  }

  val q128Sql: String = {
    val k = HashOps.MinHashK
    val n = ShingleN
    val minExprs = (0 until k)
      .map(i => s"min(${HashOps.permSql(i, "th")}) AS m$i").mkString(", ")
    val bandSelects = (0 until 4).map { b =>
      val key = (0 until 4).map(r => s"CAST(m${b * 4 + r} AS VARCHAR)")
        .mkString(" || '-' || ")
      s"SELECT cid, $b AS band, $key AS key FROM sig"
    }.mkString(" UNION ALL ")
    val agree = (0 until k)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
    c AS (SELECT doc_id * $ChunkKeyBase + (start // ${CurationQueries.ChunkStride}) AS cid,
        toks[(CAST(start AS INT)+1):(CAST(start AS INT)+${CurationQueries.ChunkSize})] AS ctoks
      FROM (SELECT doc_id, toks,
          unnest(range(0, len(toks), ${CurationQueries.ChunkStride})) AS start
        FROM t)),
    sh AS (
      SELECT cid, unnest(list_distinct(list_transform(
        range(0, len(ctoks) - $n + 1),
        i -> array_to_string(ctoks[(CAST(i AS INT)+1):(CAST(i AS INT)+$n)], ' ')))) AS shingle
      FROM c WHERE len(ctoks) >= $n),
    h AS (SELECT cid, ${HashOps.charHashSql("shingle")} AS th FROM sh),
    sig AS (SELECT cid, $minExprs FROM h GROUP BY cid),
    bands AS ($bandSelects),
    cand AS (
      SELECT DISTINCT a.cid AS id_a, b.cid AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.cid < b.cid)
    SELECT id_a // $ChunkKeyBase AS doc_a, id_a % $ChunkKeyBase AS chunk_a,
      id_b // $ChunkKeyBase AS doc_b, id_b % $ChunkKeyBase AS chunk_b,
      CAST(floor(1000000 * ($agree) / $k) AS BIGINT) AS est_jaccard_micro
    FROM cand
    JOIN sig sa ON sa.cid = id_a
    JOIN sig sb ON sb.cid = id_b
    WHERE floor(1000000 * ($agree) / $k) >= $MinhashMinMicro
    ORDER BY doc_a, chunk_a, doc_b, chunk_b"""
  }

  // --- q151: chunk-level duplicate clusters (canonical chunk selection) ------
  // q128 finds chunk near-dup PAIRS; this closes the chunk tier to match
  // the doc tier's pairs→clusters→canonical ladder (q25→q55→q84): label
  // propagation over the chunk near-dup graph, min-cid canonical per
  // component — the relation a chunk-granular dedup pass actually
  // consumes (drop every chunk whose cluster canonical lives elsewhere,
  // keeping ONE copy of a paragraph syndicated across documents). Same
  // diameter-independent LP as q55 (converges in O(component diameter)
  // rounds with eager checkpoint truncation); the oracle replays the
  // full MinHash chain + a recursive-CTE closure over chunk ids, so a
  // banding, estimation, or propagation drift all break the hash.
  def q151ChunkClusters(spark: SparkSession, dir: String): DataFrame = {
    import CurationQueries.{ChunkSize, ChunkStride}
    val chunks = graft.ops.TextAnalysisOps.contextChunks(
      Tables.documents(spark, dir), ChunkSize, ChunkStride)
      .select((col("doc_id") * ChunkKeyBase + col("chunk_id")).as("cid"),
        col("chunk").as("toks"))
    val pairs = DedupOps.minhashPairs(
      DedupOps.minhashSignatures(
        DedupOps.shingles(chunks, ShingleN, idCol = "cid"), idCol = "cid"),
      rowsPerBand = 4, MinhashMinMicro, idCol = "cid")
    DedupOps.duplicateClusters(chunks.select(col("cid")), pairs, idCol = "cid")
      .select(expr(s"cid div $ChunkKeyBase").as("doc_id"),
        (col("cid") % ChunkKeyBase).as("chunk_id"),
        expr(s"cluster_id div $ChunkKeyBase").as("cluster_doc"),
        (col("cluster_id") % ChunkKeyBase).as("cluster_chunk"),
        (col("cid") =!= col("cluster_id")).as("is_duplicate"))
      .orderBy("doc_id", "chunk_id")
  }

  val q151Sql: String = {
    val k = HashOps.MinHashK
    val n = ShingleN
    val minExprs = (0 until k)
      .map(i => s"min(${HashOps.permSql(i, "th")}) AS m$i").mkString(", ")
    val bandSelects = (0 until 4).map { b =>
      val key = (0 until 4).map(r => s"CAST(m${b * 4 + r} AS VARCHAR)")
        .mkString(" || '-' || ")
      s"SELECT cid, $b AS band, $key AS key FROM sig"
    }.mkString(" UNION ALL ")
    val agree = (0 until k)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH RECURSIVE t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
    c AS (SELECT doc_id * $ChunkKeyBase + (start // ${CurationQueries.ChunkStride}) AS cid,
        toks[(CAST(start AS INT)+1):(CAST(start AS INT)+${CurationQueries.ChunkSize})] AS ctoks
      FROM (SELECT doc_id, toks,
          unnest(range(0, len(toks), ${CurationQueries.ChunkStride})) AS start
        FROM t)),
    sh AS (
      SELECT cid, unnest(list_distinct(list_transform(
        range(0, len(ctoks) - $n + 1),
        i -> array_to_string(ctoks[(CAST(i AS INT)+1):(CAST(i AS INT)+$n)], ' ')))) AS shingle
      FROM c WHERE len(ctoks) >= $n),
    h AS (SELECT cid, ${HashOps.charHashSql("shingle")} AS th FROM sh),
    sig AS (SELECT cid, $minExprs FROM h GROUP BY cid),
    bands AS ($bandSelects),
    cand AS (
      SELECT DISTINCT a.cid AS id_a, b.cid AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.cid < b.cid),
    cpairs AS (
      SELECT id_a, id_b FROM cand
      JOIN sig sa ON sa.cid = id_a
      JOIN sig sb ON sb.cid = id_b
      WHERE floor(1000000 * ($agree) / $k) >= $MinhashMinMicro),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM cpairs
      UNION ALL SELECT id_b, id_a FROM cpairs),
    reach(id, lab) AS (
      SELECT cid, cid FROM c
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
    labs AS (
      SELECT id AS cid, CAST(min(lab) AS BIGINT) AS cluster_id
      FROM reach GROUP BY id)
    SELECT cid // $ChunkKeyBase AS doc_id, cid % $ChunkKeyBase AS chunk_id,
      cluster_id // $ChunkKeyBase AS cluster_doc,
      cluster_id % $ChunkKeyBase AS cluster_chunk,
      cid <> cluster_id AS is_duplicate
    FROM labs ORDER BY doc_id, chunk_id"""
  }

  // --- q152: incremental vocabulary maintenance (delta-only refresh) ---------
  // The q130b maintenance algebra applied to the q140b vocabulary stats:
  // at 100 TB nobody re-tokenizes the corpus to refresh "per-source
  // vocabulary and unique share" after a daily delta — the maintained
  // state is the per-(source, shingle) PRESENCE COUNT (#docs of that
  // source containing the shingle; Heaps-sublinear in corpus size), and
  // a delta updates it additively: removed/changed-old docs subtract
  // their presences, added/changed-new docs add theirs, rows at zero
  // drop out. vocab = rows with count > 0, uniqueness = the cross-source
  // spread of the surviving rows — all O(state + delta), never O(corpus).
  // Snapshot A's state is a STORED fingerprinted artifact
  // (vocab_presence_baseA via StoredRelations.readOrBuild, the q159b
  // pattern — r11 verdict item 2: the transient recompute made the
  // O(state+delta) claim false in the live plan); the ORACLE computes
  // snapshot B's stats FROM SCRATCH, so any error in the merge algebra —
  // a missed pre-image, a double-subtracted changed doc, wrong zero-row
  // handling — breaks the hash. StoredPairsSpec row-compares the
  // artifact against a from-scratch build.
  val VocabPresenceStoreVersion = s"1:carve=inA,n=$ShingleN"

  /** Per-(source, shingle) presence counts of a `(doc_id, source, text)`
    * relation — q152's maintained state shape, shared by the live query,
    * the delta sides, and the spec's from-scratch compare.
    */
  private[graft] def vocabPresences(df: DataFrame): DataFrame =
    // r15 opt: `source` rides the shingle rows as a carry column instead
    // of being joined back on doc_id afterwards — the join was a second
    // scan of `df` plus an exchange of the full shingle relation on
    // doc_id (guide §2.4, remove shuffles outright). Identical rows:
    // doc_id is unique in every caller's `df`, so the join was 1:1.
    DedupOps.shingles(
      df.select(col("doc_id"), col("source"),
        TextOps.tokenize(col("text")).as("toks")),
      ShingleN, carryCols = Seq("source"))
      .groupBy("source", "shingle").agg(count(lit(1)).as("cnt"))

  /** Snapshot A's stored presence state (the q159b stored-artifact
    * pattern) — package-visible so the spec reads the same store.
    */
  private[graft] def vocabPresenceBase(spark: SparkSession, dir: String): DataFrame =
    graft.sources.StoredRelations.readOrBuild(spark, "vocab_presence_baseA",
      Seq(s"$dir/documents.parquet"), VocabPresenceStoreVersion) {
      import CurationQueries.Snapshots
      vocabPresences(Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text"))
        .where(Snapshots.inA))
    }

  def q152IncrementalVocab(spark: SparkSession, dir: String): DataFrame = {
    import CurationQueries.Snapshots
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    def presences(df: DataFrame): DataFrame = vocabPresences(df)
    // r15 opt (guide §2.4): the delta classification used to be four
    // independent join plans (two anti-joins, a changed-ids inner join,
    // two semi-joins back) — Catalyst shares no subtrees across
    // DataFrame references, so each re-scanned and re-filtered the
    // documents table. ONE full-outer join on doc_id classifies every
    // delta doc, persisted so the minus and plus sides read it instead
    // of re-deriving it. Row-identical by case analysis: `removed` =
    // a-side rows with no b row OR a changed text (the old anti ∪ semi),
    // `added` symmetric; `changed` uses the same null-rejecting =!= as
    // the old changedIds filter, so null-text rows classify identically.
    val a = docs.where(Snapshots.inA)
      .select(col("doc_id"), col("source").as("src_a"),
        col("text").as("ta"), lit(true).as("in_a"))
    val b = docs.where(Snapshots.inB)
      .select(col("doc_id"), col("source").as("src_b"),
        Snapshots.textB.as("tb"), lit(true).as("in_b"))
    val j = a.join(b, Seq("doc_id"), "full_outer")
    val changed = col("in_a") && col("in_b") && (col("ta") =!= col("tb"))
    val delta = graft.CacheScope.persist(
      j.where(col("in_a").isNull || col("in_b").isNull || changed)
        .select(col("doc_id"), col("src_a"), col("src_b"),
          col("ta"), col("tb"), col("in_a"), col("in_b"),
          changed.as("chg")))
    val minus = presences(
      delta.where(col("in_a") && (col("in_b").isNull || col("chg")))
        .select(col("doc_id"), col("src_a").as("source"),
          col("ta").as("text")))
    val plus = presences(
      delta.where(col("in_b") && (col("in_a").isNull || col("chg")))
        .select(col("doc_id"), col("src_b").as("source"),
          col("tb").as("text")))
    val state = vocabPresenceBase(spark, dir)
      .select(col("source"), col("shingle"), col("cnt"), lit(0L).as("d"))
      .unionByName(minus.select(col("source"), col("shingle"),
        lit(0L).as("cnt"), (-col("cnt")).as("d")))
      .unionByName(plus.select(col("source"), col("shingle"),
        lit(0L).as("cnt"), col("cnt").as("d")))
      .groupBy("source", "shingle")
      .agg((sum(col("cnt")) + sum(col("d"))).as("cnt"))
      .where(col("cnt") > 0)
    val ss = state.select(col("source"), col("shingle"))
    val spread = ss.groupBy("shingle").agg(count(lit(1)).as("n_sources"))
    ss.join(spread, "shingle")
      .groupBy("source")
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("n_sources") === 1, 1L).otherwise(0L)).as("unique_vocab"))
      .select(col("source"), col("vocab"), col("unique_vocab"),
        expr("(1000 * unique_vocab) div vocab").as("unique_permille"))
      .orderBy("source")
  }

  val q152Sql: String = {
    import CurationQueries.Snapshots
    val n = ShingleN
    s"""WITH bd AS (SELECT doc_id, source, ${Snapshots.textBSql} AS btext
      FROM documents WHERE ${Snapshots.inBSql}),
    tok AS (SELECT doc_id, ${toksSql("btext")} AS toks FROM bd),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
        range(0, len(toks) - $n + 1),
        i -> array_to_string(toks[(CAST(i AS INT)+1):(CAST(i AS INT)+$n)], ' ')))) AS shingle
      FROM tok WHERE len(toks) >= $n),
    ss AS (SELECT DISTINCT bd.source, sh.shingle
      FROM sh JOIN bd ON sh.doc_id = bd.doc_id),
    spread AS (SELECT shingle, CAST(count(*) AS BIGINT) AS n_sources
      FROM ss GROUP BY shingle)
    SELECT ss.source, CAST(count(*) AS BIGINT) AS vocab,
      CAST(sum(CASE WHEN spread.n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS unique_vocab,
      (1000 * CAST(sum(CASE WHEN spread.n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT))
        // CAST(count(*) AS BIGINT) AS unique_permille
    FROM ss JOIN spread ON ss.shingle = spread.shingle
    GROUP BY ss.source ORDER BY ss.source"""
  }

  // --- q154: chunk-tier dedup savings ----------------------------------------
  // q139 reports the doc-tier budget recovery (exact, near); this adds
  // the CHUNK tier — the savings only paragraph-granular dedup can see
  // (two long documents sharing one syndicated section lose nothing at
  // doc granularity, q151 reclaims exactly the duplicated chunks).
  // Tokens here are chunk token counts (the unit q69's packing budget is
  // denominated in); the report is one row: chunks/tokens total, removed
  // (q151's non-canonical members), and the permille recovered.
  def q154ChunkSavings(spark: SparkSession, dir: String): DataFrame = {
    import CurationQueries.{ChunkSize, ChunkStride}
    val chunks = graft.ops.TextAnalysisOps.contextChunks(
      Tables.documents(spark, dir), ChunkSize, ChunkStride)
      .select((col("doc_id") * ChunkKeyBase + col("chunk_id")).as("cid"),
        org.apache.spark.sql.functions.size(col("chunk")).cast("long")
          .as("n_tokens"))
    val labels = q151ChunkClusters(spark, dir)
      .select((col("doc_id") * ChunkKeyBase + col("chunk_id")).as("cid"),
        col("is_duplicate"))
    chunks.join(labels, "cid")
      .agg(count(lit(1)).as("chunks_total"),
        sum(when(col("is_duplicate"), 1L).otherwise(0L)).as("chunks_removed"),
        sum(col("n_tokens")).as("tokens_total"),
        sum(when(col("is_duplicate"), col("n_tokens")).otherwise(0L))
          .as("tokens_removed"))
      .select(col("chunks_total"), col("chunks_removed"),
        col("tokens_total"), col("tokens_removed"),
        when(col("tokens_total") > 0,
          expr("(1000 * tokens_removed) div tokens_total"))
          .as("removed_permille"))
  }

  lazy val q154Sql: String = {
    // the q151 statement nested whole (its ORDER BY is inert inside the
    // subquery); lazy for the same declaration-order reason as q153Sql
    s"""WITH labs AS (
      SELECT doc_id * $ChunkKeyBase + chunk_id AS cid, is_duplicate
      FROM ($q151Sql) x),
    t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
    c AS (SELECT doc_id * $ChunkKeyBase + (start // ${CurationQueries.ChunkStride}) AS cid,
        CAST(len(toks[(CAST(start AS INT)+1):(CAST(start AS INT)+${CurationQueries.ChunkSize})]) AS BIGINT) AS n_tokens
      FROM (SELECT doc_id, toks,
          unnest(range(0, len(toks), ${CurationQueries.ChunkStride})) AS start
        FROM t))
    SELECT CAST(count(*) AS BIGINT) AS chunks_total,
      CAST(sum(CASE WHEN labs.is_duplicate THEN 1 ELSE 0 END) AS BIGINT)
        AS chunks_removed,
      CAST(sum(c.n_tokens) AS BIGINT) AS tokens_total,
      CAST(sum(CASE WHEN labs.is_duplicate THEN c.n_tokens ELSE 0 END) AS BIGINT)
        AS tokens_removed,
      CASE WHEN sum(c.n_tokens) > 0
        THEN (1000 * CAST(sum(CASE WHEN labs.is_duplicate THEN c.n_tokens ELSE 0 END) AS BIGINT))
          // CAST(sum(c.n_tokens) AS BIGINT) END AS removed_permille
    FROM c JOIN labs ON c.cid = labs.cid"""
  }

  // --- q120: integer PageRank over the near-dup graph -----------------------
  // Centrality beyond connectivity: q55 tells you WHICH docs form a
  // duplication component, PageRank tells you which doc is the
  // component's HUB (the template everything copies) — the
  // authority-based canonical-selection signal, complementing q84's
  // quality-based retention. Restated in EXACT INTEGER arithmetic so a
  // fixed iteration count is bit-reproducible AND oracle-portable:
  //   r_0(v)   = 1e6
  //   r_k+1(v) = 150000 + (85 · Σ_{u~v} (r_k(u) div deg(u))) div 100
  // (floor-divisions at both steps; no dangling redistribution — an
  // isolated doc settles at the 150000 base, a documented variant that
  // keeps every operation integral). The oracle replays the SAME eight
  // iterations as chained CTEs — no recursion, no float — so every
  // intermediate floor must agree. Scale shape: one edge-keyed join +
  // dst-keyed aggregate per iteration over the (tiny) near-dup edge
  // relation; iterations localCheckpoint like the q55 contraction so
  // lineage stays flat.
  val PageRankIters = 8

  def q120PageRank(spark: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.documents(spark, dir).select(col("doc_id"))
    val p = jpairs(spark, dir).select(col("id_a"), col("id_b"))
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(p.select(col("id_b").as("src"), col("id_a").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // the q55 checkpoint lifecycle: eager localCheckpoint truncates the
    // iterated lineage, each superseded round's blocks are freed
    // immediately, and the FINAL round's checkpoint is released at the
    // query boundary (CacheLifecycleSpec's no-surviving-persist gate)
    var rank = graft.CacheScope.checkpoint(nodes.withColumn("r", lit(1000000L)))
    for (_ <- 1 to PageRankIters) {
      val contrib = edges
        .join(rank.withColumnRenamed("doc_id", "src"), "src")
        .join(deg, "src")
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("m"))
      val next = graft.CacheScope.checkpoint(nodes
        .join(contrib.withColumnRenamed("dst", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          expr("150000 + (85 * coalesce(m, 0)) div 100").as("r")))
      graft.CacheScope.dropCheckpoint(rank)
      rank = next
    }
    rank
      .join(deg.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("r").as("rank_micro"),
        coalesce(col("deg"), lit(0L)).as("degree"))
      .orderBy("doc_id")
  }

  val q120Sql: String = {
    val iters = (1 to PageRankIters).map { k =>
      s"""r$k AS (SELECT n.doc_id,
        150000 + (85 * coalesce(s.m, 0)) // 100 AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst, CAST(SUM(p.r // d.deg) AS BIGINT) AS m
        FROM edges e
        JOIN r${k - 1} p ON p.doc_id = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst) s ON s.dst = n.doc_id)"""
    }.mkString(",\n    ")
    s"""WITH $shingleCte,
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    jp AS (
      SELECT id_a, id_b FROM common c
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
      WHERE floor(1000000 * c.common / (sa.sz + sb.sz - c.common)) >= $JaccardMinMicro),
    nodes AS (SELECT doc_id FROM documents),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM jp
      UNION ALL SELECT id_b, id_a FROM jp),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM nodes),
    $iters
    SELECT n.doc_id, CAST(r$PageRankIters.r AS BIGINT) AS rank_micro,
      CAST(coalesce(d.deg, 0) AS BIGINT) AS degree
    FROM nodes n
    JOIN r$PageRankIters ON r$PageRankIters.doc_id = n.doc_id
    LEFT JOIN deg d ON d.src = n.doc_id
    ORDER BY n.doc_id"""
  }

  // --- q112: duplicate-cluster size histogram -------------------------------
  // The dedup dashboard's shape number: how duplicate mass distributes
  // over component sizes (a corpus whose duplicates sit in a few huge
  // clusters needs boilerplate/template removal; many small clusters
  // point at genuine near-copies). Two tiny aggregations over the
  // memoized q55 cluster relation — per-cluster size, then per-size
  // cluster and doc counts; the singleton row doubles as the
  // unique-document count.
  def q112ClusterSizeHistogram(spark: SparkSession, dir: String): DataFrame =
    dupLabels(spark, dir)
      .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        (col("cluster_size") * count(lit(1))).as("n_docs"))
      .orderBy("cluster_size")

  val q112Sql: String =
    s"""WITH RECURSIVE $shingleCte,
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    jp AS (
      SELECT id_a, id_b FROM common c
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
      WHERE floor(1000000 * c.common / (sa.sz + sb.sz - c.common)) >= $JaccardMinMicro),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM jp
      UNION ALL SELECT id_b, id_a FROM jp),
    reach(id, lab) AS (
      SELECT doc_id, doc_id FROM tok
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
    cl AS (SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id),
    cs AS (SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY cluster_id)
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
      count(*) AS n_clusters,
      CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    FROM cs GROUP BY cluster_size ORDER BY cluster_size"""

  // --- q105: cluster-aware leakage-safe split -----------------------------
  // q51 splits by per-doc content hash, which keeps EXACT duplicates
  // together but lets near-duplicates straddle train/test — the classic
  // eval-contamination leak (a paraphrase of a training doc lands in the
  // held-out split and inflates the score; q53's decontamination is the
  // retroactive repair, this is the preventive one). Here the split unit
  // is the whole near-dup connected component (q55's relation): every doc
  // is assigned by the hash of its CLUSTER REPRESENTATIVE's text (the
  // min-id member), so a component can never straddle splits — leakage is
  // zero by construction, not by audit. Assignment stays content-keyed
  // (stable under re-ingestion) rather than cluster-id-keyed (ids shift
  // when docs are added).
  //
  // Scale shape: the cluster relation is q55's memoized label propagation;
  // the representative-hash join is one id-keyed shuffle of (doc_id,
  // cluster_id) against (doc_id, h) — both narrow; the roll-up is a
  // two-phase aggregate onto 3 rows. The oracle recomputes the closure
  // with the recursive CTE and must agree on every count.
  def q105ClusterSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cl = dupLabels(spark, dir)
    val canon = docs.select(col("doc_id").as("cluster_id"),
      HashOps.charHash(col("text")).as("h"))
    cl.join(canon, "cluster_id")
      .select(col("cluster_id"),
        when(col("h") % 10 < 8, "train")
          .when(col("h") % 10 === 8, "val")
          .otherwise("test").as("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"))
      .orderBy("split")
  }

  val q105Sql: String =
    s"""WITH RECURSIVE $shingleCte,
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    jp AS (
      SELECT id_a, id_b FROM common c
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
      WHERE floor(1000000 * c.common / (sa.sz + sb.sz - c.common)) >= $JaccardMinMicro),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM jp
      UNION ALL SELECT id_b, id_a FROM jp),
    reach(id, lab) AS (
      SELECT doc_id, doc_id FROM tok
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
    cl AS (SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id),
    canon AS (
      SELECT doc_id AS cluster_id, ${HashOps.charHashSql("text")} AS h
      FROM documents),
    s AS (
      SELECT c.cluster_id,
        CASE WHEN h % 10 < 8 THEN 'train'
             WHEN h % 10 = 8 THEN 'val'
             ELSE 'test' END AS split
      FROM cl c JOIN canon USING (cluster_id))
    SELECT split, count(*) AS n_docs,
      count(DISTINCT cluster_id) AS n_clusters
    FROM s GROUP BY split ORDER BY split"""

  // --- q85: per-source dedup-rate report -----------------------------------
  // The duplication dashboard a corpus pipeline watches per refresh: for
  // each source, how many docs are exact duplicates (q24's relation) and
  // how many participate in any near-dup pair (q25's relation). A source
  // whose rates jump signals a scraping/ingest regression. Shares the
  // memoized pairs; the exact stage is one content-keyed shuffle; the
  // roll-up is one aggregate keyed by source.
  def q85DedupReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "source")
    val exact = DedupOps.exactDuplicates(Tables.documents(spark, dir))
      .select(col("doc_id"), col("is_duplicate"))
    val p = jpairs(spark, dir)
    val members = p.select(col("id_a").as("doc_id"))
      .union(p.select(col("id_b").as("doc_id")))
      .distinct().withColumn("near", lit(1))
    docs.join(exact, "doc_id")
      .join(members, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("is_duplicate"), 1)).as("n_exact_dups"),
        count(col("near")).as("n_near_members"))
      .orderBy("source")
  }

  val q85Sql: String =
    s"""WITH $shingleCte,
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    jp AS (
      SELECT id_a, id_b FROM common c
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
      WHERE floor(1000000 * c.common / (sa.sz + sb.sz - c.common)) >= $JaccardMinMicro),
    members AS (
      SELECT DISTINCT doc_id FROM (
        SELECT id_a AS doc_id FROM jp UNION ALL SELECT id_b FROM jp)),
    g AS (SELECT doc_id, source,
      doc_id <> min(doc_id) OVER (PARTITION BY ${HashOps.contentKeySql("text")})
        AS is_dup
      FROM documents)
    SELECT g.source, count(*) AS n_docs,
      CAST(count(CASE WHEN g.is_dup THEN 1 END) AS BIGINT)
        AS n_exact_dups,
      CAST(count(m.doc_id) AS BIGINT) AS n_near_members
    FROM g
    LEFT JOIN members m ON g.doc_id = m.doc_id
    GROUP BY g.source ORDER BY g.source"""

  // --- q84: quality-aware cluster retention --------------------------------
  // q50b/q55 keep each near-dup cluster's MIN-ID doc; real fuzzy-dedup
  // pipelines keep the BEST doc (RefinedWeb keeps the longest/cleanest).
  // Same clusters, retention re-ranked by an integer quality signal
  // (distinct-token count — the TTR numerator), ties to the smaller id so
  // the choice stays total. One quality projection + one per-cluster
  // window; the oracle recomputes the closure with its recursive CTE and
  // must agree on every keep/drop decision.
  def q84ClusterBest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = dupLabels(spark, dir)
    val quality = tokenized(spark, dir)
      .select(col("doc_id"),
        size(array_distinct(col("toks"))).cast("long").as("quality"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality").desc, col("doc_id").asc)
    clusters.join(quality, "doc_id")
      .withColumn("kept", row_number().over(w) === 1)
      .select(col("doc_id"), col("cluster_id"), col("quality"), col("kept"))
      .orderBy("doc_id")
  }

  val q84Sql: String =
    s"""WITH RECURSIVE $shingleCte,
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    jpairs AS (
      SELECT id_a, id_b FROM common c
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
      WHERE floor(1000000 * c.common / (sa.sz + sb.sz - c.common)) >= $JaccardMinMicro),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM jpairs
      UNION ALL SELECT id_b, id_a FROM jpairs),
    reach(id, lab) AS (
      SELECT doc_id, doc_id FROM tok
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
    cl AS (SELECT id AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id
      FROM reach GROUP BY id),
    q AS (SELECT doc_id, CAST(len(list_distinct(toks)) AS BIGINT) AS quality
      FROM tok),
    r AS (SELECT cl.doc_id, cl.cluster_id, q.quality,
        row_number() OVER (PARTITION BY cl.cluster_id
          ORDER BY q.quality DESC, cl.doc_id ASC) AS rk
      FROM cl JOIN q USING (doc_id))
    SELECT doc_id, cluster_id, quality, rk = 1 AS kept
    FROM r ORDER BY doc_id"""

  // --- q61: duplicated-span stripping (ExactSubstr-style sub-document
  // dedup, Lee et al. 2022) — every 10-token span occurring >1 time in
  // the corpus is removed from every doc that carries it ------------------
  val SpanN = 10

  def q61StripSpans(spark: SparkSession, dir: String): DataFrame =
    DedupOps.stripDuplicatedSpans(Tables.documents(spark, dir), SpanN)
      .orderBy("doc_id")

  val q61Sql: String = {
    val n = SpanN
    s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
    sh AS (
      SELECT doc_id,
        unnest(range(0, len(toks) - $n + 1)) AS pos,
        unnest(list_transform(range(0, len(toks) - $n + 1),
          i -> array_to_string(toks[(CAST(i AS INT)+1):(CAST(i AS INT)+$n)], ' '))) AS shingle
      FROM t),
    dup AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 1),
    cov AS (SELECT s.doc_id, list_sort(list(s.pos)) AS starts
      FROM sh s JOIN dup d ON s.shingle = d.shingle GROUP BY s.doc_id),
    r AS (SELECT t.doc_id, t.toks, coalesce(c.starts, []) AS starts
      FROM t LEFT JOIN cov c ON t.doc_id = c.doc_id),
    k AS (SELECT doc_id, toks,
      list_filter(range(0, len(toks)), i ->
        len(list_filter(starts, s -> i >= s AND i <= s + ${n - 1})) = 0) AS kept
      FROM r)
    SELECT doc_id,
      CAST(len(toks) AS BIGINT) AS n_tokens,
      CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
      coalesce(array_to_string(list_transform(kept, i -> toks[CAST(i AS INT)+1]), ' '), '') AS text_dedup
    FROM k ORDER BY doc_id"""
  }

  // --- q61b: variable-length exact-substring profile ----------------------
  // ExactSubstr's length-thresholded semantics (the paper removes only
  // duplicated substrings >= 50 tokens) recovered from q61's single n=10
  // pass: each merged cover interval is a MAXIMAL duplicated region, so
  // its length is the variable span length and thresholding is a per-row
  // filter. Tier 10 reproduces q61's removal exactly (so q61b's removal
  // surface is a superset of q61's by construction); the rebuilt text
  // strips only spans >= 20 — the precision dial that keeps naturally
  // recurring short phrases while still killing wholesale duplication.
  // The oracle reaches the same intervals relationally: covered tokens ->
  // gaps-and-islands (lag + running sum) -> per-run lengths.
  val SpanTiers = Seq(10, 20, 50)
  val SpanTextTier = 20

  def q61bVariableSpans(spark: SparkSession, dir: String): DataFrame =
    DedupOps.variableSpanProfile(
      Tables.documents(spark, dir), SpanN, SpanTiers, SpanTextTier)
      .orderBy("doc_id")

  // --- q61c: true suffix-array ExactSubstr on a bounded sample ------------
  // The published algorithm itself (suffix array + LCP per partition
  // group over a hash sample), closing the precision gap q61b's merged
  // covers over-approximate: a cover can chain different duplicated
  // shingles, so its maximal region can exceed the longest truly
  // duplicated run. Rows-only (a suffix array has no SQL twin); the
  // agreement contract with q61/q61b's relational cover is unit-gated in
  // SuffixArraySpec, including a brute-force golden for the statistic.
  def q61cExactSubstr(spark: SparkSession, dir: String): DataFrame =
    graft.ops.SuffixArrayOps.exactSubstrProfile(
      Tables.documents(spark, dir), sampleMod = 2, parts = 8)
      .orderBy("doc_id")

  val q61bSql: String = {
    val n = SpanN
    val tierSelects = SpanTiers.map(t =>
      s"CAST(coalesce(sum(CASE WHEN rl >= $t THEN rl END), 0) AS BIGINT) AS removed_ge$t")
      .mkString(",\n        ")
    s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
    sh AS (
      SELECT doc_id,
        unnest(range(0, len(toks) - $n + 1)) AS pos,
        unnest(list_transform(range(0, len(toks) - $n + 1),
          i -> array_to_string(toks[(CAST(i AS INT)+1):(CAST(i AS INT)+$n)], ' '))) AS shingle
      FROM t),
    dup AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 1),
    cov AS (SELECT s.doc_id, list_sort(list(s.pos)) AS starts
      FROM sh s JOIN dup d ON s.shingle = d.shingle GROUP BY s.doc_id),
    r AS (SELECT t.doc_id, t.toks, coalesce(c.starts, []) AS starts
      FROM t LEFT JOIN cov c ON t.doc_id = c.doc_id),
    ct AS (
      SELECT doc_id, i FROM (
        SELECT doc_id, unnest(range(0, len(toks))) AS i, starts FROM r)
      WHERE len(list_filter(starts, s -> i >= s AND i <= s + ${n - 1})) > 0),
    isl AS (SELECT doc_id, i,
        CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) = 1
             THEN 0 ELSE 1 END AS brk
      FROM ct),
    grp AS (SELECT doc_id, i,
        sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS g
      FROM isl),
    runs AS (SELECT doc_id, g, count(*) AS rl FROM grp GROUP BY doc_id, g),
    prof AS (SELECT doc_id,
        CAST(count(*) AS BIGINT) AS n_spans,
        CAST(max(rl) AS BIGINT) AS max_span_len,
        $tierSelects
      FROM runs GROUP BY doc_id),
    remtok AS (SELECT grp.doc_id, list(grp.i) AS removed
      FROM grp JOIN runs USING (doc_id, g)
      WHERE runs.rl >= $SpanTextTier GROUP BY grp.doc_id),
    k AS (SELECT r.doc_id, r.toks, coalesce(m.removed, []) AS removed
      FROM r LEFT JOIN remtok m USING (doc_id))
    SELECT k.doc_id,
      CAST(len(k.toks) AS BIGINT) AS n_tokens,
      coalesce(p.n_spans, 0) AS n_spans,
      coalesce(p.max_span_len, 0) AS max_span_len,
      ${SpanTiers.map(t => s"coalesce(p.removed_ge$t, 0) AS removed_ge$t").mkString(",\n      ")},
      coalesce(array_to_string(list_transform(
        list_filter(range(0, len(k.toks)), i -> NOT list_contains(k.removed, i)),
        i -> k.toks[CAST(i AS INT)+1]), ' '), '') AS text_dedup_ge$SpanTextTier
    FROM k LEFT JOIN prof p USING (doc_id)
    ORDER BY k.doc_id"""
  }

  // --- q127: KMV cross-source overlap matrix ------------------------------
  // See DedupOps.sourceOverlapKmv: bottom-k (K-minimum-values) sketches
  // over 3-token shingle sets, the distinct-value synopsis that — unlike
  // q17b's HLL — composes under INTERSECTION, giving every source pair's
  // Jaccard from one corpus pass + sketch-sized merges. The oracle is the
  // exact set formulation; it hash-matches because KmvCapacity bounds
  // every pair union at sf0.01 (sketch-then-exact, q99's pattern).
  val KmvShingleN = 3

  def q127KmvOverlap(spark: SparkSession, dir: String): DataFrame =
    DedupOps.sourceOverlapKmv(
      Tables.documents(spark, dir), KmvShingleN, DedupOps.KmvCapacity)
      .orderBy("src_a", "src_b")

  val q127Sql: String =
    s"""WITH t AS (SELECT source, ${toksSql("text")} AS toks FROM documents),
    s AS (SELECT source, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      FROM (SELECT source, toks, unnest(range(1, len(toks) - 1)) AS i FROM t)),
    d AS (SELECT DISTINCT source, sh FROM s),
    sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY source),
    p AS (SELECT a.source AS src_a, b.source AS src_b, a.n AS n_a, b.n AS n_b
      FROM sz a JOIN sz b ON a.source < b.source),
    m AS (SELECT p.src_a, p.src_b, p.n_a, p.n_b, d.sh,
        max(CASE WHEN d.source = p.src_a THEN 1 ELSE 0 END) AS ia,
        max(CASE WHEN d.source = p.src_b THEN 1 ELSE 0 END) AS ib
      FROM p JOIN d ON d.source IN (p.src_a, p.src_b)
      GROUP BY 1, 2, 3, 4, 5),
    agg AS (SELECT src_a, src_b, n_a, n_b,
        CAST(count(*) AS BIGINT) AS k_used,
        CAST(sum(ia * ib) AS BIGINT) AS n_inter
      FROM m GROUP BY 1, 2, 3, 4)
    SELECT src_a, src_b, n_a, n_b, k_used, n_inter,
      (1000000 * n_inter) // k_used AS jaccard_micro
    FROM agg ORDER BY src_a, src_b"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q127_kmv_overlap" -> (q127KmvOverlap _),
    "q61_strip_spans" -> (q61StripSpans _),
    "q61b_variable_spans" -> (q61bVariableSpans _),
    "q61c_exact_substr" -> (q61cExactSubstr _),
    "q24_exact_dup" -> (q24ExactDup _),
    "q180_stream_exact_dedup" -> (q180StreamExactDedup _),
    "q189_stream_restart_dedup" -> (q189StreamRestartDedup _),
    "q24b_canonical_dup" -> (q24bCanonicalDup _),
    "q25_ngram_jaccard" -> (q25NgramJaccard _),
    "q73_leakage_audit" -> (q73LeakageAudit _),
    "q74_containment" -> (q74Containment _),
    "q78_boilerplate" -> (q78Boilerplate _),
    "q80_incremental_dedup" -> (q80IncrementalDedup _),
    "q84_cluster_best" -> (q84ClusterBest _),
    "q85_dedup_report" -> (q85DedupReport _),
    "q26_minhash_lsh" -> (q26MinhashLsh _),
    // q26b (MLlib MinHashLSH probe) is deliberately NOT registered: it is
    // a redundancy check of the portable q26 path, proven by the unit
    // agreement test (DedupSimilaritySpec "MLlib MinHashLSH finds the
    // same..."), and as a registered rows-only query it was the single
    // worst cold-bench row (58.6 s of a 453 s round-8 cold total, 13% of
    // the budget re-proving an already-proven property every round).
    // q26bMinhashMllib below stays callable as library surface.
    "q26c_edit_distance" -> (q26cEditDistance _),
    "q27_simhash" -> (q27Simhash _),
    "q53_decontaminate" -> (q53Decontaminate _),
    "q53b_decontaminate_bloom" -> (q53bDecontaminateBloom _),
    "q55_dup_clusters" -> (q55DupClusters _),
    "q55b_dup_clusters_star" -> (q55bDupClustersStar _),
    "q55c_incremental_clusters" -> (q55cIncrementalClusters _),
    "q184_cluster_balanced_sample" -> (q184ClusterBalancedSample _),
    "q159b_incremental_canonical" -> (q159bIncrementalCanonical _),
    "q163_cluster_cohesion" -> (q163ClusterCohesion _),
    "q166_tier_consistency" -> (q166TierConsistency _),
    "q105_cluster_split" -> (q105ClusterSplit _),
    "q112_cluster_size_histogram" -> (q112ClusterSizeHistogram _),
    "q120_pagerank" -> (q120PageRank _),
    "q120b_triangles" -> (q120bTriangles _),
    "q128_chunk_near_dup" -> (q128ChunkNearDup _),
    "q139_dedup_savings" -> (q139DedupSavings _),
    "q140_vocab_growth" -> (q140VocabGrowth _),
    "q140b_source_vocab" -> (q140bSourceVocab _),
    "q141_source_overlap" -> (q141SourceOverlap _),
    "q144_lsh_confusion" -> (q144LshConfusion _),
    "q148_cross_source_pairs" -> (q148CrossSourcePairs _),
    "q151_chunk_clusters" -> (q151ChunkClusters _),
    "q152_incremental_vocab" -> (q152IncrementalVocab _),
    "q154_chunk_savings" -> (q154ChunkSavings _))

  val oracleSql: Map[String, String] = Map(
    "q127_kmv_overlap" -> q127Sql,
    "q120b_triangles" -> q120bSql,
    "q61_strip_spans" -> q61Sql,
    "q61b_variable_spans" -> q61bSql,
    "q24_exact_dup" -> q24Sql,
    "q180_stream_exact_dedup" -> q180Sql,
    "q189_stream_restart_dedup" -> q180Sql,
    "q24b_canonical_dup" -> q24bSql,
    "q25_ngram_jaccard" -> q25Sql,
    "q73_leakage_audit" -> q73Sql,
    "q74_containment" -> q74Sql,
    "q78_boilerplate" -> q78Sql,
    "q80_incremental_dedup" -> q80Sql,
    "q84_cluster_best" -> q84Sql,
    "q85_dedup_report" -> q85Sql,
    "q26_minhash_lsh" -> q26Sql,
    "q26c_edit_distance" -> q26cSql,
    "q27_simhash" -> q27Sql,
    "q53_decontaminate" -> q53Sql,
    "q53b_decontaminate_bloom" -> q53Sql,
    "q55_dup_clusters" -> q55Sql,
    "q55b_dup_clusters_star" -> q55Sql,
    "q55c_incremental_clusters" -> q55Sql,
    "q184_cluster_balanced_sample" -> q184Sql,
    "q159b_incremental_canonical" -> q159bSql,
    "q163_cluster_cohesion" -> q163Sql,
    "q166_tier_consistency" -> q166Sql,
    "q105_cluster_split" -> q105Sql,
    "q112_cluster_size_histogram" -> q112Sql,
    "q120_pagerank" -> q120Sql,
    "q128_chunk_near_dup" -> q128Sql,
    "q139_dedup_savings" -> q139Sql,
    "q140_vocab_growth" -> q140Sql,
    "q140b_source_vocab" -> q140bSql,
    "q141_source_overlap" -> q141Sql,
    "q144_lsh_confusion" -> q144Sql,
    "q148_cross_source_pairs" -> q148Sql,
    "q151_chunk_clusters" -> q151Sql,
    "q152_incremental_vocab" -> q152Sql,
    "q154_chunk_savings" -> q154Sql)
}
