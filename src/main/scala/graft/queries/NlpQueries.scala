package graft.queries

import graft.Tables
import graft.ops.{MetricOps, SummarizeOps, TagOps, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-verified queries for the reference-parity NLP surface
  * (SURVEY.md §2.2-2.5) plus their DuckDB oracle SQL.
  *
  * Oracle-parity rules used throughout (see SURVEY.md §7.3):
  *   - every query ends in a total ORDER BY so row order is deterministic;
  *   - no floating-point aggregation: scores are integer-scaled, ratios are
  *     single IEEE divisions (bit-identical across engines);
  *   - integer outputs are cast to LONG to match DuckDB's BIGINT.
  */
object NlpQueries {

  // oracle fragments (tokenize / preprocess / clean-token twins) are the
  // shared SqlDefs ones — single source, no hand-maintained duplicates
  import SqlDefs._

  // --- q01: preprocess + tokenize (P1-P8) ------------------------------
  def q01CleanTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.preprocess(col("text")).as("cleaned_text"))
      .select(col("doc_id"), col("cleaned_text"),
        TextOps.cleanTokens(col("cleaned_text")).as("toks"))
      .select(col("doc_id"), col("cleaned_text"),
        array_join(col("toks"), " ").as("processed_text"),
        size(col("toks")).cast("long").as("n_tokens"))
      .orderBy("doc_id")

  val q01Sql: String = {
    val pre = preprocessSql("text")
    s"""SELECT doc_id, $pre AS cleaned_text,
       array_to_string(${cleanToksSql(pre)}, ' ') AS processed_text,
       len(${cleanToksSql(pre)}) AS n_tokens
       FROM documents ORDER BY doc_id"""
  }

  // --- q01b: head-N preview (P14, nlp_data_tagging.py:496) --------------
  private val PreviewLen = 120

  def q01bPreview(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextOps.preview(col("text"), PreviewLen).as("preview"))
      .orderBy("doc_id")

  val q01bSql: String =
    s"""SELECT doc_id,
      CASE WHEN length(text) > $PreviewLen
           THEN substr(text, 1, $PreviewLen) || '...'
           ELSE text END AS preview
    FROM documents ORDER BY doc_id"""

  // --- q02: sentence split (P9) ----------------------------------------
  // The fixture corpus has no punctuation, so we first materialize sentence
  // boundaries by replacing the standalone word "the" with "." — a
  // deterministic transform both engines express identically — then apply the
  // reference split ([.!?]+, trim, keep length > 10).
  def q02Sentences(spark: SparkSession, dir: String): DataFrame = {
    val punctuated = Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_replace(col("text"), "\\bthe\\b", ".").as("text"))
    SummarizeOps.sentences(punctuated).orderBy("doc_id", "sentence_id")
  }

  /** Shared oracle CTE chain: punctuated docs (standalone "the" → ".") and
    * their reference-split sentence relation `(doc_id, sentence_id,
    * sentence)` — the base of q02/q03b/q03c.
    */
  // private[queries]: q176's sentence-packing oracle reuses the exact
  // same punctuated-sentence relation, so the two cannot drift apart
  private[queries] val punctSentsCte: String =
    raw"""pdocs AS (
      SELECT doc_id, regexp_replace(coalesce(text, ''), '\bthe\b', '.', 'g') AS text
      FROM documents),
    psplit AS (
      SELECT doc_id, generate_subscripts(parts, 1) AS pos, unnest(parts) AS s
      FROM (SELECT doc_id, string_split_regex(text, '[.!?]+') AS parts FROM pdocs)),
    pkept AS (
      SELECT doc_id, pos, trim(s) AS sentence FROM psplit WHERE length(trim(s)) > 10),
    psents AS (
      SELECT doc_id,
        CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS BIGINT) AS sentence_id,
        sentence
      FROM pkept)"""

  val q02Sql: String =
    raw"""WITH $punctSentsCte
    SELECT doc_id, sentence_id, sentence
    FROM psents ORDER BY doc_id, sentence_id"""

  // --- q03: extractive summarization slice (P9→A1→A2→T1 + P10) ---------
  private val ChunkWords = 8
  private val TopK = 2
  private val TruncLen = 100

  /** One MATERIALIZED summary relation per (application, fixture dir):
    * q03/q04/q05/q09/q09b/q09c (and the q09 sink round-trips) all consume
    * the same summary relation. Building it is one narrow pass (the
    * per-row summary kernel over 8-word chunks), but recomputing it per
    * query still costs ~0.4-1.1 s warm each at sf0.1 on 4 cores (q03 0.20
    * → 1.28 s, q04 0.75 → 1.38 s, q09b 0.15 → 0.63 s without the memo), so
    * the memo stays (lifecycle in [[Memo]]). The relation is one narrow
    * row per doc (id + summary text).
    */
  private val summaryDf = Memo.frame((spark, d) =>
    SummarizeOps.summarize(Tables.documents(spark, d),
        SummarizeOps.chunkArray(col("text"), ChunkWords), TopK, " ", "")
      .select("doc_id", "n_sentences", "summary"))

  def q03Summary(spark: SparkSession, dir: String): DataFrame =
    summaryDf(spark, dir)
      .select(col("doc_id"), col("n_sentences"), col("summary"),
        TextOps.truncateAtWordBoundary(col("summary"), TruncLen).as("summary_trunc"))
      .orderBy("doc_id")

  /** Shared oracle CTE chain producing (doc_id, n_sentences, summary). */
  private val summaryCte: String =
    raw"""toks AS (
      SELECT doc_id, text, ${toksSql("text")} AS w FROM documents),
    chunk_ids AS (
      SELECT doc_id, w, unnest(range(0, CAST(floor((len(w) - 1) / $ChunkWords) AS BIGINT) + 1)) AS sid
      FROM toks WHERE len(w) > 0),
    chunks AS (
      SELECT doc_id, sid AS sentence_id,
        array_to_string(w[(sid*$ChunkWords+1):(sid*$ChunkWords+$ChunkWords)], ' ') AS sentence
      FROM chunk_ids),
    terms AS (
      SELECT doc_id, sentence_id, unnest(${cleanToksSql("sentence")}) AS term FROM chunks),
    tf AS (
      SELECT doc_id, sentence_id, term, count(*) AS tf FROM terms GROUP BY doc_id, sentence_id, term),
    dfreq AS (
      SELECT doc_id, term, count(*) AS df FROM tf GROUP BY doc_id, term),
    ns AS (
      SELECT doc_id, count(*) AS n_sent FROM chunks GROUP BY doc_id),
    scores AS (
      SELECT c.doc_id, c.sentence_id, c.sentence, coalesce(s.score, 0) AS score
      FROM chunks c LEFT JOIN (
        SELECT tf.doc_id, tf.sentence_id,
          SUM(tf.tf * CAST(floor(1000000.0 * ns.n_sent / dfreq.df) AS BIGINT)) AS score
        FROM tf
        JOIN dfreq ON tf.doc_id = dfreq.doc_id AND tf.term = dfreq.term
        JOIN ns ON tf.doc_id = ns.doc_id
        GROUP BY tf.doc_id, tf.sentence_id) s
      ON c.doc_id = s.doc_id AND c.sentence_id = s.sentence_id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, sentence_id ASC) AS rk
      FROM scores),
    summ AS (
      SELECT doc_id, string_agg(sentence, ' ' ORDER BY sentence_id) AS picked_summary
      FROM ranked WHERE rk <= $TopK GROUP BY doc_id),
    summary_rel AS (
      SELECT d.doc_id, coalesce(n.n_sent, 0) AS n_sentences,
        CASE WHEN coalesce(n.n_sent, 0) <= $TopK THEN d.text ELSE s.picked_summary END AS summary
      FROM documents d
      LEFT JOIN ns n ON d.doc_id = n.doc_id
      LEFT JOIN summ s ON d.doc_id = s.doc_id)"""

  val q03Sql: String =
    raw"""WITH $summaryCte
    SELECT doc_id, n_sentences, summary,
      CASE WHEN length(summary) > $TruncLen
           THEN regexp_replace(substr(summary, 1, $TruncLen), ' [^ ]*$$', '') || '...'
           ELSE summary END AS summary_trunc
    FROM summary_rel ORDER BY doc_id"""

  // --- q03b: the reference-faithful composed summary (P9→A1→A2→T1→P10) --
  // The flagship q03 scores word-chunk pseudo-sentences because the fixture
  // corpus has no punctuation; this variant runs the literal reference
  // composition (nlp_data_tagging.py:86-130) end-to-end over the q02
  // punctuated relation: sentence split → TF-IDF score → top-k by score,
  // emit by position, '. '-joined with a terminal '.' → word-boundary
  // truncate, with k = max(1, maxLength / 20).
  private val RefMaxLen = 50
  private val RefTopK = SummarizeOps.targetSentences(RefMaxLen)

  def q03bSummaryPunct(spark: SparkSession, dir: String): DataFrame = {
    val punctuated = Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_replace(coalesce(col("text"), lit("")), "\\bthe\\b", ".").as("text"))
    SummarizeOps.summarize(punctuated,
        SummarizeOps.sentenceArray(col("text")), RefTopK, ". ", ".")
      .select(col("doc_id"), col("n_sentences"), col("summary"),
        TextOps.truncateAtWordBoundary(col("summary"), RefMaxLen).as("summary_trunc"))
      .orderBy("doc_id")
  }

  val q03bSql: String =
    raw"""WITH $punctSentsCte,
    pterms AS (
      SELECT doc_id, sentence_id, unnest(${cleanToksSql("sentence")}) AS term FROM psents),
    ptf AS (
      SELECT doc_id, sentence_id, term, count(*) AS tf FROM pterms GROUP BY doc_id, sentence_id, term),
    pdf AS (
      SELECT doc_id, term, count(*) AS df FROM ptf GROUP BY doc_id, term),
    pns AS (
      SELECT doc_id, count(*) AS n_sent FROM psents GROUP BY doc_id),
    pscores AS (
      SELECT c.doc_id, c.sentence_id, c.sentence, coalesce(s.score, 0) AS score
      FROM psents c LEFT JOIN (
        SELECT ptf.doc_id, ptf.sentence_id,
          SUM(ptf.tf * CAST(floor(1000000.0 * pns.n_sent / pdf.df) AS BIGINT)) AS score
        FROM ptf
        JOIN pdf ON ptf.doc_id = pdf.doc_id AND ptf.term = pdf.term
        JOIN pns ON ptf.doc_id = pns.doc_id
        GROUP BY ptf.doc_id, ptf.sentence_id) s
      ON c.doc_id = s.doc_id AND c.sentence_id = s.sentence_id),
    pranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, sentence_id ASC) AS rk
      FROM pscores),
    psumm AS (
      SELECT doc_id, string_agg(sentence, '. ' ORDER BY sentence_id) || '.' AS picked_summary
      FROM pranked WHERE rk <= $RefTopK GROUP BY doc_id),
    psummary_rel AS (
      SELECT d.doc_id, coalesce(n.n_sent, 0) AS n_sentences,
        CASE WHEN coalesce(n.n_sent, 0) <= $RefTopK THEN d.text ELSE s.picked_summary END AS summary
      FROM pdocs d
      LEFT JOIN pns n ON d.doc_id = n.doc_id
      LEFT JOIN psumm s ON d.doc_id = s.doc_id)
    SELECT doc_id, n_sentences, summary,
      CASE WHEN length(summary) > $RefMaxLen
           THEN regexp_replace(substr(summary, 1, $RefMaxLen), ' [^ ]*$$', '') || '...'
           ELSE summary END AS summary_trunc
    FROM psummary_rel ORDER BY doc_id"""

  // --- q03c: the reference's fallback summary (T6) -----------------------
  // nlp_data_tagging.py:108-116 — first / middle / last sentence joined in
  // document order; sentences matching several positions appear once.
  def q03cFallbackSummary(spark: SparkSession, dir: String): DataFrame =
    SummarizeOps.fallbackSummary(q02Sentences(spark, dir)).orderBy("doc_id")

  val q03cSql: String =
    raw"""WITH $punctSentsCte,
    pns AS (SELECT doc_id, count(*) AS n_sent FROM psents GROUP BY doc_id),
    picked AS (
      SELECT s.doc_id, s.sentence_id, s.sentence
      FROM psents s JOIN pns n ON s.doc_id = n.doc_id
      WHERE s.sentence_id = 0
         OR s.sentence_id = floor(n.n_sent / 2)
         OR s.sentence_id = n.n_sent - 1)
    SELECT doc_id,
      string_agg(sentence, '. ' ORDER BY sentence_id) || '.' AS summary
    FROM picked GROUP BY doc_id ORDER BY doc_id"""

  // --- q03d: sklearn-parity TF-IDF sentence scores (A1 variant) ----------
  // TfidfVectorizer-default semantics (smooth ln idf + L2 row norm,
  // nlp_data_tagging.py:95-99). The registered query runs the FIXED-POINT
  // formulation (idf quantized to exact integer micro-units before any
  // sum, one float division at the end) so it carries a DuckDB oracle and
  // hash-verifies — where the float fold was rows-only by necessity. The
  // float variant (scoreSentencesSklearn, reference-literal numbers)
  // stays in the library, locked by golden values in SummarizeOpsSpec;
  // the two agree to < 1e-6 relative.
  def q03dSklearnScores(spark: SparkSession, dir: String): DataFrame =
    SummarizeOps.scoreSentencesSklearnFixed(q02Sentences(spark, dir))
      .select(col("doc_id"), col("sentence_id"), col("score"))
      .orderBy("doc_id", "sentence_id")

  val q03dSql: String =
    raw"""WITH $punctSentsCte,
    dterms AS (
      SELECT doc_id, sentence_id, unnest(${cleanToksSql("sentence")}) AS term FROM psents),
    dtf AS (
      SELECT doc_id, sentence_id, term, count(*) AS tf FROM dterms GROUP BY doc_id, sentence_id, term),
    ddf AS (
      SELECT doc_id, term, count(*) AS df FROM dtf GROUP BY doc_id, term),
    dns AS (
      SELECT doc_id, count(*) AS n_sent FROM psents GROUP BY doc_id),
    dlut AS (
      SELECT ${SummarizeOps.LnTableSql} AS l),
    dw AS (
      SELECT dtf.doc_id, dtf.sentence_id,
        CAST(dtf.tf * CAST(floor(1000000.0 * (list_extract(dlut.l, dns.n_sent + 1) - list_extract(dlut.l, ddf.df + 1) + 1.0)) AS BIGINT) AS HUGEINT) AS w
      FROM dtf
      JOIN ddf ON dtf.doc_id = ddf.doc_id AND dtf.term = ddf.term
      JOIN dns ON dtf.doc_id = dns.doc_id
      CROSS JOIN dlut),
    dscore AS (
      SELECT doc_id, sentence_id,
        CAST(SUM(w) AS DOUBLE) / sqrt(CAST(SUM(w * w) AS DOUBLE)) AS score
      FROM dw GROUP BY doc_id, sentence_id)
    SELECT p.doc_id, p.sentence_id, coalesce(s.score, 0.0) AS score
    FROM psents p
    LEFT JOIN dscore s ON p.doc_id = s.doc_id AND p.sentence_id = s.sentence_id
    ORDER BY p.doc_id, p.sentence_id"""

  // --- q04: per-document summary metrics (J1, A10, A11, P11) -----------
  def q04SummaryMetrics(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val joined = docs.join(summaryDf(spark, dir).select("doc_id", "summary"), Seq("doc_id"))
    MetricOps.summaryMetrics(joined, "text", "summary").orderBy("doc_id")
  }

  val q04Sql: String =
    raw"""WITH $summaryCte,
    m AS (
      SELECT d.doc_id, d.text, s.summary,
        list_distinct(${toksSql("lower(d.text)")}) AS ow,
        list_distinct(${toksSql("lower(s.summary)")}) AS sw
      FROM documents d JOIN summary_rel s ON d.doc_id = s.doc_id)
    SELECT doc_id,
      CAST(length(text) AS BIGINT) AS text_length,
      CAST(length(summary) AS BIGINT) AS summary_length,
      CASE WHEN length(text) > 0 THEN CAST(length(summary) AS DOUBLE) / length(text) ELSE 0.0 END AS compression_ratio,
      CASE WHEN len(ow) > 0 THEN CAST(len(list_filter(ow, t -> list_contains(sw, t))) AS DOUBLE) / len(ow) ELSE 0.0 END AS word_overlap,
      CASE WHEN len(string_split_regex(summary, '[.!?]+')) > 0
           THEN CAST(len(${toksSql("summary")}) AS DOUBLE) / len(string_split_regex(summary, '[.!?]+'))
           ELSE 0.0 END AS avg_sentence_length
    FROM m ORDER BY doc_id"""

  // --- q05: corpus aggregate stats (A9, A13) ---------------------------
  def q05CorpusStats(spark: SparkSession, dir: String): DataFrame =
    MetricOps.corpusStats(q04SummaryMetrics(spark, dir))

  val q05Sql: String =
    raw"""WITH $summaryCte,
    m AS (
      SELECT d.doc_id, length(d.text) AS tl, length(s.summary) AS sl,
        CASE WHEN length(d.text) > 0 THEN CAST(length(s.summary) AS DOUBLE) / length(d.text) ELSE 0.0 END AS cr
      FROM documents d JOIN summary_rel s ON d.doc_id = s.doc_id)
    SELECT count(*) AS n_docs,
      CAST(sum(tl) AS BIGINT) AS total_text_chars,
      CAST(sum(sl) AS BIGINT) AS total_summary_chars,
      CAST(sum(tl) AS DOUBLE) / count(*) AS avg_text_length,
      CAST(sum(sl) AS DOUBLE) / count(*) AS avg_summary_length,
      CAST(sum(CAST(floor(cr * 1e9) AS BIGINT)) AS DOUBLE) / (count(*) * 1e9) AS avg_compression_ratio
    FROM m"""

  // --- q06: fallback TF tags (A7, T4) -----------------------------------
  def q06FallbackTags(spark: SparkSession, dir: String): DataFrame =
    TagOps.fallbackTags(Tables.documents(spark, dir), 5)
      .orderBy("doc_id", "tag_rank")

  /** Oracle CTE: one (doc_id, tag) row per unigram/bigram occurrence. */
  private val tagTermsCte: String =
    raw"""ct AS (
      SELECT doc_id, ${cleanToksSql("text")} AS ctoks FROM documents),
    tag_terms AS (
      SELECT doc_id, unnest(list_concat(ctoks,
        list_transform(range(1, len(ctoks)), i -> ctoks[CAST(i AS INT)] || ' ' || ctoks[CAST(i AS INT) + 1]))) AS tag
      FROM ct),
    tag_counts AS (
      SELECT doc_id, tag, count(*) AS tag_count FROM tag_terms GROUP BY doc_id, tag),
    tag_ranked AS (
      SELECT doc_id, tag, tag_count,
        CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tag_count DESC, tag ASC) AS BIGINT) AS tag_rank
      FROM tag_counts)"""

  val q06Sql: String =
    raw"""WITH $tagTermsCte
    SELECT doc_id, tag_rank, tag, tag_count FROM tag_ranked
    WHERE tag_rank <= 5 ORDER BY doc_id, tag_rank"""

  // --- q07: global tag frequency top-10 (A8, T5) ------------------------
  def q07TagFrequency(spark: SparkSession, dir: String): DataFrame =
    TagOps.tagFrequency(q06FallbackTags(spark, dir).select("tag"), 10)

  val q07Sql: String =
    raw"""WITH $tagTermsCte
    SELECT tag, count(*) AS tag_count FROM tag_ranked WHERE tag_rank <= 5
    GROUP BY tag ORDER BY tag_count DESC, tag ASC LIMIT 10"""

  // --- q08: tag diversity (J2, A12) --------------------------------------
  def q08TagDiversity(spark: SparkSession, dir: String): DataFrame =
    TagOps.diversity(q06FallbackTags(spark, dir).select("tag"))

  val q08Sql: String =
    raw"""WITH $tagTermsCte
    SELECT count(DISTINCT tag) AS unique_tags, count(*) AS total_tags,
      CAST(count(DISTINCT tag) AS DOUBLE) / count(*) AS diversity
    FROM tag_ranked WHERE tag_rank <= 5"""

  // --- q09: the reference's export table (S4/S5 sink shape) --------------
  // Filename, Summary, Tags, Original_Length, Summary_Length,
  // Compression_Ratio (nlp_data_tagging.py:514-526), with `source` standing
  // in for filename and fallback TF tags (the oracle-expressible tag path).
  def q09Export(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tagStr = TagOps.fallbackTags(docs, 5)
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("tag_rank"), col("tag")))),
        t => t.getField("tag")), ", ").as("tags"))
    docs.select(col("doc_id"), col("source"), col("text"))
      .join(summaryDf(spark, dir).select("doc_id", "summary"), Seq("doc_id"))
      .join(tagStr, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("summary"),
        coalesce(col("tags"), lit("")).as("tags"),
        length(col("text")).cast("long").as("original_length"),
        length(col("summary")).cast("long").as("summary_length"),
        when(length(col("text")) > 0,
          length(col("summary")).cast("double") / length(col("text")))
          .otherwise(0.0).as("compression_ratio"))
      .orderBy("doc_id")
  }

  val q09Sql: String =
    raw"""WITH $summaryCte,
    $tagTermsCte,
    tag_str AS (
      SELECT doc_id, string_agg(tag, ', ' ORDER BY tag_rank) AS tags
      FROM tag_ranked WHERE tag_rank <= 5 GROUP BY doc_id)
    SELECT d.doc_id, d.source, s.summary, coalesce(t.tags, '') AS tags,
      CAST(length(d.text) AS BIGINT) AS original_length,
      CAST(length(s.summary) AS BIGINT) AS summary_length,
      CASE WHEN length(d.text) > 0
           THEN CAST(length(s.summary) AS DOUBLE) / length(d.text)
           ELSE 0.0 END AS compression_ratio
    FROM documents d
    JOIN summary_rel s ON d.doc_id = s.doc_id
    LEFT JOIN tag_str t ON d.doc_id = t.doc_id
    ORDER BY d.doc_id"""

  // --- q09b: wordcloud-input aggregate (§2.9) -----------------------------
  // The reference feeds its wordcloud `' '.join(summaries)`
  // (nlp_data_tagging.py:334). Deterministic doc_id order so the single-row
  // result is hash-comparable.
  def q09bWordcloud(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DocumentSources.corpusText(
      summaryDf(spark, dir).select("doc_id", "summary"))

  val q09bSql: String =
    raw"""WITH $summaryCte
    SELECT string_agg(summary, ' ' ORDER BY doc_id) AS corpus_text,
      count(*) AS n_docs
    FROM summary_rel"""

  // --- q09c: CSV sink round-trip (S4) -------------------------------------
  // Writes the export relation through the header'd CSV sink and reads it
  // back with an explicit schema; the oracle is q09's — a green row proves
  // the sink round-trips values (quoting, longs, IEEE doubles) losslessly.
  def q09cCsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    // fixed per-query path + overwrite sink: re-invocations (Bench runs
    // each query twice per round) rewrite in place instead of
    // accumulating a fresh temp directory per call
    val tmp = graft.Scratch.dir("q09c_csv")
    graft.sources.DocumentSources.writeCsv(q09Export(spark, dir), tmp)
    graft.sources.DocumentSources.readCsv(spark, tmp, ExportSchemaDdl)
      .orderBy("doc_id")
  }

  /** Explicit read-back schema of the q09 export relation — shared by
    * every sink round-trip (q09c CSV, q66 JSONL, q96 ORC, q96b Avro) so
    * the four format twins are guaranteed to be comparing the same
    * relation under the same oracle.
    */
  private val ExportSchemaDdl: String =
    "doc_id BIGINT, source STRING, summary STRING, tags STRING, " +
      "original_length BIGINT, summary_length BIGINT, compression_ratio DOUBLE"

  // --- q66: JSONL sink round-trip -----------------------------------------
  // Same contract as q09c but through the JSON-lines sink (the LLM-corpus
  // interchange format): a green row proves strings (quoting/escapes),
  // longs, and IEEE doubles survive the text hop bit-exactly.
  def q66JsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    // fixed per-query path + overwrite sink, as q09c
    val tmp = graft.Scratch.dir("q66_jsonl")
    graft.sources.DocumentSources.writeJsonl(q09Export(spark, dir), tmp)
    graft.sources.DocumentSources.readJsonl(spark, tmp, ExportSchemaDdl)
      .orderBy("doc_id")
  }

  // --- q66b: gzip-compressed JSONL round-trip -----------------------------
  // Real corpora arrive COMPRESSED (CommonCrawl WET/WARC derivatives ship
  // as .gz). Same contract as q66 through Spark's codec layer: the sink
  // writes one .json.gz per partition, the read decodes transparently. The
  // scale caveat this query documents: gzip streams are NOT splittable, so
  // read parallelism equals the FILE count, not the byte count — the sink
  // side already holds the fix (one file per task; a 100 TB corpus written
  // by 10^5 tasks reads back 10^5-way), and a single giant .gz would
  // serialize on one core. Oracle is q09's SQL over the read-back relation.
  def q66bJsonlGzip(spark: SparkSession, dir: String): DataFrame = {
    // fixed per-query path + overwrite sink, as q09c
    val tmp = graft.Scratch.dir("q66b_gzip")
    q09Export(spark, dir).write.mode("overwrite")
      .option("compression", "gzip").json(tmp)
    spark.read.schema(ExportSchemaDdl).json(tmp).orderBy("doc_id")
  }

  // --- q96/q96b: ORC and Avro round-trips (lake-format breadth) -----------
  // Real corpora arrive in more formats than parquet/CSV/JSONL. q96 runs
  // the same contract through Spark's native ORC source (binary columnar —
  // doubles survive without a text formatter); q96b through the engine's
  // own Avro container IO (sources/AvroIo — this build carries no
  // spark-avro DataSource, so the container format is implemented on the
  // Avro core library directly: per-partition imperative write, binaryFile
  // scan + per-file decode read). Both read back under the shared explicit
  // schema and verify against q09's oracle — DuckDB compares the read-back
  // RELATION, so the oracle is format-agnostic by construction.
  def q96OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("q96_orc")
    q09Export(spark, dir).write.mode("overwrite").orc(tmp)
    spark.read.schema(ExportSchemaDdl).orc(tmp).orderBy("doc_id")
  }

  def q96bAvroRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("q96b_avro")
    graft.sources.AvroIo.write(q09Export(spark, dir), tmp)
    graft.sources.AvroIo.read(spark, tmp,
      org.apache.spark.sql.types.StructType.fromDDL(ExportSchemaDdl))
      .orderBy("doc_id")
  }

  // --- q91: partitioned parquet sink round-trip (the 100 TB layout) -------
  // q09c/q66 prove the text sinks; this proves the SCALE sink — parquet
  // partitioned by source, the layout that makes downstream partition
  // pruning free. The read-back aggregates per source, so a green row
  // proves values survive AND the partition column reconstructs exactly
  // from directory names (type/escaping round-trip — a real failure
  // class); DocumentSourcesSpec asserts the pruning plan itself
  // (PartitionFilters, not a post-scan Filter).
  def q91PartitionedSink(spark: SparkSession, dir: String): DataFrame = {
    // fixed per-query path + overwrite sink, as q09c
    val tmp = graft.Scratch.dir("q91_parts")
    graft.sources.DocumentSources.writePartitioned(
      Tables.documents(spark, dir), tmp, Seq("source"))
    spark.read.parquet(tmp)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy("source")
  }

  val q91Sql: String =
    """SELECT source, count(*) AS n_docs,
      CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      CAST(min(doc_id) AS BIGINT) AS first_doc,
      CAST(max(doc_id) AS BIGINT) AS last_doc,
      CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM documents GROUP BY source ORDER BY source"""

  // --- q94: corrupt-record quarantine on ingest ----------------------------
  // Production ingest never assumes clean input: every doc_id % 7 == 0 row
  // is written as a deliberately TRUNCATED JSON line, the read declares
  // an explicit schema + PERMISSIVE mode with a _corrupt_record column,
  // and the query reports the quarantine split per source. Corrupt rows
  // parse no fields, so they bucket under '_corrupt' with no doc_id —
  // the oracle recomputes the whole split from the doc_id rule the
  // corruption was synthesized from. A parser that silently dropped (or
  // wrongly accepted) a line breaks the row counts.
  def q94CorruptQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("q94_jsonl") // fixed path + overwrite, as q09c
    Tables.documents(spark, dir)
      .select(when(col("doc_id") % 7 === 0,
        concat(lit("{\"doc_id\": "), col("doc_id"), lit(", \"text\": \"broken")))
        .otherwise(to_json(struct(col("doc_id"), col("source"), col("text"))))
        .as("value"))
      .write.mode("overwrite").text(tmp)
    spark.read
      .schema("doc_id BIGINT, source STRING, text STRING, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(tmp)
      // bucket and min/max key off _corrupt_record, not off which fields
      // happened to parse: partial-results JSON parsing
      // (spark.sql.json.enablePartialResults, default on) may retain
      // leading fields such as doc_id for some malformation classes, so
      // the '_corrupt' bucket and its -1 sentinels are enforced by the
      // query, not by parser behavior
      .groupBy(when(col("_corrupt_record").isNotNull, lit("_corrupt"))
        .otherwise(col("source")).as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(min(when(col("_corrupt_record").isNull, col("doc_id"))),
          lit(-1L)).as("first_doc"),
        coalesce(max(when(col("_corrupt_record").isNull, col("doc_id"))),
          lit(-1L)).as("last_doc"))
      .orderBy("bucket")
  }

  val q94Sql: String =
    """SELECT CASE WHEN doc_id % 7 = 0 THEN '_corrupt' ELSE source END AS bucket,
      count(*) AS n_rows,
      CAST(coalesce(min(CASE WHEN doc_id % 7 <> 0 THEN doc_id END), -1)
        AS BIGINT) AS first_doc,
      CAST(coalesce(max(CASE WHEN doc_id % 7 <> 0 THEN doc_id END), -1)
        AS BIGINT) AS last_doc
    FROM documents GROUP BY 1 ORDER BY bucket"""

  // --- q95: schema-evolution merge across batches ---------------------------
  // The lake reality q91's single-schema layout skips: batch 1 was written
  // before the lang column existed, batch 2 carries it. mergeSchema reads
  // the union schema, early rows surface NULL lang, and the query audits
  // exactly that — per batch, how many rows lack the late column. The
  // oracle recomputes from `documents` + the doc_id carving rule.
  def q95SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("q95_evolve")
    val docs = Tables.documents(spark, dir)
    docs.where(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$tmp/batch=1")
    docs.where(col("doc_id") % 2 =!= 0)
      .select(col("doc_id"), col("text"), col("lang"))
      .write.mode("overwrite").parquet(s"$tmp/batch=2")
    spark.read.option("mergeSchema", "true").parquet(tmp)
      .groupBy(col("batch").cast("long").as("batch"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("lang")).as("n_with_lang"),
        (count(lit(1)) - count(col("lang"))).as("n_missing_lang"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy("batch")
  }

  val q95Sql: String =
    """SELECT CAST(1 + doc_id % 2 AS BIGINT) AS batch,
      count(*) AS n_rows,
      count(CASE WHEN doc_id % 2 <> 0 THEN lang END) AS n_with_lang,
      count(*) - count(CASE WHEN doc_id % 2 <> 0 THEN lang END) AS n_missing_lang,
      count(DISTINCT CASE WHEN doc_id % 2 <> 0 THEN lang END) AS n_langs
    FROM documents GROUP BY 1 ORDER BY batch"""

  // --- q101: Unicode NFC normalization (native expression, §2.8) ----------
  // Canonical composition before any hashing/dedup (C4/CCNet practice):
  // composed and decomposed spellings of the same text must become ONE
  // string. The engine side is the codegen'd NfcNormalize expression
  // (staged ASCII/already-NFC fast paths — see its scaladoc); DuckDB's
  // nfc_normalize is the oracle twin (both implement Unicode canonical
  // composition, agreement unit-tested on decomposed/astral inputs —
  // the hash check proves the whole column byte-identical). `changed`
  // audits how much of the corpus actually needed recomposition.
  def q101NfcNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        graft.functions.NfcNormalize.nfcNormalize(col("text")).as("text_nfc"))
      .select(col("doc_id"), col("text_nfc"),
        (col("text") =!= col("text_nfc")).as("changed"))
      .orderBy("doc_id")

  val q101Sql: String =
    """SELECT doc_id, nfc_normalize(text) AS text_nfc,
      text <> nfc_normalize(text) AS changed
    FROM documents ORDER BY doc_id"""

  // --- q101b: accent folding (native expression, §2.8) --------------------
  // The destructive sibling of q101: NFD → drop combining marks → NFC, so
  // "café"/"cafe" collapse for search keys, fuzzy dedup, and n-gram
  // language profiles. Non-decomposable letters (đ, ł, ø, ß) stay — this
  // is accent folding, not transliteration, which is exactly utf8proc's
  // STRIPMARK rule: DuckDB's strip_accents is the oracle twin
  // (cross-engine agreement unit-tested on accented/astral/Hangul
  // goldens; the fixture column hash-verifies end to end).
  def q101bStripAccents(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        graft.functions.StripAccents.stripAccents(col("text")).as("text_folded"))
      .select(col("doc_id"), col("text_folded"),
        (col("text") =!= col("text_folded")).as("changed"))
      .orderBy("doc_id")

  val q101bSql: String =
    """SELECT doc_id, strip_accents(text) AS text_folded,
      text <> strip_accents(text) AS changed
    FROM documents ORDER BY doc_id"""

  // --- q101c: invisible-character scrub ------------------------------------
  // The normalization tier's third member (q101 composes, q101b folds,
  // this REMOVES — see TextAnalysisOps.scrubInvisible): zero-width
  // codepoints are spam's classic blocklist evasion and silently split
  // tokens and dedup keys. The fixture is ASCII, so the hazard is
  // SYNTHESIZED (q110's contract): every doc_id % 3 == 0 text gets a
  // ZWSP+ZWJ pair spliced in after the fifth character plus a trailing
  // soft hyphen; the scrub must restore the original byte-for-byte —
  // both engines derive contamination AND scrub independently.
  def q101cScrubInvisible(spark: SparkSession, dir: String): DataFrame = {
    val contaminated = when(col("doc_id") % 3 === 0,
      concat(substring(col("text"), 1, 5), lit("\u200B\u200D"),
        expr("substring(text, 6)"), lit("\u00AD")))
      .otherwise(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), contaminated.as("dirty"))
      .select(col("doc_id"),
        graft.ops.TextAnalysisOps.scrubInvisible(col("dirty")).as("clean"),
        (col("dirty") =!= col("text")).as("was_dirty"),
        length(col("dirty")).cast("long").as("dirty_len"),
        (graft.ops.TextAnalysisOps.scrubInvisible(col("dirty")) === col("text"))
          .as("restored"))
      .orderBy("doc_id")
  }

  val q101cSql: String =
    s"""WITH d AS (SELECT doc_id, text,
      CASE WHEN doc_id % 3 = 0 THEN
        substring(text, 1, 5) || chr(8203) || chr(8205) ||
        substring(text, 6) || chr(173)
      ELSE text END AS dirty
      FROM documents)
    SELECT doc_id,
      regexp_replace(dirty, '${graft.ops.TextAnalysisOps.InvisibleClass}',
        '', 'g') AS clean,
      dirty <> text AS was_dirty,
      CAST(length(dirty) AS BIGINT) AS dirty_len,
      regexp_replace(dirty, '${graft.ops.TextAnalysisOps.InvisibleClass}',
        '', 'g') = text AS restored
    FROM d ORDER BY doc_id"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q91_partitioned_sink" -> (q91PartitionedSink _),
    "q94_corrupt_quarantine" -> (q94CorruptQuarantine _),
    "q95_schema_evolution" -> (q95SchemaEvolution _),
    "q09_export" -> (q09Export _),
    "q09b_wordcloud" -> (q09bWordcloud _),
    "q09c_csv_roundtrip" -> (q09cCsvRoundtrip _),
    "q66_jsonl_roundtrip" -> (q66JsonlRoundtrip _),
    "q66b_jsonl_gzip" -> (q66bJsonlGzip _),
    "q96_orc_roundtrip" -> (q96OrcRoundtrip _),
    "q96b_avro_roundtrip" -> (q96bAvroRoundtrip _),
    "q01_clean_tokens" -> (q01CleanTokens _),
    "q01b_preview" -> (q01bPreview _),
    "q02_sentences" -> (q02Sentences _),
    "q03_summary" -> (q03Summary _),
    "q03b_summary_punct" -> (q03bSummaryPunct _),
    "q03c_fallback_summary" -> (q03cFallbackSummary _),
    "q03d_sklearn_scores" -> (q03dSklearnScores _),
    "q04_summary_metrics" -> (q04SummaryMetrics _),
    "q05_corpus_stats" -> (q05CorpusStats _),
    "q06_fallback_tags" -> (q06FallbackTags _),
    "q07_tag_frequency" -> (q07TagFrequency _),
    "q08_tag_diversity" -> (q08TagDiversity _),
    "q101_nfc_normalize" -> (q101NfcNormalize _),
    "q101b_strip_accents" -> (q101bStripAccents _),
    "q101c_scrub_invisible" -> (q101cScrubInvisible _))

  val oracleSql: Map[String, String] = Map(
    "q91_partitioned_sink" -> q91Sql,
    "q94_corrupt_quarantine" -> q94Sql,
    "q95_schema_evolution" -> q95Sql,
    "q09_export" -> q09Sql,
    "q09b_wordcloud" -> q09bSql,
    "q09c_csv_roundtrip" -> q09Sql,
    "q66_jsonl_roundtrip" -> q09Sql,
    "q66b_jsonl_gzip" -> q09Sql,
    "q96_orc_roundtrip" -> q09Sql,
    "q96b_avro_roundtrip" -> q09Sql,
    "q01_clean_tokens" -> q01Sql,
    "q01b_preview" -> q01bSql,
    "q02_sentences" -> q02Sql,
    "q03_summary" -> q03Sql,
    "q03b_summary_punct" -> q03bSql,
    "q03c_fallback_summary" -> q03cSql,
    "q03d_sklearn_scores" -> q03dSql,
    "q04_summary_metrics" -> q04Sql,
    "q05_corpus_stats" -> q05Sql,
    "q06_fallback_tags" -> q06Sql,
    "q07_tag_frequency" -> q07Sql,
    "q08_tag_diversity" -> q08Sql,
    "q101_nfc_normalize" -> q101Sql,
    "q101b_strip_accents" -> q101bSql,
    "q101c_scrub_invisible" -> q101cSql)
}
