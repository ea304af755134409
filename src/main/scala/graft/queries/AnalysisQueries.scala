package graft.queries

import graft.Tables
import graft.ops.{HashOps, TextAnalysisOps, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis query surface (builder-prompt extension): language ID,
  * quality scoring, token counting, document fingerprinting. All narrow
  * per-row pipelines over `documents` — the shapes a pretraining-corpus
  * filter pass runs at 100 TB (zero shuffles except final aggregates).
  */
object AnalysisQueries {

  import SqlDefs._

  // --- shared oracle fragments (q20/q21/q67) -----------------------------
  // ONE generator for the per-language score expressions + argmax CASE and
  // one copy of each quality-ratio expression: q67 reuses all of them, and
  // a second hand-maintained copy is exactly the engine/oracle desync
  // class the q63 term-folding fix closed.

  /** (score_<lang> select expressions, argmax CASE — ties to profile
    * order, mirroring predLang's reversed fold).
    */
  private val (langScoreExprsSql, predLangSql): (String, String) = {
    val scoreExprs = TextAnalysisOps.LangProfiles.map { case (lang, words) =>
      val lst = words.mkString("['", "', '", "']")
      s"len(list_filter(toks, t -> list_contains($lst, t))) AS score_$lang"
    }.mkString(",\n      ")
    val langs = TextAnalysisOps.LangProfiles.map(_._1)
    val m = langs.map(l => s"score_$l").mkString("greatest(", ", ", ")")
    val pred = langs.map(l => s"WHEN score_$l = $m THEN '$l'")
      .mkString("CASE ", " ", " END")
    (scoreExprs, pred)
  }

  private val typeTokenRatioSql: String =
    "CASE WHEN len(toks) > 0 THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) ELSE 0.0 END"
  private val stopwordRatioSql: String =
    s"CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains($stopSql, lower(t)))) AS DOUBLE) / len(toks) ELSE 0.0 END"
  private val nonAlnumRatioSql: String =
    "CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END"

  // --- q20: language-ID scores + argmax prediction -----------------------
  def q20LangId(spark: SparkSession, dir: String): DataFrame = {
    val toked = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), TextOps.tokenize(col("text")).as("toks"))
    val scores = TextAnalysisOps.langScores(col("toks"))
    val scored = toked.select(
      (Seq(col("doc_id"), col("lang")) ++
        scores.map { case (l, c) => c.as(s"score_$l") }): _*)
    scored
      .withColumn("pred_lang", TextAnalysisOps.predLang(
        TextAnalysisOps.LangProfiles.map { case (l, _) => l -> col(s"score_$l") }))
      .orderBy("doc_id")
  }

  val q20Sql: String = {
    val langs = TextAnalysisOps.LangProfiles.map(_._1)
    s"""WITH t AS (SELECT doc_id, lang, ${toksSql("text")} AS toks FROM documents),
    s AS (SELECT doc_id, lang,
      $langScoreExprsSql
      FROM t)
    SELECT doc_id, lang, ${langs.map(l => s"score_$l").mkString(", ")},
      $predLangSql AS pred_lang
    FROM s ORDER BY doc_id"""
  }

  // --- q168: hashed-n-gram language classifier (production tier) ----------
  // q20's profile scorer matches 10 whole words per language; this is the
  // fastText-class shape a 100 TB pipeline actually deploys (machinery in
  // TextAnalysisOps.langFeatures/langWeightRows): every token contributes
  // its word + boundary-marked char trigrams, hashed into 4096 buckets,
  // scored by a broadcast weight RELATION (model-as-data, the q65
  // argument), label = per-language-sum argmax, q20's tie rule. The
  // weight table is derived from the same public profile lists, embedded
  // verbatim in the oracle's VALUES — all-integer scoring, hash-exact.
  // Scale shape: one token explode + one feature explode (narrow), one
  // broadcast join, one doc-keyed aggregate — scan-bound like q65.
  private val langCodes = TextAnalysisOps.LangProfiles.map(_._1)

  /** The per-doc hashed-classifier scores — shared by q168, the q168b
    * confusion roll-up, and q170's per-snapshot sides.
    */
  private def hashedLangScores(spark: SparkSession, dir: String): DataFrame =
    hashedLangScoresOf(spark, Tables.documents(spark, dir))

  private def hashedLangScoresOf(spark: SparkSession,
                                 docs: DataFrame): DataFrame = {
    import spark.implicits._
    val weights = spark.createDataset(TextAnalysisOps.langWeightRows)
      .toDF("bucket", "wlang", "weight")
    val feats = docs
      .select(col("doc_id"), explode(TextOps.tokenize(col("text"))).as("tok"))
      .select(col("doc_id"), lower(col("tok")).as("ltok"))
      .select(col("doc_id"), col("ltok"),
        concat(lit("<"), col("ltok"), lit(">")).as("p"))
      .select(col("doc_id"),
        explode(TextAnalysisOps.langFeatures(col("ltok"), col("p"))).as("f"))
      .select(col("doc_id"),
        (graft.ops.HashOps.charHash(col("f")) %
          TextAnalysisOps.ClassifierBuckets).as("bucket"))
    val sums = langCodes.map(l =>
      sum(when(col("wlang") === l, col("weight")).otherwise(0L))
        .as(s"score_$l"))
    val scored = feats
      .join(broadcast(weights), Seq("bucket"), "left")
      .groupBy("doc_id")
      .agg(sums.head, sums.tail: _*)
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id") +:
        langCodes.map(l => coalesce(col(s"score_$l"), lit(0L))
          .as(s"score_$l")): _*)
      .withColumn("pred_lang", TextAnalysisOps.predLang(
        langCodes.map(l => l -> col(s"score_$l"))))
  }

  def q168LangIdHashed(spark: SparkSession, dir: String): DataFrame =
    hashedLangScores(spark, dir).orderBy("doc_id")

  /** The weight relation as an oracle VALUES CTE (named `w`), generated
    * from the SAME Scala constant the engine broadcasts, so both engines
    * score the identical model.
    */
  private val hashedLangWeightsCte: String = {
    val values = TextAnalysisOps.langWeightRows
      .map { case (b, l, w) => s"($b, '$l', $w)" }.mkString(", ")
    s"w (bucket, wlang, weight) AS (VALUES $values)"
  }

  /** One side's oracle chain over a `(doc_id, text)` relation `src`:
    * defines `${p}_res(doc_id, score_<lang>...)`. Prefixed so q170 can
    * instantiate it once per snapshot in one statement.
    */
  private def hashedLangSideCtes(p: String, src: String): String = {
    val scoreSums = langCodes.map(l =>
      s"CAST(sum(CASE WHEN wlang = '$l' THEN weight ELSE 0 END) AS BIGINT) AS score_$l")
      .mkString(",\n        ")
    val coalesced = langCodes.map(l =>
      s"coalesce(score_$l, 0) AS score_$l").mkString(", ")
    s"""${p}_tok AS (SELECT doc_id, unnest(${toksSql("text")}) AS tok FROM $src),
    ${p}_pad AS (SELECT doc_id, lower(tok) AS ltok,
      '<' || lower(tok) || '>' AS p FROM ${p}_tok),
    ${p}_f AS (SELECT doc_id, unnest(list_concat([ltok],
      CASE WHEN length(p) >= 3
        THEN list_transform(range(1, length(p) - 1),
          i -> substr(p, CAST(i AS INT), 3))
        ELSE [] END)) AS f FROM ${p}_pad),
    ${p}_b AS (SELECT doc_id,
      ${graft.ops.HashOps.charHashSql("f")} % ${TextAnalysisOps.ClassifierBuckets}
        AS bucket FROM ${p}_f),
    ${p}_s AS (SELECT doc_id,
        $scoreSums
      FROM ${p}_b LEFT JOIN w USING (bucket) GROUP BY doc_id),
    ${p}_res AS (SELECT d.doc_id, $coalesced
      FROM $src d LEFT JOIN ${p}_s ON d.doc_id = ${p}_s.doc_id)"""
  }

  /** Oracle CTE chain shared by q168/q168b: final relation `hl`. */
  private val hashedLangCtes: String =
    s"""$hashedLangWeightsCte,
    ${hashedLangSideCtes("hl0", "documents")},
    hl AS (SELECT * FROM hl0_res)"""

  val q168Sql: String =
    s"""WITH $hashedLangCtes
    SELECT doc_id, ${langCodes.map(l => s"score_$l").mkString(", ")},
      $predLangSql AS pred_lang
    FROM hl ORDER BY doc_id"""

  // --- q168b: hashed-vs-profile confusion table ---------------------------
  // The promotion evidence for q168: per (profile label, hashed label)
  // cell, how many fixture docs land there — the agreement diagonal and
  // every off-diagonal disagreement, joined doc-by-doc from the two
  // already-defined per-doc relations. Both sides integer-exact, so the
  // confusion table itself hash-verifies.
  def q168bLangIdConfusion(spark: SparkSession, dir: String): DataFrame = {
    val profile = q20LangId(spark, dir)
      .select(col("doc_id"), col("pred_lang").as("profile_lang"))
    hashedLangScores(spark, dir)
      .select(col("doc_id"), col("pred_lang").as("hashed_lang"))
      .join(profile, "doc_id")
      .groupBy("profile_lang", "hashed_lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("profile_lang", "hashed_lang")
  }

  val q168bSql: String =
    s"""WITH $hashedLangCtes,
    hashed AS (SELECT doc_id, $predLangSql AS hashed_lang FROM hl),
    pt AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
    ps AS (SELECT doc_id, $langScoreExprsSql FROM pt),
    prof AS (SELECT doc_id, $predLangSql AS profile_lang FROM ps)
    SELECT p.profile_lang, h.hashed_lang, count(*) AS n_docs
    FROM prof p JOIN hashed h ON p.doc_id = h.doc_id
    GROUP BY p.profile_lang, h.hashed_lang
    ORDER BY p.profile_lang, h.hashed_lang"""

  // --- q170: language-mix drift between snapshots --------------------------
  // The composition monitor a multilingual crawl pipeline runs per
  // refresh: the hashed classifier (q168) labels snapshot A and
  // snapshot B (the same carve every snapshot-delta query uses), and
  // the report is per predicted language: doc counts, integer-permille
  // corpus shares, and the SIGNED share drift — the number that says
  // "this refresh shifted the corpus toward X". Since r13 the reference
  // side is a StoredRelations artifact (the q172b pattern): snapshot A
  // is classified once, its L-row label counts stored, and the live
  // path classifies ONLY snapshot B — O(B + L), with the from-scratch
  // twin row-compared in DriftDqSpec and the oracle recomputing both
  // sides so a stale artifact breaks the hash. Everything integer, so
  // the drift hash-verifies.
  /** Snapshot A's stored per-language label counts `(pred_lang, n_a)` —
    * the q172b stored-reference pattern applied to the composition
    * monitor (r12 verdict item 5): the reference mix is classified once
    * and stored, so the live path classifies ONLY snapshot B.
    */
  private[graft] def langMixBaseA(spark: SparkSession,
                                  dir: String): DataFrame =
    graft.sources.StoredRelations.readOrBuild(spark, "langmix_baseA",
      Seq(s"$dir/documents.parquet"),
      s"$MonitorStoreVersion,model=hashedTrigram") {
      import CurationQueries.Snapshots
      hashedLangScoresOf(spark, Tables.documents(spark, dir)
        .where(Snapshots.inA).select(col("doc_id"), col("text")))
        .groupBy("pred_lang").agg(count(lit(1)).as("n_a"))
    }

  /** The drift report from a `(pred_lang, n_a)` reference and a live
    * B-side label relation — shared by the registry path (stored A) and
    * the from-scratch twin, one combine rule for both.
    */
  private def langMixFromCounts(countsA: DataFrame,
                                labelsB: DataFrame): DataFrame = {
    // full outer, coalesce 0: a language present in only one snapshot is
    // the drift case the monitor exists for (the q172b asymmetric-source
    // rule) — the tagged-union groupBy had the same totality
    val counts = countsA.join(
      labelsB.groupBy("pred_lang").agg(count(lit(1)).as("n_b")),
      Seq("pred_lang"), "full")
      .select(col("pred_lang"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val totals = broadcast(counts.agg(
      sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb")))
    val shareA = when(col("ta") > 0,
      expr("(1000 * n_a) DIV ta")).otherwise(lit(0L))
    val shareB = when(col("tb") > 0,
      expr("(1000 * n_b) DIV tb")).otherwise(lit(0L))
    counts.crossJoin(totals)
      .select(col("pred_lang"), col("n_a"), col("n_b"),
        shareA.as("share_a_permille"), shareB.as("share_b_permille"),
        (shareB - shareA).as("drift_permille"))
      .orderBy("pred_lang")
  }

  def q170LangMixDrift(spark: SparkSession, dir: String): DataFrame = {
    import CurationQueries.Snapshots
    langMixFromCounts(langMixBaseA(spark, dir),
      hashedLangScoresOf(spark, Tables.documents(spark, dir)
        .where(Snapshots.inB)
        .select(col("doc_id"), Snapshots.textB.as("text"))))
  }

  /** From-scratch twin of [[q170LangMixDrift]] (both sides classified
    * live) — row-compared in DriftDqSpec; not a registry entry.
    */
  private[graft] def langMixScratch(spark: SparkSession,
                                    dir: String): DataFrame = {
    import CurationQueries.Snapshots
    val docs = Tables.documents(spark, dir)
    langMixFromCounts(
      hashedLangScoresOf(spark,
        docs.where(Snapshots.inA).select(col("doc_id"), col("text")))
        .groupBy("pred_lang").agg(count(lit(1)).as("n_a")),
      hashedLangScoresOf(spark,
        docs.where(Snapshots.inB)
          .select(col("doc_id"), Snapshots.textB.as("text"))))
  }

  val q170Sql: String = {
    import CurationQueries.Snapshots
    s"""WITH $hashedLangWeightsCte,
    sa AS (SELECT doc_id, text FROM documents WHERE ${Snapshots.inASql}),
    sb AS (SELECT doc_id, ${Snapshots.textBSql} AS text
      FROM documents WHERE ${Snapshots.inBSql}),
    ${hashedLangSideCtes("la", "sa")},
    ${hashedLangSideCtes("lb", "sb")},
    pa AS (SELECT doc_id, $predLangSql AS pred_lang FROM la_res),
    pb AS (SELECT doc_id, $predLangSql AS pred_lang FROM lb_res),
    tagged AS (SELECT pred_lang, true AS is_a FROM pa
      UNION ALL SELECT pred_lang, false AS is_a FROM pb),
    c AS (SELECT pred_lang,
        CAST(count(CASE WHEN is_a THEN 1 END) AS BIGINT) AS n_a,
        CAST(count(CASE WHEN NOT is_a THEN 1 END) AS BIGINT) AS n_b
      FROM tagged GROUP BY pred_lang),
    t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
        CAST(sum(n_b) AS BIGINT) AS tb FROM c)
    SELECT pred_lang, n_a, n_b,
      CASE WHEN ta > 0 THEN (1000 * n_a) // ta ELSE 0 END AS share_a_permille,
      CASE WHEN tb > 0 THEN (1000 * n_b) // tb ELSE 0 END AS share_b_permille,
      (CASE WHEN tb > 0 THEN (1000 * n_b) // tb ELSE 0 END)
        - (CASE WHEN ta > 0 THEN (1000 * n_a) // ta ELSE 0 END)
        AS drift_permille
    FROM c CROSS JOIN t ORDER BY pred_lang"""
  }

  // --- q21: quality-signal scoring ---------------------------------------
  def q21Quality(spark: SparkSession, dir: String): DataFrame = {
    val toked = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), TextOps.tokenize(col("text")).as("toks"))
    val q = toked.select(
      (col("doc_id") +: TextAnalysisOps.qualityColumns(col("text"), col("toks"))) :+
        TextAnalysisOps.repetitionRatio(col("toks"), 2).as("bigram_repetition"): _*)
    q.withColumn("quality_pass", TextAnalysisOps.qualityPass).orderBy("doc_id")
  }

  val q21Sql: String =
    raw"""WITH t AS (SELECT doc_id, text, ${toksSql("text")} AS toks FROM documents),
    q AS (SELECT doc_id,
      CAST(length(text) AS BIGINT) AS n_chars,
      CAST(len(toks) AS BIGINT) AS n_tokens,
      CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
      $typeTokenRatioSql AS type_token_ratio,
      CASE WHEN len(toks) > 0 THEN CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, x -> CAST(length(x) AS BIGINT))), (a, b) -> a + b) AS DOUBLE) / len(toks) ELSE 0.0 END AS mean_token_len,
      $stopwordRatioSql AS stopword_ratio,
      $nonAlnumRatioSql AS non_alnum_ratio,
      CASE WHEN len(toks) >= 2 AND len(toks) - 1 > 0
           THEN 1.0 - CAST(len(list_distinct(list_transform(range(0, len(toks) - 1), i -> toks[CAST(i AS INT) + 1] || ' ' || toks[CAST(i AS INT) + 2]))) AS DOUBLE) / (len(toks) - 1)
           ELSE 0.0 END AS bigram_repetition
      FROM t)
    SELECT *,
      ${TextAnalysisOps.qualityPassSql()} AS quality_pass
    FROM q ORDER BY doc_id"""

  // --- q22: token counting rolled up by source ---------------------------
  def q22TokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        TextAnalysisOps.wsTokenCount(col("text")).as("ws"),
        TextAnalysisOps.bpeTokenCount(col("text")).as("bpe"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("total_ws_tokens"),
        sum(col("bpe")).as("total_bpe_tokens"),
        (sum(col("ws")).cast("double") / count(lit(1))).as("avg_ws_tokens"))
      .orderBy("source")

  val q22Sql: String = {
    val bpe = TextAnalysisOps.BpeTokenRegex.replace("\\", "\\\\")
    raw"""WITH t AS (SELECT source,
      len(${toksSql("text")}) AS ws,
      len(regexp_extract_all(text, '$bpe')) AS bpe
      FROM documents)
    SELECT source, count(*) AS n_docs,
      CAST(sum(ws) AS BIGINT) AS total_ws_tokens,
      CAST(sum(bpe) AS BIGINT) AS total_bpe_tokens,
      CAST(sum(ws) AS DOUBLE) / count(*) AS avg_ws_tokens
    FROM t GROUP BY source ORDER BY source"""
  }

  // --- q22b: real merge-table BPE tokenization ---------------------------
  // De-proxies the token counts: q22 counts regex PRE-tokens; this runs
  // the actual greedy merge loop (graft.functions.BpeMerges) and emits the
  // full token stream, so the oracle comparison verifies every merge
  // decision, not just a count. The DuckDB twin replays the identical
  // leftmost-lowest-rank step as a recursive CTE over the distinct
  // pre-token vocabulary, then joins back per document — also the 100 TB
  // shape if the encoder were not a cheap narrow expression (it is: one
  // codegen'd call per row, vocabulary memoized per executor).
  def q22bBpeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysisOps.bpePreTokens(col("text")).as("pts"))
      .select(col("doc_id"), size(col("pts")).cast("long").as("n_pretokens"),
        graft.functions.BpeMerges.bpeEncode(col("pts")).as("btoks"))
      .select(col("doc_id"), col("n_pretokens"),
        size(col("btoks")).cast("long").as("n_bpe_tokens"),
        array_join(col("btoks"), " ").as("bpe_text"))
      .orderBy("doc_id")

  val q22bSql: String =
    s"""WITH RECURSIVE $bpeVocabCtes,
    d AS (SELECT doc_id, regexp_extract_all(text, '$bpeRegexSql') AS pts
      FROM documents),
    ex AS (SELECT doc_id, unnest(pts) AS w,
      unnest(range(1, len(pts) + 1)) AS i FROM d),
    agg AS (SELECT e.doc_id, flatten(list(v.toks ORDER BY e.i)) AS btoks
      FROM ex e JOIN bpe_vocab v USING (w) GROUP BY e.doc_id)
    SELECT d.doc_id, CAST(len(d.pts) AS BIGINT) AS n_pretokens,
      CAST(coalesce(len(a.btoks), 0) AS BIGINT) AS n_bpe_tokens,
      coalesce(array_to_string(a.btoks, ' '), '') AS bpe_text
    FROM d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id"""

  // --- q135: tokenizer fertility / compression by source -------------------
  // The tokenizer-evaluation statistic every multilingual/ domain corpus
  // report publishes (fertility — subword tokens per word — Ács 2019's
  // metric for mBERT, and chars-per-token compression, the vocabulary-fit
  // signal tokenizer-training ablations optimize): per source, counts of
  // words (whitespace), REAL merged BPE tokens (q22b's encoder, not the
  // pre-token proxy), chars, and the two ratios in exact integer micro
  // (the q131 floor-div convention — a single `div` per group keeps the
  // DuckDB twin bit-identical). High fertility flags a source the
  // vocabulary fits poorly (OOV-ish scripts, code, noise) — a routing
  // signal for retraining or per-source budgets. One narrow codegen'd
  // encode per row, one group-by-source aggregate: no joins, no second
  // corpus pass.
  def q135TokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.documents(spark, dir)
      .select(col("source"),
        length(col("text")).cast("long").as("chars"),
        TextAnalysisOps.wsTokenCount(col("text")).as("words"),
        TextAnalysisOps.bpePreTokens(col("text")).as("pts"))
      .select(col("source"), col("chars"), col("words"),
        size(graft.functions.BpeMerges.bpeEncode(col("pts")))
          .cast("long").as("bpe"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("words").as("total_words"),
        sum("bpe").as("total_bpe_tokens"),
        sum("chars").as("total_chars"))
      .select(col("source"), col("n_docs"), col("total_words"),
        col("total_bpe_tokens"), col("total_chars"),
        when(col("total_words") > 0,
          expr("(1000000 * total_bpe_tokens) div total_words"))
          .as("fertility_micro"),
        when(col("total_bpe_tokens") > 0,
          expr("(1000000 * total_chars) div total_bpe_tokens"))
          .as("chars_per_token_micro"))
      .orderBy("source")
  }

  val q135Sql: String =
    s"""WITH RECURSIVE $bpeCountCtes,
    w AS (SELECT doc_id, source, CAST(length(text) AS BIGINT) AS chars,
      CAST(len(${toksSql("text")}) AS BIGINT) AS words FROM documents),
    a AS (SELECT w.source, CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(w.words) AS BIGINT) AS total_words,
      CAST(sum(t.n_tokens) AS BIGINT) AS total_bpe_tokens,
      CAST(sum(w.chars) AS BIGINT) AS total_chars
      FROM w JOIN t USING (doc_id) GROUP BY w.source)
    SELECT source, n_docs, total_words, total_bpe_tokens, total_chars,
      CASE WHEN total_words > 0
        THEN (1000000 * total_bpe_tokens) // total_words END AS fertility_micro,
      CASE WHEN total_bpe_tokens > 0
        THEN (1000000 * total_chars) // total_bpe_tokens END AS chars_per_token_micro
    FROM a ORDER BY source"""

  // --- q22c: WordPiece tokenization (fixed vocabulary, oracled) ----------
  // The third tokenizer family beside BPE (q22b) and unigram-LM (q115b):
  // greedy longest-match-first against a ##-marked piece vocabulary with
  // whole-word [UNK] fallback — the BERT WordpieceTokenizer contract
  // (functions.WordPiece). Like q22b's fixed merge table, the vocabulary
  // here is a hand-authored constant, so the DuckDB twin replays every
  // longest-match decision as a recursive CTE over the distinct pre-token
  // vocabulary and the full token stream hash-verifies.
  def q22cWordpieceTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysisOps.bpePreTokens(col("text")).as("pts"))
      .select(col("doc_id"), size(col("pts")).cast("long").as("n_pretokens"),
        graft.functions.WordPiece.wordpieceEncode(
          col("pts"), graft.functions.WordPiece.Vocab).as("wtoks"))
      .select(col("doc_id"), col("n_pretokens"),
        size(col("wtoks")).cast("long").as("n_wp_tokens"),
        size(filter(col("wtoks"),
          t => t === graft.functions.WordPiece.Unk)).cast("long").as("n_unk"),
        array_join(col("wtoks"), " ").as("wp_text"))
      .orderBy("doc_id")

  val q22cSql: String = {
    val ctes = graft.functions.WordPiece.vocabCtes(
      graft.functions.WordPiece.Vocab, bpeRegexSql)
    s"""WITH RECURSIVE $ctes,
    d AS (SELECT doc_id, regexp_extract_all(text, '$bpeRegexSql') AS pts
      FROM documents),
    ex AS (SELECT doc_id, unnest(pts) AS w,
      unnest(range(1, len(pts) + 1)) AS i FROM d),
    agg AS (SELECT e.doc_id, flatten(list(v.toks ORDER BY e.i)) AS wtoks
      FROM ex e JOIN wp_vocab v USING (w) GROUP BY e.doc_id)
    SELECT d.doc_id, CAST(len(d.pts) AS BIGINT) AS n_pretokens,
      CAST(coalesce(len(a.wtoks), 0) AS BIGINT) AS n_wp_tokens,
      CAST(coalesce(len(list_filter(a.wtoks, t -> t = '[UNK]')), 0)
        AS BIGINT) AS n_unk,
      coalesce(array_to_string(a.wtoks, ' '), '') AS wp_text
    FROM d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id"""
  }

  // --- q87/q87b: distributed BPE vocabulary training ---------------------
  // q22b APPLIES a merge table; q87 LEARNS one from the corpus — the
  // Sennrich 2016 learn_bpe loop as Spark aggregations (ops.BpeTrainOps):
  // one corpus-wide word count, then per-round pair-count aggregations
  // over the capped vocabulary. The round loop's global argmax is
  // inherently sequential (each merge depends on the table so far), which
  // a DuckDB recursive CTE cannot replay (no aggregates in the recursive
  // term) — so q87 is a declared rows-only query, and its merge decisions
  // are gated instead by BpeTrainSpec's golden parity against an
  // independent in-memory trainer plus BpeMerges.validateTable
  // well-formedness. q87b oracles the round-0 pair statistics — the exact
  // aggregation every round runs — end-to-end against DuckDB.

  /** Trainer knobs, declared before the SQL vals that interpolate them
    * (strict-val initialization order).
    */
  val BpeTrainMerges: Int = 24
  val BpeTrainMinPair: Long = 4L
  val BpeTrainMaxVocab: Int = 1 << 16

  /** One training run per (application, fixture), shared by q87 (the
    * table itself) and q87c (tokenizing with it) — the production
    * lifecycle: train once, apply everywhere. The memo holds driver-side
    * rows (a few KB), no executor storage; [[SessionMemos.evictAll]]
    * clears it so the bench's cold pass genuinely retrains.
    */
  private val trainedMerges = Memo((spark, d) =>
    graft.ops.BpeTrainOps.train(spark, Tables.documents(spark, d),
      numMerges = BpeTrainMerges, minPairCount = BpeTrainMinPair,
      maxVocab = BpeTrainMaxVocab).orderBy("rank").collect().toSeq)

  def q87BpeTrain(spark: SparkSession, dir: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(trainedMerges(spark, dir), 1),
      graft.ops.BpeTrainOps.MergeSchema).orderBy("rank")

  // --- q87c: tokenize with the corpus-trained table ----------------------
  // The train→encode loop as one in-engine query: q87's learned merges
  // ride inside a table-parameterized native expression
  // (functions.BpeEncodeWith, codegen'd via addReferenceObj) and tokenize
  // the corpus they were trained on. Rows-only like q87 (the table is a
  // runtime value no static oracle SQL can replay); BpeTrainSpec gates
  // the per-word encoding against the training-time merge replay.
  def q87cTrainedTokens(spark: SparkSession, dir: String): DataFrame = {
    val table = trainedMerges(spark, dir)
      .map(r => r.getString(1) + " " + r.getString(2))
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysisOps.bpePreTokens(col("text")).as("pts"))
      .select(col("doc_id"), size(col("pts")).cast("long").as("n_pretokens"),
        graft.functions.BpeMerges.bpeEncodeWith(table, col("pts")).as("btoks"))
      .select(col("doc_id"), col("n_pretokens"),
        size(col("btoks")).cast("long").as("n_trained_tokens"),
        array_join(slice(col("btoks"), 1, 12), " ").as("head_tokens"))
      .orderBy("doc_id")
  }

  // --- q87d/q87e: WordPiece vocabulary training + trained encode ----------
  // The likelihood-scored sibling of q87's count-scored BPE loop
  // (ops.WordPieceTrainOps): merges picked by count(l,r)/(count(l)·
  // count(r)) with exact BigInt cross-multiplied comparisons. Sequential
  // rounds → rows-only like the q87 family; WordPieceSpec golden-gates the
  // merge decisions against an independent recount-every-round reference
  // and the encoder against the training-corpus segmentation invariants.
  val WpTrainMerges: Int = 24
  val WpTrainMinPair: Long = 4L

  private val trainedWordPiece = Memo { (spark, d) =>
    val vocab = graft.ops.BpeTrainOps
      .wordVocab(Tables.documents(spark, d), BpeTrainMaxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    (vocab, graft.ops.WordPieceTrainOps.trainLocal(
      vocab, WpTrainMerges, WpTrainMinPair))
  }

  def q87dWordpieceTrain(spark: SparkSession, dir: String): DataFrame = {
    val rules = trainedWordPiece(spark, dir)._2
      .map { case (k, l, r, m, n, lc, rc) =>
        org.apache.spark.sql.Row(k, l, r, m, n, lc, rc)
      }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rules, 1),
      graft.ops.WordPieceTrainOps.MergeSchema).orderBy("rank")
  }

  def q87eWordpieceTokens(spark: SparkSession, dir: String): DataFrame = {
    val (vocab, merges) = trainedWordPiece(spark, dir)
    val pieces = graft.ops.WordPieceTrainOps.encoderVocab(vocab, merges)
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysisOps.bpePreTokens(col("text")).as("pts"))
      .select(col("doc_id"), size(col("pts")).cast("long").as("n_pretokens"),
        graft.functions.WordPiece.wordpieceEncode(col("pts"), pieces).as("wtoks"))
      .select(col("doc_id"), col("n_pretokens"),
        size(col("wtoks")).cast("long").as("n_wp_tokens"),
        size(filter(col("wtoks"),
          t => t === graft.functions.WordPiece.Unk)).cast("long").as("n_unk"),
        array_join(slice(col("wtoks"), 1, 12), " ").as("head_tokens"))
      .orderBy("doc_id")
  }

  // --- q115/q115b: unigram-LM tokenizer (SentencePiece family) -----------
  // The OTHER production tokenizer beside BPE (Kudo 2018, public
  // SentencePiece unigram): seed-and-prune EM over the same capped word
  // vocabulary, Viterbi segmentation under quantized integer costs. q115
  // emits the trained table; q115b tokenizes the corpus with it through
  // the table-parameterized native expression (functions.UnigramEncode —
  // the BpeEncodeWith design with integer-Viterbi instead of merge
  // replay). Rows-only like the q87 family (EM is float-iterative, no SQL
  // twin); UnigramLmSpec gates determinism, Viterbi optimality vs brute
  // force, expression/driver parity, and EM likelihood monotonicity.
  val UnigramTargetVocab: Int = 96

  private val trainedUnigram = Memo { (spark, d) =>
    val vocab = graft.ops.BpeTrainOps
      .wordVocab(Tables.documents(spark, d), BpeTrainMaxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    graft.ops.UnigramLmOps.trainLocal(vocab, UnigramTargetVocab)
  }

  def q115UnigramTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.createDataset(trainedUnigram(spark, dir).map(p => (p.piece, p.logpMicro)))
      .toDF("piece", "logp_micro").orderBy("piece")
  }

  def q115bUnigramTokens(spark: SparkSession, dir: String): DataFrame = {
    val table = graft.ops.UnigramLmOps.serialize(trainedUnigram(spark, dir))
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysisOps.bpePreTokens(col("text")).as("pts"))
      .select(col("doc_id"), size(col("pts")).cast("long").as("n_pretokens"),
        graft.functions.UnigramEncode.unigramEncode(col("pts"), table).as("utoks"))
      .select(col("doc_id"), col("n_pretokens"),
        size(col("utoks")).cast("long").as("n_unigram_tokens"),
        array_join(slice(col("utoks"), 1, 12), " ").as("head_pieces"))
      .orderBy("doc_id")
  }

  def q87bPairCounts(spark: SparkSession, dir: String): DataFrame = {
    val vocab = graft.ops.BpeTrainOps
      .wordVocab(Tables.documents(spark, dir), BpeTrainMaxVocab)
      .select(graft.ops.BpeTrainOps.symbolSplit(col("w")).as("syms"),
        col("cnt"))
    graft.ops.BpeTrainOps.pairCounts(vocab)
      .orderBy(desc("pair_count"), asc("l"), asc("r")).limit(50)
  }

  val q87bSql: String =
    s"""WITH wc AS (
      SELECT w, count(*) AS cnt FROM (
        SELECT unnest(regexp_extract_all(text, '$bpeRegexSql')) AS w
        FROM documents)
      WHERE length(w) >= 2 GROUP BY w
      ORDER BY cnt DESC, w LIMIT $BpeTrainMaxVocab),
    pr AS (SELECT substr(w, i, 1) AS l, substr(w, i + 1, 1) AS r, cnt
      FROM (SELECT w, cnt, unnest(range(1, length(w))) AS i FROM wc))
    SELECT l, r, CAST(sum(cnt) AS BIGINT) AS pair_count
    FROM pr GROUP BY l, r ORDER BY pair_count DESC, l, r LIMIT 50"""

  // --- q142: per-source Zipf rank-frequency slope -------------------------
  // See TextAnalysisOps.zipfSlope: exact integer least squares of
  // log2(freq) on log2(rank) per source — natural text sits near −1,
  // boilerplate flattens, word-salad steepens. Slope published as exact
  // rational (num, den) plus a sign-explicit micro quotient (Spark `div`
  // truncates, DuckDB `//` floors — identical only on non-negatives, so
  // the negative branch negates-divides-negates).
  def q142ZipfSlope(spark: SparkSession, dir: String): DataFrame =
    TextAnalysisOps.zipfSlope(Tables.documents(spark, dir))
      .orderBy("source")

  val q142Sql: String =
    raw"""WITH t AS (SELECT source, ${toksSql("text")} AS toks FROM documents),
    p AS (SELECT source, unnest(toks) AS tok FROM t),
    f AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS freq
      FROM p GROUP BY source, tok),
    r AS (SELECT source, freq, row_number() OVER
        (PARTITION BY source ORDER BY freq DESC, tok) AS rank FROM f),
    pt AS (SELECT source,
      CAST(length(format('{:b}', rank)) - 1 AS BIGINT) AS x,
      CAST(length(format('{:b}', freq)) - 1 AS BIGINT) AS y FROM r),
    a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
      CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pt GROUP BY source),
    s AS (SELECT source, n_terms,
      n_terms * sxy - sx * sy AS slope_num,
      n_terms * sxx - sx * sx AS slope_den FROM a)
    SELECT source, n_terms, slope_num, slope_den,
      CASE WHEN slope_den = 0 THEN NULL
        WHEN slope_num >= 0 THEN (1000000 * slope_num) // slope_den
        ELSE -((1000000 * (-slope_num)) // slope_den) END AS slope_micro
    FROM s ORDER BY source"""

  // --- q145: mojibake / encoding-damage detection --------------------------
  // The normalization tier (q101 NFC, q101b accents, q101c invisibles)
  // assumes the bytes were DECODED correctly; this detects the case where
  // they were not — latin1-read-UTF-8 double encoding ("é" → "Ã©",
  // smart quotes → "â€œ"-class trigraphs) and decoder-inserted U+FFFD
  // replacement chars, the three commonest corruption signatures in web
  // crawls (all public knowledge: the UTF-8 byte layout). The fixture is
  // clean, so the query plants deterministic damage first (the q131
  // non-vacuity pattern): doc_id mod 7 picks the damage class, then the
  // detector counts each marker via length-difference under literal
  // replace — pure narrow string expressions, zero shuffles, and immune
  // to codepoint-vs-grapheme length divergence because the undamaged
  // remainder cancels in the difference. Per-doc output keeps the hash
  // strong; flagged = any marker present.
  val MojiLatin1 = "Ã©" // "Ã©": é double-encoded
  val MojiPunct = "â€œ" // "â€œ": left smart quote double-encoded
  val MojiRepl = "�" // decoder replacement char

  def q145Mojibake(spark: SparkSession, dir: String): DataFrame = {
    val dmg = when(pmod(col("doc_id"), lit(7L)) === 3,
        replace(col("text"), lit("e"), lit(MojiLatin1)))
      .when(pmod(col("doc_id"), lit(7L)) === 5,
        concat(col("text"), lit(s" ${MojiPunct}quote$MojiPunct")))
      .when(pmod(col("doc_id"), lit(7L)) === 6,
        concat(col("text"), lit(s" $MojiRepl")))
      .otherwise(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), dmg.as("dmg"))
      .select(col("doc_id"), length(col("dmg")).as("l0"),
        length(replace(col("dmg"), lit(MojiLatin1))).as("l1"),
        length(replace(col("dmg"), lit(MojiPunct))).as("l2"),
        length(replace(col("dmg"), lit(MojiRepl))).as("l3"))
      .select(col("doc_id"),
        expr(s"CAST((l0 - l1) div ${MojiLatin1.length} AS BIGINT)")
          .as("n_latin1"),
        expr(s"CAST((l0 - l2) div ${MojiPunct.length} AS BIGINT)")
          .as("n_punct"),
        expr(s"CAST((l0 - l3) div ${MojiRepl.length} AS BIGINT)")
          .as("n_repl"))
      .withColumn("flagged",
        col("n_latin1") + col("n_punct") + col("n_repl") > 0)
      .orderBy("doc_id")
  }

  val q145Sql: String =
    s"""WITH dmg AS (SELECT doc_id,
      CASE WHEN doc_id % 7 = 3 THEN replace(text, 'e', '$MojiLatin1')
        WHEN doc_id % 7 = 5 THEN text || ' ${MojiPunct}quote$MojiPunct'
        WHEN doc_id % 7 = 6 THEN text || ' $MojiRepl'
        ELSE text END AS t FROM documents),
    l AS (SELECT doc_id, length(t) AS l0,
      length(replace(t, '$MojiLatin1', '')) AS l1,
      length(replace(t, '$MojiPunct', '')) AS l2,
      length(replace(t, '$MojiRepl', '')) AS l3 FROM dmg),
    c AS (SELECT doc_id,
      CAST((l0 - l1) // ${MojiLatin1.length} AS BIGINT) AS n_latin1,
      CAST((l0 - l2) // ${MojiPunct.length} AS BIGINT) AS n_punct,
      CAST((l0 - l3) // ${MojiRepl.length} AS BIGINT) AS n_repl FROM l)
    SELECT doc_id, n_latin1, n_punct, n_repl,
      (n_latin1 + n_punct + n_repl > 0) AS flagged
    FROM c ORDER BY doc_id"""

  // --- q164: script / character-class composition profile ------------------
  // The signal BETWEEN language-ID (q20: which language) and mojibake
  // detection (q145: was the decode broken): what character classes is
  // each doc actually made of. Mixed-script spam, digit-dominated dumps,
  // and stray non-ASCII in an ASCII corpus all surface here before any
  // tokenizer runs. Counts via regexp-removal length differences (the
  // q145 arithmetic — both engines count CHARACTERS, so the differences
  // are portable); ASCII-range classes only, spelled as explicit hex
  // ranges both regex engines (Java, RE2) accept identically. The
  // fixture is pure ASCII, so the query plants deterministic non-ASCII
  // damage first (doc_id mod 9 picks Greek-letter injection, single-char
  // substitution, or full-letter substitution — the last guarantees the
  // nonascii-dominant branch fires; the q131/q145 non-vacuity pattern);
  // dominant class by a fixed >=-comparison chain, ascii_permille
  // guarded for empty docs.
  // One narrow scan, zero shuffles, zero joins.
  def q164ScriptProfile(spark: SparkSession, dir: String): DataFrame = {
    val dmg = when(pmod(col("doc_id"), lit(9L)) === 4,
        concat(col("text"), lit(" Ωπλφζ")))
      .when(pmod(col("doc_id"), lit(9L)) === 7,
        replace(col("text"), lit("o"), lit("ο")))
      .when(pmod(col("doc_id"), lit(9L)) === 1,
        regexp_replace(col("text"), "[a-zA-Z]", "λ"))
      .otherwise(col("text"))
    def removed(c: org.apache.spark.sql.Column,
                cls: String): org.apache.spark.sql.Column =
      length(c) - length(regexp_replace(c, cls, ""))
    Tables.documents(spark, dir)
      .select(col("doc_id"), dmg.as("t"))
      .select(col("doc_id"),
        length(col("t")).as("n_chars"),
        removed(col("t"), "[a-zA-Z]").as("n_alpha"),
        removed(col("t"), "[0-9]").as("n_digit"),
        removed(col("t"), "[\\x09\\x0a\\x0d\\x20]").as("n_space"),
        removed(col("t"), "[^\\x09\\x0a\\x0d\\x20-\\x7e]").as("n_nonascii"))
      .select(col("doc_id"), col("n_chars"), col("n_alpha"), col("n_digit"),
        col("n_space"), col("n_nonascii"),
        (col("n_chars") - col("n_alpha") - col("n_digit") - col("n_space")
          - col("n_nonascii")).as("n_punct"),
        // n_nonascii > 0 required: a letterless pure-ASCII doc (digits/
        // punctuation only) has n_alpha = 0 and must not read 'nonascii'
        when(col("n_chars") === 0, "empty")
          .when(col("n_nonascii") > 0 &&
            col("n_nonascii") >= col("n_alpha"), "nonascii")
          .otherwise("ascii_text").as("dominant"),
        when(col("n_chars") > 0,
          expr("(1000 * (n_chars - n_nonascii)) div n_chars"))
          .otherwise(lit(1000L)).as("ascii_permille"))
      .orderBy("doc_id")
  }

  val q164Sql: String =
    s"""WITH dmg AS (SELECT doc_id,
      CASE WHEN doc_id % 9 = 4 THEN text || ' Ωπλφζ'
        WHEN doc_id % 9 = 7 THEN replace(text, 'o', 'ο')
        WHEN doc_id % 9 = 1 THEN regexp_replace(text, '[a-zA-Z]', 'λ', 'g')
        ELSE text END AS t FROM documents),
    l AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars,
      CAST(length(t) - length(regexp_replace(t, '[a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha,
      CAST(length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
      CAST(length(t) - length(regexp_replace(t, '[\\x09\\x0a\\x0d\\x20]', '', 'g')) AS BIGINT) AS n_space,
      CAST(length(t) - length(regexp_replace(t, '[^\\x09\\x0a\\x0d\\x20-\\x7e]', '', 'g')) AS BIGINT) AS n_nonascii
      FROM dmg)
    SELECT doc_id, n_chars, n_alpha, n_digit, n_space, n_nonascii,
      n_chars - n_alpha - n_digit - n_space - n_nonascii AS n_punct,
      CASE WHEN n_chars = 0 THEN 'empty'
        WHEN n_nonascii > 0 AND n_nonascii >= n_alpha THEN 'nonascii'
        ELSE 'ascii_text' END AS dominant,
      CASE WHEN n_chars > 0 THEN (1000 * (n_chars - n_nonascii)) // n_chars
        ELSE 1000 END AS ascii_permille
    FROM l ORDER BY doc_id"""

  // --- q146: data-mixture weights from quality × uniqueness ----------------
  // A DoReMi-flavored (Xie et al. 2023's domain-reweighting QUESTION, not
  // its proxy-model algorithm — no training loop in an engine) static
  // mixture policy from two signals the engine already owns: a source
  // earns sampling weight for passing the quality battery (q21) AND for
  // contributing vocabulary nobody else has (q140b) — redundant or
  // low-quality sources are down-weighted before q75's temperature
  // machinery ever samples. All-integer: weight_raw = pass_permille ×
  // unique_permille per source, normalized to permille by the corpus
  // total (floored division — Σ weights ≤ 1000, gap < S, unit-gated).
  // Shapes: the per-doc quality relation (narrow, zero shuffles) folds to
  // S rows; the uniqueness relation reuses the memoized shingle index;
  // the normalizer is a 1-row broadcast.
  private def mixtureWeightsLive(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val pass = q21Quality(spark, dir)
      .select(col("doc_id"), col("quality_pass"))
      .join(src, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("docs"),
        sum(when(col("quality_pass"), 1L).otherwise(0L)).as("npass"))
      .select(col("source"), col("docs"),
        expr("(1000 * npass) div docs").as("pass_permille"))
    val uniq = DedupQueries.q140bSourceVocab(spark, dir)
      .select(col("source"), col("unique_permille"))
    val raw = pass.join(uniq, "source")
      .withColumn("weight_raw", col("pass_permille") * col("unique_permille"))
    val tot = raw.agg(sum(col("weight_raw")).as("tot"))
    raw.crossJoin(broadcast(tot)) // 1-row scalar
      .select(col("source"), col("docs"), col("pass_permille"),
        col("unique_permille"),
        when(col("tot") > 0, expr("(1000 * weight_raw) div tot"))
          .otherwise(lit(0L)).as("weight_permille"))
      .orderBy("source")
  }

  /** Session memo for the weight vector: THREE registry queries consume
    * it (q146 emits it, q149 realizes it, q150 audits the realization) —
    * as independent programs each re-derived the full quality + shingle-
    * uniqueness chain (~4 s each at sf0.1). The memo holds the S
    * collected rows driver-side (scalar-bounded: one row per source, the
    * trainedMerges precedent); [[SessionMemos.evictAll]] clears it so the
    * bench's cold pass genuinely re-derives.
    */
  private val mixtureRows =
    Memo((spark, d) => mixtureWeightsLive(spark, d).collect().toSeq)

  private val MixtureSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("source",
      org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("docs",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("pass_permille",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("unique_permille",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("weight_permille",
      org.apache.spark.sql.types.LongType, nullable = true)))

  def q146MixtureWeights(spark: SparkSession, dir: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(mixtureRows(spark, dir), 1), MixtureSchema)
      .orderBy("source")

  // lazy: composes DedupQueries.shingleCte, and DedupQueries' own init
  // chain reaches back into this object (via CurationQueries) — an eager
  // val here would deadlock-NPE the clinit cycle. Shared by q146 (the
  // policy) and q149 (its realization).
  /** The mixture chain MINUS the shingle CTEs — so composites that
    * already carry `DedupQueries.labelsCtes` (whose prefix IS the same
    * `tok`/`sh` pair) can append this without duplicate CTE names
    * (q165). [[mixtureCtes]] re-adds the shingle prefix for standalone
    * use.
    */
  private[queries] lazy val mixtureCoreCtes: String =
    s"""t AS (SELECT doc_id, text, ${toksSql("text")} AS toks FROM documents),
    q AS (SELECT doc_id,
      CAST(len(toks) AS BIGINT) AS n_tokens,
      $typeTokenRatioSql AS type_token_ratio,
      $stopwordRatioSql AS stopword_ratio,
      $nonAlnumRatioSql AS non_alnum_ratio
      FROM t),
    qp AS (SELECT doc_id, ${TextAnalysisOps.qualityPassSql()} AS quality_pass FROM q),
    ps AS (SELECT d.source, CAST(count(*) AS BIGINT) AS docs,
      (1000 * CAST(sum(CASE WHEN qp.quality_pass THEN 1 ELSE 0 END) AS BIGINT))
        // CAST(count(*) AS BIGINT) AS pass_permille
      FROM qp JOIN documents d ON qp.doc_id = d.doc_id GROUP BY d.source),
    ss AS (SELECT DISTINCT d.source, sh.shingle
      FROM sh JOIN documents d ON sh.doc_id = d.doc_id),
    spread AS (SELECT shingle, CAST(count(*) AS BIGINT) AS n_sources
      FROM ss GROUP BY shingle),
    uq AS (SELECT ss.source,
      (1000 * CAST(sum(CASE WHEN spread.n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT))
        // CAST(count(*) AS BIGINT) AS unique_permille
      FROM ss JOIN spread ON ss.shingle = spread.shingle GROUP BY ss.source),
    raw AS (SELECT ps.source, ps.docs, ps.pass_permille, uq.unique_permille,
      ps.pass_permille * uq.unique_permille AS weight_raw
      FROM ps JOIN uq ON ps.source = uq.source),
    tot AS (SELECT CAST(sum(weight_raw) AS BIGINT) AS tot FROM raw),
    w AS (SELECT raw.source, raw.docs, raw.pass_permille, raw.unique_permille,
      CASE WHEN tot.tot > 0 THEN (1000 * raw.weight_raw) // tot.tot
        ELSE 0 END AS weight_permille
      FROM raw, tot)"""

  private lazy val mixtureCtes: String =
    s"""${DedupQueries.shingleCte},
    $mixtureCoreCtes"""

  lazy val q146Sql: String =
    s"""WITH $mixtureCtes
    SELECT source, docs, pass_permille, unique_permille, weight_permille
    FROM w ORDER BY source"""

  // --- q149: mixture realization (policy → sampled corpus) -----------------
  // q146 computes the weight VECTOR; this materializes it: each source's
  // floored quota of the MixTargetDocs budget (quota = weight·N div 1000)
  // is filled by the first quota docs in the source's DETERMINISTIC
  // pseudo-random order — q137's keyed permutation (perm 0 of
  // charHash(doc_id)), so the realized corpus is a pure function of
  // (corpus, policy), resume- and replay-stable with no RNG state. One
  // rank window per source over the doc relation + an S-row quota
  // broadcast join; Σ quota ≤ N by flooring (the gap < S — documented,
  // unit-gated). Per-doc output keeps the oracle hash strong.
  val MixTargetDocs = 200L

  def q149MixtureRealization(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.HashOps
    val quotas = q146MixtureWeights(spark, dir)
      .select(col("source"),
        expr(s"(weight_permille * $MixTargetDocs) div 1000").as("quota"))
    val ranked = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        HashOps.perm(0, HashOps.charHash(col("doc_id").cast("string")))
          .as("k"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(col("k"), col("doc_id"))).cast("long"))
    ranked.join(broadcast(quotas), "source")
      .where(col("rk") <= col("quota"))
      .select(col("source"), col("doc_id"), col("rk"))
      .orderBy("source", "rk")
  }

  lazy val q149Sql: String = {
    import graft.ops.HashOps
    val h = HashOps.charHashSql("CAST(doc_id AS VARCHAR)")
    s"""WITH $mixtureCtes,
    quotas AS (SELECT source,
      (weight_permille * $MixTargetDocs) // 1000 AS quota FROM w),
    hh AS (SELECT doc_id, source, $h AS h FROM documents),
    kk AS (SELECT doc_id, source, ${HashOps.permSql(0, "h")} AS k FROM hh),
    ranked AS (SELECT source, doc_id,
      CAST(row_number() OVER (PARTITION BY source ORDER BY k, doc_id)
        AS BIGINT) AS rk
      FROM kk)
    SELECT ranked.source, ranked.doc_id, ranked.rk
    FROM ranked JOIN quotas ON ranked.source = quotas.source
    WHERE ranked.rk <= quotas.quota
    ORDER BY ranked.source, ranked.rk"""
  }

  // --- q150: realized-mixture decontamination report ------------------------
  // The last gate before q149's corpus ships: per source, how much of the
  // REALIZED mix is eval-unsafe — picks that ARE benchmark docs (the q53
  // carve leaking wholesale: mixture sampling ignores eval membership
  // unless told) and train picks sharing >= ContaminationMinShared
  // shingles with the benchmark. The three relations composed (picks,
  // carve, contamination) are each independently oracle-verified
  // (q149/q53); this report is where their interaction is verified —
  // a pick wrongly classified on EITHER axis shifts a permille and
  // breaks the hash. Shapes: picks (<= budget rows) left-join the
  // contamination scores by doc id; the rollup is S rows.
  def q150MixtureDecontamination(spark: SparkSession, dir: String): DataFrame = {
    val picks = q149MixtureRealization(spark, dir)
      .select(col("source"), col("doc_id"))
    val contaminated = DedupQueries.q53Decontaminate(spark, dir)
      .where(col("contaminated"))
      .select(col("doc_id"), lit(1L).as("is_contam"))
    picks.join(contaminated, Seq("doc_id"), "left")
      .select(col("source"),
        (col("doc_id") % 20 === 0).as("is_bench"),
        coalesce(col("is_contam"), lit(0L)).as("is_contam"))
      .groupBy("source")
      .agg(count(lit(1)).as("picked"),
        sum(when(col("is_bench"), 1L).otherwise(0L)).as("picked_bench"),
        sum(when(!col("is_bench"), col("is_contam")).otherwise(0L))
          .as("picked_contaminated"))
      .select(col("source"), col("picked"), col("picked_bench"),
        col("picked_contaminated"),
        (col("picked") - col("picked_bench") - col("picked_contaminated"))
          .as("clean"),
        expr("(1000 * (picked - picked_bench - picked_contaminated)) div picked")
          .as("clean_permille"))
      .orderBy("source")
  }

  lazy val q150Sql: String = {
    import graft.ops.HashOps
    val h = HashOps.charHashSql("CAST(doc_id AS VARCHAR)")
    s"""WITH $mixtureCtes,
    quotas AS (SELECT source,
      (weight_permille * $MixTargetDocs) // 1000 AS quota FROM w),
    hh AS (SELECT doc_id, source, $h AS h FROM documents),
    kk AS (SELECT doc_id, source, ${HashOps.permSql(0, "h")} AS k FROM hh),
    ranked AS (SELECT source, doc_id,
      CAST(row_number() OVER (PARTITION BY source ORDER BY k, doc_id)
        AS BIGINT) AS rk
      FROM kk),
    picks AS (SELECT ranked.source, ranked.doc_id
      FROM ranked JOIN quotas ON ranked.source = quotas.source
      WHERE ranked.rk <= quotas.quota),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
    train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 20 <> 0),
    shared AS (
      SELECT t2.doc_id, count(*) AS n_shared
      FROM train t2 JOIN bench b ON t2.shingle = b.shingle
      GROUP BY t2.doc_id),
    contam AS (SELECT doc_id FROM shared
      WHERE n_shared >= ${DedupQueries.ContaminationMinShared}),
    flags AS (SELECT p.source, p.doc_id % 20 = 0 AS is_bench,
        (c.doc_id IS NOT NULL) AS is_contam
      FROM picks p LEFT JOIN contam c ON p.doc_id = c.doc_id)
    SELECT source, CAST(count(*) AS BIGINT) AS picked,
      CAST(sum(CASE WHEN is_bench THEN 1 ELSE 0 END) AS BIGINT) AS picked_bench,
      CAST(sum(CASE WHEN NOT is_bench AND is_contam THEN 1 ELSE 0 END) AS BIGINT)
        AS picked_contaminated,
      CAST(count(*) - sum(CASE WHEN is_bench THEN 1 ELSE 0 END)
        - sum(CASE WHEN NOT is_bench AND is_contam THEN 1 ELSE 0 END) AS BIGINT)
        AS clean,
      (1000 * (CAST(count(*) AS BIGINT)
        - CAST(sum(CASE WHEN is_bench THEN 1 ELSE 0 END) AS BIGINT)
        - CAST(sum(CASE WHEN NOT is_bench AND is_contam THEN 1 ELSE 0 END) AS BIGINT)))
        // CAST(count(*) AS BIGINT) AS clean_permille
    FROM flags GROUP BY source ORDER BY source"""
  }

  // --- q155: per-source quality drift across snapshots ----------------------
  // The ops-monitoring twin of q83's distribution drift, aimed at the
  // quality gate: per source, the q21 battery's pass rate in snapshot A
  // vs snapshot B (same carve + text rewrite as the q71/q130 family) and
  // the drift in permille POINTS — the "did this source's latest crawl
  // degrade" alarm a recurring ingest reads before the mixture weights
  // (q146) are recomputed. Drift is a plain BIGINT subtraction (may be
  // negative — no division, so no floor-semantics hazard). Since r13
  // the A side is a StoredRelations artifact (the q172b pattern): ONE
  // narrow battery pass over snapshot B joins the stored S-row
  // reference — O(B), with the from-scratch twin row-compared in
  // DriftDqSpec and the oracle recomputing both sides.
  /** Per-source q21-battery pass rates of one snapshot side —
    * `(source, docs_<suffix>, pass_<suffix>_permille)`. Shared by
    * q155's stored-A builder, its live B side, and the from-scratch
    * twin, so the stored path can never battery differently than the
    * recompute it is row-compared against.
    */
  private def batteryPassRate(df: DataFrame, suffix: String): DataFrame = {
    val toked = df.select(col("doc_id"), col("source"), col("text"),
      TextOps.tokenize(col("text")).as("toks"))
    val q = toked.select(
      (Seq(col("doc_id"), col("source")) ++
        TextAnalysisOps.qualityColumns(col("text"), col("toks"))): _*)
    q.withColumn("p", TextAnalysisOps.qualityPass)
      .groupBy("source")
      .agg(count(lit(1)).as(s"docs_$suffix"),
        expr("(1000 * sum(CASE WHEN p THEN 1 ELSE 0 END)) div count(1)")
          .as(s"pass_${suffix}_permille"))
  }

  /** Version for the stored reference-side snapshot-monitor artifacts
    * (q155/q170) — bump when the carve or the battery/classifier rule
    * changes semantics.
    */
  private val MonitorStoreVersion = "1:carve=inA"

  /** Snapshot A's stored per-source pass rates — the q172b
    * stored-reference pattern applied to the quality monitor (r12
    * verdict item 5): the reference side of a recurring drift check is
    * computed once per corpus version and stored, so the live path is
    * O(B), never O(A∪B).
    */
  private[graft] def qualityRatesBaseA(spark: SparkSession,
                                       dir: String): DataFrame =
    graft.sources.StoredRelations.readOrBuild(spark, "quality_rates_baseA",
      Seq(s"$dir/documents.parquet"), MonitorStoreVersion) {
      import CurationQueries.Snapshots
      batteryPassRate(Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text"))
        .where(Snapshots.inA), "a")
    }

  /** The drift report from the two per-side rate relations — shared by
    * the stored-reference path and the from-scratch twin. FULL outer
    * with coalesce-0 (r13 review): a source present in only one
    * snapshot — brand-new in B, or vanished from it — is exactly the
    * drift case the monitor exists for (the q170/q172b asymmetric-source
    * rule); the earlier inner join silently hid it.
    */
  private def qualityDriftCombine(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b, Seq("source"), "full")
      .select(col("source"),
        coalesce(col("docs_a"), lit(0L)).as("docs_a"),
        coalesce(col("pass_a_permille"), lit(0L)).as("pass_a_permille"),
        coalesce(col("docs_b"), lit(0L)).as("docs_b"),
        coalesce(col("pass_b_permille"), lit(0L)).as("pass_b_permille"))
      .withColumn("drift_pm",
        col("pass_b_permille") - col("pass_a_permille"))
      .orderBy("source")

  def q155QualityDrift(spark: SparkSession, dir: String): DataFrame = {
    import CurationQueries.Snapshots
    val b = batteryPassRate(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .where(Snapshots.inB)
      .select(col("doc_id"), col("source"), Snapshots.textB.as("text")), "b")
    qualityDriftCombine(qualityRatesBaseA(spark, dir), b)
  }

  /** From-scratch twin of [[q155QualityDrift]] (both sides live, nothing
    * stored) — row-compared against the stored path in DriftDqSpec; not
    * a registry entry. The ORACLE also recomputes everything from
    * scratch, so a stale artifact breaks the q155 hash as well.
    */
  private[graft] def qualityDriftScratch(spark: SparkSession,
                                         dir: String): DataFrame = {
    import CurationQueries.Snapshots
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val a = batteryPassRate(docs.where(Snapshots.inA), "a")
    val b = batteryPassRate(docs.where(Snapshots.inB)
      .select(col("doc_id"), col("source"), Snapshots.textB.as("text")), "b")
    qualityDriftCombine(a, b)
  }

  // lazy: references CurationQueries.Snapshots — the cross-object clinit
  // hazard class (oracleSql is lazy, so this is forced post-init)
  lazy val q155Sql: String = {
    import CurationQueries.Snapshots
    def battery(fromCte: String): String =
      s"""(SELECT source,
        CAST(count(*) AS BIGINT) AS docs,
        (1000 * CAST(sum(CASE WHEN ${TextAnalysisOps.qualityPassSql()}
          THEN 1 ELSE 0 END) AS BIGINT)) // CAST(count(*) AS BIGINT) AS pp
      FROM (SELECT source,
          CAST(len(toks) AS BIGINT) AS n_tokens,
          $typeTokenRatioSql AS type_token_ratio,
          $stopwordRatioSql AS stopword_ratio,
          $nonAlnumRatioSql AS non_alnum_ratio
        FROM (SELECT source, text, ${toksSql("text")} AS toks FROM $fromCte) z)
      GROUP BY source)"""
    s"""WITH ad AS (SELECT doc_id, source, text FROM documents
      WHERE ${Snapshots.inASql}),
    bd AS (SELECT doc_id, source, ${Snapshots.textBSql} AS text
      FROM documents WHERE ${Snapshots.inBSql}),
    pa AS ${battery("ad")},
    pb AS ${battery("bd")}
    SELECT coalesce(pa.source, pb.source) AS source,
      coalesce(pa.docs, 0) AS docs_a,
      coalesce(pa.pp, 0) AS pass_a_permille,
      coalesce(pb.docs, 0) AS docs_b,
      coalesce(pb.pp, 0) AS pass_b_permille,
      coalesce(pb.pp, 0) - coalesce(pa.pp, 0) AS drift_pm
    FROM pa FULL JOIN pb ON pa.source = pb.source ORDER BY source"""
  }

  // --- q165: dedup-aware effective mixture -----------------------------------
  // q146 weights sources by quality × uniqueness of the RAW corpus — but
  // the tokens a source actually contributes to training are its
  // POST-DEDUP survivors (q55's canonical retention): a source that is
  // 40% internal duplicates delivers 40% less than its weight implies.
  // This composes the two verified relations: per source, total vs
  // canonical-surviving token mass (effective_permille), then the q146
  // weight re-scaled by it and re-normalized — the weight vector a
  // budget-accurate sampler should actually use. S-row output; the
  // corpus-sized inputs are the shared labels store and one narrow token
  // count, joined at source granularity (the q157 composition shape).
  def q165EffectiveMixture(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(graft.ops.TextOps.tokenize(col("text"))).cast("long")
          .as("n_tokens"))
    val kept = DedupQueries.dupLabels(spark, dir)
      .select(col("doc_id"), (col("cluster_id") === col("doc_id")).as("kept"))
    val eff = toks.join(kept, Seq("doc_id"))
      .groupBy("source")
      .agg(sum(col("n_tokens")).as("tokens_total"),
        sum(when(col("kept"), col("n_tokens")).otherwise(0L))
          .as("tokens_surviving"))
      .select(col("source"), col("tokens_total"), col("tokens_surviving"),
        when(col("tokens_total") > 0,
          expr("(1000 * tokens_surviving) div tokens_total"))
          .otherwise(lit(0L)).as("effective_permille"))
    val adj = eff.join(q146MixtureWeights(spark, dir)
        .select(col("source"), col("weight_permille")), Seq("source"))
      .withColumn("adj_raw", col("weight_permille") * col("effective_permille"))
    val tot = adj.agg(sum(col("adj_raw")).as("tot"))
    adj.crossJoin(broadcast(tot)) // 1-row scalar
      .select(col("source"), col("tokens_total"), col("tokens_surviving"),
        col("effective_permille"), col("weight_permille"),
        when(col("tot") > 0, expr("(1000 * adj_raw) div tot"))
          .otherwise(lit(0L)).as("adjusted_weight_permille"))
      .orderBy("source")
  }

  // lazy: composes DedupQueries.labelsCtes (whose prefix already defines
  // tok/sh) with mixtureCoreCtes — the shingle-free mixture chain — so
  // no CTE name collides; WITH RECURSIVE + materializeCtes per the
  // labelsCtes consumer rules
  lazy val q165Sql: String = graft.queries.SqlDefs.materializeCtes(
    s"""WITH RECURSIVE ${DedupQueries.labelsCtes},
    $mixtureCoreCtes,
    tc AS (SELECT t.doc_id, d.source, CAST(len(t.toks) AS BIGINT) AS n_tokens
      FROM tok t JOIN documents d ON t.doc_id = d.doc_id),
    eff AS (SELECT tc.source,
        CAST(sum(tc.n_tokens) AS BIGINT) AS tokens_total,
        CAST(sum(CASE WHEN labs.cluster_id = labs.doc_id THEN tc.n_tokens
          ELSE 0 END) AS BIGINT) AS tokens_surviving
      FROM tc JOIN labs ON tc.doc_id = labs.doc_id
      GROUP BY tc.source),
    ep AS (SELECT source, tokens_total, tokens_surviving,
        CASE WHEN tokens_total > 0
          THEN (1000 * tokens_surviving) // tokens_total ELSE 0 END
          AS effective_permille
      FROM eff),
    adj AS (SELECT ep.*, w.weight_permille,
        w.weight_permille * ep.effective_permille AS adj_raw
      FROM ep JOIN w ON ep.source = w.source),
    tot2 AS (SELECT CAST(sum(adj_raw) AS BIGINT) AS tot FROM adj)
    SELECT adj.source, adj.tokens_total, adj.tokens_surviving,
      adj.effective_permille, adj.weight_permille,
      CASE WHEN tot2.tot > 0 THEN (1000 * adj.adj_raw) // tot2.tot
        ELSE 0 END AS adjusted_weight_permille
    FROM adj, tot2 ORDER BY adj.source""")

  // --- q157: source-pruning recommendations ----------------------------------
  // The decision composite the redundancy signals exist FOR: a source
  // pair is a pruning candidate when its vocabulary overlap (q141) meets
  // the threshold AND at least one realized near-dup doc pair (q148)
  // confirms the overlap is actual duplication, not shared topic; the
  // recommendation drops the side with the LOWER mixture weight (q146 —
  // quality × uniqueness), ties to the lexicographically larger name.
  // Three verified S-bounded relations joined on the canonical pair key
  // plus two S-row weight lookups — the report is ≤ S(S−1)/2 rows and
  // every number in it is independently hash-verified upstream.
  val PruneOverlapMicro = 20000L

  def q157PruneCandidates(spark: SparkSession, dir: String): DataFrame = {
    val overlap = DedupQueries.q141SourceOverlap(spark, dir)
      .where(col("jaccard_micro") >= PruneOverlapMicro)
      .select(col("src_a"), col("src_b"), col("jaccard_micro"))
    val realized = DedupQueries.q148CrossSourcePairs(spark, dir)
      .where(col("src_a") =!= col("src_b"))
      .select(col("src_a"), col("src_b"), col("n_pairs"))
    val w = q146MixtureWeights(spark, dir)
      .select(col("source"), col("weight_permille"))
    overlap.join(realized, Seq("src_a", "src_b"))
      .join(broadcast(w.select(col("source").as("src_a"),
        col("weight_permille").as("weight_a"))), "src_a")
      .join(broadcast(w.select(col("source").as("src_b"),
        col("weight_permille").as("weight_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("jaccard_micro"),
        col("n_pairs"), col("weight_a"), col("weight_b"),
        when(col("weight_a") < col("weight_b"), col("src_a"))
          .when(col("weight_b") < col("weight_a"), col("src_b"))
          .otherwise(greatest(col("src_a"), col("src_b"))).as("drop_source"))
      .orderBy("src_a", "src_b")
  }

  lazy val q157Sql: String =
    s"""WITH ov AS (SELECT src_a, src_b, jaccard_micro
      FROM (${DedupQueries.q141Sql}) x
      WHERE jaccard_micro >= $PruneOverlapMicro),
    rz AS (SELECT src_a, src_b, n_pairs FROM (${DedupQueries.q148Sql}) x
      WHERE src_a <> src_b),
    w AS (SELECT source, weight_permille FROM ($q146Sql) x)
    SELECT ov.src_a, ov.src_b, ov.jaccard_micro, rz.n_pairs,
      wa.weight_permille AS weight_a, wb.weight_permille AS weight_b,
      CASE WHEN wa.weight_permille < wb.weight_permille THEN ov.src_a
        WHEN wb.weight_permille < wa.weight_permille THEN ov.src_b
        ELSE greatest(ov.src_a, ov.src_b) END AS drop_source
    FROM ov
    JOIN rz ON ov.src_a = rz.src_a AND ov.src_b = rz.src_b
    JOIN w wa ON wa.source = ov.src_a
    JOIN w wb ON wb.source = ov.src_b
    ORDER BY ov.src_a, ov.src_b"""

  // --- q90: bigram surprisal (conditional-LM perplexity proxy) -----------
  // See TextAnalysisOps.bigramSurprisal: -log2 p(w2|w1) in integer log2
  // buckets under the corpus's own bigram counts — the sequence-level
  // perplexity filter q70 (unigram) and q70b (coverage) stop short of.
  def q90BigramSurprisal(spark: SparkSession, dir: String): DataFrame =
    TextAnalysisOps.bigramSurprisalFromCounts(tokedIds(spark, dir),
      bigramDocCounts(spark, dir))
      .orderBy("doc_id")

  val q90Sql: String =
    s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
    bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)),
    dt AS (SELECT doc_id, w1, w2, count(*) AS k FROM bg GROUP BY doc_id, w1, w2),
    bt AS (SELECT w1, w2, CAST(sum(k) AS BIGINT) AS btf FROM dt GROUP BY w1, w2),
    ut AS (SELECT w1, CAST(sum(btf) AS BIGINT) AS ctf1 FROM bt GROUP BY w1),
    sc AS (SELECT dt.doc_id, dt.k,
      CAST(length(format('{:b}', ut.ctf1)) -
        length(format('{:b}', bt.btf)) AS BIGINT) AS s
      FROM dt JOIN bt USING (w1, w2) JOIN ut USING (w1)),
    agg AS (SELECT doc_id,
      CAST(sum(k) AS BIGINT) AS n_bigrams,
      CAST(sum(k * s) AS BIGINT) AS sum_surprisal,
      CAST(max(s) AS BIGINT) AS max_surprisal
      FROM sc GROUP BY doc_id)
    SELECT t.doc_id,
      coalesce(a.n_bigrams, 0) AS n_bigrams,
      coalesce(a.sum_surprisal, 0) AS sum_surprisal,
      coalesce(a.max_surprisal, 0) AS max_surprisal
    FROM t LEFT JOIN agg a ON t.doc_id = a.doc_id ORDER BY t.doc_id"""

  // --- q90b: held-out surprisal with OOV smoothing -----------------------
  // The production shape q90's self-scoring can't exercise: the bigram
  // model trains on the content-hash-even half (stable under
  // re-ingestion, the q51 split pattern) and scores the odd half, where
  // unseen bigrams and unknown contexts are real events handled by the
  // integer smoothing ladder (see TextAnalysisOps.crossSurprisal).
  def q90bHeldoutSurprisal(spark: SparkSession, dir: String): DataFrame = {
    // both carves read the SHARED per-doc bigram counts: the even-half
    // model is a semi-scoped regroup of the memo, the odd-half scored
    // side a filter of it — zero re-tokenization (crossSurprisal's
    // text-based form is the non-memo path, q172b's stored-model tier)
    val halves = tokedDocs(spark, dir).select(col("doc_id"),
      (graft.ops.HashOps.charHash(col("text")) % 2 === 0).as("even"))
    val evenIds = halves.where(col("even")).select("doc_id")
    val oddIds = halves.where(!col("even")).select("doc_id")
    val dt = bigramDocCounts(spark, dir)
    // bigramModel's enrichment over the even carve (bt persisted: the
    // context aggregate and the enrichment join both consume it)
    val btEven = graft.CacheScope.persist(
      dt.join(evenIds, "doc_id")
        .groupBy(col("w1"), col("w2")).agg(sum(col("k")).as("btf")))
    val model = btEven.join(
      btEven.groupBy(col("w1")).agg(sum(col("btf")).as("ctf1")), Seq("w1"))
    TextAnalysisOps.crossSurprisalFromCounts(model, oddIds,
      dt.join(oddIds, "doc_id"))
      .orderBy("doc_id")
  }

  /** q90b's smoothing-ladder CTE chain through `agg`, fully
    * parameterized: the base relation `d` (must expose `text` plus the
    * key), the model carve, the scored carve, and the scored-side key
    * column. q90b scores the odd content-hash half, q172 scores the
    * whole corpus, q172b scores a two-snapshot union under snapshot A's
    * model (key = fused snapshot/doc key). ONE ladder so none of the
    * oracles can drift apart (the q158/q171 shared-drift-CTE precedent).
    */
  private[queries] def crossSurprisalLadder(dCte: String, mtWhere: String,
      stWhere: String, key: String): String =
    s"""d AS ($dCte),
    mt AS (SELECT ${toksSql("text")} AS toks FROM d$mtWhere),
    st AS (SELECT $key, ${toksSql("text")} AS toks FROM d$stWhere),
    mb AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
      FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM mt)),
    bt AS (SELECT w1, w2, count(*) AS btf FROM mb GROUP BY w1, w2),
    ut AS (SELECT w1, CAST(sum(btf) AS BIGINT) AS ctf1 FROM bt GROUP BY w1),
    tot AS (SELECT CAST(sum(ctf1) AS BIGINT) AS b_total FROM ut),
    sb AS (SELECT $key, toks[i] AS w1, toks[i + 1] AS w2
      FROM (SELECT $key, toks, unnest(range(1, len(toks))) AS i FROM st)),
    dt AS (SELECT $key, w1, w2, count(*) AS k FROM sb GROUP BY $key, w1, w2),
    sc AS (SELECT dt.$key, dt.k,
      bt.btf IS NULL AS unseen, ut.ctf1 IS NULL AS unknown_ctx,
      CASE WHEN bt.btf IS NOT NULL THEN
          length(format('{:b}', ut.ctf1)) - length(format('{:b}', bt.btf))
        WHEN ut.ctf1 IS NOT NULL THEN length(format('{:b}', ut.ctf1)) + 1
        ELSE length(format('{:b}', tot.b_total)) + 1 END AS s
      FROM dt LEFT JOIN bt USING (w1, w2) LEFT JOIN ut USING (w1)
        CROSS JOIN tot),
    agg AS (SELECT $key,
      CAST(sum(k) AS BIGINT) AS n_bigrams,
      CAST(sum(CASE WHEN unseen THEN k ELSE 0 END) AS BIGINT) AS n_unseen,
      CAST(sum(CASE WHEN unknown_ctx THEN k ELSE 0 END) AS BIGINT)
        AS n_unknown_ctx,
      CAST(sum(k * s) AS BIGINT) AS sum_surprisal,
      CAST(max(s) AS BIGINT) AS max_surprisal
      FROM sc GROUP BY $key)"""

  /** The q90b/q172 instantiation: whole-corpus base, even-hash model. */
  private def crossSurprisalCtes(scoredWhere: String): String = {
    val h = graft.ops.HashOps.charHashSql("text")
    crossSurprisalLadder(
      s"SELECT doc_id, text, $h AS h FROM documents",
      " WHERE h % 2 = 0", scoredWhere, "doc_id")
  }

  val q90bSql: String =
    s"""WITH ${crossSurprisalCtes(" WHERE h % 2 <> 0")}
    SELECT st.doc_id,
      coalesce(a.n_bigrams, 0) AS n_bigrams,
      coalesce(a.n_unseen, 0) AS n_unseen,
      coalesce(a.n_unknown_ctx, 0) AS n_unknown_ctx,
      coalesce(a.sum_surprisal, 0) AS sum_surprisal,
      coalesce(a.max_surprisal, 0) AS max_surprisal
    FROM st LEFT JOIN agg a USING (doc_id) ORDER BY st.doc_id"""

  // --- q172: CCNet-style perplexity buckets (head / middle / tail) --------
  // CCNet (Wenzek et al. 2020, public) buckets a crawl by the perplexity
  // of an LM trained on a trusted reference corpus, then keeps the fluent
  // head/middle as training data. Model = the content-hash-even half (the
  // q90b stable split, standing in for the trusted reference); EVERY doc
  // — model half included — is scored under it via q90b's integer
  // smoothing ladder, so the bucketing covers the whole corpus. The
  // per-source tercile CUTS are value-based: the smallest mean-surprisal
  // whose cumulative doc count reaches ceil(n/3) / ceil(2n/3), computed
  // on the (source, distinct mean) HISTOGRAM — a per-source window over
  // distinct values, never a corpus-wide NTILE sort — then broadcast back
  // (S×2 cut rows) for a map-side bucket assignment. Ties share a bucket
  // (threshold semantics: the dial a 100 TB run re-applies shard-locally),
  // so tercile sizes are only ~n/3 under ties — the honest semantics of a
  // value cut. Output is ≤ 3S rows: docs, bigram mass, and doc share per
  // (source, tier). Docs with < 2 tokens carry mean 0 and land in `head`.
  // Session memo for the bucket table: TWO registry queries consume it
  // (q172 emits it, q175's datasheet restates its shares) and each would
  // re-run the corpus-scoring chain as an independent program. ≤ 3S
  // collected rows, the mixtureRows bound; SessionMemos.evictAll clears
  // it so the bench's cold pass genuinely re-scores.
  private val bucketsRows =
    Memo((spark, d) => perplexityBucketsLive(spark, d).collect().toSeq)

  private val BucketsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("source",
      org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("bucket",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("tier",
      org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("n_docs",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("n_bigrams",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("doc_share_permille",
      org.apache.spark.sql.types.LongType, nullable = true)))

  def q172PerplexityBuckets(spark: SparkSession, dir: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(bucketsRows(spark, dir), 1), BucketsSchema)
      .orderBy("source", "bucket")

  /** `(id, source, n_bigrams, mean_micro)` of `docs` scored under a
    * prebuilt [[TextAnalysisOps.bigramModel]] — the shared means
    * derivation of the dial (q172) and its monitor (q172b).
    */
  private def surprisalMeans(model: DataFrame, docs: DataFrame,
                             idCol: String = "doc_id"): DataFrame =
    TextAnalysisOps.crossSurprisalUnder(model, docs, idCol = idCol)
      .select(col(idCol), col("n_bigrams"), col("sum_surprisal"))
      .join(docs.select(col(idCol), col("source")), idCol)
      .select(col(idCol), col("source"), col("n_bigrams"),
        when(col("n_bigrams") > 0,
          expr("(1000000 * sum_surprisal) div n_bigrams"))
          .otherwise(lit(0L)).as("mean_micro"))

  private[graft] def perplexityBucketsLive(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    // model and scored side both read the session-shared bigram counts
    // (q172's even-content-hash carve is exactly q90b's model carve) —
    // zero re-tokenization; the q172b stored builders keep the text-based
    // surprisalMeans (they run once per corpus version, over inA)
    val evenIds = tokedDocs(spark, dir)
      .where(HashOps.charHash(col("text")) % 2 === 0).select("doc_id")
    val dt = bigramDocCounts(spark, dir)
    val btEven = graft.CacheScope.persist(
      dt.join(evenIds, "doc_id")
        .groupBy(col("w1"), col("w2")).agg(sum(col("k")).as("btf")))
    val model = btEven.join(
      btEven.groupBy(col("w1")).agg(sum(col("btf")).as("ctf1")), Seq("w1"))
    // persisted: the histogram/cuts pass and the bucket assignment both
    // consume the per-doc mean relation
    val means = graft.CacheScope.persist(
      TextAnalysisOps.crossSurprisalFromCounts(model,
        tokedIds(spark, dir), dt)
        .select(col("doc_id"), col("n_bigrams"), col("sum_surprisal"))
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .select(col("doc_id"), col("source"), col("n_bigrams"),
          when(col("n_bigrams") > 0,
            expr("(1000000 * sum_surprisal) div n_bigrams"))
            .otherwise(lit(0L)).as("mean_micro")))
    val cuts = tercileCuts(means.select(col("source"), col("mean_micro")))
    val bucketed = assignBucket(
      means.join(broadcast(cuts), Seq("source"), "left"))
    bucketed.groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bigrams")).as("n_bigrams"))
      .withColumn("tier",
        when(col("bucket") === 1, "head")
          .when(col("bucket") === 2, "middle").otherwise("tail"))
      .withColumn("src_docs",
        sum(col("n_docs")).over(Window.partitionBy("source")))
      .select(col("source"), col("bucket"), col("tier"), col("n_docs"),
        col("n_bigrams"), expr("(1000 * n_docs) div src_docs")
          .as("doc_share_permille"))
      .orderBy("source", "bucket")
  }

  /** Per-source value-based tercile cuts from a `(source, mean_micro)`
    * relation — the smallest mean whose cumulative doc count reaches
    * ceil(n/3) / ceil(2n/3), computed on the distinct-value histogram.
    * ONE definition (Column and SQL twins below) serving the dial (q172)
    * and its stored-cut monitor (q172b), so the monitor can never bucket
    * with a different rule than the dial it watches — the
    * crossSurprisalLadder argument applied to the cut rule.
    */
  private def tercileCuts(means: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = means.groupBy("source", "mean_micro")
      .agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum",
        sum(col("c")).over(Window.partitionBy("source").orderBy("mean_micro")))
      .withColumn("n", sum(col("c")).over(Window.partitionBy("source")))
    cum.groupBy("source").agg(
      min(when(col("cum") * 3 >= col("n"), col("mean_micro"))).as("cut1"),
      min(when(col("cum") * 3 >= col("n") * 2, col("mean_micro"))).as("cut2"))
  }

  /** Bucket assignment under possibly-ABSENT cuts: a source with no
    * reference histogram (brand-new in the scored snapshot — the
    * maximal-drift case a monitor exists to catch) has NULL cuts after
    * the left join and lands wholesale in bucket 3, so its share shift
    * is 1000‰ and the recut decision fires instead of the source
    * silently vanishing from the report.
    */
  private def assignBucket(withCuts: DataFrame): DataFrame =
    withCuts.withColumn("bucket",
      when(col("cut1").isNull, 3L)
        .when(col("mean_micro") <= col("cut1"), 1L)
        .when(col("mean_micro") <= col("cut2"), 2L).otherwise(3L))

  /** [[tercileCuts]]' SQL twin: hist→cum→cuts CTEs over the
    * `(source, mean_micro)` rows of `$src`.
    */
  private def tercileCutCtes(src: String): String =
    s"""hist AS (SELECT source, mean_micro, CAST(count(*) AS BIGINT) AS c
      FROM $src GROUP BY source, mean_micro),
    cum AS (SELECT source, mean_micro,
      CAST(sum(c) OVER (PARTITION BY source ORDER BY mean_micro) AS BIGINT)
        AS cum,
      CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
      FROM hist),
    cuts AS (SELECT source,
      min(CASE WHEN cum * 3 >= n THEN mean_micro END) AS cut1,
      min(CASE WHEN cum * 3 >= n * 2 THEN mean_micro END) AS cut2
      FROM cum GROUP BY source)"""

  /** [[assignBucket]]'s SQL twin (over aliases `mm` LEFT JOIN `cuts`). */
  private val bucketCaseSql: String =
    """CASE WHEN cuts.cut1 IS NULL THEN 3
      WHEN mm.mean_micro <= cuts.cut1 THEN 1
      WHEN mm.mean_micro <= cuts.cut2 THEN 2 ELSE 3 END"""

  // materializeCtes: `mm` (whose prefix is the whole scoring chain) is
  // referenced by both the histogram path and the bucket assignment —
  // DuckDB's default inlining would re-run the corpus scoring per
  // reference (the q138 lesson).
  lazy val q172Sql: String = graft.queries.SqlDefs.materializeCtes(
    s"""WITH ${crossSurprisalCtes("")},
    sm AS (SELECT st.doc_id,
      coalesce(a.n_bigrams, 0) AS n_bigrams,
      coalesce(a.sum_surprisal, 0) AS sum_surprisal
      FROM st LEFT JOIN agg a USING (doc_id)),
    mm AS (SELECT ds.source, sm.doc_id, sm.n_bigrams,
      CASE WHEN sm.n_bigrams > 0
        THEN (1000000 * sm.sum_surprisal) // sm.n_bigrams
        ELSE 0 END AS mean_micro
      FROM sm JOIN documents ds ON sm.doc_id = ds.doc_id),
    ${tercileCutCtes("mm")},
    bk AS (SELECT mm.source,
      $bucketCaseSql AS bucket,
      mm.n_bigrams
      FROM mm LEFT JOIN cuts ON mm.source = cuts.source),
    ag AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams
      FROM bk GROUP BY source, bucket)
    SELECT source, CAST(bucket AS BIGINT) AS bucket,
      CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        ELSE 'tail' END AS tier,
      n_docs, n_bigrams,
      (1000 * n_docs) //
        CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT)
        AS doc_share_permille
    FROM ag ORDER BY source, bucket""")

  // --- q172b: stored-cut bucket drift → recut decision ---------------------
  // The operational loop around q172's dial: CCNet-style thresholds are
  // computed ONCE on a reference snapshot and then applied to every new
  // crawl — nobody re-sorts the corpus per ingest. Snapshot A (the
  // q71/q155 carve) trains the bigram model (its even-content-hash
  // half), fixes the per-source tercile cuts, and records its own
  // head/tail shares — and all three are DURABLE StoredRelations
  // artifacts (the q159b/q152 pattern), so the LIVE path touches only
  // snapshot B: score B under the stored model, bucket with the stored
  // cuts, compare against the stored A shares. O(B + model), never
  // O(A∪B); the ORACLE recomputes the whole thing from scratch in one
  // fused-key ladder pass, so a stale artifact, a model/cut drift, or a
  // share mismatch anywhere breaks the hash (and CorpusPolicySpec
  // row-compares the stored path against the fused from-scratch twin).
  // If B's head/tail shares drift past RecutDriftPermille the decision
  // row says recut — the q158 drift→decision shape applied to the
  // quality dial instead of an index.
  // Asymmetric sources stay IN the report: a source new in B has no
  // stored cuts, so assignBucket's NULL branch tails its whole mass —
  // drift 1000‰, recut fires (the maximal-drift case a monitor exists
  // for); a source that vanished in B keeps its stored A shares against
  // zero B shares, which also clears the threshold.
  val RecutDriftPermille = 50L

  /** Version for the three stored reference-snapshot artifacts — bump
    * when the carve, model rule, or cut rule changes semantics.
    */
  private val PplStoreVersion = "1:carve=inA,model=evenCharHash,cuts=terciles"

  /** Snapshot A's trained bigram model, stored `(w1, w2, btf, ctf1)`. */
  private[graft] def pplModelBase(spark: SparkSession, dir: String): DataFrame =
    graft.sources.StoredRelations.readOrBuild(spark, "ppl_model_baseA",
      Seq(s"$dir/documents.parquet"), PplStoreVersion) {
      import CurationQueries.Snapshots
      val a = Tables.documents(spark, dir).where(Snapshots.inA)
      TextAnalysisOps.bigramModel(
        a.where(HashOps.charHash(col("text")) % 2 === 0))
    }

  private def snapshotA(spark: SparkSession, dir: String): DataFrame = {
    import CurationQueries.Snapshots
    Tables.documents(spark, dir).where(Snapshots.inA)
      .select(col("doc_id"), col("source"), col("text"))
  }

  /** Snapshot A's stored tercile cuts `(source, cut1, cut2)`. */
  private[graft] def pplCutsBase(spark: SparkSession, dir: String): DataFrame =
    graft.sources.StoredRelations.readOrBuild(spark, "ppl_cuts_baseA",
      Seq(s"$dir/documents.parquet"), PplStoreVersion) {
      tercileCuts(
        surprisalMeans(pplModelBase(spark, dir), snapshotA(spark, dir))
          .select(col("source"), col("mean_micro")))
    }

  /** Snapshot A's stored `(source, bucket, share)` doc shares under its
    * own cuts — the reference vector the drift is measured against.
    */
  private[graft] def pplSharesBase(spark: SparkSession, dir: String): DataFrame =
    graft.sources.StoredRelations.readOrBuild(spark, "ppl_shares_baseA",
      Seq(s"$dir/documents.parquet"), PplStoreVersion) {
      bucketShares(
        surprisalMeans(pplModelBase(spark, dir), snapshotA(spark, dir)),
        pplCutsBase(spark, dir))
    }

  /** `(source, bucket, share)` of a means relation under given cuts —
    * shared by the stored A-side builder and the live B-side scoring.
    */
  private def bucketShares(means: DataFrame, cuts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    assignBucket(means.join(broadcast(cuts), Seq("source"), "left"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("src_docs",
        sum(col("n_docs")).over(Window.partitionBy("source")))
      .select(col("source"), col("bucket"),
        expr("(1000 * n_docs) div src_docs").as("share"))
  }

  private def pivotShares(shares: DataFrame, side: String): DataFrame =
    shares.groupBy("source").agg(
      sum(when(col("bucket") === 1, col("share")).otherwise(0L))
        .as(s"head_${side}_permille"),
      sum(when(col("bucket") === 3, col("share")).otherwise(0L))
        .as(s"tail_${side}_permille"))

  /** Session memo for the drift report: q172b emits it and q175's
    * datasheet restates its verdict; S collected rows, the mixtureRows
    * bound. [[SessionMemos.evictAll]] clears it for the cold pass (the
    * stored artifacts deliberately survive — they are the warehouse).
    */
  private val driftRows =
    Memo((spark, d) => bucketDriftLive(spark, d).collect().toSeq)

  private val DriftSchema = org.apache.spark.sql.types.StructType(
    Seq("source" -> org.apache.spark.sql.types.StringType,
      "head_a_permille" -> org.apache.spark.sql.types.LongType,
      "tail_a_permille" -> org.apache.spark.sql.types.LongType,
      "head_b_permille" -> org.apache.spark.sql.types.LongType,
      "tail_b_permille" -> org.apache.spark.sql.types.LongType,
      "drift_permille" -> org.apache.spark.sql.types.LongType,
      "recut" -> org.apache.spark.sql.types.BooleanType
    ).map { case (n, t) =>
      org.apache.spark.sql.types.StructField(n, t, nullable = true) })

  def q172bBucketDrift(spark: SparkSession, dir: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(driftRows(spark, dir), 1), DriftSchema)
      .orderBy("source")

  private def bucketDriftLive(spark: SparkSession, dir: String): DataFrame = {
    import CurationQueries.Snapshots
    val b = Tables.documents(spark, dir).where(Snapshots.inB)
      .select(col("doc_id"), col("source"), Snapshots.textB.as("text"))
    val sharesB = bucketShares(
      surprisalMeans(pplModelBase(spark, dir), b), pplCutsBase(spark, dir))
    pivotShares(pplSharesBase(spark, dir), "a")
      .join(pivotShares(sharesB, "b"), Seq("source"), "full")
      .select(col("source"),
        coalesce(col("head_a_permille"), lit(0L)).as("head_a_permille"),
        coalesce(col("tail_a_permille"), lit(0L)).as("tail_a_permille"),
        coalesce(col("head_b_permille"), lit(0L)).as("head_b_permille"),
        coalesce(col("tail_b_permille"), lit(0L)).as("tail_b_permille"))
      .withColumn("drift_permille",
        abs(col("head_b_permille") - col("head_a_permille")) +
          abs(col("tail_b_permille") - col("tail_a_permille")))
      .withColumn("recut", col("drift_permille") >= RecutDriftPermille)
      .orderBy("source")
  }

  /** The fused-key from-scratch twin of [[q172bBucketDrift]] — both
    * snapshots through ONE scoring-ladder pass with nothing stored.
    * CorpusPolicySpec row-compares the stored path against this (the
    * StoredPairsSpec merge≡recompute pattern); it is not a registry
    * entry.
    */
  private[graft] def bucketDriftScratch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import CurationQueries.Snapshots
    val docs = Tables.documents(spark, dir)
    val a = docs.where(Snapshots.inA)
      .select((col("doc_id") * 2).as("skey"), col("text"), col("source"))
    val b = docs.where(Snapshots.inB)
      .select((col("doc_id") * 2 + 1).as("skey"),
        Snapshots.textB.as("text"), col("source"))
    val all = a.unionByName(b)
    val model = a.where(HashOps.charHash(col("text")) % 2 === 0)
    val means = graft.CacheScope.persist(
      surprisalMeans(TextAnalysisOps.bigramModel(model), all, idCol = "skey")
        .select(col("skey"), (col("skey") % 2).as("snap"), col("source"),
          col("mean_micro")))
    val cuts = tercileCuts(means.where(col("snap") === 0)
      .select(col("source"), col("mean_micro")))
    val bucketed = assignBucket(
      means.join(broadcast(cuts), Seq("source"), "left"))
    val ag = bucketed.groupBy("snap", "source", "bucket")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("snap_docs",
        sum(col("n_docs")).over(Window.partitionBy("snap", "source")))
      .select(col("snap"), col("source"), col("bucket"),
        expr("(1000 * n_docs) div snap_docs").as("share"))
    def shareOf(snap: Int, bucket: Int) =
      sum(when(col("snap") === snap && col("bucket") === bucket,
        col("share")).otherwise(0L))
    ag.groupBy("source").agg(
      shareOf(0, 1).as("head_a_permille"),
      shareOf(0, 3).as("tail_a_permille"),
      shareOf(1, 1).as("head_b_permille"),
      shareOf(1, 3).as("tail_b_permille"))
      .withColumn("drift_permille",
        abs(col("head_b_permille") - col("head_a_permille")) +
          abs(col("tail_b_permille") - col("tail_a_permille")))
      .withColumn("recut", col("drift_permille") >= RecutDriftPermille)
      .orderBy("source")
  }

  lazy val q172bSql: String = {
    import CurationQueries.Snapshots
    val h = graft.ops.HashOps.charHashSql("text")
    val hb = graft.ops.HashOps.charHashSql("text2")
    graft.queries.SqlDefs.materializeCtes(
    s"""WITH ${crossSurprisalLadder(
      s"""SELECT doc_id * 2 AS skey, text, source, $h AS h
        FROM documents WHERE ${Snapshots.inASql}
        UNION ALL
        SELECT doc_id * 2 + 1 AS skey, text2 AS text, source, $hb AS h
        FROM (SELECT doc_id, ${Snapshots.textBSql} AS text2, source
          FROM documents WHERE ${Snapshots.inBSql})""",
      " WHERE h % 2 = 0 AND skey % 2 = 0", "", "skey")},
    sm AS (SELECT st.skey,
      coalesce(a.n_bigrams, 0) AS n_bigrams,
      coalesce(a.sum_surprisal, 0) AS sum_surprisal
      FROM st LEFT JOIN agg a USING (skey)),
    mm AS (SELECT d.source, sm.skey, sm.skey % 2 AS snap,
      CASE WHEN sm.n_bigrams > 0
        THEN (1000000 * sm.sum_surprisal) // sm.n_bigrams
        ELSE 0 END AS mean_micro
      FROM sm JOIN d ON sm.skey = d.skey),
    ${tercileCutCtes("(SELECT source, mean_micro FROM mm WHERE snap = 0)")},
    bk AS (SELECT mm.snap, mm.source,
      $bucketCaseSql AS bucket
      FROM mm LEFT JOIN cuts ON mm.source = cuts.source),
    ag AS (SELECT snap, source, bucket, CAST(count(*) AS BIGINT) AS n_docs
      FROM bk GROUP BY snap, source, bucket),
    sh AS (SELECT snap, source, bucket,
      (1000 * n_docs) //
        CAST(sum(n_docs) OVER (PARTITION BY snap, source) AS BIGINT)
        AS share
      FROM ag),
    pv AS (SELECT source,
      CAST(sum(CASE WHEN snap = 0 AND bucket = 1 THEN share ELSE 0 END)
        AS BIGINT) AS head_a_permille,
      CAST(sum(CASE WHEN snap = 0 AND bucket = 3 THEN share ELSE 0 END)
        AS BIGINT) AS tail_a_permille,
      CAST(sum(CASE WHEN snap = 1 AND bucket = 1 THEN share ELSE 0 END)
        AS BIGINT) AS head_b_permille,
      CAST(sum(CASE WHEN snap = 1 AND bucket = 3 THEN share ELSE 0 END)
        AS BIGINT) AS tail_b_permille
      FROM sh GROUP BY source)
    SELECT source, head_a_permille, tail_a_permille,
      head_b_permille, tail_b_permille,
      abs(head_b_permille - head_a_permille) +
        abs(tail_b_permille - tail_a_permille) AS drift_permille,
      abs(head_b_permille - head_a_permille) +
        abs(tail_b_permille - tail_a_permille) >= $RecutDriftPermille
        AS recut
    FROM pv ORDER BY source""")
  }

  // --- q65b: classifier calibration against the rule battery --------------
  // The ML-eval step after training a quality classifier (q65) and
  // declaring a rule battery (q88): a CALIBRATION CURVE — documents
  // bucketed by classifier score (width-20 bins), per bin the count and
  // the fraction the independent Gopher rules would keep. A monotone
  // keep-rate over score bins is what "the classifier learned quality"
  // means operationally; a flat curve says the score is noise (the
  // fixture's hashed toy weights sit closer to the latter — the operator
  // is the contract, the fixture is the worst case). Composition query:
  // both legs are existing verified operators joined on doc_id; the
  // oracle nests both legs' published SQL verbatim, so the calibration
  // can never drift from what q65/q88 individually verify. All-integer
  // (floor-div bins, 1e6-scaled rate).
  val CalibrationBinWidth = 20L

  def q65bCalibration(spark: SparkSession, dir: String): DataFrame = {
    val scores = TextAnalysisOps.qualityClassify(Tables.documents(spark, dir),
      TextAnalysisOps.classifierWeights(spark))
      .select(col("doc_id"), col("score"))
    val keeps = TextAnalysisOps.gopherRules(Tables.documents(spark, dir))
      .select(col("doc_id"), col("keep"))
    scores.join(keeps, "doc_id")
      // floor toward -inf so negative scores bin consistently with the
      // oracle's // (both are floor division)
      .select(floor(col("score").cast("double") / CalibrationBinWidth)
        .cast("long").as("score_bin"), col("keep"))
      .groupBy("score_bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_rule_keep"))
      .withColumn("keep_rate_micro",
        expr("(1000000 * n_rule_keep) div n_docs"))
      .orderBy("score_bin")
  }

  // lazy: interpolates q65Sql/q88Sql declared further down the object —
  // a strict val here would capture nulls (initialization order)
  lazy val q65bSql: String =
    s"""WITH sc AS (SELECT doc_id, score FROM ($q65Sql)),
    kp AS (SELECT doc_id, keep FROM ($q88Sql))
    SELECT CAST(floor(CAST(score AS DOUBLE) / $CalibrationBinWidth) AS BIGINT)
        AS score_bin,
      count(*) AS n_docs,
      CAST(sum(keep) AS BIGINT) AS n_rule_keep,
      (1000000 * CAST(sum(keep) AS BIGINT)) // count(*) AS keep_rate_micro
    FROM sc JOIN kp USING (doc_id)
    GROUP BY 1 ORDER BY score_bin"""

  // --- q90c: interpolated Kneser-Ney familiarity -------------------------
  // See TextAnalysisOps.knBigramModel: real KN smoothing (Chen-Goodman
  // eq. 4.27, D = 3/4) in exact integer micro-units — the continuation-
  // count statistic q90's raw log2 buckets can't express. Self-scored,
  // so every doc bigram is in the model by construction.
  def q90cKneserNey(spark: SparkSession, dir: String): DataFrame =
    TextAnalysisOps.knSurprisalFromCounts(tokedIds(spark, dir),
      bigramDocCounts(spark, dir))
      .orderBy("doc_id")

  val q90cSql: String = {
    val dn = TextAnalysisOps.KnDiscountNum
    val dd = TextAnalysisOps.KnDiscountDen
    s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
    bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)),
    dt AS (SELECT doc_id, w1, w2, count(*) AS k FROM bg GROUP BY doc_id, w1, w2),
    bt AS (SELECT w1, w2, CAST(sum(k) AS BIGINT) AS btf FROM dt GROUP BY w1, w2),
    ut AS (SELECT w1, CAST(sum(btf) AS BIGINT) AS cw1,
      CAST(count(*) AS BIGINT) AS n1p FROM bt GROUP BY w1),
    ct AS (SELECT w2, CAST(count(*) AS BIGINT) AS ncont FROM bt GROUP BY w2),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS t_types FROM bt),
    m AS (SELECT w1, w2,
      (1000000 * (($dd * btf - $dn) * t_types + $dn * n1p * ncont)) //
        ($dd * cw1 * t_types) AS p_micro
      FROM bt JOIN ut USING (w1) JOIN ct USING (w2) CROSS JOIN tot),
    sc AS (SELECT dt.doc_id, dt.k, m.p_micro
      FROM dt JOIN m USING (w1, w2)),
    agg AS (SELECT doc_id,
      CAST(sum(k) AS BIGINT) AS n_bigrams,
      CAST(sum(k * p_micro) AS BIGINT) AS sum_p_micro,
      CAST(min(p_micro) AS BIGINT) AS min_p_micro
      FROM sc GROUP BY doc_id)
    SELECT t.doc_id,
      coalesce(a.n_bigrams, 0) AS n_bigrams,
      coalesce(a.sum_p_micro, 0) AS sum_p_micro,
      coalesce(a.min_p_micro, 0) AS min_p_micro
    FROM t LEFT JOIN agg a ON t.doc_id = a.doc_id ORDER BY t.doc_id"""
  }

  // --- q88: Gopher document-quality rule battery -------------------------
  // The published pretraining filter battery (Rae et al. 2021 §A1.1) as
  // one codegen'd scan: per-rule 0/1 flags + keep, every ratio rule in
  // exact cross-multiplied integer form. On this fixture the line/symbol
  // rules are constant-pass (the synthetic text has no newlines or
  // symbol glyphs — TextAnalysisSpec exercises them on handcrafted
  // multi-line docs) while word-count / mean-word-length / alpha /
  // stop-word flags vary document-to-document; thresholds are the
  // paper's, not tuned to the fixture.
  def q88GopherRules(spark: SparkSession, dir: String): DataFrame =
    TextAnalysisOps.gopherRules(Tables.documents(spark, dir))
      .orderBy("doc_id")

  val q88Sql: String = {
    val stops = TextAnalysisOps.GopherStopWords
      .map(w => s"list_contains(lt, '$w')::INT").mkString(" + ")
    s"""WITH t AS (SELECT doc_id, text, ${toksSql("text")} AS toks,
      string_split(text, chr(10)) AS lines FROM documents),
    t2 AS (SELECT doc_id, text, toks, lines,
      list_transform(toks, w -> lower(w)) AS lt FROM t),
    s AS (SELECT doc_id,
      CAST(len(toks) AS BIGINT) AS n_words,
      CAST(coalesce(list_aggregate(
        list_transform(toks, w -> length(w)), 'sum'), 0) AS BIGINT)
        AS sum_word_chars,
      CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]')))
        AS BIGINT) AS n_alpha_words,
      CAST($stops AS BIGINT) AS n_stop_present,
      CAST(len(lines) AS BIGINT) AS n_lines,
      CAST(len(list_filter(lines, l ->
        left(ltrim(l), 1) IN ('•', '-', '*'))) AS BIGINT) AS n_bullet_lines,
      CAST(len(list_filter(lines, l ->
        rtrim(l) LIKE '%…' OR rtrim(l) LIKE '%...')) AS BIGINT)
        AS n_ellipsis_lines,
      CAST((length(text) - length(replace(text, '#', ''))) +
        (length(text) - length(replace(text, '…', ''))) +
        CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT)
        AS BIGINT) AS n_symbol_marks
      FROM t2)
    SELECT doc_id, n_words, sum_word_chars, n_alpha_words, n_stop_present,
      n_lines, n_bullet_lines, n_ellipsis_lines, n_symbol_marks,
      CAST(n_words >= ${TextAnalysisOps.GopherMinWords}
        AND n_words <= ${TextAnalysisOps.GopherMaxWords} AS BIGINT)
        AS r_word_count,
      CAST(n_words > 0
        AND sum_word_chars >= ${TextAnalysisOps.GopherMinMeanLen} * n_words
        AND sum_word_chars <= ${TextAnalysisOps.GopherMaxMeanLen} * n_words
        AS BIGINT) AS r_mean_word_len,
      CAST(10 * n_symbol_marks <= n_words AS BIGINT) AS r_symbol_ratio,
      CAST(10 * n_bullet_lines <= n_lines AS BIGINT) AS r_bullet_lines,
      CAST(10 * n_ellipsis_lines <= 3 * n_lines AS BIGINT)
        AS r_ellipsis_lines,
      CAST(5 * n_alpha_words >= 4 * n_words AS BIGINT) AS r_alpha_words,
      CAST(n_stop_present >= ${TextAnalysisOps.GopherMinStopHits} AS BIGINT)
        AS r_stop_words,
      CAST((n_words >= ${TextAnalysisOps.GopherMinWords}
          AND n_words <= ${TextAnalysisOps.GopherMaxWords})::INT *
        (n_words > 0
          AND sum_word_chars >= ${TextAnalysisOps.GopherMinMeanLen} * n_words
          AND sum_word_chars <= ${TextAnalysisOps.GopherMaxMeanLen} * n_words)::INT *
        (10 * n_symbol_marks <= n_words)::INT *
        (10 * n_bullet_lines <= n_lines)::INT *
        (10 * n_ellipsis_lines <= 3 * n_lines)::INT *
        (5 * n_alpha_words >= 4 * n_words)::INT *
        (n_stop_present >= ${TextAnalysisOps.GopherMinStopHits})::INT
        AS BIGINT) AS keep
    FROM s ORDER BY doc_id"""
  }

  // --- q162: exact per-source length quantiles -----------------------------
  // The context-window / packing-config evidence (q69's chunk size,
  // q58's shard budget, q89's curriculum bins are all dials someone sets
  // from a length distribution): per source, the EXACT p10/p50/p90
  // token counts by rank selection — rank `floor((n-1)*p/100) + 1` in
  // (n_tokens, doc_id) order, the deterministic discrete quantile both
  // engines compute identically (approximate-percentile sketches don't
  // hash-verify; exact rank selection does). One window pass partitioned
  // by source; at scale each source sorts independently, and the output
  // is S rows.
  def q162LengthQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n_tokens").asc, col("doc_id").asc)
    val cw = org.apache.spark.sql.expressions.Window.partitionBy("source")
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(graft.ops.TextOps.tokenize(col("text"))).cast("long")
          .as("n_tokens"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_docs", count(lit(1)).over(cw))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("rn"))
      .groupBy(col("source"), col("n_docs"))
      .agg(
        max(when(col("rn") === expr("(n_docs - 1) * 10 DIV 100 + 1"),
          col("n_tokens"))).as("p10_tokens"),
        max(when(col("rn") === expr("(n_docs - 1) * 50 DIV 100 + 1"),
          col("n_tokens"))).as("p50_tokens"),
        max(when(col("rn") === expr("(n_docs - 1) * 90 DIV 100 + 1"),
          col("n_tokens"))).as("p90_tokens"))
      .orderBy("source")
  }

  val q162Sql: String =
    s"""WITH t AS (SELECT source, doc_id,
      CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens
      FROM documents),
    r AS (SELECT source, n_tokens,
      row_number() OVER (PARTITION BY source
        ORDER BY n_tokens ASC, doc_id ASC) AS rn,
      CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_docs
      FROM t)
    SELECT source, n_docs,
      max(CASE WHEN rn = (n_docs - 1) * 10 // 100 + 1 THEN n_tokens END)
        AS p10_tokens,
      max(CASE WHEN rn = (n_docs - 1) * 50 // 100 + 1 THEN n_tokens END)
        AS p50_tokens,
      max(CASE WHEN rn = (n_docs - 1) * 90 // 100 + 1 THEN n_tokens END)
        AS p90_tokens
    FROM r GROUP BY source, n_docs ORDER BY source"""

  // --- q162b: the same quantile dial via approx_percentile ----------------
  // q162's routed-AT-SCALE rung (the q68/q68b two-rung pattern applied
  // to the packing dial): exact rank selection sorts every source's
  // slice; the Greenwald-Khanna sketch reads the same p10/p50/p90 in one
  // aggregation pass with NO per-source sort and a bounded rank-error
  // guarantee (<= n/accuracy, unit-gated in MedianNarrowingSpec's
  // sibling test for this query). Rows-only tier — a sketch result is
  // approximate by construction, so its contract is the error bound, not
  // a hash.
  def q162bLengthQuantilesApprox(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        size(graft.ops.TextOps.tokenize(col("text"))).cast("long")
          .as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        percentile_approx(col("n_tokens"), lit(0.1),
          lit(CurationQueries.PctAccuracy)).as("p10_tokens"),
        percentile_approx(col("n_tokens"), lit(0.5),
          lit(CurationQueries.PctAccuracy)).as("p50_tokens"),
        percentile_approx(col("n_tokens"), lit(0.9),
          lit(CurationQueries.PctAccuracy)).as("p90_tokens"))
      .orderBy("source")

  // --- q23: document fingerprints (rolling hash) -------------------------
  def q23Fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), TextOps.tokenize(col("text")).as("toks"))
      .select(col("doc_id"),
        HashOps.charHash(col("text")).as("char_fp"),
        HashOps.rollingFingerprint(col("toks")).as("token_fp"))
      .orderBy("doc_id")

  val q23Sql: String =
    s"""WITH t AS (SELECT doc_id, text, ${toksSql("text")} AS toks FROM documents)
    SELECT doc_id, ${HashOps.charHashSql("text")} AS char_fp,
      ${HashOps.rollingFingerprintSql("toks")} AS token_fp
    FROM t ORDER BY doc_id"""

  // --- q23b: PII redaction over the corpus -------------------------------
  // The synthetic fixture contains no PII, so redaction is the identity on
  // it — the oracle still verifies both engines apply the exact same
  // transform; the behavioral coverage is in TextAnalysisSpec.
  def q23bRedact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalysisOps.redactPii(col("text")).as("redacted"))
      .select(col("doc_id"), length(col("redacted")).cast("long").as("n_chars"))
      .orderBy("doc_id")

  val q23bSql: String = {
    val redacted = TextAnalysisOps.PiiPatterns.foldLeft("text") {
      case (c, (pat, repl)) =>
        val p = pat.replace("\\", "\\\\").replace("'", "''")
        s"regexp_replace($c, '$p', '$repl', 'g')"
    }
    s"""SELECT doc_id, CAST(length($redacted) AS BIGINT) AS n_chars
    FROM documents ORDER BY doc_id"""
  }

  // --- q21b: Gopher repetition profile -----------------------------------
  // Char-fraction repetition filters (top 2-gram, duplicated 5-grams,
  // duplicate sentences) computed in the explode→count shape; semantics in
  // TextAnalysisOps.repetitionProfile.
  def q21bRepetition(spark: SparkSession, dir: String): DataFrame =
    TextAnalysisOps.repetitionProfile(Tables.documents(spark, dir))
      .orderBy("doc_id")

  val q21bSql: String =
    raw"""WITH d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
    t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM d),
    g2 AS (SELECT doc_id, unnest(list_transform(range(0, len(toks) - 1),
        i -> array_to_string(toks[(CAST(i AS INT)+1):(CAST(i AS INT)+2)], ' '))) AS gram
      FROM t WHERE len(toks) >= 2),
    c2 AS (SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY doc_id, gram),
    s2 AS (SELECT doc_id, max(cnt * length(gram)) AS top_bigram_chars
      FROM c2 GROUP BY doc_id),
    g5 AS (SELECT doc_id, unnest(list_transform(range(0, len(toks) - 4),
        i -> array_to_string(toks[(CAST(i AS INT)+1):(CAST(i AS INT)+5)], ' '))) AS gram
      FROM t WHERE len(toks) >= 5),
    c5 AS (SELECT doc_id, gram, count(*) AS cnt FROM g5 GROUP BY doc_id, gram),
    s5 AS (SELECT doc_id,
        CAST(sum(CASE WHEN cnt > 1 THEN cnt * length(gram) ELSE 0 END) AS BIGINT)
          AS dup_5gram_chars
      FROM c5 GROUP BY doc_id),
    sen AS (SELECT doc_id, trim(s) AS sentence
      FROM (SELECT doc_id, unnest(string_split_regex(text, '[.!?]+')) AS s FROM d)
      WHERE length(trim(s)) > 10),
    ss AS (SELECT doc_id, count(*) AS n_sentences,
        count(DISTINCT sentence) AS n_distinct_sentences
      FROM sen GROUP BY doc_id),
    q AS (SELECT b.doc_id,
        CAST(length(b.text) AS BIGINT) AS n_chars,
        CAST(coalesce(s2.top_bigram_chars, 0) AS BIGINT) AS top_bigram_chars,
        CASE WHEN length(b.text) > 0
          THEN CAST(coalesce(s2.top_bigram_chars, 0) AS DOUBLE) / length(b.text)
          ELSE 0.0 END AS top_bigram_char_frac,
        CAST(coalesce(s5.dup_5gram_chars, 0) AS BIGINT) AS dup_5gram_chars,
        CASE WHEN length(b.text) > 0
          THEN CAST(coalesce(s5.dup_5gram_chars, 0) AS DOUBLE) / length(b.text)
          ELSE 0.0 END AS dup_5gram_char_frac,
        CAST(coalesce(ss.n_sentences, 0) AS BIGINT) AS n_sentences,
        CASE WHEN coalesce(ss.n_sentences, 0) > 0
          THEN 1.0 - CAST(ss.n_distinct_sentences AS DOUBLE) / ss.n_sentences
          ELSE 0.0 END AS dup_sentence_frac
      FROM d b
      LEFT JOIN s2 ON b.doc_id = s2.doc_id
      LEFT JOIN s5 ON b.doc_id = s5.doc_id
      LEFT JOIN ss ON b.doc_id = ss.doc_id)
    SELECT *, (top_bigram_char_frac <= 0.20 AND dup_5gram_char_frac <= 0.15
      AND dup_sentence_frac <= 0.30) AS repetition_pass
    FROM q ORDER BY doc_id"""

  // --- q63: conjunctive keyword search (inverted-index top-k) ------------
  // All-integer retrieval ranking; semantics and scale shape in
  // TextAnalysisOps.keywordSearch. Terms chosen for real conjunction
  // frequency in the fixture corpus.
  val SearchTerms = Seq("hash", "join", "scan")
  val SearchTopK = 10

  def q63KeywordSearch(spark: SparkSession, dir: String): DataFrame =
    TextAnalysisOps.keywordSearch(
      Tables.documents(spark, dir), SearchTerms, SearchTopK)

  val q63Sql: String = {
    // mirror keywordSearch's term handling exactly: case-fold BEFORE both
    // the IN list and the conjunction count, and quote-escape the
    // literals — diverging here would desynchronize engine and oracle the
    // moment a term with uppercase (or a quote) is configured
    val folded = SearchTerms.map(_.toLowerCase).distinct
    val inList = folded.map(t => s"'${t.replace("'", "''")}'")
      .mkString("(", ", ", ")")
    raw"""WITH p AS (
      SELECT doc_id, unnest(${toksSql("lower(coalesce(text, ''))")}) AS term
      FROM documents),
    g AS (SELECT doc_id, term, count(*) AS tf
      FROM p WHERE term IN $inList GROUP BY doc_id, term),
    a AS (SELECT doc_id, count(DISTINCT term) AS n_terms,
        CAST(sum(tf) AS BIGINT) AS total_tf
      FROM g GROUP BY doc_id)
    SELECT doc_id, total_tf FROM a
    WHERE n_terms = ${folded.size}
    ORDER BY total_tf DESC, doc_id LIMIT $SearchTopK"""
  }

  // --- q63b: ranked disjunctive retrieval (integer-idf BM25 shape) -------
  // Semantics and scale shape in TextAnalysisOps.rankedSearch. 'dup' is
  // the fixture's one genuinely rare term (df 25 of 500 vs ~380 for the
  // common vocabulary), so the idf buckets separate for real: rarity
  // outranks raw repetition of common terms.
  val RankedTerms = Seq("dup", "value", "scan")
  val RankedTfCap = 3
  val RankedIdfBoost = 4
  val RankedTopK = 10

  def q63bRankedSearch(spark: SparkSession, dir: String): DataFrame =
    TextAnalysisOps.rankedSearch(Tables.documents(spark, dir),
      RankedTerms, RankedTfCap, RankedIdfBoost, RankedTopK)

  val q63bSql: String = {
    val folded = RankedTerms.map(_.toLowerCase).distinct
    val inList = folded.map(t => s"'${t.replace("'", "''")}'")
      .mkString("(", ", ", ")")
    raw"""WITH p AS (
      SELECT doc_id, unnest(${toksSql("lower(coalesce(text, ''))")}) AS term
      FROM documents),
    g AS (SELECT doc_id, term, count(*) AS tf
      FROM p WHERE term IN $inList GROUP BY doc_id, term),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    w AS (SELECT d.term,
        $RankedIdfBoost * (length(format('{:b}', n.n_docs))
          - length(format('{:b}', d.df))) + 1 AS w
      FROM (SELECT term, count(*) AS df FROM g GROUP BY term) d, nd n),
    s AS (SELECT g.doc_id,
        CAST(sum(least(g.tf, $RankedTfCap) * w.w) AS BIGINT) AS score,
        count(*) AS n_terms
      FROM g JOIN w USING (term) GROUP BY g.doc_id)
    SELECT doc_id, score, n_terms FROM s
    ORDER BY score DESC, doc_id LIMIT $RankedTopK"""
  }

  // --- q63c: full Okapi BM25 with length normalization --------------------
  // See TextAnalysisOps.bm25Search: q63b's ranking upgraded with the real
  // saturation + dl/avgdl normalization as exact rationals (k1=6/5,
  // b=3/4). Same query terms, so the two rankings are directly
  // comparable; a short doc's hit now outranks a long doc's diluted one.
  def q63cBm25(spark: SparkSession, dir: String): DataFrame =
    TextAnalysisOps.bm25Search(Tables.documents(spark, dir),
      RankedTerms, RankedIdfBoost, RankedTopK)

  val q63cSql: String = {
    val folded = RankedTerms.map(_.toLowerCase).distinct
    val inList = folded.map(t => s"'${t.replace("'", "''")}'")
      .mkString("(", ", ", ")")
    raw"""WITH d AS (
      SELECT doc_id, ${toksSql("lower(coalesce(text, ''))")} AS toks
      FROM documents),
    dd AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d),
    p AS (SELECT doc_id, dl, unnest(toks) AS term FROM dd),
    g AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
      FROM p WHERE term IN $inList GROUP BY doc_id, dl, term),
    c AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(dl) AS BIGINT) AS l_total FROM dd),
    w AS (SELECT f.term,
        CAST($RankedIdfBoost * (length(format('{:b}', c.n_docs))
          - length(format('{:b}', f.df))) + 1 AS BIGINT) AS w,
        c.n_docs, c.l_total
      FROM (SELECT term, count(*) AS df FROM g GROUP BY term) f, c),
    s AS (SELECT g.doc_id,
        CAST(sum(w.w * ((1000000 * 44 * w.l_total * g.tf) //
          (20 * w.l_total * g.tf + 6 * w.l_total + 18 * g.dl * w.n_docs)))
          AS BIGINT) AS score_micro,
        CAST(count(*) AS BIGINT) AS n_terms,
        CAST(max(g.dl) AS BIGINT) AS dl
      FROM g JOIN w USING (term) GROUP BY g.doc_id)
    SELECT doc_id, score_micro, n_terms, dl FROM s
    ORDER BY score_micro DESC, doc_id LIMIT $RankedTopK"""
  }

  // --- q118: lexical more-like-this (sparse doc-to-doc similarity) ---------
  // See TextAnalysisOps.moreLikeThis: tf-idf-weighted token dot product
  // through the inverted index, mass-normalized, integer-exact except one
  // final IEEE division — the Lucene-MLT shape, the lexical complement
  // to the embedding kNN ladder (q29 family). The df cap that keeps
  // stop-terms out of the pairing is PART of the verified semantics (the
  // oracle mirrors it). Every 25th doc queries; top-5 neighbors each.
  val MltEveryNth = 25
  val MltTopK = 5
  val MltTfCap = 8
  val MltIdfBoost = 4
  val MltDfCap = 450L // drop terms present in >90% of the 500-doc fixture

  def q118MoreLikeThis(spark: SparkSession, dir: String): DataFrame =
    TextAnalysisOps.moreLikeThisFromPostings(
      tokedDocs(spark, dir).agg(count(lit(1)).as("n_docs")),
      lowerPostings(spark, dir),
      MltEveryNth, MltTopK, MltTfCap, MltIdfBoost, MltDfCap)
      .orderBy("query_id", "rk")

  val q118Sql: String =
    raw"""WITH p AS (
      SELECT doc_id, unnest(${toksSql("lower(coalesce(text, ''))")}) AS term
      FROM documents),
    g AS (SELECT doc_id, term, count(*) AS tf FROM p GROUP BY doc_id, term),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    w AS (SELECT d.term,
        $MltIdfBoost * (length(format('{:b}', n.n_docs))
          - length(format('{:b}', d.df))) + 1 AS w
      FROM (SELECT term, count(*) AS df FROM g GROUP BY term
            HAVING count(*) <= $MltDfCap) d, nd n),
    wp AS (SELECT g.doc_id, g.term,
        least(g.tf, $MltTfCap) * w.w AS wdt
      FROM g JOIN w USING (term)),
    mass AS (SELECT doc_id, sum(wdt) AS mass FROM wp GROUP BY doc_id),
    dots AS (
      SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
        sum(q.wdt * c.wdt) AS dot
      FROM wp q JOIN wp c ON q.term = c.term AND q.doc_id <> c.doc_id
      WHERE q.doc_id % $MltEveryNth = 0
      GROUP BY q.doc_id, c.doc_id),
    sim AS (
      SELECT d.query_id, d.cand_id,
        CAST(floor(1000000.0 * d.dot / (mq.mass * mc.mass)) AS BIGINT)
          AS sim_micro
      FROM dots d
      JOIN mass mq ON mq.doc_id = d.query_id
      JOIN mass mc ON mc.doc_id = d.cand_id),
    rk AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY sim_micro DESC, cand_id ASC) AS rk
      FROM sim)
    SELECT query_id, cand_id, sim_micro, CAST(rk AS BIGINT) AS rk
    FROM rk WHERE rk <= $MltTopK ORDER BY query_id, rk"""

  // --- q122: Luhn-validated credit-card detection ---------------------------
  // The VALIDATED detector tier past q23b's regex redaction (see
  // TextAnalysisOps.luhnValid): each doc's text gets a synthesized
  // 16-digit run whose check digit is CORRECT exactly for even doc_ids
  // (both engines derive the check digit from the same integer fold, so
  // the synthesis itself is part of the verified surface); the engine
  // re-extracts the run from the text and Luhn-validates it. Green means
  // extraction AND the full checksum arithmetic agree digit-for-digit —
  // a detector that would flag `4111111111111112` as a card fails here.
  def q122LuhnCards(spark: SparkSession, dir: String): DataFrame = {
    val base = lpad(col("doc_id").cast("string"), 15, "4")
    val staged = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), base.as("b"))
    // Luhn partial sum of the 15 payload digits at 16-digit positions:
    // position-from-right 17-i is even (doubled) exactly when i is odd
    val part = aggregate(sequence(lit(1), lit(15)), lit(0L),
      (acc, i) => {
        val d = (ascii(col("b").substr(i, lit(1))) - 48).cast("long")
        val dd = when(i % 2 === 1,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
        acc + dd
      })
    val check = (lit(10L) - part % 10) % 10
    val digit = when(col("doc_id") % 2 === 0, check)
      .otherwise((check + 1) % 10)
    val withCard = staged
      .withColumn("cand_src", concat(col("b"), digit.cast("string")))
      .withColumn("text2", concat(col("text"), lit(" card "), col("cand_src")))
    withCard
      .select(col("doc_id"),
        regexp_extract(col("text2"), "[0-9]{16}", 0).as("candidate"))
      .withColumn("luhn_valid",
        TextAnalysisOps.luhnValid(col("candidate")))
      .orderBy("doc_id")
  }

  val q122Sql: String =
    raw"""WITH s AS (
      SELECT doc_id, text, lpad(CAST(doc_id AS VARCHAR), 15, '4') AS b
      FROM documents),
    p AS (SELECT doc_id, text, b,
      list_reduce(list_transform(range(1, 16), i ->
        CASE WHEN i % 2 = 1 THEN
          CASE WHEN (ascii(substring(b, CAST(i AS INT), 1)) - 48) * 2 > 9
            THEN (ascii(substring(b, CAST(i AS INT), 1)) - 48) * 2 - 9
            ELSE (ascii(substring(b, CAST(i AS INT), 1)) - 48) * 2 END
        ELSE ascii(substring(b, CAST(i AS INT), 1)) - 48 END),
        (x, y) -> x + y) AS part
      FROM s),
    c AS (SELECT doc_id,
      text || ' card ' || b || CAST(
        CASE WHEN doc_id % 2 = 0 THEN (10 - part % 10) % 10
             ELSE ((10 - part % 10) % 10 + 1) % 10 END AS VARCHAR) AS text2
      FROM p),
    e AS (SELECT doc_id, regexp_extract(text2, '[0-9]{16}', 0) AS candidate
      FROM c),
    v AS (SELECT doc_id, candidate,
      list_reduce(list_transform(range(1, 17), i ->
        CASE WHEN (17 - i) % 2 = 0 THEN
          CASE WHEN (ascii(substring(candidate, CAST(i AS INT), 1)) - 48) * 2 > 9
            THEN (ascii(substring(candidate, CAST(i AS INT), 1)) - 48) * 2 - 9
            ELSE (ascii(substring(candidate, CAST(i AS INT), 1)) - 48) * 2 END
        ELSE ascii(substring(candidate, CAST(i AS INT), 1)) - 48 END),
        (x, y) -> x + y) AS total
      FROM e)
    SELECT doc_id, candidate, total % 10 = 0 AS luhn_valid
    FROM v ORDER BY doc_id"""

  // --- q121: corpus datasheet (one-row data card) ---------------------------
  // The "datasheet for datasets" summary row every corpus release ships:
  // sizes, vocabulary, duplication, and composition in one relation.
  // Three bounded aggregates (doc-level stats, vocabulary stats over the
  // exploded postings, distinct-text count) crossJoined as 1-row sides —
  // the scalar-broadcast shape; the only corpus-sized work is one scan +
  // one token explode.
  def q121Datasheet(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      sum(length(col("text"))).cast("long").as("n_chars"),
      sum(size(TextOps.tokenize(col("text")))).cast("long").as("n_tokens"),
      // distinct over the 62-bit content key, not the raw text: the
      // distinct-aggregate exchange carries 8 bytes per row, not the
      // corpus (HashOps.contentKey collision stance)
      countDistinct(graft.ops.HashOps.contentKey(col("text")))
        .as("n_distinct_texts"))
    val vocab = docs
      .select(explode(TextOps.tokenize(coalesce(col("text"), lit("")))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("ctf"))
      .agg(count(lit(1)).as("vocab_size"),
        sum(when(col("ctf") === 1, 1L).otherwise(0L)).as("n_hapax"))
    base.crossJoin(vocab)
      .select(col("n_docs"), col("n_sources"), col("n_langs"),
        col("n_chars"), col("n_tokens"),
        (col("n_docs") - col("n_distinct_texts")).as("n_exact_dups"),
        col("vocab_size"), col("n_hapax"),
        (col("n_tokens").cast("double") / col("n_docs")).as("mean_tokens"))
  }

  val q121Sql: String =
    raw"""WITH t AS (SELECT doc_id, source, lang, text,
      ${toksSql("text")} AS toks FROM documents),
    base AS (SELECT count(*) AS n_docs,
      count(DISTINCT source) AS n_sources,
      count(DISTINCT lang) AS n_langs,
      CAST(sum(length(text)) AS BIGINT) AS n_chars,
      CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
      count(DISTINCT ${graft.ops.HashOps.contentKeySql("text")})
        AS n_distinct_texts
      FROM t),
    v AS (SELECT tok, count(*) AS ctf FROM
      (SELECT unnest(toks) AS tok FROM t) GROUP BY tok),
    vocab AS (SELECT count(*) AS vocab_size,
      CAST(sum(CASE WHEN ctf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
      FROM v)
    SELECT n_docs, n_sources, n_langs, n_chars, n_tokens,
      CAST(n_docs - n_distinct_texts AS BIGINT) AS n_exact_dups,
      vocab_size, n_hapax,
      CAST(n_tokens AS DOUBLE) / n_docs AS mean_tokens
    FROM base, vocab"""

  // --- q83: per-source token-distribution drift between snapshots ---------
  // The mixture-monitoring query a crawl pipeline runs between snapshot
  // refreshes: has a source's token distribution moved? The snapshots are
  // the SAME two relations q71's delta classifies (CurationQueries.
  // Snapshots — yesterday's A, today's re-crawled B with its rewritten
  // docs), so drift here explains the churn q71 reports; per source the
  // drift is the L1 distance between the two term distributions, kept
  // EXACT by cross-multiplying instead of dividing:
  //   drift_cross = Σ_t |cA(t)·totB − cB(t)·totA|
  //               = totA·totB · Σ_t |P_A(t) − P_B(t)|
  // — all int64 (counts ≤ 1e6 per source keep the products ≪ 2^63), so
  // the score hash-verifies with no float folds. One token-count shuffle
  // keyed (source, term, snapshot), one conditional-sum pivot, scalar
  // totals broadcast back. Overlapping membership (most docs are in both
  // snapshots) makes each doc scan twice — the price of comparing real
  // snapshot relations rather than a disjoint hash split.
  def q83DistributionDrift(spark: SparkSession, dir: String): DataFrame = {
    val snaps = CurationQueries.Snapshots
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val snapA = docs.where(snaps.inA)
      .select(col("source"), lit(true).as("in_a"), col("text"))
    val snapB = docs.where(snaps.inB)
      .select(col("source"), lit(false).as("in_a"), snaps.textB.as("text"))
    val toks = snapA.unionByName(snapB)
      .select(col("source"), col("in_a"),
        explode(TextOps.tokenize(col("text"))).as("term"))
    val counts = toks.groupBy("source", "term")
      .agg(count(when(col("in_a"), 1)).as("c_a"),
        count(when(!col("in_a"), 1)).as("c_b"))
    val totals = counts.groupBy("source")
      .agg(sum("c_a").as("tot_a"), sum("c_b").as("tot_b"))
    counts.join(totals, "source")
      .groupBy(col("source"), col("tot_a"), col("tot_b"))
      .agg(count(lit(1)).as("n_terms"),
        sum(abs(col("c_a") * col("tot_b") - col("c_b") * col("tot_a")))
          .as("drift_cross"))
      .select(col("source"), col("tot_a"), col("tot_b"), col("n_terms"),
        col("drift_cross"))
      .orderBy("source")
  }

  // --- q83b: two-sample Kolmogorov-Smirnov drift ---------------------------
  // q83's L1 term drift sees VOCABULARY churn; this sees SHAPE churn in a
  // numeric column — per source, the exact two-sample KS statistic
  // between the snapshots' doc-length distributions:
  //   KS = max_t |F_A(t) − F_B(t)|
  // evaluated at every pooled observed value (where the discrete maximum
  // must occur), kept exact by cross-multiplying the empirical CDFs:
  //   ks_cross = max_v |cumA(v)·nB − cumB(v)·nA|,
  //   ks_micro = (1e6 · ks_cross) div (nA·nB).
  // The [rev2] rewrites shift B's lengths by a constant on a quarter of
  // the docs, so the statistic is genuinely nonzero. One (source, value)
  // count aggregate, one per-source cumsum window over DISTINCT values
  // (value-bounded — doc lengths, not docs; a continuous metric at
  // 100 TB would bucket first or range-shard the cumsum like q58), and
  // a scalar-bound totals join. nA·nB caps the exact path at ~3e9 rows
  // per source per side before DECIMAL widening (q102's note).
  def q83bKsDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val snaps = CurationQueries.Snapshots
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val a = docs.where(snaps.inA)
      .select(col("source"), length(col("text")).cast("long").as("v"),
        lit(1L).as("ca"), lit(0L).as("cb"))
    val b = docs.where(snaps.inB)
      .select(col("source"), length(snaps.textB).cast("long").as("v"),
        lit(0L).as("ca"), lit(1L).as("cb"))
    val counts = a.unionByName(b).groupBy("source", "v")
      .agg(sum("ca").as("ca"), sum("cb").as("cb"))
    val w = Window.partitionBy("source").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("cum_a", sum(col("ca")).over(w))
      .withColumn("cum_b", sum(col("cb")).over(w))
    val totals = counts.groupBy("source")
      .agg(sum("ca").as("n_a"), sum("cb").as("n_b"))
    cum.join(totals, "source")
      .groupBy(col("source"), col("n_a"), col("n_b"))
      .agg(max(abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
        .as("ks_cross"))
      .select(col("source"), col("n_a"), col("n_b"),
        // KS is undefined against an empty sample (four fixture sources
        // have every doc_id outside one snapshot's carve) — NULL, not a
        // sentinel, so consumers must handle the no-evidence case
        when(col("n_a") > 0 && col("n_b") > 0,
          expr("(1000000 * ks_cross) div (n_a * n_b)"))
          .otherwise(lit(null).cast("long")).as("ks_micro"))
      .orderBy("source")
  }

  val q83bSql: String = {
    val snaps = CurationQueries.Snapshots
    s"""WITH a AS (SELECT source, CAST(length(text) AS BIGINT) AS v,
        1 AS ca, 0 AS cb
      FROM documents WHERE ${snaps.inASql}),
    b AS (SELECT source, CAST(length(${snaps.textBSql}) AS BIGINT) AS v,
        0 AS ca, 1 AS cb
      FROM documents WHERE ${snaps.inBSql}),
    u AS (SELECT * FROM a UNION ALL SELECT * FROM b),
    c AS (SELECT source, v, CAST(sum(ca) AS BIGINT) AS ca,
        CAST(sum(cb) AS BIGINT) AS cb
      FROM u GROUP BY source, v),
    cum AS (SELECT source, v, ca, cb,
        sum(ca) OVER w AS cum_a, sum(cb) OVER w AS cum_b
      FROM c WINDOW w AS (PARTITION BY source ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    t AS (SELECT source, CAST(sum(ca) AS BIGINT) AS n_a,
        CAST(sum(cb) AS BIGINT) AS n_b
      FROM c GROUP BY source)
    SELECT cum.source, t.n_a, t.n_b,
      CASE WHEN t.n_a > 0 AND t.n_b > 0 THEN
        (1000000 * max(abs(cum.cum_a * t.n_b - cum.cum_b * t.n_a)))
          // (t.n_a * t.n_b) END AS ks_micro
    FROM cum JOIN t USING (source)
    GROUP BY cum.source, t.n_a, t.n_b ORDER BY cum.source"""
  }

  val q83Sql: String = {
    val snaps = CurationQueries.Snapshots
    s"""WITH p AS (
      SELECT source, true AS in_a, unnest(${toksSql("text")}) AS term
      FROM documents WHERE ${snaps.inASql}
      UNION ALL
      SELECT source, false AS in_a,
        unnest(${toksSql(snaps.textBSql)}) AS term
      FROM documents WHERE ${snaps.inBSql}),
    c AS (
      SELECT source, term,
        CAST(count(CASE WHEN in_a THEN 1 END) AS BIGINT) AS c_a,
        CAST(count(CASE WHEN NOT in_a THEN 1 END) AS BIGINT) AS c_b
      FROM p GROUP BY source, term),
    t AS (
      SELECT source, CAST(sum(c_a) AS BIGINT) AS tot_a,
        CAST(sum(c_b) AS BIGINT) AS tot_b
      FROM c GROUP BY source)
    SELECT c.source, t.tot_a, t.tot_b,
      count(*) AS n_terms,
      CAST(sum(abs(c.c_a * t.tot_b - c.c_b * t.tot_a)) AS BIGINT) AS drift_cross
    FROM c JOIN t USING (source)
    GROUP BY c.source, t.tot_a, t.tot_b
    ORDER BY c.source"""
  }

  // --- q81: rare-token privacy scrub --------------------------------------
  // Semantics and scale shape in TextAnalysisOps.rareTokenScrub. The
  // fixture's vocabulary has exactly one long-tail term ('dup', ctf 26 vs
  // 840+ for everything else), so the threshold bites without degenerating.
  val ScrubMinCtf = 100L

  def q81RareScrub(spark: SparkSession, dir: String): DataFrame =
    TextAnalysisOps.rareTokenScrub(Tables.documents(spark, dir), ScrubMinCtf)
      .orderBy("doc_id")

  val q81Sql: String =
    s"""WITH t AS (
      SELECT doc_id, ${toksSql("coalesce(text, '')")} AS toks FROM documents),
    p AS (SELECT doc_id, unnest(toks) AS tok,
        generate_subscripts(toks, 1) AS pos FROM t),
    v AS (SELECT tok, count(*) AS ctf FROM p GROUP BY tok),
    m AS (SELECT p.doc_id, p.pos, v.ctf < $ScrubMinCtf AS is_rare,
        CASE WHEN v.ctf < $ScrubMinCtf THEN '<RARE>' ELSE p.tok END AS out_tok
      FROM p JOIN v USING (tok)),
    r AS (SELECT doc_id, count(*) AS n_tokens,
        CAST(count(CASE WHEN is_rare THEN 1 END) AS BIGINT) AS n_scrubbed,
        array_to_string(list(out_tok ORDER BY pos), ' ') AS text_scrubbed
      FROM m GROUP BY doc_id)
    SELECT d.doc_id,
      coalesce(r.n_tokens, 0) AS n_tokens,
      coalesce(r.n_scrubbed, 0) AS n_scrubbed,
      coalesce(r.text_scrubbed, '') AS text_scrubbed
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN r USING (doc_id) ORDER BY d.doc_id"""

  // --- q76: exact phrase search (positional postings top-k) --------------
  // Adjacency-exact retrieval; semantics and scale shape in
  // TextAnalysisOps.phraseSearch. The oracle deliberately uses a DIFFERENT
  // algorithm — a narrow per-doc window scan counting positions where all
  // phrase tokens line up — so posting-list intersection and direct window
  // counting must agree on the relation.
  val PhraseTokens = Seq("table", "scan")
  val PhraseTopK = 10

  def q76PhraseSearch(spark: SparkSession, dir: String): DataFrame =
    TextAnalysisOps.phraseSearch(
      Tables.documents(spark, dir), PhraseTokens, PhraseTopK)

  val q76Sql: String = {
    val folded = PhraseTokens.map(_.toLowerCase)
    val conj = folded.zipWithIndex.map { case (t, i) =>
      s"toks[CAST(i AS INT)+${i + 1}] = '${t.replace("'", "''")}'"
    }.mkString(" AND ")
    raw"""WITH t AS (
      SELECT doc_id, ${toksSql("lower(coalesce(text, ''))")} AS toks
      FROM documents),
    h AS (SELECT doc_id,
        CAST(len(list_filter(range(0, len(toks) - ${folded.size - 1}),
          i -> $conj)) AS BIGINT) AS n_hits
      FROM t)
    SELECT doc_id, n_hits FROM h WHERE n_hits > 0
    ORDER BY n_hits DESC, doc_id LIMIT $PhraseTopK"""
  }

  // --- q65: hashed-feature linear quality classifier ---------------------
  // Model-based filtering with the model as a broadcast relation; semantics
  // and scale shape in TextAnalysisOps.qualityClassify.
  def q65QualityClassifier(spark: SparkSession, dir: String): DataFrame =
    TextAnalysisOps.qualityClassify(Tables.documents(spark, dir),
      TextAnalysisOps.classifierWeights(spark))
      .orderBy("doc_id")

  val q65Sql: String =
    s"""WITH w AS (SELECT CAST(range AS BIGINT) AS bucket,
        CAST(range % 17 - 8 AS BIGINT) AS weight
      FROM range(${TextAnalysisOps.ClassifierBuckets})),
    d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
    p AS (SELECT doc_id, unnest(${toksSql("text")}) AS tok FROM d),
    b AS (SELECT doc_id,
        ${HashOps.charHashSql("tok")} % ${TextAnalysisOps.ClassifierBuckets} AS bucket
      FROM p),
    s AS (SELECT doc_id, CAST(sum(w.weight) AS BIGINT) AS score,
        count(*) AS n_features
      FROM b JOIN w USING (bucket) GROUP BY doc_id)
    SELECT d.doc_id, coalesce(s.score, 0) AS score,
      coalesce(s.n_features, 0) AS n_features,
      coalesce(s.score, 0) >= 0 AS quality_label
    FROM d LEFT JOIN s USING (doc_id) ORDER BY doc_id"""

  // --- q177/q177b/q177c: in-engine classifier TRAINING (NB tier) ----------
  // r12's one capability gap: q65/q168 score under fixed weight tables,
  // nothing LEARNED one. q177 trains the q65-shaped table by multinomial
  // Naive Bayes (TextAnalysisOps.nbTrainedWeights): labeled docs → one
  // bucket-keyed count aggregate → integer floor-log2 odds. Pure
  // counting, so the ENTIRE train hash-verifies against a SQL oracle —
  // the only trainer in the engine with an end-to-end exact twin (the
  // iterative tier q87/q178 is rows-only by construction).
  // Supervision is reference-corpus membership (lang = InDomainLang,
  // TextAnalysisOps.langLabeled) — the published WebText/CCNet
  // discriminator shape, chosen over the q21 battery because the battery
  // is ONE-CLASS on this fixture (all 500 docs pass it, measured at
  // sf0.001/sf0.01 — nothing to learn), while the language carve has
  // two-class 193/307 structure. Measured fixture ceiling: all five
  // languages draw from one shared 31-word vocabulary, so fixture
  // accuracy sits near the base rate by construction (langLabeled doc);
  // the spec's designed corpora carry the learning proof. The trained
  // tier hashes at TrainedBuckets (2^15) — at the surrogate's 4096 the
  // fixture vocabulary aliases ~5 tokens per bucket and the floor-log2
  // quantization erases the diluted odds entirely (measured: accuracy
  // collapsed to the 386‰ all-good rate). q177b scores the corpus under the trained
  // table through the UNCHANGED q65 operator (model-as-data:
  // qualityClassify takes the learned relation where it took the
  // surrogate); q177c is the promotion evidence — one row of
  // accuracy-vs-label for the trained model and the fixed surrogate
  // plus their agreement mass, all integer.
  // Session memo: the ≤TrainedBuckets-row weight table (2^15 rows ≈ a
  // few hundred KB collected) has four registry consumers; cleared by
  // SessionMemos.evictAll so the cold pass genuinely retrains.
  val InDomainLang = "en"

  private def inDomainLabeled(spark: SparkSession, dir: String): DataFrame =
    TextAnalysisOps.langLabeled(Tables.documents(spark, dir), InDomainLang)

  private val NbSchema = org.apache.spark.sql.types.StructType(
    Seq("bucket", "n_good", "n_bad", "weight").map(n =>
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.LongType, nullable = true)))

  private val nbWeightRows = Memo((spark, d) =>
    TextAnalysisOps.nbTrainedWeights(inDomainLabeled(spark, d))
      .orderBy("bucket").collect().toSeq)

  private def nbFrame(spark: SparkSession, dir: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(nbWeightRows(spark, dir), 1), NbSchema)

  def q177NbTrain(spark: SparkSession, dir: String): DataFrame =
    nbFrame(spark, dir).orderBy("bucket")

  def q177bNbScores(spark: SparkSession, dir: String): DataFrame =
    TextAnalysisOps.qualityClassify(Tables.documents(spark, dir),
      nbFrame(spark, dir).select(col("bucket"), col("weight")),
      buckets = TextAnalysisOps.TrainedBuckets)
      .orderBy("doc_id")

  def q177cNbEval(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val labels = inDomainLabeled(spark, dir).select(col("doc_id"), col("good"))
    val nb = TextAnalysisOps.qualityClassify(docs,
      nbFrame(spark, dir).select(col("bucket"), col("weight")),
      buckets = TextAnalysisOps.TrainedBuckets)
      .select(col("doc_id"), col("quality_label").as("nb_label"))
    val fixed = TextAnalysisOps.qualityClassify(docs,
      TextAnalysisOps.classifierWeights(spark))
      .select(col("doc_id"), col("quality_label").as("fixed_label"))
    labels.join(nb, "doc_id").join(fixed, "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("good"), 1L).otherwise(0L)).as("n_good"),
        sum(when(col("nb_label") === col("good"), 1L).otherwise(0L))
          .as("n_nb_correct"),
        sum(when(col("fixed_label") === col("good"), 1L).otherwise(0L))
          .as("n_fixed_correct"),
        sum(when(col("nb_label") === col("fixed_label"), 1L).otherwise(0L))
          .as("n_agree"))
      .select(col("n_docs"), col("n_good"),
        expr("(1000 * n_nb_correct) div n_docs").as("acc_nb_permille"),
        expr("(1000 * n_fixed_correct) div n_docs").as("acc_fixed_permille"),
        col("n_agree"))
  }

  /** The NB training chain as oracle CTEs, final relation `nb_w(bucket,
    * n_good, n_bad, weight)` with the labeled relation `nb_l(doc_id,
    * toks, good)` exposed for reuse — ONE generator for all three q177
    * oracles (the crossSurprisalLadder argument: the scoring/eval twins
    * can never train a different model than the train query publishes).
    * floor-log2 via binary-string length; the four `-1`s cancel across
    * the two differences, so raw lengths are exact.
    */
  private def nbChainCtes(nbL: String): String = {
    val d = TextAnalysisOps.TrainedBuckets
    s"""nb_l AS ($nbL),
    nb_i AS (SELECT good,
        ${HashOps.charHashSql("tok")} % $d AS bucket
      FROM (SELECT good, unnest(toks) AS tok FROM nb_l WHERE is_train) z2),
    nb_c AS (SELECT bucket,
        CAST(sum(CASE WHEN good THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
        CAST(sum(CASE WHEN NOT good THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
      FROM nb_i GROUP BY bucket),
    nb_tot AS (SELECT CAST(sum(n_good) AS BIGINT) AS tg,
        CAST(sum(n_bad) AS BIGINT) AS tb FROM nb_c),
    nb_w AS (SELECT bucket, n_good, n_bad,
        CAST(length(format('{:b}', n_good + 1))
          - length(format('{:b}', n_bad + 1))
          - length(format('{:b}', tg + $d))
          + length(format('{:b}', tb + $d)) AS BIGINT) AS weight
      FROM nb_c, nb_tot)"""
  }

  /** The fixture labeled relation (language supervision) under a given
    * train carve — `TRUE` = q177's train-on-everything, the content-hash
    * parity = q182's held-out split.
    */
  private def nbLFixture(trainPred: String): String =
    s"""SELECT doc_id, ${toksSql("text")} AS toks,
        lang = '$InDomainLang' AS good, $trainPred AS is_train
      FROM documents"""

  private val nbCtes: String = nbChainCtes(nbLFixture("TRUE"))

  /** Score-every-doc + train-vs-held-out report CTEs, appended after
    * [[nbChainCtes]] — ONE generator for q182 and q183 so the eval twins
    * can never diverge from [[TextAnalysisOps.nbHeldoutReport]]'s
    * dataflow (the nbCtes argument, one level up).
    */
  /** Score-every-doc CTEs shared by the held-out report and the
    * threshold calibration — final relation `nb_sc (doc_id, good,
    * is_train, score)`, [[TextAnalysisOps.nbCarveScores]]'s shape.
    */
  private val nbScoreCtes: String = {
    val d = TextAnalysisOps.TrainedBuckets
    s"""nb_b AS (SELECT doc_id,
        ${HashOps.charHashSql("tok")} % $d AS bucket
      FROM (SELECT doc_id, unnest(toks) AS tok FROM nb_l) zb),
    nb_s AS (SELECT doc_id,
        CAST(sum(coalesce(w.weight, 0)) AS BIGINT) AS score
      FROM nb_b LEFT JOIN nb_w w USING (bucket) GROUP BY doc_id),
    nb_sc AS (SELECT l.doc_id, l.good, l.is_train,
        CAST(coalesce(s.score, 0) AS BIGINT) AS score
      FROM nb_l l LEFT JOIN nb_s s USING (doc_id))"""
  }

  private val nbHeldoutReportSql: String =
    s"""$nbScoreCtes,
    nb_j AS (SELECT good, is_train, score >= 0 AS pred FROM nb_sc),
    nb_r AS (SELECT
        CAST(sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        CAST(sum(CASE WHEN NOT is_train THEN 1 ELSE 0 END) AS BIGINT)
          AS n_heldout,
        CAST(sum(CASE WHEN is_train AND good THEN 1 ELSE 0 END) AS BIGINT)
          AS n_good_train,
        CAST(sum(CASE WHEN NOT is_train AND good THEN 1 ELSE 0 END) AS BIGINT)
          AS n_good_heldout,
        CAST(sum(CASE WHEN is_train AND pred = good THEN 1 ELSE 0 END)
          AS BIGINT) AS c_train,
        CAST(sum(CASE WHEN NOT is_train AND pred = good THEN 1 ELSE 0 END)
          AS BIGINT) AS c_heldout
      FROM nb_j)
    SELECT n_train, n_heldout, n_good_train, n_good_heldout,
      (1000 * c_train) // n_train AS acc_train_permille,
      (1000 * c_heldout) // n_heldout AS acc_heldout_permille,
      (1000 * c_train) // n_train - (1000 * c_heldout) // n_heldout
        AS gap_permille
    FROM nb_r"""

  /** The threshold-calibration tail (q186), appended after
    * [[nbChainCtes]] — [[TextAnalysisOps.nbThresholdCalibration]]'s
    * dataflow restated: distinct-score histogram over the train carve,
    * running `< t` sums, correct(t) = tg − g_lt + b_lt over candidates =
    * distinct scores ∪ {max+1} (the all-bad rule), best by
    * (max correct, min t), held-out accuracy at best-t vs at 0.
    */
  /** The sweep CTEs through `nb_best (threshold, n_train, c_train)` —
    * shared by the q186 report and q188's deployed-gate rollup so both
    * apply the IDENTICAL calibrated cut.
    */
  private val nbSweepCtes: String =
    s"""nb_h AS (SELECT score,
        CAST(sum(CASE WHEN good THEN 1 ELSE 0 END) AS BIGINT) AS g,
        CAST(sum(CASE WHEN NOT good THEN 1 ELSE 0 END) AS BIGINT) AS b
      FROM nb_sc WHERE is_train GROUP BY score),
    nb_cum AS (SELECT score AS threshold,
        CAST(coalesce(sum(g) OVER (ORDER BY score
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS g_lt,
        CAST(coalesce(sum(b) OVER (ORDER BY score
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS b_lt
      FROM nb_h),
    nb_allbad AS (SELECT CAST(max(score) + 1 AS BIGINT) AS threshold,
        CAST(sum(g) AS BIGINT) AS g_lt, CAST(sum(b) AS BIGINT) AS b_lt
      FROM nb_h),
    nb_cand AS (SELECT * FROM nb_cum
      UNION ALL SELECT * FROM nb_allbad WHERE threshold IS NOT NULL),
    nb_tt AS (SELECT
        CAST(sum(CASE WHEN good THEN 1 ELSE 0 END) AS BIGINT) AS tg,
        CAST(count(*) AS BIGINT) AS n_train
      FROM nb_sc WHERE is_train),
    nb_best AS (SELECT threshold, n_train, tg - g_lt + b_lt AS c_train
      FROM nb_cand, nb_tt ORDER BY c_train DESC, threshold ASC LIMIT 1)"""

  private val nbCalibrationSql: String =
    s"""$nbScoreCtes,
    $nbSweepCtes,
    nb_he AS (SELECT
        CAST(max(b.threshold) AS BIGINT) AS threshold,
        CAST(max(b.n_train) AS BIGINT) AS n_train,
        CAST(max(b.c_train) AS BIGINT) AS c_train,
        CAST(count(*) AS BIGINT) AS n_heldout,
        CAST(sum(CASE WHEN (score >= b.threshold) = good THEN 1 ELSE 0 END)
          AS BIGINT) AS c_held_t,
        CAST(sum(CASE WHEN (score >= 0) = good THEN 1 ELSE 0 END)
          AS BIGINT) AS c_held_0
      FROM nb_sc, nb_best b WHERE NOT is_train)
    SELECT threshold,
      (1000 * c_train) // n_train AS acc_train_at_t_permille,
      (1000 * c_held_t) // n_heldout AS acc_heldout_at_t_permille,
      (1000 * c_held_0) // n_heldout AS acc_heldout_at_zero_permille,
      (1000 * c_held_t) // n_heldout - (1000 * c_held_0) // n_heldout
        AS gain_permille
    FROM nb_he"""

  val q177Sql: String = graft.queries.SqlDefs.materializeCtes(
    s"""WITH $nbCtes
    SELECT bucket, n_good, n_bad, weight FROM nb_w ORDER BY bucket""")

  // LEFT join + coalesce, not q65's inner join: the trained table is
  // SPARSE (only buckets with training mass), and an unseen bucket must
  // score 0 while still counting in n_features — qualityClassify's
  // declared semantics.
  val q177bSql: String = graft.queries.SqlDefs.materializeCtes(
    s"""WITH $nbCtes,
    d AS (SELECT doc_id FROM documents),
    b AS (SELECT doc_id,
        ${HashOps.charHashSql("tok")} % ${TextAnalysisOps.TrainedBuckets} AS bucket
      FROM (SELECT doc_id, unnest(toks) AS tok FROM nb_l) z3),
    s AS (SELECT doc_id,
        CAST(sum(coalesce(w.weight, 0)) AS BIGINT) AS score,
        count(*) AS n_features
      FROM b LEFT JOIN nb_w w USING (bucket) GROUP BY doc_id)
    SELECT d.doc_id, coalesce(s.score, 0) AS score,
      coalesce(s.n_features, 0) AS n_features,
      coalesce(s.score, 0) >= 0 AS quality_label
    FROM d LEFT JOIN s USING (doc_id) ORDER BY d.doc_id""")

  // TWO bucket relations: the trained tier hashes at TrainedBuckets, the
  // fixed surrogate keeps its 4096-bucket space (see TrainedBuckets doc)
  val q177cSql: String = graft.queries.SqlDefs.materializeCtes(
    s"""WITH $nbCtes,
    p AS (SELECT doc_id, unnest(toks) AS tok FROM nb_l),
    bt AS (SELECT doc_id,
        ${HashOps.charHashSql("tok")} % ${TextAnalysisOps.TrainedBuckets} AS bucket
      FROM p),
    bf AS (SELECT doc_id,
        ${HashOps.charHashSql("tok")} % ${TextAnalysisOps.ClassifierBuckets} AS bucket
      FROM p),
    nbs AS (SELECT doc_id, CAST(sum(coalesce(w.weight, 0)) AS BIGINT) AS score
      FROM bt LEFT JOIN nb_w w USING (bucket) GROUP BY doc_id),
    fw AS (SELECT CAST(range AS BIGINT) AS bucket,
        CAST(range % 17 - 8 AS BIGINT) AS weight
      FROM range(${TextAnalysisOps.ClassifierBuckets})),
    fs AS (SELECT doc_id, CAST(sum(coalesce(w.weight, 0)) AS BIGINT) AS score
      FROM bf LEFT JOIN fw w USING (bucket) GROUP BY doc_id),
    j AS (SELECT l.good,
        coalesce(n.score, 0) >= 0 AS nb_label,
        coalesce(f.score, 0) >= 0 AS fixed_label
      FROM nb_l l LEFT JOIN nbs n USING (doc_id) LEFT JOIN fs f USING (doc_id))
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(CASE WHEN good THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
      (1000 * CAST(sum(CASE WHEN nb_label = good THEN 1 ELSE 0 END) AS BIGINT))
        // CAST(count(*) AS BIGINT) AS acc_nb_permille,
      (1000 * CAST(sum(CASE WHEN fixed_label = good THEN 1 ELSE 0 END) AS BIGINT))
        // CAST(count(*) AS BIGINT) AS acc_fixed_permille,
      CAST(sum(CASE WHEN nb_label = fixed_label THEN 1 ELSE 0 END) AS BIGINT)
        AS n_agree
    FROM j""")

  // --- q177d: the trained gate DEPLOYED (per-source keep rates) ------------
  // The last step of the classifier lifecycle: train (q177) → score
  // (q177b) → evaluate (q177c) → run as the ingest gate and read its
  // realized per-source effect — the keep-rate report a curator checks
  // before the mixture weights (q146) are recomputed under a new filter.
  // All-integer, one corpus aggregate; hash-exact like the rest of the
  // NB family (the shared nbCtes generator trains the same model).
  def q177dNbGateEffect(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = TextAnalysisOps.qualityClassify(docs,
      nbFrame(spark, dir).select(col("bucket"), col("weight")),
      buckets = TextAnalysisOps.TrainedBuckets)
      .select(col("doc_id"), col("quality_label"))
    docs.select(col("doc_id"), col("source")).join(scored, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("quality_label"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        expr("(1000 * n_kept) div n_docs").as("kept_permille"))
      .orderBy("source")
  }

  val q177dSql: String = graft.queries.SqlDefs.materializeCtes(
    s"""WITH $nbCtes,
    b AS (SELECT doc_id,
        ${HashOps.charHashSql("tok")} % ${TextAnalysisOps.TrainedBuckets} AS bucket
      FROM (SELECT doc_id, unnest(toks) AS tok FROM nb_l) z3),
    sc AS (SELECT doc_id, CAST(sum(coalesce(w.weight, 0)) AS BIGINT) AS score
      FROM b LEFT JOIN nb_w w USING (bucket) GROUP BY doc_id),
    lbl AS (SELECT d.doc_id, d.source,
        coalesce(sc.score, 0) >= 0 AS kept
      FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id),
    g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM lbl GROUP BY source)
    SELECT source, n_docs, n_kept,
      (1000 * n_kept) // n_docs AS kept_permille
    FROM g ORDER BY source""")

  // --- q182: HELD-OUT evaluation of the NB trainer (r13 verdict #1) --------
  // q177c's accuracy is in-sample (model scored on its own training
  // corpus — memorization, not the number a curation gate routes on).
  // This trains ONLY on the content-hash-EVEN carve (q90b's
  // re-ingestion-stable split) and publishes train-vs-held-out accuracy
  // plus the gap in one integer row. NB training is pure counting, so
  // the ENTIRE carve→train→score→eval chain hash-verifies. Fixture
  // honesty carries over from q177: the 31-word shared vocabulary caps
  // BOTH carves near the base rate — the generalization MECHANISM is
  // what this row exact-verifies; ClassifierTrainSpec's designed corpora
  // show the gap appearing (memorization corpus) and vanishing
  // (separable corpus), and q183 proves learning in-gate.
  def q182NbHeldoutEval(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val carve = docs.select(col("doc_id"),
      (HashOps.charHash(col("text")) % 2 === 0).as("is_train"))
    TextAnalysisOps.nbHeldoutReport(
      inDomainLabeled(spark, dir).join(carve, "doc_id"))
  }

  val q182Sql: String = graft.queries.SqlDefs.materializeCtes(
    s"""WITH ${nbChainCtes(
      nbLFixture(s"${HashOps.charHashSql("text")} % 2 = 0"))},
    $nbHeldoutReportSql""")

  // --- q186: decision-threshold calibration (train → calibrate → deploy) ---
  // The lifecycle step between q182's held-out eval and q177d's deployed
  // gate: the raw score >= 0 cut ignores the class prior, and with
  // imbalanced supervision (the fixture: 193/307) the accuracy-optimal
  // operating point is elsewhere. One sorted-histogram sweep over the
  // TRAIN carve's distinct integer scores picks the calibrated cut
  // (never an O(n·|thresholds|) cross join — scaladoc at
  // TextAnalysisOps.nbThresholdCalibration), and the row publishes
  // held-out accuracy at that cut vs at 0 — the gain a promotion
  // decision reads. Same carve and shared CTE chain as q182, so the
  // calibration can never sweep a different model than q182 evaluates.
  def q186NbThresholdCalibration(spark: SparkSession,
                                 dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val carve = docs.select(col("doc_id"),
      (HashOps.charHash(col("text")) % 2 === 0).as("is_train"))
    TextAnalysisOps.nbThresholdCalibration(
      inDomainLabeled(spark, dir).join(carve, "doc_id"))
  }

  val q186Sql: String = graft.queries.SqlDefs.materializeCtes(
    s"""WITH ${nbChainCtes(
      nbLFixture(s"${HashOps.charHashSql("text")} % 2 = 0"))},
    $nbCalibrationSql""")

  // --- q188: the CALIBRATED gate deployed (per-source keep rates) ----------
  // q177d reports the trained gate's per-source effect at the raw
  // score >= 0 cut; this is the same report under q186's calibrated
  // threshold — the last arrow of the lifecycle (train → held-out eval →
  // calibrate → DEPLOY at the calibrated operating point), published
  // side-by-side with the uncalibrated rates so a curator reads exactly
  // what moving the cut does to each source's keep mass before q146's
  // weights are recomputed. Shares nbScoreCtes + nbSweepCtes with q186,
  // so the deployed threshold can never drift from the published one.
  def q188CalibratedGateEffect(spark: SparkSession,
                               dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val carve = docs.select(col("doc_id"),
      (HashOps.charHash(col("text")) % 2 === 0).as("is_train"))
    val s = graft.CacheScope.persist(TextAnalysisOps.nbCarveScores(
      inDomainLabeled(spark, dir).join(carve, "doc_id")))
    val best = TextAnalysisOps.nbBestThreshold(s)
      .select(col("threshold"))
    docs.select(col("doc_id"), col("source"))
      .join(s.select(col("doc_id"), col("score")), "doc_id")
      .crossJoin(broadcast(best))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score") >= 0, 1L).otherwise(0L)).as("kept_at_zero"),
        sum(when(col("score") >= col("threshold"), 1L).otherwise(0L))
          .as("kept_calibrated"),
        max(col("threshold")).as("threshold"))
      .select(col("source"), col("n_docs"), col("threshold"),
        col("kept_at_zero"), col("kept_calibrated"),
        expr("(1000 * kept_at_zero) div n_docs").as("keep_zero_permille"),
        expr("(1000 * kept_calibrated) div n_docs")
          .as("keep_calibrated_permille"))
      .orderBy("source")
  }

  val q188Sql: String = graft.queries.SqlDefs.materializeCtes(
    s"""WITH ${nbChainCtes(
      nbLFixture(s"${HashOps.charHashSql("text")} % 2 = 0"))},
    $nbScoreCtes,
    $nbSweepCtes,
    nb_g AS (SELECT d.source, sc.score, b.threshold
      FROM nb_sc sc JOIN documents d ON sc.doc_id = d.doc_id, nb_best b),
    nb_gr AS (SELECT source,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(max(threshold) AS BIGINT) AS threshold,
        CAST(sum(CASE WHEN score >= 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS kept_at_zero,
        CAST(sum(CASE WHEN score >= threshold THEN 1 ELSE 0 END) AS BIGINT)
          AS kept_calibrated
      FROM nb_g GROUP BY source)
    SELECT source, n_docs, threshold, kept_at_zero, kept_calibrated,
      (1000 * kept_at_zero) // n_docs AS keep_zero_permille,
      (1000 * kept_calibrated) // n_docs AS keep_calibrated_permille
    FROM nb_gr ORDER BY source""")

  // --- q190: SOURCE-CONDITIONAL calibration (per-source operating points) --
  // q188 deploys ONE pooled cut across sources whose class priors
  // differ; the production shape (one source mostly boilerplate, another
  // mostly prose) calibrates per source. q186's sweep re-run GROUPED BY
  // source (windows partitioned by source — still bounded by each
  // source's distinct integer score range), the pooled cut from the
  // SAME shared sweep CTEs beside it, and the held-out keep rate +
  // accuracy under each — delta_keep_permille is what switching a source
  // to its own operating point moves. Pure counting → hash-exact; same
  // carve and CTE chain as q182/q186/q188 so none of the four can sweep
  // a different model than the others evaluate.
  def q190PerSourceCalibration(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val carve = docs.select(col("doc_id"),
      (HashOps.charHash(col("text")) % 2 === 0).as("is_train"))
    TextAnalysisOps.nbPerSourceCalibration(
      inDomainLabeled(spark, dir).join(carve, "doc_id"),
      docs.select(col("doc_id"), col("source")))
  }

  /** The per-source sweep through `nb_best_src (source, threshold)` —
    * [[TextAnalysisOps.nbBestThresholdPerSource]]'s dataflow restated
    * (q190's SQL half).
    */
  private val nbPerSourceSweepCtes: String =
    s"""nb_scs AS (SELECT sc.doc_id, sc.good, sc.is_train, sc.score, d.source
      FROM nb_sc sc JOIN documents d ON sc.doc_id = d.doc_id),
    nb_hs AS (SELECT source, score,
        CAST(sum(CASE WHEN good THEN 1 ELSE 0 END) AS BIGINT) AS g,
        CAST(sum(CASE WHEN NOT good THEN 1 ELSE 0 END) AS BIGINT) AS b
      FROM nb_scs WHERE is_train GROUP BY source, score),
    nb_cums AS (SELECT source, score AS threshold,
        CAST(coalesce(sum(g) OVER (PARTITION BY source ORDER BY score
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS g_lt,
        CAST(coalesce(sum(b) OVER (PARTITION BY source ORDER BY score
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS b_lt
      FROM nb_hs),
    nb_allbads AS (SELECT source, CAST(max(score) + 1 AS BIGINT) AS threshold,
        CAST(sum(g) AS BIGINT) AS g_lt, CAST(sum(b) AS BIGINT) AS b_lt
      FROM nb_hs GROUP BY source),
    nb_cands AS (SELECT * FROM nb_cums UNION ALL SELECT * FROM nb_allbads),
    nb_tots AS (SELECT source,
        CAST(sum(CASE WHEN good THEN 1 ELSE 0 END) AS BIGINT) AS tg,
        CAST(count(*) AS BIGINT) AS n_train
      FROM nb_scs WHERE is_train GROUP BY source),
    nb_rankeds AS (SELECT c.source, c.threshold,
        t.tg - c.g_lt + c.b_lt AS c_train,
        row_number() OVER (PARTITION BY c.source
          ORDER BY (t.tg - c.g_lt + c.b_lt) DESC, c.threshold ASC) AS prk
      FROM nb_cands c JOIN nb_tots t USING (source)),
    nb_best_src AS (SELECT source, threshold FROM nb_rankeds WHERE prk = 1)"""

  val q190Sql: String = graft.queries.SqlDefs.materializeCtes(
    s"""WITH ${nbChainCtes(
      nbLFixture(s"${HashOps.charHashSql("text")} % 2 = 0"))},
    $nbScoreCtes,
    $nbSweepCtes,
    $nbPerSourceSweepCtes,
    nb_held AS (SELECT s.source, s.good, s.score,
        bs.threshold, b.threshold AS global_threshold
      FROM nb_scs s JOIN nb_best_src bs USING (source), nb_best b
      WHERE NOT s.is_train),
    nb_reps AS (SELECT source,
        CAST(max(threshold) AS BIGINT) AS threshold,
        CAST(max(global_threshold) AS BIGINT) AS global_threshold,
        CAST(count(*) AS BIGINT) AS n_heldout,
        CAST(sum(CASE WHEN score >= threshold THEN 1 ELSE 0 END) AS BIGINT)
          AS kept_src,
        CAST(sum(CASE WHEN score >= global_threshold THEN 1 ELSE 0 END)
          AS BIGINT) AS kept_global,
        CAST(sum(CASE WHEN (score >= threshold) = good THEN 1 ELSE 0 END)
          AS BIGINT) AS c_src,
        CAST(sum(CASE WHEN (score >= global_threshold) = good
          THEN 1 ELSE 0 END) AS BIGINT) AS c_global
      FROM nb_held GROUP BY source)
    SELECT source, threshold, global_threshold, n_heldout, kept_src,
      kept_global,
      (1000 * kept_src) // n_heldout AS keep_src_permille,
      (1000 * kept_global) // n_heldout AS keep_global_permille,
      (1000 * kept_src) // n_heldout - (1000 * kept_global) // n_heldout
        AS delta_keep_permille,
      (1000 * c_src) // n_heldout AS acc_src_permille,
      (1000 * c_global) // n_heldout AS acc_global_permille
    FROM nb_reps ORDER BY source""")

  // --- q183: learning PROOF, oracled (r13 verdict #2) -----------------------
  // The fixture's shared 31-word vocabulary makes no fixture label
  // learnable (measured: float-NB ceiling 0.594), so q177/q182's rows
  // demonstrate exact-verified plumbing at near-base-rate accuracy and
  // the learning evidence lived only in spec corpora. This closes that:
  // a SEPARABLE labeled corpus is synthesized INSIDE the query (the
  // q110/q122 deterministic per-doc_id pattern — both engines re-derive
  // the same docs): 8 class-keyed signal tokens ('g'/'b' + arithmetic
  // index) and 4 shared noise tokens per doc, label = doc_id parity,
  // train carve = doc_id % 4 < 2 (class-balanced on both sides by
  // construction). NB trains on the carve and must score the UNSEEN
  // half far above the ~500‰ base rate — the committed floor is ≥900‰
  // (ClassifierTrainSpec gates it; measured: 1000‰ at sf0.001/sf0.01) —
  // hash-exact end-to-end through the same shared CTE chain as q182.
  def q183NbLearningProof(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), (col("doc_id") % 2 === 0).as("good"),
        (col("doc_id") % 4 < 2).as("is_train"))
    val labeled = base.select(col("doc_id"), col("good"), col("is_train"),
      concat(
        transform(sequence(lit(0), lit(7)), i =>
          concat(when(col("good"), lit("g")).otherwise(lit("b")),
            ((col("doc_id") * 7 + i * 13) % 40).cast("string"))),
        transform(sequence(lit(0), lit(3)), j =>
          concat(lit("s"), ((col("doc_id") * 3 + j * 5) % 10).cast("string"))))
        .as("toks"))
    TextAnalysisOps.nbHeldoutReport(labeled)
  }

  val q183Sql: String = graft.queries.SqlDefs.materializeCtes(
    s"""WITH ${nbChainCtes(
      """SELECT doc_id,
        list_concat(
          list_transform(range(0, 8), i ->
            (CASE WHEN doc_id % 2 = 0 THEN 'g' ELSE 'b' END)
              || CAST((doc_id * 7 + i * 13) % 40 AS VARCHAR)),
          list_transform(range(0, 4), j ->
            's' || CAST((doc_id * 3 + j * 5) % 10 AS VARCHAR))) AS toks,
        doc_id % 2 = 0 AS good,
        doc_id % 4 < 2 AS is_train
      FROM documents""")},
    $nbHeldoutReportSql""")

  // --- q178/q178b: averaged-perceptron training (iterative tier) ----------
  // The discriminative sibling of q177 via the BpeTrainOps template
  // (ops/ClassifierTrainOps): bounded labeled example relation → scalar
  // collect → driver-side integer averaged perceptron. Sequential updates
  // have no SQL twin (the q87 argument) → rows-only, with determinism +
  // golden replay + learning-beats-surrogate gates in ClassifierTrainSpec.
  // q178b publishes the same promotion row shape as q177c for the
  // trained-vs-surrogate comparison under battery labels.
  private val perceptronRows = Memo((spark, d) =>
    graft.ops.ClassifierTrainOps.train(spark, inDomainLabeled(spark, d))
      .orderBy("bucket").collect().toSeq)

  private def perceptronFrame(spark: SparkSession, dir: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(perceptronRows(spark, dir), 1),
      graft.ops.ClassifierTrainOps.WeightSchema)

  def q178PerceptronTrain(spark: SparkSession, dir: String): DataFrame =
    perceptronFrame(spark, dir).orderBy("bucket")

  def q178bPerceptronEval(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val labels = inDomainLabeled(spark, dir).select(col("doc_id"), col("good"))
    val trained = TextAnalysisOps.qualityClassify(docs,
      perceptronFrame(spark, dir),
      buckets = TextAnalysisOps.TrainedBuckets)
      .select(col("doc_id"), col("quality_label").as("trained_label"))
    val fixed = TextAnalysisOps.qualityClassify(docs,
      TextAnalysisOps.classifierWeights(spark))
      .select(col("doc_id"), col("quality_label").as("fixed_label"))
    labels.join(trained, "doc_id").join(fixed, "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("good"), 1L).otherwise(0L)).as("n_good"),
        sum(when(col("trained_label") === col("good"), 1L).otherwise(0L))
          .as("n_trained_correct"),
        sum(when(col("fixed_label") === col("good"), 1L).otherwise(0L))
          .as("n_fixed_correct"),
        sum(when(col("trained_label") === col("fixed_label"), 1L).otherwise(0L))
          .as("n_agree"))
      .select(col("n_docs"), col("n_good"),
        expr("(1000 * n_trained_correct) div n_docs")
          .as("acc_trained_permille"),
        expr("(1000 * n_fixed_correct) div n_docs").as("acc_fixed_permille"),
        col("n_agree"))
  }

  // --- q67: per-source corpus health report ------------------------------
  // The dashboard aggregate over the per-doc signals: how much of each
  // source survives the quality gate, how often the language heuristic
  // agrees with the label, and the token/char mass — the reference is a
  // monitoring UI, and this is its summary view as one relation. All
  // counters are integers (one final IEEE division for the rate), so the
  // roll-up oracles bit-exactly at any partial-aggregation order.
  def q67SourceHealth(spark: SparkSession, dir: String): DataFrame = {
    val toked = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        TextOps.tokenize(col("text")).as("toks"))
    // stage score columns as attributes before the argmax, like q20:
    // predLang inlined over raw score trees replicates each HOF scan ~6x
    // inside the greatest/when expression
    val scored = toked.select(
      (Seq(col("source"), col("lang"), col("text"), col("toks")) ++
        TextAnalysisOps.langScores(col("toks"))
          .map { case (l, c) => c.as(s"score_$l") }): _*)
    val signals = scored.select(
      (Seq(col("source"), col("lang"), col("text"), col("toks")) ++
        TextAnalysisOps.qualityColumns(col("text"), col("toks")) :+
        TextAnalysisOps.predLang(TextAnalysisOps.LangProfiles
          .map { case (l, _) => l -> col(s"score_$l") }).as("pred_lang")): _*)
    signals
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(TextAnalysisOps.qualityPass, 1)).as("n_quality_pass"),
        count(when(col("pred_lang") === col("lang"), 1)).as("n_lang_match"),
        sum(size(col("toks")).cast("long")).as("total_tokens"),
        sum(length(col("text")).cast("long")).as("total_chars"))
      .withColumn("pass_rate",
        col("n_quality_pass").cast("double") / col("n_docs"))
      .orderBy("source")
  }

  val q67Sql: String = {
    raw"""WITH t AS (SELECT doc_id, source, lang, text,
        ${toksSql("text")} AS toks FROM documents),
    s AS (SELECT source, lang, text, toks,
      CAST(len(toks) AS BIGINT) AS n_tokens,
      $typeTokenRatioSql AS type_token_ratio,
      $stopwordRatioSql AS stopword_ratio,
      $nonAlnumRatioSql AS non_alnum_ratio,
      $langScoreExprsSql
      FROM t),
    p AS (SELECT *, $predLangSql AS pred_lang,
      ${TextAnalysisOps.qualityPassSql()} AS quality_pass
      FROM s),
    g AS (SELECT source, count(*) AS n_docs,
      CAST(count(CASE WHEN quality_pass THEN 1 END) AS BIGINT) AS n_quality_pass,
      CAST(count(CASE WHEN pred_lang = lang THEN 1 END) AS BIGINT) AS n_lang_match,
      CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
      CAST(sum(length(text)) AS BIGINT) AS total_chars
      FROM p GROUP BY source)
    SELECT *, CAST(n_quality_pass AS DOUBLE) / n_docs AS pass_rate
    FROM g ORDER BY source"""
  }

  // --- session-shared tokenized corpus (the q70/q90/q118/q119 family) ------
  // r12 verdict item 3: seven LM-profile queries each re-tokenized the
  // corpus (and four re-derived the per-doc bigram counts) inside their
  // own plans — the ~0.12 s/stage fixed overhead × the repeated
  // scan+tokenize+aggregate stages was the family's entire gap over its
  // reference rows. The shingle/pairs memo pattern (DedupQueries'
  // shingled/jpairs) applied here: ONE persisted tokenized relation, with
  // the unigram postings, per-doc bigram counts, and lowercased postings
  // derived relations memoized on top of it.

  /** `(doc_id, text, toks)` of the documents table, tokenized once. */
  private[queries] val tokedDocs: Memo[DataFrame] = Memo.frame((spark, d) =>
    Tables.documents(spark, d).select(col("doc_id"), col("text"),
      TextOps.tokenize(coalesce(col("text"), lit(""))).as("toks")))

  /** `(doc_id, tok, tf)` unigram postings (q70's probe+vocab relation). */
  private val uniPostings = Memo.frame((spark, d) =>
    tokedDocs(spark, d)
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))

  /** `(doc_id, w1, w2, k)` per-doc bigram counts — q70b/q90/q90b/q90c
    * all start from this one aggregate.
    */
  private[queries] val bigramDocCounts: Memo[DataFrame] = Memo.frame((spark, d) =>
    TextAnalysisOps.bigramPairsOf(
      tokedDocs(spark, d).select(col("doc_id"), col("toks")),
      Seq(col("doc_id")))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("k")))

  /** `(doc_id, term, tf)` lowercased postings (q118). Deriving via
    * `lower(tok)` from the shared toks is exact — lowercasing never
    * creates or removes whitespace (TextAnalysisSpec property gate).
    */
  private val lowerPostings = Memo.frame((spark, d) =>
    tokedDocs(spark, d)
      .select(col("doc_id"), explode(transform(col("toks"),
        t => lower(t))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))

  private[queries] def tokedIds(spark: SparkSession, dir: String): DataFrame =
    tokedDocs(spark, dir).select(col("doc_id"))

  // --- q70: unigram-rarity profile (perplexity proxy) ---------------------
  // See TextAnalysisOps.unigramRarity: the corpus's own unigram counts
  // joined back over each doc's postings, all-integer (log2 buckets via
  // binary-string length — no float log anywhere, so the "LM familiarity"
  // signal hash-verifies bit-exactly). Reads the session-shared postings.
  def q70UnigramRarity(spark: SparkSession, dir: String): DataFrame =
    TextAnalysisOps.rarityProfileFromPostings(tokedIds(spark, dir),
      uniPostings(spark, dir))
      .orderBy("doc_id")

  val q70Sql: String = {
    val rare = TextAnalysisOps.RareMaxCtf
    raw"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
    p AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    dt AS (SELECT doc_id, tok, count(*) AS tf FROM p GROUP BY doc_id, tok),
    v AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS ctf FROM dt GROUP BY tok),
    agg AS (SELECT dt.doc_id,
      CAST(sum(dt.tf) AS BIGINT) AS n_tokens,
      count(*) AS n_distinct,
      CAST(sum(CASE WHEN v.ctf = 1 THEN dt.tf ELSE 0 END) AS BIGINT) AS n_hapax,
      CAST(sum(CASE WHEN v.ctf <= $rare THEN dt.tf ELSE 0 END) AS BIGINT) AS n_rare,
      CAST(min(v.ctf) AS BIGINT) AS min_ctf,
      CAST(sum(dt.tf * (length(format('{:b}', v.ctf)) - 1)) AS BIGINT) AS sum_log2_ctf
      FROM dt JOIN v ON dt.tok = v.tok GROUP BY dt.doc_id)
    SELECT t.doc_id,
      coalesce(a.n_tokens, 0) AS n_tokens,
      coalesce(a.n_distinct, 0) AS n_distinct,
      coalesce(a.n_hapax, 0) AS n_hapax,
      coalesce(a.n_rare, 0) AS n_rare,
      coalesce(a.min_ctf, 0) AS min_ctf,
      coalesce(a.sum_log2_ctf, 0) AS sum_log2_ctf
    FROM t LEFT JOIN agg a ON t.doc_id = a.doc_id ORDER BY t.doc_id"""
  }

  // --- q70b: bigram familiarity (sequence-plausibility proxy) ------------
  // See TextAnalysisOps.bigramFamiliarity: the q70 profile over word
  // BIGRAM instances — catches corpus-alien word ORDER that the unigram
  // profile is blind to. Same integer log2-bucket arithmetic.
  def q70bBigramFamiliarity(spark: SparkSession, dir: String): DataFrame =
    TextAnalysisOps.rarityProfileFromPostings(tokedIds(spark, dir),
      bigramDocCounts(spark, dir).select(col("doc_id"),
        concat(col("w1"), lit(" "), col("w2")).as("tok"),
        col("k").as("tf")))
      .orderBy("doc_id")

  val q70bSql: String = {
    val rare = TextAnalysisOps.RareMaxCtf
    raw"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
    p AS (SELECT doc_id, unnest(list_transform(range(0, len(toks) - 1),
        i -> toks[CAST(i AS INT)+1] || ' ' || toks[CAST(i AS INT)+2])) AS tok
      FROM t),
    dt AS (SELECT doc_id, tok, count(*) AS tf FROM p GROUP BY doc_id, tok),
    v AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS ctf FROM dt GROUP BY tok),
    agg AS (SELECT dt.doc_id,
      CAST(sum(dt.tf) AS BIGINT) AS n_tokens,
      count(*) AS n_distinct,
      CAST(sum(CASE WHEN v.ctf = 1 THEN dt.tf ELSE 0 END) AS BIGINT) AS n_hapax,
      CAST(sum(CASE WHEN v.ctf <= $rare THEN dt.tf ELSE 0 END) AS BIGINT) AS n_rare,
      CAST(min(v.ctf) AS BIGINT) AS min_ctf,
      CAST(sum(dt.tf * (length(format('{:b}', v.ctf)) - 1)) AS BIGINT) AS sum_log2_ctf
      FROM dt JOIN v ON dt.tok = v.tok GROUP BY dt.doc_id)
    SELECT t.doc_id,
      coalesce(a.n_tokens, 0) AS n_tokens,
      coalesce(a.n_distinct, 0) AS n_distinct,
      coalesce(a.n_hapax, 0) AS n_hapax,
      coalesce(a.n_rare, 0) AS n_rare,
      coalesce(a.min_ctf, 0) AS min_ctf,
      coalesce(a.sum_log2_ctf, 0) AS sum_log2_ctf
    FROM t LEFT JOIN agg a ON t.doc_id = a.doc_id ORDER BY t.doc_id"""
  }

  // --- q99: exact corpus heavy hitters (Misra-Gries sketch-then-verify) --
  // See TextAnalysisOps.heavyHitters: pass 1 folds the token stream into a
  // bounded MG sketch + total count (one scan, <= capacity counters per
  // map task instead of a full-vocabulary shuffle), pass 2 exact-counts
  // only the broadcast candidates. Output is EXACT, so the plain
  // threshold-groupBy SQL below is a valid oracle despite the sketch.
  def q99HeavyHitters(spark: SparkSession, dir: String): DataFrame =
    TextAnalysisOps.heavyHitters(
      Tables.documents(spark, dir).select(
        explode(TextOps.tokenize(coalesce(col("text"), lit("")))).as("tok")),
      capacity = 1024, den = 500L)

  val q99Sql: String =
    raw"""WITH t AS (SELECT ${toksSql("text")} AS toks FROM documents),
    p AS (SELECT unnest(toks) AS tok FROM t),
    tot AS (SELECT count(*) AS n FROM p),
    c AS (SELECT tok, count(*) AS cnt FROM p GROUP BY tok)
    SELECT c.tok AS token, CAST(c.cnt AS BIGINT) AS cnt
    FROM c, tot WHERE c.cnt > tot.n // 500
    ORDER BY cnt DESC, token"""

  // --- q179: q99 executed THROUGH the streaming path -----------------------
  // The first registry query whose execution runs a real Structured
  // Streaming job inside the correctness gate (r12 verdict item 2): the
  // corpus is staged into 4 deterministic chunk files, file-replayed one
  // per trigger through StreamingOps.heavyHitterStream (per-batch MG
  // summaries into the durable store), and the merged candidates get
  // q99's exact verify pass — output exact and chunk-order-independent,
  // so q99's batch oracle SQL verifies the streaming execution
  // hash-exactly. Same capacity/den dials as q99.
  def q179StreamHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingOps.heavyHittersViaStream(spark,
      s"$dir/documents.parquet", chunks = 4, capacity = 1024, den = 500L,
      scratchName = s"stream_hh/${new java.io.File(dir).getName}")

  // --- q110: HTML text extraction ------------------------------------------
  // See TextAnalysisOps.htmlTextExtract. Each doc is wrapped into a REAL
  // deterministic HTML page (title + style in head; nav, h1 with an
  // &amp; entity, the text split across two <p> blocks around a script
  // whose body contains a bare `<`, footer) and the engine must recover
  // EXACTLY the h1 + paragraphs — the q60d synthesis contract applied to
  // markup: the oracle rebuilds the expected title/body from the raw
  // text, so a stripping bug (script leaking, entity double-decode,
  // boilerplate kept) breaks the hash.
  def q110HtmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val half = (length(col("text")) / 2).cast("int")
    val p1 = substring(col("text"), lit(1), half)
    val p2 = substring(col("text"), half + 1, length(col("text")))
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id"),
      lit("</title><style>body{font:10px}</style></head><body>"),
      lit("<nav>home | about | contact</nav><h1>Doc "), col("doc_id"),
      lit(" &amp; friends</h1><p>"), p1,
      lit("</p><script>var x=1; if (x<2) { x++; }</script><p>"), p2,
      lit("</p><footer>footer text</footer></body></html>"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), html.as("html"))
      .select(Seq(col("doc_id")) ++ TextAnalysisOps.htmlTextExtract(col("html"))
        .map { case (n, c) => c.as(n) }: _*)
      .select(col("doc_id"), col("title"), col("text").as("body_text"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  val q110Sql: String =
    raw"""WITH g AS (SELECT doc_id,
      'Doc ' || doc_id AS title,
      trim(regexp_replace(
        'Doc ' || doc_id || ' & friends ' ||
        substr(text, 1, CAST(length(text) // 2 AS INT)) || ' ' ||
        substr(text, CAST(length(text) // 2 AS INT) + 1),
        '\s+', ' ', 'g')) AS body_text
    FROM documents)
    SELECT doc_id, title, body_text,
      CAST(length(body_text) AS BIGINT) AS n_chars
    FROM g ORDER BY doc_id"""

  // --- q99b: per-source exact heavy hitters --------------------------------
  // The q99 sketch-then-verify as a GROUPED aggregation (see
  // TextAnalysisOps.heavyHittersBy): one MG summary + total per source in
  // a single pass, exact verification of the broadcast (source, candidate)
  // pairs, per-source threshold. Output exact per group, so the plain
  // per-group threshold SQL is the oracle. Smaller den than q99: a
  // per-source stream is shorter, so a dashboard-grade threshold sits
  // lower.
  def q99bHeavyHittersBySource(spark: SparkSession, dir: String): DataFrame =
    TextAnalysisOps.heavyHittersBy(
      Tables.documents(spark, dir).select(col("source"),
        explode(TextOps.tokenize(coalesce(col("text"), lit("")))).as("tok")),
      "source", capacity = 1024, den = 300L)

  val q99bSql: String =
    raw"""WITH t AS (SELECT source, ${toksSql("text")} AS toks FROM documents),
    p AS (SELECT source, unnest(toks) AS tok FROM t),
    tot AS (SELECT source, count(*) AS n FROM p GROUP BY source),
    c AS (SELECT source, tok, count(*) AS cnt FROM p GROUP BY source, tok)
    SELECT c.source, c.tok AS token, CAST(c.cnt AS BIGINT) AS cnt
    FROM c JOIN tot ON c.source = tot.source WHERE c.cnt > tot.n // 300
    ORDER BY c.source, cnt DESC, token"""

  // --- q100: C4-style blocklist filter -----------------------------------
  // See TextAnalysisOps.blocklistFilter. The list below is a stand-in (the
  // published C4 rule with a demo list; real deployments swap in their
  // own) chosen to actually FIRE on the fixture corpus: single words and
  // multi-word phrases both occur in the synthetic text.
  val BlockPhrases: Seq[String] = Seq("slow scan", "dup", "hash join")

  // The audit column is flattened to a comma-joined STRING here (the
  // library's blocklistFilter keeps the ARRAY): the driver's oracle
  // compare sorts every output column in pandas, and array cells are
  // unhashable there — oracled queries emit atomic columns only
  // (enforced registry-wide by AtomicOutputSchemaSpec).
  def q100Blocklist(spark: SparkSession, dir: String): DataFrame =
    TextAnalysisOps.blocklistFilter(Tables.documents(spark, dir), BlockPhrases)
      .withColumn("matched", array_join(col("matched"), ","))
      .orderBy("doc_id")

  val q100Sql: String = {
    val pats = BlockPhrases.map(_.replace(" ", "\\s+"))
    val combined = "\\b(?:" + pats.mkString("|") + ")\\b"
    val listSql = BlockPhrases.mkString("['", "', '", "']")
    // lower(coalesce(text, '')) mirrors the engine's null coalesce; the
    // outer coalesce covers DuckDB's array_to_string([]) -> NULL (the
    // engine's array_join([]) is '')
    raw"""WITH lt AS (SELECT doc_id, lower(coalesce(text, '')) AS lt FROM documents)
    SELECT doc_id,
      CAST(len(regexp_extract_all(lt, '$combined')) AS BIGINT) AS n_blocked,
      coalesce(array_to_string(list_filter($listSql, p ->
        regexp_matches(lt, '\b' || replace(p, ' ', '\s+') || '\b')),
        ','), '') AS matched,
      len(regexp_extract_all(lt, '$combined')) = 0 AS keep
    FROM lt ORDER BY doc_id"""
  }

  // --- q131: C4 line-level cleaning ----------------------------------------
  // The granularity the doc-level gates skip: C4 (Raffel et al. 2020
  // §2.2) retains only lines ending in terminal punctuation with >= 5
  // words and no blocklist hit, drops pages keeping < 3 lines, and
  // reassembles the survivors into the cleaned page (semantics and the
  // zero-shuffle array-HOF scale shape in TextAnalysisOps.c4LineFilter).
  // Fixture synthesis, the q110/q101c/q122 hazard pattern: the corpus
  // has no newlines or punctuation, so the frequent tokens row/scan
  // become ".\n" — a period-terminated line break, meaning every line
  // EXCEPT each doc's trailing one ends punctuated (exactly the line C4
  // drops on real pages: the unterminated tail) — and every rule fires
  // non-vacuously on the fixture: the tail line fails the punctuation
  // rule, short lines fail the >= 5 words rule, lines containing "dup"
  // (standing in for C4's "javascript") fail the blocklist, and docs
  // left with < 3 lines drop entirely. C4LineFilterSpec pins those
  // cardinalities non-trivial so the oracle row can never go vacuous
  // (the q119b lesson).
  val C4LineBlockTerm = "dup"

  def q131C4LineFilter(spark: SparkSession, dir: String): DataFrame =
    TextAnalysisOps.c4LineFilter(
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          regexp_replace(col("text"), "\\b(?:row|scan)\\b", ".\n").as("text")),
      lineSep = "\n", blockTerm = C4LineBlockTerm)
      .orderBy("doc_id")

  val q131Sql: String =
    raw"""WITH p AS (
      SELECT doc_id, regexp_replace(coalesce(text, ''),
        '\b(?:row|scan)\b', '.' || chr(10), 'g') AS t
      FROM documents),
    l AS (
      SELECT doc_id, list_filter(list_transform(
        string_split(t, chr(10)), x -> trim(x)), x -> length(x) > 0) AS lines
      FROM p),
    k AS (
      SELECT doc_id, len(lines) AS n_lines,
        list_filter(lines, x -> (x LIKE '%.' OR x LIKE '%!'
            OR x LIKE '%?' OR x LIKE '%"')
          AND len(string_split(x, ' ')) >= 5
          AND NOT contains(x, '$C4LineBlockTerm')) AS kept
      FROM l)
    SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
      CAST(len(kept) AS BIGINT) AS n_kept,
      array_to_string(kept, ' ~ ') AS cleaned
    FROM k WHERE len(kept) >= 3 ORDER BY doc_id"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q131_c4_line_filter" -> (q131C4LineFilter _),
    "q100_blocklist" -> (q100Blocklist _),
    "q99_heavy_hitters" -> (q99HeavyHitters _),
    "q179_stream_heavy_hitters" -> (q179StreamHeavyHitters _),
    "q99b_heavy_hitters_by_source" -> (q99bHeavyHittersBySource _),
    "q110_html_extract" -> (q110HtmlExtract _),
    "q118_more_like_this" -> (q118MoreLikeThis _),
    "q121_datasheet" -> (q121Datasheet _),
    "q122_luhn_cards" -> (q122LuhnCards _),
    "q115_unigram_train" -> (q115UnigramTrain _),
    "q115b_unigram_tokens" -> (q115bUnigramTokens _),
    "q70_unigram_rarity" -> (q70UnigramRarity _),
    "q70b_bigram_familiarity" -> (q70bBigramFamiliarity _),
    "q20_lang_id" -> (q20LangId _),
    "q168_langid_hashed" -> (q168LangIdHashed _),
    "q168b_langid_confusion" -> (q168bLangIdConfusion _),
    "q170_langmix_drift" -> (q170LangMixDrift _),
    "q21_quality" -> (q21Quality _),
    "q21b_repetition" -> (q21bRepetition _),
    "q22_token_counts" -> (q22TokenCounts _),
    "q162_length_quantiles" -> (q162LengthQuantiles _),
    "q162b_length_quantiles_approx" -> (q162bLengthQuantilesApprox _),
    "q22b_bpe_tokens" -> (q22bBpeTokens _),
    "q22c_wordpiece_tokens" -> (q22cWordpieceTokens _),
    "q135_tokenizer_fertility" -> (q135TokenizerFertility _),
    "q142_zipf_slope" -> (q142ZipfSlope _),
    "q145_mojibake" -> (q145Mojibake _),
    "q164_script_profile" -> (q164ScriptProfile _),
    "q165_effective_mixture" -> (q165EffectiveMixture _),
    "q146_mixture_weights" -> (q146MixtureWeights _),
    "q149_mixture_realization" -> (q149MixtureRealization _),
    "q150_mixture_decontamination" -> (q150MixtureDecontamination _),
    "q155_quality_drift" -> (q155QualityDrift _),
    "q157_prune_candidates" -> (q157PruneCandidates _),
    "q87_bpe_train" -> (q87BpeTrain _),
    "q87b_bpe_pair_counts" -> (q87bPairCounts _),
    "q87c_trained_tokens" -> (q87cTrainedTokens _),
    "q87d_wordpiece_train" -> (q87dWordpieceTrain _),
    "q87e_wordpiece_tokens" -> (q87eWordpieceTokens _),
    "q88_gopher_rules" -> (q88GopherRules _),
    "q90_bigram_surprisal" -> (q90BigramSurprisal _),
    "q90b_heldout_surprisal" -> (q90bHeldoutSurprisal _),
    "q172_perplexity_buckets" -> (q172PerplexityBuckets _),
    "q172b_bucket_drift" -> (q172bBucketDrift _),
    "q90c_kneser_ney" -> (q90cKneserNey _),
    "q23_fingerprints" -> (q23Fingerprints _),
    "q23b_redact" -> (q23bRedact _),
    "q63_keyword_search" -> (q63KeywordSearch _),
    "q63b_ranked_search" -> (q63bRankedSearch _),
    "q63c_bm25" -> (q63cBm25 _),
    "q65_quality_classifier" -> (q65QualityClassifier _),
    "q177_nb_train" -> (q177NbTrain _),
    "q177b_nb_scores" -> (q177bNbScores _),
    "q177c_nb_eval" -> (q177cNbEval _),
    "q177d_nb_gate_effect" -> (q177dNbGateEffect _),
    "q182_nb_heldout_eval" -> (q182NbHeldoutEval _),
    "q183_nb_learning_proof" -> (q183NbLearningProof _),
    "q186_nb_threshold_calibration" -> (q186NbThresholdCalibration _),
    "q188_calibrated_gate_effect" -> (q188CalibratedGateEffect _),
    "q190_per_source_calibration" -> (q190PerSourceCalibration _),
    "q178_perceptron_train" -> (q178PerceptronTrain _),
    "q178b_perceptron_eval" -> (q178bPerceptronEval _),
    "q65b_calibration" -> (q65bCalibration _),
    "q67_source_health" -> (q67SourceHealth _),
    "q76_phrase_search" -> (q76PhraseSearch _),
    "q81_rare_scrub" -> (q81RareScrub _),
    "q83_distribution_drift" -> (q83DistributionDrift _),
    "q83b_ks_drift" -> (q83bKsDrift _))

  // lazy for the same clinit-cycle reason as q146Sql (which this forces)
  lazy val oracleSql: Map[String, String] = Map(
    "q100_blocklist" -> q100Sql,
    "q131_c4_line_filter" -> q131Sql,
    "q99_heavy_hitters" -> q99Sql,
    "q179_stream_heavy_hitters" -> q99Sql,
    "q99b_heavy_hitters_by_source" -> q99bSql,
    "q110_html_extract" -> q110Sql,
    "q118_more_like_this" -> q118Sql,
    "q121_datasheet" -> q121Sql,
    "q122_luhn_cards" -> q122Sql,
    "q70_unigram_rarity" -> q70Sql,
    "q20_lang_id" -> q20Sql,
    "q168_langid_hashed" -> q168Sql,
    "q168b_langid_confusion" -> q168bSql,
    "q170_langmix_drift" -> q170Sql,
    "q21_quality" -> q21Sql,
    "q21b_repetition" -> q21bSql,
    "q22_token_counts" -> q22Sql,
    "q162_length_quantiles" -> q162Sql,
    "q22b_bpe_tokens" -> q22bSql,
    "q135_tokenizer_fertility" -> q135Sql,
    "q142_zipf_slope" -> q142Sql,
    "q145_mojibake" -> q145Sql,
    "q164_script_profile" -> q164Sql,
    "q165_effective_mixture" -> q165Sql,
    "q146_mixture_weights" -> q146Sql,
    "q149_mixture_realization" -> q149Sql,
    "q150_mixture_decontamination" -> q150Sql,
    "q155_quality_drift" -> q155Sql,
    "q157_prune_candidates" -> q157Sql,
    "q22c_wordpiece_tokens" -> q22cSql,
    "q87b_bpe_pair_counts" -> q87bSql,
    "q88_gopher_rules" -> q88Sql,
    "q90_bigram_surprisal" -> q90Sql,
    "q90b_heldout_surprisal" -> q90bSql,
    "q172_perplexity_buckets" -> q172Sql,
    "q172b_bucket_drift" -> q172bSql,
    "q90c_kneser_ney" -> q90cSql,
    "q23_fingerprints" -> q23Sql,
    "q23b_redact" -> q23bSql,
    "q63_keyword_search" -> q63Sql,
    "q63b_ranked_search" -> q63bSql,
    "q63c_bm25" -> q63cSql,
    "q65_quality_classifier" -> q65Sql,
    "q177_nb_train" -> q177Sql,
    "q177b_nb_scores" -> q177bSql,
    "q177c_nb_eval" -> q177cSql,
    "q177d_nb_gate_effect" -> q177dSql,
    "q182_nb_heldout_eval" -> q182Sql,
    "q183_nb_learning_proof" -> q183Sql,
    "q186_nb_threshold_calibration" -> q186Sql,
    "q188_calibrated_gate_effect" -> q188Sql,
    "q190_per_source_calibration" -> q190Sql,
    "q65b_calibration" -> q65bSql,
    "q67_source_health" -> q67Sql,
    "q76_phrase_search" -> q76Sql,
    "q81_rare_scrub" -> q81Sql,
    "q83_distribution_drift" -> q83Sql,
    "q83b_ks_drift" -> q83bSql,
    "q70b_bigram_familiarity" -> q70bSql)
}
