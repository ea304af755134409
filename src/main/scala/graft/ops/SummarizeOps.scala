package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Extractive TF-IDF summarization (SURVEY.md §2.4-2.5: P9, A1, A2, T1, T6).
  *
  * Reference behavior (nlp_data_tagging.py:86-116): split a document into
  * sentences, score each sentence by the sum of its TF-IDF term weights,
  * select the k highest-scoring sentences, then emit them in their original
  * document order ("select by score, emit by position"). Documents with <= k
  * sentences pass through unchanged.
  *
  * Engine-defined exact semantics (SURVEY.md §7.3 — we do not chase sklearn
  * bit-parity): a term's IDF is the integer `floor(1e6 * n_sentences / df)`
  * where df counts the sentences of the SAME document containing the term;
  * a sentence's score is the Long sum of `tf * idf` over its post-stopword
  * tokens. Integer scoring makes results bit-identical across engines
  * (no float summation-order sensitivity), so the DuckDB oracle can verify
  * it exactly.
  *
  * Scale notes: every statistic is per document, so summarization is one
  * narrow per-row kernel with no shuffle. A document's sentences are a
  * per-row `array<string>` ([[sentenceArray]] / [[chunkArray]]), its terms
  * come from the [[TextOps.cleanTokens]] Column expression inside
  * `transform`, and only the counting and ranking run as a typed function
  * ([[sentenceScores]], [[pickSentences]]): one hash-map pass over the
  * document's terms, then a sort of its sentence indices. [[summarize]]
  * applies it in a projection over the documents. The relation-shaped
  * entry points ([[scoreSentences]], [[extractiveSummary]]) group a
  * sentence relation per document once (one shuffle) and apply the same
  * kernel, so there is one implementation of the integer scheme.
  */
object SummarizeOps {

  /** P9 as a per-row array: the reference split
    * (`re.split(r'[.!?]+', text)`, keep trimmed sentences with length > 10;
    * nlp_data_tagging.py:81-84). Null text gives an empty array; element i
    * is the sentence with `sentence_id` i (the reference indexes into the
    * filtered list).
    */
  def sentenceArray(text: Column): Column =
    filter(transform(split(coalesce(text, lit("")), "[.!?]+"), s => trim(s)),
      s => length(s) > 10)

  /** Word chunks as a per-row array: the whitespace tokens
    * ([[TextOps.tokenize]]) of a document in consecutive `chunkWords`-word
    * pieces, each joined with single spaces. Null or blank text gives an
    * empty array. Tokens hold no whitespace, so a greedy match of up to
    * `chunkWords` space-separated tokens over the re-joined tokens cuts the
    * chunks in one linear scan, without a lambda over the token array.
    */
  def chunkArray(text: Column, chunkWords: Int): Column = {
    require(chunkWords >= 1, s"chunkWords must be >= 1 (got $chunkWords)")
    coalesce(
      regexp_extract_all(array_join(TextOps.tokenize(text), " "),
        lit(s"\\S+(?: \\S+){0,${chunkWords - 1}}"), lit(0)),
      array().cast("array<string>"))
  }

  /** P9: punctuation-based sentence split ([[sentenceArray]]) as a relation:
    * one row per kept sentence, `sentence_id` = 0-based rank within the
    * kept list. Narrow.
    */
  def sentences(docs: DataFrame, textCol: String = "text",
                idCol: String = "doc_id"): DataFrame =
    explodeSentences(docs, sentenceArray(col(textCol)), idCol)

  /** Fixture-friendly sentence source: chunk a document's whitespace tokens
    * into consecutive `chunkWords`-word pseudo-sentences ([[chunkArray]]).
    * The fixture corpus has no punctuation (FIXTURES.md documents.text), so
    * punctuation splits would degenerate to one sentence per doc; chunking
    * exercises the same downstream scoring/top-k machinery on real data.
    * One output row per chunk. Narrow.
    */
  def chunks(docs: DataFrame, chunkWords: Int, textCol: String = "text",
             idCol: String = "doc_id"): DataFrame =
    explodeSentences(docs, chunkArray(col(textCol), chunkWords), idCol)

  private def explodeSentences(docs: DataFrame, sents: Column,
                               idCol: String): DataFrame =
    docs.select(col(idCol), posexplode(sents).as(Seq("sentence_id", "sentence")))
      .select(col(idCol), col("sentence_id").cast("long"), col("sentence"))

  /** A1+A2 for one document: the integer TF-IDF score of each sentence,
    * given each sentence's post-stopword terms (a null entry has none).
    * Linear in the document's terms: one tf hash map per sentence, one df
    * hash map per document.
    */
  private[ops] def sentenceScores(terms: Seq[Seq[String]]): Array[Long] = {
    val n = terms.length
    val tfs = terms.map { ts =>
      val tf = mutable.HashMap.empty[String, Long]
      if (ts != null) ts.foreach(t => tf.update(t, tf.getOrElse(t, 0L) + 1L))
      tf
    }
    val df = mutable.HashMap.empty[String, Long]
    tfs.foreach(_.keysIterator.foreach(t => df.update(t, df.getOrElse(t, 0L) + 1L)))
    tfs.map(_.foldLeft(0L) { case (acc, (t, c)) =>
      acc + c * math.floor(1000000.0 * n / df(t)).toLong
    }).toArray
  }

  /** T1 for one document: the indices of the k top-scoring sentences
    * (score desc, then earlier sentence first), in document order.
    */
  private[ops] def pickSentences(scores: Array[Long], k: Int): Array[Int] =
    scores.indices.sortWith { (a, b) =>
      scores(a) > scores(b) || (scores(a) == scores(b) && a < b)
    }.take(k).sorted.toArray

  /** The picked summary of one document: [[pickSentences]] over
    * [[sentenceScores]], the sentences joined with `joiner` plus
    * `terminal`. Null when nothing is picked (k <= 0); a null sentence is
    * skipped, as `array_join` does.
    */
  private def pickedSummary(sents: Seq[String], terms: Seq[Seq[String]], k: Int,
                            joiner: String, terminal: String): String = {
    val picked = pickSentences(sentenceScores(terms), k)
    if (picked.isEmpty) null
    else picked.flatMap(i => Option(sents(i))).mkString("", joiner, terminal)
  }

  /** The summary of a row whose sentences are the array attribute `sents`:
    * the text itself when it has <= k sentences (nlp_data_tagging.py:91-92),
    * else the picked sentences. `sents` must be a staged attribute: it is
    * read three times, and Catalyst keeps a multiply-read non-trivial
    * expression in its own projection rather than inline it.
    */
  private def summaryOf(text: Column, sents: Column, k: Int, joiner: String,
                        terminal: String): Column = {
    val kernel = udf((ss: Seq[String], ts: Seq[Seq[String]]) =>
      pickedSummary(ss, ts, k, joiner, terminal))
    when(size(sents) <= k, text)
      .otherwise(kernel(sents, transform(sents, s => TextOps.cleanTokens(s))))
  }

  private val SentsCol = "__summary_sents"

  /** P9→A1→A2→T1 per row, no shuffle: adds `n_sentences` (Long) and
    * `summary` to every row of `docs`, where `sents` is the row's sentence
    * array ([[sentenceArray]] or [[chunkArray]] over `textCol`) — one
    * narrow projection, applied wherever the documents already are.
    */
  def summarize(docs: DataFrame, sents: Column, k: Int, joiner: String,
                terminal: String, textCol: String = "text"): DataFrame =
    docs.withColumn(SentsCol, sents)
      .withColumn("n_sentences", size(col(SentsCol)).cast("long"))
      .withColumn("summary",
        summaryOf(col(textCol), col(SentsCol), k, joiner, terminal))
      .drop(SentsCol)

  /** A sentence relation `(doc_id, sentence_id, sentence)` grouped per
    * document once: `ss` holds the (sentence_id, sentence) structs in
    * sentence_id order. (doc_id, sentence_id) is the relation's key.
    */
  private def perDoc(sents: DataFrame, idCol: String): DataFrame =
    sents.groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("sentence_id"), col("sentence")))).as("ss"))

  /** A1+A2: integer-exact TF-IDF sentence scores over a sentence relation
    * `(doc_id, sentence_id, sentence)`. Terms are the post-stopword tokens
    * (TextOps.cleanTokens); sentences contributing no scored terms get
    * score 0. One shuffle (the per-document grouping), then
    * [[sentenceScores]].
    */
  def scoreSentences(sents: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val scores = udf((ts: Seq[Seq[String]]) => sentenceScores(ts))
    perDoc(sents, idCol)
      .select(col(idCol), col("ss"), scores(transform(col("ss").getField("sentence"),
        s => TextOps.cleanTokens(s))).as("scores"))
      .select(col(idCol), explode(arrays_zip(col("ss"), col("scores"))).as("z"))
      .select(col(idCol), col("z.ss.sentence_id").as("sentence_id"),
        col("z.ss.sentence").as("sentence"), col("z.scores").as("score"))
  }

  /** A1 (sklearn-parity variant): TfidfVectorizer-default semantics for
    * users who want the reference's literal numbers
    * (nlp_data_tagging.py:95-99) rather than the engine's integer-exact
    * scheme: idf = ln((1+n)/(1+df)) + 1 (smooth_idf), raw-count tf, and
    * per-sentence L2 normalization; a sentence's score is the sum of its
    * normalized row (`tfidf_matrix.sum(axis=1)`). Same shuffle structure
    * as scoreSentences. Float aggregation is order-sensitive, so this
    * variant is unit-tested against hand-computed sklearn values and
    * driver-checked rows-only — it cannot be hash-exact across engines,
    * which is exactly why the oracle-verified default uses integers
    * (SURVEY.md §7.3).
    */
  def scoreSentencesSklearn(sents0: DataFrame,
                            idCol: String = "doc_id"): DataFrame = {
    // same multi-consumer persist as scoreSentences
    val sents = graft.CacheScope.persist(sents0)
    val terms = sents.select(col(idCol), col("sentence_id"),
      explode(TextOps.cleanTokens(col("sentence"))).as("term"))
    val tf = terms.groupBy(col(idCol), col("sentence_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("df"))
    val nSent = sents.groupBy(col(idCol)).agg(count(lit(1)).as("n_sent"))
    val w = col("tf") *
      (log((col("n_sent") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0))
    val scored = tf
      .join(df, Seq(idCol, "term"))
      .join(nSent, Seq(idCol))
      .withColumn("w", w)
      .groupBy(col(idCol), col("sentence_id"))
      .agg((sum(col("w")) / sqrt(sum(col("w") * col("w")))).as("score"))
    sents.join(scored, Seq(idCol, "sentence_id"), "left")
      .select(col(idCol), col("sentence_id"), col("sentence"),
        coalesce(col("score"), lit(0.0)).as("score"))
  }

  /** Declared domain of [[scoreSentencesSklearnFixed]]: documents with up
    * to this many sentences. [[LnTable]] holds ln(1)..ln(LnTableMax+1) so
    * both idf operands (n_sent+1 and df+1, df <= n_sent) stay in range.
    */
  val LnTableMax: Int = 1024

  /** ln(m) for m = 1..LnTableMax+1, computed ONCE here (JVM Math.log) and
    * shared verbatim by the engine plan (a literal array) and the
    * generated oracle SQL ([[LnTableSql]]). Neither engine evaluates ln()
    * at query time, which is what makes the q03d hash compare independent
    * of libm rounding.
    */
  val LnTable: Array[Double] =
    Array.tabulate(LnTableMax + 1)(i => math.log(i + 1.0))

  /** The same table as a DuckDB list literal. Each entry is serialized
    * with `java.lang.Double.toString` (shortest round-trip decimal) and
    * emitted as a STRING cast to DOUBLE: DuckDB's varchar→double cast is
    * a correctly-rounded parse, so the oracle's doubles are bit-identical
    * to the JVM's. (A bare decimal literal would type as DECIMAL and take
    * a different, multiply-rounded path to DOUBLE.)
    */
  val LnTableSql: String =
    LnTable.map(d => "'" + java.lang.Double.toString(d) + "'")
      .mkString("[", ",", "]::DOUBLE[]")

  /** A1 (sklearn-parity, FIXED-POINT): same smooth-idf + L2 semantics as
    * [[scoreSentencesSklearn]], but each term's idf is quantized ONCE to
    * exact integer micro-units (floor(1e6·idf)) before any aggregation, so
    * both sums of the score `Σw / sqrt(Σw²)` are exact integers
    * (DECIMAL(38,0) accumulation) and the only floats are the final
    * division and sqrt — single IEEE operations, identical in any engine
    * and independent of fold order. Scores differ from the float variant
    * by < 1e-6 relative (the idf quantization, which cancels in the
    * L2 ratio up to that precision) — and in exchange the result is
    * hash-verifiable cross-engine, which the order-sensitive float fold
    * can never be.
    *
    * ENGINE-INDEPENDENCE: the quantization
    * `floor(1e6·(ln(1+n) − ln(1+df) + 1))` reads both ln values from the
    * shared precomputed [[LnTable]] — the engine via a literal-array
    * lookup, the oracle via the [[LnTableSql]] list generated from the
    * SAME Scala constant — and every remaining operation (−, +, ×, floor)
    * is a single correctly-rounded IEEE op. No libm call is made by
    * either engine at query time, so the hash compare cannot flake on ln
    * rounding for ANY corpus inside the declared domain
    * (n_sent <= [[LnTableMax]]); beyond it the engine fails loudly
    * (raise_error) instead of silently degrading — larger documents
    * belong to [[scoreSentences]] (integer-exact, unbounded) or
    * [[scoreSentencesSklearn]] (float, rows-only).
    */
  def scoreSentencesSklearnFixed(sents0: DataFrame,
                                 idCol: String = "doc_id"): DataFrame = {
    val sents = graft.CacheScope.persist(sents0)
    val terms = sents.select(col(idCol), col("sentence_id"),
      explode(TextOps.cleanTokens(col("sentence"))).as("term"))
    val tf = terms.groupBy(col(idCol), col("sentence_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("df"))
    val nSent = sents.groupBy(col(idCol)).agg(count(lit(1)).as("n_sent"))
    // ln(m) via the shared table; 1-based element_at so index m → ln(m).
    // df == n_sent (the commonest case) reads the same entry twice →
    // exactly 0 → 1000000 on both engines.
    val lnTab = typedLit(LnTable.toSeq)
    def lnOf(m: Column): Column =
      when(m <= lit(LnTable.length), element_at(lnTab, m.cast("int")))
        .otherwise(raise_error(concat(
          lit(s"scoreSentencesSklearnFixed: n_sent exceeds declared domain LnTableMax=$LnTableMax (got m="),
          m.cast("string"), lit(")"))).cast("double"))
    val iq = floor(lit(1000000.0) *
      (lnOf(col("n_sent") + lit(1)) - lnOf(col("df") + lit(1)) + lit(1.0)))
      .cast("long")
    val w = (col("tf") * iq).cast("decimal(38,0)")
    val scored = tf
      .join(df, Seq(idCol, "term"))
      .join(nSent, Seq(idCol))
      .withColumn("w", w)
      .groupBy(col(idCol), col("sentence_id"))
      .agg((sum(col("w")).cast("double")
        / sqrt(sum(col("w") * col("w")).cast("double"))).as("score"))
    sents.join(scored, Seq(idCol, "sentence_id"), "left")
      .select(col(idCol), col("sentence_id"), col("sentence"),
        coalesce(col("score"), lit(0.0)).as("score"))
  }

  /** T1 (+ identity case) over a sentence relation: pick the k
    * top-scoring sentences per doc (ties → earlier sentence wins,
    * deterministic), emit them joined in original order. Docs with <= k
    * sentences return the original text unchanged (nlp_data_tagging.py:91-92).
    * Groups the relation per document once and applies the kernel of
    * [[summarize]]; callers that hold the documents use [[summarize]]
    * directly and skip the grouping and the join back.
    *
    * @param joiner separator used when stitching selected sentences —
    *               ". " with trailing "." for punctuation sentences
    *               (reference :106), " " for word-chunk sentences.
    */
  def extractiveSummary(docs: DataFrame, sents: DataFrame, k: Int,
                        joiner: String, terminal: String,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val grouped = perDoc(sents, idCol)
      .select(col(idCol), col("ss").getField("sentence").as("__grouped"))
    summarize(docs.join(grouped, Seq(idCol), "left"),
        coalesce(col("__grouped"), array().cast("array<string>")),
        k, joiner, terminal, textCol)
      .select(col(idCol), col("n_sentences"), col("summary"))
  }

  /** The reference `summarize_text` length policy (nlp_data_tagging.py:118-130):
    * target sentence count = max(1, maxLength / 20), then truncate the summary
    * at a word boundary if it still exceeds maxLength.
    */
  def targetSentences(maxLength: Int): Int = math.max(1, maxLength / 20)

  /** T6: the reference's error-path summary (nlp_data_tagging.py:108-116) —
    * first, middle, last sentence (deduped when they coincide), joined in
    * document order. Expressed as explicit conditional dataflow, not
    * exception control flow: a count window + position filter.
    */
  def fallbackSummary(sents: DataFrame, joiner: String = ". ",
                      terminal: String = ".",
                      idCol: String = "doc_id"): DataFrame = {
    val n = Window.partitionBy(idCol)
    val picked = sents
      .withColumn("n_sent", count(lit(1)).over(n))
      .where(col("sentence_id") === 0 ||
        col("sentence_id") === floor(col("n_sent") / 2) ||
        col("sentence_id") === col("n_sent") - 1)
    picked.groupBy(col(idCol))
      .agg(concat(array_join(transform(
        array_sort(collect_list(struct(col("sentence_id"), col("sentence")))),
        s => s.getField("sentence")), joiner), lit(terminal)).as("summary"))
  }
}
