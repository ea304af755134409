package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data text analysis: language ID, quality scoring, token
  * counting, document fingerprinting (builder-prompt extension surface; the
  * reference's only analysis ops are the summary metrics in
  * nlp_data_tagging.py:242-261, which MetricOps covers).
  *
  * All operators are narrow per-row column expressions — zero shuffles, full
  * whole-stage codegen — so they scale linearly with input splits. Ratios
  * are single IEEE divisions (deterministic across engines); counts are
  * exact Int64.
  */
object TextAnalysisOps {

  /** Bit length of a positive integer, ⌊log2 c⌋ + 1, as the length of its
    * binary string (the q70 trick): integer-exact, no libm.
    */
  private def log2len(c: Column): Column = length(conv(c, 10, 2)).cast("long")

  /** Per-language marker-word profiles for the n-gram/stopword language-ID
    * heuristic. Small public stop-word samples; the heuristic is
    * argmax(profile-hit count), ties broken by language code order.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ich", "mit", "ein", "zu"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "you", "that", "it", "for"),
    "es" -> Seq("el", "la", "que", "y", "en", "un", "es", "se", "no", "los"),
    "fr" -> Seq("le", "les", "de", "et", "un", "une", "est", "que", "je", "pas"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"))

  /** A BPE-ish token regex: letter runs, single digits, or single
    * non-alphanumeric glyphs — the shape (not the merges) of byte-pair
    * tokenizer output. Works identically in Java regex and RE2.
    */
  val BpeTokenRegex = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"

  /** Language-ID scores: one hit-count column `score_<lang>` per profile
    * plus the argmax `pred_lang`. Expects an attribute ref to a token array.
    */
  def langScores(tokens: Column): Seq[(String, Column)] =
    LangProfiles.map { case (lang, words) =>
      lang -> size(filter(tokens, t => array_contains(typedlit(words), t))).cast("long")
    }

  /** Argmax over the score columns; ties go to the first language in code
    * order (deterministic).
    */
  def predLang(scores: Seq[(String, Column)]): Column = {
    val m = greatest(scores.map(_._2): _*)
    scores.reverse.foldLeft(lit(LangProfiles.head._1)) { case (acc, (lang, s)) =>
      when(s === m, lit(lang)).otherwise(acc)
    }
  }

  // --- hashed-n-gram language classifier (the production-scale tier) -----
  // The q20 profile scorer is the ORACLED baseline; this is the
  // fastText-class shape (Joulin et al. 2016; Bojanowski et al. 2017 —
  // both public) the r11 verdict asked for: per token, the word itself
  // plus its boundary-marked character trigrams hash into
  // [[ClassifierBuckets]] buckets, a broadcast (bucket, lang, weight)
  // relation scores them, and the label is the per-language-sum argmax.
  // The weight table here is DERIVED from the public LangProfiles seed
  // lists (a few hundred rows — counts of each profile feature), standing
  // in for trained parameters exactly like [[classifierWeights]] does for
  // the quality model: swap in a real table (same schema) and every plan
  // property is unchanged. All-integer scoring, so the whole classifier
  // hash-verifies against the DuckDB twin.

  /** Boundary-marked feature list of one token, as a column expression:
    * `[ltok] ++ trigrams(padded)` where `ltok` = lower(tok) and `padded`
    * = "<" + ltok + ">". BOTH must be staged attribute refs (a nested
    * expression would re-evaluate per trigram inside the lambda — the
    * q06-class duplication trap).
    */
  def langFeatures(ltok: Column, padded: Column): Column = {
    val tris = when(length(padded) >= 3,
      transform(sequence(lit(1), length(padded) - 2),
        i => padded.substr(i, lit(3))))
      .otherwise(array().cast("array<string>"))
    concat(array(ltok), tris)
  }

  /** Driver-side twin of [[langFeatures]] (code-point trigrams — the
    * same units both engines' substr/length count), used to expand the
    * profile words into the weight relation.
    */
  private[graft] def langFeaturesOf(tok: String): Seq[String] = {
    val w = tok.toLowerCase(java.util.Locale.ROOT)
    val cps = s"<$w>".codePoints().toArray
    w +: (0 to cps.length - 3).map(i => new String(cps, i, 3))
  }

  /** The classifier's weight relation as data: one row per
    * (bucket, lang) a profile feature hashes into, weight = how many of
    * that language's profile features land there. ~hundreds of rows —
    * broadcast-sized at any corpus scale, and embedded verbatim into the
    * oracle's VALUES list so both engines score the identical model.
    */
  lazy val langWeightRows: Seq[(Long, String, Long)] =
    LangProfiles.flatMap { case (lang, words) =>
      words.flatMap(langFeaturesOf)
        .groupBy(f => math.floorMod(
          graft.functions.PolyCharHash.hash(
            org.apache.spark.unsafe.types.UTF8String.fromString(f)),
          ClassifierBuckets))
        .toSeq.map { case (b, fs) => (b, lang, fs.size.toLong) }
    }.sortBy(r => (r._1, r._2))

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    size(TextOps.tokenize(text)).cast("long")

  /** BPE-ish token count via regex extraction — the pre-tokenizer PROXY
    * (counts pre-tokens, not merged subwords). Kept for q22's rollup;
    * token-DENOMINATED operators should use [[bpeTokens]] /
    * [[graft.functions.BpeMerges]], the real merge-table encoder.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeTokenRegex), lit(0))).cast("long")

  /** Pre-token array feeding the real BPE encoder (same regex as the
    * proxy count, so both stages of the tokenizer share one split).
    */
  def bpePreTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpeTokenRegex), lit(0))

  /** Real merge-table BPE token array (greedy lowest-rank merges; see
    * [[graft.functions.BpeMerges]]). Stage the pre-token array in a prior
    * select when consuming this more than once.
    */
  def bpeTokens(text: Column): Column =
    graft.functions.BpeMerges.bpeEncode(bpePreTokens(text))

  /** Per-document quality-signal struct over `(text, tokens)` attribute
    * refs: char/token counts, type-token ratio, mean token length, stopword
    * ratio, non-alphanumeric ratio. The classic cheap quality filters for
    * pretraining corpora (length / repetition / symbol heuristics).
    */
  def qualityColumns(text: Column, tokens: Column): Seq[Column] = {
    val nChars = length(text).cast("long")
    val nToks = size(tokens).cast("long")
    val nDistinct = size(array_distinct(tokens)).cast("long")
    val sumLen = aggregate(tokens, lit(0L), (a, t) => a + length(t))
    // OptimizeIn turns the 127-word `isin` into one hash InSet lookup per
    // token; a null token yields null and is not counted
    val nStop = size(filter(tokens, t =>
      lower(t).isin(TextOps.StopWords: _*))).cast("long")
    val nNonAlnum = (length(text) -
      length(regexp_replace(text, "[^a-zA-Z0-9 ]", ""))).cast("long")
    Seq(
      nChars.as("n_chars"),
      nToks.as("n_tokens"),
      nDistinct.as("n_distinct_tokens"),
      when(nToks > 0, nDistinct.cast("double") / nToks).otherwise(0.0)
        .as("type_token_ratio"),
      when(nToks > 0, sumLen.cast("double") / nToks).otherwise(0.0)
        .as("mean_token_len"),
      when(nToks > 0, nStop.cast("double") / nToks).otherwise(0.0)
        .as("stopword_ratio"),
      when(nChars > 0, nNonAlnum.cast("double") / nChars).otherwise(0.0)
        .as("non_alnum_ratio"))
  }

  /** Quality-gate thresholds — the single source for BOTH the engine
    * predicate ([[qualityPass]]) and every oracle's SQL twin
    * ([[qualityPassSql]]), so a threshold change can never desync them.
    */
  val QualityMinTokens: Int = 5
  val QualityMinTtr: Double = 0.2
  val QualityMaxNonAlnum: Double = 0.2
  val QualityMaxStopword: Double = 0.9

  /** Composite quality gate over the qualityColumns output attributes:
    * enough tokens, not too repetitive, mostly alphanumeric, bounded
    * stopword density.
    */
  def qualityPass: Column =
    (col("n_tokens") >= QualityMinTokens) &&
      (col("type_token_ratio") >= QualityMinTtr) &&
      (col("non_alnum_ratio") <= QualityMaxNonAlnum) &&
      (col("stopword_ratio") <= QualityMaxStopword)

  /** The same gate as oracle SQL, over caller-named signal columns. */
  def qualityPassSql(nTokens: String = "n_tokens",
                     ttr: String = "type_token_ratio",
                     nonAlnum: String = "non_alnum_ratio",
                     stopword: String = "stopword_ratio"): String =
    s"($nTokens >= $QualityMinTokens AND $ttr >= $QualityMinTtr AND " +
      s"$nonAlnum <= $QualityMaxNonAlnum AND $stopword <= $QualityMaxStopword)"

  /** Boilerplate/repetition signal: fraction of n-gram occurrences that are
    * repeats (`1 - distinct/total`), 0 for docs shorter than n. High values
    * flag template/spam text — a standard pretraining filter.
    */
  def repetitionRatio(tokens: Column, n: Int): Column = {
    val grams = when(size(tokens) >= n,
      transform(sequence(lit(0), size(tokens) - n),
        i => concat_ws(" ", slice(tokens, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
    when(size(grams) > 0,
      lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams))
      .otherwise(0.0)
  }

  /** Gopher-style repetition profile (after Rae et al. 2021 §A1.1,
    * public): top-2-gram character mass, duplicated-5-gram character
    * mass, and duplicate-sentence fraction — the standard pretraining
    * repetition filters beyond [[repetitionRatio]]'s occurrence fraction.
    *
    * Two DELIBERATE deviations from the paper's letter, chosen for
    * determinism and scale (both mirrored exactly in the oracle):
    * `top_bigram_chars` is max over grams of count·len — a tie-free upper
    * bound on "characters in the most frequent 2-gram" (no arbitrary
    * tie-break among equally-frequent grams); and `dup_5gram_chars` sums
    * count·len over duplicated grams, multi-counting overlaps rather than
    * computing the exact character cover (the common implementation
    * shortcut — the fraction can exceed 1 on heavily looped text, which
    * only strengthens the reject signal the threshold encodes).
    *
    * Computed relationally (explode → count by (doc, gram)) rather than
    * per-row array scans: shuffle volume is O(total tokens) keyed by the
    * high-cardinality (doc, gram) pair, so the same plan holds for
    * book-length documents where an O(G·distinct) in-array count would
    * make single rows into stragglers. Sentences follow P9 semantics
    * (split `[.!?]+`, trimmed, length > 10) without the sentence-id window
    * — only counts are needed.
    */
  def repetitionProfile(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val text = coalesce(col(textCol), lit(""))
    // stage the token array as an attribute BEFORE any lambda touches it:
    // a non-attribute array expression inside transform/slice duplicates
    // its whole tree per element (the documented 40x q06 pitfall).
    // Persisted: both gram branches consume it, and Catalyst never shares
    // work across join branches — unpersisted, the corpus tokenizes twice.
    val staged = graft.CacheScope.persist(
      docs.select(col(idCol), TextOps.tokenize(text).as("toks")))
    def gramCounts(n: Int): DataFrame = {
      val toks = col("toks")
      val grams = when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
        .otherwise(array().cast("array<string>"))
      staged.select(col(idCol), explode(grams).as("gram"))
        .groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("cnt"))
    }
    val top2 = gramCounts(2).groupBy(col(idCol))
      .agg(max(col("cnt") * length(col("gram")).cast("long"))
        .as("top_bigram_chars"))
    val dup5 = gramCounts(5).groupBy(col(idCol))
      .agg(sum(when(col("cnt") > 1, col("cnt") * length(col("gram")).cast("long"))
        .otherwise(0L)).as("dup_5gram_chars"))
    val sents = docs
      .select(col(idCol), explode(split(text, "[.!?]+")).as("s"))
      .select(col(idCol), trim(col("s")).as("sentence"))
      .where(length(col("sentence")) > 10)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_sentences"),
        countDistinct(col("sentence")).as("n_distinct_sentences"))
    val nChars = col("n_chars")
    docs.select(col(idCol), length(text).cast("long").as("n_chars"))
      .join(top2, Seq(idCol), "left")
      .join(dup5, Seq(idCol), "left")
      .join(sents, Seq(idCol), "left")
      .select(col(idCol), nChars,
        coalesce(col("top_bigram_chars"), lit(0L)).as("top_bigram_chars"),
        when(nChars > 0,
          coalesce(col("top_bigram_chars"), lit(0L)).cast("double") / nChars)
          .otherwise(0.0).as("top_bigram_char_frac"),
        coalesce(col("dup_5gram_chars"), lit(0L)).as("dup_5gram_chars"),
        when(nChars > 0,
          coalesce(col("dup_5gram_chars"), lit(0L)).cast("double") / nChars)
          .otherwise(0.0).as("dup_5gram_char_frac"),
        coalesce(col("n_sentences"), lit(0L)).as("n_sentences"),
        when(coalesce(col("n_sentences"), lit(0L)) > 0,
          lit(1.0) -
            col("n_distinct_sentences").cast("double") / col("n_sentences"))
          .otherwise(0.0).as("dup_sentence_frac"))
      .withColumn("repetition_pass",
        col("top_bigram_char_frac") <= 0.20 &&
          col("dup_5gram_char_frac") <= 0.15 &&
          col("dup_sentence_frac") <= 0.30)
  }

  /** Conjunctive keyword retrieval with all-integer ranking: documents
    * containing EVERY query term (case-folded), ranked by total term
    * frequency descending with doc_id as the tie-break, top k. The
    * relational inverted-index shape — explode tokens, filter to the query
    * terms (a tiny IN-list, evaluated in the scan's codegen'd filter so
    * only posting rows ever shuffle), count tf per (doc, term), enforce
    * the conjunction via a distinct-term count. Ranking is pure integers:
    * no float scores, so the result is engine-exact by construction.
    * `orderBy.limit` plans as TakeOrderedAndProject — per-partition top-k
    * heaps, never a full sort, at any corpus size.
    */
  def keywordSearch(docs: DataFrame, terms: Seq[String], k: Int,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "keywordSearch needs at least one query term")
    val folded = terms.map(_.toLowerCase)
    val postings = docs
      .select(col(idCol),
        explode(TextOps.tokenize(lower(coalesce(col(textCol), lit(""))))).as("term"))
      .where(col("term").isin(folded: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    postings.groupBy(col(idCol))
      .agg(countDistinct(col("term")).as("n_terms"),
        sum(col("tf")).as("total_tf"))
      .where(col("n_terms") === folded.distinct.size)
      .select(col(idCol), col("total_tf"))
      .orderBy(col("total_tf").desc, col(idCol))
      .limit(k)
  }

  /** Exact PHRASE search over positional postings — the adjacency upgrade
    * of [[keywordSearch]]: a doc matches only where the phrase tokens
    * occur consecutively, and is ranked by its exact occurrence count
    * (overlapping occurrences each count: "a a a" contains "a a" twice).
    *
    * The classic IR formulation (positional inverted index + posting-list
    * intersection; Manning et al., IIR §2.4, public), relationally:
    * `posexplode` yields (doc, pos, term) postings pruned to the phrase's
    * terms immediately after the explode — at 100 TB the postings relation
    * shrunk to two or three terms is a vanishing fraction of the corpus,
    * which is exactly why search engines probe posting lists instead of
    * scanning documents. Token i then equi-joins at `pos - i`, so an
    * m-token phrase is (m-1) narrow equi-joins keyed by the
    * high-cardinality (doc, pos) — no inequality or cross join anywhere —
    * and the final top-k is orderBy.limit (TakeOrderedAndProject: per-
    * partition heaps, never a full sort).
    */
  def phraseSearch(docs: DataFrame, phrase: Seq[String], k: Int,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    require(phrase.size >= 2,
      "phraseSearch needs a phrase of at least two tokens (use keywordSearch)")
    val folded = phrase.map(_.toLowerCase)
    val postings0 = docs
      .select(col(idCol),
        posexplode(TextOps.tokenize(lower(coalesce(col(textCol), lit("")))))
          .as(Seq("pos", "term")))
      .where(col("term").isin(folded.distinct: _*))
    // one consumer per phrase token; without a persist each join branch
    // re-tokenizes the whole corpus
    val postings = graft.CacheScope.persist(postings0)
    def termPositions(t: String, offset: Int): DataFrame =
      postings.where(col("term") === t)
        .select(col(idCol), (col("pos") - offset).as("pos"))
    val matched = folded.zipWithIndex.tail
      .foldLeft(termPositions(folded.head, 0)) { case (acc, (t, i)) =>
        acc.join(termPositions(t, i), Seq(idCol, "pos"))
      }
    matched.groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
      .orderBy(col("n_hits").desc, col(idCol))
      .limit(k)
  }

  /** Disjunctive RANKED retrieval with integer idf weighting — the
    * BM25-shaped upgrade of [[keywordSearch]]'s conjunctive total-tf
    * ranking, restated in exact integer arithmetic so the ranking (not
    * just the hit set) is oracle-verifiable:
    *
    *   score(d) = Σ_t  min(tf_td, tfCap) · (idfBoost · (⌊log2 N⌋ − ⌊log2 df_t⌋) + 1)
    *
    * min(tf, cap) is BM25's term-frequency saturation as a hard knee;
    * the weight is an idf bucket (floor-log2 via binary-string length,
    * the q70 trick — no libm), boosted so rarity dominates raw repetition,
    * plus 1 so every matched term still contributes (weights are ≥ 1, so
    * every doc matching ≥ 1 term scores ≥ 1). Docs are ranked by score,
    * ties by id; docs matching no term never appear (inner postings join).
    *
    * Scale shape: postings pruned to the query terms right after the
    * explode (vanishing fraction of the corpus); df aggregate and weight
    * table are |terms| rows, broadcast; one per-doc sum; top-k is
    * orderBy.limit → TakeOrderedAndProject.
    */
  def rankedSearch(docs: DataFrame, terms: Seq[String], tfCap: Int,
                   idfBoost: Int, k: Int,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "rankedSearch needs at least one query term")
    val folded = terms.map(_.toLowerCase).distinct
    val postings0 = docs
      .select(col(idCol),
        explode(TextOps.tokenize(lower(coalesce(col(textCol), lit(""))))).as("term"))
      .where(col("term").isin(folded: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    // two consumers: the df aggregate and the scoring join
    val postings = graft.CacheScope.persist(postings0)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val weights = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("term"),
        (lit(idfBoost.toLong) * (log2len(col("n_docs")) - log2len(col("df")))
          + 1L).as("w"))
    postings.join(broadcast(weights), "term")
      .groupBy(col(idCol))
      .agg(sum(least(col("tf"), lit(tfCap.toLong)) * col("w")).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Full Okapi BM25 (Robertson & Walker 1994) — [[rankedSearch]]'s hard
    * tf knee replaced by the real saturation + document-length
    * normalization, restated so the ranking stays integer-exact:
    *
    *   score(d) = Σ_t idf_w(t) · ⌊1e6 · tf(k1+1) / (tf + k1(1−b+b·dl/avgdl))⌋
    *
    * with the standard k1 = 1.2, b = 0.75 kept as the exact rationals
    * 6/5 and 3/4. Substituting avgdl = L/N (L = Σ dl, N = docs) and
    * multiplying through by 20L turns the saturation into pure BIGINT:
    *
    *   sat_micro = (1e6 · 44·L·tf) div (20·L·tf + 6·L + 18·dl·N)
    *
    * idf_w is [[rankedSearch]]'s floor-log2 bucket (idfBoost·(⌊log2 N⌋ −
    * ⌊log2 df⌋) + 1) — Robertson's ln-idf needs libm, which the
    * cross-engine exactness contract forbids; the bucket preserves the
    * rarity ordering, the part of idf BM25's ranking actually uses.
    * Length normalization is why this exists: a term hit in a short doc
    * now outranks the same hit diluted in a long one, which the
    * tf-cap shape is blind to.
    *
    * Scale shape identical to [[rankedSearch]] (pruned postings, |terms|
    * broadcast weight rows carrying the two corpus scalars, one per-doc
    * sum, TakeOrderedAndProject) plus one corpus-scalar aggregate.
    * Operands grow ~1e6·44·L·tf: past ~2e17 (L·tf ≈ 4.6e9) widen to
    * DECIMAL, q102's note.
    */
  def bm25Search(docs: DataFrame, terms: Seq[String], idfBoost: Int, k: Int,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "bm25Search needs at least one query term")
    val folded = terms.map(_.toLowerCase).distinct
    // staged: the corpus-length aggregate and the postings both read it
    val staged = graft.CacheScope.persist(docs
      .select(col(idCol),
        TextOps.tokenize(lower(coalesce(col(textCol), lit("")))).as("toks"))
      .select(col(idCol), col("toks"), size(col("toks")).cast("long").as("dl")))
    val postings = graft.CacheScope.persist(staged
      .select(col(idCol), col("dl"), explode(col("toks")).as("term"))
      .where(col("term").isin(folded: _*))
      .groupBy(col(idCol), col("dl"), col("term")).agg(count(lit(1)).as("tf")))
    val corpus = staged.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("l_total"))
    val weights = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(corpus))
      .select(col("term"),
        (lit(idfBoost.toLong) * (log2len(col("n_docs")) - log2len(col("df")))
          + 1L).as("w"),
        col("n_docs"), col("l_total"))
    postings.join(broadcast(weights), "term")
      .withColumn("sat_micro", expr(
        "(1000000 * 44 * l_total * tf) div " +
          "(20 * l_total * tf + 6 * l_total + 18 * dl * n_docs)"))
      .groupBy(col(idCol))
      .agg(sum(col("w") * col("sat_micro")).as("score_micro"),
        count(lit(1)).as("n_terms"), max(col("dl")).as("dl"))
      .select(col(idCol), col("score_micro"), col("n_terms"), col("dl"))
      .orderBy(col("score_micro").desc, col(idCol))
      .limit(k)
  }

  /** "More like this": sparse LEXICAL doc-to-doc similarity through the
    * inverted index — for each query doc, the top-k most similar docs by
    * the tf-idf-weighted token dot product, mass-normalized, in exact
    * integer arithmetic plus ONE final IEEE division so the whole
    * ranking hash-verifies (Lucene's MLT is this shape; complementary to
    * the embedding kNN ladder — no model, exact, interpretable).
    *
    *   w(d,t)  = min(tf, tfCap) · (idfBoost·(⌊log2 N⌋−⌊log2 df⌋) + 1)
    *   dot     = Σ_t w(a,t)·w(b,t)   (postings join keyed on term)
    *   sim     = ⌊1e6 · dot / (mass_a · mass_b)⌋,  mass = Σ_t w(d,t)
    *
    * Mass, not L2 norm: the norm's sqrt would break integer exactness;
    * mass normalization keeps the score scale-free in doc length, which
    * is what the pair RANKING needs.
    *
    * Scale shape: candidates meet only through shared terms (inverted
    * index, never an all-pairs product); stop-terms are the hot join
    * keys AND carry near-zero idf signal, so terms with df > `dfCap`
    * are dropped from pairing entirely — capShingleDf's escape hatch
    * applied to retrieval (the oracle mirrors the cap, so the drop is
    * part of the verified semantics). Per-query top-k prunes through
    * WindowGroupLimit before the output sort.
    */
  def moreLikeThis(docs: DataFrame, everyNth: Int, k: Int, tfCap: Int,
                   idfBoost: Int, dfCap: Long,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    moreLikeThisFromPostings(
      docs.agg(count(lit(1)).as("n_docs")),
      graft.CacheScope.persist(docs
        .select(col(idCol),
          explode(TextOps.tokenize(lower(coalesce(col(textCol), lit(""))))).as("term"))
        .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))),
      everyNth, k, tfCap, idfBoost, dfCap, idCol)

  /** [[moreLikeThis]] over an already-aggregated LOWERCASED postings
    * relation `(id, term, tf)` plus the 1-row corpus count — the
    * session-memo entry point (q118 shares the tokenized corpus; callers
    * persist the postings, which the df aggregate and the weighting join
    * both consume). Lowercased-postings note: deriving these from the
    * shared `toks` memo as `lower(tok)` is exact because lowercasing
    * never creates or removes whitespace, so
    * `tokenize(lower(text)) == map(lower, tokenize(text))` —
    * property-gated against the direct form in TextAnalysisSpec.
    */
  def moreLikeThisFromPostings(nDocs: DataFrame, postings: DataFrame,
                               everyNth: Int, k: Int, tfCap: Int,
                               idfBoost: Int, dfCap: Long,
                               idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weights = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") <= dfCap)
      .crossJoin(broadcast(nDocs))
      .select(col("term"),
        (lit(idfBoost.toLong) * (log2len(col("n_docs")) - log2len(col("df")))
          + 1L).as("w"))
    val wpost = graft.CacheScope.persist(
      postings.join(broadcast(weights), "term")
        .select(col(idCol), col("term"),
          (least(col("tf"), lit(tfCap.toLong)) * col("w")).as("wdt")))
    val mass = wpost.groupBy(col(idCol)).agg(sum(col("wdt")).as("mass"))
    val q = wpost.where(col(idCol) % everyNth === 0)
      .toDF("query_id", "term", "qw")
    val dots = q.join(wpost.toDF("cand_id", "term", "cw"), "term")
      .where(col("cand_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("qw") * col("cw")).as("dot"))
    dots
      .join(mass.toDF("query_id", "q_mass"), "query_id")
      .join(mass.toDF("cand_id", "c_mass"), "cand_id")
      .select(col("query_id"), col("cand_id"),
        floor(lit(1000000.0) * col("dot") / (col("q_mass") * col("c_mass")))
          .cast("long").as("sim_micro"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("sim_micro").desc, col("cand_id").asc)))
      .where(col("rk") <= k)
      .select(col("query_id"), col("cand_id"), col("sim_micro"),
        col("rk").cast("long").as("rk"))
  }

  /** Feature-hash dimensionality of the linear quality classifier. */
  val ClassifierBuckets = 4096L

  /** Feature-hash dimensionality of the TRAINED classifier tier
    * (q177/q178). Wider than [[ClassifierBuckets]] deliberately: at 4096
    * buckets the fixture's vocabulary packs ~5 distinct tokens per
    * bucket, mixing languages inside single counters, and the floor-log2
    * weight quantization then erases the diluted per-bucket odds
    * (measured: NB accuracy collapsed to the 386‰ base rate). At 2^15
    * collisions are rare for the fixture vocabulary and the published
    * practice is the same dial (fastText defaults to 2M bins for exactly
    * this reason). The fixed-surrogate tier keeps 4096 — its weights are
    * arbitrary, so collisions cost it nothing, and its oracles embed the
    * 4096-row VALUES table.
    */
  val TrainedBuckets = 1L << 15

  /** The classifier's weight RELATION: bucket → integer weight. This
    * surrogate (`(bucket % 17) - 8`, zero-mean over the bucket space)
    * stands in for learned fasttext-style parameters — swap in a real
    * table (same schema) and every plan property below is unchanged.
    */
  def classifierWeights(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.range(ClassifierBuckets)
      .select(col("id").as("bucket"), (col("id") % 17 - 8).as("weight"))

  /** Model-based quality filtering, the scale plumbing of a fasttext-style
    * linear classifier (Joulin et al. 2016, public; the CCNet/quality-
    * filter pattern): tokens hash into [[ClassifierBuckets]] buckets via
    * the portable polynomial hash, each bucket carries a weight from a
    * model RELATION, a document scores the sum of its token weights, and
    * the label is `score >= 0`.
    *
    * The model is DATA, not code — a D-row table broadcast-joined to the
    * exploded (doc, bucket) postings, then one per-doc sum. That is how a
    * linear model applies to a 100 TB corpus without leaving the
    * dataflow: no driver-side arrays, no UDF closure captures, weights
    * swappable/versionable like any dimension table. Integer weights keep
    * the score engine-exact (no float fold order).
    */
  def qualityClassify(docs: DataFrame, weights: DataFrame,
                      idCol: String = "doc_id",
                      textCol: String = "text",
                      buckets: Long = ClassifierBuckets): DataFrame = {
    val staged = docs.select(col(idCol),
      TextOps.tokenize(coalesce(col(textCol), lit(""))).as("toks"))
    // LEFT join, not inner: a real (sparse) weight table stores only
    // nonzero buckets, and a missing bucket must mean weight 0 — an inner
    // join would silently drop those tokens from n_features too
    val scored = staged
      .select(col(idCol), explode(col("toks")).as("tok"))
      .select(col(idCol),
        (HashOps.charHash(col("tok")) % buckets).as("bucket"))
      .join(broadcast(weights), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(sum(coalesce(col("weight"), lit(0L))).as("score"),
        count(lit(1)).as("n_features"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("score"), lit(0L)).as("score"),
        coalesce(col("n_features"), lit(0L)).as("n_features"),
        (coalesce(col("score"), lit(0L)) >= 0).as("quality_label"))
  }

  /** `(id, toks, good)` — every document with its token array and the
    * q21 battery verdict as a boolean label. The SUPERVISION relation of
    * the in-engine classifier trainers ([[nbTrainedWeights]], the q178
    * perceptron): the published curation practice trains the cheap
    * deployed classifier on labels from an expensive/heuristic source
    * (rule batteries, a reference corpus), and the battery is this
    * engine's own oracled label source (q21/q67/q155). One narrow pass,
    * no shuffle.
    */
  def batteryLabeled(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val staged = docs.select(col(idCol), col(textCol).as("text"),
      TextOps.tokenize(coalesce(col(textCol), lit(""))).as("toks"))
    staged
      .select((Seq(col(idCol), col("toks")) ++
        qualityColumns(col("text"), col("toks"))): _*)
      .select(col(idCol), col("toks"), qualityPass.as("good"))
  }

  /** `(id, toks, good)` under REFERENCE-CORPUS membership supervision:
    * `good` = the document's `lang` equals the target — the
    * WebText/CCNet discriminator shape, where "quality" is operationally
    * "looks like the curated in-domain corpus" and the cheap linear
    * model is trained to reproduce that membership. This is the registry
    * trainers' supervision (q177/q178): the battery label
    * ([[batteryLabeled]]) is a degenerate one-class problem on the
    * fixture (all 500 docs pass the q21 gate — measured, sf0.001 and
    * sf0.01), while the language carve at least has two-class 193/307
    * structure. Fixture honesty (measured): the five languages draw
    * from ONE shared 31-word vocabulary, so even a full-vocabulary
    * float-NB fit caps at 0.594 on this label — the registry rows
    * demonstrate the exact-verified plumbing at near-base-rate
    * accuracy, and ClassifierTrainSpec's designed corpora carry the
    * learning proof where signal exists.
    */
  def langLabeled(docs: DataFrame, targetLang: String,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      TextOps.tokenize(coalesce(col(textCol), lit(""))).as("toks"),
      (col("lang") === targetLang).as("good"))

  /** TRAIN the [[qualityClassify]] weight table in-engine — closing the
    * r12 gap where q65/q168 scored under fixed surrogate weights but
    * nothing learned weights from labeled data. Multinomial Naive Bayes
    * over the SAME hashed-unigram feature space q65 scores with
    * (charHash % [[ClassifierBuckets]]), supervised by any
    * `(toks, good)`-shaped labeled relation ([[batteryLabeled]],
    * [[langLabeled]], or a curated set): per bucket, count token
    * instances in good vs bad documents, and the weight is the
    * Laplace-smoothed
    * log-odds quantized to the engine's integer floor-log2 convention
    * (the q70 `sum_log2_ctf` / surprisal quantization — binary-string
    * length, no libm):
    *
    *   weight(b) = ⌊log2(n_good_b + 1)⌋ − ⌊log2(n_bad_b + 1)⌋
    *             − ⌊log2(T_good + D)⌋ + ⌊log2(T_bad + D)⌋
    *
    * with T_* the class token-instance masses and D = `buckets` (default
    * [[TrainedBuckets]]) the smoothing denominator's bucket count. NB training is pure
    * counting — ONE feature aggregation (bucket-keyed, D-bounded) plus a
    * 1-row totals broadcast — so unlike the iterative trainers (q87's
    * BPE loop, the q178 perceptron) the whole train is dataflow, stays
    * in the engine at any corpus size, and hash-verifies end-to-end
    * against a SQL oracle. The class prior is deliberately NOT folded
    * into the per-feature weights (it is per-document, not per-feature);
    * consumers wanting MAP scoring add ⌊log2 n_good_docs⌋ −
    * ⌊log2 n_bad_docs⌋ once per doc — the fixture registry publishes
    * likelihood-odds scores, the q65 contract.
    *
    * Output `(bucket, n_good, n_bad, weight)` for every bucket with any
    * training mass — `(bucket, weight)` is drop-in for
    * [[qualityClassify]]'s weight relation (model-as-data, exactly the
    * swap its scaladoc promises).
    */
  def nbTrainedWeights(labeled: DataFrame,
                       buckets: Long = TrainedBuckets): DataFrame = {
    val inst = labeled
      .select(col("good"), explode(col("toks")).as("tok"))
      .select(col("good"),
        (HashOps.charHash(col("tok")) % buckets).as("bucket"))
    val counts = inst.groupBy(col("bucket"))
      .agg(sum(when(col("good"), 1L).otherwise(0L)).as("n_good"),
        sum(when(!col("good"), 1L).otherwise(0L)).as("n_bad"))
    nbWeightsOfCounts(counts, buckets)
  }

  /** The weight formula over an already-aggregated per-bucket count
    * relation `(bucket, n_good, n_bad)` — factored out so
    * [[nbCarveScores]]'s single-pass path derives weights from the SAME
    * expression the canonical trainer uses (no formula drift).
    */
  private def nbWeightsOfCounts(counts: DataFrame, buckets: Long): DataFrame = {
    val totals = broadcast(counts.agg(
      sum(col("n_good")).as("tg"), sum(col("n_bad")).as("tb")))
    // floor(log2 x) = length(binary string) - 1; the four -1s cancel in
    // the two differences, so raw lengths are exact here
    counts.crossJoin(totals)
      .select(col("bucket"), col("n_good"), col("n_bad"),
        (log2len(col("n_good") + 1L) - log2len(col("n_bad") + 1L)
          - log2len(col("tg") + lit(buckets))
          + log2len(col("tb") + lit(buckets))).as("weight"))
  }

  /** Train-vs-HELD-OUT evaluation of the NB trainer in one dataflow row —
    * the generalization report an in-sample accuracy (q177c's shape)
    * cannot give: the model trains ONLY on the `is_train` carve of the
    * labeled relation and is then scored on both carves, so
    * `acc_heldout_permille` is the number a curation gate actually
    * routes on and `gap_permille` (train − held-out) is the
    * memorization signal. Input is any `(doc_id, toks, good, is_train)`
    * relation — q182 feeds the fixture's language supervision under the
    * content-hash carve (q90b's re-ingestion-stable split), q183 a
    * synthesized separable corpus, and ClassifierTrainSpec designed
    * corpora where the gap provably appears and disappears.
    *
    * All counting: [[nbTrainedWeights]] on the carve (one bucket-keyed
    * aggregate), one explode+broadcast-join scoring pass over ALL docs
    * (the ≤`buckets`-row weight table broadcasts; unseen buckets score 0
    * — [[qualityClassify]]'s left-join semantics), one corpus aggregate
    * → a single integer row, hash-exact end-to-end.
    */
  /** `(doc_id, good, is_train, score)` for EVERY doc of a `(doc_id,
    * toks, good, is_train)` labeled relation, scored under the NB table
    * trained on the `is_train` carve — the shared stage of
    * [[nbHeldoutReport]], [[nbThresholdCalibration]] and the q188
    * deployed-gate report: train ([[nbTrainedWeights]], one bucket-keyed
    * aggregate), one explode+broadcast-join scoring pass (unseen buckets
    * score 0 — [[qualityClassify]]'s left-join semantics).
    */
  def nbCarveScores(labeledCarved: DataFrame,
                    buckets: Long = TrainedBuckets): DataFrame = {
    // r16 opt (guide §2.3, aggregate before you shuffle + duplicate
    // references): the trainer and the scoring pass each exploded the
    // token column separately — two corpus tokenize passes over the
    // SAME instances. ONE pass now folds instances to per-(doc, label,
    // carve, bucket) counts (bounded by docs x min(doc_len, buckets),
    // strictly smaller than the instance stream), persisted; the train
    // carve's bucket counts feed the SAME weight formula
    // (nbWeightsOfCounts — values identical: counting sums commute),
    // and the per-doc score is sum(c x weight) over the same groups the
    // instance sum visited one row at a time.
    val db = graft.CacheScope.persist(labeledCarved
      .select(col("doc_id"), col("good"), col("is_train"),
        explode(col("toks")).as("tok"))
      .select(col("doc_id"), col("good"), col("is_train"),
        (HashOps.charHash(col("tok")) % buckets).as("bucket"))
      .groupBy(col("doc_id"), col("good"), col("is_train"), col("bucket"))
      .agg(count(lit(1)).as("c")))
    val trainCounts = db.where(col("is_train")).groupBy(col("bucket"))
      .agg(sum(when(col("good"), col("c")).otherwise(0L)).as("n_good"),
        sum(when(!col("good"), col("c")).otherwise(0L)).as("n_bad"))
    val weights = nbWeightsOfCounts(trainCounts, buckets)
      .select(col("bucket"), col("weight"))
    val scores = db.join(broadcast(weights), Seq("bucket"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("weight"), lit(0L)) * col("c")).as("score"))
    labeledCarved.select(col("doc_id"), col("good"), col("is_train"))
      .join(scores, Seq("doc_id"), "left")
      .select(col("doc_id"), col("good"), col("is_train"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  /** The 1-row accuracy-optimal cut `(threshold, n_train, c_train)` over
    * a [[nbCarveScores]] relation — [[nbThresholdCalibration]]'s sweep
    * factored out so the q188 deployed-gate report applies the SAME
    * calibrated threshold the q186 row publishes (sweep semantics and
    * scale argument in that scaladoc).
    */
  def nbBestThreshold(scores: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val train = scores.where(col("is_train"))
    val hist = train.groupBy("score").agg(
      sum(when(col("good"), 1L).otherwise(0L)).as("g"),
      sum(when(!col("good"), 1L).otherwise(0L)).as("b"))
    val before = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist.select(col("score").as("threshold"),
      coalesce(sum(col("g")).over(before), lit(0L)).as("g_lt"),
      coalesce(sum(col("b")).over(before), lit(0L)).as("b_lt"))
    val allBad = hist.agg((max(col("score")) + 1L).as("threshold"),
      sum(col("g")).as("g_lt"), sum(col("b")).as("b_lt"))
      .where(col("threshold").isNotNull) // empty train carve: no candidate
    val tot = train.agg(
      sum(when(col("good"), 1L).otherwise(0L)).as("tg"),
      count(lit(1)).as("n_train"))
    cum.unionByName(allBad).crossJoin(broadcast(tot))
      .select(col("threshold"), col("n_train"),
        (col("tg") - col("g_lt") + col("b_lt")).as("c_train"))
      .orderBy(desc("c_train"), asc("threshold")).limit(1)
  }

  def nbHeldoutReport(labeledCarved: DataFrame,
                      buckets: Long = TrainedBuckets): DataFrame = {
    nbCarveScores(labeledCarved, buckets)
      .select(col("good"), col("is_train"), (col("score") >= 0).as("pred"))
      .agg(
        sum(when(col("is_train"), 1L).otherwise(0L)).as("n_train"),
        sum(when(!col("is_train"), 1L).otherwise(0L)).as("n_heldout"),
        sum(when(col("is_train") && col("good"), 1L).otherwise(0L))
          .as("n_good_train"),
        sum(when(!col("is_train") && col("good"), 1L).otherwise(0L))
          .as("n_good_heldout"),
        sum(when(col("is_train") && (col("pred") === col("good")), 1L)
          .otherwise(0L)).as("c_train"),
        sum(when(!col("is_train") && (col("pred") === col("good")), 1L)
          .otherwise(0L)).as("c_heldout"))
      .select(col("n_train"), col("n_heldout"),
        col("n_good_train"), col("n_good_heldout"),
        expr("(1000 * c_train) div n_train").as("acc_train_permille"),
        expr("(1000 * c_heldout) div n_heldout").as("acc_heldout_permille"),
        expr("(1000 * c_train) div n_train - (1000 * c_heldout) div n_heldout")
          .as("gap_permille"))
  }

  /** Decision-THRESHOLD calibration for the trained NB scorer — the step
    * between training and deployment every production quality gate runs:
    * the raw `score >= 0` cut assumes balanced likelihood odds, but the
    * operating point a curation run wants is the cut that actually
    * maximizes train-carve accuracy (equivalently, the prior-corrected
    * MAP rule the [[nbTrainedWeights]] scaladoc deliberately leaves to
    * consumers — with class imbalance the best cut is NOT 0). The sweep
    * is the classic sorted-histogram form, NOT an O(n·|thresholds|)
    * cross join: per distinct integer score, good/bad counts (one
    * aggregate), then running `< t` sums via a window over the DISTINCT
    * scores — a relation bounded by the score range (integer log-odds
    * sums: hundreds of values at any corpus size), so its
    * single-partition window is a bounded scalar stage, never
    * corpus-sized. correct(t) = TG − g_lt(t) + b_lt(t); candidates are
    * the distinct train scores PLUS max+1 — the all-bad rule, which IS
    * the optimum when the majority class is bad and scores don't
    * separate (without it the sweep could never express "keep nothing"
    * and would publish a sub-optimal cut as calibrated); best t by
    * (max correct, then smallest t). One row out: the chosen threshold,
    * train accuracy at it, and HELD-OUT accuracy at it vs at the
    * uncalibrated 0 — the gain column is the evidence a promotion
    * decision reads. All counting → hash-exact end-to-end (q186).
    */
  def nbThresholdCalibration(labeledCarved: DataFrame,
                             buckets: Long = TrainedBuckets): DataFrame = {
    val s = graft.CacheScope.persist(nbCarveScores(labeledCarved, buckets))
    val best = nbBestThreshold(s)
    s.where(!col("is_train"))
      .crossJoin(broadcast(best))
      .groupBy(col("threshold"), col("n_train"), col("c_train"))
      .agg(count(lit(1)).as("n_heldout"),
        sum(when((col("score") >= col("threshold")) === col("good"), 1L)
          .otherwise(0L)).as("c_held_t"),
        sum(when((col("score") >= 0) === col("good"), 1L)
          .otherwise(0L)).as("c_held_0"))
      .select(col("threshold"),
        expr("(1000 * c_train) div n_train").as("acc_train_at_t_permille"),
        expr("(1000 * c_held_t) div n_heldout")
          .as("acc_heldout_at_t_permille"),
        expr("(1000 * c_held_0) div n_heldout")
          .as("acc_heldout_at_zero_permille"),
        expr("(1000 * c_held_t) div n_heldout - (1000 * c_held_0) div n_heldout")
          .as("gain_permille"))
  }

  /** Per-SOURCE accuracy-optimal cuts — [[nbBestThreshold]]'s sweep with
    * every stage keyed by `source` (input is a [[nbCarveScores]] relation
    * carrying a `source` column): per-source distinct-score histogram,
    * running `< t` sums via a window PARTITIONED by source, the all-bad
    * `max+1` candidate per source, best per source by (max c_train,
    * min t). One row per source that has ANY train mass; a source with
    * none has no sweepable evidence and no row (callers decide the
    * fallback — q190 inherits this by inner join, documented there).
    * Scale: the per-source windows stay bounded by the distinct integer
    * score range within each source — the same hundreds-of-values bound
    * as the pooled sweep, now spread across source partitions.
    */
  def nbBestThresholdPerSource(scores: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val train = scores.where(col("is_train"))
    val hist = train.groupBy("source", "score").agg(
      sum(when(col("good"), 1L).otherwise(0L)).as("g"),
      sum(when(!col("good"), 1L).otherwise(0L)).as("b"))
    val before = Window.partitionBy("source").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist.select(col("source"), col("score").as("threshold"),
      coalesce(sum(col("g")).over(before), lit(0L)).as("g_lt"),
      coalesce(sum(col("b")).over(before), lit(0L)).as("b_lt"))
    val allBad = hist.groupBy("source").agg(
      (max(col("score")) + 1L).as("threshold"),
      sum(col("g")).as("g_lt"), sum(col("b")).as("b_lt"))
    val tot = train.groupBy("source").agg(
      sum(when(col("good"), 1L).otherwise(0L)).as("tg"),
      count(lit(1)).as("n_train"))
    val pick = Window.partitionBy("source")
      .orderBy(desc("c_train"), asc("threshold"))
    cum.unionByName(allBad).join(tot, "source")
      .select(col("source"), col("threshold"), col("n_train"),
        (col("tg") - col("g_lt") + col("b_lt")).as("c_train"))
      .withColumn("prk", row_number().over(pick))
      .where(col("prk") === 1)
      .drop("prk")
  }

  /** SOURCE-CONDITIONAL threshold calibration (q190) — the production
    * shape [[nbThresholdCalibration]]'s single global cut cannot express:
    * when one source is mostly boilerplate and another mostly prose, the
    * accuracy-optimal operating point differs per source, and deploying
    * the pooled cut over- or under-keeps each of them. Per source: the
    * [[nbBestThresholdPerSource]] cut, the pooled cut beside it, and the
    * held-out keep rate + accuracy under EACH — the delta column is the
    * evidence a curator reads before switching a source to its own
    * operating point. A source with no train mass has no per-source
    * sweep and is absent from the report (the inner join on the best-cut
    * relation; its docs still count in the pooled sweep's cut).
    * All counting → hash-exact; the per-source windows are bounded by
    * each source's distinct integer score range.
    */
  def nbPerSourceCalibration(labeledCarved: DataFrame, sources: DataFrame,
                             buckets: Long = TrainedBuckets): DataFrame = {
    val s = graft.CacheScope.persist(nbCarveScores(labeledCarved, buckets))
    val ss = graft.CacheScope.persist(s.join(sources, "doc_id"))
    val bestSrc = nbBestThresholdPerSource(ss)
      .select(col("source"), col("threshold"))
    val bestGlobal = nbBestThreshold(s)
      .select(col("threshold").as("global_threshold"))
    ss.where(!col("is_train"))
      .join(broadcast(bestSrc), Seq("source"))
      .crossJoin(broadcast(bestGlobal)) // 1-row scalar
      .groupBy(col("source"), col("threshold"), col("global_threshold"))
      .agg(count(lit(1)).as("n_heldout"),
        sum(when(col("score") >= col("threshold"), 1L).otherwise(0L))
          .as("kept_src"),
        sum(when(col("score") >= col("global_threshold"), 1L).otherwise(0L))
          .as("kept_global"),
        sum(when((col("score") >= col("threshold")) === col("good"), 1L)
          .otherwise(0L)).as("c_src"),
        sum(when((col("score") >= col("global_threshold")) === col("good"), 1L)
          .otherwise(0L)).as("c_global"))
      .select(col("source"), col("threshold"), col("global_threshold"),
        col("n_heldout"), col("kept_src"), col("kept_global"),
        expr("(1000 * kept_src) div n_heldout").as("keep_src_permille"),
        expr("(1000 * kept_global) div n_heldout").as("keep_global_permille"),
        expr("(1000 * kept_src) div n_heldout" +
          " - (1000 * kept_global) div n_heldout").as("delta_keep_permille"),
        expr("(1000 * c_src) div n_heldout").as("acc_src_permille"),
        expr("(1000 * c_global) div n_heldout").as("acc_global_permille"))
      .orderBy("source")
  }

  /** Context-window chunking: each document cut into token windows of
    * `size` starting every `stride` tokens (windows overlap by
    * `size - stride`; tail windows may be partial). The doc →
    * training-sequence step before packing/batching. Pure narrow per-row
    * work — stage toks, generate starts, explode, slice — zero shuffles,
    * so throughput is scan-bound at any corpus size. chunk_id is
    * start/stride (exact integer division), not an ordinal: no window
    * function needed.
    */
  def contextChunks(docs: DataFrame, size: Int, stride: Int,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    contextChunksOf(docs.select(col(idCol),
      TextOps.tokenize(coalesce(col(textCol), lit(""))).as("toks")),
      size, stride, idCol)

  /** [[contextChunks]] over an already-tokenized relation (`toks`
    * staged) — the session-memo entry point (q119 carries the shared
    * token arrays through its filter chain instead of re-tokenizing).
    */
  def contextChunksOf(staged: DataFrame, size: Int, stride: Int,
                      idCol: String = "doc_id"): DataFrame = {
    require(size > 0 && stride > 0, "contextChunks needs positive size/stride")
    val starts = when(org.apache.spark.sql.functions.size(col("toks")) > 0,
      sequence(lit(0),
        org.apache.spark.sql.functions.size(col("toks")) - 1, lit(stride)))
      .otherwise(array().cast("array<int>"))
    staged
      .select(col(idCol), col("toks"), explode(starts).as("start"))
      .select(col(idCol),
        (col("start") / stride).cast("long").as("chunk_id"),
        col("start").cast("long").as("start_token"),
        slice(col("toks"), col("start") + 1, lit(size)).as("chunk"))
      .select(col(idCol), col("chunk_id"), col("start_token"),
        org.apache.spark.sql.functions.size(col("chunk")).cast("long")
          .as("n_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"),
        // the token array itself, for consumers that shingle WITHIN the
        // chunk (q128's chunk-level near-dup) — re-tokenizing chunk_text
        // would re-encode the chunking definition one transform away
        col("chunk"))
  }

  /** Sentence-boundary context chunks: CONSECUTIVE sentences greedily
    * packed into chunks of at most `targetTokens` whitespace tokens — a
    * chunk always takes at least one sentence, so an oversized sentence
    * becomes its own chunk. The chunker a retrieval/pretraining pipeline
    * wants when [[contextChunks]]' fixed token windows would cut
    * mid-sentence. Sentence split is the reference rule ([.!?]+, trim,
    * keep length > 10 — [[SummarizeOps.sentences]] semantics).
    *
    * Deliberately narrow: split, filter, per-sentence token counts, and
    * the greedy fold all run inside per-row higher-order functions (one
    * `aggregate` whose accumulator carries the chunks built so far as
    * parallel text/token/sentence-count arrays, merging into the LAST
    * chunk while the budget holds) — ZERO pre-output shuffles, and each
    * derived array is staged in its own projection (the q06
    * lambda-duplication lesson). Docs with no kept sentence emit nothing.
    * Output: `(id, chunk_id, n_sentences, n_tokens, chunk_text)`.
    *
    * CPU note (r12 ADVICE): each fold step rebuilds the accumulator's
    * arrays (slice+concat, plus the growing last-chunk text concat), so
    * per-doc cost is O(S²) in kept-sentence count — row-local and
    * shuffle-free, irrelevant at fixture sentence counts (≤ tens per
    * doc), but hot on book-length documents. The scale escape is to fold
    * only chunk-BOUNDARY indices (an O(S) accumulator of ints) and
    * materialize each chunk's text in a second slice/array_join pass —
    * same semantics, adopted if a corpus with thousand-sentence docs
    * ever lands here.
    */
  def sentenceChunks(docs: DataFrame, targetTokens: Int,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(targetTokens > 0, "sentenceChunks needs a positive budget")
    import org.apache.spark.sql.functions.{size => asize}
    val sentsArr = filter(
      transform(split(coalesce(col(textCol), lit("")), "[.!?]+"),
        s => trim(s)),
      s => length(s) > 10)
    val staged = docs.select(col(idCol), sentsArr.as("sents"))
      .select(col(idCol), col("sents"),
        transform(col("sents"),
          s => asize(split(s, "\\s+")).cast("long")).as("cnts"))
      .select(col(idCol),
        zip_with(col("sents"), col("cnts"),
          (s, c) => struct(s.as("s"), c.as("c"))).as("sc"))
    val t = lit(targetTokens.toLong)
    val zero = struct(
      array().cast("array<string>").as("texts"),
      array().cast("array<bigint>").as("ntoks"),
      array().cast("array<bigint>").as("nsents"))
    val packed = staged.select(col(idCol),
      aggregate(col("sc"), zero, (acc, x) =>
        when(asize(acc("texts")) > 0 &&
            element_at(acc("ntoks"), -1) + x("c") <= t,
          struct(
            concat(slice(acc("texts"), lit(1), asize(acc("texts")) - 1),
              array(concat(element_at(acc("texts"), -1), lit(" "), x("s"))))
              .as("texts"),
            concat(slice(acc("ntoks"), lit(1), asize(acc("ntoks")) - 1),
              array(element_at(acc("ntoks"), -1) + x("c"))).as("ntoks"),
            concat(slice(acc("nsents"), lit(1), asize(acc("nsents")) - 1),
              array(element_at(acc("nsents"), -1) + 1L)).as("nsents")))
        .otherwise(struct(
          concat(acc("texts"), array(x("s"))).as("texts"),
          concat(acc("ntoks"), array(x("c"))).as("ntoks"),
          concat(acc("nsents"), array(lit(1L))).as("nsents")))).as("p"))
    packed
      .select(col(idCol), col("p.texts").as("texts"),
        col("p.ntoks").as("ntoks"), col("p.nsents").as("nsents"))
      .select(col(idCol),
        posexplode(arrays_zip(col("texts"), col("nsents"), col("ntoks")))
          .as(Seq("chunk_id", "z")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        col("z.nsents").as("n_sentences"), col("z.ntoks").as("n_tokens"),
        col("z.texts").as("chunk_text"))
  }

  /** Corpus-frequency threshold under which a token counts as "rare". */
  val RareMaxCtf = 3L

  /** Per-document unigram-rarity profile — the engine-exact stand-in for a
    * perplexity / LM-familiarity score (the CCNet "how surprising is this
    * doc under a corpus LM" signal, with the unigram model's -log p
    * replaced by integer log2 buckets so no libm call can desync the
    * oracle):
    *
    *   - `n_tokens` / `n_distinct`: document mass;
    *   - `n_hapax` / `n_rare`: token instances whose CORPUS frequency is
    *     1 / <= [[RareMaxCtf]] — high counts flag OCR noise, codey text,
    *     or junk vocabularies;
    *   - `min_ctf`: the rarest token's corpus frequency;
    *   - `sum_log2_ctf`: sum over instances of floor(log2(corpus tf)) —
    *     a monotone familiarity mass (low = doc is made of rare tokens).
    *     floor(log2) is the binary-string length minus one: exact integer
    *     arithmetic in both engines, no float log.
    *
    * Shape at 100 TB: postings reduce map-side to (doc, token, tf) in one
    * shuffle; the vocabulary relation aggregates those partials by token
    * (second shuffle, output = distinct-vocab rows, tiny vs the corpus);
    * the postings-vocab equi-join broadcasts whenever the vocab fits (AQE
    * decides from runtime stats) and degrades to a shuffled hash join —
    * never all-pairs — when a web-scale vocabulary doesn't.
    */
  def unigramRarity(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    rarityProfile(docs,
      docs.select(col(idCol),
        explode(TextOps.tokenize(coalesce(col(textCol), lit("")))).as("tok")),
      idCol)

  /** Bigram familiarity — the sequence-plausibility upgrade of
    * [[unigramRarity]]: the same integer log2-bucket profile computed over
    * word BIGRAM instances, so a doc whose individual words are common but
    * whose word ORDER is corpus-alien (shuffled text, word-salad spam,
    * wrong-language-model output) scores low familiarity where the unigram
    * profile cannot see a problem. Column names keep the generic term
    * semantics: `n_tokens` counts bigram instances, `n_hapax`/`n_rare`
    * corpus-rare bigram instances, `sum_log2_ctf` the familiarity mass.
    */
  def bigramFamiliarity(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    rarityProfile(docs, bigramInstances(docs, idCol, textCol), idCol)

  /** Word-bigram INSTANCE relation `(id, tok)` — one row per adjacent
    * token pair, `tok` the space-joined pair. Shared term stream of
    * [[bigramFamiliarity]] and [[heavyHitters]]; a narrow
    * tokenize-and-explode, no shuffle.
    */
  def bigramInstances(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      TextOps.tokenize(coalesce(col(textCol), lit(""))).as("toks"))
      .select(col(idCol),
        when(org.apache.spark.sql.functions.size(col("toks")) >= 2,
          transform(
            sequence(lit(0),
              org.apache.spark.sql.functions.size(col("toks")) - 2),
            i => concat_ws(" ", slice(col("toks"), i + 1, lit(2)))))
          .otherwise(array().cast("array<string>")).as("bs"))
      .select(col(idCol), explode(col("bs")).as("tok"))

  /** Exact heavy hitters by sketch-then-verify: every term whose exact
    * corpus count exceeds n/`den`, found WITHOUT an all-vocabulary
    * shuffle. Pass 1 folds the term stream into a capacity-`capacity`
    * [[graft.functions.MisraGries.Sketch]] (partial-aggregable: each map
    * task ships <= capacity counters); the MG guarantee (capacity >=
    * den - 1 required, checked) makes the surviving candidates a superset
    * of the true heavy hitters. Pass 2 broadcast-semi-joins the term
    * stream to the <= capacity candidates and exact-counts ONLY those, so
    * the verification shuffle carries <= capacity keys per task instead of
    * the full vocabulary; the 1-row (candidates, total) aggregate
    * broadcasts back. Output is exact and deterministic — `(token, cnt)`
    * with cnt > n/den, ordered (cnt desc, token) — regardless of
    * merge-order effects inside the sketch.
    *
    * Two corpus scans by design: pass 1 computes the sketch AND the total
    * n in ONE global aggregate (persisted — it is 1 row but has two
    * consumers), pass 2 verifies. The threshold compares `cnt > n div
    * den` (floor division), algebraically identical to cnt * den > n for
    * positive integers but immune to Long overflow when cnt * den would
    * exceed 2^63 at corpus scale. Callers at fixture scale persist
    * `terms` ([[graft.CacheScope]]); at 100 TB the second scan re-reads
    * the source and the win is the vanished vocabulary-sized exchange.
    */
  def heavyHitters(terms: DataFrame, capacity: Int, den: Long): DataFrame = {
    require(den >= 1, s"den must be >= 1, got $den")
    require(capacity >= den - 1,
      s"MG guarantee needs capacity >= den - 1 (got $capacity < ${den - 1})")
    val spark = terms.sparkSession
    import spark.implicits._
    val sketch = new graft.functions.MisraGries.Sketch(capacity)
    val sketchAndTotal = graft.CacheScope.persist(
      terms.select(col("tok")).as[String]
        .select(sketch.toColumn.name("cands"), count(lit(1)).as[Long].name("n"))
        .toDF("cands", "n"))
    val cands = sketchAndTotal.select(explode(col("cands")).as("tok"))
    val total = sketchAndTotal.select(col("n"))
    terms.join(broadcast(cands), Seq("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .where(col("cnt") > expr(s"n div ${den}L"))
      .select(col("tok").as("token"), col("cnt"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** Boilerplate-stripping HTML text extraction — the first stage of
    * every web-corpus pipeline (CCNet/C4 extract text from crawled HTML
    * before any quality or dedup pass), as pure codegen'd column
    * expressions: (1) isolate the <body> region, (2) remove
    * script/style/nav/header/footer/aside BLOCKS wholesale (content and
    * all — scripts legally contain bare `<`, so block removal must
    * precede tag stripping), (3) strip remaining tags, (4) decode the
    * five predefined character entities (&lt; &gt; &quot; &#39; then
    * &amp; LAST, so "&amp;lt;" decodes to the literal "&lt;" and not
    * twice), (5) collapse whitespace. The title is extracted separately
    * from <head> — it is metadata, not body text.
    *
    * Scope: a regex pipeline, not an HTML5 tree parser — malformed
    * nesting degrades gracefully (unclosed blocks strip to the next
    * close tag) rather than erroring, the right trade for a 100 TB
    * narrow scan where a DOM parse per page would dominate the pipeline.
    * Returns ("title", "text") column pairs.
    */
  def htmlTextExtract(html: Column): Seq[(String, Column)] = {
    def dropBlocks(c: Column, tags: Seq[String]): Column =
      tags.foldLeft(c)((acc, t) =>
        regexp_replace(acc, s"(?is)<$t\\b[^>]*>.*?</$t>", " "))
    def decodeEntities(c: Column): Column =
      Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&amp;" -> "&")
        .foldLeft(c) { case (acc, (e, v)) =>
          regexp_replace(acc, java.util.regex.Pattern.quote(e),
            java.util.regex.Matcher.quoteReplacement(v))
        }
    val body = regexp_extract(html, "(?is)<body[^>]*>(.*)</body>", 1)
    val cleaned = dropBlocks(body,
      Seq("script", "style", "nav", "header", "footer", "aside"))
    val stripped = regexp_replace(cleaned, "<[^>]*>", " ")
    val title = regexp_extract(html, "(?is)<title[^>]*>(.*?)</title>", 1)
    Seq(
      "title" -> trim(decodeEntities(title)),
      "text" -> trim(regexp_replace(decodeEntities(stripped), "\\s+", " ")))
  }

  /** Per-GROUP exact heavy hitters — the [[heavyHitters]] sketch-then-
    * verify run as a GROUPED aggregation: one Misra-Gries summary and one
    * total per `keyCol` value in a single pass (the typed Aggregator
    * lifted into the untyped groupBy via `udaf`), then an exact count of
    * only the broadcast (key, candidate) pairs, thresholded per group.
    * The per-source vocabulary dashboard shape: "which terms dominate
    * EACH source" without a per-source full-vocabulary shuffle — a map
    * task carries ≤ capacity counters per distinct key it sees, and the
    * candidate relation is ≤ groups × capacity rows (broadcast-sized for
    * any dashboard-grade key). Output exact for every group by the same
    * MG guarantee as q99 (every term with count > n_g/(capacity+1) in
    * group g survives the sketch), so the plain per-group threshold SQL
    * is a valid oracle.
    */
  def heavyHittersBy(terms: DataFrame, keyCol: String, capacity: Int,
                     den: Long): DataFrame = {
    require(den >= 1, s"den must be >= 1, got $den")
    require(capacity >= den - 1,
      s"MG guarantee needs capacity >= den - 1 (got $capacity < ${den - 1})")
    val sketchUdaf = udaf(new graft.functions.MisraGries.Sketch(capacity),
      org.apache.spark.sql.Encoders.STRING)
    val grouped = graft.CacheScope.persist(
      terms.groupBy(col(keyCol))
        .agg(sketchUdaf(col("tok")).as("cands"), count(lit(1)).as("n")))
    val cands = grouped.select(col(keyCol), explode(col("cands")).as("tok"))
    val totals = grouped.select(col(keyCol), col("n"))
    terms.join(broadcast(cands), Seq(keyCol, "tok"))
      .groupBy(col(keyCol), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(totals), Seq(keyCol))
      .where(col("cnt") > expr(s"n div ${den}L"))
      .select(col(keyCol), col("tok").as("token"), col("cnt"))
      .orderBy(col(keyCol), col("cnt").desc, col("token"))
  }

  /** C4-style blocklist filter: per document, how many times any blocked
    * phrase occurs (word-boundary, case-insensitive, whitespace-tolerant
    * between phrase words) and which phrases matched — `(id, n_blocked,
    * matched ARRAY<STRING> in list order, keep)`. The published C4
    * "bad words" pass (Raffel et al. 2020 §2.2 describe the rule; the
    * list itself is external) drops any page containing a listed phrase;
    * `keep` is exactly that predicate, with counts kept for auditing.
    *
    * Scale: the list is compiled into ONE combined regex evaluated in a
    * single narrow codegen'd scan (plus one bounded per-phrase probe for
    * the audit column) — the C4 shape, where the list is a broadcast-size
    * constant. A list of millions of phrases would switch to the
    * inverted-index semi-join of [[keywordSearch]]; that is a different
    * regime, not this operator.
    *
    * Phrases must be plain words (letters/digits/spaces): they are
    * embedded in the regex verbatim, and regex metacharacters would
    * change its meaning (checked). Multi-word phrases match across any
    * whitespace run, mirroring tokenize's \s+ splitting.
    */
  def blocklistFilter(docs: DataFrame, phrases: Seq[String],
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    require(phrases.nonEmpty, "empty blocklist")
    val norm = phrases.map(_.trim.toLowerCase)
    require(norm.forall(_.matches("[a-z0-9]+( [a-z0-9]+)*")),
      s"blocklist phrases must be plain space-separated words: $norm")
    val pats = norm.map(_.replace(" ", "\\s+"))
    val combined = "\\b(?:" + pats.mkString("|") + ")\\b"
    docs
      .select(col(idCol), lower(coalesce(col(textCol), lit(""))).as("lt"))
      .select(col(idCol),
        regexp_count(col("lt"), lit(combined)).cast("long").as("n_blocked"),
        filter(
          typedlit(norm),
          p => regexp_count(col("lt"),
            concat(lit("\\b"), replace(p, lit(" "), lit("\\s+")),
              lit("\\b"))) > 0).as("matched"))
      .withColumn("keep", col("n_blocked") === 0L)
  }

  /** C4's LINE-level cleaning (Raffel et al. 2020 §2.2, public) — the
    * granularity the doc-level gates (gopherRules, blocklistFilter)
    * deliberately don't touch: C4 retains only lines that end in
    * terminal punctuation, contain at least `minWords` words, and don't
    * hit the line blocklist; pages keeping fewer than `minLines`
    * surviving lines are dropped entirely, and the KEPT lines are
    * reassembled into the cleaned page. Per surviving doc:
    * `(id, n_lines, n_kept, cleaned)`.
    *
    * ZERO-shuffle by construction: lines never explode into rows — the
    * whole filter-and-rebuild is array higher-order functions
    * (split → transform/trim → filter → array_join) inside one narrow
    * projection, so at 100 TB this is a map over the scan with no
    * exchange, no window, and no re-grouping. Order preservation is
    * structural (arrays keep split order), where an explode/groupBy
    * formulation would need a positional sort to rebuild the page.
    *
    * `lineSep` is the line delimiter REGEX; callers with real newline
    * corpora pass "\n". The fixture has no newlines, so q131 follows
    * the q02 convention (standalone "the" as the line break) and
    * synthesizes terminal punctuation deterministically — the hazard-
    * synthesis pattern q110/q101c/q122 use.
    */
  def c4LineFilter(docs: DataFrame, lineSep: String, blockTerm: String,
                   minWords: Int = 5, minLines: Int = 3,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val lines0 = split(coalesce(col(textCol), lit("")), lineSep)
    val lines = filter(transform(lines0, l => trim(l)), l => length(l) > 0)
    docs
      .select(col(idCol), lines.as("lines"))
      .select(col(idCol),
        org.apache.spark.sql.functions.size(col("lines")).cast("long")
          .as("n_lines"),
        // C4's END_MARKS: period, question/exclamation mark, or closing
        // quote (Raffel et al. §2.2) — not '.' alone, which would
        // over-drop dialogue/questions on real newline corpora
        filter(col("lines"), l =>
          (l.endsWith(".") || l.endsWith("!") || l.endsWith("?") ||
            l.endsWith("\"")) &&
            org.apache.spark.sql.functions.size(split(l, " ")) >= minWords &&
            !l.contains(blockTerm)).as("kept"))
      .select(col(idCol), col("n_lines"),
        org.apache.spark.sql.functions.size(col("kept")).cast("long")
          .as("n_kept"),
        array_join(col("kept"), " ~ ").as("cleaned"))
      .where(col("n_kept") >= minLines)
  }

  /** Shared core of the rarity/familiarity profiles over a term-INSTANCE
    * relation `(id, tok)` — see [[unigramRarity]] for the signal and
    * scale documentation.
    */
  private def rarityProfile(docs: DataFrame, terms: DataFrame,
                            idCol: String): DataFrame =
    // persisted: BOTH the profile join's probe side and the vocabulary
    // aggregate consume the postings, and Catalyst never shares work
    // across join branches — unpersisted, the corpus tokenizes twice
    rarityProfileFromPostings(docs.select(col(idCol)),
      graft.CacheScope.persist(
        terms.groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))),
      idCol)

  /** The rarity profile over an ALREADY-AGGREGATED postings relation
    * `(id, tok, tf)` — the entry point for session-memoized postings
    * (q70/q70b read the shared relation instead of re-tokenizing the
    * corpus inside their own plans; callers persist the postings, since
    * both the vocabulary aggregate and the profile join consume them).
    */
  private[graft] def rarityProfileFromPostings(ids: DataFrame,
                                               postings: DataFrame,
                                               idCol: String = "doc_id"): DataFrame = {
    val vocab = postings.groupBy(col("tok")).agg(sum(col("tf")).as("ctf"))
    val log2Ctf = (length(conv(col("ctf"), 10, 2)) - 1).cast("long")
    val profile = postings.join(vocab, Seq("tok"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("ctf") === 1, col("tf")).otherwise(0L)).as("n_hapax"),
        sum(when(col("ctf") <= RareMaxCtf, col("tf")).otherwise(0L)).as("n_rare"),
        min(col("ctf")).as("min_ctf"),
        sum(col("tf") * log2Ctf).as("sum_log2_ctf"))
    ids.join(profile, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("n_hapax"), lit(0L)).as("n_hapax"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        coalesce(col("min_ctf"), lit(0L)).as("min_ctf"),
        coalesce(col("sum_log2_ctf"), lit(0L)).as("sum_log2_ctf"))
  }

  /** Per-source Zipf rank-frequency slope — the DIVERSITY twin of the
    * rarity profile: fit log2(freq) against log2(rank) by exact integer
    * least squares over a source's token-frequency table. A natural-text
    * source sits near slope −1 (Zipf 1949); templated/boilerplate-heavy
    * sources flatten toward 0 (few distinct tokens, all frequent) and
    * generated word-salad steepens — a per-source redundancy signal that
    * complements q140b's unique-vocabulary share.
    *
    * Exactness: ranks are `row_number` over (freq DESC, token) — the tie
    * break makes the rank assignment deterministic across engines even
    * though tied frequencies are interchangeable (any tie order yields
    * the same multiset of (x, y) points, but determinism keeps the
    * intermediate relation replayable); x/y are floor-log2 buckets via
    * binary-string length (no libm); the slope is the exact rational
    * (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) published as numerator/denominator
    * plus a micro-unit quotient with EXPLICIT sign handling — Spark's
    * `div` truncates toward zero while DuckDB's `//` floors, so the
    * quotient is computed on the negated-positive numerator and re-negated,
    * making both engines agree on negative slopes.
    *
    * Scale shape: one (source, token) count aggregate (map-side combined),
    * one rank window partitioned by source — per-source vocabulary is
    * Heaps-sublinear in corpus size, and the window carries only the
    * S-source frequency table, not the corpus — then an S-row least-squares
    * aggregate. No joins, no driver materialization.
    */
  def zipfSlope(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = docs
      .select(col("source"),
        explode(TextOps.tokenize(coalesce(col("text"), lit("")))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("freq"))
    val ranked = freq.withColumn("rank",
      row_number().over(
        Window.partitionBy("source").orderBy(col("freq").desc, col("tok"))))
    def floorLog2(c: Column): Column = log2len(c) - 1L
    val pts = ranked.select(col("source"),
      floorLog2(col("rank")).as("x"), floorLog2(col("freq")).as("y"))
    pts.groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("source"), col("n_terms"),
        (col("n_terms") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n_terms") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
      .withColumn("slope_micro",
        when(col("slope_den") === 0, lit(null).cast("long"))
          .when(col("slope_num") >= 0,
            expr("(1000000 * slope_num) div slope_den"))
          .otherwise(-expr("(1000000 * (-slope_num)) div slope_den")))
  }

  /** Rare-token scrubbing — the long-tail privacy pass that complements
    * pattern-based [[redactPii]]: a token occurring fewer than `minCtf`
    * times in the WHOLE corpus is statistically identifying (names, ids,
    * addresses that no regex anticipates — the k-anonymity intuition
    * applied to vocabulary), so every occurrence is replaced by a
    * sentinel and the text rebuilt in order.
    *
    * Scale shape: positional postings (narrow posexplode), one
    * corpus-count shuffle keyed by token, one postings-vocab join (AQE
    * broadcasts the vocab when it fits), one per-doc rebuild keyed by the
    * high-cardinality doc id — order restored by sorting the collected
    * (pos, token) structs, never a window. The corpus count is the SAME
    * aggregate [[unigramRarity]] builds; a production pipeline computes
    * it once and feeds both.
    *
    * Output: `(id, n_tokens, n_scrubbed, text_scrubbed)` for every doc
    * (tokenless docs carry `(0, 0, "")`).
    */
  def rareTokenScrub(docs: DataFrame, minCtf: Long,
                     sentinel: String = "<RARE>",
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    // two consumers: the vocabulary aggregate and the scrub join
    val postings = graft.CacheScope.persist(docs
      .select(col(idCol),
        posexplode(TextOps.tokenize(coalesce(col(textCol), lit(""))))
          .as(Seq("pos", "tok"))))
    val vocab = postings.groupBy(col("tok")).agg(count(lit(1)).as("ctf"))
    val marked = postings.join(vocab, Seq("tok"))
      .select(col(idCol), col("pos"),
        (col("ctf") < minCtf).as("is_rare"),
        when(col("ctf") < minCtf, lit(sentinel)).otherwise(col("tok"))
          .as("out_tok"))
    val rebuilt = marked.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("is_rare"), 1)).as("n_scrubbed"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("out_tok")))),
          s => s.getField("out_tok")), " ").as("text_scrubbed"))
    docs.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_scrubbed"), lit(0L)).as("n_scrubbed"),
        coalesce(col("text_scrubbed"), lit("")).as("text_scrubbed"))
  }

  /** PII scrubbing patterns — dialect-portable (no lookaround/backrefs, so
    * Java regex and RE2 agree). Applied in order; replacement tokens keep
    * corpus statistics debuggable.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("https?://[^ \\t\\n]+", "<URL>"),
    ("\\+?[0-9][0-9()\\- ]{6,}[0-9]", "<PHONE>"))

  /** Redact emails, URLs, and phone-like digit runs. Narrow, codegen'd. */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** Invisible-codepoint class: zero-width space/non-joiner/joiner, word
    * joiner, BOM, soft hyphen. `\x{...}` spelling parses identically in
    * Java regex and RE2, so ONE constant serves engine and oracle.
    */
  val InvisibleClass: String =
    "[\\x{200B}\\x{200C}\\x{200D}\\x{2060}\\x{FEFF}\\x{00AD}]"

  /** Strip invisible/zero-width characters — the q101 normalization
    * tier's third member (NFC composes, strip_accents folds, this
    * REMOVES): glyphless codepoints are the classic filter-evasion
    * trick (a blocklisted word survives matching when spelled
    * w​o​r​d with zero-width spaces) and silently split tokens, break
    * dedup keys, and inflate char counts. One codegen'd regex scan.
    */
  def scrubInvisible(text: Column): Column =
    regexp_replace(text, InvisibleClass, "")

  /** Luhn checksum validity of a digit string — the VALIDATED detector
    * tier past [[redactPii]]'s pattern matching: a 16-digit run is only
    * a credit-card candidate if its check digit verifies (ISO/IEC 7812,
    * public), which cuts regex false positives by 10×. Pure integer HOF
    * fold (double every second digit from the right, subtract 9 above
    * 9, sum ≡ 0 mod 10) — identical `list_reduce` arithmetic in the
    * DuckDB twin, so detection is oracle-exact.
    */
  def luhnValid(digits: Column): Column = {
    val n = length(digits)
    val total = aggregate(
      sequence(lit(1), n),
      lit(0L),
      (acc, i) => {
        val d = (ascii(digits.substr(i, lit(1))) - 48).cast("long")
        val fromRight = (n - i + 1).cast("long")
        val dd = when(fromRight % 2 === 0,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
        acc + dd
      })
    total % 10 === 0
  }

  // --- bigram surprisal (conditional-LM perplexity proxy) -----------------

  /** Per-document bigram surprisal under a corpus-trained conditional
    * bigram model — the CCNet perplexity-filter signal one modeling step
    * past [[unigramRarity]] (unigram -log p) and [[bigramFamiliarity]]
    * (bigram COVERAGE): each bigram instance (w1, w2) contributes
    *
    *   s = ⌊log2 ctf1(w1)⌋ − ⌊log2 btf(w1, w2)⌋   (≈ −log2 p(w2 | w1))
    *
    * where btf is the bigram's corpus count and ctf1(w1) = Σ_w btf(w1, w)
    * is w1's left-context mass, so btf <= ctf1 and s >= 0. Integer log2
    * buckets (binary-string length, the q70 trick) keep both engines
    * libm-free. High `sum_surprisal`/`n_bigrams` flags improbable word
    * SEQUENCES — templated spam with plausible unigrams, shuffled text —
    * that both unigram rarity and coverage are blind to.
    *
    * Scale shape: three keyed map-side-combined shuffles (doc-bigram,
    * bigram, unigram — each no wider than a tokenize pass), one
    * bigram-keyed join back, one per-doc sum; no all-pairs shapes. The
    * model here is self-trained on the scored corpus; scoring against a
    * held-out reference model is the same plan with `bt`/`ut` built from
    * the reference relation.
    *
    * Output: `(id, n_bigrams, sum_surprisal, max_surprisal)`; docs with
    * < 2 tokens carry zeros.
    */
  /** Adjacent word-pair instances of `docs.textCol`, one row per bigram,
    * carrying `cols` through: the ONE bigram construction both surprisal
    * variants share (a drifted copy would silently skew q90 vs q90b
    * parity).
    */
  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", public): score each raw
    * doc by how much its hashed n-gram feature distribution looks like a
    * TARGET corpus rather than the raw corpus,
    *
    *   score(d) = Σ_instances ( log q[b] − log p[b] )
    *
    * where b is the instance's feature bucket, q the target-corpus and p
    * the raw-corpus bucket counts. Features are unigrams + space-joined
    * bigrams hashed into a FIXED number of buckets by the portable
    * polynomial hash (HashOps.charHash — the paper's hashed n-gram
    * generative model), so the model table has `buckets` rows no matter
    * the corpus size. Logs are the engine's integer ⌊log2⌋+1 buckets
    * over +1-smoothed counts (q70/q90 trick), keeping the whole statistic
    * hash-exact against DuckDB.
    *
    * Scale shape: one narrow feature explode; one map-side-combined
    * (doc, target?, bucket) count; the bucket model aggregates THAT
    * relation (never the instances) into `buckets` rows, which join back
    * BROADCAST — a fixed-size model table means no skew surface and no
    * corpus-sized shuffle beyond the per-doc count; the per-doc score is
    * one more keyed sum. The target is a column predicate, so raw and
    * target counts come out of the same single pass.
    *
    * Output: `(idCol, n_feats, dsir_score)`; docs with no tokens carry
    * zeros. Selection composes downstream (top-k by score, or q52-style
    * stratified sampling over score bands — the paper's resampling step).
    */
  def dsirWeights(docs: DataFrame, isTarget: Column, buckets: Int,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val toked = docs.select(col(idCol), isTarget.as("is_t"),
      TextOps.tokenize(coalesce(col(textCol), lit(""))).as("toks"))
    val feats = toked.select(col(idCol), col("is_t"),
      concat(col("toks"),
        when(size(col("toks")) >= 2,
          transform(sequence(lit(1), size(col("toks")) - 1),
            i => concat_ws(" ", element_at(col("toks"), i),
              element_at(col("toks"), i + 1))))
          .otherwise(array().cast("array<string>"))).as("fs"))
    val inst = feats
      .select(col(idCol), col("is_t"), explode(col("fs")).as("f"))
      .select(col(idCol), col("is_t"),
        pmod(HashOps.charHash(col("f")), lit(buckets.toLong)).as("b"))
    // persisted: the bucket model and the scoring join both consume it
    val db = graft.CacheScope.persist(
      inst.groupBy(col(idCol), col("is_t"), col("b"))
        .agg(count(lit(1)).as("c")))
    val model = db.groupBy(col("b")).agg(
      sum(col("c")).as("p_raw"),
      sum(when(col("is_t"), col("c")).otherwise(0L)).as("q_raw"))
    val scored = db.join(broadcast(model), Seq("b"))
      .select(col(idCol), col("c"),
        (log2len(col("q_raw") + 1) - log2len(col("p_raw") + 1)).as("s"))
    val prof = scored.groupBy(col(idCol))
      .agg(sum(col("c")).as("n_feats"),
        sum(col("c") * col("s")).as("dsir_score"))
    docs.select(col(idCol)).join(prof, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("dsir_score"), lit(0L)).as("dsir_score"))
  }

  /** Salt fan-out for the q90 scoring join: the hottest bigram's rows
    * spread over this many partitions; the vocabulary-sized model side is
    * replicated this many times. 8 caps the worst-partition factor well
    * below task-straggler territory while keeping the replication cost a
    * rounding error next to the corpus side.
    */
  val SurprisalSalts = 8

  /** Bigram instance rows from an ALREADY-TOKENIZED relation (`toks`
    * column staged) — the entry point the session-memoized tokenized
    * corpus feeds (the q70-family shared relation, r12 verdict item 3).
    */
  private[graft] def bigramPairsOf(staged: DataFrame,
                                   cols: Seq[Column]): DataFrame =
    staged
      .select(cols :+
        (when(size(col("toks")) >= 2,
          transform(sequence(lit(1), size(col("toks")) - 1),
            i => struct(element_at(col("toks"), i).as("w1"),
              element_at(col("toks"), i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
          .as("bs")): _*)
      .select(cols :+ explode(col("bs")).as("b"): _*)
      .select(cols ++ Seq(col("b.w1").as("w1"), col("b.w2").as("w2")): _*)

  private def bigramPairs(docs: DataFrame, cols: Seq[Column],
                          textCol: String): DataFrame =
    bigramPairsOf(docs.select(cols :+
      TextOps.tokenize(coalesce(col(textCol), lit(""))).as("toks"): _*), cols)

  def bigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val pairs = bigramPairs(docs, Seq(col(idCol)), textCol)
    // persisted: the bigram-count aggregate and the scoring join both
    // consume the doc-bigram relation (same lifecycle as rarityProfile)
    val dt = graft.CacheScope.persist(
      pairs.groupBy(col(idCol), col("w1"), col("w2"))
        .agg(count(lit(1)).as("k")))
    bigramSurprisalFromCounts(docs.select(col(idCol)), dt, idCol)
  }

  /** [[bigramSurprisal]] over an ALREADY-AGGREGATED per-doc bigram-count
    * relation `(id, w1, w2, k)` — the session-memo entry point (q90
    * reads the shared relation; callers persist `dt`, which both the
    * model aggregate and the scoring join consume).
    */
  def bigramSurprisalFromCounts(ids: DataFrame, dt: DataFrame,
                                idCol: String = "doc_id"): DataFrame = {
    val bt = graft.CacheScope.persist(
      dt.groupBy(col("w1"), col("w2")).agg(sum(col("k")).as("btf")))
    val ut = bt.groupBy(col("w1")).agg(sum(col("btf")).as("ctf1"))
    // Model-side join first: bt ⋈ ut is VOCABULARY-sized on both sides
    // (per-w1 fan-out bounded by distinct right-neighbors), so enriching
    // the bigram table with its left-context mass costs one small join.
    // Then ONE corpus-sized join scores dt against the enriched model —
    // the earlier dt ⋈ bt ⋈ ut chain shuffled the corpus-sized relation
    // twice (once on (w1,w2), again on w1). That corpus join is the
    // engine's one Zipf-exposed shape: real text has mega-hot bigrams,
    // and AQE's skew split structurally cannot fire here (see
    // JoinOps.saltedJoinKeys — aggregated/persisted sides break its
    // pattern; verified on a synthetic hot-bigram corpus), so the key is
    // pre-salted: the hot bigram spreads over SurprisalSalts partitions,
    // the vocabulary-sized model side is replicated that many times
    // (PlanShapeSpec asserts the spread quantitatively).
    val model = bt.join(ut, Seq("w1"))
      .select(col("w1"), col("w2"), col("btf"), col("ctf1"))
    val scored = JoinOps.saltedJoinKeys(dt, model, Seq("w1", "w2"),
        SurprisalSalts, Seq(idCol))
      .select(col(idCol), col("k"),
        (log2len(col("ctf1")) - log2len(col("btf"))).as("s"))
    val profile = scored.groupBy(col(idCol))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k") * col("s")).as("sum_surprisal"),
        max(col("s")).as("max_surprisal"))
    ids.join(profile, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_surprisal"), lit(0L)).as("sum_surprisal"),
        coalesce(col("max_surprisal"), lit(0L)).as("max_surprisal"))
  }

  /** [[bigramSurprisal]] against a FIXED model corpus — the production
    * shape: the model is trained once (on `modelDocs`), new data is
    * scored against it, and out-of-vocabulary events are first-class
    * (self-scoring can never produce one; held-out scoring always does).
    * Integer smoothing ladder, coarsest-information-first:
    *
    *   - bigram seen:            s = ⌊log2 ctf1(w1)⌋ − ⌊log2 btf(w1,w2)⌋
    *   - context known, bigram
    *     unseen:                 s = ⌊log2 ctf1(w1)⌋ + 1 (one past the
    *                             rarest seen score for that context —
    *                             Laplace's btf=1 plus a unit penalty)
    *   - context unknown:        s = ⌊log2 B⌋ + 1, B = the model's total
    *                             bigram mass (the global worst case)
    *
    * so unseen ≥ any seen score in context and unknown-context ≥ any
    * known-context score. Same three keyed shuffles as the self-scored
    * variant plus one 1-row total broadcast; the model relations are
    * exactly [[bigramSurprisal]]'s `bt`/`ut` built from `modelDocs`.
    *
    * Output: `(id, n_bigrams, n_unseen, n_unknown_ctx, sum_surprisal,
    * max_surprisal)` over `scoredDocs`; docs with < 2 tokens carry zeros.
    */
  def crossSurprisal(modelDocs: DataFrame, scoredDocs: DataFrame,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    crossSurprisalUnder(bigramModel(modelDocs, textCol), scoredDocs,
      idCol, textCol)

  /** The trained bigram model as ONE enriched relation
    * `(w1, w2, btf, ctf1)` — each bigram's count plus its left-context
    * mass. This is the storable model shape: [[crossSurprisalUnder]]
    * scores any corpus under it without touching the model's training
    * documents, and the context relation / total mass derive from it
    * exactly (distinct `(w1, ctf1)` rows ARE the context aggregate).
    */
  def bigramModel(modelDocs: DataFrame, textCol: String = "text"): DataFrame = {
    // persisted: the context aggregate consumes the bigram counts
    val bt = graft.CacheScope.persist(bigramPairs(modelDocs, Seq.empty, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("btf")))
    val ut = bt.groupBy(col("w1")).agg(sum(col("btf")).as("ctf1"))
    bt.join(ut, Seq("w1"))
  }

  /** [[crossSurprisal]] under a PREBUILT [[bigramModel]] relation — the
    * stored-model path (q172b reads the model from a StoredRelations
    * artifact, so scoring a new snapshot never re-reads the reference
    * corpus). Same smoothing ladder, same join shape, same output.
    */
  def crossSurprisalUnder(model: DataFrame, scoredDocs: DataFrame,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame =
    crossSurprisalFromCounts(model, scoredDocs.select(col(idCol)),
      bigramPairs(scoredDocs, Seq(col(idCol)), textCol)
        .groupBy(col(idCol), col("w1"), col("w2")).agg(count(lit(1)).as("k")),
      idCol)

  /** [[crossSurprisalUnder]] over an ALREADY-AGGREGATED scored-side
    * bigram-count relation — the session-memo entry point (q90b carves
    * both its model side and its scored side out of the shared per-doc
    * bigram counts instead of re-tokenizing the corpus twice).
    */
  def crossSurprisalFromCounts(model: DataFrame, ids: DataFrame,
                               dt: DataFrame,
                               idCol: String = "doc_id"): DataFrame = {
    val ut = model.select(col("w1"), col("ctf1")).distinct()
    val total = ut.agg(sum(col("ctf1")).as("b_total"))
    // Join shape (the q90 lesson applied to the smoothing ladder): the
    // model arrives pre-enriched (model-sized), so the corpus-sized `dt`
    // shuffles ONCE on (w1, w2). Rows that miss the enriched model — the
    // unseen-bigram tier — are the only ones that need the context
    // lookup, so the second join on w1 carries just that subset instead
    // of re-shuffling the whole corpus; the branch arithmetic and the
    // profile are unchanged (oracle-gated).
    val enriched = model
    // persisted: BOTH tier branches read the joined relation, and Catalyst
    // recomputes unshared subtrees per branch
    val j1 = graft.CacheScope.persist(
      dt.join(enriched, Seq("w1", "w2"), "left"))
    val seen = j1.where(col("btf").isNotNull)
      .select(col(idCol), col("k"),
        lit(false).as("unseen"), lit(false).as("unknown_ctx"),
        (log2len(col("ctf1")) - log2len(col("btf"))).as("s"))
    val misses = j1.where(col("btf").isNull)
      .select(col(idCol), col("k"), col("w1"))
      .join(ut, Seq("w1"), "left")
      .crossJoin(broadcast(total))
      .select(col(idCol), col("k"),
        lit(true).as("unseen"),
        col("ctf1").isNull.as("unknown_ctx"),
        when(col("ctf1").isNotNull, log2len(col("ctf1")) + 1L)
          .otherwise(log2len(col("b_total")) + 1L).as("s"))
    val scored = seen.unionByName(misses)
    val profile = scored.groupBy(col(idCol))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(when(col("unseen"), col("k")).otherwise(0L)).as("n_unseen"),
        sum(when(col("unknown_ctx"), col("k")).otherwise(0L))
          .as("n_unknown_ctx"),
        sum(col("k") * col("s")).as("sum_surprisal"),
        max(col("s")).as("max_surprisal"))
    ids.join(profile, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_unseen"), lit(0L)).as("n_unseen"),
        coalesce(col("n_unknown_ctx"), lit(0L)).as("n_unknown_ctx"),
        coalesce(col("sum_surprisal"), lit(0L)).as("sum_surprisal"),
        coalesce(col("max_surprisal"), lit(0L)).as("max_surprisal"))
  }

  /** Absolute discount for [[knBigramModel]], expressed as the rational
    * 3/4 so every model probability stays exact-integer arithmetic.
    */
  val KnDiscountNum: Long = 3L
  val KnDiscountDen: Long = 4L

  /** Interpolated Kneser-Ney bigram model (Kneser & Ney 1995; Chen &
    * Goodman 1998 eq. 4.27) over the corpus's own bigrams, in exact
    * integer micro-units:
    *
    *   p_KN(w2|w1) = (c(w1,w2) - D)/c(w1·)
    *                 + D·N1+(w1,·)/c(w1·) · N1+(·,w2)/N1+(··)
    *
    * with D = 3/4. Every term is a count, so multiplying through by
    * 4·c(w1·)·N1+(··) gives the exact rational
    *
    *   p = ((4c - 3)·T + 3·n1p·ncont) / (4·cw1·T),   T = N1+(··)
    *
    * and `p_micro = (1e6·num) div den` is pure BIGINT arithmetic — the
    * same cross-engine-exact contract as the q90 log2 buckets, with real
    * smoothing instead of buckets. Interpolated KN is the strongest
    * closed-form n-gram smoother in the Chen–Goodman study, and its
    * continuation counts (how many distinct contexts a word follows) are
    * exactly the statistic a "boilerplate-y token in many contexts vs
    * rare token in one" quality signal needs.
    *
    * Overflow headroom: num ≤ 4·c_max·T + 3·V², den = 4·cw1·T; at
    * 1e6-scaling the products stay under 2^63 while c_max·T < ~9e12 —
    * corpora past that need the same DECIMAL widening noted on q102's
    * checksum. Plan shape: three VOCABULARY-sized aggregates/joins build
    * the enriched model (bt ⋈ ut on w1, ⋈ ct on w2, 1-row T broadcast);
    * no corpus-sized relation is touched after the bigram count.
    *
    * KnModelSpec proves Σ_{w2 ∈ vocab} p_KN(w2|w1) = 1 exactly (BigInt
    * rationals) per context — the interpolated-KN normalization
    * guarantee — and that `p_micro` is the floor of the exact rational.
    */
  def knBigramModel(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val bt = bigramPairs(docs, Seq.empty, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("btf"))
    knModelFromCounts(bt)
  }

  /** The model arithmetic over an already-aggregated bigram-count
    * relation `(w1, w2, btf)` — shared by [[knBigramModel]] and the
    * scoring path so both provably apply one formula.
    */
  private[graft] def knModelFromCounts(bt: DataFrame): DataFrame = {
    val ut = bt.groupBy(col("w1"))
      .agg(sum(col("btf")).as("cw1"), count(lit(1)).as("n1p"))
    val ct = bt.groupBy(col("w2")).agg(count(lit(1)).as("ncont"))
    val tot = bt.agg(count(lit(1)).as("t_types"))
    bt.join(ut, Seq("w1")).join(ct, Seq("w2"))
      .crossJoin(broadcast(tot))
      .withColumn("p_micro", expr(
        s"(1000000 * (($KnDiscountDen * btf - $KnDiscountNum) * t_types + " +
          s"$KnDiscountNum * n1p * ncont)) div " +
          s"($KnDiscountDen * cw1 * t_types)"))
      .select(col("w1"), col("w2"), col("btf"), col("p_micro"))
  }

  /** Per-document Kneser-Ney familiarity profile: each doc's bigrams
    * scored under [[knBigramModel]] built from the corpus itself (the
    * q90 self-scoring shape, so every scored bigram is in the model by
    * construction — no OOV tier). Output `(id, n_bigrams, sum_p_micro,
    * min_p_micro)`: high sums = stereotyped/boilerplate transitions, low
    * minima = at least one near-unique transition. Docs with < 2 tokens
    * carry zeros (and a 0 minimum, the "no evidence" floor).
    *
    * Join shape is q90's verbatim: the enriched model is vocabulary-
    * sized, so the ONE corpus-sized join (doc-bigrams ⋈ model on
    * (w1, w2)) is pre-salted against Zipf-hot bigrams — see
    * [[bigramSurprisal]] for why AQE's skew split cannot fire here.
    */
  def knSurprisal(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val pairs = bigramPairs(docs, Seq(col(idCol)), textCol)
    // persisted: the corpus bigram-count aggregate and the scoring join
    // both consume the doc-bigram relation (q90's lifecycle)
    val dt = graft.CacheScope.persist(
      pairs.groupBy(col(idCol), col("w1"), col("w2"))
        .agg(count(lit(1)).as("k")))
    knSurprisalFromCounts(docs.select(col(idCol)), dt, idCol)
  }

  /** [[knSurprisal]] over the already-aggregated per-doc bigram counts —
    * the session-memo entry point (q90c shares q90's relation).
    */
  def knSurprisalFromCounts(ids: DataFrame, dt: DataFrame,
                            idCol: String = "doc_id"): DataFrame = {
    val model = knModelFromCounts(
      dt.groupBy(col("w1"), col("w2")).agg(sum(col("k")).as("btf")))
    val scored = JoinOps.saltedJoinKeys(dt, model, Seq("w1", "w2"),
        SurprisalSalts, Seq(idCol))
      .select(col(idCol), col("k"), col("p_micro"))
    val profile = scored.groupBy(col(idCol))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k") * col("p_micro")).as("sum_p_micro"),
        min(col("p_micro")).as("min_p_micro"))
    ids.join(profile, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_p_micro"), lit(0L)).as("sum_p_micro"),
        coalesce(col("min_p_micro"), lit(0L)).as("min_p_micro"))
  }

  // --- Gopher document-quality rule battery (Rae et al. 2021 §A1.1) ------

  /** The paper's "required word" list: a document must contain at least
    * [[GopherMinStopHits]] distinct members to pass the stop-word rule.
    */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Published thresholds, kept verbatim (not tuned to any fixture):
    * 50..100k words; mean word length 3..10; symbol-to-word ratio <= 0.1
    * (# and ellipsis marks); <= 10% bullet-started lines; <= 30%
    * ellipsis-ended lines; >= 80% words with an alphabetic character;
    * >= 2 required words present.
    */
  val GopherMinWords: Long = 50L
  val GopherMaxWords: Long = 100000L
  val GopherMinMeanLen: Long = 3L
  val GopherMaxMeanLen: Long = 10L
  val GopherMinStopHits: Long = 2L

  /** Per-document Gopher rule signals + 0/1 rule flags + keep, over
    * `documents(doc_id, text)`. Every ratio rule is evaluated in exact
    * integer cross-multiplied form (`10*symbols <= words`, not a float
    * division), so engine and oracle can never disagree on a boundary
    * document. All columns are narrow per-row expressions — the whole
    * battery is one codegen'd scan, the shape a 100 TB filter pass needs.
    *
    * `...`-ellipsis occurrences count non-overlapping left-to-right (both
    * engines' replace semantics); the removed length is always a multiple
    * of 3, so the /3 is exact.
    */
  def gopherRules(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val staged = docs.select(col(idCol), col(textCol).as("text"),
      TextOps.tokenize(col(textCol)).as("toks"),
      split(col(textCol), "\n", -1).as("lines"))
    val sig = staged.select(col(idCol),
      size(col("toks")).cast("long").as("n_words"),
      aggregate(col("toks"), lit(0L), (a, w) => a + length(w))
        .as("sum_word_chars"),
      size(filter(col("toks"), w => w.rlike("[a-zA-Z]"))).cast("long")
        .as("n_alpha_words"),
      GopherStopWords.map(w =>
        array_contains(transform(col("toks"), lower _), w).cast("long"))
        .reduce(_ + _).as("n_stop_present"),
      size(col("lines")).cast("long").as("n_lines"),
      size(filter(col("lines"), l =>
        substring(ltrim(l), 1, 1).isin("•", "-", "*"))).cast("long")
        .as("n_bullet_lines"),
      size(filter(col("lines"), l =>
        rtrim(l).endsWith("…") || rtrim(l).endsWith("..."))).cast("long")
        .as("n_ellipsis_lines"),
      ((length(col("text")) - length(translate(col("text"), "#", ""))) +
        (length(col("text")) - length(translate(col("text"), "…", ""))) +
        ((length(col("text")) -
          length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3)
          .cast("long")).cast("long").as("n_symbol_marks"))
    sig.select(col(idCol), col("n_words"), col("sum_word_chars"),
      col("n_alpha_words"), col("n_stop_present"), col("n_lines"),
      col("n_bullet_lines"), col("n_ellipsis_lines"), col("n_symbol_marks"),
      (col("n_words") >= GopherMinWords && col("n_words") <= GopherMaxWords)
        .cast("long").as("r_word_count"),
      (col("n_words") > 0 &&
        col("sum_word_chars") >= lit(GopherMinMeanLen) * col("n_words") &&
        col("sum_word_chars") <= lit(GopherMaxMeanLen) * col("n_words"))
        .cast("long").as("r_mean_word_len"),
      (lit(10L) * col("n_symbol_marks") <= col("n_words"))
        .cast("long").as("r_symbol_ratio"),
      (lit(10L) * col("n_bullet_lines") <= col("n_lines"))
        .cast("long").as("r_bullet_lines"),
      (lit(10L) * col("n_ellipsis_lines") <= lit(3L) * col("n_lines"))
        .cast("long").as("r_ellipsis_lines"),
      (lit(5L) * col("n_alpha_words") >= lit(4L) * col("n_words"))
        .cast("long").as("r_alpha_words"),
      (col("n_stop_present") >= GopherMinStopHits)
        .cast("long").as("r_stop_words"))
      .withColumn("keep",
        (col("r_word_count") * col("r_mean_word_len") *
          col("r_symbol_ratio") * col("r_bullet_lines") *
          col("r_ellipsis_lines") * col("r_alpha_words") *
          col("r_stop_words")).cast("long"))
  }
}
