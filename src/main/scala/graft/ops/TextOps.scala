package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar text-cleaning operators (SURVEY.md §2.2, P1-P14).
  *
  * Semantics mirror the reference pipeline's preprocessing
  * (nlp_data_tagging.py:49-76): whitespace collapse, punctuation strip
  * keeping periods, lowercase, re-tokenize, stop-word + length filter.
  * Everything is a pure `Column` expression — no UDFs — so Catalyst folds the
  * whole chain into one whole-stage-codegen'd projection and parquet scans
  * only read the referenced columns. At 100 TB these are embarrassingly
  * parallel narrow transforms: zero shuffles.
  */
object TextOps {

  /** 127-word English stop list, reproduced from the reference semantics
    * (nlp_data_tagging.py:19-32). A data constant, not code.
    */
  val StopWords: Seq[String] = Seq(
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves", "you", "your", "yours",
    "yourself", "yourselves", "he", "him", "his", "himself", "she", "her", "hers",
    "herself", "it", "its", "itself", "they", "them", "their", "theirs", "themselves",
    "what", "which", "who", "whom", "this", "that", "these", "those", "am", "is", "are",
    "was", "were", "be", "been", "being", "have", "has", "had", "having", "do", "does",
    "did", "doing", "a", "an", "the", "and", "but", "if", "or", "because", "as", "until",
    "while", "of", "at", "by", "for", "with", "through", "during", "before", "after",
    "above", "below", "up", "down", "in", "out", "on", "off", "over", "under", "again",
    "further", "then", "once", "here", "there", "when", "where", "why", "how", "all",
    "any", "both", "each", "few", "more", "most", "other", "some", "such", "no", "nor",
    "not", "only", "own", "same", "so", "than", "too", "very", "can", "will", "just",
    "should", "now")

  /** P1: collapse runs of whitespace to a single space. */
  def collapseWhitespace(c: Column): Column = regexp_replace(c, "\\s+", " ")

  /** P2: replace everything except word chars / whitespace / '.' with space. */
  def stripPunctuationKeepPeriod(c: Column): Column =
    regexp_replace(c, "[^\\w\\s.]", " ")

  /** P6 (+ the trimming in Python's `str.split()`): whitespace tokenize,
    * dropping empty tokens produced by leading/trailing whitespace.
    */
  def tokenize(c: Column): Column =
    filter(split(c, "\\s+"), t => length(t) > 0)

  /** P4: `' '.join(text.split())` — renormalize all whitespace to single
    * spaces and trim the ends.
    */
  def renormalizeSpaces(c: Column): Column = array_join(tokenize(c), " ")

  /** P1-P5 composed: the reference `preprocess_text` (nlp_data_tagging.py:49-66).
    * Null-safe: null in, empty string out.
    */
  def preprocess(c: Column): Column =
    renormalizeSpaces(lower(stripPunctuationKeepPeriod(collapseWhitespace(coalesce(c, lit(""))))))

  /** P7: drop token if lowercase form is a stop word OR its original length
    * is <= 2 (length check on the raw token, stop check on the lowered one —
    * nlp_data_tagging.py:72-75). Catalyst's OptimizeIn turns the `isin`
    * over this many literals into a hash-set `InSet`: one lookup per token
    * inside the (interpreted) lambda, not a scan of the whole list.
    */
  def removeStopAndShort(tokens: Column): Column =
    filter(tokens, t => (length(t) > 2) && !lower(t).isin(StopWords: _*))

  /** P6-P8 composed: the reference `simple_tokenize` (string in, string out). */
  def cleanTokensText(c: Column): Column =
    array_join(removeStopAndShort(tokenize(c)), " ")

  /** Token array form of `simple_tokenize` — the engine-native shape. */
  def cleanTokens(c: Column): Column = removeStopAndShort(tokenize(c))

  /** P10: truncate to maxLength chars at a word boundary and append "..."
    * (`summary[:max_length].rsplit(' ', 1)[0] + '...'`, nlp_data_tagging.py:127-128).
    * Matches Python rsplit semantics: if the head contains no space it is
    * kept whole; a trailing space is simply dropped.
    */
  def truncateAtWordBoundary(c: Column, maxLength: Int): Column =
    when(length(c) > maxLength,
      // " [^ ]*$", not " \S*$": Python rsplit(' ') splits on the space
      // char only, so the dropped tail may contain tabs/newlines
      concat(regexp_replace(substring(c, 1, maxLength), " [^ ]*$", ""), lit("...")))
      .otherwise(c)

  /** P14: first-N-chars preview with ellipsis (nlp_data_tagging.py:496). */
  def preview(c: Column, n: Int = 1000): Column =
    when(length(c) > n, concat(substring(c, 1, n), lit("..."))).otherwise(c)
}
