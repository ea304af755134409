package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Summary/corpus quality metrics (SURVEY.md §2.3-2.4: J1, A9-A13).
  *
  * Per-document metrics mirror the reference `evaluate_summary`
  * (nlp_data_tagging.py:242-261): compression ratio, word-set overlap,
  * average sentence length. All are single IEEE divisions over integer
  * counts, so they are bit-identical across engines (no float-sum order
  * sensitivity) and hash-verifiable against the DuckDB oracle.
  *
  * Corpus aggregates avoid `avg(double)` (whose partial-sum order is
  * engine-dependent): integer sums are exact, double ratios are scaled to
  * integers via floor before summing. Scale: one narrow projection plus one
  * all-to-one aggregate whose partial aggregation is map-side combined —
  * the reduce side sees one row per partition, fine at any data size.
  */
object MetricOps {

  /** A10: `len(summary)/len(original)` with the divide-by-zero guard the
    * reference applies inconsistently (`:247` guards, `:477`/`:523` don't —
    * we always guard).
    */
  def compressionRatio(original: Column, summary: Column): Column =
    when(length(original) > 0, length(summary).cast("double") / length(original))
      .otherwise(lit(0.0))

  /** J1: `|words(orig) ∩ words(summary)| / |words(orig)|` over lowercased
    * distinct whitespace tokens (nlp_data_tagging.py:250-253).
    */
  def wordOverlap(original: Column, summary: Column): Column = {
    val o = array_distinct(TextOps.tokenize(lower(original)))
    val s = array_distinct(TextOps.tokenize(lower(summary)))
    when(size(o) > 0,
      size(array_intersect(o, s)).cast("double") / size(o)).otherwise(lit(0.0))
  }

  /** A11: words / sentences where sentences counts ALL `[.!?]+` split pieces
    * including empties (reference `len(re.split(...))`, :256-259 — note this
    * intentionally differs from the >10-char sentence filter used by the
    * summarizer).
    */
  def avgSentenceLength(summary: Column): Column = {
    val nSentences = size(split(summary, "[.!?]+"))
    val nWords = size(TextOps.tokenize(summary))
    when(nSentences > 0, nWords.cast("double") / nSentences).otherwise(lit(0.0))
  }

  /** The raw lengths plus the three reference metrics (A10/A11/J1/P11) of
    * one document, as named columns for any projection.
    */
  def metricColumns(original: Column, summary: Column): Seq[Column] = Seq(
    length(original).cast("long").as("text_length"),
    length(summary).cast("long").as("summary_length"),
    compressionRatio(original, summary).as("compression_ratio"),
    wordOverlap(original, summary).as("word_overlap"),
    avgSentenceLength(summary).as("avg_sentence_length"))

  /** Per-document metrics projection: doc id + [[metricColumns]]. Narrow —
    * no shuffle.
    */
  def summaryMetrics(df: DataFrame, origCol: String, summaryCol: String,
                     idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol) +: metricColumns(col(origCol), col(summaryCol)): _*)

  /** A9/A13 corpus aggregate over a metrics relation: document count,
    * average lengths, average compression ratio. Averages are computed as
    * exact-integer-sum / count (see class doc); the ratio average sums
    * `floor(1e9 * ratio)` per row so the aggregate is an exact integer sum —
    * deterministic regardless of partial-aggregation order.
    */
  def corpusStats(metrics: DataFrame): DataFrame =
    metrics.agg(
      count(lit(1)).as("n_docs"),
      sum(col("text_length")).as("total_text_chars"),
      sum(col("summary_length")).as("total_summary_chars"),
      (sum(col("text_length")).cast("double") / count(lit(1))).as("avg_text_length"),
      (sum(col("summary_length")).cast("double") / count(lit(1))).as("avg_summary_length"),
      (sum(floor(col("compression_ratio") * 1e9).cast("long")).cast("double")
        / (count(lit(1)) * 1e9)).as("avg_compression_ratio"))
}
