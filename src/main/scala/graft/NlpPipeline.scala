package graft

import graft.ml.TopicPipeline
import graft.ops.{MetricOps, SummarizeOps, TagOps, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The 6-stage reference pipeline as one facade (nlp_data_tagging.py:545-563):
  * text extraction & cleaning → tokenization → extractive summarization →
  * topic modeling → tag generation → quality metrics. Each stage is also
  * available à la carte through the ops objects; this object wires the
  * end-to-end flow a user of the reference app would run.
  *
  * Everything stays a lazy DataFrame until the caller acts; the only eager
  * step is LDA's iterative fit (as in any ML pipeline).
  */
object NlpPipeline {

  case class Config(
      summarySentences: Int = 3,
      summaryMaxLength: Int = 150,
      nTags: Int = 5,
      topics: TopicPipeline.Config = TopicPipeline.Config(),
      useTopicTags: Boolean = true)

  /** Run the full pipeline over a `(doc_id, text, ...)` corpus. Returns the
    * reference's per-document result relation: cleaned/processed text,
    * summary (+truncation), tags, lengths, compression ratio
    * (nlp_data_tagging.py:410-418 + 427-428). `doc_id` is the corpus key;
    * rows with a null `doc_id` are dropped.
    *
    * Stages 1-3 and 6 are one narrow projection per document (cleaning,
    * the per-row summary kernel, the metrics); the only join is the left
    * join with the topic tags.
    */
  def run(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    // stages 1-2: clean + tokenize
    val cleaned = docs.where(col("doc_id").isNotNull)
      .withColumn("cleaned_text", TextOps.preprocess(col("text")))
      .withColumn("processed_text", TextOps.cleanTokensText(col("cleaned_text")))
    // stage 3: extractive summary (sentence split on punctuation; corpora
    // without punctuation degenerate to identity, reference :91-92)
    val k = SummarizeOps.targetSentences(cfg.summaryMaxLength)
    val summarized = SummarizeOps.summarize(cleaned,
        SummarizeOps.sentenceArray(col("text")), k, ". ", ".")
      .withColumn("summary",
        TextOps.truncateAtWordBoundary(col("summary"), cfg.summaryMaxLength))
    // stages 4-5: topic tags with per-doc TF fallback (reference :205-215)
    val tags =
      if (cfg.useTopicTags) TopicPipeline.tags(TopicPipeline.fit(docs, cfg.topics))
      else TagOps.fallbackTags(docs, cfg.nTags)
        .groupBy("doc_id")
        .agg(transform(array_sort(collect_list(struct(col("tag_rank"), col("tag")))),
          t => t.getField("tag")).as("tags"))
    // stage 6: metrics + assembly
    summarized.join(tags, Seq("doc_id"), "left")
      .select((col("doc_id") +: MetricOps.metricColumns(col("text"), col("summary"))) ++
        Seq("cleaned_text", "processed_text", "summary", "tags").map(col): _*)
  }
}
