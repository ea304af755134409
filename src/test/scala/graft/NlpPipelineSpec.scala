package graft

import graft.ml.TopicPipeline
import graft.ops.{MetricOps, RelationalSummary, RelationalTags, TagOps, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `NlpPipeline.run` assembles its result in one pass; these specs hold it
  * to the relational assembly it replaced (summary by the relational
  * chain, tags regrouped through a join, joined back to the cleaned
  * corpus, metrics self-joined on doc_id), column order included.
  */
class NlpPipelineSpec extends SparkSpec {
  import sqlImplicits._

  private def selfJoinAssembly(docs: DataFrame, cfg: NlpPipeline.Config): DataFrame = {
    val cleaned = docs
      .withColumn("cleaned_text", TextOps.preprocess(col("text")))
      .withColumn("processed_text", TextOps.cleanTokensText(col("cleaned_text")))
    val sents = RelationalSummary.sentences(cleaned)
    val k = graft.ops.SummarizeOps.targetSentences(cfg.summaryMaxLength)
    val summarized = RelationalSummary.extractiveSummary(cleaned, sents, k, ". ", ".")
      .withColumn("summary",
        TextOps.truncateAtWordBoundary(col("summary"), cfg.summaryMaxLength))
    val tags =
      if (cfg.useTopicTags) RelationalTags.tags(TopicPipeline.fit(docs, cfg.topics))
      else TagOps.fallbackTags(docs, cfg.nTags)
        .groupBy("doc_id")
        .agg(transform(array_sort(collect_list(struct(col("tag_rank"), col("tag")))),
          t => t.getField("tag")).as("tags"))
    val joined = cleaned
      .join(summarized.select("doc_id", "summary"), Seq("doc_id"))
      .join(tags, Seq("doc_id"), "left")
    MetricOps.summaryMetrics(joined, "text", "summary")
      .join(joined.select(col("doc_id"), col("cleaned_text"),
        col("processed_text"), col("summary"), col("tags")), Seq("doc_id"))
  }

  private val words = Seq("spark", "query", "engine", "garden", "dogs", "ball",
    "plans", "the", "and", "of", "clusters", "pond", "café", "Ωmega")

  /** Punctuated docs of 0-9 sentences, plus null text, empty text and a
    * null doc_id (which the inner join of the old assembly drops). */
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(7L)
    def sentence(): String =
      Seq.fill(1 + rnd.nextInt(7))(words(rnd.nextInt(words.size))).mkString(" ")
    val texts = (0 until 60).map { _ =>
      Seq.fill(rnd.nextInt(10))(sentence() + Seq(".", "!", "?")(rnd.nextInt(3)))
        .mkString(" ")
    }
    val rows = texts.zipWithIndex.map { case (t, i) => (Option(i.toLong), t) } ++
      Seq((Some(100L), null), (Some(101L), ""), (None, "Spark query engine plans. Dogs ball garden pond."))
    rows.toDF("doc_id", "text")
  }

  private def rows(df: DataFrame) = df.orderBy("doc_id").collect().toSeq

  test("run returns the self-join assembly's columns and rows (fallback tags)") {
    Seq(20, 60, 150).foreach { maxLen =>
      val cfg = NlpPipeline.Config(summaryMaxLength = maxLen, useTopicTags = false)
      val want = selfJoinAssembly(corpus, cfg)
      val got = NlpPipeline.run(corpus, cfg)
      assert(got.columns.toSeq == want.columns.toSeq)
      assert(rows(got) == rows(want), s"summaryMaxLength=$maxLen")
    }
  }

  test("run returns the self-join assembly's rows with topic tags") {
    val cfg = NlpPipeline.Config(
      topics = TopicPipeline.Config(k = 3, termsPerTopic = 4, nTags = 5))
    val want = selfJoinAssembly(corpus, cfg)
    val got = NlpPipeline.run(corpus, cfg)
    assert(got.columns.toSeq == want.columns.toSeq)
    val wantRows = rows(want)
    assert(rows(got) == wantRows)
    assert(wantRows.size == 62 && wantRows.exists(r => !r.isNullAt(r.fieldIndex("tags"))))
  }

  test("run joins only the tag relation: no self-join, no summary join back") {
    def joins(df: DataFrame): Int = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size
    val cfg = NlpPipeline.Config(useTopicTags = false)
    assert(joins(NlpPipeline.run(corpus, cfg)) == joins(TagOps.fallbackTags(corpus, cfg.nTags)) + 1)
  }
}
