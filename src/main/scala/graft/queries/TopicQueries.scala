package graft.queries

import graft.Tables
import graft.ml.TopicPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Topic-model query surface (SURVEY.md §2.4 A3-A6). NO DuckDB oracle by
  * design — LDA outputs depend on the optimizer (sklearn online VB vs MLlib
  * online), so the driver records rows-only checks (SURVEY.md §5.2);
  * invariants are covered by TopicPipelineSpec.
  */
object TopicQueries {

  /** One LDA fit per (application, fixture dir): q40/q41 share the same
    * model (a fit is ~10s at sf0.1; harness mains run each query
    * independently and would otherwise pay it twice). The fit persists its
    * vectorized corpus itself; eviction releases it.
    */
  private val fitted = Memo[TopicPipeline.Fitted](
    (spark, d) => TopicPipeline.fit(Tables.documents(spark, d)),
    _.tokenized.unpersist(blocking = false))

  /** Topic → ranked terms (A5/T2). */
  def q40TopicTerms(spark: SparkSession, dir: String): DataFrame =
    TopicPipeline.topicTerms(fitted(spark, dir))
      .orderBy("topic", "term_rank")

  /** Per-doc dominant-topic tags (A6/T3/J4/T7). */
  def q41DocTags(spark: SparkSession, dir: String): DataFrame =
    TopicPipeline.tags(fitted(spark, dir))
      .select(col("doc_id"), array_join(col("tags"), ", ").as("tags"))
      .orderBy("doc_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q40_topic_terms" -> (q40TopicTerms _),
    "q41_doc_tags" -> (q41DocTags _))

  val oracleSql: Map[String, String] = Map.empty
}
