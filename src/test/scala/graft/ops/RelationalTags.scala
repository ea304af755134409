package graft.ops

import graft.ml.TopicPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference model for per-document topic tags: the relational formulation
  * that [[TopicPipeline.tags]] replaced — each document's two dominant
  * topics exploded to rows, broadcast-joined to the topic → terms
  * relation, and regrouped by `doc_id`. Test code only: specs compare the
  * per-document projection against it.
  */
object RelationalTags {

  def tags(f: TopicPipeline.Fitted, idCol: String = "doc_id"): DataFrame = {
    val dist = TopicPipeline.topicDistributions(f, idCol)
    // top-2 dominant topics per doc, highest probability first
    val dominant = dist
      .select(col(idCol),
        slice(reverse(array_sort(zip_with(
          col("topic_dist"),
          sequence(lit(0), size(col("topic_dist")) - 1).cast("array<double>"),
          (p, i) => struct(p.as("prob"), i.as("topic"))))), 1, 2).as("top2"))
      .select(col(idCol), posexplode(col("top2")))
      .select(col(idCol), (col("pos") + 1).as("topic_rank"),
        col("col.topic").cast("long").as("topic"))
    val perTopic = TopicPipeline.topicTerms(f)
      .groupBy("topic")
      .agg(array_agg(struct(col("term_rank"), col("term"))).as("ts"))
      .select(col("topic"), transform(array_sort(col("ts")),
        t => t.getField("term")).as("topic_terms"))
    dominant
      .join(broadcast(perTopic), Seq("topic"), "left")
      .groupBy(col(idCol))
      .agg(array_agg(struct(col("topic_rank"), col("topic_terms"))).as("ranked"))
      .select(col(idCol),
        slice(array_distinct(flatten(transform(array_sort(col("ranked")),
          r => r.getField("topic_terms")))), 1, f.cfg.nTags).as("tags"))
  }
}
