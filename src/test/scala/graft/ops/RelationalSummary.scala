package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference model for the summary kernel: the relational formulation of
  * the integer TF-IDF summary that [[SummarizeOps]] replaced — sentences
  * ranked by a window, tf/df/n_sent as hash aggregations joined back, top-k
  * by a window, the picked sentences re-assembled with `collect_list`.
  * Test code only: specs compare the per-document kernel against it.
  */
object RelationalSummary {

  def sentences(docs: DataFrame, textCol: String = "text",
                idCol: String = "doc_id"): DataFrame = {
    val raw = docs.select(
        col(idCol),
        posexplode(split(coalesce(col(textCol), lit("")), "[.!?]+")).as(Seq("pos", "s")))
      .select(col(idCol), col("pos"), trim(col("s")).as("sentence"))
      .where(length(col("sentence")) > 10)
    val w = Window.partitionBy(idCol).orderBy("pos")
    raw.select(col(idCol), (row_number().over(w) - 1).cast("long").as("sentence_id"),
      col("sentence"))
  }

  def chunks(docs: DataFrame, chunkWords: Int, textCol: String = "text",
             idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol), TextOps.tokenize(col(textCol)).as("toks"))
      .select(col(idCol),
        posexplode(when(size(col("toks")) > 0, transform(
          sequence(lit(0), floor((size(col("toks")) - 1) / lit(chunkWords)).cast("int")),
          i => array_join(slice(col("toks"), i * chunkWords + 1, lit(chunkWords)), " ")))
          .otherwise(array().cast("array<string>")))
          .as(Seq("sentence_id", "sentence")))
      .select(col(idCol), col("sentence_id").cast("long"), col("sentence"))

  def scoreSentences(sents: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val terms = sents.select(col(idCol), col("sentence_id"),
      explode(TextOps.cleanTokens(col("sentence"))).as("term"))
    val tf = terms.groupBy(col(idCol), col("sentence_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("df"))
    val nSent = sents.groupBy(col(idCol)).agg(count(lit(1)).as("n_sent"))
    val scored = tf
      .join(df, Seq(idCol, "term"))
      .join(nSent, Seq(idCol))
      .withColumn("w", col("tf") *
        floor(lit(1000000.0) * col("n_sent") / col("df")).cast("long"))
      .groupBy(col(idCol), col("sentence_id"))
      .agg(sum(col("w")).as("score"))
    sents.join(scored, Seq(idCol, "sentence_id"), "left")
      .select(col(idCol), col("sentence_id"), col("sentence"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  def extractiveSummary(docs: DataFrame, sents: DataFrame, k: Int,
                        joiner: String, terminal: String,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val byScore = Window.partitionBy(idCol)
      .orderBy(col("score").desc, col("sentence_id").asc)
    val picked = scoreSentences(sents, idCol)
      .withColumn("rk", row_number().over(byScore))
      .where(col("rk") <= k)
    val summaries = picked
      .groupBy(col(idCol))
      .agg(
        concat(array_join(array_sort(collect_list(struct(col("sentence_id"), col("sentence"))))
          .getField("sentence"), joiner), lit(terminal)).as("picked_summary"))
    val nSent = sents.groupBy(col(idCol)).agg(count(lit(1)).as("n_sentences"))
    docs.join(nSent, Seq(idCol), "left")
      .join(summaries, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_sentences"), lit(0L)).as("n_sentences"),
        when(coalesce(col("n_sentences"), lit(0L)) <= k, col(textCol))
          .otherwise(col("picked_summary")).as("summary"))
  }
}
