package graft.ml

import graft.ops.TextOps
import org.apache.spark.ml.feature.{CountVectorizerModel, NGram}
import org.apache.spark.ml.clustering.{LDA, LDAModel}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus topic modeling + tag generation (SURVEY.md §2.4 A3-A6, §2.5
  * T2/T3/T7, §2.3 J3/J4) — the reference's E2 lifecycle
  * (nlp_data_tagging.py:144-215) re-expressed on MLlib.
  *
  * Reference semantics kept: unigram+bigram vocabulary capped at
  * `vocabSize` with max document frequency 0.8 (:148-153); k clamped to the
  * corpus size (:161); LDA seeded 42, 10 iterations, online optimizer —
  * the closest match to sklearn's online variational Bayes (:160-166);
  * per-doc tags = distinct top terms of the 2 dominant topics, truncated to
  * nTags (:199-212). Numeric outputs are NOT oracle-checked (sklearn vs
  * MLlib optimizers differ by design, SURVEY.md §7.3); invariants are
  * property-tested in TopicPipelineSpec.
  *
  * Scale: CountVectorizer's vocab build is one distributed agg; LDA online
  * fit is maxIter passes over mini-batched corpus (each a shuffle);
  * transform is narrow. describeTopics is k×10 rows — driver-small by
  * construction, collected locally and inlined into the per-doc tag
  * projection.
  */
object TopicPipeline {

  case class Config(
      k: Int = 5,
      nTags: Int = 5,
      termsPerTopic: Int = 10,
      vocabSize: Int = 100,
      maxDF: Double = 0.8,
      maxIter: Int = 10,
      seed: Long = 42L)

  /** Fitted bundle: the vectorizer + LDA model and the tokenized corpus. */
  case class Fitted(cv: CountVectorizerModel, lda: LDAModel,
                    tokenized: DataFrame, cfg: Config)

  /** Tokenize per reference semantics and add unigram+bigram terms. */
  def featurize(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toked = docs
      .withColumn("tokens", TextOps.cleanTokens(TextOps.preprocess(col(textCol))))
    val withBigrams = new NGram().setN(2)
      .setInputCol("tokens").setOutputCol("bigrams")
      .transform(toked)
    withBigrams.withColumn("terms", concat(col("tokens"), col("bigrams")))
  }

  /** Fit vocabulary + LDA on the corpus (k clamped to corpus size).
    * The vectorized corpus is cached for the fit: the online optimizer
    * makes maxIter mini-batch passes, each of which would otherwise
    * recompute the tokenize→NGram→CountVectorizer chain from the scan.
    *
    * The vocabulary is built by an explicit aggregation instead of
    * `CountVectorizer.fit`: MLlib ranks terms by corpus frequency but
    * leaves FREQUENCY TIES in shuffle-arrival order, so the vocabulary
    * array — and through it the seeded LDA's topics — differed across
    * JVM runs. Ranking (count desc, term asc) with the same minDF/maxDF
    * semantics makes the whole fit reproducible run-to-run (LdaGoldenSpec
    * guards this), at the cost of one extra small agg.
    */
  def fit(docs: DataFrame, cfg: Config = Config()): Fitted = {
    // Stage the featurized corpus ONCE, narrowed to (doc_id, terms): the
    // doc-count, the vocabulary aggregate and the vectorize pass below
    // each consume it, and without the persist each would re-run the
    // tokenize → NGram chain from the scan (three corpus passes where one
    // suffices). Narrowing drops the text payload and intermediate token
    // arrays from the cached bytes. Values are unchanged — the persist
    // only shares the computation — so the seeded fit stays reproducible
    // (LdaGoldenSpec).
    require(cfg.maxDF < 1.0, "maxDF is interpreted as a document fraction")
    val corpus = featurize(docs).select(col("doc_id"), col("terms"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = corpus.count()
    val vocab = corpus
      .select(explode(col("terms")).as("term"), col("doc_id"))
      .groupBy("term")
      .agg(count(lit(1)).as("cnt"), countDistinct(col("doc_id")).as("df"))
      // MLlib parity: minDF=1 absolute, maxDF fractional (df <= maxDF*n)
      .where(col("df") >= 1L && col("df") <= cfg.maxDF * nDocs)
      .orderBy(col("cnt").desc, col("term"))
      .limit(cfg.vocabSize)
      .select("term").collect().map(_.getString(0))
    val cv = new CountVectorizerModel(vocab)
      .setInputCol("terms").setOutputCol("features")
    val vectorized = cv.transform(corpus)
      .select("doc_id", "features")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the vectorize pass is one narrow map over the staged corpus, so its
    // row count is the one counted above
    val k = math.max(2, math.min(cfg.k, nDocs.toInt))
    val lda = new LDA()
      .setK(k).setMaxIter(cfg.maxIter).setSeed(cfg.seed)
      .setOptimizer("online")
      .setFeaturesCol("features")
      .fit(vectorized)
    // the fit's first pass materialized vectorized from the staged term
    // corpus, which has no further consumer
    corpus.unpersist(blocking = false)
    Fitted(cv, lda, vectorized, cfg)
  }

  /** Topic → ranked terms relation `(topic, term_rank, term, weight)` —
    * A5/T2, the reference's get_topic_terms (:173-184).
    */
  def topicTerms(f: Fitted): DataFrame = {
    val vocab = typedlit(f.cv.vocabulary)
    f.lda.describeTopics(f.cfg.termsPerTopic)
      .select(col("topic").cast("long").as("topic"),
        posexplode(arrays_zip(col("termIndices"), col("termWeights"))))
      .select(col("topic"),
        (col("pos") + 1).cast("long").as("term_rank"),
        element_at(vocab, col("col.termIndices") + 1).as("term"),
        col("col.termWeights").as("weight"))
  }

  /** Per-doc topic distribution `(doc_id, topic_dist ARRAY<DOUBLE>)` — A6. */
  def topicDistributions(f: Fitted, idCol: String = "doc_id"): DataFrame =
    f.lda.transform(f.tokenized)
      .select(col(idCol), vector_to_array(col("topicDistribution")).as("topic_dist"))

  /** Topic → its top `termsPerTopic` terms in rank order, indexed by
    * topic id. Collected locally: the fitted model's topics are local,
    * so `describeTopics` is a local relation and collecting it runs no
    * Spark job.
    */
  private def topicTermTable(f: Fitted): Seq[Seq[String]] = {
    val vocab = f.cv.vocabulary
    f.lda.describeTopics(f.cfg.termsPerTopic)
      .select("topic", "termIndices").collect().sortBy(_.getInt(0))
      .map(_.getSeq[Int](1).map(vocab(_)).toSeq).toSeq
  }

  /** Per-doc tags: distinct top terms of the 2 dominant topics, order
    * preserved, truncated to nTags — T3 + J3 + J4 + T7 (:199-212).
    *
    * One narrow projection per document: the k-row topic → terms table
    * ([[topicTermTable]]) is inlined as a literal and each doc looks up
    * its two dominant topics in it — no join, no regroup, no shuffle.
    * `doc_id` is the corpus key (FIXTURES.md), so one row per document is
    * what regrouping the per-topic rows by `doc_id` produced.
    */
  def tags(f: Fitted, idCol: String = "doc_id"): DataFrame = {
    val table = typedlit(topicTermTable(f))
    topicDistributions(f, idCol)
      // top-2 dominant topics per doc, highest probability first
      .select(col(idCol),
        slice(reverse(array_sort(zip_with(
          col("topic_dist"),
          sequence(lit(0), size(col("topic_dist")) - 1).cast("array<double>"),
          (p, i) => struct(p.as("prob"), i.as("topic"))))), 1, 2).as("top2"))
      .select(col(idCol),
        slice(array_distinct(flatten(transform(col("top2"),
          t => element_at(table, t.getField("topic").cast("int") + 1)))),
          1, f.cfg.nTags).as("tags"))
  }
}
