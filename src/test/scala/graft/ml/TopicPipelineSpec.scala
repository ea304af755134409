package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Invariant tests for the MLlib topic stack (no DuckDB oracle by design —
  * SURVEY.md §5.2: seeded determinism + structural invariants instead).
  */
class TopicPipelineSpec extends SparkSpec {
  import sqlImplicits._

  private lazy val corpus = Seq(
    (0L, "spark query engine runs distributed query plans on clusters"),
    (1L, "query optimizer rewrites logical plans into physical plans"),
    (2L, "cats and dogs play in the garden with a ball"),
    (3L, "the garden has flowers trees and a small pond"),
    (4L, "distributed clusters shuffle data between executor nodes"),
    (5L, "dogs chase the ball across the garden grass"))
    .toDF("doc_id", "text")

  private lazy val fitted = TopicPipeline.fit(corpus,
    TopicPipeline.Config(k = 3, termsPerTopic = 4, nTags = 5))

  test("topic distributions are k-dim probability vectors") {
    val dists = TopicPipeline.topicDistributions(fitted).collect()
    assert(dists.length == 6)
    dists.foreach { r =>
      val d = r.getSeq[Double](1)
      assert(d.size == 3)
      assert(math.abs(d.sum - 1.0) < 1e-6)
      assert(d.forall(p => p >= 0.0 && p <= 1.0))
    }
  }

  test("describeTopics yields termsPerTopic ranked terms per topic from the vocabulary") {
    val tt = TopicPipeline.topicTerms(fitted).collect()
    assert(tt.length == 3 * 4)
    val vocab = fitted.cv.vocabulary.toSet
    tt.foreach { r =>
      assert(vocab.contains(r.getAs[String]("term")))
      assert(r.getAs[Long]("term_rank") >= 1 && r.getAs[Long]("term_rank") <= 4)
    }
    // weights weakly decrease within each topic
    tt.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val ws = rows.sortBy(_.getAs[Long]("term_rank")).map(_.getAs[Double]("weight"))
      assert(ws.zip(ws.tail).forall { case (a, b) => a >= b })
    }
  }

  test("tags: every doc gets 1..nTags distinct tags") {
    val tags = TopicPipeline.tags(fitted).collect()
    assert(tags.length == 6)
    tags.foreach { r =>
      val t = r.getSeq[String](1)
      assert(t.nonEmpty && t.size <= 5)
      assert(t.distinct.size == t.size)
    }
  }

  test("tags equal the relational regroup on seeded corpora, tied topic " +
      "probabilities and empty or null text included") {
    val words = Seq("spark", "query", "engine", "plans", "clusters", "shuffle",
      "executor", "garden", "dogs", "ball", "pond", "flowers", "trees",
      "grass", "river", "boats", "sails", "harbor", "ocean", "waves",
      "the", "and", "café", "Ωmega")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getSeq[String](1))).sortBy(_._1).toSeq
    Seq(11L, 23L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val texts = Seq.fill(40)(
        Seq.fill(3 + rnd.nextInt(10))(words(rnd.nextInt(words.size))).mkString(" "))
      val docs = (texts.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
        Seq((100L, ""), (101L, null: String))).toDF("doc_id", "text")
      Seq(2, 3, 5).foreach { k =>
        val f = TopicPipeline.fit(docs,
          TopicPipeline.Config(k = k, termsPerTopic = 7))
        // a doc with no vocabulary terms gets an all-zero distribution:
        // every topic ties, so the top-2 order falls to the tie-break
        val empty = TopicPipeline.topicDistributions(f)
          .where(col("doc_id") >= 100L).collect().map(_.getSeq[Double](1))
        assert(empty.length == 2 && empty.forall(_.distinct.size == 1))
        Seq(1, 3, 5, 12).foreach { n =>
          val g = f.copy(cfg = f.cfg.copy(nTags = n))
          assert(rows(TopicPipeline.tags(g)) ==
            rows(graft.ops.RelationalTags.tags(g)), s"seed=$seed k=$k nTags=$n")
        }
        f.tokenized.unpersist()
      }
    }
  }

  test("tags is one projection over the topic distributions: no join, " +
      "no aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val plan = TopicPipeline.tags(fitted).queryExecution.optimizedPlan
    assert(plan.collect { case j: Join => j; case a: Aggregate => a }.isEmpty,
      s"tags regroups again:\n$plan")
  }

  test("seeded LDA refit on the same features is deterministic") {
    // Note: determinism is tested against a FIXED featurization —
    // CountVectorizer breaks equal-count vocabulary ties arbitrarily, so
    // two end-to-end fits can relabel term indices (fine: rows-only checks
    // cover the end-to-end path).
    import org.apache.spark.ml.clustering.LDA
    val lda2 = new LDA().setK(3).setMaxIter(10).setSeed(42L)
      .setOptimizer("online").setFeaturesCol("features")
      .fit(fitted.tokenized)
    assert(lda2.topicsMatrix.toArray.toSeq ==
      fitted.lda.topicsMatrix.toArray.toSeq)
  }

  test("vocabulary honors the cap and maxDF") {
    assert(fitted.cv.vocabulary.length <= 100)
    // 'garden' appears in 3/6 docs (maxDF .8 keeps it); stop words are gone
    assert(!fitted.cv.vocabulary.contains("the"))
  }

  test("NlpPipeline facade produces the full per-doc result relation") {
    val out = graft.NlpPipeline.run(corpus)
    val cols = out.columns.toSet
    assert(Set("doc_id", "cleaned_text", "processed_text", "summary", "tags",
      "compression_ratio", "word_overlap").subsetOf(cols))
    assert(out.count() == 6)
  }
}
