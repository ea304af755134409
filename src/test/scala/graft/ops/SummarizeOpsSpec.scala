package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SummarizeOpsSpec extends SparkSpec {
  import sqlImplicits._

  test("sentence split keeps trimmed >10-char sentences, indexed after filter") {
    val docs = Seq((1L, "Hi. A long enough sentence here! x? Another quite long sentence.")).toDF("doc_id", "text")
    val got = SummarizeOps.sentences(docs).orderBy("sentence_id")
      .as[(Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, "A long enough sentence here"),
      (1L, 1L, "Another quite long sentence")))
  }

  test("sentence split: empty and null docs produce no rows") {
    val docs = Seq((1L, ""), (2L, null), (3L, "tiny. bits")).toDF("doc_id", "text")
    assert(SummarizeOps.sentences(docs).count() == 0)
  }

  test("chunks slices tokens in original order") {
    val docs = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    val got = SummarizeOps.chunks(docs, 3).orderBy("sentence_id")
      .as[(Long, Long, String)].collect().toSeq
    assert(got == Seq((1L, 0L, "a b c"), (1L, 1L, "d e f"), (1L, 2L, "g")))
  }

  test("sklearn-parity scores match the TfidfVectorizer formula (golden)") {
    // one doc, two sentences; terms chosen outside the stopword list
    val sents = Seq(
      (1L, 0L, "apple banana apple"),
      (1L, 1L, "apple cherry")).toDF("doc_id", "sentence_id", "sentence")
    val got = SummarizeOps.scoreSentencesSklearn(sents)
      .orderBy("sentence_id").select("score").as[Double].collect()
    // scalar re-derivation of sklearn defaults: idf = ln((1+n)/(1+df)) + 1,
    // raw tf, L2 row norm, score = row sum
    val idfApple = math.log(3.0 / 3.0) + 1 // df=2 of n=2 sentences
    val idfRare = math.log(3.0 / 2.0) + 1  // banana/cherry, df=1
    val s0 = (2 * idfApple + idfRare) /
      math.sqrt(2 * idfApple * (2 * idfApple) + idfRare * idfRare)
    val s1 = (idfApple + idfRare) /
      math.sqrt(idfApple * idfApple + idfRare * idfRare)
    assert(math.abs(got(0) - s0) < 1e-12 && math.abs(got(1) - s1) < 1e-12)
  }

  test("fixed-point sklearn scores agree with the float variant to 1e-6 relative") {
    val sents = Seq(
      (1L, 0L, "apple banana apple"),
      (1L, 1L, "apple cherry"),
      (2L, 0L, "delta echo foxtrot delta"),
      (2L, 1L, "echo golf"),
      (2L, 2L, "of the and"), // zero-term sentence: both variants emit 0
      (3L, 0L, "solo")).toDF("doc_id", "sentence_id", "sentence")
    val float = SummarizeOps.scoreSentencesSklearn(sents)
      .orderBy("doc_id", "sentence_id").select("score").as[Double].collect()
    val fixed = SummarizeOps.scoreSentencesSklearnFixed(sents)
      .orderBy("doc_id", "sentence_id").select("score").as[Double].collect()
    assert(float.length == fixed.length)
    float.zip(fixed).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(a)),
        s"float $a vs fixed $b")
    }
    assert(fixed(4) == 0.0)
  }

  test("sklearn-parity scores: zero-term sentences keep score 0") {
    val sents = Seq(
      (1L, 0L, "apple banana orange"),
      (1L, 1L, "of the and")).toDF("doc_id", "sentence_id", "sentence")
    val got = SummarizeOps.scoreSentencesSklearn(sents)
      .orderBy("sentence_id").select("score").as[Double].collect()
    assert(got(1) == 0.0 && got(0) > 0.0)
  }

  test("extractive summary: identity when n_sentences <= k (py:91-92)") {
    val docs = Seq((1L, "one two three four five six")).toDF("doc_id", "text")
    val sents = SummarizeOps.chunks(docs, 3) // 2 chunks <= k=2
    val got = SummarizeOps.extractiveSummary(docs, sents, 2, " ", "")
      .select("summary").as[String].collect()(0)
    assert(got == "one two three four five six")
  }

  test("extractive summary: select by score, emit by position (T1)") {
    // 3 sentences; s2 scores highest (3 scored terms), s0 second (2 scored,
    // one stop word), s1 lowest (all stop words). Verify the two selected
    // sentences are emitted in document order (s0 before s2) even though s2
    // outranks s0.
    val docs = Seq((1L,
      "alpha beta the " +         // s0: 2 scored terms
      "the of an " +              // s1: score 0
      "zeta unique2 unique3"      // s2: 3 scored terms
      )).toDF("doc_id", "text")
    val sents = SummarizeOps.chunks(docs, 3)
    val got = SummarizeOps.extractiveSummary(docs, sents, 2, " ", "")
      .select("summary").as[String].collect()(0)
    assert(got == "alpha beta the zeta unique2 unique3")
  }

  test("scoreSentences: score 0 for sentences with only stop/short tokens") {
    val sents = Seq((1L, 0L, "the of a an in is"), (1L, 1L, "meaningful words here"))
      .toDF("doc_id", "sentence_id", "sentence")
    val scores = SummarizeOps.scoreSentences(sents)
      .orderBy("sentence_id").as[(Long, Long, String, Long)].collect()
    assert(scores(0)._4 == 0L)
    assert(scores(1)._4 > 0L)
  }

  test("kernel scores: tf x floor(1e6 n/df), ties ranked by position") {
    // n=3; "alpha" in 2 sentences (idf 1500000), "beta"/"gamma" in 1 (3000000)
    val scores = SummarizeOps.sentenceScores(Seq(
      Seq("alpha", "alpha", "beta"), Seq("gamma"), null, Seq("alpha")))
    assert(scores.toSeq == Seq(2L * 2000000L + 4000000L, 4000000L, 0L, 2000000L))
    assert(SummarizeOps.pickSentences(Array(5L, 7L, 5L, 7L), 3).toSeq == Seq(0, 1, 3))
    assert(SummarizeOps.pickSentences(Array(1L, 2L), 5).toSeq == Seq(0, 1))
    assert(SummarizeOps.pickSentences(Array(1L, 2L), 0).isEmpty)
  }

  test("summarize runs no shuffle, window or collect_list over sentences") {
    val docs = Seq((1L, "Alpha beta gamma delta. Epsilon alpha zeta eta! Theta iota kappa?"))
      .toDF("doc_id", "text")
    val out = SummarizeOps.summarize(docs, SummarizeOps.sentenceArray(col("text")),
      1, ". ", ".")
    val plan = out.queryExecution.executedPlan.toString
    Seq("Exchange", "Window", "ObjectHashAggregate", "SortAggregate", "HashAggregate")
      .foreach(op => assert(!plan.contains(op), s"$op in\n$plan"))
    assert(out.select("n_sentences", "summary").as[(Long, String)].collect().toSeq ==
      Seq((3L, "Alpha beta gamma delta.")))
  }

  test("LnTable SQL serialization round-trips to the exact JVM doubles") {
    // engine-independence of the q03d oracle rests on the oracle's
    // string→DOUBLE cast (correctly-rounded parse) reproducing the JVM's
    // bits. Double.toString guarantees shortest-round-trip, so parsing
    // each serialized entry must give back the identical double.
    val entries = SummarizeOps.LnTableSql
      .stripPrefix("[").stripSuffix("]::DOUBLE[]")
      .split(",").map(_.trim.stripPrefix("'").stripSuffix("'"))
    assert(entries.length == SummarizeOps.LnTable.length)
    entries.zip(SummarizeOps.LnTable).foreach { case (s, d) =>
      assert(java.lang.Double.parseDouble(s) == d,
        s"round-trip mismatch: '$s' != $d")
    }
    // and the table really is ln(m) at index m (1-based in both engines)
    assert(SummarizeOps.LnTable(0) == 0.0)
    assert(SummarizeOps.LnTable(1) == math.log(2.0))
  }

  test("scoreSentencesSklearnFixed fails loudly beyond the declared domain") {
    // a doc with LnTableMax+1 sentences needs ln(LnTableMax+2) — outside
    // the shared table; the engine must raise, not silently degrade to a
    // formulation the oracle can't hash-match
    val rows = (0 until SummarizeOps.LnTableMax + 1)
      .map(i => (1L, i.toLong, s"alpha beta w$i"))
    val sents = rows.toDF("doc_id", "sentence_id", "sentence")
    val e = intercept[Exception] {
      SummarizeOps.scoreSentencesSklearnFixed(sents)
        .write.format("noop").mode("overwrite").save()
    }
    graft.CacheScope.releaseAll()
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("declared domain")),
      s"expected domain error, got: ${e.getMessage}")
  }
}
