package graft

import org.apache.spark.sql.functions._

/** Behavioral tests for the composite curation flow on synthetic corpora
  * (exercises cases the clean fixture can't: PII, junk, exact and
  * near duplicates).
  */
class CurationPipelineSpec extends SparkSpec {
  import sqlImplicits._

  test("q89 curriculum order: positions are a 1..N permutation, bins are " +
      "non-decreasing, and the shard decomposition matches a global sort") {
    val out = graft.queries.CurationQueries
      .q89CurriculumOrder(spark, "/root/testdata/sf0.001")
      .collect()
    CacheScope.releaseAll()
    val n = out.length
    assert(n > 0)
    assert(out.map(_.getAs[Long]("pos")).toSet == (1L to n).toSet)
    val byPos = out.sortBy(_.getAs[Long]("pos"))
    assert(byPos.sliding(2).forall(p =>
      p(0).getAs[Long]("bin") <= p(1).getAs[Long]("bin")))
    // the two-level prefix-sum position == rank in a plain global sort
    val want = out.sortBy(r => (r.getAs[Long]("bin"), r.getAs[Long]("skey"),
      r.getAs[Long]("doc_id"))).zipWithIndex
      .map { case (r, i) => r.getAs[Long]("doc_id") -> (i + 1L) }.toMap
    assert(out.forall(r =>
      want(r.getAs[Long]("doc_id")) == r.getAs[Long]("pos")))
  }

  test("q68b approx thresholds land within the published rank-error " +
      "window of the exact percentiles") {
    val dir = "/root/testdata/sf0.01"
    val sorted = Tables.documents(spark, dir)
      .select(graft.ops.TextAnalysisOps.wsTokenCount(col("text")).as("n"))
      .collect().map(_.getLong(0)).sorted
    val n = sorted.length
    val bounds = Tables.documents(spark, dir)
      .select(graft.ops.TextAnalysisOps.wsTokenCount(col("text")).as("n"))
      .agg(
        percentile_approx(col("n"), lit(0.25),
          lit(graft.queries.CurationQueries.PctAccuracy)).as("lo"),
        percentile_approx(col("n"), lit(0.75),
          lit(graft.queries.CurationQueries.PctAccuracy)).as("hi"))
      .head()
    // Greenwald-Khanna guarantee: the returned element's rank is within
    // n / accuracy of the target rank (+1 slack for the discrete
    // floor/ceil at the boundary)
    val slack = n / graft.queries.CurationQueries.PctAccuracy + 1
    for ((p, got) <- Seq(0.25 -> bounds.getLong(0), 0.75 -> bounds.getLong(1))) {
      val lo = sorted.indexOf(got)      // first rank holding the value
      val hi = sorted.lastIndexOf(got)  // last rank holding the value
      assert(lo >= 0, s"approx p=$p returned $got, not an element of the column")
      val target = p * (n - 1)
      assert(target >= lo - slack && target <= hi + slack,
        s"p=$p: value $got spans ranks [$lo,$hi], target $target, slack $slack")
    }
    // and the q68b relation itself: same shape as q68, thresholds applied
    val out = graft.queries.CurationQueries
      .q68bAdaptiveLengthApprox(spark, dir).collect()
    CacheScope.releaseAll()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getLong(1) >= bounds.getLong(0) &&
      r.getLong(1) <= bounds.getLong(1)))
  }

  test("DSIR weights rank target-like docs above raw-like docs") {
    // target vocab T, raw vocab R, one held-out doc per side: the
    // T-speaking doc must outscore the R-speaking doc, because its
    // feature buckets carry target mass
    val t = "alpha beta gamma delta epsilon zeta eta theta"
    val r = "one two three four five six seven eight"
    val docs = ((1L to 8L).map(i => (i, t, true)) ++
      (9L to 16L).map(i => (i, r, false)) ++
      Seq((17L, t, false), (18L, r, false)))
      .toDF("doc_id", "text", "is_t")
    val out = graft.ops.TextAnalysisOps
      .dsirWeights(docs, col("is_t"), 1024)
      .collect().map(row => row.getLong(0) -> row.getLong(2)).toMap
    CacheScope.releaseAll()
    assert(out(17L) > out(18L),
      s"target-like ${out(17L)} should beat raw-like ${out(18L)}")
    // zero-token docs carry zeros
    val empty = graft.ops.TextAnalysisOps
      .dsirWeights(Seq((1L, "", false)).toDF("doc_id", "text", "is_t"),
        col("is_t"), 64).collect()
    CacheScope.releaseAll()
    assert(empty.map(row => (row.getLong(1), row.getLong(2))).toSeq ==
      Seq((0L, 0L)))
  }

  test("DSIR selection keeps at least the quantile, ties included, " +
      "threshold-clean") {
    val dir = "/root/testdata/sf0.001"
    val all = graft.queries.CurationQueries.q97DsirWeights(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val kept = graft.queries.CurationQueries.q97bDsirSelect(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    CacheScope.releaseAll()
    val k = (all.size * graft.queries.CurationQueries.DsirKeepPct + 99) / 100
    assert(kept.size >= k, s"kept ${kept.size} < quantile $k")
    assert(kept.size < all.size, "degenerate: selection kept everything")
    val dropped = all.keySet -- kept.keySet
    val minKept = kept.values.min
    assert(dropped.forall(d => all(d) < minKept),
      "a dropped doc outscored a kept doc")
    assert(kept.forall { case (id, s) => all(id) == s })
  }

  test("curate: redacts PII, drops junk, removes exact and near duplicates") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val docs = Seq(
      (1L, base),                                  // survives
      (2L, base),                                  // exact dup of 1 -> dropped
      (3L, base + " kilo"),                        // near-dup of 1 (J > .5) -> dropped
      (4L, "zz xx"),                               // too few tokens -> dropped
      (5L, "one two three four five six seven"),   // survives
      (6L, "mail me at a.user@example.com please somebody somewhere today"))
      .toDF("doc_id", "text")
    val out = CurationPipeline.curate(docs).orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 5L, 6L))
    val redacted = out.find(_.getLong(0) == 6L).get.getString(1)
    assert(redacted.contains("<EMAIL>") && !redacted.contains("example.com"))
  }

  test("curate equals the Filter-gated reference, null text and docs " +
      "exactly at each quality threshold included") {
    import graft.ops.{TextAnalysisOps, TextOps}
    // stages 1-3 with the quality gate as a `.where`, the formulation the
    // generator drop replaced
    def filtered(docs: org.apache.spark.sql.DataFrame) = {
      val toked = docs.select(col("doc_id"),
          TextAnalysisOps.redactPii(col("text")).as("text"))
        .select(col("doc_id"), col("text"),
          TextOps.tokenize(col("text")).as("toks"))
      toked.select((Seq(col("doc_id"), col("text"), col("toks")) ++
          TextAnalysisOps.qualityColumns(col("text"), col("toks"))): _*)
        .where(TextAnalysisOps.qualityPass)
        .withColumn("content_key", graft.ops.HashOps.contentKey(col("text")))
        .withColumn("canonical_id", min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("content_key")))
        .where(col("doc_id") === col("canonical_id"))
        .select("doc_id", "text", "toks")
    }
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val docs = Seq(
      (1L, base),
      (2L, base),                                  // exact dup
      (3L, base + " kilo"),                        // near dup
      (10L, "aa bb cc dd ee"),                     // n_tokens = 5: pass
      (11L, "aa bb cc dd"),                        // n_tokens = 4: fail
      (12L, "ff ff ff ff ff gg gg gg gg gg"),      // ttr = 0.2: pass
      (13L, "ff ff ff ff ff gg gg gg gg gg gg"),   // ttr < 0.2: fail
      (14L, "a! b! c! d! eeeeeeee"),               // non-alnum = 0.2: pass
      (15L, "a! b! c! d! eeeeeee!"),               // non-alnum = 0.25: fail
      (16L, "the and of at in is it that was zebra"), // stopwords = 0.9: pass
      (17L, "the and of at in is it that was was"),   // stopwords = 1.0: fail
      (18L, "call +1 (555) 010-9999 or mail a.b@c.org now"), // redacted
      (19L, null),
      (20L, ""))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().toSeq
    val got = rows(CurationPipeline.curate(docs))
    assert(got == rows(CurationPipeline.curateFrom(filtered(docs))))
    assert(got.map(_.getLong(0)) == Seq(1L, 10L, 12L, 14L, 16L, 18L))
  }

  test("curateObserved collects input/output counters in the same action") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val docs = Seq(
      (1L, base),
      (2L, base),                                  // exact dup -> dropped
      (4L, "zz xx"),                               // junk -> dropped
      (5L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val (out, obsIn, obsOut) = CurationPipeline.curateObserved(docs)
    val rows = out.collect()                        // the ONE action
    val expectedTokens = rows.map(_.getAs[Long]("n_tokens")).sum
    assert(obsIn.get("n_docs") == 4L)
    assert(obsOut.get("n_docs") == rows.length.toLong)
    assert(obsOut.get("n_tokens") == expectedTokens)
    CacheScope.releaseAll()
  }

  test("curateBestInCluster keeps the richest member, labels by min id") {
    // chain 1-2-3 is one cluster (label 1); doc 2 has the most DISTINCT
    // tokens so it is kept over the earlier-crawled doc 1; doc 4 is a
    // singleton; docs 5/6 tie on richness -> min id wins
    def toks(s: String) = s.split(" ").toSeq
    val exact = Seq(
      (1L, "a b a b", toks("a b a b")),
      (2L, "a b c d", toks("a b c d")),
      (3L, "a b c", toks("a b c")),
      (4L, "solo doc", toks("solo doc")),
      (5L, "x y", toks("x y")),
      (6L, "y x", toks("y x")))
      .toDF("doc_id", "text", "toks")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = CurationPipeline.curateBestInCluster(exact, pairs)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(kept === Seq((2L, 1L, 3L), (4L, 4L, 1L), (5L, 5L, 2L)))
  }

  test("curate keeps near-duplicate-free corpora intact") {
    val docs = Seq(
      (1L, "aa bb cc dd ee ff gg"),
      (2L, "hh ii jj kk ll mm nn"),
      (3L, "oo pp qq rr ss tt uu"))
      .toDF("doc_id", "text")
    assert(CurationPipeline.curate(docs).count() == 3)
  }

  test("near-dup drop is deterministic: larger id of each pair goes") {
    val t = "w1 w2 w3 w4 w5 w6 w7 w8"
    val docs = Seq((10L, t), (7L, t + " w9")).toDF("doc_id", "text")
    val kept = CurationPipeline.curate(docs).collect().map(_.getLong(0)).toSet
    assert(kept == Set(7L)) // 10 near-dups the smaller id 7 -> dropped
  }

  // --- q58 two-level prefix sum ------------------------------------------

  /** Naive per-source single-partition cumsum — the formulation the
    * sharded path must reproduce bit-for-bit.
    */
  private def naivePack(t: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.withColumn("start_offset", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("bin_id",
        floor(col("start_offset") / graft.queries.CurationQueries.PackBudget)
          .cast("long"))
  }

  test("packStartOffsets equals naive window on a 90%-skewed source") {
    // 1 source owns 90% of rows; non-contiguous ids, varying token counts
    val rows =
      (0 until 900).map(i => (i * 7L + 3, "web", (i % 13 + 1).toLong)) ++
      (0 until 60).map(i => (i * 11L, "books", (i % 5 + 1).toLong)) ++
      (0 until 40).map(i => (i * 3L + 1, "code", (i % 9 + 2).toLong))
    val t = rows.toDF("doc_id", "source", "n_tokens")
    val got = graft.queries.CurationQueries.packStartOffsets(t, 8)
      .orderBy("source", "doc_id").collect().map(_.toSeq).toSeq
    val want = naivePack(t).select("doc_id", "source", "n_tokens",
      "start_offset", "bin_id").orderBy("source", "doc_id")
      .collect().map(_.toSeq).toSeq
    CacheScope.releaseAll()
    assert(got == want)
  }

  test("runningOffsets with a non-id fill order equals the naive window, " +
      "including massive equal-key ties") {
    // the q106 shape: ord = -quality with HEAVY ties (many rows share one
    // quality value) — the generalized prefix sum is only correct if
    // equal ord keys always land in one shard and the (ord, doc_id)
    // within-shard sort matches the reference window's total order
    val rows =
      (0 until 400).map(i => (i.toLong, "web", (i % 7 + 1).toLong,
        -(i % 3).toLong)) ++ // only 3 distinct ord values over 400 rows
      (0 until 50).map(i => (1000L + i, "code", (i % 5 + 1).toLong,
        -(i % 11).toLong))
    val t = rows.toDF("doc_id", "source", "n_tokens", "ord")
    val got = graft.queries.CurationQueries.runningOffsets(t, 8)
      .select("doc_id", "source", "start_offset")
      .orderBy("source", "doc_id").collect().map(_.toSeq).toSeq
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("ord", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = t.withColumn("start_offset",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select("doc_id", "source", "start_offset")
      .orderBy("source", "doc_id").collect().map(_.toSeq).toSeq
    CacheScope.releaseAll()
    assert(got == want)
  }

  test("packStartOffsets handles single-doc sources and shards > rows") {
    val t = Seq((42L, "solo", 7L), (1L, "pair", 3L), (9L, "pair", 5L))
      .toDF("doc_id", "source", "n_tokens")
    val got = graft.queries.CurationQueries.packStartOffsets(t, 32)
      .orderBy("source", "doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSeq
    CacheScope.releaseAll()
    assert(got == Seq((1L, "pair", 0L), (9L, "pair", 3L), (42L, "solo", 0L)))
  }

  test("packStartOffsets equals naive window under pathological id clustering") {
    // the documented balance assumption is ids spread "roughly evenly over
    // their span"; this locks the CORRECTNESS claim when that assumption
    // is maximally violated: outlier ids stretch the span so that nearly
    // every row lands in ONE shard's range. Shard sizes skew (bounded by
    // one shard's slice), but the composed prefix sum must stay
    // bit-identical to the naive per-source window.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val sourceGen = for {
      n <- Gen.choose(5, 120)
      span <- Gen.choose(100000L, 10000000L)
      clusterAt <- Gen.choose(0L, span - 200)
      // ids packed into a 200-wide window inside a huge span, plus the
      // two outliers that define the span
      ids <- Gen.listOfN(n, Gen.choose(clusterAt, clusterAt + 199))
    } yield (0L +: span +: ids.distinct).distinct
    val corpusGen = Gen.listOfN(3, sourceGen)
    val corpora = Gen.listOfN(5, corpusGen)
      .apply(Gen.Parameters.default, Seed(2026L)).get
    corpora.foreach { sources =>
      val rows = sources.zipWithIndex.flatMap { case (ids, s) =>
        ids.map(id => (id, s"src$s", id % 17 + 1))
      }
      val t = rows.toDF("doc_id", "source", "n_tokens")
      val got = graft.queries.CurationQueries.packStartOffsets(t, 8)
        .orderBy("source", "doc_id").collect().map(_.toSeq).toSeq
      val want = naivePack(t).select("doc_id", "source", "n_tokens",
        "start_offset", "bin_id").orderBy("source", "doc_id")
        .collect().map(_.toSeq).toSeq
      CacheScope.releaseAll()
      assert(got == want)
    }
  }

  test("packStartOffsets spreads a big source across multiple shard tasks") {
    // the point of the reformulation: no single task scans a whole source
    val t = (0 until 1000).map(i => (i.toLong, "web", 1L))
      .toDF("doc_id", "source", "n_tokens")
    val bounds = t.groupBy("source")
      .agg(min("doc_id").as("min_id"), max("doc_id").as("max_id"))
    val shards = t.join(broadcast(bounds), "source")
      .select(least(lit(7), floor((col("doc_id") - col("min_id"))
        .cast("double") * 8 /
        (col("max_id") - col("min_id") + 1).cast("double"))).as("shard"))
      .distinct().count()
    assert(shards == 8)
  }
}
