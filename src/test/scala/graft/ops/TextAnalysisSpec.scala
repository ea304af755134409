package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Golden micro-fixtures for TextAnalysisOps + HashOps (language ID,
  * quality signals, token counting, portable hashing).
  */
class TextAnalysisSpec extends SparkSpec {
  import sqlImplicits._

  test("gopherRules: line and symbol rules fire on handcrafted docs " +
      "(the fixture corpus cannot exercise them — no newlines/glyphs)") {
    val docs = Seq(
      // 1: clean prose, passes everything but word count (< 50 words)
      (1L, "the cat sat on the mat and that was that with some more " +
        "plain words to read"),
      // 2: bullet-heavy — 3 of 4 lines bullet-started (> 10%)
      (2L, "- alpha item\n- beta item\n- gamma item\nplain closing line"),
      // 3: ellipsis-heavy — both lines ellipsis-ended (> 30%)
      (3L, "this trails off...\nand this one too…"),
      // 4: symbol-heavy — ### and ... push symbols*10 > words
      (4L, "### heading ### more ... hash # tags"),
      // 5: numeric soup — < 80% words alphabetic
      (5L, "12 34 56 78 90 11 22 33 44 word")
    ).toDF("doc_id", "text")
    val out = TextAnalysisOps.gopherRules(docs).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 2: n_lines=4, bullet lines=3 -> 30 > 4 fails r_bullet_lines
    assert(out(2L).getAs[Long]("n_bullet_lines") == 3L)
    assert(out(2L).getAs[Long]("r_bullet_lines") == 0L)
    // doc 3: 2 lines, both ellipsis-ended -> 20 > 6 fails
    assert(out(3L).getAs[Long]("n_ellipsis_lines") == 2L)
    assert(out(3L).getAs[Long]("r_ellipsis_lines") == 0L)
    // doc 4: 7 '#' + 1 '...' = 8 marks vs 8 words -> 80 > 8 fails
    assert(out(4L).getAs[Long]("n_symbol_marks") == 8L)
    assert(out(4L).getAs[Long]("r_symbol_ratio") == 0L)
    // doc 5: 1 alpha word of 10 -> 5 < 40 fails
    assert(out(5L).getAs[Long]("r_alpha_words") == 0L)
    // doc 1: all content rules pass, word count fails (17 words < 50)
    assert(out(1L).getAs[Long]("r_mean_word_len") == 1L)
    assert(out(1L).getAs[Long]("r_stop_words") == 1L)
    assert(out(1L).getAs[Long]("r_alpha_words") == 1L)
    assert(out(1L).getAs[Long]("r_word_count") == 0L)
    assert(out(1L).getAs[Long]("keep") == 0L)
    // every doc fails at least one rule -> keep all zero
    assert(out.values.forall(_.getAs[Long]("keep") == 0L))
  }

  test("bigramSurprisal matches hand-computed conditional log2 buckets") {
    // corpus bigrams: (a,b)x3, (b,a)x1, (b,c)x1; left-context mass a=3 b=2
    // s(a,b) = bitlen(3)-bitlen(3) = 0; s(b,a) = bitlen(2)-bitlen(1) = 1;
    // s(b,c) = 1
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x")).toDF("doc_id", "text")
    val out = TextAnalysisOps.bigramSurprisal(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    graft.CacheScope.releaseAll()
    assert(out(1L).getAs[Long]("n_bigrams") == 3L)
    assert(out(1L).getAs[Long]("sum_surprisal") == 1L) // 2*0 + 1*1
    assert(out(1L).getAs[Long]("max_surprisal") == 1L)
    assert(out(2L).getAs[Long]("n_bigrams") == 2L)
    assert(out(2L).getAs[Long]("sum_surprisal") == 1L) // 0 + 1
    assert(out(3L).getAs[Long]("n_bigrams") == 0L)
    assert(out(3L).getAs[Long]("sum_surprisal") == 0L)
    assert(out(3L).getAs[Long]("max_surprisal") == 0L)
  }

  test("crossSurprisal exercises all three smoothing branches") {
    // model "a b a c": bt {(a,b):1,(b,a):1,(a,c):1}; ut {a:2,b:1}; B=3
    val model = Seq((100L, "a b a c")).toDF("doc_id", "text")
    val scored = Seq(
      (1L, "a b"), // seen: s = bitlen(2)-bitlen(1) = 1
      (2L, "b c"), // known ctx, unseen bigram: s = bitlen(1)+1 = 2
      (3L, "z z"), // unknown ctx: s = bitlen(3)+1 = 3
      (4L, "q")    // no bigrams -> zeros
    ).toDF("doc_id", "text")
    val out = TextAnalysisOps.crossSurprisal(model, scored).collect()
      .map(r => r.getLong(0) -> r).toMap
    graft.CacheScope.releaseAll()
    assert(out(1L).getAs[Long]("sum_surprisal") == 1L)
    assert(out(1L).getAs[Long]("n_unseen") == 0L)
    assert(out(2L).getAs[Long]("sum_surprisal") == 2L)
    assert(out(2L).getAs[Long]("n_unseen") == 1L)
    assert(out(2L).getAs[Long]("n_unknown_ctx") == 0L)
    assert(out(3L).getAs[Long]("sum_surprisal") == 3L)
    assert(out(3L).getAs[Long]("n_unseen") == 1L)
    assert(out(3L).getAs[Long]("n_unknown_ctx") == 1L)
    assert(out(4L).getAs[Long]("n_bigrams") == 0L)
    assert(out(4L).getAs[Long]("max_surprisal") == 0L)
  }

  test("charHash matches the hand-computed polynomial fold") {
    // h("cat") = ((((7*31+99)%P)*31+97)%P)*31+116 % P
    var h = 7L
    for (c <- "cat") h = (h * 31 + c.toLong) % HashOps.P
    val got = Seq("cat").toDF("s")
      .select(HashOps.charHash(col("s"))).head().getLong(0)
    assert(got == h)
    assert(got == 306799L) // cross-checked against DuckDB list_reduce
  }

  test("rollingFingerprint is order-sensitive") {
    val df = Seq((1L, Seq("a", "b")), (2L, Seq("b", "a"))).toDF("doc_id", "toks")
    val fps = df.select(HashOps.rollingFingerprint(col("toks")))
      .collect().map(_.getLong(0))
    assert(fps(0) != fps(1))
  }

  test("language ID picks the profile with most hits; ties go alphabetical") {
    val df = Seq(
      (1L, "the cat sat in the garden"),        // en x2 hits
      (2L, "der hund ist nicht hier"),          // de x3
      (3L, "xyz qqq zzz"))                      // all 0 -> tie -> de
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.tokenize(col("text")).as("toks"))
    val scores = TextAnalysisOps.langScores(col("toks"))
    val out = df.select(col("doc_id"),
      TextAnalysisOps.predLang(scores).as("pred")).orderBy("doc_id")
      .collect().map(_.getString(1))
    assert(out.toSeq == Seq("en", "de", "de"))
  }

  test("quality columns compute exact counts and ratios") {
    val df = Seq((1L, "aa bb aa !!")).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), TextOps.tokenize(col("text")).as("toks"))
    val r = df.select((col("doc_id") +:
      TextAnalysisOps.qualityColumns(col("text"), col("toks"))): _*).head()
    assert(r.getAs[Long]("n_chars") == 11)
    assert(r.getAs[Long]("n_tokens") == 4)
    assert(r.getAs[Long]("n_distinct_tokens") == 3)
    assert(r.getAs[Double]("type_token_ratio") == 0.75)
    assert(r.getAs[Double]("mean_token_len") == 2.0)
    assert(r.getAs[Double]("non_alnum_ratio") == 2.0 / 11)
  }

  test("stopword count is one hash-set lookup per token; case folds, " +
      "null tokens are not counted") {
    // over a Range, not a local Seq: ConvertToLocalRelation would evaluate
    // the projection away before the plan could be inspected
    val plan = spark.range(1)
      .select(concat(lit("The cats "), col("id").cast("string")).as("text"))
      .select(col("text"), TextOps.tokenize(col("text")).as("toks"))
      .select(TextAnalysisOps.qualityColumns(col("text"), col("toks")): _*)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("INSET"), plan)
    // UPPER, Title and lower stop words count; a null token and a
    // non-stop word do not — the same count as the array_contains scan
    val toks = array(lit("THE"), lit("Of"), lit(null).cast("string"),
      lit("the"), lit("cats"))
    val r = Seq(1L).toDF("doc_id")
      .select(lit("THE Of the cats").as("text"), toks.as("toks"))
      .select(
        (TextAnalysisOps.qualityColumns(col("text"), col("toks")) :+
          size(filter(col("toks"), t =>
            array_contains(typedlit(TextOps.StopWords), lower(t)))).as("scan")
        ): _*).head()
    assert(r.getAs[Long]("n_tokens") == 5)
    assert(r.getAs[Int]("scan") == 3)
    assert(r.getAs[Double]("stopword_ratio") == 3.0 / 5)
  }

  test("repetitionProfile computes Gopher char-fraction metrics exactly") {
    val df = Seq(
      (1L, "a b a b a b"),
      (2L, "It is raining today. It is raining today. It is raining today."),
      (3L, "tiny")).toDF("doc_id", "text")
    val out = TextAnalysisOps.repetitionProfile(df).orderBy("doc_id").collect()
    val r1 = out(0)
    // bigrams: "a b"x3 (len 3), "b a"x2 -> top 9 of 11 chars; no dup 5-grams
    assert(r1.getAs[Long]("n_chars") == 11)
    assert(r1.getAs[Long]("top_bigram_chars") == 9)
    assert(r1.getAs[Long]("dup_5gram_chars") == 0)
    assert(r1.getAs[Long]("n_sentences") == 1)
    assert(r1.getAs[Double]("dup_sentence_frac") == 0.0)
    assert(!r1.getAs[Boolean]("repetition_pass"))
    val r2 = out(1)
    // top bigram "raining today." x3 (len 14) = 42 chars of 62; all four
    // distinct 5-grams occur twice: 2*(23+23+28+27) = 202; 3 identical
    // sentences -> dup frac 2/3
    assert(r2.getAs[Long]("n_chars") == 62)
    assert(r2.getAs[Long]("top_bigram_chars") == 42)
    assert(r2.getAs[Long]("dup_5gram_chars") == 202)
    assert(r2.getAs[Long]("n_sentences") == 3)
    assert(r2.getAs[Double]("dup_sentence_frac") == 1.0 - 1.0 / 3)
    assert(!r2.getAs[Boolean]("repetition_pass"))
    val r3 = out(2)
    // too short for grams or sentences: all-zero profile passes
    assert(r3.getAs[Long]("top_bigram_chars") == 0)
    assert(r3.getAs[Long]("n_sentences") == 0)
    assert(r3.getAs[Boolean]("repetition_pass"))
    graft.CacheScope.releaseAll() // the op persists its staged tokens
  }

  test("qualityClassify sums hashed-bucket weights; empty doc scores 0") {
    // replicate the surrogate model by hand: w(tok) = (charHash % D % 17) - 8
    def h(s: String): Long = {
      var x = 7L
      for (c <- s) x = (x * 31 + c.toLong) % HashOps.P
      x
    }
    def w(tok: String): Long =
      h(tok) % TextAnalysisOps.ClassifierBuckets % 17 - 8
    val df = Seq((1L, "cat dog cat"), (2L, "")).toDF("doc_id", "text")
    val out = TextAnalysisOps.qualityClassify(
        df, TextAnalysisOps.classifierWeights(spark))
      .orderBy("doc_id").collect()
    val expected1 = 2 * w("cat") + w("dog")
    assert(out(0).getAs[Long]("score") == expected1)
    assert(out(0).getAs[Long]("n_features") == 3)
    assert(out(0).getAs[Boolean]("quality_label") == (expected1 >= 0))
    assert(out(1).getAs[Long]("score") == 0)
    assert(out(1).getAs[Long]("n_features") == 0)
    assert(out(1).getAs[Boolean]("quality_label"))
  }

  test("keywordSearch requires every term and ranks by total tf then id") {
    val df = Seq(
      (1L, "cat dog cat"),     // both terms, tf 3
      (2L, "cat cat cat"),     // missing dog
      (3L, "Dog cat dog dog"), // both (case-folded), tf 4 -> ranks first
      (4L, "dog CAT"),         // both, tf 2
      (5L, "bird")).toDF("doc_id", "text")
    val out = TextAnalysisOps.keywordSearch(df, Seq("cat", "Dog"), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((3L, 4L), (1L, 3L)))
  }

  test("rareTokenScrub replaces corpus-rare tokens in place") {
    val df = Seq(
      (1L, "alice likes spark"),   // ctf: alice 1, bob 1, likes 3, spark 4
      (2L, "bob likes spark"),
      (3L, "spark likes spark"),
      (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysisOps.rareTokenScrub(df, minCtf = 2L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 1L, "<RARE> likes spark"),
      (2L, 3L, 1L, "<RARE> likes spark"),
      (3L, 3L, 0L, "spark likes spark"),
      (4L, 0L, 0L, "")))
  }

  test("rankedSearch saturates tf, weights rarity, breaks ties by id") {
    // N=4: df(rare)=2, df(common)=2 -> equal weights 4*(3-2)+1 = 5.
    // doc2/doc3 saturate at tf cap 3 (score 15), tie broken by id;
    // doc1 matches both terms once (score 10); doc4 matches nothing.
    val df = Seq(
      (1L, "rare common"),
      (2L, "common common common common"),
      (3L, "rare rare rare rare"),
      (4L, "other words here")).toDF("doc_id", "text")
    val out = TextAnalysisOps.rankedSearch(
      df, Seq("rare", "common"), tfCap = 3, idfBoost = 4, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((2L, 15L, 1L), (3L, 15L, 1L), (1L, 10L, 2L)))
  }

  test("rankedSearch idf buckets rank a rare-term doc above a common-term doc") {
    // 8 docs: 'r' in one doc (w = 4*(4-1)+1 = 13), 'c' in four
    // (w = 4*(4-3)+1 = 5): one 'r' must outrank a saturated 'c' doc.
    val df = (Seq((1L, "r"), (2L, "c c c c c")) ++
      (3L to 8L).map(i => (i, if (i <= 5L) "c x" else "x y")))
      .toDF("doc_id", "text")
    val out = TextAnalysisOps.rankedSearch(
      df, Seq("r", "c"), tfCap = 3, idfBoost = 4, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((2L, 15L), (1L, 13L), (3L, 5L)))
  }

  test("phraseSearch matches only adjacent tokens, counting overlaps") {
    val df = Seq(
      (1L, "Table Scan table scan x"), // two occurrences (case-folded)
      (2L, "table x scan"),            // both terms but never adjacent
      (3L, "scan table"),              // wrong order
      (4L, "y table scan z")).toDF("doc_id", "text")
    val out = TextAnalysisOps.phraseSearch(df, Seq("table", "scan"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 2L), (4L, 1L)))
  }

  test("phraseSearch counts overlapping occurrences of a repeated token") {
    val df = Seq((1L, "a a a"), (2L, "a b a")).toDF("doc_id", "text")
    val out = TextAnalysisOps.phraseSearch(df, Seq("a", "a"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 2L))) // positions 0 and 1 both start "a a"
  }

  test("phraseSearch supports phrases longer than two tokens") {
    val df = Seq(
      (1L, "x full table scan plan full table scan"),
      (2L, "full table x scan")).toDF("doc_id", "text")
    val out = TextAnalysisOps.phraseSearch(
      df, Seq("full", "table", "scan"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 2L)))
  }

  test("BPE-ish token count splits letters, digits, symbols") {
    val df = Seq("ab12 cd!").toDF("text")
    val n = df.select(TextAnalysisOps.bpeTokenCount(col("text"))).head().getLong(0)
    // [ab][1][2][cd][!]
    assert(n == 5)
  }

  test("MinHash permutation coefficients are in range and distinct") {
    assert(HashOps.MinHashPerms.size == HashOps.MinHashK)
    assert(HashOps.MinHashPerms.forall { case (a, b) =>
      a >= 1 && a < HashOps.P && b >= 0 && b < HashOps.P })
    assert(HashOps.MinHashPerms.distinct.size == HashOps.MinHashK)
  }

  test("blocklistFilter: word boundaries, multi-word whitespace, case, null") {
    val df = Seq(
      (1L, "the Slow   scan ran twice slow scan again"), // 2 hits (multi-ws, case)
      (2L, "slowly scanning is fine"),                   // boundary: no hit
      (3L, "a dup appeared"),                            // single word hit
      (4L, null.asInstanceOf[String]),                   // null text
      (5L, "clean document here"))
      .toDF("doc_id", "text")
    val out = TextAnalysisOps.blocklistFilter(df, Seq("slow scan", "dup"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[String](2).toList,
        r.getBoolean(3)))
    assert(out(0) == ((1L, 2L, List("slow scan"), false)))
    assert(out(1) == ((2L, 0L, Nil, true)))
    assert(out(2) == ((3L, 1L, List("dup"), false)))
    assert(out(3) == ((4L, 0L, Nil, true)))
    assert(out(4) == ((5L, 0L, Nil, true)))
  }

  test("blocklistFilter rejects regex-unsafe phrases") {
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextAnalysisOps.blocklistFilter(df, Seq("a.*b"))
    }
    intercept[IllegalArgumentException] {
      TextAnalysisOps.blocklistFilter(df, Seq.empty)
    }
  }

  test("langFeatures column expression agrees with the driver twin, " +
      "including multi-byte profile words") {
    // every profile word of every language (zh exercises 3-byte code
    // points), plus casing and a 1-char token (no trigram window)
    val toks = TextAnalysisOps.LangProfiles.flatMap(_._2) ++
      Seq("The", "Über", "a")
    val staged = toks.toDF("tok")
      .select(lower(col("tok")).as("ltok"))
      .select(col("ltok"),
        concat(lit("<"), col("ltok"), lit(">")).as("p"))
    val rows = staged
      .select(col("ltok"),
        TextAnalysisOps.langFeatures(col("ltok"), col("p")).as("fs"))
      .collect()
    rows.foreach { r =>
      val got = r.getSeq[String](1)
      val want = TextAnalysisOps.langFeaturesOf(r.getString(0))
      assert(got == want, s"tok=<${r.getString(0)}>")
    }
  }

  test("hashed classifier weight rows are deterministic, bounded, and " +
      "bucket-consistent with the engine hash") {
    val rows = TextAnalysisOps.langWeightRows
    assert(rows.nonEmpty && rows.size < 1000,
      s"weight relation must stay broadcast-tiny, got ${rows.size}")
    assert(rows == TextAnalysisOps.langWeightRows) // stable
    assert(rows.forall { case (b, _, w) =>
      b >= 0 && b < TextAnalysisOps.ClassifierBuckets && w > 0 })
    // one spot bucket recomputed through the SQL-side fold
    val f = TextAnalysisOps.langFeaturesOf("the").head
    val viaCol = Seq(f).toDF("f")
      .select((HashOps.charHash(col("f")) %
        TextAnalysisOps.ClassifierBuckets).as("b"))
      .head().getLong(0)
    assert(rows.exists { case (b, l, _) => b == viaCol && l == "en" })
  }

  test("hashed classifier separates profile-built sentences by language") {
    // sentences stitched from each language's own profile words must
    // argmax to that language — the directional gate for q168 (its
    // hash-exactness is the oracle's job, its discrimination is this)
    val docs = TextAnalysisOps.LangProfiles.zipWithIndex.map {
      case ((lang, words), i) => (i.toLong, lang, words.mkString(" "))
    }.toDF("doc_id", "want", "text")
    import org.apache.spark.sql.functions.{broadcast, explode}
    val weights = spark.createDataset(TextAnalysisOps.langWeightRows)
      .toDF("bucket", "wlang", "weight")
    val feats = docs
      .select(col("doc_id"), explode(TextOps.tokenize(col("text"))).as("tok"))
      .select(col("doc_id"), lower(col("tok")).as("ltok"))
      .select(col("doc_id"), col("ltok"),
        concat(lit("<"), col("ltok"), lit(">")).as("p"))
      .select(col("doc_id"),
        explode(TextAnalysisOps.langFeatures(col("ltok"), col("p"))).as("f"))
      .select(col("doc_id"),
        (HashOps.charHash(col("f")) %
          TextAnalysisOps.ClassifierBuckets).as("bucket"))
    val langs = TextAnalysisOps.LangProfiles.map(_._1)
    val sums = langs.map(l =>
      sum(when(col("wlang") === l, col("weight")).otherwise(0L))
        .as(s"score_$l"))
    val pred = feats.join(broadcast(weights), Seq("bucket"), "left")
      .groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .withColumn("pred", TextAnalysisOps.predLang(
        langs.map(l => l -> col(s"score_$l"))))
      .select("doc_id", "pred")
    val got = pred.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.select("doc_id", "want").collect().foreach { r =>
      assert(got(r.getLong(0)) == r.getString(1),
        s"doc ${r.getLong(0)} want ${r.getString(1)} got ${got(r.getLong(0))}")
    }
  }

  test("tokenize(lower(text)) == map(lower, tokenize(text)) — the q118 " +
      "lowered-postings memo derivation is exact (fixture + unicode edges)") {
    import org.apache.spark.sql.functions._
    // lowercasing never creates or removes whitespace, so the whitespace
    // split commutes with it; exercised on the real fixture plus
    // handcrafted unicode edge cases (dotted capital I expands to two
    // code points under toLowerCase, German sharp-s, fullwidth forms)
    val edges = Seq((9001L, "İstanbul STRAßE  AＡa \tMiXeD"),
      (9002L, "ÉTÉ İİ x"))
    val fixture = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val docs = fixture.unionByName(edges.toDF("doc_id", "text"))
    val direct = TextOps.tokenize(lower(coalesce(col("text"), lit(""))))
    val derived = transform(
      TextOps.tokenize(coalesce(col("text"), lit(""))), t => lower(t))
    val bad = docs.where(not(direct <=> derived)).count()
    assert(bad == 0L, s"$bad docs where lower/tokenize do not commute")
  }
}
