package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-style tests (SURVEY.md §5.2): ScalaCheck generators produce a
  * deterministic batch of inputs (fixed seed), evaluated in ONE DataFrame
  * per property against a pure-Scala reimplementation of the reference's
  * Python semantics — generative coverage without per-case Spark jobs.
  */
class PropertySpec extends SparkSpec {
  import sqlImplicits._

  private val N = 300

  private def sample[A](g: Gen[A]): Seq[A] =
    Gen.listOfN(N, g).apply(Gen.Parameters.default, Seed(42L)).get

  private val wordGen: Gen[String] = for {
    len <- Gen.choose(1, 10)
    cs <- Gen.listOfN(len, Gen.alphaLowerChar)
  } yield cs.mkString

  /** Stop words in lower, UPPER and Title case: the stop filter matches
    * the lowered token, so the cased forms must drop too.
    */
  private val stopGen: Gen[String] = for {
    w <- Gen.oneOf(TextOps.StopWords)
    c <- Gen.oneOf(w, w.toUpperCase, w.capitalize)
  } yield c

  private val textGen: Gen[String] = for {
    n <- Gen.choose(0, 30)
    ws <- Gen.listOfN(n, Gen.oneOf(wordGen, stopGen))
    sep <- Gen.listOfN(math.max(n - 1, 0), Gen.oneOf(" ", "  ", " \t ", "\n"))
  } yield ws.zipAll(sep :+ "", "", "").map { case (w, s) => w + s }.mkString

  test("Bloom-prefiltered decontamination equals the exact formulation " +
      "on generated corpora") {
    // Small vocab + short docs force real shingle overlap across the
    // bench/train split; a tiny filter (high fpp) stresses that false
    // positives never survive the confirm join.
    val smallTextGen = for {
      n <- Gen.choose(0, 12)
      ws <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e", "f"))
    } yield ws.mkString(" ")
    val docs = sample(smallTextGen).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val toked = docs.toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.tokenize(col("text")).as("toks"))
    val sh = DedupOps.shingles(toked, 3)
    val isBench = col("doc_id") % 7 === 0
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().toSeq
    val exact = rows(DedupOps.contaminationScores(
      toked.where(!isBench), sh.where(!isBench), sh.where(isBench), 1L))
    val bloom = rows(DedupOps.contaminationScoresBloom(
      toked.where(!isBench), sh.where(!isBench), sh.where(isBench), 1L,
      expectedItems = 8L))
    assert(bloom == exact)
    assert(exact.exists(_.getBoolean(2)), "degenerate fixture: nothing contaminated")
  }

  test("rangeJoinBucketed equals the naive non-equi join on generated data") {
    // timestamps land on and around bucket boundaries (width 60s below)
    // at TRUE microsecond resolution — Timestamp(millis) alone would
    // collapse the ±1µs edges this exists to exercise; durations include
    // empty, 1µs, sub-bucket, exact-width, and multi-bucket
    def microTs(micros: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(micros / 1000000L * 1000L)
      t.setNanos(((micros % 1000000L) * 1000L).toInt)
      t
    }
    val base = 1700000000000000L // epoch micros
    val tsGen = for {
      sec <- Gen.choose(0L, 3600L)
      off <- Gen.oneOf(0L, 1L, 999999L, 500000L)
    } yield base + sec * 1000000L + off
    val durGen = Gen.oneOf(0L, 1L, 30L * 1000000L, 60L * 1000000L,
      150L * 1000000L, 600L * 1000000L)
    val probes = sample(tsGen).zipWithIndex
      .map { case (t, i) => (i.toLong, microTs(t)) }
    val ivs = sample(Gen.zip(tsGen, durGen)).zipWithIndex.take(100)
      .map { case ((s, d), i) => (1000L + i, microTs(s), microTs(s + d)) }
    val pDf = probes.toDF("event_id", "ts")
    val iDf = ivs.toDF("iv_id", "w_start", "w_end")
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("iv_id", "event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = keys(JoinOps.rangeJoinBucketed(
      pDf, iDf, "ts", "w_start", "w_end", widthSeconds = 60L))
    // keep the reference side naive: the session's extension-injected
    // rewrite rule is inert while its conf is unset and the join carries
    // no WidthTag, and a rewritten "naive" join would make this a
    // bucketed-vs-bucketed comparison
    spark.conf.unset(graft.plans.RangeJoinRewrite.BucketSecondsKey)
    val naive = keys(pDf.join(iDf,
      col("ts") >= col("w_start") && col("ts") < col("w_end")))
    assert(bucketed == naive)
    assert(naive.nonEmpty, "degenerate fixture: no containment pairs at all")
  }

  test("tokenize matches Python str.split() semantics on generated text") {
    val texts = sample(textGen)
    val got = texts.toDF("t")
      .select(TextOps.tokenize(col("t"))).collect().map(_.getSeq[String](0))
    texts.zip(got).foreach { case (t, g) =>
      assert(g == t.split("\\s+").filter(_.nonEmpty).toSeq, s"text=<$t>")
    }
  }

  test("cleanTokens: stop words and short tokens never survive; order is kept") {
    val texts = sample(textGen)
    val got = texts.toDF("t")
      .select(TextOps.cleanTokens(col("t"))).collect().map(_.getSeq[String](0))
    texts.zip(got).foreach { case (t, g) =>
      val expected = t.split("\\s+").filter(_.nonEmpty)
        .filter(w => w.length > 2 && !TextOps.StopWords.contains(w.toLowerCase))
      assert(g == expected.toSeq, s"text=<$t>")
    }
    assert(texts.exists(_.split("\\s+").exists(w => w.length > 2 &&
        w != w.toLowerCase && TextOps.StopWords.contains(w.toLowerCase))),
      "degenerate sample: no cased stop word long enough to reach the stop check")
  }

  test("truncateAtWordBoundary: bounded by maxLength+3, mirrors Python rsplit") {
    val texts = sample(textGen)
    val maxLen = 20
    val got = texts.toDF("t")
      .select(col("t"), TextOps.truncateAtWordBoundary(col("t"), maxLen))
      .collect().map(r => (r.getString(0), r.getString(1)))
    got.foreach { case (t, g) =>
      if (t.length <= maxLen) assert(g == t)
      else {
        val head = t.substring(0, maxLen)
        val expected = (if (head.contains(' ')) {
          val cut = head.substring(0, head.lastIndexOf(' '))
          // Python "a b ".rsplit(' ',1)[0] drops only the trailing piece
          cut
        } else head) + "..."
        assert(g == expected, s"text=<$t>")
        assert(g.length <= maxLen + 3)
      }
    }
  }

  test("summarization is identity for docs with <= k sentences") {
    val docs = sample(for {
      n <- Gen.choose(1, 16) // chunks of 8 words -> 1-2 sentences
      ws <- Gen.listOfN(n, wordGen)
    } yield ws.mkString(" ")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text")
    val out = SummarizeOps.extractiveSummary(
      df, SummarizeOps.chunks(df, 8), k = 2, " ", "")
      .select("doc_id", "summary").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.foreach { case (id, t) =>
      assert(out(id) == t, s"doc $id not identity")
    }
  }

  // Punctuated documents for the summary kernel: a five-word content
  // vocabulary forces repeated terms and score ties, a pool of three
  // sentences per doc repeats whole sentences, stop-word-only and
  // short-token sentences score 0, and non-ASCII words go through the same
  // lower/length rules. Null and empty texts and docs with fewer than k
  // sentences ride along.
  private val summaryWordGen: Gen[String] = Gen.frequency(
    5 -> Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon"),
    3 -> Gen.oneOf(TextOps.StopWords),
    1 -> Gen.oneOf("café", "Naïve", "ΩMEGA", "日本語文", "straße"),
    1 -> Gen.oneOf("x", "ab", "QZ"))

  private val summarySentenceGen: Gen[String] = for {
    n <- Gen.choose(1, 8)
    ws <- Gen.listOfN(n, summaryWordGen)
  } yield ws.mkString(" ")

  private val punctDocGen: Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(""),
    14 -> (for {
      n <- Gen.choose(0, 12)
      pool <- Gen.listOfN(3, summarySentenceGen)
      ss <- Gen.listOfN(n, Gen.frequency(1 -> Gen.oneOf(pool), 1 -> summarySentenceGen))
      ends <- Gen.listOfN(n, Gen.oneOf(".", "!", "?", "...", "?!"))
    } yield ss.zip(ends).map { case (t, e) => t + e }.mkString(" ")))

  private lazy val punctDocs = sample(punctDocGen).zipWithIndex
    .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  private def byDoc(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] =
    df.orderBy("doc_id").collect().toSeq

  test("summary kernel equals the relational chain on generated punctuated docs") {
    val refSents = RelationalSummary.sentences(punctDocs)
    assert(byDoc(SummarizeOps.sentences(punctDocs).orderBy("doc_id", "sentence_id")) ==
      byDoc(refSents.orderBy("doc_id", "sentence_id")))
    Seq(1, 2, 3, 7).foreach { k =>
      val ref = byDoc(RelationalSummary.extractiveSummary(punctDocs, refSents, k, ". ", "."))
      val adapter = byDoc(SummarizeOps.extractiveSummary(
        punctDocs, SummarizeOps.sentences(punctDocs), k, ". ", "."))
      val kernel = byDoc(SummarizeOps.summarize(punctDocs,
          SummarizeOps.sentenceArray(col("text")), k, ". ", ".")
        .select("doc_id", "n_sentences", "summary"))
      assert(adapter == ref, s"adapter, k=$k")
      assert(kernel == ref, s"kernel, k=$k")
      assert(ref.count(_.getLong(1) > k) > 20, s"degenerate corpus at k=$k")
      assert(ref.exists(_.isNullAt(2)) && ref.exists(_.getLong(1) == 0L))
    }
  }

  test("scoreSentences equals the relational chain, ties and sparse ids included") {
    // sentence ids need not be contiguous: the kernel orders by them
    val sents = RelationalSummary.sentences(punctDocs)
      .withColumn("sentence_id", col("sentence_id") * 3 + 5)
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "sentence_id")
        .as[(Long, Long, String, Long)].collect().toSeq
    val ref = scores(RelationalSummary.scoreSentences(sents))
    assert(scores(SummarizeOps.scoreSentences(sents)) == ref)
    val perDoc = ref.groupBy(_._1).values
    assert(perDoc.exists(ss => ss.map(_._4).distinct.size < ss.size), "no score ties")
    assert(ref.exists(_._4 == 0L), "no zero-score sentence")
  }

  test("chunk kernel equals the relational chunking and chunk summaries") {
    val docs = (sample(textGen) ++ Seq(null, "", "  \t ", "one"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    Seq(1, 3, 8).foreach { w =>
      val ref = RelationalSummary.chunks(docs, w)
      assert(SummarizeOps.chunks(docs, w).orderBy("doc_id", "sentence_id").collect().toSeq ==
        ref.orderBy("doc_id", "sentence_id").collect().toSeq, s"chunks, w=$w")
      val want = byDoc(RelationalSummary.extractiveSummary(docs, ref, 2, " ", ""))
      assert(byDoc(SummarizeOps.summarize(docs, SummarizeOps.chunkArray(col("text"), w),
        2, " ", "").select("doc_id", "n_sentences", "summary")) == want, s"summary, w=$w")
    }
  }

  test("compression ratio is in (0,1] for non-empty summaries no longer than text") {
    val rows = sample(for {
      t <- textGen.suchThat(_.nonEmpty)
      cut <- Gen.choose(1, t.length)
    } yield (t, t.substring(0, cut)))
    val out = rows.toDF("text", "summary")
      .select(MetricOps.compressionRatio(col("text"), col("summary")))
      .collect().map(_.getDouble(0))
    out.foreach(r => assert(r > 0.0 && r <= 1.0))
  }

  test("fallbackTags yields at most k distinct tags per doc, ranks contiguous") {
    val docs = sample(textGen).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val out = TagOps.fallbackTags(docs.toDF("doc_id", "text"), 5)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), countDistinct(col("tag")).as("nd"),
        max(col("tag_rank")).as("maxr"))
      .collect()
    out.foreach { r =>
      assert(r.getAs[Long]("n") <= 5)
      assert(r.getAs[Long]("n") == r.getAs[Long]("nd"))
      assert(r.getAs[Long]("maxr") == r.getAs[Long]("n"))
    }
  }

  test("charHash matches the pure-Scala polynomial fold on generated strings") {
    def model(s: String): Long = {
      var h = HashOps.Seed
      for (c <- s) h = (h * 31 + c.toLong) % HashOps.P
      h
    }
    val texts = sample(wordGen) ++ Seq("", "a", "zz")
    val got = texts.toDF("t")
      .select(HashOps.charHash(col("t"))).collect().map(_.getLong(0))
    texts.zip(got).foreach { case (t, g) =>
      assert(g == model(t), s"text=<$t>")
    }
  }

  test("native charHash agrees with the HOF fold across unicode planes") {
    // 2-byte (é), 3-byte (汉), and 4-byte astral (𝄞 U+1D11E) code points
    // plus generated ASCII — the native byte-walk and the split/ascii HOF
    // must fold identical code-point sequences
    val unicodeGen = for {
      n <- Gen.choose(0, 12)
      cs <- Gen.listOfN(n, Gen.oneOf(
        Gen.alphaNumChar.map(_.toString), Gen.oneOf("é", "ß", "汉", "字",
          "é", "你", new String(Character.toChars(0x1D11E)),
          new String(Character.toChars(0x1F600)), " ")))
    } yield cs.mkString
    val texts = sample(unicodeGen) ++ Seq("", "mixed é汉𝄞 tail")
    val rows = texts.toDF("t")
      .select(HashOps.charHash(col("t")).as("native"),
        HashOps.charHashHof(col("t")).as("hof"))
      .collect()
    texts.zip(rows).foreach { case (t, r) =>
      assert(r.getLong(0) == r.getLong(1), s"text=<$t>")
    }
  }

  test("fused contentKey agrees with the two-fold HOF across unicode planes") {
    val unicodeGen = for {
      n <- Gen.choose(0, 12)
      cs <- Gen.listOfN(n, Gen.oneOf(
        Gen.alphaNumChar.map(_.toString), Gen.oneOf("é", "ß", "汉", "字",
          "é", "你", new String(Character.toChars(0x1D11E)),
          new String(Character.toChars(0x1F600)), " ")))
    } yield cs.mkString
    val texts = sample(unicodeGen) ++ Seq("", "mixed é汉𝄞 tail")
    val rows = texts.toDF("t")
      .select(HashOps.contentKey(col("t")).as("native"),
        HashOps.contentKeyHof(col("t")).as("hof"),
        HashOps.charHash(col("t")).as("h1"))
      .collect()
    texts.zip(rows).foreach { case (t, r) =>
      assert(r.getLong(0) == r.getLong(1), s"text=<$t>")
      // the key's high fold IS charHash: key div P == h1
      assert(r.getLong(0) / HashOps.P == r.getLong(2), s"text=<$t>")
    }
  }

  test("duplicateClusters agrees with a union-find model on random graphs") {
    // one Spark job over 30 disjoint random graphs (25 nodes each, tagged
    // into separate id ranges) vs a pure-Scala union-find
    val graphs = (0 until 30).map { g =>
      val base = g * 100L
      val edgeGen = for {
        a <- Gen.choose(0, 24); b <- Gen.choose(0, 24) if a != b
      } yield (base + math.min(a, b), base + math.max(a, b))
      val edges = Gen.listOfN(18, edgeGen)
        .apply(Gen.Parameters.default, Seed(1000L + g)).get.distinct
      (base, edges)
    }
    val nodes = graphs.flatMap { case (base, _) => (0 until 25).map(base + _) }
    val edges = graphs.flatMap(_._2)
    // union-find model
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = nodes.map(n => n -> find(n)).toMap
    val got = DedupOps.duplicateClusters(
      nodes.toDF("doc_id"),
      edges.toDF("id_a", "id_b"), maxIters = 30)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)

    // the large-star/small-star contraction computes the same labels on
    // the same random graphs — two different algorithms, one fixpoint
    val star = DedupOps.duplicateClustersStar(
      nodes.toDF("doc_id"),
      edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == expected)
  }

  test("duplicateClustersStar handles high-diameter components in few rounds") {
    // a 61-node path: diameter 60, beyond propagation's default budget —
    // exactly the shape the contraction exists for. It must converge well
    // inside its default round budget and label everything with node 0.
    val n = 61
    val nodes = (0L until n.toLong).toDF("doc_id")
    val chain = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = DedupOps.duplicateClustersStar(nodes, chain, maxRounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == n && labels.values.forall(_ == 0L))
    // singleton docs (no edges at all) label themselves
    val lonely = DedupOps.duplicateClustersStar(
      Seq(7L, 9L).toDF("doc_id"),
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lonely == Map(7L -> 7L, 9L -> 9L))
  }

  test("exactDispersion stays exact at magnitudes where Int64 sums overflow") {
    // qi ~ 5e9: qi*qi ~ 2.5e19 > 2^63, so the naive Int64 sum-of-squares
    // formulation cannot even process ONE row under ANSI — while the
    // shifted DECIMAL(38) path must return the exact answer. The values
    // differ by ~10 on a 5e9 base: float accumulation would
    // catastrophically cancel; exact integer math yields a tiny integer
    // (n*sumd2 - sumd^2 = 372) from ~1e20-scale terms.
    val qis = Seq(5000000000L, 5000000003L, 4999999997L, 5000000010L)
    val df = qis.map(q => ("k", q)).toDF("key", "qi")
    val row = graft.queries.RelationalQueries.exactDispersion(
      df, "key", col("qi"), shift = 2500L, scale = 100.0).head()
    val n = qis.length
    val sumd = qis.map(q => BigInt(q - 2500)).sum
    val sumd2 = qis.map(q => BigInt(q - 2500) * BigInt(q - 2500)).sum
    val num = BigInt(n) * sumd2 - sumd * sumd
    assert(num == BigInt(372))
    val wantMean = (BigDecimal(sumd) / n + 2500).toDouble / 100.0
    val wantStd = math.sqrt(num.toDouble / (n.toLong * (n - 1))) / 100.0
    assert(row.getLong(1) == n)
    assert(math.abs(row.getDouble(2) - wantMean) < 1e-6)
    assert(math.abs(row.getDouble(3) - wantStd) < 1e-12)
    val e = intercept[Throwable] { df.agg(sum(col("qi") * col("qi"))).head() }
    def mentions(t: Throwable): Boolean = t != null &&
      (String.valueOf(t.getMessage).contains("ARITHMETIC_OVERFLOW") || mentions(t.getCause))
    assert(mentions(e), s"expected ARITHMETIC_OVERFLOW, got $e")
  }

  test("exactDispersion stays exact at magnitudes where Int64 squares overflow") {
    // Lock the DECIMAL(38,0) formulation at its design edge: |d| up to 1e17
    // (a single d*d = 1e34 overflows Int64 by 15 orders of magnitude) and
    // group sizes to 30, so n*sumd2 approaches but never exceeds the
    // DECIMAL(38) range ((n*V)^2 <= 9e36). The BigInt reference applies the
    // operator's own post-aggregation arithmetic — exact integer moments,
    // then single correctly-rounded toDouble casts and IEEE divisions — so
    // results must match bit-for-bit, not within a tolerance.
    val shift = 1000000000000000000L // 1e18: values cluster around it
    val V = 100000000000000000L // 1e17 max deviation
    val groupGen = for {
      n <- Gen.choose(2, 30)
      ds <- Gen.listOfN(n, Gen.choose(-V, V))
    } yield ds
    val groups = Gen.listOfN(40, groupGen)
      .apply(Gen.Parameters.default, Seed(1337L)).get
    val rows = groups.zipWithIndex.flatMap { case (ds, g) =>
      ds.map(d => (s"g$g", d + shift))
    }
    val got = graft.queries.RelationalQueries.exactDispersion(
      rows.toDF("key", "qi"), "key", col("qi"), shift = shift, scale = 100.0)
      .collect().map(r => r.getString(0) -> r).toMap
    groups.zipWithIndex.foreach { case (ds, g) =>
      val n = ds.length
      val sumd = ds.map(BigInt(_)).sum
      val sumd2 = ds.map(d => BigInt(d) * BigInt(d)).sum
      val num = BigInt(n) * sumd2 - sumd * sumd
      val wantMean = (sumd.toDouble / n + shift) / 100.0
      val wantStd =
        math.sqrt(num.toDouble / (BigInt(n) * BigInt(n - 1)).toDouble) / 100.0
      val r = got(s"g$g")
      assert(r.getLong(1) == n)
      assert(r.getDouble(2) == wantMean, s"mean drift in group g$g")
      assert(r.getDouble(3) == wantStd, s"stddev drift in group g$g")
    }
  }

  test("fallbackSummary picks first/middle/last in document order") {
    val sents = (0L until 7L).map(i => (1L, i, s"s$i")).toDF("doc_id", "sentence_id", "sentence")
    val out = SummarizeOps.fallbackSummary(sents).head().getString(1)
    assert(out == "s0. s3. s6.")
    val one = SummarizeOps.fallbackSummary(
      Seq((1L, 0L, "only")).toDF("doc_id", "sentence_id", "sentence"))
      .head().getString(1)
    assert(one == "only.")
  }

  test("contextChunks matches the pure-Scala sliding-window model") {
    val docs = sample(textGen).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val size = 7
    val stride = 4
    val got = TextAnalysisOps.contextChunks(
      docs.toDF("doc_id", "text"), size, stride)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    val want = docs.flatMap { case (id, text) =>
      val toks = text.split("\\s+").filter(_.nonEmpty)
      (0 until toks.length by stride).zipWithIndex.map { case (start, ci) =>
        val chunk = toks.slice(start, start + size)
        (id, ci.toLong) -> (start.toLong, chunk.length.toLong, chunk.mkString(" "))
      }
    }.toMap
    assert(got == want)
  }

  test("unigramRarity matches the pure-Scala corpus-count model") {
    val docs = sample(textGen).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    def toks(t: String) = t.split("\\s+").filter(_.nonEmpty).toSeq
    val corpus = docs.flatMap { case (_, t) => toks(t) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    def msb(n: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(n)
    val got = TextAnalysisOps.unigramRarity(docs.toDF("doc_id", "text"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    docs.foreach { case (id, t) =>
      val ts = toks(t)
      val want =
        if (ts.isEmpty) (0L, 0L, 0L, 0L, 0L, 0L)
        else (ts.size.toLong, ts.distinct.size.toLong,
          ts.count(corpus(_) == 1L).toLong,
          ts.count(corpus(_) <= TextAnalysisOps.RareMaxCtf).toLong,
          ts.map(corpus).min,
          ts.map(w => msb(corpus(w))).sum)
      assert(got(id) == want, s"doc $id")
    }
  }

  test("q17b approx_count_distinct stays within the HLL error bound") {
    // q17b is rows-only by design (sketches can't hash-match an oracle);
    // this gives the row a quantitative claim: on the fixture every
    // group's estimate is within 3x the configured relative standard
    // deviation (default rsd = 0.05) of the exact distinct count — the
    // published HLL++ guarantee holds at ~99.7% per estimate, and the
    // fixture values are deterministic so this never flakes.
    val dir = "/root/testdata/sf0.001"
    val approx = graft.queries.RelationalQueries
      .q17bApproxDistinct(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = graft.Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("parts"),
        countDistinct(col("l_orderkey")).as("orders"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(approx.keySet == exact.keySet && approx.nonEmpty)
    val maxRelErr = 3 * 0.05
    exact.foreach { case (flag, (eParts, eOrders)) =>
      val (aParts, aOrders) = approx(flag)
      assert(math.abs(aParts - eParts).toDouble / eParts < maxRelErr,
        s"$flag parts: approx=$aParts exact=$eParts")
      assert(math.abs(aOrders - eOrders).toDouble / eOrders < maxRelErr,
        s"$flag orders: approx=$aOrders exact=$eOrders")
    }
  }

  test("phraseSearch agrees with a brute-force window count on generated docs") {
    // tiny alphabet forces real adjacency collisions, including runs of
    // the same token (overlapping occurrences)
    val tinyDocGen = for {
      n <- Gen.choose(0, 14)
      ws <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
    } yield ws.mkString(" ")
    val docs = sample(tinyDocGen).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val phrase = Seq("a", "b")
    val got = TextAnalysisOps.phraseSearch(
      docs.toDF("doc_id", "text"), phrase, k = docs.size)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = docs.map { case (id, t) =>
      val toks = t.split("\\s+").filter(_.nonEmpty)
      id -> toks.indices.dropRight(1)
        .count(i => toks(i) == "a" && toks(i + 1) == "b").toLong
    }.filter(_._2 > 0).sortBy { case (id, n) => (-n, id) }
    assert(got == want)
  }

  test("containmentPairs equals direct set arithmetic on generated corpora") {
    val smallTextGen = for {
      n <- Gen.choose(0, 10)
      ws <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
    } yield ws.mkString(" ")
    val docs = sample(smallTextGen).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val n = 3
    def shingleSet(t: String): Set[String] = {
      val toks = t.split("\\s+").filter(_.nonEmpty)
      if (toks.length < n) Set.empty
      else toks.sliding(n).map(_.mkString(" ")).toSet
    }
    val sets = docs.map { case (id, t) => id -> shingleSet(t) }.toMap
    val toked = docs.toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.tokenize(col("text")).as("toks"))
    val got = DedupOps.containmentPairs(
      DedupOps.shingles(toked, n), minMicro = 400000L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(5)).toMap
    val want = (for {
      a <- docs.map(_._1); b <- docs.map(_._1)
      if a < b && sets(a).nonEmpty && sets(b).nonEmpty
      common = (sets(a) & sets(b)).size
      micro = math.floor(1000000.0 * common /
        math.min(sets(a).size, sets(b).size)).toLong
      if micro >= 400000L
    } yield (a, b) -> micro).toMap
    assert(got == want)
  }

  test("isqrtExact is exact on generated longs and double-rounding edges") {
    // The double sqrt seed rounds once values pass 2^52; the correction
    // must land on floor(sqrt(x)) exactly. Cover random magnitudes plus
    // the adversarial neighborhoods k²±1 around large perfect squares.
    val magGen = Gen.choose(0, 61).flatMap(b =>
      Gen.choose(0L, (1L << b) max 1L))
    val edgeGen = for {
      k <- Gen.choose((1L << 26) - 3, (1L << 31) - 2)
      d <- Gen.oneOf(-1L, 0L, 1L)
    } yield (k * k + d) max 0L
    val xs = (sample(magGen) ++ sample(edgeGen)).distinct
    val got = xs.toDF("x")
      .select(col("x"),
        graft.queries.CurationQueries.isqrtExact(col("x")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    xs.foreach { x =>
      val s = got(x)
      assert(s * s <= x && (s + 1) * (s + 1) > x,
        s"isqrtExact($x) = $s is not the integer square root")
    }
  }

  test("sweep-identity overlap counts equal the O(n²) reference on " +
      "adversarial random intervals (ties, nesting, duplicates)") {
    val rnd = new scala.util.Random(11)
    // small time domain forces heavy ties — the case the 2t/2t+1
    // position encoding exists for
    val ivs = (0 until 240).map { i =>
      val a = rnd.nextInt(40).toLong
      val b = a + rnd.nextInt(12).toLong // zero-length allowed
      (s"t${i % 3}", i.toLong, a, b)
    }
    val df = ivs.toDF("event_type", "user_id", "t0", "t1")
    val got = graft.queries.EventQueries.overlapCounts(df)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    ivs.foreach { case (ty, id, a, b) =>
      val expect = ivs.count { case (ty2, id2, a2, b2) =>
        ty2 == ty && id2 != id && a2 <= b && b2 >= a
      }
      assert(got((ty, id)) == expect, s"interval ($ty,$id,[$a,$b])")
    }
  }

  test("SCD2 run building matches a naive per-doc scan on random " +
      "presence/text version patterns") {
    val rnd = new scala.util.Random(23)
    // random 3-version lifecycle per doc: present?, which text variant
    val docs = (0 until 120).map { i =>
      (i.toLong, (1 to 3).map(v =>
        (rnd.nextBoolean(), s"v${rnd.nextInt(2)}")))
    }
    // engine-side: replay the q71b window chain over synthetic rows
    import org.apache.spark.sql.expressions.Window
    val rows = docs.flatMap { case (id, vs) =>
      vs.zipWithIndex.collect { case ((true, t), vi) => (id, (vi + 1).toLong, t) }
    }
    val vdf = rows.toDF("doc_id", "v", "t")
    val byDoc = Window.partitionBy("doc_id").orderBy("v")
    val run = byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val got = vdf
      .withColumn("new_run",
        when(lag(col("v"), 1).over(byDoc).isNull, 1L)
          .when(col("v") - lag(col("v"), 1).over(byDoc) > 1, 1L)
          .when(col("t") =!= lag(col("t"), 1).over(byDoc), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum(col("new_run")).over(run))
      .groupBy(col("doc_id"), col("run_id"))
      .agg(min(col("v")).as("vf"), max(col("v")).as("vt"),
        first(col("t")).as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .toSet
    // naive reference: walk each doc's versions, break runs on gaps or
    // text changes
    val expect = docs.flatMap { case (id, vs) =>
      val present = vs.zipWithIndex.collect {
        case ((true, t), vi) => (vi + 1, t)
      }
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
      present.foreach { case (v, t) =>
        runs.lastOption match {
          case Some((f, l, lt)) if v == l + 1 && t == lt =>
            runs(runs.length - 1) = (f, v, t)
          case _ => runs += ((v, v, t))
        }
      }
      runs.map { case (f, l, _) => (id, f.toLong, l.toLong) }
    }.toSet
    assert(got == expect)
  }

  test("bucketChecksums marks EXACTLY the mutated buckets dirty on random " +
    "corpora and mutation sets") {
    // 20 disjoint corpora (tagged id ranges, one Spark job): random base
    // docs, then a random mutation set per corpus — updates, deletes,
    // inserts. dirty(bucket) must equal "some mutation touched a doc_id
    // in that bucket" exactly: a clean bucket hiding a change is a
    // soundness bug; a dirty bucket with no change is a completeness bug
    // (XOR collisions could in principle cause the former at ~2^-64 —
    // the seed is fixed, so this is deterministic, and it passes).
    val nB = 40L  // corpora overlap in buckets; the union equality stays exact
               // while ~a third of buckets remain clean to witness soundness
    val cases = (0 until 20).map { g =>
      val base = g * 1000L
      val docsGen = for {
        n <- Gen.choose(4, 40)
        ids <- Gen.pick(n, 0 until 200)
      } yield ids.map(i => (base + i, s"doc $i of corpus $g")).toSeq
      val docs = docsGen.apply(Gen.Parameters.default, Seed(100L + g)).get
      val mutGen = for {
        nUp <- Gen.choose(0, 3)
        ups <- Gen.pick(math.min(nUp, docs.size), docs.map(_._1))
        nDel <- Gen.choose(0, 2)
        dels <- Gen.pick(math.min(nDel, docs.size), docs.map(_._1))
        nIns <- Gen.choose(0, 2)
        ins <- Gen.pick(nIns, (500 until 700).map(base + _))
      } yield (ups.toSet -- dels, dels.toSet, ins.toSet)
      val (ups, dels, ins) = mutGen.apply(Gen.Parameters.default, Seed(200L + g)).get
      val after = docs.filterNot(d => dels(d._1)).map { case (id, t) =>
        (id, if (ups(id)) t + " EDITED" else t)
      } ++ ins.map(id => (id, s"inserted $id"))
      (docs, after, ups ++ dels ++ ins)
    }
    val a = cases.flatMap(_._1).toDF("doc_id", "text")
    val b = cases.flatMap(_._2).toDF("doc_id", "text")
    val dirty = ReconcileOps.bucketChecksums(a, b, nB).collect()
      .filter(_.getAs[Boolean]("dirty")).map(_.getAs[Long]("bucket")).toSet
    val expect = cases.flatMap(_._3).map(_ % nB).toSet
    assert(dirty == expect, s"dirty=$dirty expected=$expect")
  }
}
