package graft.ops

import graft.SparkSpec
import graft.functions.BpeMerges
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Gate for the distributed BPE trainer (q87): golden parity against an
  * INDEPENDENT in-memory implementation of the published learn_bpe loop
  * (separate pre-tokenization, pair counting, and merge application code
  * paths — shared constants only), plus the structural invariants the
  * encoder relies on.
  */
class BpeTrainSpec extends SparkSpec {

  /** In-memory reference trainer: same contract as BpeTrainOps.train
    * (adjacent pairs weighted by word count, overlaps included; argmax
    * with (count desc, left asc, right asc) tie-break; leftmost-first
    * non-overlapping merge application), implemented with plain Scala
    * collections.
    */
  private def goldenTrain(texts: Seq[String], numMerges: Int,
                          minPairCount: Long,
                          maxVocab: Int): Seq[(Int, String, String, String, Long)] = {
    val re = TextAnalysisOps.BpeTokenRegex.r
    val counts = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    texts.foreach(t => re.findAllIn(t).foreach { w =>
      if (w.codePointCount(0, w.length) >= 2) counts(w) += 1L
    })
    var vocab: Seq[(Vector[String], Long)] = counts.toSeq
      .sortBy { case (w, c) => (-c, w) }.take(maxVocab)
      .map { case (w, c) =>
        val syms = scala.collection.mutable.ArrayBuffer[String]()
        var i = 0
        while (i < w.length) {
          val cp = w.codePointAt(i)
          syms += new String(Character.toChars(cp))
          i += Character.charCount(cp)
        }
        (syms.toVector, c)
      }
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val pc = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
      vocab.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) { pc((syms(i), syms(i + 1))) += c; i += 1 }
      }
      if (pc.isEmpty) done = true
      else {
        val ((l, r), n) = pc.toSeq.minBy { case ((l, r), n) => (-n, l, r) }
        if (n < minPairCount) done = true
        else {
          out += ((rank, l, r, l + r, n))
          vocab = vocab.map { case (syms, c) =>
            val merged = scala.collection.mutable.ArrayBuffer[String]()
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
                merged += l + r; i += 2
              } else { merged += syms(i); i += 1 }
            }
            (merged.toVector, c)
          }
          rank += 1
        }
      }
    }
    out.toSeq
  }

  private def trained(df: DataFrame): Seq[(Int, String, String, String, Long)] =
    df.orderBy("rank").collect().toSeq.map(r =>
      (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))

  test("golden parity on the sf0.001 corpus (every merge decision)") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val got = trained(BpeTrainOps.train(spark, docs, numMerges = 24,
      minPairCount = 4L, maxVocab = 1 << 16))
    val texts = docs.select("text").collect().map(_.getString(0)).toSeq
    val want = goldenTrain(texts, numMerges = 24, minPairCount = 4L,
      maxVocab = 1 << 16)
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("hand-computed adversarial overlap corpus") {
    import sqlImplicits._
    // "aaaa" x2, "bbbb" x1. Round 0: (a,a) weighted 3*2=6 beats (b,b)=3;
    // merging turns aaaa into [aa,aa] (leftmost-first, third 'a' pair
    // consumed by overlap). Round 1: (b,b)=3 beats (aa,aa)=2. Round 2:
    // (aa,aa)=2. Round 3: best is (bb,bb)=1 < minPairCount=2 -> stop.
    val docs = Seq("aaaa bbbb", "aaaa").toDF("text")
    val got = trained(BpeTrainOps.train(spark, docs, numMerges = 10,
      minPairCount = 2L))
    assert(got == Seq(
      (0, "a", "a", "aa", 6L),
      (1, "b", "b", "bb", 3L),
      (2, "aa", "aa", "aaaa", 2L)))
  }

  test("trained table is well-formed for the greedy encoder") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val rules = BpeTrainOps.train(spark, docs, numMerges = 24,
      minPairCount = 4L)
      .orderBy("rank").collect().map(r => r.getString(1) + " " + r.getString(2))
    // The encoder's leftmost-lowest-rank == published-all-occurrences
    // equivalence argument (BpeMerges scaladoc) requires exactly this
    // property of the table; training must produce it by construction.
    assert(BpeMerges.validateTable(rules.toIndexedSeq).isEmpty)
  }

  test("train→encode loop closes: greedy encoding with the trained table " +
      "equals the training-time merge replay on every corpus word") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val rules = BpeTrainOps.train(spark, docs, numMerges = 24,
      minPairCount = 4L)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2)))
    val ranks = rules.zipWithIndex.map { case (p, i) => p -> i }.toMap
    // training-time replay: apply merges in rank order, leftmost-first
    // non-overlapping per pass (the trainer's mergeAdjacent semantics)
    def replay(w: String): Vector[String] = {
      var syms = w.map(_.toString).toVector
      rules.foreach { case (l, r) =>
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
            out += l + r; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toVector
      }
      syms
    }
    val words = docs.select("text").collect().iterator
      .flatMap(r => TextAnalysisOps.BpeTokenRegex.r.findAllIn(r.getString(0)))
      .filter(_.length >= 2).toSet
    assert(words.nonEmpty)
    words.foreach { w =>
      assert(BpeMerges.encodeWordWith(ranks, w).toVector == replay(w), w)
    }
  }

  test("q87c tokenizes with the trained table: per-doc counts equal a " +
      "driver-side encodeWordWith pass over the same pre-tokens") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.queries.AnalysisQueries.q87cTrainedTokens(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    graft.CacheScope.releaseAll()
    val rules = BpeTrainOps.train(spark, graft.Tables.documents(spark, dir),
      numMerges = graft.queries.AnalysisQueries.BpeTrainMerges,
      minPairCount = graft.queries.AnalysisQueries.BpeTrainMinPair,
      maxVocab = graft.queries.AnalysisQueries.BpeTrainMaxVocab)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2)))
    val ranks = rules.zipWithIndex.map { case (p, i) => p -> i }.toMap
    val re = TextAnalysisOps.BpeTokenRegex.r
    val want = graft.Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map { r =>
        val n = re.findAllIn(r.getString(1))
          .map(w => BpeMerges.encodeWordWith(ranks, w).length.toLong).sum
        r.getLong(0) -> n
      }.toMap
    graft.queries.SessionMemos.evictAll()
    assert(out.nonEmpty && out == want)
  }

  test("golden parity on three seeded random corpora") {
    import sqlImplicits._
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val words = Vector("spark", "stream", "batch", "aaa", "abab", "ba",
        "table", "scan", "shuffle", "zz")
      val texts = Seq.fill(20)(
        Seq.fill(1 + rnd.nextInt(8))(words(rnd.nextInt(words.length)))
          .mkString(" "))
      val got = trained(BpeTrainOps.train(spark, texts.toDF("text"),
        numMerges = 12, minPairCount = 2L))
      val want = goldenTrain(texts, numMerges = 12, minPairCount = 2L,
        maxVocab = 1 << 16)
      assert(got == want, s"corpus: $texts")
    }
  }

  test("trainLocal merges leftmost-first over overlaps (incremental " +
      "bookkeeping matches the from-scratch recount)") {
    // "aaaab" x1: round 0 (a,a)=3 -> [aa,aa,b] (third 'a' pair consumed
    // by overlap, leftmost-first). Round 1: (aa,aa)=1 and (aa,b)=1 tie ->
    // (aa,aa) wins lexicographically. Round 2: (aaaa,b)=1.
    val got = BpeTrainOps.trainLocal(Seq(("aaaab", 1L)), 10, 1L)
    assert(got == Seq(
      (0, "a", "a", "aa", 3L),
      (1, "aa", "aa", "aaaa", 1L),
      (2, "aaaa", "b", "aaaab", 1L)))
  }

  test("trainLocal incremental deltas equal the golden from-scratch " +
      "recount on seeded random vocabularies") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val alphabet = "abcz"
      val vocab = (1 to 40).map { _ =>
        val w = (1 to (2 + rnd.nextInt(8)))
          .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
        w
      }.distinct.map(w => (w, 1L + rnd.nextInt(50).toLong))
      val texts = vocab.flatMap { case (w, c) => Seq.fill(c.toInt)(w) }
      val got = BpeTrainOps.trainLocal(vocab, 25, 1L)
      // goldenTrain counts via texts; single-char words are dropped by
      // its >=2-codepoint filter, matching trainLocal's no-pairs no-op
      val want = goldenTrain(texts, 25, 1L, 1 << 16)
      assert(got == want, s"trial $trial vocab $vocab")
    }
  }
}
