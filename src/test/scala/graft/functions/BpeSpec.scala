package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Merge-table BPE: table well-formedness, the greedy step contract, and
  * equivalence with the published all-occurrences-per-scan loop.
  */
class BpeSpec extends SparkSpec {

  private def sample[A](g: Gen[A], n: Int = 500): Seq[A] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(46L)).get

  test("merge table is well-formed (unique rules, parts formed before use)") {
    assert(BpeMerges.validateTable(BpeMerges.Table) === Seq.empty)
    assert(BpeMerges.validateTable(BpeMerges.SeedTable) === Seq.empty)
  }

  test("production table is at real vocabulary scale and deterministic") {
    // The round-6 review's ask: the few-thousand-merge regime, proven —
    // not the 146-entry bootstrap list.
    assert(BpeMerges.Table.size === BpeMerges.TableMerges)
    // Re-training from the same vocabulary is bit-identical (the oracle
    // literal in SqlDefs depends on this).
    val again = graft.ops.BpeTrainOps
      .trainLocal(BpeMerges.trainingVocab, BpeMerges.TableMerges, 1L)
      .map(t => t._2 + " " + t._3)
    assert(again === BpeMerges.Table)
  }

  test("validateTable flags duplicates and unformed parts") {
    assert(BpeMerges.validateTable(Seq("a b", "a b")).exists(_.contains("duplicate")))
    assert(BpeMerges.validateTable(Seq("ab c")).exists(_.contains("not formed")))
    assert(BpeMerges.validateTable(Seq("a b c")).exists(_.contains("malformed")))
  }

  test("encodeWordWith matches hand-checked fixtures on the seed table " +
      "(greedy order matters)") {
    // The 146-entry SeedTable is small enough to verify by eye — these
    // pin the step contract against ranks a human can recount.
    val seed = BpeMerges.parseRanks(BpeMerges.SeedTable)
    def enc(w: String) = BpeMerges.encodeWordWith(seed, w).toSeq
    // "row": (o,w) outranks (r,o), so 'ro' never forms even though the
    // table has a "ro w" rule — the greedy-order-sensitive case.
    assert(enc("row") === Seq("r", "ow"))
    assert(enc("the") === Seq("the"))
    assert(enc("customer") === Seq("customer"))
    assert(enc("batch") === Seq("b", "at", "ch"))
    assert(enc("window") === Seq("w", "in", "d", "ow"))
    assert(enc("query") === Seq("qu", "ery"))
    assert(enc("a") === Seq("a"))
    assert(enc("") === Seq.empty)
    // And the production table's basics hold through the memoized path.
    assert(BpeMerges.encodeWord("a").toSeq === Seq("a"))
    assert(BpeMerges.encodeWord("").toSeq === Seq.empty)
    assert(BpeMerges.encodeWord("the").toSeq === Seq("the"))
  }

  test("memo cap degrades to recompute, not eviction or wrong output") {
    val ranks = BpeMerges.parseRanks(BpeMerges.SeedTable)
    val memo = new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()
    val words = Seq("row", "batch", "window", "query", "stream", "table")
    def run(): Seq[String] = {
      val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        words.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any])
      val out = BpeMerges.encodeArrayWith(ranks, memo, arr, memoCap = 2)
      (0 until out.numElements()).map(out.getUTF8String(_).toString)
    }
    val first = run()
    assert(memo.size === 2) // cap held: only the first two words cached
    assert(first === words.flatMap(BpeMerges.encodeWordWith(ranks, _)))
    assert(run() === first) // recompute path is deterministic
    assert(memo.size === 2)
  }

  private val wordGen: Gen[String] =
    Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        9 -> Gen.alphaLowerChar, 1 -> Gen.oneOf('x', 'z', '7', '!', '漢')))
        .map(_.mkString))

  test("property: output concatenates to input and is a merge fixpoint") {
    sample(wordGen).foreach { w =>
      val toks = BpeMerges.encodeWord(w)
      assert(toks.mkString === w)
      assert(toks.forall(_.nonEmpty))
      toks.toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(!BpeMerges.Ranks.contains((a, b)))
        case _ =>
      }
    }
  }

  /** The published apply loop: per scan, find the lowest-ranked pair
    * present, merge ALL its occurrences left to right, rescan.
    */
  private def encodeAllOccurrences(w: String): Seq[String] = {
    var t = w.codePoints().toArray.toSeq.map(cp => new String(Character.toChars(cp)))
    var done = t.length < 2
    while (!done) {
      val best = t.zip(t.drop(1)).flatMap(p => BpeMerges.Ranks.get(p)).minOption
      best match {
        case None => done = true
        case Some(rank) =>
          val (a, b) = BpeMerges.Ranks.find(_._2 == rank).get._1
          val out = scala.collection.mutable.ArrayBuffer[String]()
          var i = 0
          while (i < t.length) {
            if (i < t.length - 1 && t(i) == a && t(i + 1) == b) {
              out += a + b; i += 2
            } else { out += t(i); i += 1 }
          }
          t = out.toSeq
          if (t.length < 2) done = true
      }
    }
    t
  }

  test("property: leftmost-lowest-rank stepping equals the published " +
    "all-occurrences loop on the well-formed table") {
    sample(wordGen).foreach { w =>
      assert(BpeMerges.encodeWord(w).toSeq === encodeAllOccurrences(w))
    }
  }

  test("BpeEncode expression equals driver-side encodeWord flatMap") {
    import sqlImplicits._
    val docs = Seq("the fast customer batch window", "query row merge",
      "", "a 7 ! mixed-case MiXeD").toDF("text")
    val got = docs
      .select(graft.ops.TextAnalysisOps.bpePreTokens(col("text")).as("pts"))
      .select(col("pts"), BpeMerges.bpeEncode(col("pts")).as("btoks"))
      .collect()
    got.foreach { r =>
      val pts = r.getSeq[String](0)
      val expect = pts.flatMap(BpeMerges.encodeWord(_).toSeq)
      assert(r.getSeq[String](1) === expect)
    }
  }

  test("SQL registration works through GraftExtensions sessions") {
    import sqlImplicits._
    // bpe_encode comes from GraftExtensions, which the shared session installs
    // through spark.sql.extensions exactly as Verify and Bench do
    Seq(Seq("stream", "batch")).toDF("pts")
      .createOrReplaceTempView("bpe_test")
    val got = spark.sql("SELECT bpe_encode(pts) AS t FROM bpe_test")
      .head().getSeq[String](0)
    assert(got == Seq("stream", "batch").flatMap(BpeMerges.encodeWord(_).toSeq))
    assert(got.nonEmpty && got.mkString === "streambatch")
  }

  test("BpeEncodeWith runs a runtime table through both codegen and eval " +
      "paths, and rejects ill-formed tables at construction") {
    import sqlImplicits._
    val table = Seq("a b", "ab c") // ab then abc
    val df = Seq(Seq("abc", "xyz", "ab")).toDF("pts")
    for (cg <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", cg)
      val got = df.select(BpeMerges.bpeEncodeWith(table, $"pts").as("t"))
        .head().getSeq[String](0)
      assert(got == Seq("abc", "x", "y", "z", "ab"), cg)
    }
    spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    // "xy z" is ill-formed ('xy' never produced by an earlier merge):
    // construction must fail, not silently mis-encode
    val err = intercept[IllegalArgumentException] {
      BpeMerges.bpeEncodeWith(Seq("xy z"), $"pts")
    }
    assert(err.getMessage.contains("ill-formed"))
  }

  test("BpeEncode survives both codegen and eval paths") {
    import sqlImplicits._
    val df = Seq(Seq("stream", "batch")).toDF("pts")
      .select(BpeMerges.bpeEncode(col("pts")).as("t"))
    assert(df.collect().head.getSeq[String](0) ===
      Seq("stream", "batch").flatMap(BpeMerges.encodeWord(_).toSeq))
    // null array input -> null out (nullIntolerant)
    val nulls = Seq(Option.empty[Seq[String]]).toDF("pts")
      .select(BpeMerges.bpeEncode(col("pts")).as("t"))
    assert(nulls.collect().head.isNullAt(0))
  }
}
