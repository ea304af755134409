package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Golden micro-fixtures for the dedup + similarity operator families
  * (semantics defined in DedupOps/SimilarityOps scaladoc).
  */
class DedupSimilaritySpec extends SparkSpec {
  import sqlImplicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  private def tokenized(rows: (Long, String)*) =
    docs(rows: _*).select(col("doc_id"), TextOps.tokenize(col("text")).as("toks"))

  test("exactDuplicates groups identical texts under the min id") {
    val out = DedupOps.exactDuplicates(
      docs(1L -> "a b c", 2L -> "x y", 3L -> "a b c", 4L -> "a b c"))
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq ==
      Seq((1L, 1L, 3L, false), (2L, 2L, 1L, false), (3L, 1L, 3L, true), (4L, 1L, 3L, true)))
  }

  test("jaccardPairs computes exact shingle Jaccard") {
    // 2-gram shingles: doc1 {ab, bc, cd}, doc2 {ab, bc, ce} -> J = 2/4
    val sh = DedupOps.shingles(
      tokenized(1L -> "a b c d", 2L -> "a b c e"), 2)
    val out = DedupOps.jaccardPairs(sh, 0L).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("common") == 2 && r.getAs[Long]("size_a") == 3 &&
      r.getAs[Long]("size_b") == 3)
    assert(r.getAs[Long]("jaccard_micro") == 500000L)
  }

  test("containmentPairs scores subset duplication that Jaccard misses") {
    // doc1's 2-gram shingles {ab, bc} are a strict subset of doc2's
    // {ab, bc, cd, de, ef, fg, gh}: Jaccard 2/7 looks dissimilar while
    // containment is exactly 1.0 — the quote/wrapper near-dup signal
    val sh = DedupOps.shingles(
      tokenized(1L -> "a b c", 2L -> "a b c d e f g h"), 2)
    val cont = DedupOps.containmentPairs(sh, 0L).collect()
    assert(cont.length == 1)
    assert(cont.head.getAs[Long]("containment_micro") == 1000000L)
    assert(cont.head.getAs[Long]("common") == 2L)
    val jac = DedupOps.jaccardPairs(sh, 0L).collect()
    assert(jac.head.getAs[Long]("jaccard_micro") == 285714L) // floor(1e6*2/7)
  }

  test("leakageAudit reports per-bench-doc spread and worst containment") {
    // n=5 shingles. bench 10 {abcde, bcdef}: train 1 shares 1, train 2
    // shares 2 (full containment); bench 20 {pqrst}: clean.
    val toked = tokenized(
      10L -> "a b c d e f",
      20L -> "p q r s t",
      1L -> "a b c d e x",
      2L -> "z a b c d e f",
      3L -> "u v w x y")
    val sh = DedupOps.shingles(toked, 5)
    val isBench = col("doc_id") >= 10L
    val out = DedupOps.leakageAudit(sh.where(isBench), sh.where(!isBench))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      (10L, 2L, 2L, 3L, 2L, 1000000L),
      (20L, 1L, 0L, 0L, 0L, 0L)))
  }

  test("incrementalDupCheck flags new docs against the stored index") {
    val toked = tokenized(
      1L -> "a b c d e f g",   // index
      2L -> "p q r s t u",     // index
      9L -> "a b c d e f g",   // new: exact dup of 1 -> est 1.0
      19L -> "x y z w v u t")  // new: disjoint shingles -> no candidates
    val sigs = DedupOps.minhashSignatures(DedupOps.shingles(toked, 5))
    val isNew = col("doc_id") >= 9L
    val out = DedupOps.incrementalDupCheck(
      sigs.where(isNew), sigs.where(!isNew), rowsPerBand = 4, 500000L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(out.toSeq == Seq(
      (9L, 1L, 1L, 1000000L, true),
      (19L, 0L, -1L, 0L, false)))
  }

  test("boilerplateProfile flags within-source template shingles only") {
    // "x y" repeats across docs 1-2 of source A -> boilerplate in A;
    // doc 4 carries the same shingles in source B where each is unique
    val toked = Seq(
      (1L, "A", "x y z"), (2L, "A", "x y w"), (3L, "A", "p q"),
      (4L, "B", "x y z"))
      .toDF("doc_id", "source", "text")
      .select(col("doc_id"), col("source"),
        TextOps.tokenize(col("text")).as("toks"))
    val out = DedupOps.boilerplateProfile(
      DedupOps.shingles(toked, 2, carryCols = Seq("source")), 2L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq == Seq(
      (1L, "A", 2L, 1L, 500000L),
      (2L, "A", 2L, 1L, 500000L),
      (3L, "A", 1L, 0L, 0L),
      (4L, "B", 2L, 0L, 0L)))
  }

  test("contaminationScoresBloom is bit-identical to the exact formulation") {
    val toked = tokenized(
      1L -> "a b c d e f",   // benchmark doc
      2L -> "a b c d e g",   // train: shares the 5-gram "a b c d e"
      4L -> "p q r s t u",   // train: clean
      6L -> "a b")           // train: too short to shingle at n=5
    val sh = DedupOps.shingles(toked, 5)
    val isBench = col("doc_id") === 1L
    def run(f: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
                org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame) =
      f(toked.where(!isBench), sh.where(!isBench), sh.where(isBench))
        .orderBy("doc_id").collect().toSeq
    val exact = run(DedupOps.contaminationScores(_, _, _, 1L))
    val bloom = run(DedupOps.contaminationScoresBloom(_, _, _, 1L, 1024L))
    assert(bloom == exact)
    assert(exact.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))) ==
      Seq((2L, 1L, true), (4L, 0L, false), (6L, 0L, false)))
  }

  test("contaminationScoresBloom with an empty benchmark side flags nothing") {
    val toked = tokenized(2L -> "a b c d e g")
    val sh = DedupOps.shingles(toked, 5)
    val out = DedupOps.contaminationScoresBloom(
      toked, sh, sh.where(lit(false)), 1L, 16L)
      .collect().toSeq
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))) ==
      Seq((2L, 0L, false)))
  }

  test("stripDuplicatedSpans removes cross-doc and within-doc repeated spans") {
    // n=3: docs 1 and 2 share the span "a b c" (both occurrences and the
    // tokens they cover go); doc 3 repeats "p q r" internally (both go);
    // doc 4 is unique and survives whole; doc 5 is shorter than n
    val out = DedupOps.stripDuplicatedSpans(docs(
      1L -> "a b c x y z",
      2L -> "m n a b c o",
      3L -> "p q r k p q r",
      4L -> "u v w u2 v2",
      5L -> "s t"), 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    graft.CacheScope.releaseAll()
    assert(out(0) == ((1L, 6L, 3L, "x y z")))
    assert(out(1) == ((2L, 6L, 3L, "m n o")))
    // doc 3: starts 0 and 4 cover tokens 0-2 and 4-6; only "k" (pos 3) stays
    assert(out(2) == ((3L, 7L, 6L, "k")))
    assert(out(3) == ((4L, 5L, 0L, "u v w u2 v2")))
    assert(out(4) == ((5L, 2L, 0L, "s t")))
  }

  test("variableSpanProfile: base tier equals stripDuplicatedSpans and " +
      "tiers are monotone on the fixture") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val n = 10
    val base = DedupOps.stripDuplicatedSpans(docs, n).orderBy("doc_id")
      .select("doc_id", "n_removed").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prof = DedupOps.variableSpanProfile(docs, n, Seq(10, 20, 50), 20)
      .orderBy("doc_id").collect()
    graft.CacheScope.releaseAll()
    assert(prof.nonEmpty)
    var sawSpan = false
    prof.foreach { r =>
      val id = r.getLong(0)
      val (g10, g20, g50) = (r.getAs[Long]("removed_ge10"),
        r.getAs[Long]("removed_ge20"), r.getAs[Long]("removed_ge50"))
      // tier n IS q61's removal — q61b's surface is a superset of q61's
      assert(g10 == base(id), s"doc $id: ge10 $g10 != q61 ${base(id)}")
      assert(g10 >= g20 && g20 >= g50, s"doc $id: tiers not monotone")
      assert(r.getAs[Long]("max_span_len") >= 0)
      if (r.getAs[Long]("n_spans") > 0) sawSpan = true
    }
    assert(sawSpan, "degenerate fixture: no duplicated span at all")
  }

  test("variableSpanProfile thresholds the rebuilt text by span length") {
    // doc 1/2 share a long 12-token span (>= textTier 10 -> stripped);
    // docs 3/4 share only the short span "p q r" (< 10 -> kept in text
    // but counted in removed_ge3)
    val docs = Seq(
      (1L, "a b c d e f g h i j k l x"),
      (2L, "z a b c d e f g h i j k l"),
      (3L, "p q r u v w"),
      (4L, "m n p q r o")).toDF("doc_id", "text")
    val out = DedupOps.variableSpanProfile(docs, 3, Seq(3, 10), 10)
      .orderBy("doc_id").collect()
    graft.CacheScope.releaseAll()
    val r1 = out(0)
    assert(r1.getAs[Long]("removed_ge3") == 12L)
    assert(r1.getAs[Long]("removed_ge10") == 12L)
    assert(r1.getAs[Long]("max_span_len") == 12L)
    assert(r1.getAs[String]("text_dedup_ge10") == "x")
    val r3 = out(2)
    assert(r3.getAs[Long]("removed_ge3") == 3L)
    assert(r3.getAs[Long]("removed_ge10") == 0L)
    // the short span survives the length-thresholded rebuild
    assert(r3.getAs[String]("text_dedup_ge10") == "p q r u v w")
  }

  test("stripDuplicatedSpans matches the per-token cover definition on random docs") {
    // reference semantics (the pre-optimization formulation): token i
    // survives iff no duplicated n-span starts in [i-n+1, i]
    val n = 3
    val rnd = new scala.util.Random(42)
    val rows = (1L to 40L).map { id =>
      val len = rnd.nextInt(12)
      id -> (0 until len).map(_ => s"w${rnd.nextInt(4)}").mkString(" ")
    }
    val toksById = rows.toMap.map { case (id, t) =>
      id -> t.split("\\s+").filter(_.nonEmpty).toSeq
    }
    val allSpans = toksById.values.toSeq.flatMap(ts => ts.sliding(n).filter(_.size == n).map(_.mkString(" ")))
    val dupSpans = allSpans.groupBy(identity).collect { case (s, occ) if occ.size > 1 => s }.toSet
    val expected = toksById.toSeq.sortBy(_._1).map { case (id, ts) =>
      val starts = ts.sliding(n).zipWithIndex
        .collect { case (sp, i) if sp.size == n && dupSpans(sp.mkString(" ")) => i }.toSet
      val kept = ts.indices.filter(i => !starts.exists(s => i >= s && i <= s + n - 1))
      (id, ts.size.toLong, (ts.size - kept.size).toLong, kept.map(ts).mkString(" "))
    }
    val out = DedupOps.stripDuplicatedSpans(docs(rows: _*), n)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    graft.CacheScope.releaseAll()
    assert(out.toSeq == expected)
  }

  test("stripDuplicatedSpans is linear on an adversarial all-duplicate doc") {
    // one shingle repeated 10^4 times: S ≈ T ≈ 3·10^4, the case where the
    // old per-token exists probe cost O(T·S) ≈ 10^9 HOF evaluations in a
    // single task; the interval-merge formulation is O(T+S)
    val text = Seq.fill(10000)("a b c").mkString(" ")
    val start = System.nanoTime()
    val out = DedupOps.stripDuplicatedSpans(docs(1L -> text, 2L -> "u v w"), 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    graft.CacheScope.releaseAll()
    val elapsedSec = (System.nanoTime() - start) / 1e9
    assert(out(0) == ((1L, 30000L, 30000L, "")))
    assert(out(1) == ((2L, 3L, 0L, "u v w")))
    assert(elapsedSec < 60.0, s"adversarial doc took ${elapsedSec}s — not linear")
  }

  test("capShingleDf drops boilerplate shingles and the pairs they induce") {
    // three docs sharing only the boilerplate 2-gram {x y}; docs 1 and 2
    // additionally share real content {a b, b c}
    val sh = DedupOps.shingles(tokenized(
      1L -> "a b c x y", 2L -> "a b c x y", 3L -> "p q r x y"), 2)
    // uncapped: the df=3 shingle makes every doc pair a candidate
    assert(DedupOps.jaccardPairs(sh, 1L).count() == 3)
    // cap df <= 2: only "x y" (df=3) is dropped; doc 3 no longer pairs
    // with anyone
    val capped = DedupOps.capShingleDf(sh, 2L)
    assert(capped.where(col("shingle") === "x y").count() == 0)
    val pairs = DedupOps.jaccardPairs(capped, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
    // sizes reflect the capped sets: doc1 kept {a b, b c, c x} -> sz 3
    val r = DedupOps.jaccardPairs(capped, 1L).collect().head
    assert(r.getAs[Long]("size_a") == 3 && r.getAs[Long]("common") == 3)
  }

  test("duplicateClusters collapses transitive chains to the min id") {
    val d = docs(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e", 6L -> "f")
    // chain 1-2-3 (transitive: 1 and 3 never pair directly), pair 5-6,
    // singleton 4
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val out = DedupOps.duplicateClusters(d, pairs)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L),
      (5L, 5L), (6L, 5L)))
  }

  test("contaminationScores flags training docs overlapping the benchmark") {
    val bench = tokenized(100L -> "a b c d e f")
    val train = tokenized(
      1L -> "z b c d e f g",  // shares 5-gram "b c d e f"
      2L -> "p q r s t u v")  // disjoint
    val out = DedupOps.contaminationScores(
      train, DedupOps.shingles(train, 5), DedupOps.shingles(bench, 5),
      minShared = 1L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq == Seq((1L, 1L, true), (2L, 0L, false)))
  }

  test("editDistancePairs finds pairs across length-band boundaries") {
    // maxDist=3 -> band width 4: "abc" (len 3, band 0) and "abcde"
    // (len 5, band 1) sit in ADJACENT bands — the band+-1 explode must
    // still pair them; the len-10 doc is length-filtered out
    val d = Seq((1L, "g", "abc"), (2L, "g", "abcde"), (3L, "g", "abcdefghij"))
      .toDF("doc_id", "grp", "text")
    val out = DedupOps.editDistancePairs(d, Seq("grp"), 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("edit_dist")))
    assert(out.toSeq == Seq((1L, 2L, 2L)))
  }

  test("shingles drops docs shorter than n") {
    assert(DedupOps.shingles(tokenized(1L -> "a b", 2L -> "a b c"), 3)
      .collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("minhash: identical docs share the full signature, est Jaccard = 1") {
    val sigs = DedupOps.minhashSignatures(DedupOps.shingles(
      tokenized(1L -> "a b c d e f", 2L -> "a b c d e f", 3L -> "q r s t u v"), 3))
    val pairs = DedupOps.minhashPairs(sigs, 4, 0L).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(pairs.head.getAs[Long]("est_jaccard_micro") == 1000000L)
  }

  test("chunk near-dup (q128) catches a shared edited paragraph that " +
    "chunk-exact (q86) misses") {
    // Two docs open with the SAME 70-token paragraph except one token
    // edited mid-way, then diverge completely. No chunk is byte-identical
    // across docs (the edit lands in chunk 0 of both), so exact-chunk
    // grouping finds nothing cross-doc — but chunk 0's shingle sets agree
    // on ~55 of ~65 5-grams, so the MinHash estimate clears the q26
    // threshold. This is the dedup-matrix cell q128 exists for.
    import graft.queries.{CurationQueries, DedupQueries}
    val para = (0 until 70).map(i => s"p$i")
    val paraEdited = para.updated(35, "edited")
    val d = docs(
      1L -> (para ++ (0 until 50).map(i => s"a$i")).mkString(" "),
      2L -> (paraEdited ++ (0 until 50).map(i => s"b$i")).mkString(" "))
    val chunks = TextAnalysisOps.contextChunks(
      d, CurationQueries.ChunkSize, CurationQueries.ChunkStride)
    // chunk-exact: no chunk text occurs in BOTH docs
    val crossExact = chunks.groupBy("chunk_text")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .where(col("n_docs") > 1).count()
    assert(crossExact == 0, "fixture broken: an identical cross-doc chunk exists")
    // chunk-near: the q128 composition flags (doc 1 chunk 0, doc 2 chunk 0)
    val keyed = chunks.select(
      (col("doc_id") * DedupQueries.ChunkKeyBase + col("chunk_id")).as("cid"),
      col("chunk").as("toks"))
    val pairs = DedupOps.minhashPairs(
      DedupOps.minhashSignatures(
        DedupOps.shingles(keyed, DedupQueries.ShingleN, idCol = "cid"),
        idCol = "cid"),
      rowsPerBand = 4, DedupQueries.MinhashMinMicro, idCol = "cid")
      .collect()
    val cross = pairs.filter { r =>
      r.getAs[Long]("id_a") / DedupQueries.ChunkKeyBase !=
        r.getAs[Long]("id_b") / DedupQueries.ChunkKeyBase
    }
    assert(cross.exists { r =>
      r.getAs[Long]("id_a") == 1L * DedupQueries.ChunkKeyBase &&
        r.getAs[Long]("id_b") == 2L * DedupQueries.ChunkKeyBase &&
        r.getAs[Long]("est_jaccard_micro") >= DedupQueries.MinhashMinMicro
    }, s"edited shared paragraph not flagged; pairs=${cross.mkString(",")}")
    graft.CacheScope.releaseAll()
  }

  test("MLlib MinHashLSH finds the same identical-doc pair as the portable path") {
    val toked = tokenized(
      1L -> "a b c d e f", 2L -> "a b c d e f", 3L -> "q r s t u v")
    val pairs = DedupOps.minhashPairsMllib(toked, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)))
    assert(pairs.head._3 == 0.0) // identical shingle sets -> distance 0
  }

  test("simhash: identical docs collide at Hamming 0; disjoint docs don't pair at <= 3") {
    val fps = DedupOps.simhash(
      tokenized(1L -> "w1 w2 w3 w1", 2L -> "w1 w2 w3 w1", 3L -> "z9 z8 z7 z6"))
    val pairs = DedupOps.simhashPairs(fps, 3).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 2L, 0L)))
  }

  test("brute-force top-k ranks by cosine with id tie-break") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f), 0),   // identical to query -> cos 1
      (2L, Array(0.0f, 1.0f), 0),   // orthogonal -> cos 0
      (3L, Array(1.0f, 1.0f), 0))   // cos ~ 0.7071
      .toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.bruteForceTopK(emb, everyNth = 1000, k = 3)
      .orderBy("rk").collect() // only vec_id 0 is a query (0 % n == 0)
    assert(out.map(_.getAs[Long]("cand_id")).toSeq == Seq(1L, 3L, 2L))
    assert(out.head.getAs[Long]("cos_micro") == 1000000L)
    assert(out.last.getAs[Long]("cos_micro") == 0L)
  }

  test("sign-LSH bucketed top-k achieves >= 60% recall of brute force on the fixture") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = keys(SimilarityOps.bruteForceTopK(emb, 50, 5))
    val lsh = keys(SimilarityOps.bucketedTopK(emb, 50, 5, bits = 4, tables = 16))
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall $recall")
  }

  test("multi-probe LSH recall strictly exceeds single-probe on the same index") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = keys(SimilarityOps.bruteForceTopK(emb, 50, 5))
    val single = keys(SimilarityOps.bucketedTopK(emb, 50, 5, bits = 4, tables = 16))
    val multi = keys(SimilarityOps.multiProbeTopK(emb, 50, 5, bits = 4, tables = 16))
    val rs = (brute & single).size.toDouble / brute.size
    val rm = (brute & multi).size.toDouble / brute.size
    info(s"recall single=$rs multi=$rm")
    assert(rm > rs, s"multi-probe must lift recall: single $rs, multi $rm")
    assert(rm >= 0.9, s"multi-probe recall floor: $rm")
  }

  test("IVF top-k achieves >= 60% recall of brute force on the fixture") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = keys(SimilarityOps.bruteForceTopK(emb, 50, 5))
    val ivf = keys(SimilarityOps.ivfTopK(emb, 50, 5, nCells = 16, nProbe = 4))
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall $recall")
  }

  test("IVF with ALL cells probed reproduces brute force bit-exactly " +
    "(q29d's deterministic contract)") {
    // every candidate sits in exactly one cell, so probing all 16 cells
    // scores every (query, cand) pair exactly once with the SAME
    // cosineMicro expression and topKPerQuery tie rule as brute force —
    // the composed probe-cells/score split must therefore be
    // byte-identical, not merely high-recall. This pins q29d (rows-only:
    // KMeans has no DuckDB twin) to a deterministic reference the way
    // PqSpec pins q104's exhaustive-overfetch run.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rk").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"),
          r.getAs[Long]("cos_micro"), r.getAs[Long]("rk"))).toSeq
    val idx = SimilarityOps.buildIvfIndex(emb, nCells = 16)
    val all = SimilarityOps.ivfScore(idx.assigned,
      SimilarityOps.ivfProbeCells(idx, everyNth = 50, nProbe = 16), k = 5)
    val brute = rows(SimilarityOps.bruteForceTopK(emb, 50, 5))
    assert(brute.nonEmpty)
    assert(rows(all) == brute)
    graft.CacheScope.releaseAll()
  }

  test("q29d's float index stored partitioned-by-cell: the probe prunes " +
      "to the probed cells and scoring the pruned scan is byte-identical " +
      "to the in-memory path at q29d's own operating point") {
    // the q79e contract, float tier — q29d's last missing deterministic
    // unit: the SAME probe-cells/score split that serves the in-memory
    // index must serve its stored cell-partitioned layout with (a)
    // byte-identical rows and (b) a scan that reads only the probed
    // cells' partitions. With this, every IVF rung (float q29d, SQ8
    // q79d/e) carries a stored-layout identity, not just recall floors.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val index = SimilarityOps.buildIvfIndex(emb, nCells = 16)
    val path = graft.Scratch.dir("test_ivf_float_stored")
    index.assigned.write.mode("overwrite").partitionBy("cell").parquet(path)
    // q29d's operating point: everyNth = QueryEveryNth, nProbe = 4
    val qCells = SimilarityOps.ivfProbeCells(index,
      graft.queries.SimilarityQueries.QueryEveryNth, nProbe = 4)
    val cells = qCells.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(cells.nonEmpty && cells.size < 16,
      s"probe must select a strict subset of cells, got $cells")
    val stored = spark.read.parquet(path)
      .where(col("cell").isin(cells: _*))
      .select(col("vec_id"), col("emb"), col("cell").cast("long").as("cell"))
    val disk = SimilarityOps.ivfScore(
      stored.select("vec_id", "emb", "cell"), qCells, k = 5)
      .orderBy("query_id", "rk").collect().toSeq
    val mem = SimilarityOps.ivfScore(
      index.assigned.select("vec_id", "emb", "cell"), qCells, k = 5)
      .orderBy("query_id", "rk").collect().toSeq
    assert(disk == mem, "stored-pruned path diverged from in-memory path")
    assert(mem.nonEmpty)
    val scan = stored.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "cell")),
      scan.partitionFilters.toString)
    val scanned = scan.relation.location
      .listFiles(scan.partitionFilters, Nil).size
    assert(scanned == cells.size,
      s"scan read $scanned of 16 cell partitions, expected ${cells.size}")
    graft.CacheScope.releaseAll()
  }

  test("q159b incremental canonical == from-scratch election, and the " +
      "fixture exercises the base-cluster label-change case") {
    // from-scratch: cluster the WHOLE corpus, elect richest per cluster —
    // the oracle's definition, here in Spark so the unit needs no DuckDB
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val toked = docs.select(col("doc_id"),
      graft.ops.TextOps.tokenize(col("text")).as("toks"))
    val richness = toked.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"),
      size(array_distinct(col("toks"))).cast("long").as("n_distinct_tokens"))
    val pairs = graft.queries.DedupQueries.q25NgramJaccard(spark, dir)
      .select("id_a", "id_b")
    val full = DedupOps.richestCanonical(
      DedupOps.duplicateClusters(toked.select("doc_id"), pairs)
        .join(richness, Seq("doc_id")))
      .orderBy("doc_id").collect().toSeq
    val incr = graft.queries.DedupQueries
      .q159bIncrementalCanonical(spark, dir).collect().toSeq
    assert(incr == full, "incremental diverged from from-scratch election")
    // non-vacuity: the DRIVER-GATE fixture (sf0.01 — sf0.001 has no such
    // component) must exercise a LABEL CHANGE: a base cluster whose new
    // label differs from its stored one (a smaller-id delta doc joins,
    // or two base clusters merge through a delta doc) — the class whose
    // stale-row leak an old-label anti-join would miss (it did, pre-fix:
    // 4 leaked rows at sf0.01).
    val snaps = graft.queries.CurationQueries.Snapshots
    val dir01 = "/root/testdata/sf0.01"
    val docs01 = spark.read.parquet(s"$dir01/documents.parquet")
      .select("doc_id")
    val pairs01 = graft.queries.DedupQueries.q25NgramJaccard(spark, dir01)
      .select("id_a", "id_b")
    val baseLabels = DedupOps.duplicateClusters(
      docs01.where(snaps.inA),
      pairs01.where(snaps.inAOf(col("id_a")) && snaps.inAOf(col("id_b"))))
    val fullLabels = DedupOps.duplicateClusters(docs01, pairs01)
    val relabeled = fullLabels.join(baseLabels
        .withColumnRenamed("cluster_id", "base_label"), Seq("doc_id"))
      .where(col("cluster_id") =!= col("base_label")).count()
    assert(relabeled >= 1,
      "driver-gate fixture never changes a base cluster's label through " +
        "a delta doc — the stale-row case is untested")
    graft.CacheScope.releaseAll()
  }

  test("SQ8 codes are int8-bounded and unit-scale") {
    val emb = Seq(
      (0L, Array(3.0f, 4.0f), 0),          // unit = (0.6, 0.8)
      (1L, Array(0.0f, 0.0f), 0))          // zero vector -> zero codes
      .toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.sq8Codes(emb).orderBy("vec_id").collect()
      .map(r => r.getSeq[Int](1).toSeq)
    // floor(0.6*127 + 0.5) = 76, floor(0.8*127 + 0.5) = 102
    assert(out(0) == Seq(76, 102))
    assert(out(1) == Seq(0, 0))
  }

  test("SQ8 quantized top-k achieves >= 80% recall of brute force " +
      "on the fixture") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = keys(SimilarityOps.bruteForceTopK(emb, 50, 5))
    val quant = keys(SimilarityOps.sq8TopK(emb, 50, 5))
    val recall = (brute & quant).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("SQ8 prefilter + exact rerank recall beats SQ8-only on the fixture") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = keys(SimilarityOps.bruteForceTopK(emb, 50, 5))
    val quant = keys(SimilarityOps.sq8TopK(emb, 50, 5))
    val rerank = keys(SimilarityOps.sq8RerankTopK(emb, 50, 5, overfetch = 4))
    val quantRecall = (brute & quant).size.toDouble / brute.size
    val rerankRecall = (brute & rerank).size.toDouble / brute.size
    assert(rerankRecall >= quantRecall,
      s"rerank $rerankRecall < sq8-only $quantRecall")
    assert(rerankRecall >= 0.85, s"rerank recall $rerankRecall")
  }

  test("IVF-SQ8 composed retrieval matches the two-stage rerank recall floor " +
      "on the fixture") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = keys(SimilarityOps.bruteForceTopK(emb, 50, 5))
    val index = SimilarityOps.buildIvfIndex(emb, nCells = 16)
    val coded = SimilarityOps.ivfSq8Coded(index, emb)
    val composed = keys(SimilarityOps.ivfSq8TopK(index, coded, 50, 5,
      nProbe = 8, overfetch = 4))
    val recall = (brute & composed).size.toDouble / brute.size
    // the q79c floor: composing the probe with SQ8 + exact rerank must not
    // cost recall vs the flat two-stage scan on this fixture
    assert(recall >= 0.85, s"recall $recall")
  }

  test("stored coded index: the probe prunes the scan to exactly the " +
      "probed cells' partitions, and scoring it equals the in-memory path") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val index = SimilarityOps.buildIvfIndex(emb, nCells = 16)
    val coded = SimilarityOps.ivfSq8Coded(index, emb)
    val path = graft.Scratch.dir("test_ivf_stored")
    coded.write.mode("overwrite").partitionBy("cell").parquet(path)
    // single-query serving shape: one probe, nProbe = 4 of 16 cells
    val qCells = SimilarityOps.ivfSq8ProbeCells(index, coded,
      everyNth = 1 << 20, nProbe = 4)
    val cells = qCells.select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(cells.size == 4, s"expected 4 probed cells, got $cells")
    val stored = spark.read.parquet(path)
      .where(col("cell").isin(cells: _*))
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("codes"))
    val disk = SimilarityOps.ivfSq8Score(index, stored, qCells,
      k = 5, overfetch = 4).orderBy("query_id", "rk").collect().toSeq
    val mem = SimilarityOps.ivfSq8Score(index, coded, qCells,
      k = 5, overfetch = 4).orderBy("query_id", "rk").collect().toSeq
    assert(disk == mem)
    // the cell filter must prune PARTITIONS at the stored scan
    // (directory-level skip), not survive as a post-scan row filter
    val scan = stored.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "cell")),
      scan.partitionFilters.toString)
    val scanned = scan.relation.location
      .listFiles(scan.partitionFilters, Nil).size
    assert(scanned == 4, s"scan read $scanned of 16 cell partitions")
  }

  test("q79e over the stored index is byte-identical to q79d over the " +
      "in-memory index") {
    val dir = "/root/testdata/sf0.001"
    val a = graft.queries.SimilarityQueries.q79dIvfSq8(spark, dir)
      .collect().toSeq
    val b = graft.queries.SimilarityQueries.q79eStoredIvf(spark, dir)
      .collect().toSeq
    assert(b == a)
    graft.queries.SessionMemos.evictAll()
  }

  test("filtered IVF, float tier, all cells probed: bit-identical to the " +
      "hash-verified filtered brute truth (the q29d identity, filtered)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val index = SimilarityOps.buildIvfIndex(emb, nCells = 16)
    val labels = emb.select(col("vec_id"), col("label"))
    val assignedLabeled = index.assigned.join(labels, "vec_id")
      .select(col("vec_id"), col("emb"), col("label"), col("cell"))
    val qCells = SimilarityOps.ivfProbeCells(index, everyNth = 50,
        nProbe = 16) // every cell: candidate set = the label's sub-corpus
      .join(labels.toDF("query_id", "label"), "query_id")
      .select("query_id", "q_emb", "label", "cell")
    val viaIvf = SimilarityOps.labelFilteredIvfScore(assignedLabeled,
        qCells, k = 5)
      .orderBy("query_id", "rk").collect().toSeq
    val brute = SimilarityOps.labelFilteredTopK(emb, everyNth = 50, k = 5)
      .orderBy("query_id", "rk").collect().toSeq
    assert(viaIvf.nonEmpty && viaIvf == brute)
  }

  test("stored label-keyed coded index: the probe prunes to the probed " +
      "cells' partitions and the label joins the ADC key below the score") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val index = SimilarityOps.buildIvfIndex(emb, nCells = 16)
    val coded = SimilarityOps.ivfSq8Coded(index, emb)
    val codedLabeled = SimilarityOps.ivfSq8CodedLabeled(index, emb)
    val path = graft.Scratch.dir("test_ivf_labeled_stored")
    codedLabeled.write.mode("overwrite").partitionBy("cell").parquet(path)
    val labels = emb.select(col("vec_id"), col("label"))
    // single-query serving shape, nProbe = 4 of 16
    val qCells = SimilarityOps.labelFilteredIvfProbeCells(index, coded,
      labels, everyNth = 1 << 20, nProbe = 4)
    val cells = qCells.select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(cells.size == 4, s"expected 4 probed cells, got $cells")
    val stored = spark.read.parquet(path)
      .where(col("cell").isin(cells: _*))
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("label"), col("codes"))
    val disk = SimilarityOps.labelFilteredIvfSq8Score(index, stored, qCells,
      k = 5, overfetch = 4).orderBy("query_id", "rk").collect().toSeq
    val mem = SimilarityOps.labelFilteredIvfSq8Score(index, codedLabeled,
      qCells, k = 5, overfetch = 4).orderBy("query_id", "rk").collect().toSeq
    assert(disk.nonEmpty && disk == mem,
      "stored-pruned filtered path diverged from in-memory path")
    // (a) partition pruning: the cell filter skips directories at the scan
    val scan = stored.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "cell")),
      scan.partitionFilters.toString)
    val scanned = scan.relation.location
      .listFiles(scan.partitionFilters, Nil).size
    assert(scanned == 4, s"scan read $scanned of 16 cell partitions")
    // (b) the label sits in the stage-1 join KEY (below the IntDot score):
    // out-of-label candidates are dropped by the hash join, never dotted.
    // AQE wraps the executed plan — walk through adaptive/stage nodes
    // (the PlanShapeSpec pattern) after forcing execution so the final
    // plan is materialized.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val planned = SimilarityOps.labelFilteredIvfSq8Score(index, stored,
      qCells, k = 5, overfetch = 4)
    planned.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val extra = p match {
        case q: QueryStageExec => Seq(q.plan)
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => Nil
      }
      p +: (p.children ++ extra).flatMap(walk)
    }
    val keyedJoin = walk(planned.queryExecution.executedPlan).collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.leftKeys.flatMap(_.references).map(_.name).contains("label") ||
            j.rightKeys.flatMap(_.references).map(_.name).contains("label") => j
    }
    assert(keyedJoin.nonEmpty,
      "no broadcast-hash join carries the label in its key — the filter " +
        "is not below the score")
    // and every returned candidate shares its query's label
    val lab = labels.collect().map(r => r.getLong(0) -> r.get(1)).toMap
    disk.foreach { r =>
      assert(lab(r.getLong(1)) == lab(r.getLong(0)),
        s"candidate ${r.getLong(1)} broke query ${r.getLong(0)}'s label filter")
    }
  }

  test("q187e: filtered-IVF recall vs the filtered brute truth clears the " +
      "floor, and q187d re-runs deterministically") {
    val dir = "/root/testdata/sf0.001"
    val row = graft.queries.SimilarityQueries
      .q187eFilteredIvfRecall(spark, dir).collect().head
    val recall = row.getLong(3)
    // measured 880 at sf0.001 at q187d's nProbe 12 dial
    // (FilteredIvfDialProbe: 8 → 720‰, 10 → 800‰, 12 → 880‰)
    assert(recall >= 800, s"filtered-IVF recall $recall < 800 permille")
    val a = graft.queries.SimilarityQueries.q187dFilteredTopKIvf(spark, dir)
      .collect().toSeq
    val b = graft.queries.SimilarityQueries.q187dFilteredTopKIvf(spark, dir)
      .collect().toSeq
    assert(a.nonEmpty && a == b)
    graft.queries.SessionMemos.evictAll()
  }

  test("cosine near-dup pairs are symmetric-free and thresholded") {
    val emb = Seq(
      (0L, Array.fill(8)(0.5f), 0),
      (1L, Array.fill(8)(0.5f), 0),
      (2L, Array.fill(8)(-0.5f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.cosineNearDupPairs(emb, bits = 4, bands = 2,
        minMicro = 900000L)
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 1L)))
  }

  test("semanticDedup keeps the pair-minimal set") {
    // 0, 1, 3 are colinear (pairs (0,1), (0,3), (1,3)); 2 points the other
    // way. Higher ids of any pair drop: kept = {0, 2}.
    val emb = Seq(
      (0L, Array.fill(8)(0.5f), 0),
      (1L, Array.fill(8)(0.5f), 0),
      (2L, Array.fill(8)(-0.5f), 0),
      (3L, Array.fill(8)(0.25f), 0))
      .toDF("vec_id", "embedding", "label")
    val kept = SimilarityOps.semanticDedup(emb, bits = 4, bands = 2,
        minMicro = 900000L)
      .orderBy("vec_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(0L, 2L))
  }

  test("labelFilteredTopK never scores a candidate outside the query's " +
      "label, even a cos=1 twin") {
    import sqlImplicits._
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 0),  // query (0 % 3 == 0), label 0
      (1L, Seq(1.0f, 0.0f), 1),  // identical vector, WRONG label
      (2L, Seq(0.8f, 0.2f), 0),
      (3L, Seq(0.0f, 1.0f), 1),  // query, label 1
      (4L, Seq(-1.0f, 0.0f), 0),
      (5L, Seq(0.1f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.labelFilteredTopK(emb, everyNth = 3, k = 2)
      .orderBy("query_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // query 0 (label 0): the label-1 twin at cos=1 is excluded; in-label
    // candidates 2 then 4. query 3 (label 1): 5 then 1.
    assert(out.toSeq == Seq((0L, 2L), (0L, 4L), (3L, 5L), (3L, 1L)))
  }

  test("clusterBalancedSample rebalances a template-heavy corpus: the big " +
      "cluster compresses to its log quota, singletons all survive") {
    import sqlImplicits._
    // one 40-doc template cluster + 20 unique singletons: before
    // sampling the template owns 40/60 = 67% of the corpus
    val labels = ((0L until 40L).map(i => (i, 1L)) ++
      (100L until 120L).map(i => (i, i))).toDF("doc_id", "cluster_id")
    val picks = DedupOps.clusterBalancedSample(labels)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val byCluster = picks.groupBy(_._1)
    // quota = bit-length: 40 -> 6, 1 -> 1; every cluster fills exactly
    // min(quota, size) with ranks 1..quota
    assert(byCluster(1L).map(_._5).sorted.toSeq == (1L to 6L) &&
      byCluster(1L).forall(p => p._2 == 40L && p._3 == 6L))
    (100L until 120L).foreach { c =>
      assert(byCluster(c).map(p => (p._2, p._3, p._5)).toSeq ==
        Seq((1L, 1L, 1L)))
    }
    // rebalanced: the template's share drops from 67% to 6/26 = 23%
    assert(picks.length == 26)
    // picks are a deterministic function of the labels (replay-stable)
    val again = DedupOps.clusterBalancedSample(labels).collect()
      .map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
    assert(again == picks.map(p => (p._1, p._4)).sorted.toSeq)
  }
}
