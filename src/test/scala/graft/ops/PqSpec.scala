package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Product-quantization tier (SimilarityOps.trainPq/pqEncode/pqAdcTopK).
  *
  * The rows-only q104 registry entry leans on these gates the way the
  * IVF tier leans on IvfAppendSpec: the codebook must be seed-
  * deterministic, the encoder must emit the exact per-subspace argmin
  * (re-derived driver-side from the collected codebook), and the ADC
  * probe must degrade gracefully — with exhaustive overfetch the
  * rerank stage sees every candidate, so the output must equal brute
  * force BIT-EXACTLY; at the production overfetch recall stays above a
  * measured floor.
  */
class PqSpec extends SparkSpec {

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private lazy val cb = SimilarityOps.trainPq(emb, m = 8, kSub = 16)
  private lazy val coded = SimilarityOps.pqEncode(emb, cb)

  test("trainPq is seed-deterministic and covers m x kSub cells") {
    def rows(c: SimilarityOps.PqCodebook) =
      c.codebook.orderBy("sub", "cell").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq)).toSeq
    val again = SimilarityOps.trainPq(emb, m = 8, kSub = 16)
    val r1 = rows(cb)
    assert(r1 == rows(again))
    assert(r1.length == 8 * 16)
    assert(r1.map(t => (t._1, t._2)).distinct.length == 8 * 16)
    assert(cb.dSub == 8)
    assert(r1.forall(_._3.length == 8))
  }

  test("pqEncode emits the per-subspace argmin cell (driver re-derivation)") {
    val book = cb.codebook.collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
      .toMap
    val codes = coded.orderBy("vec_id").limit(25).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toSeq)).toMap
    val vecs = emb.orderBy("vec_id").limit(25)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    assert(vecs.nonEmpty)
    vecs.foreach { case (id, x) =>
      val got = codes(id)
      assert(got.length == cb.m)
      (0 until cb.m).foreach { s =>
        val sub = x.slice(s * cb.dSub, (s + 1) * cb.dSub)
        // strict < fold keeps the LOWEST cell on ties — assignToCells' rule
        var bestCell = -1
        var bestD2 = Double.MaxValue
        (0 until cb.kSub).foreach { j =>
          val c = book((s, j))
          val d2 = sub.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
          if (d2 < bestD2) { bestD2 = d2; bestCell = j }
        }
        assert(got(s) == bestCell, s"vec $id sub $s: got ${got(s)}, want $bestCell")
        assert(got(s) >= 0 && got(s) < cb.kSub)
      }
    }
  }

  test("PQ-ADC with exhaustive overfetch reproduces brute force bit-exactly") {
    // k x overfetch >= corpus: stage 1 keeps every candidate, so the
    // exact rerank must reduce PQ to bruteForceTopK row-for-row
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id", "cos_micro", "rk")
        .orderBy("query_id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val pq = rows(SimilarityOps.pqAdcTopK(emb, cb, coded,
      everyNth = 50, k = 5, overfetch = 1000))
    val brute = rows(SimilarityOps.bruteForceTopK(emb, everyNth = 50, k = 5))
    assert(pq.nonEmpty)
    assert(pq == brute)
  }

  test("IVF-PQ with all cells probed and exhaustive overfetch == brute force") {
    // nProbe = nCells and k x overfetch >= corpus: every candidate is
    // ADC-scored and survives to the exact rerank, so the composition
    // must reduce to bruteForceTopK row-for-row
    val idx = SimilarityOps.buildIvfIndex(emb, nCells = 16)
    val cellCoded = SimilarityOps.ivfPqCoded(idx, coded)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id", "cos_micro", "rk")
        .orderBy("query_id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val ivfpq = rows(SimilarityOps.ivfPqTopK(idx, cb, cellCoded,
      everyNth = 50, k = 5, nProbe = 16, overfetch = 1000))
    val brute = rows(SimilarityOps.bruteForceTopK(emb, everyNth = 50, k = 5))
    assert(ivfpq.nonEmpty)
    assert(ivfpq == brute)
  }

  test("IVF-PQ achieves >= 60% recall at the production dial") {
    // q104b's dial: nProbe 8 of 16 cells + PqOverfetch; the composed
    // recall is bounded by BOTH the cell probe (q79d's ~0.85 class) and
    // the ADC prefilter (q104's 0.82 class), so the floor sits below
    // either single-stage floor
    val idx = SimilarityOps.buildIvfIndex(emb, nCells = 16)
    val cellCoded = SimilarityOps.ivfPqCoded(idx, coded)
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = keys(SimilarityOps.bruteForceTopK(emb, 50, 5))
    val ivfpq = keys(SimilarityOps.ivfPqTopK(idx, cb, cellCoded, 50, 5,
      nProbe = 8, graft.queries.SimilarityQueries.PqOverfetch))
    val recall = (brute & ivfpq).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall $recall")
  }

  test("q104c over the stored PQ tree is byte-identical to q104b over " +
      "the in-memory codes, and the stored scan prunes to probed cells") {
    val dir = "/root/testdata/sf0.001"
    val a = graft.queries.SimilarityQueries.q104bIvfPq(spark, dir)
      .collect().toSeq
    val b = graft.queries.SimilarityQueries.q104cStoredPq(spark, dir)
      .collect().toSeq
    assert(b == a && a.nonEmpty)
    // pruning: the same pruned-read helper the query scans must carry the
    // cell partition filter
    val path = graft.Scratch.dir(
      s"q104c_pq_${Integer.toHexString(dir.hashCode)}")
    val plan = graft.queries.SimilarityQueries
      .storedPqCoded(spark, path, Seq(0L, 3L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      plan.take(600))
    graft.queries.SessionMemos.evictAll()
  }

  test("PQ-ADC + rerank achieves >= 70% recall at the production overfetch") {
    // the q104 dial (PqOverfetch = 16): measured 0.82 on this fixture;
    // 4 measures 0.54, 8 measures 0.60 — the rationale for 16 is in
    // SimilarityQueries.PqOverfetch's scaladoc (remeasure: PqDialProbe)
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = keys(SimilarityOps.bruteForceTopK(emb, 50, 5))
    val pq = keys(SimilarityOps.pqAdcTopK(emb, cb, coded, 50, 5,
      graft.queries.SimilarityQueries.PqOverfetch))
    val recall = (brute & pq).size.toDouble / brute.size
    assert(recall >= 0.7, s"recall $recall")
  }

  // --- pqDriftStats: the q104d contract, mirroring IvfAppendSpec's -------

  test("PQ drift: a delta drawn from the base itself reads ratio exactly 1e6") {
    val stats = SimilarityOps.pqDriftStats(cb, emb, emb).collect()
    assert(stats.length == cb.m * cb.kSub, "grid must cover every (sub, cell)")
    val withSignal = stats.filter(r =>
      r.getAs[Long]("n_delta") > 0 && r.getAs[Long]("base_mean_d2") > 0)
    assert(withSignal.nonEmpty, "degenerate fixture: no (sub, cell) with signal")
    withSignal.foreach { r =>
      assert(r.getAs[Long]("drift_mean_ratio_micro") == 1000000L,
        s"(sub ${r.getAs[Int]("sub")}, cell ${r.getAs[Int]("cell")}): " +
          "self-delta must read ratio 1e6")
      assert(r.getAs[Long]("base_p95_d2") == r.getAs[Long]("delta_p95_d2"))
    }
  }

  test("PQ drift: a shifted delta reads ratios strictly above the honest delta") {
    val isDelta = col("vec_id") % 10 === 9
    val base = emb.where(!isDelta)
    val shifted = emb.where(isDelta)
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"), x => x + lit(100.0))
          .as("embedding"))
    val stats = SimilarityOps.pqDriftStats(cb, base, shifted).collect()
    val withDelta = stats.filter(_.getAs[Long]("n_delta") > 0)
    assert(withDelta.nonEmpty)
    withDelta.foreach { r =>
      assert(r.getAs[Long]("drift_mean_ratio_micro") > 1000000L,
        s"(sub ${r.getAs[Int]("sub")}, cell ${r.getAs[Int]("cell")}): " +
          "shifted delta must drift") }
    val honest = SimilarityOps.pqDriftStats(cb, base, emb.where(isDelta))
      .collect().filter(_.getAs[Long]("n_delta") > 0)
    val worstHonest = honest.map(_.getAs[Long]("drift_mean_ratio_micro")).max
    val bestShifted = withDelta.map(_.getAs[Long]("drift_mean_ratio_micro")).min
    assert(bestShifted > worstHonest,
      s"shifted drift ($bestShifted) must exceed in-distribution ($worstHonest)")
  }

  test("PQ drift stats are deterministic across runs") {
    val isDelta = col("vec_id") % 10 === 9
    def run() = SimilarityOps.pqDriftStats(cb, emb.where(!isDelta),
      emb.where(isDelta)).orderBy("sub", "cell")
      .collect().map(_.toString).toSeq
    assert(run() == run())
  }
}
