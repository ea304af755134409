package graft.ops

import graft.functions.CosineSim
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (builder-prompt extension
  * surface; seeded by the reference's dead cosine_similarity import,
  * nlp_data_tagging.py:10).
  *
  * Cosine is the native codegen'd expression graft.functions.CosineSim —
  * one fused loop per pair, no per-element lambda interpretation, and
  * bit-compatible with the DuckDB oracle's left-fold formulation (see its
  * scaladoc), so the 1e6-scaled integer score verifies exactly.
  *
  * Scale design: brute-force top-k is the correctness baseline — it
  * broadcasts the (small) query set against the full candidate table, a
  * map-side cross product with a per-query top-k window (WindowGroupLimit
  * prunes before the shuffle). The multi-table sign-LSH variant is the
  * scale path: candidates are met only inside matching hash-table buckets,
  * then exactly reranked. At 100 TB the bucket id becomes the shuffle/
  * bucketing key, so probes touch one partition per table.
  */
object SimilarityOps {

  /** Cosine similarity scaled to an exact integer (micro-units). */
  def cosineMicro(a: Column, b: Column): Column =
    floor(lit(1000000.0) * CosineSim.cosineSim(a, b)).cast("long")

  /** Hyperplane-sign LSH bucket over dims [offset+1, offset+bits] — one
    * hash table of a multi-table index. Axis-aligned planes
    * (deterministic, engine-portable); random rotations would need a
    * seeded projection matrix — same plumbing, different constants.
    */
  def signBucketAt(a: Column, offset: Int, bits: Int): Column =
    (0 until bits)
      .map(d => when(element_at(a, offset + d + 1) > 0.0, lit(1L << d)).otherwise(0L))
      .reduce(_ + _)

  /** Single-table bucket over the first `bits` dims. */
  def signBucket(a: Column, bits: Int): Column = signBucketAt(a, 0, bits)

  /** THE banded sign-LSH key layout (band t buckets dims
    * [t·bits, (t+1)·bits)) over a [[prepared]] frame — one definition so
    * every consumer of the q28 index layout (near-dup pairs, the q173b
    * leakage probe, the streaming ingest screen) banding-matches by
    * construction. `carryEmb` names a column to carry the embedding
    * through the explode — the stateless-streaming shape, where a join
    * back to the stream for the vector is not possible.
    */
  private[ops] def bandedKeys(p: DataFrame, bits: Int, bands: Int,
                              idName: String = "vec_id",
                              carryEmb: Option[String] = None): DataFrame = {
    val bk = explode(array((0 until bands).map(t =>
      struct(lit(t).as("band"),
        signBucketAt(col("emb"), t * bits, bits).as("key"))): _*)).as("bk")
    val outNames = idName +: carryEmb.toSeq
    p.select((col("vec_id").as(idName) +:
        carryEmb.map(e => col("emb").as(e)).toSeq) :+ bk: _*)
      .select(outNames.map(col) ++
        Seq(col("bk.band").as("band"), col("bk.key").as("key")): _*)
  }

  /** `(vec_id, emb ARRAY<DOUBLE>)` staged projection of an embeddings
    * table — downstream lambdas/buckets must see attribute refs, not
    * nested expressions.
    */
  def prepared(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

  /** Normalized int8 scalar quantization (SQ8) of the embedding column —
    * the compression step every large ANN deployment runs (FAISS
    * `ScalarQuantizer`, public): each vector is L2-normalized and its
    * components mapped to `floor(x/|x| * 127 + 0.5)` ∈ [-127, 127], a 4×
    * memory cut that keeps cosine ranking ≈ intact because the integer
    * dot product of unit-normalized codes is a monotone ≈cosine score.
    * Normalizing FIRST makes the quantizer parameter-free (no corpus
    * max-abs pass) and engine-exact: norm is the left-to-right double
    * fold shared with [[CosineSim]]'s oracle contract, and each code is
    * one correctly-rounded divide/multiply/add then floor. Zero vectors
    * quantize to all-zero codes.
    *
    * Returns `(vec_id, codes ARRAY<INT>)` — narrow, no shuffle.
    */
  def sq8Codes(embeddings: DataFrame): DataFrame = {
    val p = prepared(embeddings)
    val withNrm = p.select(col("vec_id"), col("emb"),
      sqrt(aggregate(col("emb"), lit(0.0), (acc, x) => acc + x * x))
        .as("nrm"))
    withNrm.select(col("vec_id"),
      transform(col("emb"), x =>
        when(col("nrm") > 0.0, floor(x / col("nrm") * 127.0 + 0.5))
          .otherwise(0L).cast("int")).as("codes"))
  }

  /** Quantized brute-force top-k over [[sq8Codes]]: same query/candidate
    * contract as [[bruteForceTopK]] but scored by the exact INTEGER dot
    * product of the int8 codes — the scoring a SQ8 index does at scale
    * (integer SIMD over 4×-smaller vectors; cosine rank preserved up to
    * quantization error, which the recall test quantifies). All-integer
    * scores make even this approximate path bit-exactly oracle-checkable.
    */
  def sq8TopK(embeddings: DataFrame, everyNth: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = sq8Codes(embeddings)
    val q = c.where(col("vec_id") % everyNth === 0).toDF("query_id", "q_codes")
    // the fused native expression, not the zip_with/aggregate HOF pair —
    // this fold runs once per (query, candidate); agreement between the
    // two forms is property-tested (see sq8DotHof)
    val scored = c.toDF("cand_id", "c_codes")
      .join(broadcast(q), col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        graft.functions.IntDot.intDot(col("q_codes"), col("c_codes"))
          .as("dot_int"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dot_int").desc, col("cand_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
  }

  /** The higher-order reference formulation of [[graft.functions.IntDot]]
    * — kept as the agreement-test twin, never on the hot path.
    */
  def sq8DotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Two-stage retrieval: SQ8 integer-dot prefilter to `k × overfetch`
    * candidates, then EXACT float-cosine rerank of only those — the
    * production ANN shape (FAISS SQ/PQ + refine, public): the cheap
    * integer scan bounds the candidate set, the expensive exact metric
    * runs on a vanishing fraction of the corpus, and the output contract
    * (cos_micro, rank, ties by candidate id) matches [[bruteForceTopK]]
    * so recall is directly measurable. Both stages are deterministic, so
    * unlike most ANN indexes the whole two-stage path is bit-exactly
    * oracle-checkable.
    */
  def sq8RerankTopK(embeddings: DataFrame, everyNth: Int, k: Int,
                    overfetch: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = graft.CacheScope.persist(prepared(embeddings))
    val cand = sq8TopK(embeddings, everyNth, k * overfetch)
      .select(col("query_id"), col("cand_id"))
    val scored = cand
      .join(p.toDF("query_id", "q_emb"), "query_id")
      .join(p.toDF("cand_id", "c_emb"), "cand_id")
      .select(col("query_id"), col("cand_id"),
        cosineMicro(col("q_emb"), col("c_emb")).as("cos_micro"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_micro").desc, col("cand_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
  }

  /** Brute-force cosine top-k: for each query vector (`vec_id % everyNth ==
    * 0`), the k nearest other vectors by scaled cosine, ties broken by
    * candidate id. The query side is broadcast — candidates stream through
    * map-side, no shuffle of the big table.
    */
  def bruteForceTopK(embeddings: DataFrame, everyNth: Int, k: Int): DataFrame = {
    val p = prepared(embeddings)
    val q = p.where(col("vec_id") % everyNth === 0).toDF("query_id", "q_emb")
    val scored = p.toDF("cand_id", "c_emb")
      .join(broadcast(q), col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        cosineMicro(col("q_emb"), col("c_emb")).as("cos_micro"))
    topKPerQuery(scored, k)
  }

  /** Eval→train semantic leakage probe: for every held-out vector
    * (`vec_id % evalEveryNth == 0`, the q53/q73 bench-split convention
    * lifted to the embedding table), the single nearest TRAINING vector
    * by exact cosine, ties to the smaller train id. The broadcast side is
    * the EVAL set — small RELATIVE to train under this fixture's modulo
    * carve (~1/evalEveryNth of the same table, so it grows with the
    * corpus, unlike a true fixed eval bench); a production audit passes
    * a genuinely fixed eval-set relation instead (the [[leakEvidence]]
    * contract), which restores a constant-size broadcast while the
    * train side streams map-side with no shuffle, exactly
    * [[bruteForceTopK]]'s shape. The audit only needs "is max-cos ≥ θ", so at scales where
    * even one exact pass per eval vector is too hot, the q28 banded-LSH
    * machinery answers the thresholded question with candidates bounded
    * by collision density; this exact form is the oracle-checkable tier
    * the approximate one is measured against (the q153 pattern).
    */
  def splitLeakTop1(embeddings: DataFrame, evalEveryNth: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = prepared(embeddings)
    val q = p.where(col("vec_id") % evalEveryNth === 0)
      .toDF("eval_id", "q_emb")
    val scored = p.where(col("vec_id") % evalEveryNth =!= 0)
      .toDF("train_id", "c_emb")
      .crossJoin(broadcast(q))
      .select(col("eval_id"), col("train_id"),
        cosineMicro(col("q_emb"), col("c_emb")).as("cos_micro"))
    val w = Window.partitionBy("eval_id")
      .orderBy(col("cos_micro").desc, col("train_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .drop("rk")
  }

  /** The at-scale rung of [[splitLeakTop1]]: candidates come from the
    * banded sign-LSH index ([[cosineNearDupPairs]]'s layout) instead of
    * the full train side, so per-eval cost scales with collision density,
    * not corpus size — the same exact→banded dial as q162/q162b. The
    * audit's one-sided error is structural: the banded top-1 cosine is a
    * lower bound on the true max, so a `leaked` verdict here implies the
    * exact tier's verdict (never the reverse); recall of true leaks is
    * what the banded family trades, measured in CorpusPolicySpec. Evals
    * with an empty candidate set surface with NULL neighbor and
    * n_candidates = 0 — silence must be visible, not dropped.
    */
  def splitLeakTop1Lsh(embeddings: DataFrame, evalEveryNth: Int,
                       bits: Int, bands: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = graft.CacheScope.persist(prepared(embeddings))
    val banded = graft.CacheScope.persist(bandedKeys(p, bits, bands))
    val evalB = banded.where(col("vec_id") % evalEveryNth === 0)
      .select(col("vec_id").as("eval_id"), col("band"), col("key"))
    val trainB = banded.where(col("vec_id") % evalEveryNth =!= 0)
      .select(col("vec_id").as("train_id"), col("band"), col("key"))
    val cand = graft.CacheScope.persist(
      trainB.join(broadcast(evalB), Seq("band", "key"))
        .select("eval_id", "train_id").distinct())
    val scored = cand
      .join(p.toDF("eval_id", "q_emb"), "eval_id")
      .join(p.toDF("train_id", "c_emb"), "train_id")
      .select(col("eval_id"), col("train_id"),
        cosineMicro(col("q_emb"), col("c_emb")).as("cos_micro"))
    val w = Window.partitionBy("eval_id")
      .orderBy(col("cos_micro").desc, col("train_id").asc)
    val top1 = scored.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1).drop("rk")
    val counts = cand.groupBy("eval_id")
      .agg(count(lit(1)).as("n_candidates"))
    p.where(col("vec_id") % evalEveryNth === 0)
      .select(col("vec_id").as("eval_id"))
      .join(top1, Seq("eval_id"), "left")
      .join(counts, Seq("eval_id"), "left")
      .select(col("eval_id"), col("train_id"), col("cos_micro"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
  }

  /** Ingest-time decontamination screen: every incoming vector is checked
    * against a FIXED eval set via the q173b banded layout, emitting one
    * evidence row per (incoming, eval, band) collision whose exact cosine
    * clears `minMicro`. Deliberately stateless — the banding is a narrow
    * explode (the embedding rides along, so no self-join back to the
    * incoming side), the eval side is the small fixed broadcast, and the
    * confirm is row-local — so the SAME operator body runs batch or under
    * Structured Streaming with no watermark, no state, append mode (the
    * enrichByInterval precedent; parity in StreamingParitySpec).
    * Per-band evidence is the contract (a `distinct` would be a stateful
    * streaming aggregation); band multiplicity is collision strength.
    *
    * Only the INCOMING side carries its embedding through the band
    * explode (that side must stay stateless — there is no joining back
    * into a stream). The static eval side broadcasts two small relations
    * instead of one fat one: `(eval_id, band, key)` for the collision
    * join plus `(eval_id, e_emb)` joined back AFTER it by eval_id —
    * carrying the eval embedding through its own banding would replicate
    * every eval vector once per band inside the broadcast (bands× the
    * bytes for zero information; r12 ADVICE). Both joins are
    * broadcast-static, so the streaming twin stays append-mode legal.
    */
  def leakEvidence(incoming: DataFrame, evalVecs: DataFrame, bits: Int,
                   bands: Int, minMicro: Long): DataFrame = {
    val ev = broadcast(bandedKeys(prepared(evalVecs), bits, bands, "eval_id"))
    val evEmb = broadcast(prepared(evalVecs)
      .select(col("vec_id").as("eval_id"), col("emb").as("e_emb")))
    bandedKeys(prepared(incoming), bits, bands, "vec_id", Some("i_emb"))
      .join(ev, Seq("band", "key"))
      .join(evEmb, Seq("eval_id"))
      .select(col("vec_id"), col("eval_id"), col("band"),
        cosineMicro(col("i_emb"), col("e_emb")).as("cos_micro"))
      .where(col("cos_micro") >= minMicro)
  }

  /** Multi-table sign-LSH top-k: identical contract to bruteForceTopK but
    * candidates are the union of same-bucket vectors across `tables` hash
    * tables (table t buckets on dims [t*bits, (t+1)*bits)), then exact
    * rerank. A single sign table has recall ~p^bits per true neighbor
    * (p = 1 - θ/π per hyperplane); T tables lift it to 1-(1-p^bits)^T —
    * the standard LSH recall/cost dial. Recall vs brute force is
    * property-tested (DedupSimilaritySpec); the oracle verifies the
    * bucketed semantics exactly.
    */
  def bucketedTopK(embeddings: DataFrame, everyNth: Int, k: Int,
                   bits: Int, tables: Int): DataFrame = {
    val p = prepared(embeddings)
    val withBuckets = p.select(col("vec_id"), col("emb"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"),
          signBucketAt(col("emb"), t * bits, bits).as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val q = withBuckets.where(col("vec_id") % everyNth === 0)
      .select(col("vec_id").as("query_id"), col("tbl"), col("bucket"))
    val cand = withBuckets
      .select(col("vec_id").as("cand_id"), col("tbl"), col("bucket"))
      .join(broadcast(q), Seq("tbl", "bucket"))
      .where(col("cand_id") =!= col("query_id"))
      .select("query_id", "cand_id").distinct()
    val scored = cand
      .join(p.toDF("query_id", "q_emb"), "query_id")
      .join(p.toDF("cand_id", "c_emb"), "cand_id")
      .select(col("query_id"), col("cand_id"),
        cosineMicro(col("q_emb"), col("c_emb")).as("cos_micro"))
    topKPerQuery(scored, k)
  }

  /** Multi-probe sign-LSH top-k (Lv et al. 2007, public — the standard
    * recall lever that does NOT multiply index size): identical contract
    * to [[bucketedTopK]], but each query probes its exact bucket PLUS
    * every bucket at Hamming distance 1 in each table (for sign LSH the
    * most-likely-miss perturbations are single flipped hyperplane
    * signs). Same index, bits+1 probes per table instead of 1 —
    * candidates grow ~(bits+1)×, recall rises measurably
    * (DedupSimilaritySpec gates multi-probe > single-probe on the
    * fixture), where the alternative recall lever — more tables —
    * multiplies the stored index itself. Only the QUERY side explodes
    * probes; the candidate side still carries one bucket row per vector
    * per table, so the index layout and its bucketing key are unchanged.
    */
  def multiProbeTopK(embeddings: DataFrame, everyNth: Int, k: Int,
                     bits: Int, tables: Int): DataFrame = {
    val p = prepared(embeddings)
    val withBuckets = p.select(col("vec_id"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"),
          signBucketAt(col("emb"), t * bits, bits).as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val probes = withBuckets.where(col("vec_id") % everyNth === 0)
      .select(col("vec_id").as("query_id"), col("tbl"),
        explode(array(col("bucket") +:
          (0 until bits).map(b =>
            col("bucket").bitwiseXOR(lit(1L << b))): _*)).as("bucket"))
    val cand = withBuckets
      .select(col("vec_id").as("cand_id"), col("tbl"), col("bucket"))
      .join(broadcast(probes), Seq("tbl", "bucket"))
      .where(col("cand_id") =!= col("query_id"))
      .select("query_id", "cand_id").distinct()
    val scored = cand
      .join(p.toDF("query_id", "q_emb"), "query_id")
      .join(p.toDF("cand_id", "c_emb"), "cand_id")
      .select(col("query_id"), col("cand_id"),
        cosineMicro(col("q_emb"), col("c_emb")).as("cos_micro"))
    topKPerQuery(scored, k)
  }

  /** Metadata-FILTERED exact top-k — the "filtered vector search" every
    * production vector store exposes (retrieval constrained to a
    * category/language/tenant): for each query vector (`vec_id %
    * everyNth == 0`), the top-k among candidates sharing the query's
    * `label`, self excluded. The predicate is a per-row CONJUNCT on the
    * join, so a candidate outside it is never dotted — and because it is
    * candidate-side-local, the same filter composes unchanged with the
    * IVF/LSH candidate generators at scale (filter the probed cells'
    * members before scoring; recall per probed cell is unchanged within
    * the label's sub-corpus). This brute tier is the oracle-checkable
    * baseline, [[bruteForceTopK]]'s exact shape plus the label equi-key —
    * which also SHRINKS the join: the label becomes part of the
    * broadcast-hash key, so each candidate only meets the queries of its
    * own label.
    */
  def labelFilteredTopK(embeddings: DataFrame, everyNth: Int,
                        k: Int): DataFrame = {
    val p = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"), col("label"))
    val q = p.toDF("query_id", "q_emb", "label")
      .where(col("query_id") % everyNth === 0)
    val scored = p.toDF("cand_id", "c_emb", "label")
      .join(broadcast(q), Seq("label"))
      .where(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        cosineMicro(col("q_emb"), col("c_emb")).as("cos_micro"))
    topKPerQuery(scored, k)
  }

  /** [[labelFilteredTopK]]'s SCALE tier — the composability the brute
    * tier's scaladoc claims, executed: [[bucketedTopK]]'s multi-table
    * sign-LSH candidate generation with the label added to the bucket
    * equi-key (`(tbl, bucket, label)`), so out-of-label candidates never
    * even surface as candidates, then exact rerank of the survivors.
    * The index layout is unchanged — one bucket row per vector per
    * table, label carried as a partition-style key column — which is
    * exactly how a production store filters: the predicate narrows the
    * posting list BEFORE distance computation. Candidate volume per
    * query is bounded by in-label collision density; recall within the
    * label's sub-corpus matches unfiltered [[bucketedTopK]]'s at the
    * same dial (the hyperplanes don't see the label).
    */
  def labelFilteredTopKLsh(embeddings: DataFrame, everyNth: Int, k: Int,
                           bits: Int, tables: Int): DataFrame = {
    val p = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"), col("label"))
    val withBuckets = p.select(col("vec_id"), col("label"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"),
          signBucketAt(col("emb"), t * bits, bits).as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("label"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val q = withBuckets.where(col("vec_id") % everyNth === 0)
      .select(col("vec_id").as("query_id"), col("label"),
        col("tbl"), col("bucket"))
    val cand = withBuckets
      .select(col("vec_id").as("cand_id"), col("label"),
        col("tbl"), col("bucket"))
      .join(broadcast(q), Seq("tbl", "bucket", "label"))
      .where(col("cand_id") =!= col("query_id"))
      .select("query_id", "cand_id").distinct()
    val pe = p.select(col("vec_id"), col("emb"))
    val scored = cand
      .join(pe.toDF("query_id", "q_emb"), "query_id")
      .join(pe.toDF("cand_id", "c_emb"), "cand_id")
      .select(col("query_id"), col("cand_id"),
        cosineMicro(col("q_emb"), col("c_emb")).as("cos_micro"))
    topKPerQuery(scored, k)
  }

  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_micro").desc, col("cand_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
  }

  /** Aggregator-based brute-force kNN — same contract and tie rules as
    * bruteForceTopK but per-query top-k runs through the typed bounded-heap
    * Aggregator (graft.functions.TopKAggregator): partial aggregation
    * reduces each map task's candidates to k BEFORE the shuffle, so the
    * exchange carries tasks×k rows instead of every scored candidate — the
    * preferred shape when N(candidates) >> k at cluster scale.
    */
  def bruteForceTopKAgg(embeddings: DataFrame, everyNth: Int, k: Int): DataFrame = {
    import graft.functions.TopKAggregator
    val p = prepared(embeddings)
    val q = p.where(col("vec_id") % everyNth === 0).toDF("query_id", "q_emb")
    val scored = p.toDF("cand_id", "c_emb")
      .join(broadcast(q), col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        cosineMicro(col("q_emb"), col("c_emb")).as("cos_micro"))
    val spark = embeddings.sparkSession
    import spark.implicits._
    scored
      .select(col("query_id"),
        col("cand_id").as("id"), col("cos_micro").as("score"))
      .as[(Long, Long, Long)]
      .map { case (qid, id, s) => (qid, TopKAggregator.Scored(id, s)) }
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new TopKAggregator.TopK(k).toColumn)
      .flatMap { case (qid, top) =>
        top.iterator.zipWithIndex.map { case (s, i) =>
          (qid, s.id, s.score, (i + 1).toLong)
        }
      }
      .toDF("query_id", "cand_id", "cos_micro", "rk")
  }

  /** Hard-negative mining for contrastive training (DPR, Karpukhin et al.
    * 2020; SimCSE — public): for each anchor, the k candidates MOST
    * similar in embedding space that are NOT known positives of the
    * anchor — near the decision boundary but on the negative side, the
    * examples that actually move a contrastive loss. `exclusions` is the
    * directed known-positive relation `(id_a, id_b)` (duplicate-cluster
    * mates, embedding near-dup pairs — symmetrize before passing);
    * anchors are the `everyNth` sample UNION every id appearing on the
    * `id_a` side, so every vector with a known positive gets negatives
    * mined (the contrastive-training anchor set) and the exclusion filter
    * is exercised by construction, not vacuously.
    *
    * Ranking happens AFTER exclusion, so each anchor still receives a
    * full k negatives rather than k minus its positive count.
    *
    * Scale shape: the anchor set is a broadcast against the streamed
    * candidate table (same declared brute-force baseline as
    * [[bruteForceTopK]] — swap the candidate generator for the IVF/LSH
    * rungs when the corpus outgrows it); the exclusion anti-join keys on
    * (query_id, cand_id) and stays a broadcast while the positive
    * relation is duplicate-scale (≪ corpus at real dedup rates), degrading
    * to a shuffled anti-join past the threshold — both shapes correct.
    */
  def hardNegatives(embeddings: DataFrame, everyNth: Int, k: Int,
                    exclusions: DataFrame): DataFrame = {
    val p = prepared(embeddings)
    val excl = exclusions.select(col("id_a"), col("id_b"))
    val anchors = p.select(col("vec_id"))
      .where(col("vec_id") % everyNth === 0)
      .union(excl.select(col("id_a").as("vec_id")))
      .distinct()
    val q = p.join(broadcast(anchors), "vec_id").toDF("query_id", "q_emb")
    val scored = p.toDF("cand_id", "c_emb")
      .join(broadcast(q), col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        cosineMicro(col("q_emb"), col("c_emb")).as("cos_micro"))
    val negatives = scored.join(excl,
      scored("query_id") === excl("id_a") && scored("cand_id") === excl("id_b"),
      "left_anti")
    topKPerQuery(negatives, k)
  }

  /** IVF (inverted-file) top-k: KMeans partitions the vector space into
    * nCells centroids; each query probes only the nProbe nearest cells and
    * reranks their members exactly. The other classic ANN scale path next
    * to sign-LSH: cluster-adaptive cells fit real data distributions
    * better than fixed hyperplanes (higher recall at the same candidate
    * budget), at the cost of a training pass. Not oracle-portable (KMeans
    * has no DuckDB twin) — recall vs brute force is the check.
    *
    * At 100 TB the cell id is the partitioning/bucketing key: a probe
    * touches nProbe partitions instead of scanning the corpus.
    */
  /** A built IVF index: cell-assigned vectors and the (tiny) centroid
    * table. Build ONCE, probe many times — at scale `assigned` is what you
    * write out partitioned/bucketed by `cell`; rebuilding the index per
    * query would repeat the KMeans training pass.
    */
  case class IvfIndex(assigned: DataFrame, centroids: DataFrame)

  /** Training pass of [[ivfTopK]]: fit KMeans cells and assign every
    * vector to its cell.
    *
    * KMeans is used ONLY to learn the centroids; the base corpus is then
    * assigned through [[assignToCells]] — the same rule every delta
    * ([[ivfAppend]], the streaming ingest) uses. One assignment rule for
    * base and delta is what makes merge == recompute a guarantee rather
    * than a fixture-dependent observation: MLlib's own `transform` scores
    * with norm-based fastSquaredDistance (‖a‖²+‖b‖²−2a·b plus a precision
    * fallback), which on near-equidistant vectors can pick a different
    * cell than the exact Σ(x−y)² fold, so mixing the two rules could make
    * an appended vector land in a different cell than the same vector
    * re-assigned from scratch.
    */
  def buildIvfIndex(embeddings: DataFrame, nCells: Int): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val p = prepared(embeddings)
      .withColumn("fvec", array_to_vector(col("emb")))
    val km = new KMeans().setK(nCells).setSeed(42L)
      .setFeaturesCol("fvec").setPredictionCol("cell").fit(p)
    // centroid table is tiny: broadcast-join queries to their nProbe cells
    val centroids = km.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i.toLong, c.toArray)
    }
    val spark = embeddings.sparkSession
    import spark.implicits._
    val centDf = spark.createDataset(centroids.toSeq).toDF("cell", "centroid")
    IvfIndex(assignToCells(embeddings, centDf), centDf)
  }

  def ivfTopK(embeddings: DataFrame, everyNth: Int, k: Int,
              nCells: Int, nProbe: Int): DataFrame =
    ivfTopK(buildIvfIndex(embeddings, nCells), everyNth, k, nProbe)

  /** Squared Euclidean distance between two ARRAY<DOUBLE> columns — the
    * KMeans assignment metric, as one fused fold.
    */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** Assign arbitrary embeddings to an EXISTING centroid table: nearest
    * cell by squared Euclidean distance, ties to the lowest cell id
    * (KMeans `transform`'s own rule) — `(vec_id, emb, cell)`, the same
    * shape `buildIvfIndex` produces.
    *
    * ZERO-shuffle by construction: the centroid table is collected
    * (nCells rows — the same scalar-bound driver hop as q79e's probed-cell
    * set) into an array literal, and the argmin is one codegen'd fold per
    * row. The first cut cross-joined delta × nCells rows through a
    * per-vector window — a delta-sized shuffle that this shape removes
    * entirely, which matters both at 100 TB and per micro-batch in
    * [[graft.streaming.StreamingOps.ivfIngestStream]].
    */
  def assignToCells(embeddings: DataFrame, centroids: DataFrame): DataFrame = {
    // sorted by cell so a strict `<` fold keeps the LOWEST cell on ties,
    // matching KMeans findClosest
    val cents: Seq[(Long, Seq[Double])] = centroids
      .orderBy("cell")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    require(cents.nonEmpty, "empty centroid table")
    val centArr = typedlit(cents.map { case (cell, c) => (cell, c) })
    // stage (d2, cell) pairs with transform so each distance is computed
    // ONCE, then fold for the argmin — putting sqDist inside the fold's
    // `when` would duplicate the distance expression per comparison
    val dists = transform(centArr, c =>
      struct(sqDist(col("emb"), c.getField("_2")).as("d2"),
        c.getField("_1").as("cell")))
    val best = aggregate(
      dists,
      struct(lit(Double.MaxValue).as("d2"), lit(-1L).as("cell")),
      (acc, p) => when(p.getField("d2") < acc.getField("d2"), p).otherwise(acc))
    prepared(embeddings)
      .select(col("vec_id"), col("emb"), best.getField("cell").as("cell"))
  }

  /** Incremental IVF index maintenance: fold a DELTA of new vectors into
    * a built index WITHOUT retraining or re-assigning the base corpus.
    * The delta is assigned against the index's FROZEN centroids
    * ([[assignToCells]] — the same rule [[buildIvfIndex]] assigns the
    * base corpus with), so the merged assignment is row-identical to
    * assigning base ∪ delta against those same centroids — probes of the
    * merged index return exactly what a full re-assignment would
    * (merge == recompute, the q98 rollup property applied to the ANN
    * index; structural now that base and delta share one assignment
    * rule, and unit-gated in IvfAppendSpec). At 100 TB this is the
    * operational path: the stored cell-partitioned layout (q79e) absorbs
    * the delta as per-cell APPENDS — new files in existing cell
    * directories — while a retrain would rewrite the corpus.
    *
    * Deliberately NOT handled here: centroid drift. A sustained delta
    * stream that shifts the data distribution degrades cell balance and
    * recall; the production loop periodically retrains ([[buildIvfIndex]])
    * and swaps the index — a rebuild decision, not a merge operation.
    */
  def ivfAppend(index: IvfIndex, delta: DataFrame): IvfIndex =
    IvfIndex(
      index.assigned.unionByName(assignToCells(delta, index.centroids)),
      index.centroids)

  /** Centroid-drift statistic (q79g) — the NUMBER behind the rebuild
    * decision [[ivfAppend]]'s scaladoc defers: per cell, compare the
    * assignment-distance distribution of the APPENDED vectors against the
    * base corpus's. A delta drawn from the index's own distribution lands
    * at the same distances (ratio ≈ 1×); a drifted delta sits
    * systematically farther from the frozen centroids — rising mean/p95
    * ratios are the signal that cell balance and recall are degrading and
    * the periodic [[buildIvfIndex]] retrain is due.
    *
    * Engine-exact given the frozen centroids: per-row squared distance is
    * the one [[sqDist]] fold quantized to integer micro-units
    * (`floor(d2 × 1e6)`), means are integral `sum DIV n` (no float
    * accumulation-order dependence), p95 is the exact `percentile`
    * truncated to a long, and the mean-ratio is integral
    * `(delta_mean × 1e6) DIV base_mean`. Fully deterministic — the
    * rows-only tier's strongest check (q68b pattern: quantitative unit +
    * stable rows).
    *
    * Scale shape: both sides aggregate on `cell` — the SAME key the
    * stored layout partitions by, so at 100 TB the base statistics read
    * co-located per-cell files with no extra shuffle, and the delta side
    * is one broadcast-argmin pass ([[assignToCells]]) plus a cell-keyed
    * aggregation of delta-sized data. Exact `percentile` buffers each
    * cell's values; a corpus-scale deployment swaps it for
    * `approx_percentile` once the drift dial needs only ±ε.
    */
  def ivfDriftStats(index: IvfIndex, delta: DataFrame): DataFrame =
    ivfDriftStatsAssigned(index.assigned,
      assignToCells(delta, index.centroids), index.centroids)

  /** Per-bucket occupancy drift of a multi-table sign-LSH index between
    * the already-indexed base and an ingest delta — the staleness signal
    * for the LSH retrieval rungs (q26/q29b/q29g), twin to
    * [[ivfDriftStats]] (IVF) and [[pqDriftStats]] (PQ) but fully
    * engine-portable: buckets are deterministic sign patterns, so the
    * whole statistic (and any decision over it) hash-verifies against
    * the oracle, where the KMeans-backed twins cannot.
    *
    * One row per (tbl, bucket) seen on either side:
    * `(tbl, bucket, n_base, n_delta, drift_ratio_micro)` where the ratio
    * is the delta's occupancy share normalized by the base's —
    * `(n_delta * base_total * 1e6) div (n_base * delta_total)` — exactly
    * 1e6 when the delta distributes like the base. A bucket the base
    * never populated (`n_base = 0`) scores with the denominator floored
    * at one occupant — NOVEL mass is maximal drift, not unscorable
    * (otherwise a delta hashing entirely into virgin buckets would read
    * as healthy); NULL only when the delta side is empty.
    *
    * Scale shape: two bucket-keyed aggregations (each input scanned
    * once, tables unrolled as an array explode — no joins until the
    * ≤ tables·2^bits-row summaries meet) + a broadcast of the two 1-row
    * totals. Output is layout-bounded, never corpus-bounded.
    */
  def lshOccupancyDrift(base: DataFrame, delta: DataFrame,
                        bits: Int, tables: Int): DataFrame =
    lshOccupancyDriftFromCounts(
      lshOccupancy(base, bits, tables, "n_base"),
      lshOccupancy(delta, bits, tables, "n_delta"))

  /** The per-(table, bucket) occupancy histogram of a multi-table
    * sign-LSH layout — ≤ tables·2^bits rows, one corpus scan. LINEAR in
    * the input rows (plain counts), so per-batch histograms merge by
    * addition — the property [[graft.streaming.StreamingOps
    * .lshDriftStream]] builds its summary store on.
    */
  def lshOccupancy(emb: DataFrame, bits: Int, tables: Int,
                   n: String): DataFrame =
    prepared(emb)
      .select(explode(array((0 until tables).map(t =>
        struct(lit(t.toLong).as("tbl"),
          signBucketAt(col("emb"), t * bits, bits).as("bucket"))): _*))
        .as("tb"))
      .select(col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
      .groupBy("tbl", "bucket").agg(count(lit(1)).as(n))

  /** [[lshOccupancyDrift]] over ALREADY-AGGREGATED occupancy histograms
    * — the shape the streaming monitor's merged summary store yields.
    * Side totals are recovered from the histograms themselves: every
    * vector lands in exactly ONE bucket of table 0 (signBucketAt never
    * yields null — a null/NaN component folds to the 0 branch), so
    * `sum(n) where tbl = 0` IS the side's vector count, and the batch
    * and streaming paths stay bit-identical.
    */
  def lshOccupancyDriftFromCounts(baseOcc: DataFrame,
                                  deltaOcc: DataFrame): DataFrame = {
    def totalOf(occ: DataFrame, n: String, as: String): DataFrame =
      occ.where(col("tbl") === 0)
        .agg(coalesce(sum(col(n)), lit(0L)).as(as))
    val totals = broadcast(totalOf(baseOcc, "n_base", "base_total")
      .crossJoin(totalOf(deltaOcc, "n_delta", "delta_total")))
    baseOcc
      .join(deltaOcc, Seq("tbl", "bucket"), "full_outer")
      .select(col("tbl"), col("bucket"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"))
      .crossJoin(totals)
      .select(col("tbl"), col("bucket"), col("n_base"), col("n_delta"),
        // 128-bit intermediates (DECIMAL(38,0) here, HUGEINT in the
        // DuckDB twin): the three-factor product n_delta·base_total·1e6
        // overflows Long once n_delta × base_total passes ~9.2e12 —
        // reachable by a collapsed delta on a 10M-vector base, exactly
        // when the hard-cap trigger matters. DIV on positive decimals
        // floors identically in both engines, so exactness is preserved.
        when(col("delta_total") === 0, lit(null).cast("long"))
          .when(col("n_base") > 0,
            expr("(CAST(n_delta AS DECIMAL(38,0)) * base_total * 1000000)" +
              " DIV (CAST(n_base AS DECIMAL(38,0)) * delta_total)"))
          .otherwise(
            expr("(CAST(n_delta AS DECIMAL(38,0)) * base_total * 1000000)" +
              " DIV delta_total"))
          .as("drift_ratio_micro"))
  }

  /** The rebuild/keep decision over ANY per-group drift relation — the
    * consumer [[ivfDriftStats]]/[[pqDriftStats]]/[[lshOccupancyDrift]]
    * exist for, shared by all three index families so the decision logic
    * is verified once (hash-exact through the portable LSH instantiation,
    * q158) and reused verbatim by the KMeans-backed rows-only twins
    * (q158b). Input contract: one row per drift group carrying a
    * nullable `drift_ratio_micro` (1e6 = no drift). Emits ONE row:
    * `(index_name, n_groups, n_scored, n_drifted, max_ratio_micro,
    * rebuild)` with `rebuild` when at least `driftedPermille` of the
    * scored groups exceed `ratioThresholdMicro` OR any single group
    * reaches `hardCapMicro` — the second trigger exists because a
    * distribution COLLAPSE concentrates in few groups (every new vector
    * hashing to one bucket, one cell absorbing the whole delta) and a
    * breadth gate alone would read that catastrophic state as healthy.
    * Pure integer math — no float crosses the decision boundary.
    */
  def rebuildDecision(drift: DataFrame, indexName: String,
                      ratioThresholdMicro: Long,
                      driftedPermille: Long,
                      hardCapMicro: Long): DataFrame =
    drift.agg(
      count(lit(1)).as("n_groups"),
      count(col("drift_ratio_micro")).as("n_scored"),
      sum(when(col("drift_ratio_micro") > ratioThresholdMicro, 1L)
        .otherwise(0L)).as("n_drifted"),
      max(col("drift_ratio_micro")).as("max_ratio_micro"))
      .select(lit(indexName).as("index_name"),
        col("n_groups"), col("n_scored"),
        // empty drift relation: sum over zero rows is NULL in Spark but
        // the q158 oracle coalesces to 0 — pin the parity here (rebuild
        // was already false either way via the n_scored > 0 guard)
        coalesce(col("n_drifted"), lit(0L)).as("n_drifted"),
        coalesce(col("max_ratio_micro"), lit(0L)).as("max_ratio_micro"),
        (col("n_scored") > 0 &&
          (coalesce(col("n_drifted"), lit(0L)) * lit(1000L) >=
            lit(driftedPermille) * col("n_scored") ||
            coalesce(col("max_ratio_micro"), lit(0L)) >= hardCapMicro))
          .as("rebuild"))

  /** Execute-or-keep step of the index-maintenance loop — the operator
    * that CLOSES the rebuild cycle [[rebuildDecision]] opens (r11
    * verdict item 3: q158/q158b decide, nothing executed). Collects the
    * single decision row (1-row bounded — the scalar-broadcast class),
    * and when it says rebuild: heals any crashed prior swap, writes the
    * retrained tree into `$storePath-staging` via `writeStaging`, and
    * swaps it in through the proven park/rename protocol
    * ([[graft.sources.StoreSwap]] — the same root swap the DV store
    * uses, crash-recoverable at the next touch). The keep path never
    * touches the store. Returns whether a rebuild executed.
    */
  def executeRebuild(storePath: String, decision: DataFrame)
                    (writeStaging: String => Unit): Boolean = {
    import graft.sources.StoreSwap
    val rows = decision.select(col("rebuild")).collect()
    require(rows.length == 1,
      s"executeRebuild expects exactly one decision row, got ${rows.length}")
    val doRebuild = rows(0).getBoolean(0)
    // recovery runs on BOTH branches (an r12 review fix: a keep decision
    // after a crashed swap would otherwise leave the parked tree dead
    // until some later cycle happened to rebuild); only the rebuild
    // branch — the writer — sweeps a stale staging tree
    val fs = new org.apache.hadoop.fs.Path(storePath).getFileSystem(
      decision.sparkSession.sparkContext.hadoopConfiguration)
    StoreSwap.recover(fs, storePath, "executeRebuild",
      sweepStaging = doRebuild)
    if (doRebuild) {
      writeStaging(StoreSwap.stagingPath(storePath))
      StoreSwap.swapIn(fs, storePath, "executeRebuild")
    }
    doRebuild
  }

  /** IVF rebuild gated on a [[rebuildDecision]] row: retrain the index
    * on base ∪ delta ([[buildIvfIndex]] — seeded KMeans, so the retrain
    * is deterministic for a given corpus) and rewrite the stored
    * SQ8-coded cell tree (the q79e layout: partitioned by cell) through
    * [[executeRebuild]]'s staged swap. Returns the retrained index when
    * a rebuild ran, None when the decision said keep. At 100 TB the
    * retrain is the expensive, RARE branch — which is exactly why it
    * hides behind the drift gate — and the swap cost is two renames,
    * with probes reading the old tree until the rename lands.
    */
  def ivfRebuild(storePath: String, base: DataFrame, delta: DataFrame,
                 decision: DataFrame, nCells: Int): Option[IvfIndex] = {
    lazy val retrained = buildIvfIndex(base.unionByName(delta), nCells)
    val rebuilt = executeRebuild(storePath, decision) { staging =>
      ivfSq8Coded(retrained, base.unionByName(delta))
        .write.mode("overwrite").partitionBy("cell").parquet(staging)
    }
    if (rebuilt) Some(retrained) else None
  }

  /** PQ rebuild gated on a [[rebuildDecision]] row: retrain BOTH the
    * coarse IVF cells and the sub-space codebooks on base ∪ delta (a PQ
    * drift verdict indicts the codebook geometry, and the q104c tree
    * keys its files by the coarse cell — both must move together), then
    * rewrite the stored code tree (q104c layout) through the staged
    * swap. Returns (index, codebook) when a rebuild ran.
    */
  def pqRebuild(storePath: String, base: DataFrame, delta: DataFrame,
                decision: DataFrame, nCells: Int, m: Int, kSub: Int)
      : Option[(IvfIndex, PqCodebook)] = {
    lazy val merged = base.unionByName(delta)
    lazy val retrainedIvf = buildIvfIndex(merged, nCells)
    lazy val retrainedCb = trainPq(merged, m, kSub)
    val rebuilt = executeRebuild(storePath, decision) { staging =>
      ivfPqCoded(retrainedIvf, pqEncode(merged, retrainedCb))
        .write.mode("overwrite").partitionBy("cell").parquet(staging)
    }
    if (rebuilt) Some((retrainedIvf, retrainedCb)) else None
  }

  /** [[ivfDriftStats]] over ALREADY-ASSIGNED relations — the shape a
    * stored index (q79e) or an ingest tree
    * ([[graft.streaming.StreamingOps.ivfIngestStream]]) reads back
    * directly.
    */
  def ivfDriftStatsAssigned(baseAssigned: DataFrame, deltaAssigned: DataFrame,
                            centroids: DataFrame): DataFrame = {
    def d2stats(assigned: DataFrame, prefix: String): DataFrame =
      assigned.join(broadcast(centroids), Seq("cell"))
        .select(col("cell"),
          floor(sqDist(col("emb"), col("centroid")) * lit(1000000.0))
            .cast("long").as("d2"))
        .groupBy("cell")
        .agg(count(lit(1)).as(s"n_$prefix"),
          expr("sum(d2) DIV count(1)").as(s"${prefix}_mean_d2"),
          expr("CAST(percentile(d2, 0.95) AS BIGINT)").as(s"${prefix}_p95_d2"))
    // both stats relations aggregate to <= nCells rows by construction —
    // broadcast them so the final assembly never sorts (the static plan
    // picked SMJ for the outer joins without the hint)
    centroids.select("cell")
      .join(broadcast(d2stats(baseAssigned, "base")), Seq("cell"), "left")
      .join(broadcast(d2stats(deltaAssigned, "delta")), Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        col("base_mean_d2"), col("delta_mean_d2"),
        col("base_p95_d2"), col("delta_p95_d2"),
        driftRatio(col("base_mean_d2"), col("delta_mean_d2")))
  }

  /** Shared ratio rule of the d2-based drift statistics: NULL only when
    * the delta never reached the group; a ZERO-dispersion base group
    * (every base member exactly at its centroid — singleton cells do
    * this) absorbing real delta dispersion reads as MAXIMAL drift
    * (denominator floored at 1 micro-unit), not unscorable — a round-11
    * fix: the old `base > 0` guard nulled exactly the most-drifted cell
    * when a collapsed delta landed in a degenerate one, and the rebuild
    * decision then read the catastrophe as healthy. Both-zero reads
    * exactly 1e6 (a degenerate group matched perfectly is no drift).
    */
  /** Saturation ceiling of the drift ratio: 1e15 micro-units = a 1e9×
    * ratio, eight orders of magnitude beyond any decision gate — ratios
    * past it carry no additional information, and the clamp is what
    * keeps every branch in Int64 (see [[driftRatio]]).
    */
  val DriftRatioSaturationMicro = 1000000000000000L

  private def driftRatio(baseMean: Column, deltaMean: Column): Column =
    // 128-bit intermediates (DECIMAL(38,0)), the same widening the LSH
    // sibling got: delta_mean_d2 * 1000000 wraps Long once the mean
    // squared distance passes ~9.2e12 micro-units — unnormalized
    // embeddings at scale reach that exactly in the collapse regime the
    // hard-cap trigger exists for. The DIVIDEND is clamped to
    // saturation × divisor BEFORE the integral divide (decimal multiply,
    // ≤ 1e34 < 10^38), and the no-base branch is clamped directly, so
    // every branch lands back in BIGINT: the column type stays LongType
    // for the getAs[Long] consumers (IvfAppendSpec/PqSpec) and no ANSI
    // overflow is reachable — an r12 review fix: the first widening cut
    // changed the column to DECIMAL and left the 1-micro-base DIV branch
    // able to exceed Long.
    when(deltaMean.isNull, lit(null).cast("long"))
      .when(baseMean > 0,
        expr("CAST(LEAST(CAST(delta_mean_d2 AS DECIMAL(38,0)) * 1000000, " +
          s"CAST($DriftRatioSaturationMicro AS DECIMAL(38,0)) * base_mean_d2)" +
          " DIV base_mean_d2 AS BIGINT)"))
      .when(deltaMean === 0, lit(1000000L))
      .otherwise(
        expr("CAST(LEAST(CAST(delta_mean_d2 AS DECIMAL(38,0)) * 1000000, " +
          s"CAST($DriftRatioSaturationMicro AS DECIMAL(38,0))) AS BIGINT)"))
      .as("drift_mean_ratio_micro")

  /** Centroid-probe phase of the float IVF rung: each query's nProbe
    * nearest cells by centroid cosine — `(query_id, q_emb, cell)`, a
    * broadcast-sized relation (queries × nProbe rows). The
    * [[ivfSq8ProbeCells]] split applied to the uncompressed tier, so the
    * probe is independently derivable and [[ivfScore]] is a pure
    * function of (assignment, probes) — the deterministic contract the
    * rows-only q29d leans on (DedupSimilaritySpec: all cells probed ⇒
    * byte-identical to brute force, because every candidate sits in
    * exactly one cell and the scoring expression and tie rule are shared
    * with [[bruteForceTopK]]).
    */
  def ivfProbeCells(index: IvfIndex, everyNth: Int,
                    nProbe: Int): DataFrame = {
    val q = index.assigned.where(col("vec_id") % everyNth === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    q.crossJoin(broadcast(index.centroids))
      .select(col("query_id"), col("q_emb"), col("cell"),
        cosineMicro(col("q_emb"), col("centroid")).as("cdist"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("cdist").desc, col("cell").asc)))
      .where(col("rk") <= nProbe)
      .select("query_id", "q_emb", "cell")
  }

  /** Scoring phase of [[ivfTopK]] over an already-derived probe
    * relation. `assigned` may be the in-memory index half or a stored
    * cell-partitioned layout read back pruned to the probed cells — the
    * plan is identical either way (the q79e contract, float tier).
    */
  def ivfScore(assigned: DataFrame, qCells: DataFrame, k: Int): DataFrame = {
    // broadcast the probe relation (queries × nProbe rows by construction):
    // the corpus-sized assignment must stream map-side, never shuffle on
    // cell into a sort-merge join (ivfSq8Score already does this; without
    // the hint the static plan picked SMJ when `assigned` was a fresh
    // union rather than a persisted memo)
    val scored = broadcast(qCells)
      .join(assigned.toDF("cand_id", "c_emb", "cell"), Seq("cell"))
      .where(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        cosineMicro(col("q_emb"), col("c_emb")).as("cos_micro"))
    // no distinct: `assigned` puts each candidate in exactly ONE cell, so a
    // (query, cand) pair arises at most once even with nProbe > 1 —
    // uniqueness is structural, and a distinct here would buy an extra
    // exchange in the probe path for nothing
    topKPerQuery(scored, k)
  }

  /** Probe pass over a prebuilt index. */
  def ivfTopK(index: IvfIndex, everyNth: Int, k: Int,
              nProbe: Int): DataFrame =
    ivfScore(index.assigned, ivfProbeCells(index, everyNth, nProbe), k)

  /** The stored relation of the IVF-SQ8 composed index: each vector's SQ8
    * codes co-located with its IVF cell. Build once next to
    * [[buildIvfIndex]]'s assignment; at 100 TB this is what you write out
    * PARTITIONED BY cell, so a probe's cell-key join prunes partitions and
    * reads nProbe cells' codes, never the corpus.
    */
  def ivfSq8Coded(index: IvfIndex, embeddings: DataFrame): DataFrame =
    index.assigned.select(col("vec_id"), col("cell"))
      .join(sq8Codes(embeddings), "vec_id")
      .select(col("vec_id"), col("cell"), col("codes"))

  /** IVF-SQ8 composed retrieval (the standard FAISS IVF-SQ shape, public):
    * a query probes its `nProbe` nearest KMeans cells, scores ONLY those
    * cells' int8 codes with the fused integer dot product, keeps
    * `k × overfetch` candidates, then exactly reranks that handful in
    * float cosine. This closes [[sq8TopK]]'s scaladoc'd limitation: the
    * quantized stage-1 cost per query drops from O(N) (the flat scan
    * [[sq8RerankTopK]] still pays) to O(N · nProbe / nCells), while the
    * exact metric touches only k × overfetch rows. Deterministic given the
    * fitted cells, but not oracle-portable (KMeans has no DuckDB twin) —
    * recall vs brute force is the check (DedupSimilaritySpec).
    */
  def ivfSq8TopK(index: IvfIndex, coded: DataFrame, everyNth: Int, k: Int,
                 nProbe: Int, overfetch: Int): DataFrame =
    ivfSq8Score(index,
      coded, ivfSq8ProbeCells(index, coded, everyNth, nProbe), k, overfetch)

  /** Centroid-probe phase of [[ivfSq8TopK]]: which `nProbe` cells each
    * query scores, carrying the query's own SQ8 codes —
    * `(query_id, q_codes, cell)`, a broadcast-sized relation (queries ×
    * nProbe rows). Split out so callers probing a STORED index (q79e) can
    * derive the probed-cell set BEFORE touching the coded relation and
    * push it into the stored scan as a partition filter.
    */
  def ivfSq8ProbeCells(index: IvfIndex, coded: DataFrame, everyNth: Int,
                       nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // queries carry codes (stage 1) and the float vector (centroid probe);
    // both query relations are N/everyNth rows — broadcast size
    val q = index.assigned.where(col("vec_id") % everyNth === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
      .join(coded.where(col("vec_id") % everyNth === 0)
        .select(col("vec_id").as("query_id"), col("codes").as("q_codes")),
        "query_id")
    q.crossJoin(broadcast(index.centroids))
      .select(col("query_id"), col("q_codes"), col("cell"),
        cosineMicro(col("q_emb"), col("centroid")).as("cdist"))
      .withColumn("crk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cdist").desc, col("cell").asc)))
      .where(col("crk") <= nProbe)
      .select("query_id", "q_codes", "cell")
  }

  /** Scoring + rerank phase of [[ivfSq8TopK]] over an already-derived
    * probe relation. `coded` here may be the in-memory index half OR its
    * stored layout read back (q79e) — the plan is identical either way;
    * only the scan under it changes.
    */
  def ivfSq8Score(index: IvfIndex, coded: DataFrame, qCells: DataFrame,
                  k: Int, overfetch: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = index.assigned
    // stage 1: integer-dot scoring inside probed cells only — the coded
    // index streams map-side against the broadcast (query, cell) probes,
    // and the score is computed solely for same-cell candidates
    val stage1 = coded.toDF("cand_id", "cell", "c_codes")
      .join(broadcast(qCells), Seq("cell"))
      .where(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        graft.functions.IntDot.intDot(col("q_codes"), col("c_codes"))
          .as("dot_int"))
    // a candidate lives in exactly ONE cell, so (query, cand) is unique
    // across probes — no distinct needed (same argument as ivfTopK)
    val cand = stage1.withColumn("prk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("dot_int").desc, col("cand_id").asc)))
      .where(col("prk") <= k * overfetch)
      .select("query_id", "cand_id")
    // stage 2: exact float-cosine rerank of k × overfetch rows per query
    val scored = cand
      .join(assigned.select(col("vec_id").as("query_id"), col("emb").as("q_emb")),
        "query_id")
      .join(assigned.select(col("vec_id").as("cand_id"), col("emb").as("c_emb")),
        "cand_id")
      .select(col("query_id"), col("cand_id"),
        cosineMicro(col("q_emb"), col("c_emb")).as("cos_micro"))
    topKPerQuery(scored, k)
  }

  /** The label-carrying coded IVF layout: [[ivfSq8Coded]]'s relation plus
    * each vector's metadata `label` — `(vec_id, cell, label, codes)`.
    * The layout is unchanged from q79e's store (written PARTITIONED BY
    * cell); the label rides as a key COLUMN of the posting list, which is
    * exactly how a production store serves filtered queries: the
    * partition key stays the geometry (cell), the predicate column sits
    * in the row group where the probe's join key can consume it.
    */
  def ivfSq8CodedLabeled(index: IvfIndex, embeddings: DataFrame): DataFrame =
    ivfSq8Coded(index, embeddings)
      .join(embeddings.select(col("vec_id"), col("label")), "vec_id")
      .select(col("vec_id"), col("cell"), col("label"), col("codes"))

  /** [[ivfSq8ProbeCells]] carrying each query's label — `(query_id,
    * q_codes, label, cell)`, still queries × nProbe rows (broadcast
    * size). The label joins from the same embeddings relation the codes
    * come from, so probe and posting list can never disagree on a
    * vector's label.
    */
  def labelFilteredIvfProbeCells(index: IvfIndex, coded: DataFrame,
                                 labels: DataFrame, everyNth: Int,
                                 nProbe: Int): DataFrame =
    ivfSq8ProbeCells(index, coded, everyNth, nProbe)
      .join(labels.select(col("vec_id").as("query_id"), col("label")),
        "query_id")
      .select("query_id", "q_codes", "label", "cell")

  /** Label-FILTERED IVF-SQ8 retrieval — the composition
    * [[labelFilteredTopK]]'s scaladoc claims, executed on the stored
    * tier: stage-1 ADC (the fused integer dot over SQ8 codes) joins the
    * coded posting list to the broadcast probes on `(cell, label)`, so
    * an out-of-label member of a probed cell is dropped by the join hash
    * key BEFORE its codes are ever dotted — the predicate narrows the
    * posting list below the score, the q187b shape at the IVF rung.
    * Rerank is [[ivfSq8Score]]'s exact float-cosine pass over the
    * k × overfetch survivors (already in-label by construction). Given
    * the fitted cells the output is deterministic but KMeans has no
    * DuckDB twin → rows-only; recall vs the filtered brute truth (q187)
    * is the check, and the all-cells-probed float-tier identity
    * ([[labelFilteredIvfScore]] ≡ [[labelFilteredTopK]]) pins the
    * filtering semantics exactly (DedupSimilaritySpec).
    */
  def labelFilteredIvfSq8Score(index: IvfIndex, labeledCoded: DataFrame,
                               qCells: DataFrame, k: Int,
                               overfetch: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = index.assigned
    val stage1 = labeledCoded.toDF("cand_id", "cell", "label", "c_codes")
      .join(broadcast(qCells), Seq("cell", "label"))
      .where(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        graft.functions.IntDot.intDot(col("q_codes"), col("c_codes"))
          .as("dot_int"))
    val cand = stage1.withColumn("prk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("dot_int").desc, col("cand_id").asc)))
      .where(col("prk") <= k * overfetch)
      .select("query_id", "cand_id")
    val scored = cand
      .join(assigned.select(col("vec_id").as("query_id"), col("emb").as("q_emb")),
        "query_id")
      .join(assigned.select(col("vec_id").as("cand_id"), col("emb").as("c_emb")),
        "cand_id")
      .select(col("query_id"), col("cand_id"),
        cosineMicro(col("q_emb"), col("c_emb")).as("cos_micro"))
    topKPerQuery(scored, k)
  }

  /** Float tier of the filtered-IVF composition, for the exactness unit:
    * [[ivfScore]] with the label in the `(cell, label)` join key over a
    * label-carrying assignment `(vec_id, emb, label, cell)` and a
    * label-carrying probe `(query_id, q_emb, label, cell)`. With every
    * cell probed this is [[labelFilteredTopK]] bit-exactly (the q29d
    * identity argument, filtered): the cell key partitions the corpus,
    * so probing all of it makes the join's candidate set = the label's
    * whole sub-corpus.
    */
  def labelFilteredIvfScore(assignedLabeled: DataFrame, qCells: DataFrame,
                            k: Int): DataFrame = {
    val scored = broadcast(qCells)
      .join(assignedLabeled.toDF("cand_id", "c_emb", "label", "cell"),
        Seq("cell", "label"))
      .where(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        cosineMicro(col("q_emb"), col("c_emb")).as("cos_micro"))
    topKPerQuery(scored, k)
  }

  /** Embedding-cosine near-duplicate pairs, multi-band sign-LSH blocked:
    * pairs sharing at least one per-band bucket (band t buckets on dims
    * [t*bits, (t+1)*bits)) with scaled cosine >= minMicro. The
    * embedding-space analogue of DedupOps.simhashPairs.
    *
    * Scale design: `bits` sets the per-band key domain (2^bits buckets) —
    * the self-join's shuffle parallelism AND its per-bucket pair count.
    * A single narrow bucket (the previous 8-bit design) caps the join at
    * 256 keys and goes quadratic inside hot buckets at corpus scale;
    * 16-bit bands give a 2^16 domain per band. `bands` is the recall dial
    * (P[caught] = 1-(1-p^bits)^bands, p = 1 - θ/π per hyperplane). Only
    * (id, band, key) rows pass through the banded self-join — vectors are
    * re-fetched by id for the exact rerank, so the wide embedding column
    * is never multiplied by the band count or the collision count.
    */
  def cosineNearDupPairs(embeddings: DataFrame, bits: Int, bands: Int,
                         minMicro: Long): DataFrame = {
    val p = prepared(embeddings)
    // persisted: both sides of the banded self-join consume this frame,
    // and the sign-bucket keys (bits-per-band hyperplane dot signs) are
    // the expensive part — 12 bytes a row cached vs recomputing the
    // projections twice
    val banded = graft.CacheScope.persist(bandedKeys(p, bits, bands))
    val cand = banded.toDF("id_a", "band", "key")
      .join(banded.toDF("id_b", "band", "key"), Seq("band", "key"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(p.toDF("id_a", "a_emb"), "id_a")
      .join(p.toDF("id_b", "b_emb"), "id_b")
      .select(col("id_a"), col("id_b"),
        cosineMicro(col("a_emb"), col("b_emb")).as("cos_micro"))
      .where(col("cos_micro") >= minMicro)
  }

  /** SemDedup-style semantic deduplication (Abbas et al. 2023, public):
    * drop every vector that is the HIGHER id of some near-duplicate pair,
    * keep the rest — pair-minimal retention. The paper blocks candidates
    * with k-means clusters; here they come from the engine's portable
    * banded sign-LSH ([[cosineNearDupPairs]]), which keeps the whole
    * relation oracle-verifiable. Note the semantics: transitive chains
    * a~b~c drop BOTH b and c (each is a pair's higher id) — deterministic
    * and order-free, unlike the paper's sequential greedy. For
    * component-canonical retention (keep one per transitive cluster) see
    * DedupOps.duplicateClusters / the q50b curation variant.
    *
    * Scale shape: the pair relation is banded-LSH (never all-pairs), the
    * dropped-id set distincts on vec_id, and the anti-join shuffles on
    * vec_id — every key high-cardinality, no broadcast of the corpus.
    */
  def semanticDedup(embeddings: DataFrame, bits: Int, bands: Int,
                    minMicro: Long): DataFrame = {
    val dropped = cosineNearDupPairs(embeddings, bits, bands, minMicro)
      .select(col("id_b").as("vec_id")).distinct()
    embeddings.join(dropped, Seq("vec_id"), "left_anti")
  }

  /** Quantization scale for [[centroidOutliers]]: embedding components map
    * to integer milliunits (`floor(x * 1000)`).
    */
  val QuantScale = 1000.0

  /** Per-label centroid-distance outlier ranking — the dataset-pruning
    * signal of SSL-prototypicality / SemDedup-style curation (Sorscher et
    * al. 2022, public): vectors far from their class centroid are likely
    * mislabeled or junk. Engine-exact by integer quantization:
    *
    *   1. components quantize to integer milliunits (one deterministic
    *      IEEE multiply + floor per element — no float accumulates);
    *   2. centroids are per-(label, dim) integer SUMS (order-independent,
    *      exact at any partial-aggregation order), floor-divided by the
    *      label count — the only division, a single IEEE double op;
    *   3. each vector's squared distance to its centroid is an integer
    *      `zip_with` fold — max |q - c| ~ 2·QuantScale·|x|max, so the
    *      64-dim sum sits far below Int64 at any corpus size;
    *   4. per-label row_number by (dist² desc, vec_id) takes the top k.
    *
    * Scale shape: the quantized table is persisted (centroid aggregate +
    * probe side both consume it); the centroid relation is labels × dims
    * rows reassembled to labels rows — broadcast by construction; the
    * probe side is a narrow per-row fold; the final window partitions by
    * label with WindowGroupLimit pruning before the shuffle.
    */
  def centroidOutliers(embeddings: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quant = graft.CacheScope.persist(
      embeddings.select(col("vec_id"), col("label"),
        transform(col("embedding"),
          x => floor(x.cast("double") * QuantScale).cast("long")).as("qv")))
    val sums = quant
      .select(col("label"), posexplode(col("qv")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
    val centroids = sums
      .select(col("label"), col("dim"),
        floor(col("s").cast("double") / col("n").cast("double"))
          .cast("long").as("c"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        s => s.getField("c")).as("cv"))
    val scored = quant.join(broadcast(centroids), Seq("label"))
      .select(col("vec_id"), col("label"),
        aggregate(zip_with(col("qv"), col("cv"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, d) => acc + d).as("dist2"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("label"))
          .orderBy(col("dist2").desc, col("vec_id"))))
      .where(col("rank") <= k)
      .select(col("vec_id"), col("label"), col("dist2"),
        col("rank").cast("long").as("rank"))
  }

  // --- Product Quantization (the FAISS PQ/IVF-PQ compression tier) -------

  /** A trained PQ codebook: `codebook` is `(sub, cell, centroid)` —
    * m × kSub rows, the entire index metadata (tiny: broadcast/collect by
    * construction, like [[IvfIndex.centroids]]). `dSub` = dim / m is the
    * per-subspace width. Train ONCE, encode/probe many times.
    */
  case class PqCodebook(codebook: DataFrame, m: Int, kSub: Int, dSub: Int)

  /** Most vectors [[trainPq]] samples for its codebook fits. */
  private val PqSampleCap = 16384

  /** Train a product quantizer (FAISS `ProductQuantizer`, public): the
    * embedding space is split into `m` contiguous subspaces of dim/m
    * dims each, and an independent KMeans codebook of `kSub` centroids is
    * fit per subspace. A vector's PQ code is its m per-subspace nearest
    * cells — log2(kSub) bits per subspace, so m=8 × kSub=16 compresses a
    * 64-dim float vector 64× (256 B → 4 B). Where SQ8 ([[sq8Codes]]) cuts
    * memory 4× by narrowing each component, PQ cuts it another order of
    * magnitude by replacing whole subvectors with codebook ids — the
    * compression that makes billion-vector indexes fit in RAM.
    *
    * Training runs m seeded Lloyd's fits over a BOUNDED deterministic
    * sample (`PqSampleCap` vectors in xxhash64(vec_id) order) collected to
    * the driver — the published PQ practice (FAISS trains codebooks on a
    * bounded sample however large the index) and the same
    * bounded-collect-plus-driver-CPU contract as
    * [[graft.ops.BpeTrainOps]]: the sample is `PqSampleCap × dim` doubles
    * at ANY corpus size, and m × kSub × dSub × iters driver flops replace
    * m sequential MLlib fits' worth of tiny cluster jobs (measured: the
    * distributed-fit version cost 17.8 s cold on the sf0.1 fixture —
    * all job scheduling, no compute; the sample fit runs in
    * milliseconds). Seeds are 42+sub so subspaces draw distinct inits
    * deterministically; ties in both init and assignment break to the
    * lowest index, so given the seeds the whole codebook is
    * bit-reproducible across JVMs (unit-gated in PqSpec).
    */
  def trainPq(embeddings: DataFrame, m: Int, kSub: Int): PqCodebook = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val p = prepared(embeddings)
    // one-row peek for the dimensionality — not a corpus scan
    val dim = p.select(size(col("emb"))).head.getInt(0)
    require(dim % m == 0, s"embedding dim $dim not divisible by m=$m")
    val dSub = dim / m
    // content-independent hash order: deterministic, re-ingestion-stable,
    // and unbiased w.r.t. id assignment order
    val sample: Array[Array[Double]] = p
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(PqSampleCap)
      .select(col("emb")).collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "cannot train a PQ codebook on an empty corpus")
    val rows = (0 until m).flatMap { s =>
      val sub = sample.map(v =>
        java.util.Arrays.copyOfRange(v, s * dSub, (s + 1) * dSub))
      lloyd(sub, kSub, seed = 42L + s).zipWithIndex.map { case (c, j) =>
        (s, j, c.toSeq)
      }
    }
    PqCodebook(
      spark.createDataset(rows).toDF("sub", "cell", "centroid"), m, kSub, dSub)
  }

  /** Seeded single-threaded Lloyd's over a driver-resident sample:
    * kmeans++ (D²-weighted) init, assignment ties to the lowest cell id
    * (the [[assignToCells]] rule, so the trained centroids and the
    * engine's encoder agree on boundaries), an empty cell reseeds to the
    * point farthest from its current centroid (deterministic: max dist²,
    * ties to the lowest point index). Fixed iteration cap; stops early
    * when assignments fix. Pure sequential double arithmetic in array
    * order — bit-reproducible for a given (sample, k, seed).
    */
  private def lloyd(xs: Array[Array[Double]], k: Int, seed: Long,
                    maxIter: Int = 25): Array[Array[Double]] = {
    val d = xs.head.length
    val n = xs.length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    val rnd = new scala.util.Random(seed)
    // kmeans++ init over the sample; if n < k the tail cells repeat
    // points — they lose every argmin tie to the lower-id copy, which is
    // deterministic and harmless
    val cents = Array.ofDim[Double](k, d)
    xs(rnd.nextInt(n)).copyToArray(cents(0))
    val minD2 = xs.map(x => d2(x, cents(0)))
    for (c <- 1 until k) {
      val total = minD2.sum
      val pick =
        if (total <= 0) c % n // degenerate: no distance mass left
        else {
          var r = rnd.nextDouble() * total
          var i = 0
          while (i < n - 1 && r >= minD2(i)) { r -= minD2(i); i += 1 }
          i
        }
      xs(pick).copyToArray(cents(c))
      var i = 0
      while (i < n) {
        val nd = d2(xs(i), cents(c))
        if (nd < minD2(i)) minD2(i) = nd
        i += 1
      }
    }
    val assign = Array.fill(n)(-1)
    var moved = true
    var iter = 0
    while (moved && iter < maxIter) {
      moved = false
      var i = 0
      while (i < n) {
        var best = 0
        var bestD = d2(xs(i), cents(0))
        var c = 1
        while (c < k) {
          val dd = d2(xs(i), cents(c))
          if (dd < bestD) { bestD = dd; best = c } // strict < keeps lowest id
          c += 1
        }
        if (assign(i) != best) { assign(i) = best; moved = true }
        i += 1
      }
      if (moved) {
        val sums = Array.ofDim[Double](k, d)
        val counts = new Array[Int](k)
        i = 0
        while (i < n) {
          val c = assign(i)
          counts(c) += 1
          var j = 0
          while (j < d) { sums(c)(j) += xs(i)(j); j += 1 }
          i += 1
        }
        // points consumed by reseeds THIS step: two cells empty in the
        // same update must take DISTINCT farthest points — sharing one
        // would leave duplicate centroids that lose every strict-< argmin
        // tie forever and waste code space
        val taken = new java.util.BitSet(n)
        for (c <- 0 until k) {
          if (counts(c) > 0) {
            var j = 0
            while (j < d) { cents(c)(j) = sums(c)(j) / counts(c); j += 1 }
          } else {
            // deterministic empty-cell reseed: farthest UNUSED point from
            // its own centroid (max d2, ties to lowest index)
            var far = -1
            var farD = -1.0
            var pt = 0
            while (pt < n) {
              if (!taken.get(pt)) {
                val dd = d2(xs(pt), cents(assign(pt)))
                if (dd > farD) { farD = dd; far = pt }
              }
              pt += 1
            }
            if (far >= 0) { // fewer points than empty cells: leave as-is
              taken.set(far)
              xs(far).copyToArray(cents(c))
            }
          }
        }
      }
      iter += 1
    }
    cents
  }

  /** Collected codebook, per subspace sorted by cell id — the same
    * scalar-bound driver hop as [[assignToCells]] (m × kSub rows total).
    */
  private def collectCodebook(cb: PqCodebook): Map[Int, Seq[(Int, Seq[Double])]] =
    cb.codebook.orderBy("sub", "cell").collect()
      .map(r => (r.getInt(0), (r.getInt(1), r.getSeq[Double](2).toSeq)))
      .groupBy(_._1).map { case (s, rs) => (s, rs.map(_._2).toSeq) }

  /** Stage the m subvector projections of `embCol` as attribute columns
    * `sv0..sv{m-1}` so the per-subspace argmin folds consume plain refs.
    */
  private def stageSub(df: DataFrame, idCol: String, embCol: String,
                       cb: PqCodebook): DataFrame =
    df.select(col(idCol) +: (0 until cb.m).map(s =>
      slice(col(embCol), s * cb.dSub + 1, cb.dSub).as(s"sv$s")): _*)

  private def stagedSubvectors(embeddings: DataFrame, cb: PqCodebook): DataFrame =
    stageSub(prepared(embeddings), "vec_id", "emb", cb)

  /** LUT entry columns over staged `sv*` attributes, ordered (sub, cell)
    * so entry `s*kSub + code` is ‖q_s − centroid[s][code]‖² — the order
    * [[adcExpr]] indexes by.
    */
  private def lutColumns(cb: PqCodebook,
                         cents: Map[Int, Seq[(Int, Seq[Double])]]): Seq[Column] =
    for (s <- 0 until cb.m; (cell, c) <- cents(s).toSeq) yield
      sqDist(col(s"sv$s"), typedlit(c)).as(s"d_${s}_$cell")

  /** ADC distance: m lookups of a candidate's `codes` into the query's
    * `lut` array, summed.
    */
  private def adcExpr(cb: PqCodebook): Column =
    (0 until cb.m).map(s =>
      element_at(col("lut"),
        (lit(s * cb.kSub) + element_at(col("codes"), s + 1) + 1).cast("int")))
      .reduce(_ + _)

  /** Encode vectors against a trained codebook: `(vec_id, codes ARRAY<INT>)`
    * with `codes[s]` the nearest subspace-s cell by squared Euclidean
    * distance, ties to the lowest cell id — [[assignToCells]]'s rule,
    * applied per subspace. ZERO-shuffle by the same construction: the
    * codebook is an array literal and each code is one codegen'd argmin
    * fold, so encoding a delta (or a stream micro-batch) is a narrow map —
    * the property that makes PQ indexes appendable exactly like
    * [[ivfAppend]]'s cell assignment.
    */
  def pqEncode(embeddings: DataFrame, cb: PqCodebook): DataFrame = {
    val cents = collectCodebook(cb)
    require(cents.size == cb.m, s"codebook covers ${cents.size} of ${cb.m} subspaces")
    val codeCols = (0 until cb.m).map { s =>
      val centArr = typedlit(cents(s))
      val dists = transform(centArr, c =>
        struct(sqDist(col(s"sv$s"), c.getField("_2")).as("d2"),
          c.getField("_1").as("cell")))
      aggregate(dists,
        struct(lit(Double.MaxValue).as("d2"), lit(-1).as("cell")),
        (acc, pr) => when(pr.getField("d2") < acc.getField("d2"), pr)
          .otherwise(acc))
        .getField("cell")
    }
    stagedSubvectors(embeddings, cb)
      .select(col("vec_id"), array(codeCols: _*).as("codes"))
  }

  /** Codebook-drift statistic for a FROZEN product quantizer — the PQ
    * analogue of [[ivfDriftStatsAssigned]], and the rebuild-decision
    * signal [[pqEncode]]'s append path defers to: a PQ code tree built
    * once and appended to forever silently degrades as the data
    * distribution moves away from the trained codebooks (quantization
    * error grows, ADC rankings rot), exactly like frozen IVF centroids —
    * but per SUBSPACE, since each of the m codebooks can go stale
    * independently (e.g. one embedding-model component shifts).
    *
    * Per (sub, cell): count and integer-quantized quantization-error
    * distribution (mean, p95 of ‖subvector − assigned centroid‖² in
    * micro-units) of the BASE corpus vs an incoming DELTA, plus the
    * delta/base mean ratio in micro-units — ratio exactly 1e6 when the
    * delta is drawn from the base itself (same integral arithmetic both
    * sides), strictly above under real drift (unit-gated in PqSpec,
    * mirroring IvfAppendSpec's contract).
    *
    * Scale shape: the codebook is an array literal, so each side is ONE
    * narrow map over its vectors (m codegen'd argmin folds per row — the
    * [[pqEncode]] expression with the distance kept) followed by a
    * (sub, cell)-keyed aggregation to ≤ m·kSub rows; the two stats
    * relations are broadcast into the final grid assembly, which never
    * shuffles. Exact `percentile` buffers per-cell values; swap for
    * `approx_percentile` at corpus scale once the dial needs only ±ε.
    */
  def pqDriftStats(cb: PqCodebook, base: DataFrame,
                   delta: DataFrame): DataFrame = {
    val cents = collectCodebook(cb)
    require(cents.size == cb.m, s"codebook covers ${cents.size} of ${cb.m} subspaces")
    def subStats(embeddings: DataFrame, prefix: String): DataFrame = {
      val bestCols = (0 until cb.m).map { s =>
        val centArr = typedlit(cents(s))
        val dists = transform(centArr, c =>
          struct(sqDist(col(s"sv$s"), c.getField("_2")).as("d2"),
            c.getField("_1").as("cell")))
        val best = aggregate(dists,
          struct(lit(Double.MaxValue).as("d2"), lit(-1).as("cell")),
          (acc, pr) => when(pr.getField("d2") < acc.getField("d2"), pr)
            .otherwise(acc))
        struct(lit(s).as("sub"), best.getField("cell").as("cell"),
          floor(best.getField("d2") * lit(1000000.0)).cast("long").as("d2"))
      }
      stagedSubvectors(embeddings, cb)
        .select(explode(array(bestCols: _*)).as("b"))
        .select(col("b.sub").as("sub"), col("b.cell").as("cell"),
          col("b.d2").as("d2"))
        .groupBy("sub", "cell")
        .agg(count(lit(1)).as(s"n_$prefix"),
          expr("sum(d2) DIV count(1)").as(s"${prefix}_mean_d2"),
          expr("CAST(percentile(d2, 0.95) AS BIGINT)").as(s"${prefix}_p95_d2"))
    }
    cb.codebook.select(col("sub"), col("cell"))
      .join(broadcast(subStats(base, "base")), Seq("sub", "cell"), "left")
      .join(broadcast(subStats(delta, "delta")), Seq("sub", "cell"), "left")
      .select(col("sub"), col("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        col("base_mean_d2"), col("delta_mean_d2"),
        col("base_p95_d2"), col("delta_p95_d2"),
        driftRatio(col("base_mean_d2"), col("delta_mean_d2")))
  }

  /** PQ retrieval by asymmetric distance computation (ADC — the PQ probe
    * every production deployment runs, public in FAISS): the query stays
    * EXACT; each candidate is represented only by its m-byte code. Per
    * query, a lookup table of all m × kSub subspace distances
    * ‖q_s − centroid[s][j]‖² is computed ONCE (m·kSub·dSub flops); each
    * candidate then costs just m table lookups + adds — independent of
    * the original dimensionality. Stage 2 exactly reranks the k ×
    * `overfetch` ADC survivors in float cosine, so the output contract
    * (cos_micro, rk, ties by cand_id) matches [[bruteForceTopK]] and
    * recall is directly measurable (PqSpec).
    *
    * Scale shape: the LUT relation is queries × (m·kSub doubles) —
    * broadcast-sized at any corpus scale; the ADC scan streams the coded
    * relation map-side against it (codes are 64× smaller than the
    * vectors, so the scan is bandwidth-cheap); the per-query top window
    * prunes via WindowGroupLimit before the shuffle; the exact metric
    * touches k × overfetch rows per query. Composing with IVF cells
    * (probe nProbe cells' codes only — IVF-PQ) is the same composition
    * [[ivfSq8TopK]] already demonstrates for SQ8.
    */
  def pqAdcTopK(embeddings: DataFrame, cb: PqCodebook, coded: DataFrame,
                everyNth: Int, k: Int, overfetch: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = collectCodebook(cb)
    // per-query LUT: entry s*kSub + j holds ‖q_s − centroid[s][j]‖²
    val qLut = stagedSubvectors(embeddings, cb)
      .where(col("vec_id") % everyNth === 0)
      .withColumnRenamed("vec_id", "query_id")
      .select(col("query_id"), array(lutColumns(cb, cents): _*).as("lut"))
    val stage1 = coded.toDF("cand_id", "codes")
      .join(broadcast(qLut), col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"), adcExpr(cb).as("adc_d2"))
    val cand = stage1.withColumn("prk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("adc_d2").asc, col("cand_id").asc)))
      .where(col("prk") <= k * overfetch)
      .select("query_id", "cand_id")
    val p = prepared(embeddings)
    val scored = cand
      .join(p.toDF("query_id", "q_emb"), "query_id")
      .join(p.toDF("cand_id", "c_emb"), "cand_id")
      .select(col("query_id"), col("cand_id"),
        cosineMicro(col("q_emb"), col("c_emb")).as("cos_micro"))
    topKPerQuery(scored, k)
  }

  /** PQ codes co-located with their IVF cell: `(vec_id, cell, codes)` —
    * the IVF-PQ index body, the PQ analogue of [[ivfSq8Coded]]. At 100 TB
    * this is the relation written partitioned by `cell` (q79e's stored
    * layout with 4-byte codes instead of int8 vectors), so a probe reads
    * nProbe cells' codes — each 64× smaller than the original vectors.
    */
  def ivfPqCoded(index: IvfIndex, coded: DataFrame): DataFrame =
    index.assigned.select(col("vec_id"), col("cell"))
      .join(coded, "vec_id")
      .select(col("vec_id"), col("cell"), col("codes"))

  /** IVF-PQ composed retrieval (FAISS `IndexIVFPQ`, public — the layout
    * behind billion-vector deployments): a query probes its `nProbe`
    * nearest KMeans cells (centroid-cosine rule shared with
    * [[ivfSq8ProbeCells]]), ADC-scores ONLY those cells' PQ codes against
    * its per-query LUT, keeps `k × overfetch` candidates, then exactly
    * reranks that handful in float cosine — [[bruteForceTopK]]'s output
    * contract. Completes the ANN ladder's compression×partitioning grid:
    * stage-1 cost per query is O(N · nProbe / nCells) LOOKUPS (not even
    * int8 dot products — m adds per candidate), the LUT is computed once
    * per query, and the probe relation (queries × nProbe rows, carrying
    * the m·kSub-double LUT) stays broadcast-sized at any corpus scale.
    * Deterministic given the fitted cells and codebook; recall vs brute
    * force is the check (PqSpec).
    */
  def ivfPqTopK(index: IvfIndex, cb: PqCodebook, cellCoded: DataFrame,
                everyNth: Int, k: Int, nProbe: Int, overfetch: Int): DataFrame =
    ivfPqScore(index, cb, cellCoded,
      ivfPqProbeCells(index, cb, everyNth, nProbe), k, overfetch)

  /** Probe phase of [[ivfPqTopK]]: which `nProbe` cells each query
    * ADC-scans, carrying the query's per-subspace LUT —
    * `(query_id, cell, lut)`, queries × nProbe rows (broadcast-sized).
    * Split out so callers probing a STORED cell-partitioned code tree
    * (q104c) can collect the probed-cell set FIRST and push it into the
    * stored scan as a partition filter — the q79e pattern for PQ.
    */
  def ivfPqProbeCells(index: IvfIndex, cb: PqCodebook,
                      everyNth: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = collectCodebook(cb)
    val q = index.assigned.where(col("vec_id") % everyNth === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    // nProbe nearest cells by centroid cosine (desc, ties to the lowest
    // cell — the ivfSq8ProbeCells rule)
    val qCells = q.crossJoin(broadcast(index.centroids))
      .select(col("query_id"), col("cell"),
        cosineMicro(col("q_emb"), col("centroid")).as("cdist"))
      .withColumn("crk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cdist").desc, col("cell").asc)))
      .where(col("crk") <= nProbe)
      .select("query_id", "cell")
    val qLut = stageSub(q, "query_id", "q_emb", cb)
      .select(col("query_id"), array(lutColumns(cb, cents): _*).as("lut"))
    qCells.join(qLut, "query_id")
  }

  /** Scoring + rerank phase of [[ivfPqTopK]] over an already-derived
    * probe relation. `cellCoded` may be the in-memory index half OR its
    * stored cell-partitioned layout read back (q104c) — the plan is
    * identical either way; only the scan under it changes.
    */
  def ivfPqScore(index: IvfIndex, cb: PqCodebook, cellCoded: DataFrame,
                 probes: DataFrame, k: Int, overfetch: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stage1 = cellCoded.toDF("cand_id", "cell", "codes")
      .join(broadcast(probes), Seq("cell"))
      .where(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"), adcExpr(cb).as("adc_d2"))
    // a candidate lives in exactly ONE cell, so (query, cand) is unique
    // across probes — no distinct needed (same argument as ivfSq8Score)
    val cand = stage1.withColumn("prk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("adc_d2").asc, col("cand_id").asc)))
      .where(col("prk") <= k * overfetch)
      .select("query_id", "cand_id")
    val a = index.assigned
    val scored = cand
      .join(a.select(col("vec_id").as("query_id"), col("emb").as("q_emb")),
        "query_id")
      .join(a.select(col("vec_id").as("cand_id"), col("emb").as("c_emb")),
        "cand_id")
      .select(col("query_id"), col("cand_id"),
        cosineMicro(col("q_emb"), col("c_emb")).as("cos_micro"))
    topKPerQuery(scored, k)
  }

  /** Output dimensionality of the Johnson-Lindenstrauss projection —
    * 4× below the embedding's 64, the compression JL buys at this scale
    * while keeping pairwise inner products ≈ intact (distortion
    * ~√(ln n / dims)).
    */
  val JlOutDims = 16

  /** Rademacher ±1 projection matrix (Achlioptas 2001, "Database-friendly
    * random projections"): JlOutDims × 64 signs from a FIXED seed, so the
    * matrix is a compile-time constant — embedded verbatim in both the
    * codegen'd engine expression and the oracle SQL; no floats, no
    * gaussian sampling, no runtime randomness.
    */
  val JlMatrix: IndexedSeq[IndexedSeq[Int]] = {
    val r = new scala.util.Random(42)
    IndexedSeq.fill(JlOutDims, 64)(if (r.nextBoolean()) 1 else -1)
  }

  /** JL-projected kNN with exact rerank — the remaining classic ANN rung
    * beside sign-LSH (q29b), SQ8 (q79b/c), IVF (q29d) and PQ (q104):
    * micro-quantized unit vectors are pushed through [[JlMatrix]] (a
    * shuffle-free, broadcast-free ±1 fold INSIDE the scan projection —
    * 16 integer sums of 64 terms, whole-stage codegen), candidates are
    * ranked by the 16-d projected integer dot (4× cheaper per pair than
    * the full cosine), and the top k·overfetch are reranked EXACTLY.
    * Same contract/tie rules as [[bruteForceTopK]]; entirely integer
    * until the rerank's one scaled division, so the whole ladder rung is
    * oracle-exact. At cluster scale the projection composes with the
    * IVF/stored-cell pruning (project the probe residuals) — this rung
    * isolates the projection math.
    */
  def jlTopK(embeddings: DataFrame, everyNth: Int, k: Int,
             overfetch: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inDims = JlMatrix.head.length
    val pd = embeddings.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("emb"))
      .withColumn("nrm",
        sqrt(aggregate(col("emb"), lit(0.0), (a, x) => a + x * x)))
    val quant = pd.select(col("vec_id"),
      transform(col("emb"),
        x => floor(lit(1000000.0) * (x / col("nrm"))).cast("long")).as("u"))
    // persisted: the query slice and the candidate side both read it
    val proj = graft.CacheScope.persist(quant.select(col("vec_id"),
      array(JlMatrix.map(row =>
        (0 until inDims).map(d => element_at(col("u"), d + 1) * row(d))
          .reduce(_ + _)): _*).as("y")))
    val q = proj.where(col("vec_id") % everyNth === 0).toDF("query_id", "q_y")
    val scoredProj = proj.toDF("cand_id", "c_y")
      .join(broadcast(q), col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        (0 until JlOutDims).map(j =>
          element_at(col("q_y"), j + 1) * element_at(col("c_y"), j + 1))
          .reduce(_ + _).as("proj_dot"))
    val cand = scoredProj.withColumn("prk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("proj_dot").desc, col("cand_id").asc)))
      .where(col("prk") <= k * overfetch)
      .select("query_id", "cand_id")
    val full = prepared(embeddings)
    val scored = cand
      .join(full.toDF("query_id", "q_emb"), "query_id")
      .join(full.toDF("cand_id", "c_emb"), "cand_id")
      .select(col("query_id"), col("cand_id"),
        cosineMicro(col("q_emb"), col("c_emb")).as("cos_micro"))
    topKPerQuery(scored, k)
  }

  /** Exact per-group pairwise-cosine dispersion in ONE LINEAR pass —
    * the Σ_{i<j} uᵢ·uⱼ = (‖Σuᵢ‖² − Σ‖uᵢ‖²)/2 identity over
    * micro-quantized unit vectors uᵢ = ⌊1e6·x/‖x‖⌋ (integers, so the
    * identity is EXACT, not float-approximate). A quadratic semantic —
    * "how self-similar is each label's embedding cluster" (the dial
    * behind SemDedup-style pruning rates and per-topic diversity
    * audits) — that the naive formulation computes with an O(n²)
    * self-join. Here: one narrow quantize scan, one posexplode (n·d
    * rows, the same linear cost as reading the vectors), one (group, d)
    * sum, one d-row-per-group fold. At 100 TB the plan is two keyed
    * aggregations; there is no pair relation at any point.
    *
    * Arithmetic: per-dim sums fit BIGINT (|Σu_d| ≤ n·1e6); their squares
    * are accumulated in DECIMAL(38,0) (n = 1e6 vectors per group already
    * overflows a BIGINT square), and the final pair sum is cast back to
    * BIGINT — exact while n·1e12 < 2^63, i.e. up to ~9e6 vectors per
    * group; past that emit the DECIMAL instead (q102's widening note).
    * Output `(label, n_vecs, n_pairs, pair_dot)` with `pair_dot` in
    * 1e-12-cosine units; the oracle recomputes it from the O(n²)
    * pairwise formulation, proving the identity against an independent
    * quadratic evaluation.
    */
  def labelDispersion(embeddings: DataFrame, groupCol: String = "label"): DataFrame = {
    val prepared = embeddings.select(col(groupCol).cast("long").as("g"),
      transform(col("embedding"), x => x.cast("double")).as("emb"))
    val normed = prepared.withColumn("nrm",
      sqrt(aggregate(col("emb"), lit(0.0), (a, x) => a + x * x)))
    // stage u as an attribute before the self-dot fold (expression-tree
    // duplication inside lambdas over non-attribute arrays is O(n²))
    val quant = normed.select(col("g"),
      transform(col("emb"),
        x => floor(lit(1000000.0) * (x / col("nrm"))).cast("long")).as("u"))
    val staged = graft.CacheScope.persist(quant) // consumed by both branches
    val perGroup = staged
      .withColumn("self_dot",
        aggregate(col("u"), lit(0L), (a, x) => a + x * x))
      .groupBy("g")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("self_dot").cast("decimal(38,0)")).as("sum_self"))
    val dimSums = staged
      .select(col("g"), posexplode(col("u")).as(Seq("d", "v")))
      .groupBy("g", "d").agg(sum("v").as("s"))
    val sumSq = dimSums.groupBy("g")
      .agg(sum(col("s").cast("decimal(38,0)") * col("s").cast("decimal(38,0)"))
        .as("sum_sq"))
    perGroup.join(sumSq, Seq("g"))
      .select(col("g").as(groupCol), col("n_vecs"),
        expr("(n_vecs * (n_vecs - 1)) div 2").as("n_pairs"),
        // ‖Σu‖² − Σ‖u‖² is twice the pair sum and always even — the /2
        // is exact; BIGINT cast holds to ~9e6 vectors/group (scaladoc)
        ((col("sum_sq") - col("sum_self")) / 2).cast("long").as("pair_dot"))
  }

  /** NN-Descent-style k-NN graph construction (Dong et al. 2011, public;
    * the build phase behind every graph ANN index — HNSW/NSG descend from
    * this local-search principle): start from a CHEAP approximate
    * neighbor list (here the multi-table sign-LSH rung with every vector
    * as a query), then iteratively improve it with local expansion — a
    * neighbor's neighbors are likely neighbors — keeping the
    * exact-cosine top-k each round. Proposals per round follow the
    * paper's general-neighborhood rule in join form: each node m's
    * neighborhood U[m] = B[m] (its k forward neighbors) ∪ R[m] (its
    * reverse neighbors CAPPED at k — the paper's ρK sampling, made
    * deterministic by keeping the k lowest query ids), and every ordered
    * pair within U[m] is proposed. The cap is load-bearing at scale: a
    * hub node sitting in hundreds of top-k lists would otherwise
    * generate |R|² co-neighbor pairs — the uncapped form measured 10×
    * slower on the fixture for the same recall. One self-join on m over
    * ≤ 2nk rows and one exact rerank per round: O(n·k²) proposals,
    * NEVER n² — the whole point versus brute force. Quality is monotone by construction (each round's candidate
    * set contains the incumbent list, and keep = exact top-k), which
    * NnDescentSpec asserts as measured recall against the brute-force
    * contract. Unlike production HNSW builds, every step here is
    * deterministic (LSH init + fixed tie rule), so the full construction
    * — init, every expansion round, every keep decision — is
    * hash-verified by the unrolled-CTE oracle, q120's PageRank pattern.
    *
    * At 100 TB the per-round state is the (node, nbr) edge list —
    * n·k rows, shuffle-partitioned by node; the rerank joins are
    * co-partitioned on the same key, so rounds reuse one exchange
    * layout.
    */
  def nnDescentTopK(embeddings: DataFrame, k: Int, bits: Int, tables: Int,
                    rounds: Int): DataFrame = {
    val p = graft.CacheScope.persist(prepared(embeddings))
    def rerank(cands: DataFrame): DataFrame = {
      val scored = cands
        .join(p.toDF("query_id", "q_emb"), "query_id")
        .join(p.toDF("cand_id", "c_emb"), "cand_id")
        .select(col("query_id"), col("cand_id"),
          cosineMicro(col("q_emb"), col("c_emb")).as("cos_micro"))
      topKPerQuery(scored, k)
    }
    // q120's checkpoint lifecycle: each round EAGERLY localCheckpoints,
    // truncating the iterated lineage — without it the round-over-round
    // plan (window over join over union over window ...) deepens until
    // optimization time dominates (measured: round 3 cost 15 s against
    // 1.7 s of actual work at sf0.1); superseded rounds' blocks are
    // freed immediately and the final checkpoint lives until the query
    // boundary ([[graft.CacheScope.checkpoint]]).
    // init: every vector is a query (everyNth = 1) over a deliberately
    // cheap LSH config — rounds do the quality work, that is the point
    var cur = graft.CacheScope.checkpoint(
      bucketedTopK(embeddings, 1, k, bits, tables)
        .select("query_id", "cand_id", "cos_micro", "rk"))
    var r = 0
    while (r < rounds) {
      import org.apache.spark.sql.expressions.Window
      val edges = cur.select("query_id", "cand_id")
      val revCap = Window.partitionBy("cand_id").orderBy("query_id")
      val rev = edges
        .withColumn("rrk", row_number().over(revCap))
        .where(col("rrk") <= k)
        .select(col("cand_id").as("m"), col("query_id").as("x"))
      val fwd = edges.select(col("query_id").as("m"), col("cand_id").as("x"))
      val u = graft.CacheScope.persist(fwd.unionByName(rev).distinct())
      val props = u.toDF("m", "query_id")
        .join(u.toDF("m", "cand_id"), Seq("m"))
        .where(col("query_id") =!= col("cand_id"))
        .select("query_id", "cand_id")
      val next = graft.CacheScope.checkpoint(
        rerank(edges.unionByName(props).distinct()))
      graft.CacheScope.dropCheckpoint(cur)
      cur = next
      r += 1
    }
    cur
  }

  /** Greedy beam search over a k-NN graph — the SEARCH half of graph ANN
    * (the query procedure of HNSW/NSG, public; [[nnDescentTopK]] is the
    * build half): each query starts from a fixed entry set, and every
    * hop expands the current beam through the graph's neighbor lists,
    * exact-rescores, and keeps the best `beam` candidates; the final
    * top-k is read off the last beam. Per-query work is O(hops · beam ·
    * k) graph-edge lookups + rescores — INDEPENDENT of corpus size,
    * which is the entire point of paying for the graph build: q29's
    * brute force scans n candidates per query, this touches a few dozen.
    *
    * Deterministic by construction (fixed entry rule: the `beam` lowest
    * vec_ids; fixed tie rule; re-scoring is exact), so the whole search
    * — entries, every hop's beam, the final ranks — oracle-replays on
    * top of the graph CTEs. Hops localCheckpoint like the build.
    *
    * At scale the graph is a STORED artifact (built once by q136's
    * operator, fingerprinted like the dedup pair indexes) and the hop
    * join keys on node — the stored layout's natural bucketing key.
    */
  def graphSearchTopK(embeddings: DataFrame, graph: DataFrame,
                      everyNth: Int, k: Int, beam: Int,
                      hops: Int): DataFrame = {
    val p = graft.CacheScope.persist(prepared(embeddings))
    val q = graft.CacheScope.persist(
      p.where(col("vec_id") % everyNth === 0).toDF("query_id", "q_emb"))
    val g = graft.CacheScope.persist(
      graph.select(col("query_id").as("node"), col("cand_id").as("nbr")))
    def scoreKeep(cands: DataFrame, width: Int): DataFrame =
      topKPerQuery(
        cands
          .join(q, "query_id")
          .join(p.toDF("cand_id", "c_emb"), "cand_id")
          .select(col("query_id"), col("cand_id"),
            cosineMicro(col("q_emb"), col("c_emb")).as("cos_micro")),
        width)
    val entries = p.select(col("vec_id").as("cand_id"))
      .orderBy("cand_id").limit(beam)
    var frontier = graft.CacheScope.checkpoint(scoreKeep(
      q.select(col("query_id")).crossJoin(broadcast(entries))
        .where(col("cand_id") =!= col("query_id")), beam))
    var h = 0
    while (h < hops) {
      val exp = frontier.select(col("query_id"), col("cand_id").as("node"))
        .join(g, Seq("node"))
        .select(col("query_id"), col("nbr").as("cand_id"))
        .where(col("cand_id") =!= col("query_id"))
      val cands = frontier.select("query_id", "cand_id")
        .unionByName(exp).distinct()
      val next = graft.CacheScope.checkpoint(scoreKeep(cands, beam))
      graft.CacheScope.dropCheckpoint(frontier)
      frontier = next
      h += 1
    }
    frontier.where(col("rk") <= k)
  }

  // --- second moments + whitening (q133) -----------------------------------

  /** Exact integer second-moment matrix of the quantized embedding corpus —
    * the sufficient statistics for covariance, PCA, and whitening, in the
    * engine's oracle-exact integer tier: per dim pair (i ≤ j, 1-based),
    * `n` vectors, the per-dim sums `s_i`/`s_j`, and the raw cross moment
    * `dot_ij = Σ q_i·q_j` over `q = floor(x·QuantScale)` (the q72
    * quantizer). Covariance reconstructs exactly as
    * `(n·dot_ij − s_i·s_j) / (n²·QuantScale²)` — every term here is
    * integer, so the whole statistic hash-verifies.
    *
    * Scale shape (MLlib `RowMatrix.computeGramianMatrix` is the public
    * precedent — the Gramian is a fixed d(d+1)/2-size aggregate however
    * large the corpus): one narrow generate of the d(d+1)/2 per-row
    * products, then ONE hash aggregate keyed by (i, j) — partial map-side
    * combine reduces every task to ≤ d(d+1)/2 rows before the only
    * shuffle, so the exchange carries tasks × 2080 rows at d=64, never
    * corpus-sized. The per-dim sums ride the same staged frame and join
    * back broadcast (64 rows). |q| ≤ QuantScale keeps `dot_ij` within
    * Int64 to ~9×10¹² vectors.
    */
  def secondMoments(embeddings: DataFrame): DataFrame = {
    val p = prepared(embeddings)
    val quant = p.select(col("vec_id"),
      transform(col("emb"),
        x => floor(x * QuantScale).cast("long")).as("qv"))
    val staged = graft.CacheScope.persist(quant)
    // (i, j, q_i·q_j) for i ≤ j — the pair list is built from sequence()
    // over the row's own length, so d is never hardcoded; qv is a staged
    // attribute (expression-tree duplication rule, Verify skill notes)
    val pairs = staged.select(col("vec_id"),
      explode(flatten(transform(sequence(lit(1), size(col("qv"))), i =>
        transform(sequence(i, size(col("qv"))), j =>
          struct(i.cast("long").as("dim_i"), j.cast("long").as("dim_j"),
            (element_at(col("qv"), i) * element_at(col("qv"), j))
              .as("prod")))))).as("p"))
      .select(col("p.dim_i"), col("p.dim_j"), col("p.prod"))
    val moments = pairs.groupBy("dim_i", "dim_j")
      .agg(count(lit(1)).as("n"), sum("prod").as("dot_ij"))
    val dimSums = staged
      .select(posexplode(col("qv")).as(Seq("d", "v")))
      .groupBy((col("d") + 1).cast("long").as("dim"))
      .agg(sum("v").as("s"))
    moments
      .join(broadcast(dimSums.toDF("dim_i", "s_i")), Seq("dim_i"))
      .join(broadcast(dimSums.toDF("dim_j", "s_j")), Seq("dim_j"))
      .select(col("dim_i"), col("dim_j"), col("n"),
        col("s_i"), col("s_j"), col("dot_ij"))
  }

  /** ZCA whitening of the embedding column (Su et al. 2021, "Whitening
    * Sentence Representations" — public practice for retrieval
    * embeddings): y = W (x − μ) with W = V diag(1/√(λ+ε)) Vᵀ from the
    * eigendecomposition of the corpus covariance, so the whitened corpus
    * has identity covariance (unit-gated in WhiteningSpec). The
    * covariance is reconstructed from [[secondMoments]]' integer
    * statistics — a d(d+1)/2-row bounded collect whatever the corpus
    * size (d=64 → 2080 rows) — and eigendecomposed on the driver with
    * cyclic Jacobi ([[Eigen.jacobi]]): d³ driver flops replace any
    * cluster work, the same bounded-collect-plus-driver-CPU contract as
    * [[trainPq]]. Application is one narrow projection per row (the d×d
    * matrix rides as a literal), zero shuffles.
    *
    * Returns `(vec_id, white ARRAY<DOUBLE>)` — float output, so this op
    * is unit-gated rather than oracled (the identity-covariance test is
    * the contract).
    */
  def whiten(embeddings: DataFrame, eps: Double = 1e-9): DataFrame = {
    val stats = secondMoments(embeddings).collect()
    require(stats.nonEmpty, "whiten: empty corpus")
    val d = stats.iterator.map(_.getLong(1)).max.toInt
    val n = stats.head.getLong(2).toDouble
    val cov = Array.ofDim[Double](d, d)
    val mu = new Array[Double](d)
    stats.foreach { r =>
      val (i, j) = (r.getLong(0).toInt - 1, r.getLong(1).toInt - 1)
      val (si, sj, dot) = (r.getLong(3), r.getLong(4), r.getLong(5))
      val c = (n * dot - si.toDouble * sj.toDouble) /
        (n * n * QuantScale * QuantScale)
      cov(i)(j) = c
      cov(j)(i) = c
      if (i == j) mu(i) = si / (n * QuantScale)
    }
    val (values, vectors) = Eigen.jacobi(cov)
    // W = V diag(1/sqrt(λ+eps)) Vᵀ — symmetric by construction. λ is
    // clamped at 0 first: a PSD covariance can come out of Jacobi with
    // eigenvalues a few ulps NEGATIVE (rank-deficient input — duplicated
    // dims), and sqrt(λ+eps) must never see a negative radicand.
    val w = Array.tabulate(d, d) { (r, c) =>
      var acc = 0.0
      var k = 0
      while (k < d) {
        acc += vectors(r)(k) * vectors(c)(k) /
          math.sqrt(math.max(values(k), 0.0) + eps)
        k += 1
      }
      acc
    }
    val wLit = typedLit(w.map(_.toSeq).toSeq)
    val muLit = typedLit(mu.toSeq)
    prepared(embeddings)
      .select(col("vec_id"), col("emb"), wLit.as("w"), muLit.as("mu"))
      .select(col("vec_id"),
        transform(col("w"), row =>
          aggregate(zip_with(row, zip_with(col("emb"), col("mu"), _ - _),
            _ * _), lit(0.0), _ + _)).as("white"))
  }
}
