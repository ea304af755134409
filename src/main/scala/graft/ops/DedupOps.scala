package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash (builder-prompt extension surface; the reference's
  * only dedup is order-preserving tag dedup, nlp_data_tagging.py:211).
  *
  * Scale design:
  *   - Exact dedup groups on the full text hash — one shuffle keyed by
  *     content, the same plan at any scale; no driver-side state.
  *   - Jaccard all-pairs uses the inverted-index (shingle → docs) self-join,
  *     the standard distributed formulation: candidate pairs are generated
  *     only for docs sharing a shingle, never the O(n²) cross product.
  *     Hot shingles are the skew risk at 100 TB — AQE skew-join handles
  *     moderate skew; stop-shingle dropping (df cap) is the escape hatch.
  *   - MinHash compresses each doc to a k-Int64 signature (one shuffle),
  *     then LSH banding joins on (band, band-key) so only likely-similar
  *     docs ever meet — the linear-scale path when all-pairs is infeasible.
  *   - SimHash is one aggregation to a 64-bit fingerprint per doc, then a
  *     banded self-join (maxHamming+1 bands — candidate-complete by
  *     pigeonhole) + exact Hamming filter.
  *
  * All hashing uses HashOps' portable polynomial hash so the DuckDB oracle
  * verifies every step bit-exactly.
  */
object DedupOps {

  /** Exact duplicates: every doc labeled with its group's canonical (min)
    * id and the group size — window form, not `dropDuplicates`, so the
    * lineage (which doc survives, who its duplicates are) is kept — what a
    * curation pipeline actually needs.
    *
    * Scale shape: the text is reduced to [[HashOps.contentKey]] (62-bit,
    * two independent folds — collision stance documented there) BEFORE
    * the shuffle, so the single exchange carries (id, key) = 16 bytes per
    * row instead of the corpus bytes; min/count over the key partition
    * replace the old group-then-join-back pair of text-keyed exchanges.
    */
  def exactDuplicates(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("content_key")
    docs.select(col(idCol), HashOps.contentKey(col(textCol)).as("content_key"))
      .select(col(idCol),
        min(col(idCol)).over(w).as("canonical_id"),
        count(lit(1)).over(w).as("group_size"))
      .select(col(idCol), col("canonical_id"), col("group_size"),
        (col(idCol) =!= col("canonical_id")).as("is_duplicate"))
  }

  /** Distinct word n-gram shingles per doc: `(id, carryCols..., shingle)`.
    * Narrow (explode only). Tokens column must be a staged attribute ref.
    * `carryCols` names columns of `tokenized` to ride along unchanged
    * (e.g. `source` for per-source boilerplate statistics).
    */
  def shingles(tokenized: DataFrame, n: Int,
               idCol: String = "doc_id",
               carryCols: Seq[String] = Nil): DataFrame =
    tokenized
      // short docs yield an empty array (explode then drops them) rather
      // than a Filter on the computed column: a pushed-down filter would
      // re-evaluate the whole tokenize+shingle tree inside the Filter
      // (alias substitution), tripling the scan-side work
      .select(col(idCol) +: carryCols.map(col) :+
        when(size(col("toks")) >= n,
          array_distinct(transform(
            sequence(lit(0), size(col("toks")) - n),
            i => concat_ws(" ", slice(col("toks"), i + 1, lit(n))))))
          .otherwise(array().cast("array<string>")).as("shs"): _*)
      .select(col(idCol) +: carryCols.map(col) :+
        explode(col("shs")).as("shingle"): _*)

  /** Duplicated-span stripping — sub-document exact dedup in the style of
    * ExactSubstr (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", public): any n-token span occurring more
    * than once in the corpus (across docs OR repeated within one doc) is
    * boilerplate/leakage; every token covered by such a span is removed
    * and the survivors are rejoined. The paper builds a suffix array; the
    * relational formulation reaches the same cover with Spark-native ops:
    *
    *   1. positional shingles (doc_id, pos, shingle) — narrow;
    *   2. duplicated-shingle set: count(*) > 1 keyed by shingle (one
    *      shuffle; the count is occurrence-, not document-, based so
    *      within-doc repeats are caught);
    *   3. covered start positions per doc: join + collect_list (one
    *      shuffle keyed by high-cardinality doc_id);
    *   4. narrow rebuild: the sorted start array is merged into disjoint
    *      covered intervals and the survivors are the complement gaps.
    *      Because every span has the same length n, the merge needs only
    *      adjacent-element comparisons: start s_{i+1} opens a new interval
    *      iff s_{i+1} > s_i + n (otherwise the covers [s_i, s_i+n-1] and
    *      [s_{i+1}, s_{i+1}+n-1] touch or overlap). Two shifted zip_with
    *      passes find the interval bounds in O(S) and the gap slices
    *      rebuild `kept` in O(T) — no per-token probe of the start list,
    *      so an adversarial doc that is mostly repeated shingles (S ≈ T)
    *      costs O(T), not O(T²), in its task.
    *
    * Returns (idCol, n_tokens, n_removed, text_dedup) — text is rebuilt
    * space-joined from surviving tokens (whitespace-normalized, like
    * every token-level op here).
    */
  def stripDuplicatedSpans(docs: DataFrame, n: Int,
                           idCol: String = "doc_id"): DataFrame = {
    val emptyInts = array().cast("array<int>")
    spanCovers(docs, n, idCol)
      // complement gaps: before the first interval, between intervals,
      // after the last — flattened back into the ascending kept-index list
      .select(col(idCol), col("toks"),
        flatten(zip_with(
          concat(array(lit(0)), transform(col("his"), h => h + 1)),
          concat(col("los"), array(size(col("toks")))),
          (a, b) => when(b > a, sequence(a, b - 1)).otherwise(emptyInts)))
          .as("kept"))
      .select(col(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(transform(col("kept"),
          i => element_at(col("toks"), i + 1)), " ").as("text_dedup"))
  }

  /** Shared cover stage of the span-dedup family: per doc, the MERGED
    * disjoint intervals `[los_i, his_i]` (token indices, inclusive) of all
    * duplicated n-token spans — `(idCol, toks, los, his)`. Because covers
    * of the same n merge whenever they touch, each merged interval is a
    * MAXIMAL duplicated region and its length is the length of the
    * variable-length duplicated span it represents — which is what lets
    * [[variableSpanProfile]] recover ExactSubstr's length-thresholded
    * semantics from one fixed-n pass.
    */
  private[graft] def spanCovers(docs: DataFrame, n: Int,
                                idCol: String = "doc_id"): DataFrame = {
    val toked = docs.select(col(idCol),
      TextOps.tokenize(col("text")).as("toks"))
    // positional shingles: unlike [[shingles]] NOT distinct'd per doc —
    // every occurrence counts, and each occurrence carries its position
    val pos = toked.select(col(idCol),
      when(size(col("toks")) >= n,
        sequence(lit(0), size(col("toks")) - n))
        .otherwise(array().cast("array<int>")).as("ps"),
      col("toks"))
      .select(col(idCol), explode(col("ps")).as("pos"), col("toks"))
      .select(col(idCol), col("pos"),
        concat_ws(" ", slice(col("toks"), col("pos") + 1, lit(n))).as("shingle"))
    val sh = graft.CacheScope.persist(pos)
    val dup = sh.groupBy("shingle").agg(count(lit(1)).as("c"))
      .where(col("c") > 1).select("shingle")
    val covered = sh.join(dup, "shingle")
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(col("pos"))).as("starts"))
    val emptyInts = array().cast("array<int>")
    toked.join(covered, Seq(idCol), "left")
      .select(col(idCol), col("toks"),
        coalesce(col("starts"), emptyInts).as("starts"))
      // merged-interval bounds from the sorted starts. Sentinels make the
      // first element always open an interval (-(n+1) + n < any start >= 0)
      // and the last always close one. Each array below is staged as an
      // attribute before the next lambda references it (expression
      // duplication under alias substitution otherwise re-runs the chain).
      .select(col(idCol), col("toks"), col("starts"),
        concat(array(lit(-(n + 1))),
          slice(col("starts"), lit(1), greatest(size(col("starts")) - 1, lit(0))))
          .as("prevs"),
        concat(slice(col("starts"), lit(2), greatest(size(col("starts")) - 1, lit(0))),
          array(lit(Int.MaxValue))).as("nexts"))
      .select(col(idCol), col("toks"),
        filter(zip_with(col("starts"), col("prevs"),
          (c, p) => when(c > p + n, c)), x => x.isNotNull).as("los"),
        filter(zip_with(col("starts"), col("nexts"),
          (c, nx) => when(nx > c + n, c + (n - 1))), x => x.isNotNull).as("his"))
  }

  /** Variable-length exact-substring profile — the length-thresholded
    * semantics of the published ExactSubstr (Lee et al. 2022 use a suffix
    * array and only remove duplicated substrings of length ≥ 50): each
    * MAXIMAL duplicated region from [[spanCovers]] carries its length, so
    * one fixed-n pass yields the removal set for EVERY threshold ≥ n at
    * once. Emits per doc the span count, the longest span, tokens removed
    * at each tier (`removed_ge<t>`), and the rebuilt text with only
    * spans ≥ `textTier` stripped. The base tier n reproduces
    * [[stripDuplicatedSpans]]'s removal exactly (unit-gated), so this is
    * a strict refinement, not a different cover.
    *
    * Scale shape: identical to q61's — the two keyed shuffles (shingle
    * count, per-doc start collection) plus narrow interval arithmetic;
    * the tiers add only per-row array folds.
    */
  def variableSpanProfile(docs: DataFrame, n: Int, tiers: Seq[Int],
                          textTier: Int,
                          idCol: String = "doc_id"): DataFrame = {
    val emptyInts = array().cast("array<int>")
    val tierCols = tiers.map(t =>
      aggregate(col("lens"), lit(0L),
        (a, x) => a + when(x >= t, x.cast("long")).otherwise(0L))
        .as(s"removed_ge$t"))
    spanCovers(docs, n, idCol)
      .select(col(idCol), col("toks"), col("los"), col("his"),
        zip_with(col("his"), col("los"), (h, l) => h - l + 1).as("lens"))
      // the text tier's surviving intervals, re-staged as attributes
      // before the gap rebuild references them twice
      .select(col(idCol), col("toks"), col("lens"),
        filter(col("los"),
          (_, i) => element_at(col("lens"), i + 1) >= textTier).as("los_t"),
        filter(col("his"),
          (_, i) => element_at(col("lens"), i + 1) >= textTier).as("his_t"))
      .select(col(idCol), col("toks"), col("lens"),
        flatten(zip_with(
          concat(array(lit(0)), transform(col("his_t"), h => h + 1)),
          concat(col("los_t"), array(size(col("toks")))),
          (a, b) => when(b > a, sequence(a, b - 1)).otherwise(emptyInts)))
          .as("kept"))
      .select(col(idCol) +:
        size(col("toks")).cast("long").as("n_tokens") +:
        size(col("lens")).cast("long").as("n_spans") +:
        coalesce(array_max(col("lens")), lit(0)).cast("long")
          .as("max_span_len") +:
        tierCols :+
        array_join(transform(col("kept"),
          i => element_at(col("toks"), i + 1)), " ")
          .as(s"text_dedup_ge$textTier"): _*)
  }

  /** Stop-shingle cap: drop shingles whose document frequency exceeds
    * `maxDf` before any pairwise work. Boilerplate n-grams (license
    * headers, navigation chrome) occur in a large fraction of a real
    * corpus; each one makes the inverted-index self-join emit
    * C(df, 2) candidate rows, so a single shingle with df = 1M produces
    * 5·10^11 rows — the skew that kills the Jaccard join at 100 TB.
    * Implemented as a left-anti join against the HOT set (df > cap):
    * by construction that set is small — AQE broadcasts it — whereas
    * joining against the kept set would shuffle the full shingle relation
    * a second time.
    */
  def capShingleDf(sh: DataFrame, maxDf: Long,
                   idCol: String = "doc_id"): DataFrame = {
    val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf).select(col("shingle"))
    // the using-column join moves `shingle` first; downstream ops rename
    // positionally, so restore the (id, shingle) order
    sh.join(hot, Seq("shingle"), "left_anti").select(col(idCol), col("shingle"))
  }

  /** Per-source boilerplate profile — the CCNet/RefinedWeb observation
    * (public) that template text (headers, navigation chrome, license
    * footers) repeats across many documents of the SAME source while real
    * content does not. A shingle present in `minDocs`+ distinct docs of
    * one source is boilerplate FOR that source; each doc then reports what
    * fraction of its distinct shingles is boilerplate — the score a
    * curation pipeline thresholds to drop template-dominated docs (and the
    * per-source boilerplate sets double as strip lists).
    *
    * Input is a per-doc-distinct shingle relation carrying `source` (from
    * [[shingles]] with `carryCols = Seq("source")`). Because rows are
    * distinct per doc, `count(*)` keyed by (source, shingle) IS the
    * within-source document frequency. Scale shape: one shuffle for the
    * df aggregate (source × shingle keys — high cardinality, no skew
    * beyond hot template shingles, which is the data being measured), one
    * back-join on the same key, one per-doc roll-up. Never all-pairs.
    *
    * Output: `(id, source, n_shingles, n_boilerplate, boilerplate_micro)`
    * for every doc with at least one shingle.
    */
  def boilerplateProfile(sh: DataFrame, minDocs: Long,
                         idCol: String = "doc_id"): DataFrame = {
    // two consumers: the df aggregate and the back-join
    val cached = graft.CacheScope.persist(sh)
    val bp = cached.groupBy(col("source"), col("shingle"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") >= minDocs)
      .select(col("source"), col("shingle"), lit(1).as("is_bp"))
    cached.join(bp, Seq("source", "shingle"), "left")
      .groupBy(col(idCol), col("source"))
      .agg(count(lit(1)).as("n_shingles"),
        count(col("is_bp")).as("n_boilerplate"))
      .select(col(idCol), col("source"), col("n_shingles"),
        col("n_boilerplate"),
        floor(lit(1000000L) * col("n_boilerplate") / col("n_shingles"))
          .cast("long").as("boilerplate_micro"))
  }

  /** Shared core of the all-pairs set-overlap scores: inverted-index
    * self-join to `(id_a < id_b, common, size_a, size_b)` — co-occurring
    * shingle counts plus both docs' distinct-shingle sizes. Candidate
    * pairs exist only for docs sharing a shingle, never the O(n²) cross
    * product; the scoring variants below differ only in the final
    * narrow projection.
    */
  private def pairCommonSizes(sh: DataFrame, idCol: String): DataFrame = {
    // the shingle relation feeds THREE consumers (the size aggregate and
    // both sides of the self-join); Catalyst cannot share work across
    // self-join branches, so without a persist the whole upstream chain
    // (tokenize/shingle — or redact+quality+dedup when called from the
    // curation pipeline) runs three times. MEMORY_AND_DISK: at corpus
    // scale the shingle frame spills rather than recomputes — the same
    // trade a production pipeline makes by checkpointing its shingle
    // index. When the caller hands us an ALREADY-persisted frame (the
    // memoized session shingle cache), reuse it as-is — query-boundary
    // registration would evict the memo.
    val cached = graft.CacheScope.persist(sh)
    val sizes = cached.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val common = cached.toDF(idCol, "shingle")
      .join(cached.toDF("id_b", "shingle"), "shingle")
      .where(col(idCol) < col("id_b"))
      .groupBy(col(idCol).as("id_a"), col("id_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.toDF("id_a", "size_a"), "id_a")
      .join(sizes.toDF("id_b", "size_b"), "id_b")
  }

  /** All-pairs n-gram Jaccard via inverted-index self-join. Output:
    * `(id_a < id_b, common, size_a, size_b, jaccard_micro)` for pairs with
    * `jaccard_micro >= minMicro` (Jaccard scaled by 1e6 into an exact
    * integer so the cross-engine compare is bit-exact).
    */
  def jaccardPairs(sh: DataFrame, minMicro: Long,
                   idCol: String = "doc_id"): DataFrame =
    pairCommonSizes(sh, idCol)
      .select(col("id_a"), col("id_b"), col("common"), col("size_a"), col("size_b"),
        floor(lit(1000000L) * col("common") /
          (col("size_a") + col("size_b") - col("common"))).cast("long")
          .as("jaccard_micro"))
      .where(col("jaccard_micro") >= minMicro)

  /** All-pairs n-gram CONTAINMENT via the same inverted index:
    * `common / min(size_a, size_b)`, scaled 1e6. Jaccard is blind to
    * subset duplication — a doc fully quoted inside a much larger one
    * scores `|A| / |B| ≈ 0` — while containment scores it 1.0; this is
    * the standard second lens (Broder 1997, "On the resemblance and
    * containment of documents", public) a curation pipeline runs next to
    * Jaccard to catch quote/wrapper near-dups. Same scale shape as
    * [[jaccardPairs]]: candidates from shared shingles only, one narrow
    * scoring projection at the end.
    */
  def containmentPairs(sh: DataFrame, minMicro: Long,
                       idCol: String = "doc_id"): DataFrame =
    pairCommonSizes(sh, idCol)
      .select(col("id_a"), col("id_b"), col("common"), col("size_a"), col("size_b"),
        floor(lit(1000000L) * col("common") /
          least(col("size_a"), col("size_b"))).cast("long")
          .as("containment_micro"))
      .where(col("containment_micro") >= minMicro)

  /** MinHash signatures: `(id, m0..m{k-1})` — per doc, the min of each
    * permuted shingle hash. One hash aggregation; signature is k Int64s
    * regardless of doc size (the whole point at 100 TB).
    */
  def minhashSignatures(sh: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val hashed = sh.select(col(idCol), HashOps.charHash(col("shingle")).as("th"))
    val mins = (0 until HashOps.MinHashK).map(i =>
      min(HashOps.perm(i, col("th"))).as(s"m$i"))
    hashed.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** LSH banding over a signature frame: explode to `(id, band, key)` where
    * key concatenates `rowsPerBand` consecutive signature values.
    */
  def lshBands(sigs: DataFrame, rowsPerBand: Int,
               idCol: String = "doc_id"): DataFrame = {
    val bands = HashOps.MinHashK / rowsPerBand
    val bandCols = (0 until bands).map { b =>
      val ms = (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), concat_ws("-", ms: _*).as("key"))
    }
    sigs.select(col(idCol), explode(array(bandCols: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Candidate pairs from LSH banding plus the signature-estimated Jaccard
    * (#agreeing permutations / k, scaled 1e6). Only docs colliding in at
    * least one band are compared — linear in data + collisions, never O(n²).
    */
  def minhashPairs(sigs0: DataFrame, rowsPerBand: Int, minEstMicro: Long,
                   idCol: String = "doc_id"): DataFrame = {
    // four consumers (both band-join sides + both agreement-rerank joins)
    // would each recompute the shingle→hash→k-min aggregation; a signature
    // row is k Int64s, so the cache is tiny at any corpus size
    val sigs = graft.CacheScope.persist(sigs0)
    val b = lshBands(sigs, rowsPerBand, idCol)
    val cand = b.toDF("id_a", "band", "key")
      .join(b.toDF("id_b", "band", "key"), Seq("band", "key"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val agree = (0 until HashOps.MinHashK)
      .map(i => when(col(s"a.m$i") === col(s"b.m$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    cand
      .join(sigs.toDF(("id_a" +: (0 until HashOps.MinHashK).map(i => s"m$i")): _*).as("a"), "id_a")
      .join(sigs.toDF(("id_b" +: (0 until HashOps.MinHashK).map(i => s"m$i")): _*).as("b"), "id_b")
      .select(col("id_a"), col("id_b"),
        floor(lit(1000000L) * agree / HashOps.MinHashK).cast("long")
          .as("est_jaccard_micro"))
      .where(col("est_jaccard_micro") >= minEstMicro)
  }

  /** Incremental ingest dedup — the production shape for a GROWING corpus:
    * never re-dedup 100 TB on every batch; band-join the incoming delta's
    * MinHash signatures against the STORED signature index (k Int64s per
    * doc, the only state the pipeline keeps) and rerank the few banded
    * candidates exactly. Each incoming doc reports how many index docs it
    * collided with, its best match (highest signature agreement, ties to
    * the smallest index id), and whether that match crosses the duplicate
    * threshold.
    *
    * Inputs are signature frames from [[minhashSignatures]] (`newSigs` =
    * the incoming batch, `indexSigs` = the stored index). Scale shape:
    * the index side streams through the band join keyed by (band, key) —
    * one shuffle each side, candidates only for colliding signatures; the
    * rerank joins are keyed by doc id; the per-doc best is one
    * WindowGroupLimit-prunable row_number. The incoming batch is
    * typically ≪ the index, so every wide op is keyed fine-grained and
    * nothing scans the index beyond its band relation.
    *
    * Output per incoming doc (with ≥1 shingle): `(id, n_candidates,
    * best_match, est_jaccard_micro, is_dup)`; candidate-less docs carry
    * `(0, -1, 0, false)`.
    */
  def incrementalDupCheck(newSigs: DataFrame, indexSigs: DataFrame,
                          rowsPerBand: Int, minEstMicro: Long,
                          idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // each side feeds its band relation AND an agreement-rerank join; an
    // already-persisted side (the STORED index under a streaming caller
    // checking batch after batch against it) is reused, not re-registered
    // at query scope
    val ns = graft.CacheScope.persist(newSigs)
    val is_ = graft.CacheScope.persist(indexSigs)
    val nb = lshBands(ns, rowsPerBand, idCol).toDF("new_id", "band", "key")
    val ob = lshBands(is_, rowsPerBand, idCol).toDF("old_id", "band", "key")
    val cand = nb.join(ob, Seq("band", "key"))
      .select("new_id", "old_id").distinct()
    val agree = (0 until HashOps.MinHashK)
      .map(i => when(col(s"a.m$i") === col(s"b.m$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val sigCols = (0 until HashOps.MinHashK).map(i => s"m$i")
    val scored = cand
      .join(ns.toDF(("new_id" +: sigCols): _*).as("a"), "new_id")
      .join(is_.toDF(("old_id" +: sigCols): _*).as("b"), "old_id")
      .select(col("new_id"), col("old_id"),
        floor(lit(1000000L) * agree / HashOps.MinHashK).cast("long")
          .as("est"))
    val w = Window.partitionBy("new_id")
    val best = scored
      .withColumn("n_candidates", count(lit(1)).over(w))
      .withColumn("rk", row_number().over(
        w.orderBy(col("est").desc, col("old_id").asc)))
      .where(col("rk") === 1)
    ns.select(col(idCol))
      .join(best.select(col("new_id").as(idCol), col("n_candidates"),
        col("old_id"), col("est")), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("old_id"), lit(-1L)).as("best_match"),
        coalesce(col("est"), lit(0L)).as("est_jaccard_micro"),
        (coalesce(col("est"), lit(0L)) >= minEstMicro).as("is_dup"))
  }

  /** Edit-distance near-dup pairs within a blocking key: levenshtein over
    * all intra-block pairs. Quadratic in block size — the blocking columns
    * (source, language, length-band, or an LSH bucket) are what make it
    * tractable; never call with a constant block at scale. The bounded
    * `levenshtein(a, b, threshold)` variant terminates early (O(threshold ×
    * min(len)) per pair instead of O(len²) — measured 7x on the fixture),
    * and the |len(a)-len(b)| pre-filter skips impossible pairs before any
    * DP runs. Levenshtein is engine-portable (same definition in DuckDB),
    * so this path IS oracle-verified, unlike the MLlib one.
    */
  def editDistancePairs(docs: DataFrame, blockCols: Seq[String], maxDist: Int,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val block = concat_ws("|", blockCols.map(col): _*)
    // length band of width maxDist+1 as an extra join key: |len(a)-len(b)|
    // <= maxDist forces the pair into the same or adjacent bands, so
    // joining a's band against b exploded to {band-1, band, band+1} is
    // candidate-complete AND result-identical to the unbanded join (the
    // band test is implied by the length pre-filter) — it exists purely to
    // shrink the quadratic blow-up inside big blocks and to spread the
    // shuffle over (block × band) keys instead of block alone. Exactly one
    // match per pair: a carries one key, b's three are distinct.
    val bandW = maxDist + 1
    val band = floor(length(col(textCol)) / bandW)
    val a = docs.select(block.as("block"), band.as("band"),
      col(idCol).as("id_a"), col(textCol).as("text_a"))
    val b = docs.select(block.as("block"),
      explode(array(band - 1, band, band + 1)).as("band"),
      col(idCol).as("id_b"), col(textCol).as("text_b"))
    // ONE where with the conjuncts cheap-first: chained wheres let Catalyst
    // reassemble the join condition with levenshtein evaluated BEFORE the
    // id ordering test, i.e. on both orderings of every pair (measured
    // 3.3x slower at sf0.1). In a single condition the written order is
    // kept: id ordering, then the length bound, and only then the bounded
    // levenshtein (returns -1 past the cap; the unbounded form is another
    // 13x slower). The survivors' Project re-evaluates levenshtein once
    // more — negligible, they are the handful of real near-dups.
    a.join(b, Seq("block", "band"))
      .where(col("id_a") < col("id_b") &&
        abs(length(col("text_a")) - length(col("text_b"))) <= maxDist &&
        levenshtein(col("text_a"), col("text_b"), maxDist) >= 0)
      .select(col("block"), col("id_a"), col("id_b"),
        levenshtein(col("text_a"), col("text_b"), maxDist).cast("long")
          .as("edit_dist"))
  }

  /** Connected components over near-dup pairs: every doc labeled with its
    * cluster's canonical (min) id, so transitive duplicate chains
    * (A~B, B~C ⇒ {A,B,C}) collapse to ONE representative — the correct
    * cluster semantics where pairwise greedy dropping over- or
    * under-deletes.
    *
    * Iterative min-label propagation: each round every node takes the min
    * of its own label and its neighbors' labels; converges in
    * graph-diameter rounds (dup clusters are shallow — a handful). Each
    * round is one edge-keyed shuffle + one label join, all DataFrame ops,
    * so a round costs the same at any corpus size; the driver only runs
    * the loop and the per-round convergence count. `localCheckpoint`
    * truncates the plan lineage each round — without it the iterated plan
    * tree grows exponentially and the optimizer, not the data, becomes
    * the bottleneck.
    */
  /** Richest-member election over a labeled membership relation —
    * `(doc_id, cluster_id, n_tokens, n_distinct_tokens)` in, ONE row per
    * cluster out (`doc_id` = the elected member, plus `cluster_size`):
    * max distinct tokens, then max tokens, then min doc_id. The shared
    * decision rule of the quality-aware retention tier — the batch
    * policy ([[graft.CurationPipeline.curateBestInCluster]], q159) and
    * its incremental maintenance (q159b) both route here, so the
    * election semantics are defined once. One window pass partitioned by
    * cluster_id; no joins.
    */
  def richestCanonical(members: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byRichness = Window.partitionBy("cluster_id")
      .orderBy(col("n_distinct_tokens").desc, col("n_tokens").desc,
        col("doc_id").asc)
    members
      .withColumn("rk", row_number().over(byRichness))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .where(col("rk") === 1)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("n_tokens"), col("n_distinct_tokens"))
  }

  def duplicateClusters(docs: DataFrame, pairs: DataFrame,
                        maxIters: Int = 20,
                        idCol: String = "doc_id"): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = graft.CacheScope.checkpoint(
      docs.select(col(idCol), col(idCol).as("cluster_id")))
    var iter = 0
    var changed = 1L
    while (iter < maxIters && changed > 0) {
      val nbrMin = edges
        .join(labels.toDF("src", "src_lab"), "src")
        .groupBy(col("dst").as(idCol))
        .agg(min(col("src_lab")).as("nbr_lab"))
      // The changed flag rides INSIDE the checkpointed frame, so the
      // convergence check is a filter-count over the blocks the eager
      // checkpoint just cached — no join, no shuffle, no recompute. The
      // previous formulation paid a second full action per round (a
      // next-vs-labels join) on top of the checkpoint materialization.
      val next = graft.CacheScope.checkpoint(
        labels.join(nbrMin, Seq(idCol), "left")
          .select(col(idCol),
            least(col("cluster_id"), coalesce(col("nbr_lab"), col("cluster_id")))
              .as("cluster_id"),
            (coalesce(col("nbr_lab"), col("cluster_id")) < col("cluster_id"))
              .as("chg")))
      changed = next.where(col("chg")).count()
      // the superseded round's checkpoint blocks are garbage the moment
      // `next` is materialized — free them instead of leaking one cached
      // RDD per round
      graft.CacheScope.dropCheckpoint(labels)
      labels = next.select(col(idCol), col("cluster_id"))
      iter += 1
    }
    edges.unpersist()
    // NEVER return silently-wrong labels: a component with diameter >
    // maxIters would still be mid-propagation. Dup clusters are shallow in
    // practice (near-dup graphs are dense blobs, not paths); a corpus that
    // trips this wants [[duplicateClustersStar]] — the large-star/
    // small-star contraction whose round count is diameter-independent.
    require(changed == 0,
      s"duplicateClusters did not converge in $maxIters rounds " +
        s"($changed labels still changing) — raise maxIters")
    // the FINAL checkpoint is the returned frame's only copy of the data —
    // it lives until the consumer's query boundary, not the end of this loop
    labels
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — the scale path when component diameter is unknown.
    * Plain min-label propagation ([[duplicateClusters]]) needs
    * graph-diameter rounds: fine for the shallow blobs near-dup graphs
    * form in practice, pathological on chain-shaped components (think
    * boilerplate documents each overlapping only its neighbors). The star
    * operations contract every component to a star around its minimum id
    * in O(log² n) rounds worst case — independent of diameter.
    *
    * Per round, with edges directed large-id → small-id:
    *   - large-star (per node u, BOTH edge directions): attach every
    *     strictly-larger neighbor of u to min(N(u) ∪ set(u));
    *   - small-star (per node u, directed edges): attach u and all its
    *     smaller neighbors to their common minimum.
    * Both preserve connectivity and only ever point nodes at smaller ids;
    * the fixpoint is one star per component, read off as node → root.
    * Convergence is detected by a (count, hash-sum) fingerprint of the
    * edge set — one tiny aggregation over the blocks the eager checkpoint
    * just cached, same one-expensive-action-per-round shape as the
    * propagation loop. The fingerprint is probabilistic: two DIFFERENT
    * consecutive edge sets of equal cardinality colliding on the 64-bit
    * xor-of-hashes would stop the loop early with non-star labels —
    * accepted at ~2^-64 per round; an exact comparison would cost a full
    * anti-join of consecutive edge sets every round.
    *
    * Same contract as [[duplicateClusters]]: every doc labeled with its
    * component's min id, singletons label themselves.
    */
  def duplicateClustersStar(docs: DataFrame, pairs: DataFrame,
                            maxRounds: Int = 25,
                            idCol: String = "doc_id"): DataFrame = {
    // (count, xor-of-hashes): order-independent, overflow-free (an ANSI
    // sum of 2^63-scale hashes would trip ARITHMETIC_OVERFLOW)
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var edges = graft.CacheScope.checkpoint(pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .where(col("u") =!= col("v")).distinct())
    var prev = fingerprint(edges)
    var stable = prev._1 == 0L
    var round = 0
    while (round < maxRounds && !stable) {
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      // large-star: m = min(N(u) ∪ {u}); emit (v, m) for neighbors v > u.
      // m <= u < v, so no self-loops arise and direction is preserved.
      val lmins = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = sym.join(lmins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star on the directed result: all of u's (smaller) neighbors
      // and u itself attach to the minimum; (m, m) self-loops drop out
      val smins = large.groupBy("u").agg(min(col("v")).as("m"))
      val small = graft.CacheScope.checkpoint(large.join(smins, "u")
        .select(explode(array(
          struct(col("u"), col("m").as("v")),
          struct(col("v").as("u"), col("m").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .where(col("u") =!= col("v"))
        .distinct())
      val cur = fingerprint(small)
      graft.CacheScope.dropCheckpoint(edges)
      edges = small
      stable = cur == prev
      prev = cur
      round += 1
    }
    require(stable,
      s"duplicateClustersStar did not converge in $maxRounds rounds")
    // At the fixpoint each non-root node carries exactly one edge, to its
    // component root; the min-agg is belt-and-braces against ever
    // duplicating doc rows through the join.
    val roots = edges.groupBy(col("u").as(idCol)).agg(min(col("v")).as("root"))
    docs.select(col(idCol))
      .join(roots, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("root"), col(idCol)).as("cluster_id"))
  }

  /** Benchmark decontamination — the training-corpus hygiene op every LLM
    * pipeline runs before training: flag training docs that share at least
    * `minShared` distinct n-gram shingles with ANY benchmark/eval doc, so
    * test-set material can be held out of the corpus.
    *
    * Inputs are shingle relations `(id, shingle)` (from [[shingles]], which
    * already emits per-doc distinct shingles). `docs` supplies the id
    * universe so clean docs surface with n_shared = 0.
    *
    * Scale shape: the benchmark side is collapsed to its DISTINCT shingle
    * set — eval benchmarks are a few MB against a 100 TB corpus, so that
    * set broadcasts and the contamination join is map-side over the
    * training shingles (no shuffle of the big side); the only wide op left
    * is the per-doc count, keyed by high-cardinality doc id.
    */
  def contaminationScores(docs: DataFrame, trainSh: DataFrame,
                          benchSh: DataFrame, minShared: Long,
                          idCol: String = "doc_id"): DataFrame = {
    val benchSet = benchSh.select(col("shingle")).distinct()
    val shared = trainSh.join(benchSet, "shingle")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
    docs.select(col(idCol))
      .join(shared, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) >= minShared).as("contaminated"))
  }

  /** Two-phase decontamination, bit-identical to [[contaminationScores]]:
    * a compact Bloom filter over the benchmark shingles' xxhash64 keys
    * prefilters the training shingles BEFORE the exact confirm join.
    *
    * Phase 1 builds the filter with Spark's native `bloom_filter_agg`
    * (map-side partials, one single-row merge) and attaches it as a scalar
    * subquery, so the serialized bits ship to every task once and
    * `might_contain` evaluates inside the scan-side Filter. Phase 2 is the
    * unchanged exact join against the distinct benchmark shingle STRINGS,
    * which discards both Bloom false positives and xxhash64 collisions —
    * false negatives don't exist by the Bloom contract, so the output (and
    * oracle) is exactly [[contaminationScores]]'s.
    *
    * This is the contamination-check shape that holds at 100 TB: the
    * benchmark side is an eval suite (MBs), so its filter is a few MB
    * broadcast once, and only ~(true matches + fpp·|train|) shingles ever
    * reach the join — the alternative of shuffling or even hashing the full
    * training shingle relation against a broadcast set still materializes
    * every string; the Bloom probe is a couple of cache-resident bit tests
    * per shingle. `expectedItems` sizes the filter (Spark allocates 8 bits
    * per expected item, ~2% fpp at capacity); overshooting costs filter
    * memory, undershooting costs only extra confirm-join traffic — never
    * correctness.
    */
  def contaminationScoresBloom(docs: DataFrame, trainSh: DataFrame,
                               benchSh: DataFrame, minShared: Long,
                               expectedItems: Long,
                               idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    val bloom = benchSh.agg(Bridge.column(
      new BloomFilterAggregate(
        Bridge.expression(xxhash64(col("shingle"))),
        expectedItems).toAggregateExpression()).as("bloom_bits"))
    val mightContain = Bridge.column(BloomFilterMightContain(
      Bridge.expression(bloom.scalar()),
      Bridge.expression(xxhash64(col("shingle")))))
    contaminationScores(docs, trainSh.where(mightContain), benchSh, minShared,
      idCol)
  }

  /** Leakage audit — [[contaminationScores]] from the BENCHMARK's point of
    * view: for each benchmark/eval doc, how widely its n-gram shingles
    * leak into the training corpus. Where decontamination answers "which
    * training docs must go", this answers the eval-integrity question
    * "which benchmark items are compromised and how badly" (the audit
    * table in the GPT-3 appendix-C / PaLM contamination studies, public).
    *
    * Output per benchmark doc: its distinct-shingle count (`bench_sz`),
    * the number of distinct training docs sharing ≥1 shingle
    * (`n_train_docs`), total shared (bench-doc, train-doc, shingle) hits
    * (`n_shared_total`), the single worst overlap (`max_common`), and
    * that worst overlap as a fraction of the bench doc's shingles
    * (`max_containment_micro`, 1e6-scaled integer). A bench doc with
    * `max_containment_micro` near 1e6 appears verbatim somewhere in
    * training data.
    *
    * Scale shape mirrors [[contaminationScores]] reversed: the bench side
    * is MBs against a 100 TB train corpus, so it broadcasts and the join
    * streams map-side over the training shingles; the wide ops are keyed
    * by (bench_id, train_id) then bench_id — both fine-grained. The bench
    * universe is docs with ≥1 shingle (shorter docs have nothing to leak).
    * A stop-shingle shared by a bench doc and millions of train docs
    * inflates the join output (that fan-out IS the audit's answer, but it
    * costs the shuffle); [[capShingleDf]] on the bench side is the same
    * escape hatch the Jaccard family uses.
    */
  def leakageAudit(benchSh: DataFrame, trainSh: DataFrame,
                   idCol: String = "doc_id"): DataFrame = {
    // two consumers (size aggregate + join side); the bench shingle
    // relation is small by contract but recomputing its upstream
    // tokenize/shingle chain twice is still waste
    val bench = graft.CacheScope.persist(benchSh.toDF(idCol, "shingle"))
    val benchSizes = bench.groupBy(col(idCol))
      .agg(count(lit(1)).as("bench_sz"))
    val pairShared = bench
      .join(trainSh.toDF("train_id", "shingle"), "shingle")
      .groupBy(col(idCol), col("train_id"))
      .agg(count(lit(1)).as("n_common"))
    val audit = pairShared.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_train_docs"),
        sum(col("n_common")).as("n_shared_total"),
        max(col("n_common")).as("max_common"))
    benchSizes.join(audit, Seq(idCol), "left")
      .select(col(idCol), col("bench_sz"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        coalesce(col("n_shared_total"), lit(0L)).as("n_shared_total"),
        coalesce(col("max_common"), lit(0L)).as("max_common"),
        floor(lit(1000000L) * coalesce(col("max_common"), lit(0L)) /
          col("bench_sz")).cast("long").as("max_containment_micro"))
  }

  /** MLlib-native near-dup path: HashingTF binary term vectors →
    * `MinHashLSH.approxSimilarityJoin`. Same algorithm family as
    * minhashPairs but using Spark ML's hash functions — NOT oracle-portable
    * (MLlib's seeded hashes have no DuckDB twin), so its query is
    * rows-only-checked; agreement with the portable implementation is the
    * unit-level check. Prefer this at scale when MLlib pipelines already
    * produce feature vectors; prefer minhashPairs when cross-engine
    * verifiability matters.
    */
  def minhashPairsMllib(tokenized: DataFrame, threshold: Double,
                        numTables: Int = 8,
                        idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
    val tf = new HashingTF().setInputCol("toks").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    // MinHashLSH rejects all-zero vectors: empty-token docs can't near-dup
    // anything anyway, drop them before hashing. Persisted: the self-join
    // consumes the frame as BOTH datasetA and datasetB, which would
    // otherwise run the shingle+HashingTF chain twice.
    val feats = graft.CacheScope.persist(
      tf.transform(tokenized.where(size(col("toks")) > 0)))
    val model = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numTables).setSeed(42L).fit(feats)
    model.approxSimilarityJoin(feats, feats, threshold, "jaccard_dist")
      .select(col(s"datasetA.$idCol").as("id_a"),
        col(s"datasetB.$idCol").as("id_b"),
        col("jaccard_dist"))
      .where(col("id_a") < col("id_b"))
  }

  /** SimHash bit width. 64 bits: at billions of docs a 32-bit fingerprint
    * produces massive false collisions (birthday bound ~2^16 docs), and its
    * bands make too few join keys to parallelize the self-join.
    */
  val SimHashBits = 64

  /** (a, b) coefficients of the 64 per-bit hash functions
    * `h_j(x) = (a_j * x + b_j) mod P` — bit j of the fingerprint votes with
    * the parity of h_j(term_hash). charHash values only span 31 bits, so
    * fingerprint bits must come from independent derived hashes, not from
    * the raw bits of the term hash (bits 31-63 would be constant zero).
    * Fixed xorshift-derived constants (distinct stream from
    * HashOps.MinHashPerms) shared verbatim with the generated oracle SQL.
    */
  val SimHashPerms: Seq[(Long, Long)] = {
    var x = 1181783497276652981L
    def next(): Long = { // xorshift64, public-domain PRNG (Marsaglia 2003)
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      math.floorMod(x, HashOps.P - 1) + 1
    }
    Seq.fill(SimHashBits)((next(), next() - 1))
  }

  /** Band layout for a given Hamming cap: `maxHamming + 1` contiguous bit
    * ranges `(band, startBit, width)` covering all SimHashBits as evenly as
    * possible. A pair within Hamming distance <= maxHamming must agree
    * exactly on at least one band (pigeonhole), so banding on these keys is
    * candidate-complete BY CONSTRUCTION for the given cap — deriving the
    * band count from the parameter removes the silent-recall-loss footgun
    * of a fixed band count.
    */
  def simhashBandLayout(maxHamming: Int): Seq[(Int, Int, Int)] = {
    val bands = maxHamming + 1
    require(bands >= 1 && bands <= SimHashBits,
      s"maxHamming must be in [0, ${SimHashBits - 1}], got $maxHamming")
    val base = SimHashBits / bands
    val rem = SimHashBits % bands
    val widths = (0 until bands).map(b => base + (if (b < rem) 1 else 0))
    widths.scanLeft(0)(_ + _).zip(widths).zipWithIndex
      .map { case ((start, w), b) => (b, start, w) }
  }

  /** 64-bit SimHash fingerprint per doc from tf-weighted term hashes:
    * bit j is set iff sum over terms of tf * (±1 by parity of the j-th
    * permuted term hash) is positive. Computed as 64 parallel SUM
    * aggregates — one shuffle, no per-bit explode. All arithmetic stays
    * below 2^63 (a*th < P² < 2^62), exact in both engines.
    */
  def simhash(tokenized: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val tf = tokenized
      .select(col(idCol), explode(col("toks")).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .select(col(idCol), col("tf"), HashOps.charHash(col("term")).as("th"))
    val bitSums = (0 until SimHashBits).map { j =>
      val (a, b) = SimHashPerms(j)
      sum(col("tf") *
        when(((lit(a) * col("th") + lit(b)) % HashOps.P)
          .bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"b$j")
    }
    // two's-complement OR-fold: bit 63's value is Long.MinValue, so the
    // fingerprint is assembled with bitwise OR, not addition
    val fp = (0 until SimHashBits)
      .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(0L))
      .reduce(_ bitwiseOR _)
    tf.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol), fp.as("simhash"))
  }

  /** Near-dup pairs by SimHash: block on `maxHamming + 1` contiguous bands
    * of the fingerprint (a pair within the Hamming cap must agree on at
    * least one band — pigeonhole, see simhashBandLayout), then exact
    * Hamming filter via bit_count(xor). With the default cap 3 this is
    * 4 bands × 16-bit keys: a 2^16 key domain per band, so the self-join
    * parallelizes across ~bands × 2^16 shuffle keys instead of the ≤1,024
    * a byte-banded 32-bit fingerprint allows.
    */
  def simhashPairs(fps: DataFrame, maxHamming: Int,
                   idCol: String = "doc_id"): DataFrame = {
    val layout = simhashBandLayout(maxHamming)
    // the Hamming filter runs BEFORE the distinct: band collisions on
    // clustered fingerprints dominate the row count, so dedup must only see
    // the (few) pairs that survive the distance cut. The fingerprint frame
    // is persisted: both sides of the self-join would otherwise recompute
    // the full tf/hash aggregation chain (a fingerprint row is 16 bytes —
    // the cache is tiny at any corpus size).
    val cached = graft.CacheScope.persist(fps)
    val banded = cached.select(col(idCol), col("simhash"),
        explode(array(layout.map { case (b, start, w) =>
          // arithmetic shift + low-w mask == logical extraction of the band
          val key = if (w == SimHashBits) col("simhash")
            else shiftright(col("simhash"), start).bitwiseAND(lit((1L << w) - 1))
          struct(lit(b).as("band"), key.as("key"))
        }: _*)).as("bk"))
      .select(col(idCol), col("simhash"), col("bk.band").as("band"),
        col("bk.key").as("key"))
    banded.toDF("id_a", "fp_a", "band", "key")
      .join(banded.toDF("id_b", "fp_b", "band", "key"), Seq("band", "key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Sketch capacity for [[sourceOverlapKmv]]: 4096 holds every pairwise
    * shingle-set union at the oracle's sf0.01 with ~40% headroom (max
    * measured union 2,841), making the estimate EXACT there — the q99
    * sketch-then-verify oracle pattern — while at bench/corpus scale the
    * same code path degrades gracefully into the (k−1)-quantile KMV
    * estimator with relative error ~1/√k ≈ 1.6%.
    */
  val KmvCapacity = 4096

  /** Cross-source content-overlap matrix via K-minimum-values sketches
    * (Bar-Yossef et al. 2002; Beyer et al. 2007 "distinct-value synopses")
    * over n-token shingle sets — "how much does source A's text overlap
    * source B's" for every pair, WITHOUT ever joining corpus-sized
    * relations pairwise. HLL (q17b's sketch) cannot answer this: union is
    * its only composition; KMV sketches additionally support the
    * INTERSECTION estimate J = |A∩B restricted to the union's k minima|/k
    * that cross-source Jaccard needs.
    *
    * Plan at 100 TB: ONE distinct over (source, shingle-hash) — the only
    * corpus-sized shuffle — then the per-source bottom-k as a
    * `row_number <= k` window, which Spark 4 plans through
    * WindowGroupLimit: every map task prunes to its k smallest hashes
    * per source BEFORE the exchange, so the sketch shuffle carries
    * ≤ tasks×sources×k codegen'd rows (the typed TopKAggregator
    * formulation ships the same bound as Kryo-serialized heaps — q29c
    * keeps that path where the payload is a struct; for bare longs the
    * window is measurably faster). Everything after (pair expansion,
    * union re-rank, membership counts) is sketch-sized: bounded by
    * sources²·k, independent of corpus size. The pair seed join is a
    * sources² broadcast nested loop over the per-source size relation —
    * tiny by construction, same class as q121's datasheet crossJoins.
    *
    * Output per source pair (src_a < src_b): sketch sizes `n_a`/`n_b`
    * (exact distinct counts whenever < k), `k_used` = |union sketch|
    * (= exact |A∪B| in the exact regime), `n_inter`, and
    * `jaccard_micro = ⌊1e6·n_inter/k_used⌋`. Hash collisions (64-bit over
    * the shingle vocabulary) are the standard min-wise caveat; the fixture
    * is collision-free and the estimator absorbs them at scale.
    */
  def sourceOverlapKmv(docs: DataFrame, n: Int = 3,
                       k: Int = KmvCapacity): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokenized = docs.select(col("source"),
      TextOps.tokenize(col("text")).as("toks"))
    val hashed = shingles(tokenized, n, idCol = "source")
      .select(col("source"), xxhash64(col("shingle")).as("h"))
      .distinct()
    val sketches = hashed
      .withColumn("srk", row_number().over(
        Window.partitionBy("source").orderBy("h")))
      .where(col("srk") <= k)
      .select(col("source"), col("h"))
    // persisted: the size relation and both pair-expansion sides read it
    val e = graft.CacheScope.persist(sketches)
    val sizes = e.groupBy("source").agg(count(lit(1)).as("n_sk"))
    val pairs = sizes.select(col("source").as("src_a"), col("n_sk").as("n_a"))
      .join(broadcast(
        sizes.select(col("source").as("src_b"), col("n_sk").as("n_b"))),
        col("src_a") < col("src_b"))
    val ma = pairs.join(e, col("source") === col("src_a"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("h"),
        lit(1L).as("ia"), lit(0L).as("ib"))
    val mb = pairs.join(e, col("source") === col("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("h"),
        lit(0L).as("ia"), lit(1L).as("ib"))
    val merged = ma.unionByName(mb)
      .groupBy("src_a", "src_b", "n_a", "n_b", "h")
      .agg(max("ia").as("ia"), max("ib").as("ib"))
    // union sketch: the k smallest of A∪B under the same ~h order the
    // per-source sketches kept — a per-pair window over ≤ 2k rows
    val ranked = merged.withColumn("rk", row_number().over(
        Window.partitionBy("src_a", "src_b").orderBy("h")))
      .where(col("rk") <= k)
    ranked.groupBy("src_a", "src_b", "n_a", "n_b")
      .agg(count(lit(1)).as("k_used"),
        sum(col("ia") * col("ib")).as("n_inter"))
      .withColumn("jaccard_micro", expr("(1000000 * n_inter) div k_used"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("k_used"), col("n_inter"), col("jaccard_micro"))
  }

  /** Cluster-BALANCED sampling — the "diversify after dedup" step the
    * published dedup-then-sample recipes (the D4 shape: Tirumala et al.
    * 2023, public) run after clustering: instead of one canonical doc
    * per cluster (q159's dial, which discards near-dup variation
    * entirely) or keeping everything (which lets template clusters
    * dominate the mixture), each cluster contributes a quota that grows
    * only LOGARITHMICALLY with its size — quota = bit-length(n) =
    * ⌊log₂ n⌋ + 1, the engine's integer log convention — so a
    * 1000-template cluster lands 10 docs while singletons keep their 1,
    * and realized sampling rate decays like log n / n (the
    * inverse-to-density flavor, all-integer). Members are picked in the
    * q137/q149 keyed-permutation order (perm 0 of charHash(doc_id)):
    * deterministic, replay-stable, no RNG state.
    *
    * Input is any `(doc_id, cluster_id)` labels relation (q55's stored
    * table; singletons are their own cluster by construction). ONE
    * cluster_id exchange: the rank and size windows share the partition
    * key, and the quota filter is a per-row predicate on them — at
    * 100 TB this is a single shuffle of two longs per doc, and with the
    * labels table bucketed by cluster_id it would be exchange-free.
    * Output `(cluster_id, cluster_size, quota, doc_id, rk)` — per-pick
    * rows so the oracle hash covers the exact realized sample.
    */
  def clusterBalancedSample(labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cluster_id")
    val quota = length(conv(col("cluster_size"), 10, 2)).cast("long")
    labels
      .select(col("doc_id"), col("cluster_id"),
        HashOps.perm(0, HashOps.charHash(col("doc_id").cast("string")))
          .as("k"))
      .withColumn("rk",
        row_number().over(w.orderBy(col("k"), col("doc_id"))).cast("long"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .where(col("rk") <= quota)
      .select(col("cluster_id"), col("cluster_size"), quota.as("quota"),
        col("doc_id"), col("rk"))
  }
}
