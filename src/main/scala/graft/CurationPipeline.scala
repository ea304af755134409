package graft

import graft.ops.{DedupOps, TextAnalysisOps, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation — the composite flow an LLM data
  * pipeline runs at 100 TB, built entirely from the operator library:
  *
  *   1. PII redaction (narrow)
  *   2. quality gate: token/repetition/symbol heuristics (narrow)
  *   3. exact dedup: keep each text group's min-id doc (one shuffle)
  *   4. near-dup removal: 5-gram Jaccard inverted-index pairs; a doc is
  *      dropped when it near-duplicates a SMALLER-id doc (deterministic
  *      greedy; one shingle join)
  *
  * Every stage is SQL-expressible, so the whole composite is verified
  * end-to-end against the DuckDB oracle (q50). Stage order matters at
  * scale: narrow filters run before any shuffle so dedup only pays for
  * surviving rows.
  */
object CurationPipeline {

  val NearDupMinMicro = 500000L
  val ShingleN = 5

  /** Default stop-shingle document-frequency cap: a 5-gram shared by more
    * than this many docs is boilerplate, not signal, and its C(df, 2)
    * candidate pairs are the skew that kills the inverted-index join at
    * scale (see DedupOps.capShingleDf). 50 is deliberately generous for
    * the fixture corpus (max observed df is far lower) — the point is
    * that the escape hatch is wired and oracle-verified, and a real
    * deployment tightens it per corpus.
    */
  val MaxShingleDf = 50L

  /** Returns the curated corpus `(doc_id, text, n_tokens)`. Shingle df
    * capping (stage 4's skew guard) is configurable; sizes and Jaccard
    * are computed over the CAPPED shingle sets so the semantics stay
    * consistent (a doc's size is its count of surviving shingles).
    */
  /** Stages 1-3: redact (narrow) → quality gate (narrow) → exact dedup
    * (one window keyed by the 62-bit content key, NOT the raw text: the
    * text/toks still ride the exchange as payload — the survivors need
    * them — but the partitioning/sort key is 8 bytes, so the shuffle
    * writers never compare or hash corpus-sized strings; see
    * HashOps.contentKey for the collision stance). Shared by both
    * stage-4 retention policies; public so a session can materialize it
    * ONCE and feed both (see CurationQueries' memoized relation).
    *
    * The gate drops failing docs with a generator, not a Filter: each
    * doc becomes a one-row array when it passes and null otherwise, and
    * `inline` emits the passing rows. A `.where(qualityPass)` would have
    * Catalyst substitute the redact/tokenize/quality aliases into the
    * predicate and push it below [[Tables.documents]]' rebalance, where
    * the regexes run in the single scan task; the generator keeps all
    * three stages above the exchange, on every core. The inline array
    * must not grow an inferred `size(...) > 0` filter, which is why
    * `InferFiltersFromGenerate` stays excluded ([[Tables.SessionConf]]).
    * A null gate (null text) drops the doc, as the Filter did.
    */
  def exactStage(docs: DataFrame): DataFrame = {
    val redacted = docs.select(col("doc_id"),
      TextAnalysisOps.redactPii(col("text")).as("text"))
    val toked = redacted.select(col("doc_id"), col("text"),
      TextOps.tokenize(col("text")).as("toks"))
    val quality = toked.select(
      (Seq(col("doc_id"), col("text"), col("toks")) ++
        TextAnalysisOps.qualityColumns(col("text"), col("toks"))): _*)
    val passed = quality.select(inline(when(TextAnalysisOps.qualityPass,
      array(struct(col("doc_id"), col("text"), col("toks"))))))
    passed
      .withColumn("content_key", graft.ops.HashOps.contentKey(col("text")))
      .withColumn("canonical_id",
        min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("content_key")))
      .where(col("doc_id") === col("canonical_id"))
      .select("doc_id", "text", "toks")
  }

  def curate(docs: DataFrame,
             maxShingleDf: Long = MaxShingleDf): DataFrame =
    curateFrom(exactStage(docs), maxShingleDf)

  /** [[curate]]'s stage 4 over an already-built (possibly persisted)
    * stages-1-3 relation.
    */
  def curateFrom(exact: DataFrame,
                 maxShingleDf: Long = MaxShingleDf): DataFrame =
    curateFromPairs(exact, nearDupPairs(exact, maxShingleDf))

  /** Stage-4 greedy retention over precomputed near-dup pairs — split out
    * so a caller holding a memoized pairs relation (CurationQueries: q50
    * and q50b consume the SAME pairs) skips the shingle/join rebuild.
    */
  def curateFromPairs(exact: DataFrame, pairs: DataFrame): DataFrame = {
    // 4: near-dup removal — drop docs that near-duplicate a smaller id;
    // hot boilerplate shingles are dropped first (skew guard)
    val drops = pairs.select(col("id_b").as("doc_id")).distinct()
    exact.join(drops, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"),
        size(col("toks")).cast("long").as("n_tokens"))
  }

  private[graft] def nearDupPairs(exact: DataFrame, maxShingleDf: Long): DataFrame =
    DedupOps.jaccardPairs(
      DedupOps.capShingleDf(
        DedupOps.shingles(exact.select("doc_id", "toks"), ShingleN),
        maxShingleDf),
      NearDupMinMicro)

  /** Cluster-canonical variant of stage 4: resolve near-dup pairs into
    * connected components and keep exactly each component's min-id doc —
    * the stricter retention policy fuzzy-dedup pipelines use. The greedy
    * pairwise rule in [[curate]] keeps every doc that only pairs with
    * LARGER ids, so a non-transitive similarity chain can retain several
    * members of one cluster; this variant never does.
    */
  def curateClusterDedup(docs: DataFrame,
                         maxShingleDf: Long = MaxShingleDf): DataFrame =
    // three consumers (cluster id universe, shingle pairs, final join) —
    // and the label-prop loop's first action would otherwise re-run the
    // redact+quality+window prefix
    curateClusterDedupFrom(CacheScope.persist(exactStage(docs)), maxShingleDf)

  /** [[curate]] with stage-boundary observability: input and output
    * row/token counters collected DURING the caller's single action via
    * `Dataset.observe` (a CollectMetrics node), never with extra
    * `count()` actions — at 100 TB one extra action per stage re-runs
    * the pipeline once per counter; observe rides the pass the caller
    * already pays for. The stages-1-3 relation is persisted so the two
    * stage-4 consumers (pair generation, anti-join) share one
    * materialization — which is also what keeps the input CollectMetrics
    * from executing once per consumer branch.
    *
    * Read the observations (`.get`) only AFTER an action on the returned
    * frame completes; `get` blocks until then.
    */
  def curateObserved(docs: DataFrame, maxShingleDf: Long = MaxShingleDf)
      : (DataFrame, org.apache.spark.sql.Observation,
         org.apache.spark.sql.Observation) = {
    val obsIn = org.apache.spark.sql.Observation("curation_input")
    val obsOut = org.apache.spark.sql.Observation("curation_output")
    val exact = CacheScope.persist(exactStage(
      docs.observe(obsIn, count(lit(1)).as("n_docs"))))
    val out = curateFrom(exact, maxShingleDf)
      .observe(obsOut, count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"))
    (out, obsIn, obsOut)
  }

  /** [[curateClusterDedup]]'s stage 4 over an already-PERSISTED
    * stages-1-3 relation (the label-propagation loop consumes it from
    * multiple actions — an unpersisted plan would re-run the prefix
    * per round).
    */
  def curateClusterDedupFrom(exact: DataFrame,
                             maxShingleDf: Long = MaxShingleDf): DataFrame =
    curateClusterDedupFromPairs(exact, nearDupPairs(exact, maxShingleDf))

  /** Cluster-canonical stage 4 over precomputed pairs (see
    * [[curateFromPairs]] for why the pairs are injectable).
    */
  def curateClusterDedupFromPairs(exact: DataFrame,
                                  pairs: DataFrame): DataFrame = {
    val clusters = DedupOps.duplicateClusters(
      exact.select("doc_id"), pairs.select("id_a", "id_b"))
    exact.join(clusters, Seq("doc_id"))
      .where(col("doc_id") === col("cluster_id"))
      .select(col("doc_id"), col("text"),
        size(col("toks")).cast("long").as("n_tokens"))
  }

  /** Quality-aware canonical selection: one row per near-dup cluster,
    * keeping the RICHEST member — max distinct tokens, then max tokens,
    * then min doc_id — instead of [[curateClusterDedupFromPairs]]'s
    * arbitrary min-id convention. When near-duplicates differ (one copy
    * truncated, one boilerplate-padded, one intact), the min-id rule
    * keeps whichever was crawled first; this rule keeps the most
    * informative copy — the retention policy a training corpus actually
    * wants. Emits `(doc_id, cluster_id, cluster_size, n_tokens,
    * n_distinct_tokens)` — cluster_id stays the min-id LABEL (stable
    * across policy changes), doc_id is the kept member.
    *
    * Scale shape: the label-propagation clusters plus one window pass
    * partitioned by cluster_id over the exact-survivor relation — no
    * new corpus-sized join beyond what the clusters already cost.
    */
  def curateBestInCluster(exact: DataFrame, pairs: DataFrame): DataFrame =
    DedupOps.richestCanonical(scoredClusterMembers(exact, pairs))

  /** The labeled, richness-scored membership relation under the election
    * — `(doc_id, cluster_id, n_tokens, n_distinct_tokens)`. ONE
    * definition shared by the policy ([[curateBestInCluster]], q159) and
    * the report that justifies it (q161): a richness-semantics change in
    * one can never silently diverge from the other.
    */
  def scoredClusterMembers(exact: DataFrame, pairs: DataFrame): DataFrame = {
    val clusters = DedupOps.duplicateClusters(
      exact.select("doc_id"), pairs.select("id_a", "id_b"))
    exact.join(clusters, Seq("doc_id"))
      .select(col("doc_id"), col("cluster_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long")
          .as("n_distinct_tokens"))
  }
}
