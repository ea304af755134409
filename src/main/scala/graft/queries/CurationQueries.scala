package graft.queries

import graft.{CurationPipeline, Tables}
import graft.ops.TextAnalysisOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composite corpus-curation flow (CurationPipeline) as one
  * oracle-verified query: redact → quality gate → exact dedup → near-dup
  * removal, end to end.
  */
object CurationQueries {

  import SqlDefs._

  /** One MATERIALIZED stages-1-3 relation (redact → quality gate → exact
    * dedup) per (application, fixture dir): q50 and q50b differ only in
    * their stage-4 retention policy, and as independent programs each
    * would recompute the shared prefix. A session [[Memo]], like
    * NlpQueries' summary relation.
    */

  /** Bump when the redaction patterns, quality gate, tokenizer, or exact
    * dedup rule change SEMANTICS (fingerprint sees files + constants,
    * not code; StoredPairsSpec's from-scratch compare is the backstop).
    */
  private val ExactStoreVersion = "2" // r12: exact stage keyed on contentKey

  private[graft] val exactDf: Memo[DataFrame] = Memo.frame { (spark, d) =>
    // stages 1-3 ARE the "cleaned corpus" a production pipeline
    // materializes once and serves to every downstream consumer — the
    // same maintained-table argument as the pair indexes
    graft.sources.StoredRelations.readOrBuild(spark, "curation_exact",
      Seq(s"$d/documents.parquet"), ExactStoreVersion)(
      CurationPipeline.exactStage(Tables.documents(spark, d)))
  }

  /** The near-dup PAIRS relation memoized alongside the prefix: q50 and
    * q50b consume the SAME pairs (drop-list vs cluster retention), and as
    * independent programs each would re-shingle and re-join. Tiny frame
    * (one row per near-dup pair), same lifecycle as [[exactDf]].
    */

  /** Bump when the curation prefix (redaction patterns, quality gate,
    * tokenizer) or pair generation changes SEMANTICS — the stored
    * artifact's fingerprint sees input files and these constants, not
    * code (StoredPairsSpec row-compares store vs fresh build).
    */
  private val PairsStoreVersion =
    s"1:n=${CurationPipeline.ShingleN},min=${CurationPipeline.NearDupMinMicro}," +
      s"cap=${CurationPipeline.MaxShingleDf}"

  private[graft] val pairsDf: Memo[DataFrame] = Memo.frame { (spark, d) =>
    graft.sources.StoredRelations.readOrBuild(spark, "curation_pairs",
      Seq(s"$d/documents.parquet"), PairsStoreVersion)(
      CurationPipeline.nearDupPairs(exactDf(spark, d),
        CurationPipeline.MaxShingleDf))
  }

  /** The per-doc DSIR weights relation memoized for the q97 family: q97
    * reports the scores, q97b selects by them — as independent programs
    * each would re-explode the corpus' n-gram instances. One narrow row
    * per doc, same lifecycle as [[exactDf]].
    */
  private val dsirDf = Memo.frame((spark, d) =>
    TextAnalysisOps.dsirWeights(
      Tables.documents(spark, d), col("lang") === "en", DsirBuckets))

  def q50CuratedCorpus(spark: SparkSession, dir: String): DataFrame =
    CurationPipeline.curateFromPairs(exactDf(spark, dir), pairsDf(spark, dir))
      .orderBy("doc_id")

  /** Shared oracle CTE chain for both stage-4 retention policies:
    * redact → quality gate → exact dedup → capped shingles → Jaccard
    * pairs. Spliced after `WITH` / `WITH RECURSIVE`.
    */
  private val curationCtePrefix: String = {
    val redacted = TextAnalysisOps.PiiPatterns.foldLeft("text") {
      case (c, (pat, repl)) =>
        val p = pat.replace("\\", "\\\\").replace("'", "''")
        s"regexp_replace($c, '$p', '$repl', 'g')"
    }
    val n = CurationPipeline.ShingleN
    s"""red AS (SELECT doc_id, $redacted AS text FROM documents),
    t AS (SELECT doc_id, text, ${toksSql("text")} AS toks FROM red),
    q AS (SELECT doc_id, text, toks,
      len(toks) AS n_tokens,
      CASE WHEN len(toks) > 0 THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) ELSE 0.0 END AS ttr,
      CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains($stopSql, lower(x)))) AS DOUBLE) / len(toks) ELSE 0.0 END AS stop_ratio,
      CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS non_alnum
      FROM t),
    passed AS (
      SELECT doc_id, text, toks FROM q
      WHERE ${graft.ops.TextAnalysisOps.qualityPassSql(
        "n_tokens", "ttr", "non_alnum", "stop_ratio")}),
    exact AS (
      SELECT doc_id, text, toks FROM (
        SELECT *, min(doc_id) OVER (
          PARTITION BY ${graft.ops.HashOps.contentKeySql("text")}) AS cid
        FROM passed)
      WHERE doc_id = cid),
    sh0 AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
        range(0, len(toks) - $n + 1),
        i -> array_to_string(toks[(CAST(i AS INT)+1):(CAST(i AS INT)+$n)], ' ')))) AS shingle
      FROM exact WHERE len(toks) >= $n),
    hot AS (SELECT shingle FROM sh0 GROUP BY shingle
      HAVING count(*) > ${CurationPipeline.MaxShingleDf}),
    sh AS (SELECT s.doc_id, s.shingle FROM sh0 s
      LEFT JOIN hot h ON s.shingle = h.shingle WHERE h.shingle IS NULL),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT id_a, id_b FROM common c
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
      WHERE floor(1000000 * c.common / (sa.sz + sb.sz - c.common)) >= ${CurationPipeline.NearDupMinMicro})"""
  }

  val q50Sql: String =
    s"""WITH $curationCtePrefix,
    drops AS (SELECT DISTINCT id_b FROM pairs)
    SELECT e.doc_id, e.text, CAST(len(e.toks) AS BIGINT) AS n_tokens
    FROM exact e LEFT JOIN drops d ON e.doc_id = d.id_b
    WHERE d.id_b IS NULL
    ORDER BY e.doc_id"""

  // --- q50c: curation waterfall attribution --------------------------------
  // Pipeline observability for q50: every INPUT doc attributed to the
  // FIRST stage that dropped it ('quality' | 'exact_dup' | 'near_dup')
  // or 'kept' — the per-doc audit a data-governance review asks for
  // ("why is this document not in the training set?") and the monitoring
  // surface for stage-level drop-rate drift. The waterfall re-derives
  // stage predicates with the pipeline's own public expressions
  // (qualityColumns/qualityPass, the exact-dedup window, the memoized
  // near-dup pair relation), so attribution can never disagree with the
  // pipeline it audits; precedence is the CASE order. kept-count ==
  // q50's survivor count by construction — the oracle (the same CTE
  // prefix as q50 plus the CASE) enforces it hash-exactly.
  def q50cCurationAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val redacted = docs.select(col("doc_id"),
      TextAnalysisOps.redactPii(col("text")).as("text"))
    val toked = redacted.select(col("doc_id"), col("text"),
      graft.ops.TextOps.tokenize(col("text")).as("toks"))
    val flagged = toked.select(
      (Seq(col("doc_id"), col("text"), col("toks")) ++
        TextAnalysisOps.qualityColumns(col("text"), col("toks"))): _*)
      .withColumn("q_pass", TextAnalysisOps.qualityPass)
    // r15 opt (guide §2.3): `flagged` used to be referenced twice — the
    // exact-dedup window AND the final attribution both re-ran the
    // redact + tokenize + quality-regex pass (Catalyst shares no
    // subtrees across references). ONE persisted NARROW projection
    // (doc_id, q_pass, content key — three scalar columns, never the
    // text payload) now feeds both; same rows, one regex pass.
    val screened = graft.CacheScope.persist(
      flagged.select(col("doc_id"), col("q_pass"),
        graft.ops.HashOps.contentKey(col("text")).as("ck")))
    val exactCid = screened.where(col("q_pass"))
      .withColumn("cid", min(col("doc_id")).over(Window.partitionBy("ck")))
      .select(col("doc_id"), col("cid"))
    val ndDrops = pairsDf(spark, dir).select(col("id_b").as("doc_id"))
      .distinct().withColumn("nd", lit(true))
    screened.select(col("doc_id"), col("q_pass"))
      .join(exactCid, Seq("doc_id"), "left")
      .join(ndDrops, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(!col("q_pass"), "quality")
          .when(col("doc_id") =!= col("cid"), "exact_dup")
          .when(col("nd"), "near_dup")
          .otherwise("kept").as("dropped_by"))
      .orderBy("doc_id")
  }

  val q50cSql: String =
    s"""WITH $curationCtePrefix,
    drops AS (SELECT DISTINCT id_b FROM pairs),
    cids AS (SELECT doc_id, cid FROM (
      SELECT doc_id, min(doc_id) OVER (
        PARTITION BY ${graft.ops.HashOps.contentKeySql("text")}) AS cid
      FROM passed))
    SELECT q.doc_id,
      CASE WHEN NOT (${graft.ops.TextAnalysisOps.qualityPassSql(
        "n_tokens", "ttr", "non_alnum", "stop_ratio")}) THEN 'quality'
           WHEN q.doc_id <> x.cid THEN 'exact_dup'
           WHEN d.id_b IS NOT NULL THEN 'near_dup'
           ELSE 'kept' END AS dropped_by
    FROM q
    LEFT JOIN cids x USING (doc_id)
    LEFT JOIN drops d ON q.doc_id = d.id_b
    ORDER BY q.doc_id"""

  // --- q50b: cluster-canonical near-dup retention -------------------------
  // Same stages 1-3, but stage 4 keeps exactly ONE doc per connected
  // near-dup component (the min id), resolved by the oracle's recursive
  // closure vs Spark's label propagation.
  def q50bClusterCurated(spark: SparkSession, dir: String): DataFrame =
    CurationPipeline.curateClusterDedupFromPairs(
      exactDf(spark, dir), pairsDf(spark, dir))
      .orderBy("doc_id")

  // materializeCtes: the recursive closure references `edges` on every
  // iteration — inlined, the whole curation prefix re-expands per step
  // (4.7 s → 0.8 s in DuckDB, same rows; the recursive head `reach(id,
  // lab)` itself doesn't match the rewrite pattern and stays plain)
  val q50bSql: String = SqlDefs.materializeCtes(
    s"""WITH RECURSIVE $curationCtePrefix,
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
    reach(id, lab) AS (
      SELECT doc_id, doc_id FROM exact
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
    cl AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id)
    SELECT e.doc_id, e.text, CAST(len(e.toks) AS BIGINT) AS n_tokens
    FROM exact e JOIN cl c ON e.doc_id = c.id
    WHERE e.doc_id = c.cluster_id
    ORDER BY e.doc_id""")

  // --- q159: quality-aware canonical selection ----------------------------
  // q50b keeps the MIN-ID member of each near-dup cluster — an arbitrary
  // crawl-order convention; this keeps the RICHEST member (semantics and
  // the window shape in CurationPipeline.curateBestInCluster). Same
  // stored pair relation and min-id cluster LABELS as q50b, so the two
  // retention policies are directly comparable row-for-row: where they
  // disagree, the cluster's first-crawled copy was not its best copy.
  def q159BestInCluster(spark: SparkSession, dir: String): DataFrame =
    CurationPipeline.curateBestInCluster(
      exactDf(spark, dir), pairsDf(spark, dir))
      .orderBy("doc_id")

  // materializeCtes for the same reason as q50b: the recursive closure
  // references `edges` every iteration
  val q159Sql: String = SqlDefs.materializeCtes(
    s"""WITH RECURSIVE $curationCtePrefix,
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
    reach(id, lab) AS (
      SELECT doc_id, doc_id FROM exact
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
    cl AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id),
    sc AS (SELECT e.doc_id, c.cluster_id,
        CAST(len(e.toks) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(e.toks)) AS BIGINT) AS n_distinct_tokens
      FROM exact e JOIN cl c ON e.doc_id = c.id),
    r AS (SELECT sc.*,
        row_number() OVER (PARTITION BY cluster_id
          ORDER BY n_distinct_tokens DESC, n_tokens DESC, doc_id ASC) AS rk,
        CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
          AS cluster_size
      FROM sc)
    SELECT doc_id, cluster_id, cluster_size, n_tokens, n_distinct_tokens
    FROM r WHERE rk = 1
    ORDER BY doc_id""")

  // --- q161: canonical-policy impact report --------------------------------
  // The evidence for ADOPTING q159 over q50b: one row per cluster where
  // the richest-member election picked a DIFFERENT doc than the min-id
  // convention, with the token/distinct-token delta the switch buys.
  // Exact-duplicate clusters never appear (identical members tie and the
  // tie-break IS min id), so every row is a genuine content difference
  // between near-duplicates — the decision-evidence pattern (q147/q157):
  // the engine carries the operator AND the measurement that justifies
  // choosing it. Cost: the q159 relations it already shares via the
  // session memos, plus one cluster-keyed join.
  def q161CanonicalImpact(spark: SparkSession, dir: String): DataFrame = {
    // the SAME scored-membership relation the q159 policy elects over
    // (one shared definition — see CurationPipeline.scoredClusterMembers);
    // persisted because the election window and the min-id projection
    // both consume it, and unpersisted each would re-run the label
    // propagation
    val sc = graft.CacheScope.persist(CurationPipeline.scoredClusterMembers(
      exactDf(spark, dir), pairsDf(spark, dir)))
    val best = graft.ops.DedupOps.richestCanonical(sc)
    val minId = sc.where(col("doc_id") === col("cluster_id"))
      .select(col("cluster_id"), col("n_tokens").as("min_tokens"),
        col("n_distinct_tokens").as("min_distinct"))
    best.where(col("doc_id") =!= col("cluster_id"))
      .join(minId, Seq("cluster_id"))
      .select(col("cluster_id"), col("doc_id").as("best_doc"),
        col("min_tokens"), col("n_tokens").as("best_tokens"),
        (col("n_tokens") - col("min_tokens")).as("tokens_gained"),
        (col("n_distinct_tokens") - col("min_distinct"))
          .as("distinct_gained"))
      .orderBy("cluster_id")
  }

  // lazy: shares q159Sql's CTE chain (materializeCtes applied there)
  lazy val q161Sql: String = SqlDefs.materializeCtes(
    s"""WITH RECURSIVE $curationCtePrefix,
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
    reach(id, lab) AS (
      SELECT doc_id, doc_id FROM exact
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
    cl AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id),
    sc AS (SELECT e.doc_id, c.cluster_id,
        CAST(len(e.toks) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(e.toks)) AS BIGINT) AS n_distinct_tokens
      FROM exact e JOIN cl c ON e.doc_id = c.id),
    r AS (SELECT sc.*,
        row_number() OVER (PARTITION BY cluster_id
          ORDER BY n_distinct_tokens DESC, n_tokens DESC, doc_id ASC) AS rk
      FROM sc),
    best AS (SELECT doc_id AS best_doc, cluster_id,
        n_tokens AS best_tokens, n_distinct_tokens AS best_distinct
      FROM r WHERE rk = 1),
    mi AS (SELECT cluster_id, n_tokens AS min_tokens,
        n_distinct_tokens AS min_distinct
      FROM sc WHERE doc_id = cluster_id)
    SELECT b.cluster_id, b.best_doc, m.min_tokens, b.best_tokens,
      b.best_tokens - m.min_tokens AS tokens_gained,
      b.best_distinct - m.min_distinct AS distinct_gained
    FROM best b JOIN mi m ON b.cluster_id = m.cluster_id
    WHERE b.best_doc <> b.cluster_id
    ORDER BY b.cluster_id""")

  // --- q51: deterministic hash-based train/val/test split ----------------
  // Splitting on a content hash (not doc_id, not rand()) keeps assignment
  // stable under re-ingestion and reshuffling — the reproducible-split
  // pattern for training corpora. Portable hash → oracle-exact.
  def q51Split(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), graft.ops.HashOps.charHash(col("text")).as("h"))
      .select(col("doc_id"),
        when(col("h") % 10 < 8, "train")
          .when(col("h") % 10 === 8, "val")
          .otherwise("test").as("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("split")

  val q51Sql: String =
    s"""WITH h AS (
      SELECT doc_id, ${graft.ops.HashOps.charHashSql("text")} AS h FROM documents)
    SELECT CASE WHEN h % 10 < 8 THEN 'train'
                WHEN h % 10 = 8 THEN 'val'
                ELSE 'test' END AS split,
      count(*) AS n_docs
    FROM h GROUP BY 1 ORDER BY split"""

  // --- q52: deterministic stratified downsampling ------------------------
  // Keep ~30% per language stratum, selected by content hash: the sample
  // is reproducible across runs/reshuffles (rand()/sample() are not) and
  // exactly verifiable. The pattern for language-balanced corpus capping.
  def q52StratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        graft.ops.HashOps.charHash(col("text")).as("h"))
      .where(col("h") % 100 < 30)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("first_doc"))
      .orderBy("lang")

  val q52Sql: String =
    s"""WITH h AS (
      SELECT doc_id, lang, ${graft.ops.HashOps.charHashSql("text")} AS h
      FROM documents)
    SELECT lang, count(*) AS n_sampled, CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM h WHERE h % 100 < 30 GROUP BY lang ORDER BY lang"""

  // --- q52b: exact-size per-stratum sample ---------------------------------
  // q52 keeps a hash RATE per stratum (sample size varies with stratum
  // size); this keeps exactly K docs per language — the fixed-budget
  // variant (eval-set carving, per-language caps). Selection order is the
  // content hash, so membership is reproducible and oracle-exact; the
  // rank<=K filter plans through Spark 4's WindowGroupLimit, which prunes
  // each stratum to K rows per partition BEFORE the window sort's shuffle
  // — the aggregator-free scale path for fixed-k sampling.
  val FixedSampleK = 20

  def q52bFixedSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy("h", "doc_id")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        graft.ops.HashOps.charHash(col("text")).as("h"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= FixedSampleK)
      .select(col("lang"), col("rk"), col("doc_id"), col("h"))
      .orderBy("lang", "rk")
  }

  val q52bSql: String =
    s"""WITH h AS (
      SELECT doc_id, lang, ${graft.ops.HashOps.charHashSql("text")} AS h
      FROM documents),
    r AS (SELECT lang, doc_id, h,
      CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
        AS BIGINT) AS rk FROM h)
    SELECT lang, rk, doc_id, h FROM r
    WHERE rk <= $FixedSampleK ORDER BY lang, rk"""

  // --- q52c: PPS systematic sampling (probability ∝ size) ------------------
  // The third sampling contract after q52's rate and q52b's fixed-k:
  // probability-proportional-to-size selection — k points dropped at the
  // exact rational positions j·W/k (j = 0..k-1) over the corpus's
  // cumulative-weight line, each doc drawn with multiplicity = points
  // inside its [cum, cum+w) interval. The survey-sampling classic
  // (systematic PPS, Madow 1949): every doc's expected multiplicity is
  // exactly k·w/W, a doc with w ≥ W/k is ALWAYS drawn, and Σmultiplicity
  // telescopes to exactly k (ceil((cum+w)k/W) − ceil(cum·k/W) sums to
  // ceil(Wk/W) = k) — all in pure BIGINT ceil-division, so the draw is
  // reproducible and oracle-exact with no rand() anywhere. The cumsum is
  // the q58 two-level prefix sum under a constant source key — no task
  // ever scans the whole corpus serially.
  val PpsSampleK = 64L

  def q52cPpsSample(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), lit("all").as("source"),
        col("n_chars").cast("long").as("n_tokens"))
    val off = runningOffsets(t.withColumn("ord", col("doc_id")), PackShards)
    val tot = off.agg(sum("n_tokens").as("w_total"))
    off.crossJoin(broadcast(tot))
      .withColumn("multiplicity", expr(
        s"((start_offset + n_tokens) * $PpsSampleK + w_total - 1) div w_total" +
          s" - (start_offset * $PpsSampleK + w_total - 1) div w_total"))
      .where(col("multiplicity") > 0)
      .select(col("doc_id"), col("n_tokens").as("weight"), col("multiplicity"))
      .orderBy("doc_id")
  }

  val q52cSql: String =
    s"""WITH w AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS weight
      FROM documents),
    c AS (SELECT doc_id, weight,
      CAST(sum(weight) OVER (ORDER BY doc_id) - weight AS BIGINT) AS cum
      FROM w),
    t AS (SELECT CAST(sum(weight) AS BIGINT) AS wt FROM w),
    m AS (SELECT doc_id, weight,
      ((cum + weight) * $PpsSampleK + wt - 1) // wt
        - (cum * $PpsSampleK + wt - 1) // wt AS multiplicity
      FROM c CROSS JOIN t)
    SELECT doc_id, weight, CAST(multiplicity AS BIGINT) AS multiplicity
    FROM m WHERE multiplicity > 0 ORDER BY doc_id"""

  // --- q57: source mixing — per-source target sampling rates --------------
  // The mixture-weighting step before training: each source keeps a
  // deterministic hash-selected fraction matching its target weight
  // (upweight wiki-like sources, downweight crawl), reproducible across
  // runs and reshuffles like q51/q52. Per-mille rates as a literal map.
  val MixPermille: Seq[(String, Int)] = Seq(
    "src0" -> 900, "src1" -> 800, "src2" -> 700, "src3" -> 500, "src4" -> 300)

  def q57SourceMix(spark: SparkSession, dir: String): DataFrame = {
    val rate = MixPermille.foldLeft(lit(100)) { case (acc, (s, r)) =>
      when(col("source") === s, lit(r)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        graft.ops.HashOps.charHash(col("text")).as("h"), rate.as("rate"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("h") % 1000 < col("rate"), 1)).as("n_kept"))
      .orderBy("source")
  }

  val q57Sql: String = {
    val rate = MixPermille.foldRight("100") { case ((s, r), acc) =>
      s"CASE WHEN source = '$s' THEN $r ELSE $acc END"
    }
    s"""WITH h AS (
      SELECT doc_id, source, ${graft.ops.HashOps.charHashSql("text")} AS h,
        $rate AS rate
      FROM documents)
    SELECT source, count(*) AS n_docs,
      CAST(count(CASE WHEN h % 1000 < rate THEN 1 END) AS BIGINT) AS n_kept
    FROM h GROUP BY source ORDER BY source"""
  }

  // --- q75: temperature-scaled source mixing weights ----------------------
  // Where q57 APPLIES hand-tuned per-source rates, this DERIVES the rates:
  // multinomial sampling weights w_s ∝ n_s^α with α = 0.5, the temperature
  // upsampling of low-resource sources used by XLM-R / mT5 / the Pile
  // (public). α = 0.5 is exactly an integer square root, so the whole
  // derivation stays engine-exact: isqrt via floor(sqrt(double)) with a
  // ±1 correction (exact for any int64 — the double rounding can be off
  // by at most one step, and the correction compares exact integer
  // squares), then 1e6-scaled weights by INTEGER division against the
  // isqrt total. Two aggregates: per-source roll-up, then a 1-row total
  // broadcast back (the q19b/q68 scalar pattern). The 1e6 numerator
  // scaling bounds per-source token mass at ~9.2e12 before int64
  // overflow — generous for one source's tokens, and the guard is the
  // same one every *_micro column in this repo carries.
  /** Exact integer square root of a non-negative long column: the double
    * `sqrt` seed can be off by one step once values pass 2^52, so the
    * result is corrected against exact integer squares. Exact for
    * 0 <= x < 2^62 (above that the (s+1)² probe itself could overflow).
    */
  def isqrtExact(x: Column): Column = {
    val s0 = floor(sqrt(x.cast("double"))).cast("long")
    coalesce(
      when((s0 + 1) * (s0 + 1) <= x, s0 + 1),
      when(s0 * s0 > x, s0 - 1),
      s0)
  }

  def q75TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.documents(spark, dir)
      .select(col("source"),
        TextAnalysisOps.wsTokenCount(col("text")).as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
    val w = perSource.withColumn("isqrt_tokens", isqrtExact(col("n_tokens")))
    val totals = w.agg(sum("n_tokens").as("tot_tokens"),
      sum("isqrt_tokens").as("tot_isqrt"))
    w.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("isqrt_tokens"),
        expr("1000000 * n_tokens div tot_tokens").as("w_prop_micro"),
        expr("1000000 * isqrt_tokens div tot_isqrt").as("w_temp_micro"))
      .orderBy("source")
  }

  val q75Sql: String =
    s"""WITH t AS (
      SELECT source, CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens
      FROM documents),
    s AS (SELECT source, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      FROM t GROUP BY source),
    i AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS s0
      FROM s),
    c AS (SELECT source, n_docs, n_tokens,
        CASE WHEN (s0 + 1) * (s0 + 1) <= n_tokens THEN s0 + 1
             WHEN s0 * s0 > n_tokens THEN s0 - 1
             ELSE s0 END AS isqrt_tokens
      FROM i),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
        CAST(sum(isqrt_tokens) AS BIGINT) AS tot_isqrt FROM c)
    SELECT c.source, c.n_docs, c.n_tokens, c.isqrt_tokens,
      1000000 * c.n_tokens // t.tot_tokens AS w_prop_micro,
      1000000 * c.isqrt_tokens // t.tot_isqrt AS w_temp_micro
    FROM c, tot t ORDER BY c.source"""

  // --- q113: mixture epochs under a token budget ---------------------------
  // The q75 temperature weights turned into the number a training run
  // actually consumes (Pile/Gopher practice): a TOTAL token budget times
  // each source's weight gives the source's token TARGET; a source whose
  // target exceeds its available tokens REPEATS (epochs > 1 — the
  // published upsampling of small high-quality sources), one below
  // samples down (epochs = 1, rate < 1). All integer: targets by
  // floor-division of the budget, epochs by ceil-division
  // ((a + b - 1) div b), oversample rate in micro-units.
  val MixTokenBudget = 50000L

  def q113MixtureEpochs(spark: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.documents(spark, dir)
      .select(col("source"),
        TextAnalysisOps.wsTokenCount(col("text")).as("n_tokens"))
      .groupBy("source")
      .agg(sum("n_tokens").as("n_tokens"))
      .withColumn("isqrt_tokens", isqrtExact(col("n_tokens")))
    val totals = perSource.agg(sum("isqrt_tokens").as("tot_isqrt"))
    perSource.crossJoin(broadcast(totals))
      .select(col("source"), col("n_tokens"),
        expr(s"$MixTokenBudget * isqrt_tokens div tot_isqrt").as("target_tokens"))
      .select(col("source"), col("n_tokens"), col("target_tokens"),
        expr("(target_tokens + n_tokens - 1) div n_tokens").as("epochs"),
        expr("1000000 * target_tokens div n_tokens").as("oversample_micro"))
      .orderBy("source")
  }

  val q113Sql: String =
    s"""WITH t AS (
      SELECT source, CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens
      FROM documents),
    s AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      FROM t GROUP BY source),
    i AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS s0
      FROM s),
    c AS (SELECT source, n_tokens,
        CASE WHEN (s0 + 1) * (s0 + 1) <= n_tokens THEN s0 + 1
             WHEN s0 * s0 > n_tokens THEN s0 - 1
             ELSE s0 END AS isqrt_tokens
      FROM i),
    tot AS (SELECT CAST(sum(isqrt_tokens) AS BIGINT) AS tot_isqrt FROM c),
    g AS (SELECT c.source, c.n_tokens,
        $MixTokenBudget * c.isqrt_tokens // t.tot_isqrt AS target_tokens
      FROM c, tot t)
    SELECT source, n_tokens, target_tokens,
      (target_tokens + n_tokens - 1) // n_tokens AS epochs,
      1000000 * target_tokens // n_tokens AS oversample_micro
    FROM g ORDER BY source"""

  // --- q68: adaptive length filter (derived thresholds) -------------------
  // Curation thresholds computed FROM the corpus, not hardcoded: keep the
  // docs whose token count lies within the corpus' [p25, p75] band. The
  // two-pass shape is the point — a 1-row exact-percentile aggregate,
  // broadcast back over the narrow projection as scalar bounds (the q19b
  // pattern) — and it is unchanged when a 100 TB deployment swaps the
  // exact percentile for approx_percentile (exact holds the full sorted
  // column per group; see q17d's scaladoc). p ∈ {.25, .75} over
  // integer-valued counts keeps the interpolation binary-exact in both
  // engines, so even the threshold derivation hash-verifies.
  def q68AdaptiveLength(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalysisOps.wsTokenCount(col("text")).as("n_tokens"))
    val bounds = t.agg(
      percentile(col("n_tokens"), lit(0.25)).as("lo"),
      percentile(col("n_tokens"), lit(0.75)).as("hi"))
    t.crossJoin(broadcast(bounds))
      .where(col("n_tokens") >= col("lo") && col("n_tokens") <= col("hi"))
      .select(col("doc_id"), col("n_tokens"))
      .orderBy("doc_id")
  }

  val q68Sql: String =
    s"""WITH t AS (
      SELECT doc_id, CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens
      FROM documents),
    b AS (SELECT quantile_cont(CAST(n_tokens AS DOUBLE), 0.25) AS lo,
        quantile_cont(CAST(n_tokens AS DOUBLE), 0.75) AS hi FROM t)
    SELECT t.doc_id, t.n_tokens FROM t, b
    WHERE t.n_tokens >= b.lo AND t.n_tokens <= b.hi
    ORDER BY t.doc_id"""

  // --- q68b: the same thresholds via approx_percentile --------------------
  // q68's scaladoc promises "the shape is unchanged when a 100 TB
  // deployment swaps the exact percentile for approx_percentile" — this
  // is that swap, present instead of promised. The exact aggregate holds
  // the full sorted column in one task; the approx one is a mergeable
  // fixed-size sketch (Greenwald-Khanna) with a published guarantee:
  // rank error <= n / accuracy. Rows-only in the registry (DuckDB's
  // approx quantile is a different sketch, so no hash twin exists);
  // CurationPipelineSpec holds the quantitative error-bound unit — the
  // approx bound must land within the exact rank window — and the q68
  // oracle anchors the shared filter shape.
  def q68bAdaptiveLengthApprox(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalysisOps.wsTokenCount(col("text")).as("n_tokens"))
    val bounds = t.agg(
      percentile_approx(col("n_tokens"), lit(0.25), lit(PctAccuracy)).as("lo"),
      percentile_approx(col("n_tokens"), lit(0.75), lit(PctAccuracy)).as("hi"))
    t.crossJoin(broadcast(bounds))
      .where(col("n_tokens") >= col("lo") && col("n_tokens") <= col("hi"))
      .select(col("doc_id"), col("n_tokens"))
      .orderBy("doc_id")
  }

  /** approx_percentile accuracy: guarantees rank error <= n/PctAccuracy.
    * At 10000, a 100 TB corpus' percentile lands within 0.01% of the true
    * rank while the sketch stays a few hundred KB per partition.
    */
  val PctAccuracy = 10000

  // --- q97: DSIR importance weights (target-likeness scoring) -------------
  // The data-selection scorer between hand-rules (q21/q88) and
  // similarity search: score every raw doc by hashed-n-gram likeness to
  // a target slice (here the English subcorpus — the fixture's stand-in
  // for a curated exemplar set), semantics and 100 TB shape in
  // TextAnalysisOps.dsirWeights. Oracled bit-exactly: portable
  // polynomial hash buckets + integer log2 count ratios.
  val DsirBuckets = 1024

  /** Kept fraction for q97b's selection step, percent. Declared ABOVE the
    * interpolating Sql vals (the strict-val-order trap).
    */
  val DsirKeepPct = 25

  def q97DsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirDf(spark, dir).orderBy("doc_id")

  /** The per-doc weights relation as a DuckDB CTE chain ending in `w` —
    * shared verbatim by q97 (report) and q97b (selection), so the two
    * oracles cannot drift.
    */
  private val dsirCteSql: String = {
    val h = graft.ops.HashOps.charHashSql("f")
    s"""t AS (SELECT doc_id, lang, ${toksSql("text")} AS toks FROM documents),
    uni AS (SELECT doc_id, lang = 'en' AS is_t, unnest(toks) AS f FROM t),
    bi AS (SELECT doc_id, lang = 'en' AS is_t, toks[i] || ' ' || toks[i + 1] AS f
      FROM (SELECT doc_id, lang, toks, unnest(range(1, len(toks))) AS i FROM t)),
    inst AS (SELECT doc_id, is_t, ($h) % $DsirBuckets AS b
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
    db AS (SELECT doc_id, is_t, b, count(*) AS c FROM inst GROUP BY doc_id, is_t, b),
    model AS (SELECT b, CAST(sum(c) AS BIGINT) AS p_raw,
        CAST(sum(CASE WHEN is_t THEN c ELSE 0 END) AS BIGINT) AS q_raw
      FROM db GROUP BY b),
    sc AS (SELECT doc_id, c,
        CAST(length(format('{:b}', q_raw + 1)) -
          length(format('{:b}', p_raw + 1)) AS BIGINT) AS s
      FROM db JOIN model USING (b)),
    agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
        CAST(sum(c * s) AS BIGINT) AS dsir_score
      FROM sc GROUP BY doc_id),
    w AS (SELECT t.doc_id, coalesce(a.n_feats, 0) AS n_feats,
        coalesce(a.dsir_score, 0) AS dsir_score
      FROM t LEFT JOIN agg a ON t.doc_id = a.doc_id)"""
  }

  val q97Sql: String =
    s"WITH $dsirCteSql SELECT doc_id, n_feats, dsir_score FROM w ORDER BY doc_id"

  // --- q97b: DSIR selection (the paper's resampling step, as top-quantile
  // with ties). Keep every doc whose score clears s* = the largest score
  // such that at least ceil(n * keep%) docs score >= s* — deterministic
  // with ties INCLUDED, so no doc_id tiebreak leaks into the contract and
  // both engines agree bit-exactly on integer scores. Scale shape: the
  // threshold comes from a score HISTOGRAM (distinct-score-sized — far
  // smaller than the corpus; the q89 range-shard prefix sum is the stated
  // upgrade if distinct scores ever rival doc count), the single-row
  // threshold broadcasts back (the q68 scalar-bound pattern), and the
  // kept set is one more filtered scan of the memoized weights.
  def q97bDsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val w = dsirDf(spark, dir)
    val k = w.agg(count(lit(1)).as("n"))
      .select(expr(s"(n * $DsirKeepPct + 99) div 100").as("k"))
    val hist = w.groupBy("dsir_score").agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum", sum(col("c")).over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("dsir_score").desc)))
    val thr = cum.crossJoin(broadcast(k)).where(col("cum") >= col("k"))
      .agg(max(col("dsir_score")).as("thr"))
    w.crossJoin(broadcast(thr)).where(col("dsir_score") >= col("thr"))
      .select(col("doc_id"), col("n_feats"), col("dsir_score"))
      .orderBy("doc_id")
  }

  val q97bSql: String =
    s"""WITH $dsirCteSql,
    tot AS (SELECT (count(*) * $DsirKeepPct + 99) // 100 AS k FROM w),
    hist AS (SELECT dsir_score, count(*) AS c FROM w GROUP BY dsir_score),
    cum AS (SELECT dsir_score, sum(c) OVER (ORDER BY dsir_score DESC) AS cum
      FROM hist),
    thr AS (SELECT max(dsir_score) AS thr FROM cum, tot WHERE cum >= k)
    SELECT w.doc_id, w.n_feats, w.dsir_score FROM w, thr
    WHERE w.dsir_score >= thr ORDER BY w.doc_id"""

  /** Context-window size/stride shared by q69 and q86 — declared ABOVE
    * both Sql strings: a forward reference from a strict val interpolation
    * would silently read 0 (caught once by a zero-width q86 oracle).
    */
  val ChunkSize = 64
  val ChunkStride = 48

  // --- q86: chunk-level dedup (training-sequence granularity) -------------
  // Completes the dedup granularity ladder: documents (q24), sub-document
  // spans (q61), and now the CHUNKS that actually become training
  // sequences (q69's windows) — a passage repeated across documents
  // produces byte-identical chunks even when neither whole doc is a dup.
  // Per doc: how many of its chunks occur more than once corpus-wide by
  // exact chunk text — including repeats WITHIN the same doc, which the
  // overlapping windows surface for internally repetitive text and which
  // a packing pipeline wants flagged just as much as cross-doc dups.
  // 1e6-scaled. One content-keyed shuffle over the
  // chunk relation, one per-doc roll-up — q24's shape, one level down.
  def q86ChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    // chunk text reduced to the 62-bit content key at the scan, so the
    // frequency shuffle and the back-join exchange 16-byte rows, never
    // the 64-token chunk strings (HashOps.contentKey collision stance)
    val chunks = TextAnalysisOps.contextChunks(
      Tables.documents(spark, dir), ChunkSize, ChunkStride)
      .select(col("doc_id"), col("chunk_id"),
        graft.ops.HashOps.contentKey(col("chunk_text")).as("ck"))
    // two consumers: the frequency aggregate and the roll-up join
    val cached = graft.CacheScope.persist(chunks)
    val freq = cached.groupBy("ck").agg(count(lit(1)).as("n_occ"))
    cached.join(freq, "ck")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("n_occ") > 1, 1)).as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        floor(lit(1000000L) * col("n_dup_chunks") / col("n_chunks"))
          .cast("long").as("dup_chunk_micro"))
      .orderBy("doc_id")
  }

  val q86Sql: String =
    s"""WITH t AS (
      SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
    c0 AS (
      SELECT doc_id,
        array_to_string(toks[(CAST(s AS INT)+1):(CAST(s AS INT)+$ChunkSize)], ' ')
          AS chunk_text
      FROM (SELECT doc_id, toks,
          unnest(range(0, len(toks), $ChunkStride)) AS s
        FROM t)),
    c AS (
      SELECT doc_id, ${graft.ops.HashOps.contentKeySql("chunk_text")} AS ck
      FROM c0),
    f AS (SELECT ck, count(*) AS n_occ FROM c GROUP BY ck),
    r AS (
      SELECT c.doc_id, count(*) AS n_chunks,
        CAST(count(CASE WHEN f.n_occ > 1 THEN 1 END) AS BIGINT) AS n_dup_chunks
      FROM c JOIN f USING (ck) GROUP BY c.doc_id)
    SELECT doc_id, n_chunks, n_dup_chunks,
      CAST(floor(1000000 * n_dup_chunks / n_chunks) AS BIGINT) AS dup_chunk_micro
    FROM r ORDER BY doc_id"""

  // --- q58: sequence packing — concatenate-and-split token budgeting ------
  // How pre-training batches are built: docs are concatenated in a
  // deterministic order and split at a fixed token budget; each doc gets
  // its start offset and bin. A naive `Window.partitionBy(source)` cumsum
  // serializes each source's ENTIRE slice through one task — fatal when a
  // handful of big sources ("web", "code", "books") own most of 100 TB —
  // so the running sum is a classic two-level prefix sum instead (see
  // [[packStartOffsets]]): parallelism is sources × PackShards regardless
  // of how skewed the source sizes are, and the only per-source serial
  // pass runs over the tiny aggregated shard totals.
  val PackBudget = 4096L
  val PackShards = 32

  /** Scale-safe running start-offset over `t` = (doc_id, source, n_tokens),
    * output-identical to `sum(n_tokens) OVER (PARTITION BY source ORDER BY
    * doc_id ROWS UNBOUNDED PRECEDING) - n_tokens`:
    *
    *  1. shard each source's doc_id span into `shards` range buckets —
    *     `floor((doc_id - min_id) * shards / span)` is monotone
    *     non-decreasing in doc_id (double multiply/divide/floor by positive
    *     constants are each monotone, so precision loss can only nudge a
    *     boundary, never reorder), which is what makes per-shard prefix
    *     sums composable back into the per-source prefix sum;
    *  2. cumsum within (source, shard) — sources × shards parallel tasks;
    *  3. aggregate per-shard token totals (≤ sources × shards rows),
    *     prefix-sum THOSE per source (tiny window), broadcast the shard
    *     start offsets back, and add.
    *
    * Balance assumes doc_ids spread roughly evenly over their span (dense
    * sequential or hashed ids both do); a pathological id clustering would
    * skew shard sizes but still caps a task at one shard's slice, never a
    * whole source. Visible for the skew-equivalence unit test.
    */
  private[graft] def packStartOffsets(t: DataFrame, shards: Int): DataFrame =
    runningOffsets(t.withColumn("ord", col("doc_id")), shards)
      .withColumn("bin_id", floor(col("start_offset") / PackBudget).cast("long"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("start_offset"), col("bin_id"))

  /** The two-level prefix sum over an ARBITRARY numeric fill order:
    * output-identical to `sum(n_tokens) OVER (PARTITION BY source ORDER BY
    * ord, doc_id ROWS UNBOUNDED PRECEDING) - n_tokens`. Range-sharding on
    * the `ord` span keeps the composition correct for any key: the shard
    * id is monotone non-decreasing along the fill order, and rows with
    * EQUAL `ord` always land in the same shard (the boundary expression
    * depends on `ord` alone), so per-shard cumsums ordered by
    * (ord, doc_id) concatenate into the per-source prefix sum exactly.
    * [[packStartOffsets]] instantiates it with ord = doc_id (q58's
    * arrival-order packing); q106 with ord = -quality (best-first fill).
    */
  private[graft] def runningOffsets(t: DataFrame, shards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cached = graft.CacheScope.persist(t) // tokenize once, narrow cols
    val bounds = cached.groupBy("source")
      .agg(min("ord").as("min_ord"), max("ord").as("max_ord"))
    val sharded = cached.join(broadcast(bounds), "source")
      .withColumn("shard",
        least(lit(shards - 1),
          floor((col("ord") - col("min_ord")).cast("double") * shards /
            (col("max_ord") - col("min_ord") + 1).cast("double"))).cast("int"))
      .drop("min_ord", "max_ord")
    val wLocal = Window.partitionBy("source", "shard").orderBy("ord", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = sharded.withColumn("local_cum", sum(col("n_tokens")).over(wLocal))
    // per-source serial pass, but over ≤ `shards` rows per source
    val wShard = Window.partitionBy("source").orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val starts = sharded.groupBy("source", "shard")
      .agg(sum(col("n_tokens")).as("shard_total"))
      .withColumn("shard_start",
        sum(col("shard_total")).over(wShard) - col("shard_total"))
      .select(col("source"), col("shard"), col("shard_start"))
    local.join(broadcast(starts), Seq("source", "shard"))
      .withColumn("start_offset",
        col("shard_start") + col("local_cum") - col("n_tokens"))
      .drop("shard", "local_cum", "shard_start")
  }

  // --- q137: deterministic epoch shuffling ---------------------------------
  // The training-order primitive q89's curriculum deliberately is not:
  // UNIFORM per-epoch reshuffling. Every epoch e orders the corpus by a
  // keyed permutation of the doc hash — deterministic, seedable,
  // resume-friendly (position in epoch e is a pure function of the corpus
  // and e: no materialized shuffle state, a restarted job recomputes its
  // cursor) — the standard sort-by-keyed-hash epoch shuffle of
  // large-scale training pipelines.
  //
  // The epoch key is HashOps.perm(e, charHash(doc_id)) — the MinHash
  // permutation family (a_e·h + b_e mod P, large xorshift-derived
  // multipliers) — NOT charHash("e:doc_id"): a polynomial string hash
  // with a varying prefix is ORDER-PRESERVING across same-length
  // suffixes (the prefix contributes Δ·31^len, a near-constant shift),
  // so every epoch came out in the same order — an output-level
  // vacuity the hash-exact oracle structurally cannot catch, caught and
  // gated by EpochShuffleSpec's cross-epoch fixed-point ceiling.
  //
  // Global positions come from runningOffsets with weight 1 and
  // ord = key (epoch as the partition key), NOT a single-partition
  // row_number window: the two-level prefix sum keeps position
  // assignment parallel at any corpus size — the q58 scale argument,
  // instantiated for ordering rather than packing.
  val ShuffleEpochs = 3

  def q137EpochShuffle(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.HashOps
    val e = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(ShuffleEpochs - 1))).as("epoch"))
    val h = HashOps.charHash(col("doc_id").cast("string"))
    val key = (0 until ShuffleEpochs).foldLeft(lit(-1L)) { (acc, i) =>
      when(col("epoch") === i, HashOps.perm(i, h)).otherwise(acc)
    }
    val t = e.select(
      col("epoch").cast("long").as("source"),
      col("doc_id"),
      lit(1L).as("n_tokens"),
      key.as("ord"))
    runningOffsets(t, shards = 8)
      .select(col("source").as("epoch"), col("doc_id"),
        col("start_offset").cast("long").as("pos"))
      .orderBy("epoch", "pos")
  }

  val q137Sql: String = {
    import graft.ops.HashOps
    val h = HashOps.charHashSql("CAST(doc_id AS VARCHAR)")
    val key = (0 until ShuffleEpochs).map(i =>
      s"WHEN epoch = $i THEN ${HashOps.permSql(i, "h")}")
      .mkString("CASE ", " ", " END")
    s"""WITH ep AS (
      SELECT doc_id, unnest(range(0, $ShuffleEpochs)) AS epoch FROM documents),
    hh AS (SELECT epoch, doc_id, $h AS h FROM ep),
    kk AS (SELECT epoch, doc_id, $key AS k FROM hh)
    SELECT epoch, doc_id,
      CAST(row_number() OVER (PARTITION BY epoch ORDER BY k, doc_id) - 1
        AS BIGINT) AS pos
    FROM kk ORDER BY epoch, pos"""
  }

  // --- q57b: token-budget source capping ----------------------------------
  // The other half of data mixing: q57 keeps a RATE per source, this keeps
  // each source's greedy doc_id-order prefix until a TOKEN budget fills —
  // how real mixtures are specified ("100B tokens of web, 20B of code").
  // A doc is kept iff its exclusive running-token offset is still under
  // budget (the straddling doc is kept; the budget bounds where docs START,
  // so per-source token overshoot is < one doc). Reuses the q58 two-level
  // prefix sum, so no task ever scans a whole source (see
  // [[packStartOffsets]]).
  val TokenBudgetPerSource = 1000L

  /** `(doc_id, source, n_tokens)` with whitespace-token counts — q57b/q58's
    * original denominator.
    */
  private def wsTokenCounted(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(graft.ops.TextOps.tokenize(col("text"))).cast("long").as("n_tokens"))

  /** `(doc_id, source, n_tokens)` with REAL merge-table BPE counts
    * (graft.functions.BpeMerges) — what a training pipeline actually
    * budgets in. Same narrow zero-shuffle scan; the encoder is one
    * codegen'd call per row.
    */
  private def bpeTokenCounted(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        TextAnalysisOps.bpePreTokens(col("text")).as("pts"))
      .select(col("doc_id"), col("source"),
        size(graft.functions.BpeMerges.bpeEncode(col("pts")))
          .cast("long").as("n_tokens"))

  private def tokenBudgetOver(t: DataFrame): DataFrame =
    packStartOffsets(t, PackShards)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("start_offset") < TokenBudgetPerSource, 1)).as("n_kept"),
        sum(when(col("start_offset") < TokenBudgetPerSource, col("n_tokens"))
          .otherwise(0L)).as("tokens_kept"))
      .orderBy("source")

  def q57bTokenBudget(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetOver(wsTokenCounted(spark, dir))

  // --- q57c: token budget in REAL BPE tokens ------------------------------
  // Same greedy prefix-under-budget mix as q57b, denominated in merge-table
  // BPE tokens instead of whitespace tokens — the number a "100B tokens of
  // web" mixture spec actually means. The oracle replays the merge loop in
  // SQL (SqlDefs.bpeCountCtes), so the budget arithmetic is verified on
  // top of verified token counts.
  def q57cTokenBudgetBpe(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetOver(bpeTokenCounted(spark, dir))

  val q57cSql: String =
    s"""WITH RECURSIVE $bpeCountCtes,
    c AS (
      SELECT doc_id, source, n_tokens,
        CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_offset
      FROM t)
    SELECT source, count(*) AS n_docs,
      CAST(count(CASE WHEN start_offset < $TokenBudgetPerSource THEN 1 END) AS BIGINT) AS n_kept,
      CAST(sum(CASE WHEN start_offset < $TokenBudgetPerSource THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
    FROM c GROUP BY source ORDER BY source"""

  val q57bSql: String =
    s"""WITH t AS (
      SELECT doc_id, source, CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, source, n_tokens,
        CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_offset
      FROM t)
    SELECT source, count(*) AS n_docs,
      CAST(count(CASE WHEN start_offset < $TokenBudgetPerSource THEN 1 END) AS BIGINT) AS n_kept,
      CAST(sum(CASE WHEN start_offset < $TokenBudgetPerSource THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
    FROM c GROUP BY source ORDER BY source"""

  // --- q106: per-source quality-capped token quota ------------------------
  // The per-domain cap every web curation applies (C4 and RefinedWeb cap a
  // single host's share so one domain cannot dominate the mixture) —
  // denominated in TOKENS and filled in QUALITY order: each source keeps
  // its BEST docs (distinct-token lexical diversity, q84's integer
  // signal; ties to the lowest doc_id) until the source's token budget is
  // exhausted. Differs from q57b exactly where it matters: a spam-heavy
  // domain contributes its least-spammy pages, not its first-crawled
  // ones. Same straddle rule (kept iff the EXCLUSIVE running offset is
  // under budget, so overshoot < one doc); same two-level prefix sum via
  // [[runningOffsets]] with ord = -quality, so no task ever scans a whole
  // source however skewed the domain sizes.
  val DomainTokenCap = 1500L

  def q106DomainCap(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        graft.ops.TextOps.tokenize(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("quality"))
    runningOffsets(t.withColumn("ord", -col("quality")), PackShards)
      .withColumn("kept", col("start_offset") < DomainTokenCap)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("quality"),
        col("start_offset"), col("kept"))
      .orderBy("doc_id")
  }

  val q106Sql: String =
    s"""WITH t AS (
      SELECT doc_id, source, ${toksSql("text")} AS toks FROM documents),
    q AS (
      SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(toks)) AS BIGINT) AS quality
      FROM t),
    c AS (
      SELECT doc_id, source, n_tokens, quality,
        CAST(SUM(n_tokens) OVER (PARTITION BY source
          ORDER BY quality DESC, doc_id ROWS UNBOUNDED PRECEDING)
          - n_tokens AS BIGINT) AS start_offset
      FROM q)
    SELECT doc_id, source, n_tokens, quality, start_offset,
      start_offset < $DomainTokenCap AS kept
    FROM c ORDER BY doc_id"""

  def q58SequencePacking(spark: SparkSession, dir: String): DataFrame =
    packStartOffsets(wsTokenCounted(spark, dir), PackShards)
      .orderBy("source", "doc_id")

  // --- q58b: sequence packing in REAL BPE tokens --------------------------
  // q58's concatenate-and-split packing with bins measured in merge-table
  // BPE tokens — bin boundaries land where the training batch builder
  // would actually cut. Same two-level prefix sum; only the count column
  // changes.
  def q58bPackingBpe(spark: SparkSession, dir: String): DataFrame =
    packStartOffsets(bpeTokenCounted(spark, dir), PackShards)
      .orderBy("source", "doc_id")

  val q58bSql: String =
    s"""WITH RECURSIVE $bpeCountCtes,
    c AS (
      SELECT doc_id, source, n_tokens,
        CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_offset
      FROM t)
    SELECT doc_id, source, n_tokens, start_offset,
      CAST(floor(start_offset / $PackBudget) AS BIGINT) AS bin_id
    FROM c ORDER BY source, doc_id"""

  val q58Sql: String =
    s"""WITH t AS (
      SELECT doc_id, source, CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, source, n_tokens,
        CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_offset
      FROM t)
    SELECT doc_id, source, n_tokens, start_offset,
      CAST(floor(start_offset / $PackBudget) AS BIGINT) AS bin_id
    FROM c ORDER BY source, doc_id"""

  // --- q102: export-shard manifest ----------------------------------------
  // The last mile of a 100 TB curation run: the corpus ships as N output
  // shards of ~equal TOKEN size (training loaders want balanced files,
  // not balanced row counts), and every shard needs a manifest row the
  // receiving side can validate against — doc count, token count, id
  // range, and a content checksum. Shard assignment is deterministic:
  // docs in global doc_id order, cut every ShardTokenBudget tokens
  // (exclusive start offset, q57b's straddle rule — a doc belongs to the
  // shard its offset falls in, so shards overshoot by < one doc). The
  // global running sum reuses the q58 two-level prefix sum under a
  // constant source key: the range-sharded local cumsums keep parallelism
  // at PackShards regardless of corpus size, and the only serial pass is
  // the tiny shard-totals window. The checksum is the SUM of per-doc
  // charHashes — order-independent (exact under any partial-aggregation
  // order) and bounded: a shard holds < budget docs, each hash < 2^31, so
  // the sum stays far inside Int64 at ANY corpus size because the BUDGET
  // caps shard membership, not the corpus. The doc-hash join is keyed on
  // doc_id — high-cardinality, co-partitioned with the offset relation.
  val ShardTokenBudget = 2000L

  def q102ExportManifest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val t = docs.select(col("doc_id"), lit("corpus").as("source"),
      size(graft.ops.TextOps.tokenize(col("text"))).cast("long").as("n_tokens"))
    val offs = packStartOffsets(t, PackShards)
      .withColumn("shard_id",
        floor(col("start_offset") / ShardTokenBudget).cast("long"))
    val hashed = docs.select(col("doc_id"),
      graft.ops.HashOps.charHash(col("text")).as("h"))
    offs.join(hashed, "doc_id")
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        sum(col("h")).as("content_sum"))
      .orderBy("shard_id")
  }

  val q102Sql: String =
    s"""WITH t AS (
      SELECT doc_id, CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens,
        ${graft.ops.HashOps.charHashSql("text")} AS h
      FROM documents),
    c AS (
      SELECT doc_id, n_tokens, h,
        CAST(SUM(n_tokens) OVER (ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_offset
      FROM t)
    SELECT CAST(floor(start_offset / $ShardTokenBudget) AS BIGINT) AS shard_id,
      count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      min(doc_id) AS first_doc, max(doc_id) AS last_doc,
      CAST(sum(h) AS BIGINT) AS content_sum
    FROM c GROUP BY 1 ORDER BY shard_id"""

  // --- q119b: eval-safe corpus composite -----------------------------------
  // The second end-to-end composite beside q119's packing capstone, with
  // the EVALUATION-INTEGRITY stages composed into one hash-verified
  // flow: Gopher rule battery (q88's rule columns, soft ≥6-of-7 form) →
  // cluster-canonical near-dup dedup over the survivors (q50b/q55
  // semantics — pairs and clusters computed on the FILTERED corpus,
  // which no single-stage query exercises) → benchmark decontamination
  // (q53's 5-gram contract, benchmark carved from the ORIGINAL corpus so
  // a filtered-out bench doc still contaminates its training twin). A
  // bench doc winning a cluster deliberately suppresses its training
  // duplicates — they would be contaminated anyway; the oracle replays
  // all three stages (q88's SQL nested verbatim, fresh shingle/pair/
  // recursive-closure CTEs over the kept subset, the bench probe) so
  // stage INTERACTIONS are verified, not just stages. Output: the
  // surviving training docs and their token counts.
  //
  // Why the SOFT battery (score ≥ EvalSafeMinRules of 7) instead of
  // q88's strict all-rules keep: the fixture's synthetic text contains
  // at most one of the eight Gopher stop words, so the strict gate keeps
  // ZERO docs and every downstream stage — clustering, canonicalization,
  // contamination — verified hash-equality of two EMPTY relations (the
  // r9 advisor finding: a bug emptying both sides differently would
  // pass). Rule-score thresholds are the battery's standard tuned form
  // (the Gopher paper itself adjusts rules per corpus); q88 remains the
  // strict contract. EvalSafeCorpusSpec asserts every intermediate stage
  // is non-trivial (kept, clusters, canonical-train, survivors all > 0
  // AND each stage actually drops rows), so the composite can never
  // silently go vacuous again.
  val EvalSafeShingleN = 5
  val EvalSafeJaccardMinMicro = 300000L
  val EvalSafeMinRules = 6L

  /** The 7 Gopher rule columns summed — shared by the Spark gate and the
    * oracle so the soft-battery definition cannot drift.
    */
  private val gopherRuleCols = Seq("r_word_count", "r_mean_word_len",
    "r_symbol_ratio", "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words",
    "r_stop_words")

  /** q119b's intermediate relations, exposed so EvalSafeCorpusSpec can
    * assert every stage is NON-TRIVIAL on the fixture (the r9 advisor
    * finding: an all-empty pipeline hash-matches an all-empty oracle).
    */
  final case class EvalSafeStages(kept: DataFrame, canonical: DataFrame,
                                  canonicalTrain: DataFrame,
                                  contaminated: DataFrame, result: DataFrame)

  def q119bStages(spark: SparkSession, dir: String): EvalSafeStages = {
    import graft.ops.{DedupOps, TextOps}
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val keep = TextAnalysisOps.gopherRules(Tables.documents(spark, dir))
      .where(gopherRuleCols.map(col).reduce(_ + _) >= EvalSafeMinRules)
      .select("doc_id")
    // persisted: shingles, clustering, contamination and the final
    // projection all read the kept relation
    val kept = graft.CacheScope.persist(
      docs.join(keep, "doc_id")
        .select(col("doc_id"), col("text"),
          TextOps.tokenize(col("text")).as("toks")))
    val sh = graft.CacheScope.persist(
      DedupOps.shingles(kept.select(col("doc_id"), col("toks")),
        EvalSafeShingleN))
    val pairs = DedupOps.jaccardPairs(sh, EvalSafeJaccardMinMicro)
      .select(col("id_a"), col("id_b"))
    val canonical = DedupOps.duplicateClusters(
        kept.select(col("doc_id")), pairs)
      .where(col("doc_id") === col("cluster_id")).select(col("doc_id"))
    val canonicalTrain = canonical.where(col("doc_id") % 20 =!= 0)
    val benchSh = DedupOps.shingles(
      docs.where(col("doc_id") % 20 === 0)
        .select(col("doc_id"), TextOps.tokenize(col("text")).as("toks")),
      EvalSafeShingleN)
    val contam = DedupOps.contaminationScores(
      canonicalTrain, sh.join(canonicalTrain, "doc_id"), benchSh, 1L)
    val result = kept
      .join(contam.where(!col("contaminated")).select("doc_id"), "doc_id")
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .orderBy("doc_id")
    EvalSafeStages(kept, canonical, canonicalTrain,
      contam.where(col("contaminated")), result)
  }

  def q119bEvalSafeCorpus(spark: SparkSession, dir: String): DataFrame =
    q119bStages(spark, dir).result

  // lazy: nests AnalysisQueries.q88Sql (cross-object, resolved on first
  // use like q65b's composition)
  lazy val q119bSql: String = {
    val n = EvalSafeShingleN
    def shSel(src: String) =
      s"""SELECT doc_id, unnest(list_distinct(list_transform(
        range(0, len(toks) - $n + 1),
        i -> array_to_string(toks[(CAST(i AS INT)+1):(CAST(i AS INT)+$n)], ' ')))) AS shingle
      FROM $src WHERE len(toks) >= $n"""
    s"""WITH RECURSIVE
    kp AS (SELECT doc_id FROM (${AnalysisQueries.q88Sql})
      WHERE ${gopherRuleCols.mkString(" + ")} >= $EvalSafeMinRules),
    t AS (SELECT d.doc_id, d.text, ${toksSql("d.text")} AS toks
      FROM documents d JOIN kp USING (doc_id)),
    sk AS (${shSel("t")}),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sk GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sk a JOIN sk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    jp AS (SELECT id_a, id_b FROM common c
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
      WHERE floor(1000000 * c.common / (sa.sz + sb.sz - c.common))
        >= $EvalSafeJaccardMinMicro),
    edges AS (SELECT id_a AS src, id_b AS dst FROM jp
      UNION ALL SELECT id_b, id_a FROM jp),
    reach(id, lab) AS (
      SELECT doc_id, doc_id FROM t
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
    cl AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id),
    canon AS (SELECT id AS doc_id FROM cl WHERE id = cluster_id),
    bt AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents
      WHERE doc_id % 20 = 0),
    bsh AS (SELECT DISTINCT shingle FROM (${shSel("bt")})),
    contam AS (SELECT DISTINCT s.doc_id FROM sk s JOIN bsh USING (shingle))
    SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens
    FROM t JOIN canon USING (doc_id)
    WHERE t.doc_id % 20 <> 0
      AND t.doc_id NOT IN (SELECT doc_id FROM contam)
    ORDER BY t.doc_id"""
  }

  // --- q126b: k-anonymity audit over quasi-identifiers ---------------------
  // The governance twin of q126's pseudonymization: pseudonyms protect
  // DIRECT identifiers, but a row can still be re-identified through its
  // quasi-identifier combination (Sweeney 2002 — the k-anonymity model).
  // Per (lang, source, 100-char length bucket) equivalence class: its
  // size and an at_risk flag (size < k ⇒ the combination narrows a
  // person to fewer than k candidates — the release gate a privacy
  // review applies before publishing per-document metadata). One grouped
  // aggregation; the bucket arithmetic is integer div, so the audit is
  // oracle-exact. At 100 TB this is the same shuffle as any groupBy and
  // the class table it emits is quasi-identifier-cardinality-sized.
  val KAnonymityK = 5L

  def q126bKAnonymity(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), col("source"),
        expr("n_chars div 100").as("len_bucket"))
      .groupBy("lang", "source", "len_bucket")
      .agg(count(lit(1)).as("class_size"))
      .withColumn("at_risk", col("class_size") < KAnonymityK)
      .orderBy("lang", "source", "len_bucket")

  val q126bSql: String =
    s"""SELECT lang, source, n_chars // 100 AS len_bucket,
      count(*) AS class_size,
      count(*) < $KAnonymityK AS at_risk
    FROM documents GROUP BY 1, 2, 3
    ORDER BY lang, source, len_bucket"""

  // --- q126: keyed pseudonymization with key revocation ---------------------
  // The crypto-shredding pattern (GDPR-grade forgetting without
  // rewriting history): raw user ids never flow downstream — each is
  // replaced by a hash KEYED on a per-user secret from a key table, and
  // deleting a user's key row makes every historic pseudonym permanently
  // unlinkable. Here the key table carves user_id % 9 == 0 as revoked;
  // their events roll up under the 'forgotten' bucket (pseudonym -1)
  // while everyone else groups under a stable keyed pseudonym. The hash
  // is the engine-portable polynomial over key || ':' || user (a real
  // deployment swaps in HMAC — same join shape), so the whole relation
  // is oracle-exact. One broadcastable key join; aggregation keys on the
  // pseudonym, exactly as a downstream consumer would.
  def q126Pseudonymize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("user_id"), col("value"))
    val keys = e.select(col("user_id")).distinct()
      .where(col("user_id") % 9 =!= 0)
      .withColumn("ukey",
        graft.ops.HashOps.charHash(
          concat(lit("secret-"), col("user_id").cast("string"))))
    e.join(broadcast(keys), Seq("user_id"), "left")
      .select(
        // explicit branch on key presence: charHash null-coalesces its
        // input to "", so null propagation alone would give revoked
        // users hash("") instead of the forgotten bucket
        when(col("ukey").isNull, lit(-1L))
          .otherwise(graft.ops.HashOps.charHash(
            concat(col("ukey").cast("string"), lit(":"),
              col("user_id").cast("string")))).as("pseudonym"),
        col("value"))
      .groupBy("pseudonym")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .orderBy("pseudonym")
  }

  val q126Sql: String = {
    val ukey = graft.ops.HashOps.charHashSql("'secret-' || CAST(user_id AS VARCHAR)")
    val pseudo = graft.ops.HashOps.charHashSql(
      "CAST(ukey AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")
    s"""WITH k AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % 9 <> 0),
    k2 AS (SELECT user_id, $ukey AS ukey FROM k),
    p AS (SELECT e.value,
        CASE WHEN k2.user_id IS NULL THEN -1
             ELSE ${graft.ops.HashOps.charHashSql(
               "CAST(ukey AS VARCHAR) || ':' || CAST(e.user_id AS VARCHAR)")}
        END AS pseudonym
      FROM events e LEFT JOIN k2 ON k2.user_id = e.user_id)
    SELECT CAST(pseudonym AS BIGINT) AS pseudonym,
      count(*) AS n_events,
      CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM p GROUP BY pseudonym ORDER BY pseudonym"""
  }

  // --- q119: LLM-prep end to end (the training-prep capstone) ---------------
  // q50 verifies the CURATION composite (redact → quality → dedup →
  // near-dup); this verifies the TRAINING-PREP tail in one flow:
  // C4 blocklist (q100's rule) → quality gate (the shared q21 battery) →
  // exact dedup → context-window chunking (q69's windows) → equal-token
  // SHARDING of the chunks in global (doc, chunk) order with a per-shard
  // manifest (q102's contract at training-sequence granularity). Every
  // stage's semantics are individually oracled elsewhere; green here
  // means the COMPOSITION is exact — a row lost or duplicated between
  // any two stages breaks the shard counts and the content checksum.
  // Scale shape: stages 1-3 are narrow-filter → one text-keyed window;
  // chunking is a narrow generate; the global running sum reuses the
  // q58 two-level prefix sum over a synthetic monotone (doc, chunk) key,
  // so parallelism stays PackShards at any corpus size.
  val LlmShardTokenBudget = 1500L

  def q119LlmPrep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // reads the session-shared tokenized corpus (AnalysisQueries memo) —
    // the capstone used to re-tokenize twice inside its own plan
    val toked0 = AnalysisQueries.tokedDocs(spark, dir)
    val pats = AnalysisQueries.BlockPhrases.map(_.trim.toLowerCase.replace(" ", "\\s+"))
    val combined = "\\b(?:" + pats.mkString("|") + ")\\b"
    val toked = toked0.where(
      regexp_count(lower(coalesce(col("text"), lit(""))), lit(combined)) === 0)
    val quality = toked.select(
      (Seq(col("doc_id"), col("text"), col("toks")) ++
        TextAnalysisOps.qualityColumns(col("text"), col("toks"))): _*)
    val passed = quality.where(TextAnalysisOps.qualityPass)
      .select("doc_id", "text", "toks")
    val exact = passed
      .withColumn("ck", graft.ops.HashOps.contentKey(col("text")))
      .withColumn("cid", min(col("doc_id")).over(Window.partitionBy("ck")))
      .where(col("doc_id") === col("cid"))
      .select("doc_id", "toks")
    val chunks = TextAnalysisOps.contextChunksOf(exact, ChunkSize, ChunkStride)
    // synthetic monotone (doc, chunk) key for the global prefix sum;
    // chunk_id < 1024 holds whenever a doc has < 1024·stride tokens
    // (49k at the registered stride — far above any fixture/plausible doc)
    val keyed = chunks.select(
      (col("doc_id") * 1024 + col("chunk_id")).as("uid"),
      col("doc_id").as("real_doc"),
      lit("corpus").as("source"),
      col("n_tokens"),
      graft.ops.HashOps.charHash(col("chunk_text")).as("h"))
      .withColumn("doc_id", col("uid"))
      .withColumn("ord", col("uid"))
    runningOffsets(keyed, PackShards)
      .withColumn("shard_id",
        floor(col("start_offset") / LlmShardTokenBudget).cast("long"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("real_doc")).as("first_doc"),
        max(col("real_doc")).as("last_doc"),
        sum(col("h")).as("content_sum"))
      .orderBy("shard_id")
  }

  val q119Sql: String = {
    val pats = AnalysisQueries.BlockPhrases
      .map(_.trim.toLowerCase.replace(" ", "\\s+"))
    val combined = "\\b(?:" + pats.mkString("|") + ")\\b"
    s"""WITH nb AS (
      SELECT doc_id, text FROM documents
      WHERE len(regexp_extract_all(lower(coalesce(text, '')), '$combined')) = 0),
    t AS (SELECT doc_id, text, ${toksSql("text")} AS toks FROM nb),
    q AS (SELECT doc_id, text, toks,
      len(toks) AS n_tokens,
      CASE WHEN len(toks) > 0 THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) ELSE 0.0 END AS ttr,
      CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains($stopSql, lower(x)))) AS DOUBLE) / len(toks) ELSE 0.0 END AS stop_ratio,
      CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS non_alnum
      FROM t),
    passed AS (
      SELECT doc_id, text, toks FROM q
      WHERE ${TextAnalysisOps.qualityPassSql(
        "n_tokens", "ttr", "non_alnum", "stop_ratio")}),
    exact AS (
      SELECT doc_id, toks FROM (
        SELECT *, min(doc_id) OVER (
          PARTITION BY ${graft.ops.HashOps.contentKeySql("text")}) AS cid
        FROM passed)
      WHERE doc_id = cid),
    s AS (SELECT doc_id, toks,
      unnest(range(0, len(toks), $ChunkStride)) AS start FROM exact),
    c AS (SELECT doc_id,
      CAST(start // $ChunkStride AS BIGINT) AS chunk_id,
      toks[(CAST(start AS INT)+1):(CAST(start AS INT)+$ChunkSize)] AS chunk
      FROM s),
    k AS (SELECT doc_id * 1024 + chunk_id AS uid, doc_id AS real_doc,
      CAST(len(chunk) AS BIGINT) AS n_tokens,
      ${graft.ops.HashOps.charHashSql("array_to_string(chunk, ' ')")} AS h
      FROM c),
    o AS (SELECT *,
      CAST(SUM(n_tokens) OVER (ORDER BY uid ROWS UNBOUNDED PRECEDING)
        - n_tokens AS BIGINT) AS start_offset
      FROM k)
    SELECT CAST(floor(start_offset / $LlmShardTokenBudget) AS BIGINT) AS shard_id,
      count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      min(real_doc) AS first_doc, max(real_doc) AS last_doc,
      CAST(sum(h) AS BIGINT) AS content_sum
    FROM o GROUP BY 1 ORDER BY shard_id"""
  }

  // --- q82: deletion-impact analysis over the packed corpus ---------------
  // The right-to-be-forgotten query: given a delete list, which training
  // bins (q58's packed sequences) are contaminated and must be rebuilt,
  // and how much of each is lost. The delete set is keyed by CONTENT hash,
  // not id — re-ingested copies of a deleted document are caught wherever
  // they landed. Join-shape: the packed relation (q58's two-level prefix
  // sum) joined to the per-doc flags on the high-cardinality doc id, one
  // (source, bin) roll-up, affected bins only.
  val DeleteHashMod = 17L

  def q82DeletionImpact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val t = docs.select(col("doc_id"), col("source"),
      size(graft.ops.TextOps.tokenize(col("text"))).cast("long").as("n_tokens"))
    val flags = docs.select(col("doc_id"),
      (graft.ops.HashOps.charHash(col("text")) % DeleteHashMod === 0L)
        .as("is_del"))
    packStartOffsets(t, PackShards)
      .join(flags, "doc_id")
      .groupBy("source", "bin_id")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("is_del"), 1)).as("n_deleted"),
        sum(col("n_tokens")).as("bin_tokens"),
        sum(when(col("is_del"), col("n_tokens")).otherwise(0L))
          .as("deleted_tokens"))
      .where(col("n_deleted") > 0)
      .orderBy("source", "bin_id")
  }

  val q82Sql: String =
    s"""WITH t AS (
      SELECT doc_id, source, CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens,
        ${graft.ops.HashOps.charHashSql("text")} % $DeleteHashMod = 0 AS is_del
      FROM documents),
    c AS (
      SELECT doc_id, source, n_tokens, is_del,
        CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_offset
      FROM t),
    b AS (
      SELECT source, CAST(floor(start_offset / $PackBudget) AS BIGINT) AS bin_id,
        count(*) AS n_docs,
        CAST(count(CASE WHEN is_del THEN 1 END) AS BIGINT) AS n_deleted,
        CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
        CAST(sum(CASE WHEN is_del THEN n_tokens ELSE 0 END) AS BIGINT)
          AS deleted_tokens
      FROM c GROUP BY source, bin_id)
    SELECT * FROM b WHERE n_deleted > 0 ORDER BY source, bin_id"""

  // --- q69: context-window chunking ---------------------------------------
  // The doc → training-sequence step q58 budgets for: each document is cut
  // into token windows of ChunkSize every ChunkStride tokens (windows
  // overlap by ChunkSize - ChunkStride so no span is ever split across a
  // boundary without context; the final window may be partial). Pure
  // narrow per-row work — stage toks, generate the start offsets, explode,
  // slice — zero shuffles before the oracle's ORDER BY, so throughput is
  // scan-bound at any corpus size. chunk_id is start/stride (exact integer
  // division), not an ordinal: no window function needed. ChunkSize /
  // ChunkStride are declared above q86 (shared; val-order constraint).

  def q69ContextChunks(spark: SparkSession, dir: String): DataFrame =
    TextAnalysisOps.contextChunks(
      Tables.documents(spark, dir), ChunkSize, ChunkStride)
      // atomic projection: contextChunks also carries the chunk token
      // ARRAY for in-chunk shinglers (q128); the oracled surface stays
      // the five scalar columns
      .select("doc_id", "chunk_id", "start_token", "n_tokens", "chunk_text")
      .orderBy("doc_id", "chunk_id")

  val q69Sql: String =
    s"""WITH t AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
    s AS (SELECT doc_id, toks, unnest(range(0, len(toks), $ChunkStride)) AS start FROM t),
    c AS (SELECT doc_id,
      CAST(start // $ChunkStride AS BIGINT) AS chunk_id,
      CAST(start AS BIGINT) AS start_token,
      toks[(CAST(start AS INT)+1):(CAST(start AS INT)+$ChunkSize)] AS chunk
      FROM s)
    SELECT doc_id, chunk_id, start_token,
      CAST(len(chunk) AS BIGINT) AS n_tokens,
      array_to_string(chunk, ' ') AS chunk_text
    FROM c ORDER BY doc_id, chunk_id"""

  // --- q176: sentence-boundary chunk packing --------------------------------
  // q69's fixed token windows cut mid-sentence; retrieval and
  // pretraining chunkers usually pack WHOLE sentences greedily up to a
  // token budget instead (an oversized sentence becomes its own chunk).
  // Sentences are the q02 relation (same standalone-"the" → "."
  // punctuation transform, same reference split rule — the oracle nests
  // NlpQueries.punctSentsCte verbatim); the Spark side is one narrow
  // higher-order-function fold per doc, zero pre-output shuffles (see
  // TextAnalysisOps.sentenceChunks). The oracle replays the greedy fold
  // as a recursive CTE walking each doc's sentences in order, emitting a
  // chunk at every boundary the running budget forces — sequential
  // semantics a window cannot express, hash-exact via the walk's final
  // per-chunk state rows.
  val SentChunkTokens = 24

  def q176SentenceChunks(spark: SparkSession, dir: String): DataFrame = {
    val punctuated = Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_replace(col("text"), "\\bthe\\b", ".").as("text"))
    TextAnalysisOps.sentenceChunks(punctuated, SentChunkTokens)
      .orderBy("doc_id", "chunk_id")
  }

  lazy val q176Sql: String = SqlDefs.materializeCtes(
    raw"""WITH RECURSIVE ${NlpQueries.punctSentsCte},
    sc AS (SELECT doc_id, sentence_id, sentence,
      CAST(len(string_split_regex(sentence, '\s+')) AS BIGINT) AS c
      FROM psents),
    walk AS (
      SELECT doc_id, sentence_id, sentence AS chunk_text, c AS n_tokens,
        CAST(1 AS BIGINT) AS n_sentences, CAST(0 AS BIGINT) AS chunk_id
      FROM sc WHERE sentence_id = 0
      UNION ALL
      SELECT sc.doc_id, sc.sentence_id,
        CASE WHEN w.n_tokens + sc.c <= $SentChunkTokens
          THEN w.chunk_text || ' ' || sc.sentence ELSE sc.sentence END,
        CASE WHEN w.n_tokens + sc.c <= $SentChunkTokens
          THEN w.n_tokens + sc.c ELSE sc.c END,
        CASE WHEN w.n_tokens + sc.c <= $SentChunkTokens
          THEN w.n_sentences + 1 ELSE CAST(1 AS BIGINT) END,
        CASE WHEN w.n_tokens + sc.c <= $SentChunkTokens
          THEN w.chunk_id ELSE w.chunk_id + 1 END
      FROM walk w JOIN sc
        ON sc.doc_id = w.doc_id AND sc.sentence_id = w.sentence_id + 1),
    fin AS (SELECT *,
      lead(chunk_id) OVER (PARTITION BY doc_id ORDER BY sentence_id)
        AS next_chunk
      FROM walk)
    SELECT doc_id, chunk_id, n_sentences, n_tokens, chunk_text
    FROM fin WHERE next_chunk IS NULL OR next_chunk <> chunk_id
    ORDER BY doc_id, chunk_id""")

  /** The snapshot-pair convention SHARED by q71 (delta classification) and
    * q83 (distribution drift): A = yesterday (`doc_id % 10 < 8`, original
    * text), B = today (`doc_id % 10 >= 2`, docs with `doc_id % 4 == 0`
    * rewritten). One definition, Column + SQL twins, so the two queries
    * can never drift onto different snapshot carvings.
    */
  object Snapshots {
    /** The A-membership predicate over an ARBITRARY key column, so
      * derived relations keyed by something other than `doc_id` (q55c's
      * pair endpoints `id_a`/`id_b`) share THIS definition instead of
      * re-encoding the carve — change it here and every split moves
      * together.
      */
    def inAOf(key: Column): Column = key % 10 < 8
    def inA: Column = inAOf(col("doc_id"))
    def inB: Column = col("doc_id") % 10 >= 2
    def textB: Column =
      when(col("doc_id") % 4 === 0, concat(col("text"), lit(" [rev2]")))
        .otherwise(col("text"))
    val inASql = "doc_id % 10 < 8"
    val inBSql = "doc_id % 10 >= 2"
    val textBSql = "CASE WHEN doc_id % 4 = 0 THEN text || ' [rev2]' ELSE text END"

    /** Third snapshot for q71b's SCD2 history: membership `doc_id % 5 != 0`
      * (so some A∪B docs disappear and some A-only docs REAPPEAR after
      * skipping B — the version-gap case), text rewritten on `% 3 == 0`
      * (so some B-rewrites revert to the original — the change-back case).
      */
    def inC: Column = col("doc_id") % 5 =!= 0
    def textC: Column =
      when(col("doc_id") % 3 === 0, concat(col("text"), lit(" [rev3]")))
        .otherwise(col("text"))
    val inCSql = "doc_id % 5 <> 0"
    val textCSql = "CASE WHEN doc_id % 3 = 0 THEN text || ' [rev3]' ELSE text END"
  }

  // --- q111: bucket-pruned MERGE of a snapshot delta -----------------------
  // q71 CLASSIFIES the snapshot delta; this APPLIES it to a stored
  // corpus: snapshot A is written as a bucket-partitioned parquet tree,
  // then B's delta (adds + updated texts as upserts, A-only ids as
  // deletes — derived from the same Snapshots carving) merges in via
  // DocumentSources.mergeUpsertBuckets — base scan pruned to affected
  // buckets, staging-swap write, untouched buckets byte-identical
  // (MergeUpsertSpec). Green means merge(base tree, delta) reads back
  // EXACTLY snapshot B — the oracle recomputes B's full view from the
  // carving, so a row lost, duplicated, or left stale anywhere in the
  // tree breaks the hash.
  val MergeBuckets = 8

  def q111MergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val tmp = graft.Scratch.dir("q111_tree") // fixed path + overwrite, as q91
    docs.where(Snapshots.inA)
      .withColumn("bucket", pmod(col("doc_id"), lit(MergeBuckets)).cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    val inB = docs.where(Snapshots.inB)
      .select(col("doc_id"), Snapshots.textB.as("text"))
    // upserts: rows B adds (not in A) or rewrites; rows whose text is
    // unchanged stay out of the delta — their buckets must not be touched
    val upserts = inB.where(!Snapshots.inA || col("doc_id") % 4 === 0)
    val deletes = docs.where(Snapshots.inA && !Snapshots.inB).select(col("doc_id"))
    graft.sources.DocumentSources.mergeUpsertBuckets(
      spark, tmp, upserts, deletes, MergeBuckets)
    spark.read.parquet(tmp)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        col("bucket").cast("long").as("bucket"))
      .orderBy("doc_id")
  }

  val q111Sql: String =
    s"""SELECT doc_id,
      CAST(length(${Snapshots.textBSql}) AS BIGINT) AS n_chars,
      CAST(doc_id % $MergeBuckets AS BIGINT) AS bucket
    FROM documents WHERE ${Snapshots.inBSql} ORDER BY doc_id"""

  // --- q71: snapshot delta (incremental corpus refresh) -------------------
  // Corpora are re-crawled, not rebuilt: given yesterday's snapshot and
  // today's, classify every doc_id as added / deleted / updated / unchanged
  // and keep the latest text (latest-wins merge). The two snapshots are
  // carved deterministically from the fixture (A = doc_id%10 < 8,
  // B = doc_id%10 >= 2, with every doc_id%4 == 0 rewritten in B) so the
  // relation exercises all four classes. One full-outer equi-join on the
  // id — co-partitioned at scale when both snapshots are bucketed by
  // doc_id, in which case it is shuffle-free; presence flags (not text
  // nullness) drive the classification so NULL text can never
  // misclassify.
  def q71SnapshotDelta(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val snapA = docs.where(Snapshots.inA)
      .select(col("doc_id"), col("text").as("text_a"), lit(true).as("in_a"))
    val snapB = docs.where(Snapshots.inB)
      .select(col("doc_id"), Snapshots.textB.as("text_b"), lit(true).as("in_b"))
    snapA.join(snapB, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("in_a").isNull, "added")
          .when(col("in_b").isNull, "deleted")
          .when(col("text_a") =!= col("text_b"), "updated")
          .otherwise("unchanged").as("change"),
        coalesce(col("in_b"), lit(false)).as("kept"),
        length(coalesce(col("text_b"), col("text_a"))).cast("long")
          .as("n_chars_latest"))
      .orderBy("doc_id")
  }

  val q71Sql: String =
    s"""WITH a AS (
      SELECT doc_id, text AS text_a FROM documents WHERE ${Snapshots.inASql}),
    b AS (
      SELECT doc_id, ${Snapshots.textBSql} AS text_b
      FROM documents WHERE ${Snapshots.inBSql})
    SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
      CASE WHEN a.doc_id IS NULL THEN 'added'
           WHEN b.doc_id IS NULL THEN 'deleted'
           WHEN a.text_a <> b.text_b THEN 'updated'
           ELSE 'unchanged' END AS change,
      b.doc_id IS NOT NULL AS kept,
      CAST(length(coalesce(b.text_b, a.text_a)) AS BIGINT) AS n_chars_latest
    FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
    ORDER BY doc_id"""

  // --- q132: small-file compaction round-trip ------------------------------
  // The OPTIMIZE maintenance op (bin-pack semantics + crash-safe swap in
  // DocumentSources.compactFiles scaladoc). The queries entry follows the
  // q91/q129 sink-round-trip pattern: SEED the small-file problem — the
  // corpus written through a 16-way shuffle into 4 partition dirs, ~16
  // fragment files per dir — compact it, then emit a projection recomputed
  // from the READ-BACK tree so a row lost, duplicated, or cross-partition
  // misfiled by the rewrite breaks the oracle hash. File-count /
  // idempotence / crash-recovery invariants (not SQL-expressible) are
  // unit-gated in CompactionSpec.
  val CompactParts = 4L

  def q132Compaction(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("q132_compact")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        pmod(col("doc_id"), lit(CompactParts)).cast("int").as("part"))
      .repartition(16)
      .write.mode("overwrite").partitionBy("part").parquet(tmp)
    graft.sources.DocumentSources.compactFiles(
      spark, tmp, targetBytes = 128L * 1024 * 1024)
    spark.read.parquet(tmp)
      .select(col("doc_id"), col("part").cast("long").as("part"),
        length(col("text")).cast("long").as("text_len"))
      .orderBy("doc_id")
  }

  val q132Sql: String =
    s"""SELECT doc_id, doc_id % $CompactParts AS part,
      CAST(length(text) AS BIGINT) AS text_len
    FROM documents ORDER BY doc_id"""

  // --- q143: deletion-vector soft delete + density-gated compaction --------
  // The maintenance op q111 (rewrite-on-merge) and q132 (bin-pack) stop
  // short of: deletes that DON'T rewrite data files. The table is laid
  // out by source-hash bucket (a takedown then concentrates where its
  // source's data lives — how a real domain-partitioned corpus behaves);
  // two delete batches land as deletion vectors (a GDPR-style source
  // takedown, then a short-doc quality purge — they OVERLAP, so the DV
  // merge's de-dup is exercised); the compactor rewrites only buckets at
  // >= DvCompactPermille density and clears their DVs. The emitted state
  // is recomputed from the READ-BACK tree + DV + decision manifest, so a
  // row lost by the rewrite, a DV row left behind, or a wrong density
  // decision each breaks the oracle hash (the fixture yields compacted
  // AND uncompacted AND zero-delete buckets at both unit and verify SFs
  // — the q119b non-vacuity lesson). Semantics + scale shape in
  // DocumentSources.softDelete/readVisible/applyDeletionVectors.
  val DvBuckets = 8
  val DvMinToks = 15
  val DvCompactPermille = 300L
  val DvTakedownSources = Seq("src8", "src9", "src18", "src19")

  def q143DeletionVectors(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.HashOps
    val tmp = graft.Scratch.dir("q143_dv")
    val basePath = s"$tmp/base"
    val dvPath = s"$tmp/dv"
    // a re-run must start from the seeded state, not a previous run's
    // compacted one (Verify and Bench share the scratch namespace)
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dvPath), true)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val bucket = pmod(HashOps.charHash(col("source")), lit(DvBuckets.toLong))
      .cast("int")
    docs.select(col("doc_id"), col("text"), bucket.as("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(basePath)
    val keyed = docs.select(col("doc_id"), bucket.as("bucket"), col("source"),
      graft.ops.TextOps.tokenize(col("text")).as("toks"))
    graft.sources.DocumentSources.softDelete(spark, basePath, dvPath,
      keyed.where(col("source").isin(DvTakedownSources: _*))
        .select("bucket", "doc_id"))
    graft.sources.DocumentSources.softDelete(spark, basePath, dvPath,
      keyed.where(size(col("toks")) < DvMinToks).select("bucket", "doc_id"))
    val manifest = graft.sources.DocumentSources.applyDeletionVectors(
      spark, basePath, dvPath, DvCompactPermille)
    val disk = spark.read.parquet(basePath)
      .groupBy("bucket").agg(count(lit(1)).as("rows_on_disk"))
    val dvRows = spark.read.parquet(dvPath)
      .groupBy("bucket").agg(count(lit(1)).as("dv_rows"))
    val vis = graft.sources.DocumentSources
      .readVisible(spark, basePath, dvPath)
      .select(col("bucket"),
        graft.ops.ReconcileOps.rowHash(col("doc_id"), col("text")).as("h"))
      .groupBy("bucket").agg(count(lit(1)).as("visible_rows"),
        expr("bit_xor(h)").as("live_xor"))
    // the report is DRIVEN BY THE MANIFEST (one row per bucket live at
    // decision time), not by the post-compaction disk state: a dense
    // bucket whose rows were ALL deleted has no dir left on disk — the
    // disk/vis scans can't see it, but the oracle (which replays the
    // decision) still emits its row (rows_on_disk=0, compacted=true).
    // Left joins + coalesce keep that row. Latent on this fixture (no
    // 100%-deleted bucket) but a real takedown shape at scale.
    manifest.select(col("bucket"), col("rewritten").as("compacted"))
      .join(disk, Seq("bucket"), "left")
      .join(vis, Seq("bucket"), "left")
      .join(dvRows, Seq("bucket"), "left")
      .select(col("bucket").cast("long").as("bucket"),
        coalesce(col("rows_on_disk"), lit(0L)).as("rows_on_disk"),
        coalesce(col("dv_rows"), lit(0L)).as("dv_rows"),
        coalesce(col("visible_rows"), lit(0L)).as("visible_rows"),
        col("live_xor"), col("compacted"))
      .orderBy("bucket")
  }

  val q143Sql: String = {
    val h = graft.ops.HashOps.charHashSql("d.source")
    val rowHash = graft.ops.HashOps.charHashSql(
      "CAST(j.doc_id AS VARCHAR) || ':' || (j.text)")
    val srcList = DvTakedownSources.mkString("('", "', '", "')")
    s"""WITH tok AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
    b AS (SELECT d.doc_id, d.text, d.source, ($h) % $DvBuckets AS bucket,
        len(t.toks) AS nt
      FROM documents d JOIN tok t ON d.doc_id = t.doc_id),
    del AS (SELECT DISTINCT doc_id FROM (
      SELECT doc_id FROM b WHERE source IN $srcList
      UNION ALL SELECT doc_id FROM b WHERE nt < $DvMinToks)),
    j AS (SELECT b.bucket, b.doc_id, b.text,
        (del.doc_id IS NOT NULL) AS deleted
      FROM b LEFT JOIN del ON b.doc_id = del.doc_id),
    per AS (SELECT bucket, CAST(count(*) AS BIGINT) AS total,
      CAST(sum(CASE WHEN deleted THEN 1 ELSE 0 END) AS BIGINT) AS ndel,
      CAST(count(CASE WHEN NOT deleted THEN 1 END) AS BIGINT) AS visible_rows,
      bit_xor(CASE WHEN NOT deleted THEN $rowHash END) AS live_xor
      FROM j GROUP BY bucket)
    SELECT bucket,
      CASE WHEN ndel > 0 AND (1000 * ndel) // total >= $DvCompactPermille
        THEN total - ndel ELSE total END AS rows_on_disk,
      CASE WHEN ndel > 0 AND (1000 * ndel) // total >= $DvCompactPermille
        THEN 0 ELSE ndel END AS dv_rows,
      visible_rows, live_xor,
      (ndel > 0 AND (1000 * ndel) // total >= $DvCompactPermille) AS compacted
    FROM per ORDER BY bucket"""
  }

  // --- q130: bucket-checksum reconciliation (anti-entropy compare) --------
  // The production way to answer "do these two 100 TB snapshots agree,
  // and where not?": NEVER a row-by-row diff first. Each side aggregates
  // to per-bucket (count, order-independent XOR of a per-row content
  // hash) — O(buckets) output from one linear pass — and only buckets
  // whose summaries differ need a row-level diff, restricted by the
  // bucket predicate the storage layout already partitions on (q111's
  // tree prunes that read to the dirty directories). The Merkle-tree /
  // Dynamo anti-entropy pattern, flattened to one level. XOR is the
  // standard order-independent, overflow-free fold; its known weakness
  // (a pair of identical corruptions cancels) is the documented 2^-64-
  // class trade every checksum-reconciliation scheme makes.
  //
  // Sides are the Snapshots A/B carvings (q71's transition); the row
  // hash is the engine-portable charHash of "doc_id:text" so both
  // engines fold identical strings. ReconcileSpec proves the pruning
  // identity: every doc q71 reports changed lives in a dirty bucket,
  // and the row-diff restricted to dirty buckets equals the full diff.
  val ReconBuckets = 16L

  def q130BucketChecksums(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    graft.ops.ReconcileOps.bucketChecksums(
      docs.where(Snapshots.inA),
      docs.where(Snapshots.inB)
        .select(col("doc_id"), Snapshots.textB.as("text")),
      ReconBuckets)
  }

  // --- q130b: incremental checksum maintenance (delta-only refresh) -------
  // The reason q130's hash is an XOR: it is its own inverse, so the
  // stored checksum table refreshes from the DELTA alone — old⊕removed⊕
  // added per bucket — never a rescan of the snapshot (semantics and the
  // merge-algebra contract in ReconcileOps.applyDelta). Here snapshot
  // A's summary plus the A→B change set must land EXACTLY on snapshot
  // B's summary: the oracle recomputes B's per-bucket counts and 64-bit
  // folds from scratch, so any error in the incremental algebra — a
  // missed pre-image, a double-counted update, wrong empty-bucket
  // handling — breaks the hash.
  def q130bIncrementalChecksums(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.ReconcileOps
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val prev = ReconcileOps.sideChecksums(
      docs.where(Snapshots.inA), ReconBuckets)
    // rows leaving A: deletions plus the PRE-images of updates
    val removed = docs.where(Snapshots.inA &&
      (!Snapshots.inB || Snapshots.textB =!= col("text")))
    // rows entering B: insertions plus the POST-images of updates
    val added = docs.where(Snapshots.inB &&
      (!Snapshots.inA || Snapshots.textB =!= col("text")))
      .select(col("doc_id"), Snapshots.textB.as("text"))
    ReconcileOps.applyDelta(prev, removed, added, ReconBuckets)
      .select(col("bucket"), col("n"), col("xor").as("xor_sum"))
      .orderBy("bucket")
  }

  val q130bSql: String = {
    val hashSql = graft.ops.HashOps.charHashSql(
      s"CAST(doc_id AS VARCHAR) || ':' || (${Snapshots.textBSql})")
    s"""WITH b AS (
      SELECT doc_id % $ReconBuckets AS bucket, $hashSql AS h
      FROM documents WHERE ${Snapshots.inBSql})
    SELECT bucket, count(*) AS n, bit_xor(h) AS xor_sum
    FROM b GROUP BY bucket ORDER BY bucket"""
  }

  val q130Sql: String = {
    def hashSql(textExpr: String) = graft.ops.HashOps.charHashSql(
      s"CAST(doc_id AS VARCHAR) || ':' || ($textExpr)")
    s"""WITH a AS (
      SELECT doc_id % $ReconBuckets AS bucket, ${hashSql("text")} AS h
      FROM documents WHERE ${Snapshots.inASql}),
    b AS (
      SELECT doc_id % $ReconBuckets AS bucket, ${hashSql(Snapshots.textBSql)} AS h
      FROM documents WHERE ${Snapshots.inBSql}),
    ga AS (SELECT bucket, count(*) AS n_a, bit_xor(h) AS xor_a
      FROM a GROUP BY bucket),
    gb AS (SELECT bucket, count(*) AS n_b, bit_xor(h) AS xor_b
      FROM b GROUP BY bucket)
    SELECT coalesce(ga.bucket, gb.bucket) AS bucket,
      CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
      CAST(coalesce(n_b, 0) AS BIGINT) AS n_b,
      xor_a, xor_b,
      (coalesce(n_a, 0) <> coalesce(n_b, 0)
        OR xor_a IS DISTINCT FROM xor_b) AS dirty
    FROM ga FULL OUTER JOIN gb ON ga.bucket = gb.bucket
    ORDER BY bucket"""
  }

  // --- q71b: SCD2 (type-2 slowly-changing-dimension) history ---------------
  // q71 classifies ONE snapshot transition; this builds the full type-2
  // history over the three-version Snapshots stack (A → B → C): one row
  // per (doc, unbroken run of identical text over consecutive versions)
  // with [valid_from, valid_to] version bounds and an is_current flag —
  // the warehouse dimension-history contract (Kimball SCD type 2), with
  // deletions and re-adds handled as run breaks (a version gap starts a
  // new run even if the text returns unchanged). Plan: ONE scan of the
  // dimension (the three versions explode from an inline struct array,
  // not three scans), then a single doc_id-keyed shuffle whose sort both
  // windows (lag change-detect, cumsum run numbering) and the final
  // group-by share — the q117 lag/flag/cumsum shape applied to versions
  // instead of time.
  def q71bScd2History(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val versions = docs
      .select(col("doc_id"), explode(array(
        struct(lit(1L).as("v"), Snapshots.inA.as("p"), col("text").as("t")),
        struct(lit(2L).as("v"), Snapshots.inB.as("p"), Snapshots.textB.as("t")),
        struct(lit(3L).as("v"), Snapshots.inC.as("p"), Snapshots.textC.as("t"))))
        .as("s"))
      .where(col("s.p"))
      .select(col("doc_id"), col("s.v").as("v"), col("s.t").as("t"))
    val byDoc = Window.partitionBy("doc_id").orderBy("v")
    val run = byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    versions
      .withColumn("new_run",
        when(lag(col("v"), 1).over(byDoc).isNull, 1L)
          .when(col("v") - lag(col("v"), 1).over(byDoc) > 1, 1L)
          .when(col("t") =!= lag(col("t"), 1).over(byDoc), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum(col("new_run")).over(run))
      .groupBy(col("doc_id"), col("run_id"))
      .agg(min(col("v")).as("valid_from"), max(col("v")).as("valid_to"),
        max(length(col("t"))).cast("long").as("n_chars"))
      .select(col("doc_id"), col("valid_from"), col("valid_to"),
        (col("valid_to") === 3L).as("is_current"), col("n_chars"))
      .orderBy("doc_id", "valid_from")
  }

  val q71bSql: String =
    s"""WITH vr AS (
      SELECT doc_id, 1 AS v, text AS t FROM documents WHERE ${Snapshots.inASql}
      UNION ALL
      SELECT doc_id, 2, ${Snapshots.textBSql} FROM documents
        WHERE ${Snapshots.inBSql}
      UNION ALL
      SELECT doc_id, 3, ${Snapshots.textCSql} FROM documents
        WHERE ${Snapshots.inCSql}),
    r AS (SELECT doc_id, v, t,
        CASE WHEN lag(v) OVER w IS NULL THEN 1
             WHEN v - lag(v) OVER w > 1 THEN 1
             WHEN t <> lag(t) OVER w THEN 1 ELSE 0 END AS new_run
      FROM vr WINDOW w AS (PARTITION BY doc_id ORDER BY v)),
    g AS (SELECT doc_id, v, t,
        sum(new_run) OVER (PARTITION BY doc_id ORDER BY v) AS run_id FROM r)
    SELECT doc_id,
      CAST(min(v) AS BIGINT) AS valid_from,
      CAST(max(v) AS BIGINT) AS valid_to,
      max(v) = 3 AS is_current,
      CAST(max(length(t)) AS BIGINT) AS n_chars
    FROM g GROUP BY doc_id, run_id ORDER BY doc_id, valid_from"""

  // --- q89: deterministic epoch shuffle + length curriculum --------------
  // The data-ordering step before training: a REPRODUCIBLE corpus
  // permutation (order by a seeded content hash — stable across runs and
  // re-ingestions, unlike rand()) composed with a length curriculum
  // (short docs first: bin by word count, shuffle within bin — the
  // classic curriculum/length-warmup ordering). The global position is
  // NOT a single-partition row_number: the hash key is uniform over
  // [0, P), so `skey * shards / P` is a monotone range-shard, per-(bin,
  // shard) ranks run in parallel windows, and the serial prefix pass sees
  // only bins × shards count rows — the same two-level prefix-sum shape
  // as [[packStartOffsets]]. Any row's final position is invariant to
  // shard boundaries, so the output is deterministic at any parallelism.

  /** Epoch seed (vary to draw a fresh permutation) and curriculum word-
    * count bin bounds, declared before the SQL val that interpolates
    * them.
    */
  val CurriculumSeed: String = "ep1"
  val CurriculumBounds: Seq[Long] = Seq(40L, 60L, 80L)
  val CurriculumShards: Int = 32

  def q89CurriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(graft.ops.TextOps.tokenize(col("text"))).cast("long")
          .as("n_words"),
        graft.ops.HashOps.charHash(concat(lit(CurriculumSeed), col("text")))
          .as("skey"))
      .withColumn("bin", CurriculumBounds.map(b =>
        (col("n_words") >= b).cast("long")).reduce(_ + _))
    // two consumers: per-shard ranks and the shard-count prefix
    val sharded = graft.CacheScope.persist(scored.withColumn("shard",
      floor(col("skey") * CurriculumShards /
        lit(graft.ops.HashOps.P.toDouble)).cast("int")))
    val wLocal = Window.partitionBy("bin", "shard").orderBy("skey", "doc_id")
    val local = sharded.withColumn("local_rank",
      row_number().over(wLocal).cast("long"))
    // serial pass over <= bins * shards rows only
    val wStart = Window.orderBy("bin", "shard")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val starts = sharded.groupBy("bin", "shard")
      .agg(count(lit(1)).as("n_in_shard"))
      .withColumn("shard_start",
        sum(col("n_in_shard")).over(wStart) - col("n_in_shard"))
      .select(col("bin"), col("shard"), col("shard_start"))
    local.join(broadcast(starts), Seq("bin", "shard"))
      .select(col("doc_id"), col("n_words"), col("bin"), col("skey"),
        (col("shard_start") + col("local_rank")).as("pos"))
      .orderBy("pos")
  }

  val q89Sql: String = {
    val binSql = CurriculumBounds
      .map(b => s"(n_words >= $b)::INT").mkString(" + ")
    s"""WITH s AS (SELECT doc_id,
      CAST(len(${toksSql("text")}) AS BIGINT) AS n_words,
      ${graft.ops.HashOps.charHashSql("'" + CurriculumSeed + "' || text")}
        AS skey FROM documents),
    b AS (SELECT doc_id, n_words, skey,
      CAST($binSql AS BIGINT) AS bin FROM s)
    SELECT doc_id, n_words, bin, skey,
      CAST(row_number() OVER (ORDER BY bin, skey, doc_id) AS BIGINT) AS pos
    FROM b ORDER BY pos"""
  }

  // --- q174: excess-loss domain reweighting (multiplicative weights) ------
  // The DoReMi-shaped step (Xie et al. 2023, public) after the mixture
  // family's static policies: domains whose text the corpus's own bigram
  // LM finds SURPRISING (high excess loss over the easiest domain) get
  // upweighted multiplicatively, the exact opposite dial from q146's
  // quality×uniqueness — DoReMi's point is that hard domains are
  // undertrained. One round of multiplicative weights over a STATIC
  // per-source excess-loss vector (the proxy-model loss here is q90's
  // hash-verified corpus surprisal, aggregated per source), T = MwIters
  // steps with per-step floored renormalization so the published trace
  // shows the trajectory a tuner would inspect. All-integer: excess is
  // normalized to 0..1000, the per-step multiplier is
  // (1e6 + eta·excess_norm) / 1e6 in micro-units, every division is a
  // floor on non-negative operands (Spark div ≡ DuckDB //).
  //
  // Scale shape: the corpus-sized work is exactly q90's scored aggregate
  // (one salted corpus join, see TextAnalysisOps.bigramSurprisal) folded
  // to ONE ROW PER SOURCE; the MW iteration runs driver-side on those S
  // rows (bounded collect, the q146-memo/whitening precedent) — iterating
  // S-row Spark jobs would add T scheduler rounds for no data-parallel
  // gain. Output: (T+1)·S rows, the full weight trajectory.
  val MwIters = 4
  val MwEtaPermille = 500L

  /** Session memo for the MW trace: q174 emits it and q175's datasheet
    * restates its final iteration; (T+1)·S collected rows, the
    * mixture-weights bound.
    */
  private val mwTrace = Memo(mwTraceLive _)

  def q174DomainReweight(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mwTrace(spark, dir)
      .toDF("iter", "source", "excess_norm", "weight_permille")
      .orderBy("iter", "source")
  }

  private def mwTraceLive(spark: SparkSession,
                          dir: String): Seq[(Long, String, Long, Long)] = {
    val docs = Tables.documents(spark, dir)
    // r16 opt (guide §1.2): read the session-shared tokenized/bigram
    // memos (the q90 entry point) instead of the text-based
    // bigramSurprisal, which re-ran the tokenize → bigram-pairs → count
    // chain privately. Value-identical by construction: bigramSurprisal
    // IS bigramPairsOf(tokenize(text)) → per-doc counts →
    // bigramSurprisalFromCounts, and the memos stage exactly those two
    // relations. Saves one full corpus tokenize+count chain per cold
    // q174/q175 build (the rest of the LM family already shares it).
    val perSource = TextAnalysisOps.bigramSurprisalFromCounts(
      AnalysisQueries.tokedIds(spark, dir),
      AnalysisQueries.bigramDocCounts(spark, dir))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source")
      .agg(sum(col("sum_surprisal")).as("ssum"),
        sum(col("n_bigrams")).as("nbg"))
      .select(col("source"),
        when(col("nbg") > 0, expr("(1000000 * ssum) div nbg"))
          .otherwise(lit(0L)).as("mean_micro"))
    // bounded collect: one row per source (q146's documented bound)
    val means = perSource.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    val minMean = if (means.isEmpty) 0L else means.map(_._2).min
    val maxExcess = if (means.isEmpty) 0L else means.map(_._2 - minMean).max
    val exn: Seq[(String, Long)] = means.map { case (s, m) =>
      (s, if (maxExcess > 0) 1000L * (m - minMean) / maxExcess else 0L)
    }
    def normalize(raw: Seq[Long]): Seq[Long] = {
      val t = raw.sum
      raw.map(r => if (t > 0) 1000L * r / t else 0L)
    }
    val trace = Seq.newBuilder[(Long, String, Long, Long)]
    var w = normalize(exn.map(_ => 1000L))
    exn.zip(w).foreach { case ((s, e), ww) => trace += ((0L, s, e, ww)) }
    (1 to MwIters).foreach { it =>
      w = normalize(exn.zip(w).map { case ((_, e), ww) =>
        ww * (1000000L + MwEtaPermille * e) })
      exn.zip(w).foreach { case ((s, e), ww) =>
        trace += ((it.toLong, s, e, ww)) }
    }
    trace.result()
  }

  lazy val q174Sql: String = {
    val iterCtes = (1 to MwIters).map { i =>
      s"""w$i AS (SELECT source, excess_norm,
      w * (1000000 + $MwEtaPermille * excess_norm) AS raw FROM w${i - 1}n),
    w${i}n AS (SELECT source, excess_norm,
      CASE WHEN (SELECT CAST(sum(raw) AS BIGINT) FROM w$i) > 0
        THEN (1000 * raw) // (SELECT CAST(sum(raw) AS BIGINT) FROM w$i)
        ELSE 0 END AS w FROM w$i)"""
    }.mkString(",\n    ")
    val unions = (0 to MwIters).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS iter, source, excess_norm,
        w AS weight_permille FROM w${i}n""").mkString("\n      UNION ALL ")
    // materializeCtes: every w{i}n references w{i} twice (the zero-sum
    // guard and the divide) and each w{i} references w{i-1}n — DuckDB's
    // default inlining re-expands the ENTIRE prefix (q90's corpus chain
    // included) per reference, a 2^T blowup (the q138 lesson).
    SqlDefs.materializeCtes(
    s"""WITH src AS (SELECT d.source,
      CAST(sum(s.sum_surprisal) AS BIGINT) AS ssum,
      CAST(sum(s.n_bigrams) AS BIGINT) AS nbg
      FROM (${AnalysisQueries.q90Sql}) s
      JOIN documents d ON s.doc_id = d.doc_id
      GROUP BY d.source),
    m AS (SELECT source,
      CASE WHEN nbg > 0 THEN (1000000 * ssum) // nbg ELSE 0 END AS mean_micro
      FROM src),
    ex AS (SELECT source,
      mean_micro - (SELECT min(mean_micro) FROM m) AS excess FROM m),
    exn AS (SELECT source,
      CASE WHEN (SELECT max(excess) FROM ex) > 0
        THEN (1000 * excess) // (SELECT max(excess) FROM ex)
        ELSE 0 END AS excess_norm FROM ex),
    w0 AS (SELECT source, excess_norm, CAST(1000 AS BIGINT) AS raw FROM exn),
    w0n AS (SELECT source, excess_norm,
      CASE WHEN (SELECT CAST(sum(raw) AS BIGINT) FROM w0) > 0
        THEN (1000 * raw) // (SELECT CAST(sum(raw) AS BIGINT) FROM w0)
        ELSE 0 END AS w FROM w0),
    $iterCtes
    SELECT * FROM ($unions) ORDER BY iter, source""")
  }

  // --- q175: release-policy datasheet (the r12 signals, one table) --------
  // The decision table a data-release review actually reads: per source,
  // size, the quality pass rate and shingle uniqueness behind the static
  // mixture weight (q146), the fluency mix (q172's head/tail shares — is
  // this source mostly reference-like or mostly tail noise), the
  // excess-loss signal and the MW-reweighted weight (q174), and the
  // stored-cut drift verdict (q172b: is this source's fluency profile
  // still the one the cuts were carved on, or does it demand a recut
  // before the next release). Composition
  // query over hash-verified parts, the q157/q165 pattern: every number
  // is independently verified upstream, the oracle nests the published
  // SQLs verbatim so the datasheet can never drift from what q146/q172/
  // q174 individually certify. All joins are S-row broadcast joins.
  // A source with no tail bucket (all means tied at one value) reports 0.
  def q175ReleaseAudit(spark: SparkSession, dir: String): DataFrame = {
    val buckets = AnalysisQueries.q172PerplexityBuckets(spark, dir)
    def share(tier: String, as: String) =
      buckets.where(col("tier") === tier)
        .select(col("source"), col("doc_share_permille").as(as))
    val w = q174DomainReweight(spark, dir)
      .where(col("iter") === MwIters)
      .select(col("source"), col("excess_norm"), col("weight_permille")
        .as("mw_weight_permille"))
    val drift = AnalysisQueries.q172bBucketDrift(spark, dir)
      .select(col("source"), col("drift_permille"), col("recut"))
    AnalysisQueries.q146MixtureWeights(spark, dir)
      .select(col("source"), col("docs"), col("pass_permille"),
        col("unique_permille"), col("weight_permille")
          .as("static_weight_permille"))
      .join(broadcast(share("head", "head_share_permille")), Seq("source"), "left")
      .join(broadcast(share("tail", "tail_share_permille")), Seq("source"), "left")
      .join(broadcast(w), Seq("source"))
      .join(broadcast(drift), Seq("source"))
      .select(col("source"), col("docs"), col("pass_permille"),
        col("unique_permille"), col("static_weight_permille"),
        coalesce(col("head_share_permille"), lit(0L)).as("head_share_permille"),
        coalesce(col("tail_share_permille"), lit(0L)).as("tail_share_permille"),
        col("excess_norm"), col("mw_weight_permille"),
        col("drift_permille"), col("recut"))
      .orderBy("source")
  }

  lazy val q175Sql: String =
    s"""WITH b AS (SELECT * FROM (${AnalysisQueries.q172Sql})),
    hd AS (SELECT source, doc_share_permille AS head_share_permille
      FROM b WHERE tier = 'head'),
    tl AS (SELECT source, doc_share_permille AS tail_share_permille
      FROM b WHERE tier = 'tail'),
    mw AS (SELECT source, excess_norm, weight_permille AS mw_weight_permille
      FROM ($q174Sql) WHERE iter = $MwIters),
    dr AS (SELECT source, drift_permille, recut
      FROM (${AnalysisQueries.q172bSql})),
    sq AS (SELECT source, docs, pass_permille, unique_permille,
      weight_permille AS static_weight_permille
      FROM (${AnalysisQueries.q146Sql}))
    SELECT sq.source, sq.docs, sq.pass_permille, sq.unique_permille,
      sq.static_weight_permille,
      coalesce(hd.head_share_permille, 0) AS head_share_permille,
      coalesce(tl.tail_share_permille, 0) AS tail_share_permille,
      mw.excess_norm, mw.mw_weight_permille,
      dr.drift_permille, dr.recut
    FROM sq
    LEFT JOIN hd ON sq.source = hd.source
    LEFT JOIN tl ON sq.source = tl.source
    JOIN mw ON sq.source = mw.source
    JOIN dr ON sq.source = dr.source
    ORDER BY sq.source"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q89_curriculum_order" -> (q89CurriculumOrder _),
    "q69_context_chunks" -> (q69ContextChunks _),
    "q71_snapshot_delta" -> (q71SnapshotDelta _),
    "q130_bucket_checksums" -> (q130BucketChecksums _),
    "q130b_incremental_checksums" -> (q130bIncrementalChecksums _),
    "q132_compaction" -> (q132Compaction _),
    "q143_deletion_vectors" -> (q143DeletionVectors _),
    "q137_epoch_shuffle" -> (q137EpochShuffle _),
    "q71b_scd2_history" -> (q71bScd2History _),
    "q111_merge_upsert" -> (q111MergeUpsert _),
    "q113_mixture_epochs" -> (q113MixtureEpochs _),
    "q119_llm_prep" -> (q119LlmPrep _),
    "q126_pseudonymize" -> (q126Pseudonymize _),
    "q126b_k_anonymity" -> (q126bKAnonymity _),
    "q119b_eval_safe_corpus" -> (q119bEvalSafeCorpus _),
    "q50_curated_corpus" -> (q50CuratedCorpus _),
    "q50b_cluster_curated" -> (q50bClusterCurated _),
    "q159_best_in_cluster" -> (q159BestInCluster _),
    "q161_canonical_impact" -> (q161CanonicalImpact _),
    "q50c_curation_audit" -> (q50cCurationAudit _),
    "q51_split" -> (q51Split _),
    "q52_stratified_sample" -> (q52StratifiedSample _),
    "q52b_fixed_sample" -> (q52bFixedSample _),
    "q52c_pps_sample" -> (q52cPpsSample _),
    "q57_source_mix" -> (q57SourceMix _),
    "q57b_token_budget" -> (q57bTokenBudget _),
    "q106_domain_cap" -> (q106DomainCap _),
    "q57c_token_budget_bpe" -> (q57cTokenBudgetBpe _),
    "q75_temperature_mix" -> (q75TemperatureMix _),
    "q68_adaptive_length" -> (q68AdaptiveLength _),
    "q68b_adaptive_length_approx" -> (q68bAdaptiveLengthApprox _),
    "q97_dsir_weights" -> (q97DsirWeights _),
    "q97b_dsir_select" -> (q97bDsirSelect _),
    "q58_sequence_packing" -> (q58SequencePacking _),
    "q58b_packing_bpe" -> (q58bPackingBpe _),
    "q82_deletion_impact" -> (q82DeletionImpact _),
    "q86_chunk_dedup" -> (q86ChunkDedup _),
    "q102_export_manifest" -> (q102ExportManifest _),
    "q174_domain_reweight" -> (q174DomainReweight _),
    "q175_release_audit" -> (q175ReleaseAudit _),
    "q176_sentence_chunks" -> (q176SentenceChunks _))

  val oracleSql: Map[String, String] = Map(
    "q89_curriculum_order" -> q89Sql,
    "q69_context_chunks" -> q69Sql,
    "q71_snapshot_delta" -> q71Sql,
    "q130_bucket_checksums" -> q130Sql,
    "q130b_incremental_checksums" -> q130bSql,
    "q132_compaction" -> q132Sql,
    "q143_deletion_vectors" -> q143Sql,
    "q137_epoch_shuffle" -> q137Sql,
    "q71b_scd2_history" -> q71bSql,
    "q111_merge_upsert" -> q111Sql,
    "q113_mixture_epochs" -> q113Sql,
    "q119_llm_prep" -> q119Sql,
    "q126_pseudonymize" -> q126Sql,
    "q126b_k_anonymity" -> q126bSql,
    "q119b_eval_safe_corpus" -> q119bSql,
    "q50_curated_corpus" -> q50Sql,
    "q50b_cluster_curated" -> q50bSql,
    "q159_best_in_cluster" -> q159Sql,
    "q161_canonical_impact" -> q161Sql,
    "q50c_curation_audit" -> q50cSql,
    "q51_split" -> q51Sql,
    "q52_stratified_sample" -> q52Sql,
    "q52b_fixed_sample" -> q52bSql,
    "q52c_pps_sample" -> q52cSql,
    "q57_source_mix" -> q57Sql,
    "q57b_token_budget" -> q57bSql,
    "q106_domain_cap" -> q106Sql,
    "q57c_token_budget_bpe" -> q57cSql,
    "q75_temperature_mix" -> q75Sql,
    "q68_adaptive_length" -> q68Sql,
    "q97_dsir_weights" -> q97Sql,
    "q97b_dsir_select" -> q97bSql,
    "q58_sequence_packing" -> q58Sql,
    "q58b_packing_bpe" -> q58bSql,
    "q82_deletion_impact" -> q82Sql,
    "q86_chunk_dedup" -> q86Sql,
    "q102_export_manifest" -> q102Sql,
    "q174_domain_reweight" -> q174Sql,
    "q175_release_audit" -> q175Sql,
    "q176_sentence_chunks" -> q176Sql)
}
