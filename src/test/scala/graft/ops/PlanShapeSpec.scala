package graft.ops

import graft.SparkSpec
import graft.queries.{CurationQueries, DedupQueries, RelationalQueries, SimilarityQueries}
import org.apache.spark.sql.DataFrame

/** Physical-plan shape assertions: the dedup/near-dup families must stay
  * inverted-index/banded equi-joins. A regression to a cross product (or a
  * nested-loop broadcast) would still pass the correctness oracle at
  * fixture scale while being O(n²) at 100 TB — this suite is the gate that
  * catches it at sbt-test time. (The brute-force kNN baselines q29/q29c
  * are intentionally broadcast-nested-loop and are NOT asserted here.)
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def assertNoQuadraticJoin(name: String, df: DataFrame): Unit = {
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"),
      s"$name plan regressed to a cartesian product:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"$name plan regressed to a nested-loop join:\n$plan")
  }

  test("q25 n-gram Jaccard stays an inverted-index equi-join") {
    assertNoQuadraticJoin("q25", DedupQueries.q25NgramJaccard(spark, dir))
  }

  test("q26 MinHash LSH stays a banded equi-join") {
    assertNoQuadraticJoin("q26", DedupQueries.q26MinhashLsh(spark, dir))
  }

  test("q27 SimHash stays a banded equi-join") {
    assertNoQuadraticJoin("q27", DedupQueries.q27Simhash(spark, dir))
  }

  test("q28 cosine near-dup stays a bucketed equi-join") {
    assertNoQuadraticJoin("q28", SimilarityQueries.q28CosineNearDup(spark, dir))
  }

  test("q141 source overlap stays an inverted-index equi-join") {
    assertNoQuadraticJoin("q141", DedupQueries.q141SourceOverlap(spark, dir))
  }

  test("q144 confusion audit: pair joins stay equi; only the two declared " +
      "1-row truth-count broadcasts are nested-loop") {
    val plan = planOf(DedupQueries.q144LshConfusion(spark, dir))
    assert(!plan.contains("CartesianProduct"),
      s"q144 plan regressed to a cartesian product:\n$plan")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 2,
      s"q144 grew nested-loop joins beyond the two scalar truth-count " +
        s"broadcasts:\n$plan")
  }

  test("q160 hybrid retrieval: BM25 postings stay equi; only the two " +
      "declared 1-row broadcasts (corpus totals, rerank anchor) are " +
      "nested-loop") {
    val plan = planOf(SimilarityQueries.q160HybridRetrieval(spark, dir))
    assert(!plan.contains("CartesianProduct"),
      s"q160 plan regressed to a cartesian product:\n$plan")
    // 2 executed (corpus-totals scalar inside the BM25 scorer, 1-row
    // anchor broadcast) + 1 textual echo: the persisted candidate
    // relation's InMemoryRelation prints its build plan — which contains
    // the totals BNLJ — again inside this plan string
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 3,
      s"q160 grew nested-loop joins beyond the BM25 corpus-totals scalar " +
        s"and the 1-row anchor broadcast:\n$plan")
  }

  test("q147 threshold curve stays a bucketed equi-join") {
    assertNoQuadraticJoin("q147",
      SimilarityQueries.q147ThresholdCurve(spark, dir))
  }

  test("q151 chunk clusters stays a banded equi-join end to end") {
    assertNoQuadraticJoin("q151",
      DedupQueries.q151ChunkClusters(spark, dir))
  }

  test("q53b probes the Bloom filter in a Filter before the confirm join") {
    val df = DedupQueries.q53bDecontaminateBloom(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("might_contain"),
      s"q53b lost its Bloom prefilter:\n$plan")
    // the prefilter must run below the join, not after it: might_contain
    // belongs to a Filter node, never to the join condition itself
    val joinsMention = plan.linesIterator
      .filter(l => l.contains("Join") && l.contains("might_contain"))
    assert(joinsMention.isEmpty,
      s"q53b's Bloom probe migrated into a join:\n$plan")
    assertNoQuadraticJoin("q53b", df)
  }

  test("q62 semantic dedup stays a bucketed equi-join + anti-join") {
    assertNoQuadraticJoin("q62",
      SimilarityQueries.q62SemanticDedup(spark, dir))
  }

  test("q64 range join stays a bucketed equi-join, never nested-loop") {
    assertNoQuadraticJoin("q64",
      graft.queries.EventQueries.q64RangeJoin(spark, dir))
  }

  test("q64b's naive join is rewritten by the rule before execution") {
    // the shared session injects RangeJoinRewrite through GraftExtensions,
    // and with the session conf unset only q64b's WidthTag can activate
    // it; a nested-loop in its executed plan would mean the rule stopped
    // firing
    spark.conf.unset(graft.plans.RangeJoinRewrite.BucketSecondsKey)
    assertNoQuadraticJoin("q64b",
      graft.queries.EventQueries.q64bRangeJoinRule(spark, dir))
  }

  test("q50 curation pipeline contains no quadratic join") {
    assertNoQuadraticJoin("q50", CurationQueries.q50CuratedCorpus(spark, dir))
  }

  test("curation exactStage gates quality above the rebalance: no " +
      "regexp_replace or split filter below the round-robin exchange") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, RegExpReplace, StringSplit}
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val extra = p match {
        case q: QueryStageExec => Seq(q.plan)
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => Nil
      }
      p +: (p.children ++ extra).flatMap(walk)
    }
    def textKernel(e: Expression): Boolean = e.exists {
      case _: RegExpReplace | _: StringSplit => true
      case _ => false
    }
    val plan = graft.CurationPipeline.exactStage(
      graft.Tables.documents(spark, dir)).queryExecution.executedPlan
    val rebalances = walk(plan).collect {
      case e: ShuffleExchangeLike
          if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
    }
    assert(rebalances.nonEmpty, s"documents() no longer rebalances:\n$plan")
    val below = rebalances.flatMap(e => walk(e.child)).flatMap {
      case f: FilterExec if textKernel(f.condition) => Seq(f.condition.sql)
      case s: FileSourceScanExec => s.dataFilters.filter(textKernel).map(_.sql)
      case _ => Nil
    }
    assert(below.isEmpty, "the quality gate runs in the scan task, below " +
      s"the rebalance: ${below.mkString("; ")}\n$plan")
  }

  test("Tables.configure excludes InferFiltersFromGenerate, which the " +
      "generator row drops of exactStage and DedupOps.shingles rely on") {
    val fresh = spark.newSession()
    val key = "spark.sql.optimizer.excludedRules"
    graft.Tables.configure(fresh)
    assert(fresh.conf.getOption(key).exists(_.split(",").map(_.trim).contains(
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")),
      s"$key = ${fresh.conf.getOption(key)}")
  }

  test("q128 chunk near-dup stays a banded equi-join") {
    assertNoQuadraticJoin("q128",
      graft.queries.DedupQueries.q128ChunkNearDup(spark, dir))
    graft.CacheScope.releaseAll()
  }

  test("q130 bucket checksums plan ZERO joins — one union aggregate") {
    val plan = planOf(
      graft.queries.CurationQueries.q130BucketChecksums(spark, dir))
    assert(!plan.contains("Join"),
      s"q130 regressed to a join formulation:\n$plan")
    // one hashpartitioning exchange (the bucket aggregate); the range
    // exchange is the output ORDER BY contract
    val shuffles = "hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 2, s"q130 grew extra shuffles:\n$plan")
  }

  test("q11 global top-k plans as TakeOrderedAndProject, not a full sort") {
    val plan = planOf(RelationalQueries.q11TopOrders(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"q11 lost the top-k pushdown:\n$plan")
  }

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  test("q11 predicates reach the parquet scans as PushedFilters") {
    val plan = formatted(RelationalQueries.q11TopOrders(spark, dir))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"),
      s"lineitem date filter not pushed:\n$plan")
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"customer segment filter not pushed:\n$plan")
  }

  test("narrow queries prune the document scan to the referenced columns") {
    val plan = formatted(
      graft.queries.NlpQueries.q01CleanTokens(spark, dir))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"q01 reads more than (doc_id, text):\n$plan")
  }

  test("q52b fixed-size sampling plans a WindowGroupLimit below the sort") {
    val plan = planOf(CurationQueries.q52bFixedSample(spark, dir))
    assert(plan.contains("WindowGroupLimit"),
      s"q52b lost the per-stratum rank pushdown:\n$plan")
  }

  test("AQE splits a skewed sort-merge join at runtime (the automatic " +
      "complement to q56's manual salting)") {
    import sqlImplicits._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "24KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // one hot key carrying ~99% of the probe side
      val probe = spark.range(0, 200000)
        .selectExpr("CAST(IF(id % 100 = 0, id, 0) AS LONG) AS k",
          "repeat('x', 32) AS pad")
      val dim = spark.range(0, 2001).selectExpr("id AS k", "id * 2 AS v")
      val joined = probe.join(dim, "k").selectExpr("sum(v) AS s")
      // collect(), not head(): head() wraps the plan in a limit, leaving
      // this queryExecution unexecuted (isFinalPlan=false, no AQE rewrite)
      val expected = joined.collect()(0).getLong(0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin(skew=true)"),
        s"no skew-handled join in:\n$plan")
      assert(plan.contains("AQEShuffleRead skewed"),
        s"no skewed shuffle read in:\n$plan")
      assert(expected > 0)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q29f filtered search pushes the label predicate into the " +
      "candidate parquet scan (pre-filter, not post-filter)") {
    val df = SimilarityQueries.q29fFilteredKnn(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(label," + SimilarityQueries.FilteredLabel),
      s"label predicate not pushed to the scan:\n${plan.take(4000)}")
  }

  test("runtime bloom filter injects on a big-big shuffle join with a " +
      "selective build side (the 100 TB join-pushdown path)") {
    // At cluster scale a fact-fact join with a selective dimension filter
    // should semi-filter the probe side AT THE SCAN via Spark's injected
    // runtime bloom filter. Nothing in the engine's session tuning may
    // disable that path — this gate fails if InjectRuntimeFilter stops
    // firing under our confs. Thresholds: creation side must be small
    // (orders filtered, well under the 10 MB default), application side
    // "large" (threshold forced to 0 so the fixture qualifies).
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val orders = spark.read.parquet(s"$dir/orders.parquet")
        .where("o_totalprice > 400000")
      val j = li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .selectExpr("count(*) AS c")
      assert(j.collect()(0).getLong(0) > 0)
      // the injected filter prints as might_contain(scalar-subquery [...])
      // over a bloom_filter_agg build — assert both halves
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain("),
        s"no injected runtime bloom filter probe in:\n$opt")
      assert(opt.contains("bloom_filter_agg("),
        s"no bloom filter build aggregate in:\n$opt")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q90's bigram scoring join spreads a hot bigram across salt " +
      "partitions (AQE's skew split structurally cannot fire here)") {
    // Real text is Zipf-extreme: one dominant bigram can carry most of
    // the doc-bigram relation. AQE's OptimizeSkewedJoin is NOT the answer
    // on this shape — it only rewrites a sort-merge join whose children
    // are both bare shuffle reads, and q90's model side is an aggregated
    // (and persisted) relation: verified empirically, a 40x-skewed
    // hot-bigram partition stays unsplit even with
    // forceOptimizeSkewedJoin on. So bigramSurprisal pre-salts the
    // corpus-side key (JoinOps.saltedJoinKeys). This test builds the
    // hot-bigram corpus — 20k docs all repeating one pair, 1k carrying a
    // unique tail pair — and asserts the salted shuffle's worst partition
    // carries a bounded share of the bytes, where the unsalted join put
    // ~97% of them on one task.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
    val confs = Seq(
      // no broadcast: force the shuffle-join path the salt protects
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // enough reducers that the 8 salt buckets don't re-collide into a
      // handful of partitions (the test session default is 4)
      "spark.sql.shuffle.partitions" -> "32")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val docs = spark.range(0, 20000)
        .selectExpr("id AS doc_id",
          "concat('aa aa aa aa aa aa aa aa aa aa', " +
            "IF(id < 1000, concat(' w', id), '')) AS text")
      val scored = TextAnalysisOps.bigramSurprisal(docs)
        .agg(org.apache.spark.sql.functions.sum("sum_surprisal").as("s"))
      assert(scored.collect()(0).getLong(0) > 0)
      def walk(p: SparkPlan): Seq[SparkPlan] = {
        val extra = p match {
          case q: QueryStageExec => Seq(q.plan)
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case _ => Nil
        }
        p +: (p.children ++ extra).flatMap(walk)
      }
      val stages = walk(scored.queryExecution.executedPlan)
        .collect { case s: ShuffleQueryStageExec => s }
      // the scoring join's shuffle keys on (w1, w2, __salt)
      val saltStages = stages.filter(
        _.plan.toString.contains("__salt"))
      assert(saltStages.nonEmpty,
        s"no salted exchange in:\n${scored.queryExecution.executedPlan}")
      val corpusSide = saltStages
        .flatMap(_.mapStats.map(_.bytesByPartitionId))
        .maxBy(_.sum)
      val worstShare = corpusSide.max.toDouble / corpusSide.sum
      // unsalted, the hot bigram put ~97% of the bytes on one partition;
      // salted over 8 buckets the worst task must stay near 1/8 + tail
      assert(worstShare <= 0.35,
        s"hot bigram not spread: ${corpusSide.mkString(",")}")
    } finally {
      graft.CacheScope.releaseAll()
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("exact-dedup family: no exchange is keyed by document/chunk text") {
    // the r11 verdict's one scale-killer: a text-keyed exchange ships the
    // corpus as its own shuffle key. Every exact-tier group/window/join
    // now keys on HashOps.contentKey; this gate walks the physical plans
    // (descending into AQE stages) and fails if any hash partitioning
    // carries an unbounded text attribute again. Bounded string keys
    // (source enum, 5-gram shingles) are legitimate and not listed.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.types.StringType
    val forbidden = Set("text", "canon", "chunk_text", "btext", "text_dedup")
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val extra = p match {
        case q: QueryStageExec => Seq(q.plan)
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => Nil
      }
      p +: (p.children ++ extra).flatMap(walk)
    }
    def textKeyedExchanges(df: DataFrame): Seq[String] =
      walk(df.queryExecution.executedPlan).flatMap {
        case e: ShuffleExchangeLike => e.outputPartitioning match {
          case h: HashPartitioning =>
            val bad = h.expressions.flatMap(_.collect {
              case a: AttributeReference
                  if a.dataType == StringType && forbidden(a.name) => a.name
            })
            if (bad.nonEmpty) Seq(s"${bad.mkString(",")} in $h") else Nil
          case _ => Nil
        }
        case _ => Nil
      }
    val dir2 = dir
    val cases: Seq[(String, DataFrame)] = Seq(
      "q24" -> DedupQueries.q24ExactDup(spark, dir2),
      "q24b" -> DedupQueries.q24bCanonicalDup(spark, dir2),
      "exactStage" -> graft.CurationPipeline.exactStage(
        graft.Tables.documents(spark, dir2)),
      "q86" -> CurationQueries.q86ChunkDedup(spark, dir2),
      "q119" -> CurationQueries.q119LlmPrep(spark, dir2),
      "q139" -> DedupQueries.q139DedupSavings(spark, dir2),
      "q166" -> DedupQueries.q166TierConsistency(spark, dir2))
    cases.foreach { case (name, df) =>
      val bad = textKeyedExchanges(df)
      assert(bad.isEmpty,
        s"$name shuffles raw text as a key: ${bad.mkString("; ")}")
    }
  }

  test("q172 perplexity buckets: equi-joins only, cuts broadcast back") {
    // the tercile cuts must come back as an S-row broadcast hash join;
    // a nested-loop (or cartesian) here would re-scan the corpus per cut.
    // The LIVE plan — the registry entry serves the session memo. The
    // smoothing ladder's 1-row `total` broadcast (crossSurprisal's
    // declared scalar bound, same as q90b) is the only nested loop
    // allowed through.
    val plan = planOf(
      graft.queries.AnalysisQueries.perplexityBucketsLive(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan)
    // the scalar `total` broadcast prints as a CROSS nested loop (and
    // may print twice through the persisted relation's branches); a
    // regressed cuts join would surface as an INNER nested loop — gate
    // on the join type, which survives print duplication
    val bnljLines = plan.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnljLines.forall(_.contains("Cross")),
      s"a non-Cross nested loop appeared (the cuts join regressed?):\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"cuts should broadcast back onto the mean relation:\n$plan")
  }

  test("q173 semantic leakage: top-1 folds map-side via WindowGroupLimit") {
    // the eval×train scan is intentionally a broadcast nested loop (the
    // q29 brute contract); the gate is that rk=1 collapses BEFORE the
    // eval_id exchange, so the shuffle carries one row per (partition,
    // eval) — not the full similarity matrix
    val plan = planOf(
      SimilarityQueries.q173SemanticLeakage(spark, dir))
    assert(plan.contains("WindowGroupLimit"),
      s"top-1 should fold map-side, not sort the score matrix:\n$plan")
  }

  test("q175 release datasheet composes S-row relations without quadratic joins") {
    assertNoQuadraticJoin("q175",
      CurationQueries.q175ReleaseAudit(spark, dir))
  }
}
