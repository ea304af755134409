package layerbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheScope, CurationPipeline, NlpPipeline, Tables}
import graft.ml.TopicPipeline
import graft.ops.{MetricOps, SummarizeOps, TextOps}
import graft.streaming.StreamingOps

/** The reference's batch: one op is a full pass of `NlpPipeline.run` plus
  * `CurationPipeline.curate` over a seeded corpus, both outputs
  * materialised. Every pass starts from the cold-start reset, so it does
  * the whole work; it calls no registry function and uses no session memo.
  *
  * In a traced run every other pass is decomposed: each stage of
  * `NlpPipeline.run` is built from the same public operators, persisted
  * and materialised in order, so each stage's increment is its own span.
  * The decomposed pass must produce the same digest as the plain one.
  */
object PipelineWorkload extends Workload {
  val Docs = 1000L
  val WarmUpDocs = 200L
  val ExactShare = 0.1
  val NearShare = 0.1

  def name = "pipeline"
  def itemName = "docs"

  def tables(spark: SparkSession, seed: Long): Seq[(String, DataFrame)] =
    Seq("documents" -> Gen.documents(spark, seed, Docs, ExactShare, NearShare),
      "warmup/documents" -> Gen.documents(spark, seed, WarmUpDocs, ExactShare, NearShare))

  /** A pass over the small warm-up corpus, which compiles the same plans
    * at a fifth of the cost, then one over the real corpus: without it the
    * first timed passes still run 10-20 % slow while the JIT catches up. */
  def warmUp(ctx: Ctx): Unit = {
    ctx.reset(); pass(ctx, s"${ctx.dir}/warmup")
    ctx.reset(); pass(ctx, ctx.dir)
  }

  def run(ctx: Ctx, deadlineNs: Long, seconds: Double): Unit =
    do { ctx.reset(); pass(ctx, ctx.dir) } while (System.nanoTime() < deadlineNs)

  private def pass(ctx: Ctx, dir: String): Op = ctx.op("pass", "cold", Docs) {
    val docs = Tables.documents(ctx.spark, dir)
    if (ctx.traced) stagedPass(ctx, docs)
    else Seq("nlp" -> Stats.digest(NlpPipeline.run(docs)).toString,
      "curate" -> Stats.digest(CurationPipeline.curate(docs)).toString)
  }

  /** `NlpPipeline.run` and `CurationPipeline.curate`, one stage at a time:
    * each stage is built (`queries.build`), then persisted and materialised
    * or digested (`queries.exec`) before the next one starts. */
  private def stagedPass(ctx: Ctx, docs: DataFrame): Seq[(String, String)] = {
    val cfg = NlpPipeline.Config()
    def stage[T, R](name: String)(build: => T)(exec: T => R): R =
      ctx.span(name)(exec(ctx.span("queries.build")(build)))
    def execSpan[R](body: => R): R = ctx.span("queries.exec")(body)
    def materialise(df: DataFrame): DataFrame =
      execSpan { val p = CacheScope.persist(df); p.count(); p }
    val cleaned = stage("stage.clean")(docs
      .withColumn("cleaned_text", TextOps.preprocess(col("text")))
      .withColumn("processed_text", TextOps.cleanTokensText(col("cleaned_text"))))(
      materialise)
    val summarized = stage("stage.summarize") {
      val sents = SummarizeOps.sentences(cleaned)
      val k = SummarizeOps.targetSentences(cfg.summaryMaxLength)
      SummarizeOps.extractiveSummary(cleaned, sents, k, ". ", ".")
        .withColumn("summary",
          TextOps.truncateAtWordBoundary(col("summary"), cfg.summaryMaxLength))
    }(materialise)
    val fitted = stage("stage.topic_fit")(TopicPipeline.fit(docs, cfg.topics))(identity)
    val tags = stage("stage.tags")(TopicPipeline.tags(fitted))(materialise)
    val nlp = stage("stage.metrics") {
      val joined = cleaned
        .join(summarized.select("doc_id", "summary"), Seq("doc_id"))
        .join(tags, Seq("doc_id"), "left")
      MetricOps.summaryMetrics(joined, "text", "summary")
        .join(joined.select(col("doc_id"), col("cleaned_text"),
          col("processed_text"), col("summary"), col("tags")), Seq("doc_id"))
    }(df => execSpan(Stats.digest(df)))
    val exact = stage("stage.curate_exact")(CurationPipeline.exactStage(docs))(materialise)
    val curated = stage("stage.curate_near")(CurationPipeline.curateFrom(exact))(
      df => execSpan(Stats.digest(df)))
    Seq("nlp" -> nlp.toString, "curate" -> curated.toString)
  }

  /** The curated corpus holds no two identical texts. */
  override def check(ctx: Ctx): Seq[String] = {
    val cur = CurationPipeline.curate(Tables.documents(ctx.spark, ctx.dir))
    val dups = cur.groupBy("text").count().where(col("count") > 1).count()
    CacheScope.releaseAll()
    if (dups == 0) Nil else Seq(s"curate: $dups texts survive exact dedup")
  }

  override def layers(ctx: Ctx): Seq[(String, Double, String)] = {
    val traced = ctx.ops.flatMap(_.span)
    def perOp(stage: String, key: String): Double =
      if (traced.isEmpty) 0.0
      else traced.map(s => Trace.named(s, stage).map(Trace.total(_, key)).sum).sum / traced.size
    def stageS(stage: String): Double =
      if (traced.isEmpty) 0.0
      else traced.map(s => Trace.named(s, stage).map(_.seconds).sum).sum / traced.size
    val kept = ctx.ops.flatMap(_.digests).collectFirst {
      case ("curate", d) => d.stripPrefix("rows=").takeWhile(_ != ':').toDouble / Docs
    }.getOrElse(0.0)
    Seq("clean", "summarize", "topic_fit", "tags", "metrics", "curate_exact",
      "curate_near").map(st => (s"stage.${st}_s", stageS(s"stage.$st"), "s")) ++
      Seq(("stage.topic_fit_jobs", perOp("stage.topic_fit", "spark.jobs"), "count"),
        ("dedup.kept_frac", kept, "ratio"))
  }
}

/** A fixed stratified sample of the query registry at scale factor 0.1: one
  * typical query from each of eight registries plus one streaming query.
  * The seed varies the data, not the sample. Each query runs once cold,
  * right after the cold-start reset, then warm with its session memos kept.
  * Every query ends with `CacheScope.releaseAll()`.
  */
object SessionWorkload extends Workload {
  def name = "session"
  def itemName = "queries"

  def tables(spark: SparkSession, seed: Long): Seq[(String, DataFrame)] =
    Gen.allTables(spark, seed, 0.1)

  private def once(ctx: Ctx, q: String, fn: (SparkSession, String) => DataFrame,
                   phase: String): Op =
    ctx.op(q, phase, 1) {
      val df = ctx.span("queries.build")(fn(ctx.spark, ctx.dir))
      val d = ctx.span("queries.exec")(Stats.digest(df))
      Seq(q -> (if (graft.SparkEntry.oracleSql.contains(q)) d.toString else d.rowsOnly))
    }

  def warmUp(ctx: Ctx): Unit = {
    ctx.spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.lineitem(ctx.spark, ctx.dir).limit(1).count()
  }

  /** Runs every query of the sample cold once, then warm
    * [[warmRuns]] times. A fixed count, not a time slot:
    * with slots the cheap queries got extra warm runs whenever time was
    * left, which moved the pooled median by up to 20 % between runs. */
  def run(ctx: Ctx, deadlineNs: Long, seconds: Double): Unit =
    Sample.foreach { q =>
      val fn = graft.SparkEntry.queries(q)
      ctx.reset()
      once(ctx, q, fn, "cold")
      (1 to warmRuns(seconds)).foreach(_ => once(ctx, q, fn, "warm"))
    }

  override def layers(ctx: Ctx): Seq[(String, Double, String)] = {
    val gains = ctx.ops.toSeq.groupBy(_.name).values.flatMap { ops =>
      val cold = ops.filter(_.phase == "cold").map(_.seconds)
      val warm = ops.filter(_.phase == "warm").map(_.seconds)
      if (cold.isEmpty || warm.isEmpty) None
      else Some(Stats.median(cold) - Stats.median(warm))
    }.toSeq
    Seq(("memos.cold_gain_s", if (gains.isEmpty) 0.0 else Stats.median(gains), "s")) ++
      StreamWorkload.streamLayers(ctx)
  }

  /** Warm runs per query: `seconds` sizes the run, at about 8 s per warm
    * round of the sample on 4 cores, and never fewer than two. */
  def warmRuns(seconds: Double): Int = math.max(2, math.round(seconds / 8).toInt)

  /** One query per registry, chosen from a census of each registry's
    * queries near its 30th percentile of reference cold cost: among the four
    * whose cold and warm costs on 4 cores lay closest together, the one with
    * the median cold cost (an oracle-checked one where that was a tie).
    * `TopicQueries` is left out: both its queries refit LDA cold, about 9 s
    * on 4 cores, which `pipeline` already times as `stage.topic_fit_s`. The
    * last query, the checkpoint restart of the exact-dedup stream, commits
    * state, checkpoints and file-sink output on every trigger.
    *
    * The sample is fixed because a seed-drawn one (one of four
    * equal-cost candidates per registry) spread `op_p50_s` by 17 % and
    * `cold_op_p50_s` by 24 % across four seeds. */
  val Sample: Seq[String] = Seq(
    "q94_corrupt_quarantine",   // NlpQueries
    "q16_semi_anti",            // RelationalQueries
    "q122_luhn_cards",          // AnalysisQueries
    "q61c_exact_substr",        // DedupQueries
    "q93b_label_dispersion",    // SimilarityQueries
    "q114b_locf",               // EventQueries
    "q71b_scd2_history",        // CurationQueries
    "q60f_mp4_metadata",        // MultimodalQueries
    "q189_stream_restart_dedup")
}

/** Replays of seeded documents and events through the `StreamingOps`
  * `*ViaStream` entry points, each from an empty checkpoint to
  * `processAllAvailable`: exact dedup, dynamic sessions, click attribution
  * and the checkpoint restart of the dedup stream. One op is one
  * replay; ops run in whole rounds of the four, each after the cold-start
  * reset, so every run holds the same mix.
  */
object StreamWorkload extends Workload {
  val Docs = 1000L
  val Events = 20000L
  val Chunks = 2
  private val Gap: Long => Long = uid => (300L + (uid % 3L) * 300L) * 1000000L

  def name = "stream"
  def itemName = "rows"

  def tables(spark: SparkSession, seed: Long): Seq[(String, DataFrame)] =
    Seq("documents" -> Gen.documents(spark, seed, Docs, 0.1, 0.0),
      "events" -> Gen.events(spark, seed, Events),
      "warmup/documents" -> Gen.documents(spark, seed, Docs / 10, 0.1, 0.0),
      "warmup/events" -> Gen.events(spark, seed, Events / 10))

  private def entries(ctx: Ctx, d: String, n: Int): Seq[(String, Long, () => DataFrame)] = {
    val s = ctx.spark
    Seq(
      ("exact_dedup", Docs, () => StreamingOps.exactDedupViaStream(s,
        s"$d/documents.parquet", Chunks, s"layerbench/$n/dedup")),
      ("dynamic_sessions", Events, () => StreamingOps.dynamicSessionsViaStream(s,
        d, Chunks, Gap, s"layerbench/$n/sessions")),
      ("click_attribution", Events, () => StreamingOps.clickAttributionViaStream(s,
        d, Chunks, 600L, s"layerbench/$n/clicks")),
      ("dedup_restart", Docs, () => StreamingOps.exactDedupViaStreamRestart(s,
        s"$d/documents.parquet", Chunks, 1, s"layerbench/$n/restart")))
  }

  private var round = 0

  private def replayRound(ctx: Ctx, dir: String): Unit = {
    round += 1
    entries(ctx, dir, round).foreach { case (name, rows, replay) =>
      ctx.reset()
      ctx.op(name, "cold", rows) {
        val out = ctx.span("queries.build")(replay())
        Seq(name -> ctx.span("queries.exec")(Stats.digest(out)).toString)
      }
    }
  }

  /** One round over inputs a tenth the size: the same plans and the same
    * per-trigger work, at a fraction of the cost. */
  def warmUp(ctx: Ctx): Unit = replayRound(ctx, s"${ctx.dir}/warmup")

  def run(ctx: Ctx, deadlineNs: Long, seconds: Double): Unit =
    do replayRound(ctx, ctx.dir) while (System.nanoTime() < deadlineNs)

  override def layers(ctx: Ctx): Seq[(String, Double, String)] = streamLayers(ctx)

  /** Streaming progress per traced op that ran a stream. */
  def streamLayers(ctx: Ctx): Seq[(String, Double, String)] = {
    val traced = ctx.ops.flatMap(_.span).filter(Trace.total(_, "stream.triggers") > 0)
    def mean(key: String): Double =
      if (traced.isEmpty) 0.0 else traced.map(Trace.total(_, key)).sum / traced.size
    def peak(key: String): Double =
      if (traced.isEmpty) 0.0 else traced.map(Trace.peak(_, key)).max
    Seq("triggers" -> "count", "trigger_s" -> "s", "addbatch_s" -> "s",
      "walcommit_s" -> "s", "commitoffsets_s" -> "s", "latestoffset_s" -> "s",
      "state_commit_s" -> "s").map { case (k, u) => (s"stream.$k", mean(s"stream.$k"), u) } ++
      Seq(("stream.state_rows", peak("stream.state_rows"), "count"),
        ("stream.state_mb", peak("stream.state_mb"), "MB"))
  }
}
