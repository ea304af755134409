package graft.streaming

import graft.SparkSpec
import graft.ops.EventOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end batch/stream parity over the REAL events fixture (sf0.01):
  * the full table replayed as a time-ordered file stream, one file per
  * micro-batch, through the watermarked q32 (tumbling) and q34 (session)
  * aggregation bodies — asserting the streamed output is row-identical to
  * the batch twins the DuckDB oracle verifies.
  *
  * Append mode only emits a window once the watermark passes it, so the
  * replay ends with a single far-future "flush" event (2h past the last
  * real event, > the 1h watermark delay): it pushes the watermark beyond
  * every real window and session, forcing them all to emit, while its own
  * group stays unemitted in state and never appears in the output.
  */
class StreamingParitySpec extends SparkSpec {
  import sqlImplicits._

  private val dir = "/root/testdata/sf0.01"
  private val NChunks = 4

  /** Stage the fixture as NChunks time-ordered parquet files + the flush
    * file, with strictly increasing mtimes so FileStreamSource replays
    * them in event-time order (unordered files would make real data cross
    * the watermark and be dropped — a replay-harness bug, not a parity
    * property).
    */
  private def stageChunks(): String = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // normalize whatever physical ts layout the fixture ships (see
    // Tables.normalizeTs) so staged chunks always carry TIMESTAMP ts
    val raw = graft.Tables.normalizeTs(spark.read.parquet(s"$dir/events.parquet"))
    val chunked = raw
      .withColumn("chunk", ntile(NChunks).over(Window.orderBy("ts")))
    val streamDir = java.nio.file.Files.createTempDirectory("graft-parity")
    val work = java.nio.file.Files.createTempDirectory("graft-parity-work")
    val maxTs = raw.agg(max("ts")).head().getTimestamp(0)
    val flushTs = new java.sql.Timestamp(maxTs.getTime + 2L * 3600L * 1000L)
    val flush = Seq((-1L, flushTs, -1L, "flush", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    (0 until NChunks).foreach { i =>
      val part = work.resolve(s"c$i")
      chunked.where(col("chunk") === i + 1).drop("chunk")
        .coalesce(1).write.parquet(part.toString)
      stage(part, streamDir, i)
    }
    val fpart = work.resolve("flush")
    flush.coalesce(1).write.parquet(fpart.toString)
    stage(fpart, streamDir, NChunks)
    streamDir.toString
  }

  private def stage(partDir: java.nio.file.Path, streamDir: java.nio.file.Path,
                    idx: Int): Unit = {
    val src = java.nio.file.Files.list(partDir).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    val dst = streamDir.resolve(f"$idx%03d.parquet")
    java.nio.file.Files.move(src, dst)
    java.nio.file.Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(1000000L + idx * 60000L))
  }

  private implicit class IterW[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }

  private def runAppend(stream: DataFrame, name: String): Array[org.apache.spark.sql.Row] = {
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      spark.table(name).collect()
    } finally q.stop()
  }

  test("q32 tumbling body: streamed file replay is row-identical to batch") {
    val streamDir = stageChunks()
    val streamed = StreamingOps.eventsFileStream(spark, streamDir)
    val got = runAppend(
      StreamingOps.tumblingCounts(streamed, "10 minutes", "1 hour"), "parity_tumbling")
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .filter(_._2 != "flush") // the flush event's own window, if ever emitted
      .sortBy(t => (t._1, t._2))
    val want = EventOps.tumbling(graft.Tables.events(spark, dir)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.length == want.length,
      s"streamed ${got.length} windows vs batch ${want.length}")
    assert(got.toSeq == want.toSeq)
  }

  test("q92 window top-k body: streamed file replay is row-identical to " +
      "batch (typed Aggregator state merged across micro-batches)") {
    val streamDir = stageChunks()
    val streamed = StreamingOps.eventsFileStream(spark, streamDir)
    val got = runAppend(
      StreamingOps.windowTopKStream(streamed, "10 minutes", 3, "1 hour"),
      "parity_window_topk")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .filter(_._3 != -1L) // the flush event's own window, if ever emitted
      .sortBy(t => (t._1, t._2))
    val want = EventOps.windowTopK(graft.Tables.events(spark, dir)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.length == want.length,
      s"streamed ${got.length} rows vs batch ${want.length}")
    assert(got.toSeq == want.toSeq)
  }

  test("q33 sliding body: streamed file replay is row-identical to batch") {
    val streamDir = stageChunks()
    val streamed = StreamingOps.eventsFileStream(spark, streamDir)
    // the flush event's own overlapping windows start >= maxTs + 2h - width;
    // every real window starts <= maxTs, so a cutoff at maxTs (formatted —
    // the string order is chronological) separates them exactly
    val maxTs = graft.Tables.events(spark, dir)
      .agg(max("ts")).head().getTimestamp(0)
    val cutoff = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
      .format(maxTs.toInstant.truncatedTo(java.time.temporal.ChronoUnit.SECONDS))
    val got = runAppend(
      StreamingOps.slidingCounts(streamed, "10 minutes", "5 minutes", "1 hour"),
      "parity_sliding")
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .filter(_._1 <= cutoff)
      .sortBy(_._1)
    val want = EventOps.sliding(graft.Tables.events(spark, dir)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(got.length == want.length,
      s"streamed ${got.length} windows vs batch ${want.length}")
    assert(got.toSeq == want.toSeq)
  }

  test("enrichByInterval: streamed file replay is row-identical to batch") {
    // the q64 shape (error-anchored 300s windows over the same fixture)
    // with a STREAMING probe side: stateless stream-static bucketed join,
    // so no watermark/flush mechanics — every micro-batch's matches must
    // appear, and their union must equal the batch operator's output. The
    // flush event joins nothing (no interval contains it).
    val streamDir = stageChunks()
    val batchEvents = graft.Tables.events(spark, dir)
    val anchors = batchEvents.where(col("event_type") === "error")
      .select(col("event_id").as("anchor_id"), col("ts").as("w_start"))
      .withColumn("w_end", col("w_start") + expr("INTERVAL 300 SECONDS"))
    def pairs(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("anchor_id"), r.getAs[Long]("event_id")))
      .sorted.toSeq
    val streamed = StreamingOps.eventsFileStream(spark, streamDir)
      .select("event_id", "ts", "user_id")
    val got = pairs(runAppend(
      StreamingOps.enrichByInterval(streamed, anchors,
        "ts", "w_start", "w_end", 300L)
        .select("anchor_id", "event_id"), "parity_interval_enrich"))
    val want = pairs(graft.ops.JoinOps.rangeJoinBucketed(
      batchEvents.select("event_id", "ts", "user_id"), anchors,
      "ts", "w_start", "w_end", 300L)
      .select("anchor_id", "event_id").collect())
    assert(got.length == want.length,
      s"streamed ${got.length} pairs vs batch ${want.length}")
    assert(got == want && got.nonEmpty)
  }

  test("q77 stream-stream interval join: file replay matches the batch " +
      "bucketed join") {
    // BOTH sides stream (two independent file sources over the same
    // replay): views watermarked+buffered, clicks joined to same-user
    // views within the half-open 10-minute bound. Inner stream-stream
    // joins emit matches as soon as both rows are buffered, so no flush
    // mechanics are needed; the watermark's role is state cleanup only.
    val streamDir = stageChunks()
    def typed(t: String) = StreamingOps.eventsFileStream(spark, streamDir)
      .where(col("event_type") === t)
      .select("event_id", "ts", "user_id")
    val joined = StreamingOps.intervalJoin(
      typed("view"), typed("click"), key = "user_id",
      maxDelay = "10 minutes", watermark = "1 hour")
    val got = runAppend(
      joined.select(col("event_id_r").as("click_id"),
        col("event_id").as("view_id")), "parity_ssjoin")
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = graft.queries.EventQueries.q77ClickAttribution(spark, dir)
      .select("click_id", "view_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got.length == want.length,
      s"streamed ${got.length} pairs vs batch ${want.length}")
    assert(got == want && got.nonEmpty)
  }

  test("outer interval join: unmatched left rows emit NULLs once the " +
      "watermark proves no match can arrive") {
    // LEFT OUTER stream-stream: every view must surface exactly once —
    // with its click when one lands in the half-open 10-minute window,
    // with NULLs otherwise (emitted only after the watermark passes the
    // window, which the staged flush event guarantees for every real row)
    val streamDir = stageChunks()
    // the flush sentinel must SURVIVE the type filter on both sides: the
    // watermark node sits after it, and outer-join null emission needs
    // the watermark to pass every real window — its own (-1) row is
    // excluded from the assertion below
    def typed(t: String) = StreamingOps.eventsFileStream(spark, streamDir)
      .where(col("event_type").isin(t, "flush"))
      .select("event_id", "ts", "user_id")
    val joined = StreamingOps.intervalJoinOuter(
      typed("view"), typed("click"), key = "user_id",
      maxDelay = "10 minutes", watermark = "1 hour")
    val got = runAppend(
      joined.select(col("event_id").as("view_id"),
        col("event_id_r").as("click_id")), "parity_ssouter")
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1)))
      .filter(_._1 != -1L) // the flush sentinel's own left row
      .sorted.toSeq
    // batch twin: plain left join under the same half-open condition
    // (fixture-sized — a BNLJ is fine in a test)
    val e = graft.Tables.events(spark, dir)
    val views = e.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("ts").as("vts"),
        col("user_id"))
    val clicks = e.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts").as("cts"),
        col("user_id").as("cuid"))
    val want = views.join(clicks,
      col("user_id") === col("cuid") &&
        col("cts") >= col("vts") &&
        col("cts") < col("vts") + expr("INTERVAL 10 minutes"),
      "left_outer")
      .select(col("view_id"), col("click_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sorted.toSeq
    assert(got.length == want.length,
      s"streamed ${got.length} rows vs batch ${want.length}")
    assert(got == want)
    assert(got.exists(_._2 == -1L), "expected some unmatched views")
    assert(got.exists(_._2 != -1L), "expected some matched views")
  }

  test("running user totals: final streamed state matches the batch aggregate") {
    // the flatMapGroupsWithState body over the real fixture replay: the
    // LAST emitted row per user (lifetime state at stream end) must agree
    // with the batch per-user aggregate. Counts compare exactly; the
    // float total compares within ulp slack because the streamed fold
    // adds in replay order while batch partial aggregation does not.
    val streamDir = stageChunks()
    val streamed = StreamingOps.eventsFileStream(spark, streamDir)
      .where(col("event_id") >= 0) // drop the flush row (its own user)
      .select(col("user_id"), col("ts"), col("value"))
      .as[StreamingOps.UserEvent]
    val got = runAppend(
      StreamingOps.runningUserTotals(streamed).toDF, "parity_running")
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (_, rows) => rows.maxBy(_._2) }
      .toSeq.sortBy(_._1)
    val want = graft.Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").as("tot"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(_._1)
    assert(got.length == want.length,
      s"streamed ${got.length} users vs batch ${want.length}")
    got.zip(want).foreach { case ((u1, n1, t1), (u2, n2, t2)) =>
      assert(u1 == u2 && n1 == n2, s"user $u1/$u2 count $n1/$n2")
      assert(math.abs(t1 - t2) <= 1e-9 * math.max(1.0, math.abs(t2)),
        s"user $u1 total $t1 vs $t2")
    }
  }

  test("q80 incremental ingest dedup: chunked file replay against the " +
      "stored index matches the batch twin") {
    import graft.ops.{DedupOps, TextOps}
    // the q80 carving: doc_id % 10 == 9 is the incoming delta, the rest is
    // the already-indexed corpus whose signatures are the STORED index
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
    val isNew = col("doc_id") % 10 === 9
    val toked = (df: DataFrame) => df.select(col("doc_id"),
      TextOps.tokenize(col("text")).as("toks"))
    val n = graft.queries.DedupQueries.ShingleN
    val indexSigs = DedupOps.minhashSignatures(
        DedupOps.shingles(toked(docs.where(!isNew)), n))
      .persist() // the stored index: persisted ONCE, reused every batch
    val want = DedupOps.incrementalDupCheck(
        DedupOps.minhashSignatures(DedupOps.shingles(toked(docs.where(isNew)), n)),
        indexSigs, rowsPerBand = 4, graft.queries.DedupQueries.IncrementalMinMicro)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .sortBy(_._1)
    graft.CacheScope.releaseAll()
    // stage the delta as 4 doc_id-ordered parquet chunks (continuous
    // ingest batches); no flush file — foreachBatch has no watermark
    val work = java.nio.file.Files.createTempDirectory("graft-incr-work")
    val streamDir = java.nio.file.Files.createTempDirectory("graft-incr")
    val chunked = docs.where(isNew)
      .withColumn("chunk", ntile(NChunks).over(Window.orderBy("doc_id")))
    (0 until NChunks).foreach { i =>
      val part = work.resolve(s"c$i")
      chunked.where(col("chunk") === i + 1).drop("chunk")
        .coalesce(1).write.parquet(part.toString)
      stage(part, streamDir, i)
    }
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Boolean)]
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft-incr-ckpt").toString
    val q = StreamingOps.incrementalDedupStream(stream, indexSigs, n,
      rowsPerBand = 4, graft.queries.DedupQueries.IncrementalMinMicro,
      checkpoint) { out =>
      got ++= out.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      ()
    }
    try q.processAllAvailable() finally q.stop()
    indexSigs.unpersist(blocking = false)
    // every delta doc lands in exactly one micro-batch and its verdict
    // depends only on the static index, so the union of batch outputs
    // must equal the batch operator over the whole delta
    assert(got.sortBy(_._1).toSeq == want.toSeq)
    assert(want.nonEmpty && want.exists(_._5), "degenerate fixture: no dup found")
  }

  test("q98 rollup body: streamed complete-mode state matches the batch merge") {
    // the incremental-rollup contract run on its natural engine: the
    // standing per-type state merges with every micro-batch through the
    // same algebra q98 spells out batch-side, and the FINAL complete-mode
    // emission must equal q98's merge (itself proven == full recompute by
    // the oracle). Complete mode needs no flush event — the last real
    // batch already re-emits the whole rollup; the flush row only adds
    // its own "flush" type, filtered here.
    val streamDir = stageChunks()
    val streamed = StreamingOps.eventsFileStream(spark, streamDir)
    val q = StreamingOps.rollupByType(streamed)
      .writeStream.format("memory").queryName("parity_rollup")
      .outputMode("complete").start()
    val got = try {
      q.processAllAvailable()
      spark.table("parity_rollup").collect()
    } finally q.stop()
    val gotT = got
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getString(3), r.getString(4)))
      .filter(_._1 != "flush").sortBy(_._1).toSeq
    val want = graft.queries.EventQueries.q98IncrementalRollup(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getString(3), r.getString(4))).toSeq
    assert(gotT == want && gotT.nonEmpty)
  }

  test("q34 session body: streamed file replay is row-identical to batch") {
    val streamDir = stageChunks()
    val streamed = StreamingOps.eventsFileStream(spark, streamDir)
    val got = runAppend(
      StreamingOps.sessionCounts(streamed, "5 minutes", "1 hour"), "parity_sessions")
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .filter(_._1 != -1L) // the flush event's own session, if ever emitted
      .sortBy(t => (t._1, t._2))
    val want = EventOps.sessions(graft.Tables.events(spark, dir)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.length == want.length,
      s"streamed ${got.length} sessions vs batch ${want.length}")
    assert(got.toSeq == want.toSeq)
  }

  test("q117 dynamic-gap sessions: streamed state machine matches the " +
      "batch operator, session numbers included") {
    import sqlImplicits._
    val streamDir = stageChunks()
    val src = StreamingOps.eventsFileStream(spark, streamDir)
      .select(col("user_id"), col("ts"), col("value"))
      .as[StreamingOps.UserEvent]
    // the q117 gap rule: 5/10/15 minutes by user_id % 3, in micros —
    // plain % on both sides, mirroring sessionGapMicros bit-for-bit
    def gapOf(uid: Long): Long =
      (300L + (uid % 3L) * 300L) * 1000000L
    val got = runAppend(
      StreamingOps.dynamicGapSessionStream(src, gapOf).toDF, "parity_dyn_sessions")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3).toString, r.getTimestamp(4).toString, r.getLong(5)))
      .filter(_._1 != -1L) // the flush event's own session, if ever emitted
      .sortBy(t => (t._1, t._2))
    val want = EventOps.sessionsDynamicGap(
      graft.Tables.events(spark, dir),
      (lit(300L) + (col("user_id") % 3) * 300L) * 1000000L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3).toString, r.getTimestamp(4).toString, r.getLong(5)))
      .sortBy(t => (t._1, t._2))
    assert(got.length == want.length,
      s"streamed ${got.length} sessions vs batch ${want.length}")
    assert(got.toSeq == want.toSeq)
  }

  test("q181 streaming dynamic sessions: the registered streaming execution " +
      "is row-identical to the batch q117 relation") {
    val viaStream = graft.queries.EventQueries
      .q181StreamDynamicSessions(spark, dir).collect().toSeq
    val batch = graft.queries.EventQueries
      .q117DynamicSessions(spark, dir).collect().toSeq
    assert(viaStream.nonEmpty, "streaming dynamic sessions came back empty")
    assert(viaStream == batch)
  }

  test("q191 checkpoint restart of the custom-state session stream: the " +
      "two-start execution is row-identical to the batch q117 relation") {
    // open sessions are parked in the state store at the mid-replay stop
    // and must close correctly after the new query recovers them; the
    // in-body asserts already pin same-query-id / distinct-run-ids
    val viaRestart = graft.queries.EventQueries
      .q191StreamRestartSessions(spark, dir).collect().toSeq
    val batch = graft.queries.EventQueries
      .q117DynamicSessions(spark, dir).collect().toSeq
    assert(viaRestart.nonEmpty, "restarted session stream came back empty")
    assert(viaRestart == batch)
  }

  test("q192 checkpoint restart of the stream-stream join: the two-start " +
      "execution is row-identical to batch q77 and contains a cross-cut match") {
    val viaRestart = graft.queries.EventQueries
      .q192StreamRestartAttribution(spark, dir).collect().toSeq
    val batch = graft.queries.EventQueries
      .q77ClickAttribution(spark, dir).collect().toSeq
    assert(viaRestart.nonEmpty, "restarted attribution stream came back empty")
    assert(viaRestart == batch)
    // the cross-cut buffer-recovery witness (a match whose view arrived
    // before the stop and whose click after it) is a hard in-body
    // `require` of the harness — it places the cut inside a real match
    // window precisely so that witness must exist; reaching this line
    // means it held
  }

  test("q185 streaming click attribution: the registered stream-stream " +
      "interval join is row-identical to the batch q77 relation") {
    val viaStream = graft.queries.EventQueries
      .q185StreamClickAttribution(spark, dir).collect().toSeq
    val batch = graft.queries.EventQueries
      .q77ClickAttribution(spark, dir).collect().toSeq
    assert(viaStream.nonEmpty, "streaming click attribution came back empty")
    assert(viaStream == batch)
  }

  test("q179 streaming heavy hitters: the registered streaming execution " +
      "is row-identical to the batch q99 relation") {
    val viaStream = graft.queries.AnalysisQueries
      .q179StreamHeavyHitters(spark, dir).collect().toSeq
    val batch = graft.queries.AnalysisQueries
      .q99HeavyHitters(spark, dir).collect().toSeq
    assert(viaStream.nonEmpty, "streaming heavy hitters came back empty")
    assert(viaStream == batch)
    // re-running is a complete fresh ingest (scratch wiped) — same rows
    val again = graft.queries.AnalysisQueries
      .q179StreamHeavyHitters(spark, dir).collect().toSeq
    assert(again == batch)
  }

  test("classifyStream: chunked ingest scored under the trained NB table " +
      "equals the batch scorer over the concatenated batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val weights = graft.ops.TextAnalysisOps.nbTrainedWeights(
      graft.ops.TextAnalysisOps.langLabeled(
        graft.Tables.documents(spark, dir), "en"))
      .select(col("bucket"), col("weight"))
    val persisted = graft.CacheScope.persist(weights)
    try {
      val docs = graft.Tables.documents(spark, dir)
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val mem = MemoryStream[(Long, String)]
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-clsstream").toString
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Boolean)]
      val q = StreamingOps.classifyStream(
        mem.toDF.toDF("doc_id", "text"), persisted,
        graft.ops.TextAnalysisOps.TrainedBuckets, ckpt) { scored =>
        got ++= scored.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      }
      try {
        docs.grouped(200).foreach { chunk =>
          mem.addData(chunk.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
      val batch = graft.ops.TextAnalysisOps.qualityClassify(
        graft.Tables.documents(spark, dir), persisted,
        buckets = graft.ops.TextAnalysisOps.TrainedBuckets)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      assert(got.sortBy(_._1).toSeq === batch.sortBy(_._1).toSeq)
    } finally graft.CacheScope.releaseAll()
  }

  test("classifyStream under the CALIBRATED threshold keeps exactly the " +
      "q188 batch gate's kept set (stream and batch gates cannot disagree)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.TextAnalysisOps
    val docsDf = graft.Tables.documents(spark, dir)
    // q186/q188's exact training setup: language supervision under the
    // content-hash carve, NB trained on the train half only
    val carve = docsDf.select(col("doc_id"),
      (graft.ops.HashOps.charHash(col("text")) % 2 === 0).as("is_train"))
    val labeledCarved = TextAnalysisOps.langLabeled(docsDf, "en")
      .join(carve, "doc_id")
    val s = graft.CacheScope.persist(
      TextAnalysisOps.nbCarveScores(labeledCarved))
    val best = graft.CacheScope.persist(
      TextAnalysisOps.nbBestThreshold(s).select(col("threshold")))
    val weights = graft.CacheScope.persist(
      TextAnalysisOps.nbTrainedWeights(labeledCarved.where(col("is_train")))
        .select(col("bucket"), col("weight")))
    try {
      val tVal = best.collect().head.getLong(0)
      assert(tVal != 0L,
        "fixture calibrated cut degenerated to the raw 0 cut — the parity " +
          "case would no longer exercise the calibrated path")
      // batch truth: q188's keep set — every doc whose carve score clears
      // the calibrated cut
      val batchKept = s.where(col("score") >= tVal)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val docs = docsDf.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val mem = MemoryStream[(Long, String)]
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-calstream").toString
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
      val q = StreamingOps.classifyStream(
        mem.toDF.toDF("doc_id", "text"), weights,
        TextAnalysisOps.TrainedBuckets, ckpt, threshold = Some(best)) {
        scored => got ++= scored.collect().map(r =>
          (r.getLong(0), r.getBoolean(3)))
      }
      try {
        docs.grouped(200).foreach { chunk =>
          mem.addData(chunk.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
      val streamKept = got.filter(_._2).map(_._1).toSet
      assert(got.size == docs.length, "stream scored a different doc count")
      assert(streamKept == batchKept,
        s"calibrated stream gate diverged from the batch gate: " +
          s"stream-only=${(streamKept -- batchKept).take(5)} " +
          s"batch-only=${(batchKept -- streamKept).take(5)}")
      // and it genuinely differs from the raw score >= 0 gate on this
      // fixture — the calibration is observable, not a no-op
      val keptAtZero = s.where(col("score") >= 0)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(streamKept != keptAtZero,
        "calibrated and raw gates coincide on the fixture — parity check vacuous")
    } finally graft.CacheScope.releaseAll()
  }

  test("classifyStreamPerSource applies each source's own calibrated cut " +
      "(q190 parity) and falls back to the pooled cut for unseen sources") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.TextAnalysisOps
    val docsDf = graft.Tables.documents(spark, dir)
    val carve = docsDf.select(col("doc_id"),
      (graft.ops.HashOps.charHash(col("text")) % 2 === 0).as("is_train"))
    val labeledCarved = TextAnalysisOps.langLabeled(docsDf, "en")
      .join(carve, "doc_id")
    val s = graft.CacheScope.persist(
      TextAnalysisOps.nbCarveScores(labeledCarved)
        .join(docsDf.select("doc_id", "source"), "doc_id"))
    val bestSrc = graft.CacheScope.persist(
      TextAnalysisOps.nbBestThresholdPerSource(s)
        .select(col("source"), col("threshold")))
    val bestGlobal = graft.CacheScope.persist(
      TextAnalysisOps.nbBestThreshold(s).select(col("threshold")))
    val weights = graft.CacheScope.persist(
      TextAnalysisOps.nbTrainedWeights(labeledCarved.where(col("is_train")))
        .select(col("bucket"), col("weight")))
    try {
      val srcCuts = bestSrc.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val g = bestGlobal.collect().head.getLong(0)
      // batch truth: q190's operating points applied per doc, pooled
      // fallback for a source without a sweep row
      val batchKept = s.collect().map { r =>
        val (id, score, src) = (r.getLong(0), r.getLong(3), r.getString(4))
        id -> (score >= srcCuts.getOrElse(src, g))
      }.filter(_._2).map(_._1).toSet
      // stream the corpus with ONE source renamed to an unseen id, so the
      // fallback path provably executes (its docs screen at the pooled g)
      val someSrc = docsDf.select("source").head().getString(0)
      val docs = docsDf.select("doc_id", "text", "source").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val mem = MemoryStream[(Long, String, String)]
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-srcstream").toString
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
      val q = StreamingOps.classifyStreamPerSource(
        mem.toDF.toDF("doc_id", "text", "source"), weights,
        TextAnalysisOps.TrainedBuckets, ckpt, bestSrc, bestGlobal) {
        scored => got ++= scored.collect().map(r =>
          (r.getLong(0), r.getBoolean(4)))
      }
      try {
        docs.grouped(200).foreach { chunk =>
          mem.addData(chunk.toIndexedSeq); q.processAllAvailable()
        }
      } finally q.stop()
      assert(got.size == docs.length)
      assert(got.filter(_._2).map(_._1).toSet == batchKept,
        "per-source stream gate diverged from the q190 batch operating points")
      // fallback leg: rerun with the renamed source — those docs must
      // screen at the POOLED cut, everything else unchanged
      val mem2 = MemoryStream[(Long, String, String)]
      val ckpt2 = java.nio.file.Files
        .createTempDirectory("graft-srcstream2").toString
      val got2 = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
      val q2 = StreamingOps.classifyStreamPerSource(
        mem2.toDF.toDF("doc_id", "text", "source"), weights,
        TextAnalysisOps.TrainedBuckets, ckpt2, bestSrc, bestGlobal) {
        scored => got2 ++= scored.collect().map(r =>
          (r.getLong(0), r.getBoolean(4)))
      }
      try {
        mem2.addData(docs.map { case (id, t, src) =>
          (id, t, if (src == someSrc) "unseen_source" else src)
        }.toIndexedSeq)
        q2.processAllAvailable()
      } finally q2.stop()
      val expect2 = s.collect().map { r =>
        val (id, score, src0) = (r.getLong(0), r.getLong(3), r.getString(4))
        val cut = if (src0 == someSrc) g else srcCuts.getOrElse(src0, g)
        id -> (score >= cut)
      }.filter(_._2).map(_._1).toSet
      assert(got2.filter(_._2).map(_._1).toSet == expect2,
        "unseen source did not fall back to the pooled cut")
    } finally graft.CacheScope.releaseAll()
  }

  test("q180 streaming exact dedup: the registered stateful execution " +
      "emits exactly the batch distinct content-key set") {
    val viaStream = graft.queries.DedupQueries
      .q180StreamExactDedup(spark, dir).collect().map(_.getLong(0)).toSeq
    val batch = graft.Tables.documents(spark, dir)
      .select(graft.ops.HashOps.contentKey(col("text")).as("ck"))
      .distinct().orderBy("ck").collect().map(_.getLong(0)).toSeq
    assert(viaStream.nonEmpty && viaStream == batch)
    // fresh-ingest identity on re-run (scratch wiped per invocation)
    assert(graft.queries.DedupQueries.q180StreamExactDedup(spark, dir)
      .collect().map(_.getLong(0)).toSeq == batch)
  }

  test("exactDedupViaStream survives an id span past the default 1-hour " +
      "watermark (the r13 review regression: late keys dropped, dups re-emitted)") {
    import sqlImplicits._
    // 5000 ids -> a 5000 s event-time span; the chunk split interleaves
    // the whole range across files, so under a FIXED 1-hour delay the
    // keys of late rows vanish and cross-chunk duplicates double-emit
    // (reproduced: 150 ids / 3 chunks / 30 s watermark lost 39 of 149
    // keys). The span-scaled watermark must emit exactly one survivor
    // per distinct key.
    val tmp = java.nio.file.Files.createTempDirectory("graft-q180-span")
    (0L until 5000L).map(i => (i, s"text ${i % 97}"))
      .toDF("doc_id", "text")
      .write.parquet(s"$tmp/documents.parquet")
    val out = StreamingOps.exactDedupViaStream(spark,
      s"$tmp/documents.parquet", chunks = 4,
      scratchName = "stream_dedup/span-test")
      .collect().map(_.getLong(0)).toSeq
    assert(out.size == 97 && out.distinct.size == 97,
      s"expected 97 unique survivors, got ${out.size} rows / " +
        s"${out.distinct.size} distinct")
  }

  test("a stream restart keeps the caller's shuffle-partition conf while " +
      "its state operators run on the pinned state-partition count") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import scala.jdk.CollectionConverters._
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    assert(before != "8", "the test needs a session dial unlike the state count")
    val tmp = java.nio.file.Files.createTempDirectory("graft-state-dial")
    (0L until 200L).map(i => (i, s"text ${i % 37}")).toDF("doc_id", "text")
      .write.parquet(s"$tmp/documents.parquet")
    val scratchName = "stream_dedup/state-dial-test"
    val confSeen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stateSeen =
      new java.util.concurrent.ConcurrentLinkedQueue[(java.util.UUID, Int)]()
    val ended = new java.util.concurrent.atomic.AtomicInteger()
    val ours = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Unit]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.sink.description.contains(scratchName)) {
          ours.put(e.progress.runId, ())
          confSeen.add(spark.conf.get(key))
          e.progress.stateOperators.foreach(op =>
            stateSeen.add(e.progress.runId -> op.numShufflePartitions.toInt))
        }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (ours.containsKey(e.runId)) ended.incrementAndGet()
    }
    spark.streams.addListener(listener)
    try {
      val out = StreamingOps.exactDedupViaStreamRestart(spark,
        s"$tmp/documents.parquet", chunks = 4, stopAfterFiles = 2,
        scratchName = scratchName).collect().map(_.getLong(0)).toSeq
      assert(out.distinct.size == 37 && out.size == 37)
      // both starts' progress events precede their termination events on
      // the listener bus
      eventually(timeout(30.seconds), interval(100.millis)) {
        assert(ended.get() == 2)
      }
      val confs = confSeen.asScala.toSeq
      assert(confs.nonEmpty && confs.forall(_ == before),
        s"caller's $key read while the stream ran: $confs")
      val states = stateSeen.asScala.toSeq
      assert(states.map(_._1).distinct.size == 2,
        s"state operator progress from both starts expected: $states")
      assert(states.forall(_._2 == 8),
        s"state operators off the pinned count: $states")
      assert(spark.conf.get(key) == before)
    } finally spark.streams.removeListener(listener)
  }

  test("q99 heavy-hitter stream: replayed corpus candidates cover every " +
      "exact heavy hitter (mergeable-summaries guarantee across batches)") {
    import graft.ops.TextOps
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
    // stage the corpus as NChunks doc files; tokenization happens INSIDE
    // the stream, as a production ingest would
    val work = java.nio.file.Files.createTempDirectory("graft-hh-work")
    val streamDir = java.nio.file.Files.createTempDirectory("graft-hh-in")
    val chunked = docs
      .withColumn("chunk", ntile(NChunks).over(Window.orderBy("doc_id")))
    (0 until NChunks).foreach { i =>
      val part = work.resolve(s"c$i")
      chunked.where(col("chunk") === i + 1).drop("chunk")
        .coalesce(1).write.parquet(part.toString)
      stage(part, streamDir, i)
    }
    val capacity = 256
    val den = 200L // guarantee needs den <= capacity + 1
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
      .select(explode(TextOps.tokenize(coalesce(col("text"), lit(""))))
        .as("tok"))
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft-hh-ckpt").toString
    val summaryPath = java.nio.file.Files
      .createTempDirectory("graft-hh-sums").toString
    @volatile var last: Seq[String] = Nil
    var updates = 0
    val q = StreamingOps.heavyHitterStream(
      stream, capacity, summaryPath, checkpoint) {
      cands => last = cands; updates += 1
    }
    try q.processAllAvailable() finally q.stop()
    // replay/restart safety: the standing summary is DERIVED from the
    // per-batch summary store, so the stored tree must carry one
    // partition per processed batch — a replayed batch overwrites its own
    // partition (dynamic overwrite) instead of double-merging
    val storedBatches = spark.read.parquet(summaryPath)
      .select("mg_batch").distinct().count()
    assert(storedBatches == NChunks,
      s"expected $NChunks stored batch summaries, got $storedBatches")
    // compaction: folding the committed prefix into one partition must be
    // BIT-IDENTICAL (the standing derivation is a left fold in batch
    // order, and fold(fold(0..k), k+1..) == fold(0..n)) while the store
    // shrinks to (compacted partition + later batches)
    val before = StreamingOps.mergedHeavyHitterCandidates(
      spark, summaryPath, capacity)
    assert(before == last, "store-derived candidates must equal the last snapshot")
    StreamingOps.compactHeavyHitterSummaries(
      spark, summaryPath, capacity, NChunks - 2L)
    val partsAfter = spark.read.parquet(summaryPath)
      .select("mg_batch").distinct().count()
    assert(partsAfter == 2, s"expected compacted + tail partitions, got $partsAfter")
    val after = StreamingOps.mergedHeavyHitterCandidates(
      spark, summaryPath, capacity)
    assert(after == before, "compaction must not change the candidate set")
    // exact heavy hitters of the full corpus, batch-side
    val terms = docs.select(
      explode(TextOps.tokenize(coalesce(col("text"), lit("")))).as("tok"))
    val n = terms.count()
    val exact = terms.groupBy("tok").count()
      .where(col("count") * den > n)
      .select("tok").collect().map(_.getString(0)).toSet
    assert(updates >= NChunks, s"expected >= $NChunks snapshots, got $updates")
    assert(last.size <= capacity)
    assert(exact.nonEmpty, "degenerate fixture: no heavy hitters at den=200")
    assert(exact.subsetOf(last.toSet),
      s"stream lost true heavy hitters: ${exact -- last.toSet}")
  }

  test("q79f ivf ingest stream: chunked embedding replay into the stored " +
      "cell layout equals the batch delta assignment, exactly once") {
    import graft.ops.SimilarityOps
    // the q79f carving on embeddings: vec_id % 10 == 9 is the ingest
    // delta; the base trains the index whose centroids stay FROZEN
    val all = graft.Tables.embeddings(spark, dir)
    val isDelta = graft.queries.SimilarityQueries.isIngestDelta(col("vec_id"))
    val base = SimilarityOps.buildIvfIndex(all.where(!isDelta), nCells = 8)
    val want = SimilarityOps.assignToCells(all.where(isDelta), base.centroids)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // stage the delta as 4 vec_id-ordered parquet chunks (ingest batches)
    val work = java.nio.file.Files.createTempDirectory("graft-ivf-work")
    val streamDir = java.nio.file.Files.createTempDirectory("graft-ivf-in")
    val chunked = all.where(isDelta)
      .withColumn("chunk", ntile(NChunks).over(Window.orderBy("vec_id")))
    (0 until NChunks).foreach { i =>
      val part = work.resolve(s"c$i")
      chunked.where(col("chunk") === i + 1).drop("chunk")
        .coalesce(1).write.parquet(part.toString)
      stage(part, streamDir, i)
    }
    val outPath = java.nio.file.Files
      .createTempDirectory("graft-ivf-out").toString + "/index"
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft-ivf-ckpt").toString
    val stream = spark.readStream
      .schema(all.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
    val q = StreamingOps.ivfIngestStream(stream, base.centroids,
      outPath, checkpoint)
    try q.processAllAvailable() finally q.stop()
    val stored = spark.read.parquet(outPath)
    val got = stored.select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // exactly-once: every delta vector present once, in its batch cell
    assert(got == want && got.nonEmpty)
    // the layout keeps cell as a partition directory beneath ingest_batch
    assert(stored.columns.contains("ingest_batch"))
    val batches = stored.select("ingest_batch").distinct().count()
    assert(batches == NChunks, s"expected $NChunks ingest batches, got $batches")
    // q79g over the INGEST TREE: the drift statistic read from the
    // streamed store equals the batch-side statistic over the same delta
    // — the rebuild-decision signal works off the operational layout, not
    // just in-memory frames
    def driftRows(deltaAssigned: org.apache.spark.sql.DataFrame) =
      SimilarityOps.ivfDriftStatsAssigned(
        base.assigned, deltaAssigned, base.centroids)
        .orderBy("cell").collect().map(_.toString).toSeq
    val fromTree = driftRows(stored.select(
      col("vec_id"), col("emb"), col("cell").cast("long").as("cell")))
    val fromBatch = driftRows(
      SimilarityOps.assignToCells(all.where(isDelta), base.centroids))
    assert(fromTree == fromBatch && fromTree.nonEmpty)
    // a dedicated-tree guard: pointing the ingest sink at a cell-only
    // stored layout must be refused before any write
    val cellOnly = java.nio.file.Files
      .createTempDirectory("graft-ivf-cellonly").toString
    SimilarityOps.assignToCells(all.where(isDelta), base.centroids)
      .write.partitionBy("cell").mode("overwrite").parquet(cellOnly)
    val ex = intercept[IllegalArgumentException] {
      StreamingOps.ivfIngestStream(stream, base.centroids, cellOnly,
        java.nio.file.Files.createTempDirectory("graft-ivf-ckpt2").toString)
    }
    assert(ex.getMessage.contains("dedicated ingest tree"))
  }

  test("dynamic-gap sessions resume NUMBERING after a mid-stream " +
      "event-time timeout (the tombstone contract)") {
    import sqlImplicits._
    // user 1: a session at t0, then silence while user 2's steady events
    // push the watermark (1h) far past t0+gap — the timeout flushes user
    // 1's session mid-stream — then user 1 returns. The batch operator
    // numbers user 1's sessions 1 and 2; a state machine that dropped
    // its state at timeout would emit two seq-1 sessions.
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(minutes: Long) = new java.sql.Timestamp(base + minutes * 60000L)
    val chunk1 = Seq(
      (1L, ts(0), 1.0), (1L, ts(1), 1.0), // user 1 session 1
      (2L, ts(0), 1.0))
    val chunk2 = (10 to 200 by 10).map(m => (2L, ts(m.toLong), 1.0)) // watermark pusher
    val chunk3 = Seq((1L, ts(210), 1.0), (2L, ts(400), 1.0)) // user 1 returns; flush tail
    val work = java.nio.file.Files.createTempDirectory("graft-dyn-resume-w")
    val streamDir = java.nio.file.Files.createTempDirectory("graft-dyn-resume")
    Seq(chunk1, chunk2, chunk3).zipWithIndex.foreach { case (rows, i) =>
      val part = work.resolve(s"c$i")
      rows.toDF("user_id", "ts", "value").coalesce(1).write.parquet(part.toString)
      stage(part, streamDir, i)
    }
    val src = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
      .as[StreamingOps.UserEvent]
    val gap = 5L * 60L * 1000000L // 5 minutes, both users
    val got = runAppend(
      StreamingOps.dynamicGapSessionStream(src, _ => gap).toDF,
      "dyn_resume")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val u1 = got.filter(_._1 == 1L)
    assert(u1.map(_._2).toSeq == Seq(1L, 2L),
      s"user 1 sessions must number 1, 2 across the timeout; got $u1")
    assert(u1.map(_._3).toSeq == Seq(2L, 1L)) // event counts per session
  }

  test("leak screen: streamed embedding ingest emits exactly the batch evidence") {
    import graft.queries.SimilarityQueries.{LeakBands, LeakBits, NearDupMinMicro}
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val evalSet = emb.where(col("vec_id") % 20 === 0)
    val incoming = emb.where(col("vec_id") % 20 =!= 0)
    val batch = graft.ops.SimilarityOps.leakEvidence(
      incoming, evalSet, LeakBits, LeakBands, NearDupMinMicro)
      .collect().map(_.toString).sorted.toSeq
    assert(batch.nonEmpty, "the fixture yields screen evidence")
    // replay the ingest as 3 parquet micro-batches — stateless screen,
    // so no event-time ordering or flush sentinel is needed
    val streamDir = java.nio.file.Files.createTempDirectory("graft-leak")
    val work = java.nio.file.Files.createTempDirectory("graft-leak-work")
    (0 until 3).foreach { i =>
      val part = work.resolve(s"c$i")
      incoming.where(pmod(col("vec_id"), lit(3)) === i)
        .coalesce(1).write.parquet(part.toString)
      stage(part, streamDir, i)
    }
    val src = spark.readStream.schema(emb.schema).parquet(streamDir.toString)
    val got = runAppend(
      StreamingOps.leakScreenStream(src, evalSet,
        LeakBits, LeakBands, NearDupMinMicro),
      "leak_screen")
      .map(_.toString).sorted.toSeq
    assert(got == batch,
      s"streamed evidence diverged: got ${got.size} rows, want ${batch.size}")
  }

  test("q189 streaming restart: the registered two-start execution emits " +
      "exactly the batch distinct content-key set") {
    val viaStream = graft.queries.DedupQueries
      .q189StreamRestartDedup(spark, dir).collect().toSeq
    import sqlImplicits._
    val batch = graft.Tables.documents(spark, dir)
      .select(graft.ops.HashOps.contentKey(col("text")).as("content_key"))
      .distinct().orderBy("content_key").collect().toSeq
    assert(viaStream.nonEmpty, "restart dedup came back empty")
    assert(viaStream == batch)
  }

  test("q189 crash shape: a sink-committed batch whose offset commit was " +
      "lost in the kill replays on restart without double-emitting") {
    import java.nio.file.{Files => NF}
    import java.nio.file.attribute.FileTime
    import sqlImplicits._
    val base = NF.createTempDirectory("graft-restart-crash")
    val input = NF.createDirectories(base.resolve("input"))
    val hold = NF.createDirectories(base.resolve("hold"))
    // 4 single-file chunks; duplicate content is planted INSIDE the
    // replayed batch (charlie x2 in chunk 1), ACROSS the crash boundary
    // (alpha/bravo/charlie recur after the restart), and pre-crash
    // (alpha in chunks 0 and 1) — so the assertion exercises sink
    // idempotence AND state-store recovery at once.
    val chunkRows = Seq(
      Seq(0L -> "alpha", 1L -> "bravo"),
      Seq(2L -> "alpha", 3L -> "charlie", 4L -> "charlie"),
      Seq(5L -> "bravo", 6L -> "delta"),
      Seq(7L -> "charlie", 8L -> "echo"))
    chunkRows.zipWithIndex.foreach { case (rows, i) =>
      val work = NF.createTempDirectory(s"graft-crash-c$i")
      rows.toDF("doc_id", "text").coalesce(1).write
        .parquet(work.resolve("p").toString)
      val src = NF.list(work.resolve("p")).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dst = (if (i < 2) input else hold).resolve(f"chunk-$i%03d.parquet")
      NF.move(src, dst)
      NF.setLastModifiedTime(dst, FileTime.fromMillis(1000000L + i * 60000L))
    }
    val schema = spark.read.parquet(input.toString).schema
    def run(): Unit = {
      val docs = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(input.toString)
        .withColumn("ts", (lit(1700000000L) + col("doc_id")).cast("timestamp"))
      val q = StreamingOps.exactDedupStream(docs, watermark = "1 hour")
        .select(col("content_key"))
        .writeStream
        .option("checkpointLocation", base.resolve("cp").toString)
        .outputMode("append").format("parquet")
        .option("path", base.resolve("sink").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    // precondition: the FILE SINK committed batch 1 (its metadata entry
    // exists) …
    assert(NF.exists(base.resolve("sink").resolve("_spark_metadata")
      .resolve("1")), "sink never committed batch 1 — harness assumption broke")
    // … but the OFFSET commit for batch 1 is lost in the kill, so the
    // restart MUST re-execute that batch from its logged offsets
    val lostCommit = base.resolve("cp").resolve("commits").resolve("1")
    assert(NF.exists(lostCommit), "no offset commit to lose")
    NF.delete(lostCommit)
    NF.list(hold).iterator().asScala.foreach { p =>
      NF.move(p, input.resolve(p.getFileName))
    }
    run()
    val perKey = spark.read.parquet(base.resolve("sink").toString)
      .groupBy("content_key").count().collect()
    val dup = perKey.filter(_.getLong(1) > 1L)
    assert(dup.isEmpty,
      s"file sink double-emitted ${dup.length} key(s) on replay: " +
        dup.take(3).mkString(", "))
    val want = chunkRows.flatten.map(_._2).distinct.toDF("text")
      .select(graft.ops.HashOps.contentKey(col("text")))
      .collect().map(_.getLong(0)).toSet
    assert(perKey.map(_.getLong(0)).toSet == want,
      "restart lost or invented keys vs the batch distinct set")
  }
}
