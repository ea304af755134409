package graft.streaming

import graft.ops.EventOps
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery}

import java.sql.Timestamp

/** Structured Streaming surface (SURVEY.md §2.7 extension — the reference
  * is strictly batch). The batch aggregation bodies in EventOps run
  * unchanged under streaming; this module adds what only exists in a
  * stream: watermarks (bounded state), streaming dedup, and custom
  * per-key state via flatMapGroupsWithState.
  *
  * Scale: watermarks bound state size so windowed aggregations run
  * indefinitely; state is partitioned by grouping key across executors.
  * Sources/sinks are the caller's choice (`readStream` kafka/files/rate);
  * tests drive these with MemoryStream.
  */
object StreamingOps {

  /** Tumbling-window counts over a streaming events frame; late data beyond
    * the watermark is dropped (state for closed windows is freed).
    */
  def tumblingCounts(events: DataFrame, width: String = "10 minutes",
                     watermark: String = "1 hour"): DataFrame =
    EventOps.tumbling(events.withWatermark("ts", watermark), width)

  /** Per-window top-k events by value under watermark — the custom typed
    * Aggregator (§2.8) composed with watermarked streaming aggregation
    * (§2.7): partial heaps merge across micro-batches in the window's
    * state, append mode emits each window's final k once the watermark
    * closes it. Same body as the batch twin ([[EventOps.windowTopK]]).
    */
  def windowTopKStream(events: DataFrame, width: String = "10 minutes",
                       k: Int = 3, watermark: String = "1 hour"): DataFrame =
    EventOps.windowTopK(events.withWatermark("ts", watermark), width, k)

  /** Sliding-window counts under watermark: each event lands in
    * width/slide overlapping windows, and append mode emits each window
    * independently once the watermark passes ITS end — so emission
    * interleaves across overlapping windows rather than following event
    * order, which is why sliding gets its own batch-parity test.
    */
  def slidingCounts(events: DataFrame, width: String = "10 minutes",
                    slide: String = "5 minutes",
                    watermark: String = "1 hour"): DataFrame =
    EventOps.sliding(events.withWatermark("ts", watermark), width, slide)

  /** Per-user session aggregation under watermark — session_window state
    * closes once the watermark passes a session's end.
    */
  def sessionCounts(events: DataFrame, gap: String = "5 minutes",
                    watermark: String = "1 hour"): DataFrame =
    EventOps.sessions(events.withWatermark("ts", watermark), gap)

  /** Standing per-type rollup maintained incrementally — the streaming
    * face of q98's merge algebra. Spark's stateful aggregation performs
    * exactly the merge q98 spells out batch-side (counts and sums add,
    * mins and maxes combine) between the standing state and each
    * micro-batch's partial aggregate; complete mode re-emits the whole
    * rollup. No watermark: state is one row per event type, bounded by
    * the type vocabulary, so it never needs expiry. Sums ride
    * DECIMAL(12,2) (the q32 parity pattern) so cross-batch merge order
    * cannot perturb the total; the double cast happens once at emit.
    */
  def rollupByType(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).as("s"),
        min(col("ts")).as("mn"), max(col("ts")).as("mx"))
      .select(col("event_type"), col("n_events"),
        col("s").cast("double").as("sum_value"),
        date_format(col("mn"), "yyyy-MM-dd HH:mm:ss").as("first_ts"),
        date_format(col("mx"), "yyyy-MM-dd HH:mm:ss").as("last_ts"))

  /** Streaming exact dedup on a key: keeps the first arrival, drops
    * re-deliveries within the watermark horizon even when the re-delivery
    * carries a different timestamp (the streaming analogue of
    * DedupOps.exactDuplicates). dropDuplicatesWithinWatermark keys state
    * on the dedup columns ALONE — a plain dropDuplicates(keys :+ "ts")
    * would pass differently-stamped re-deliveries through — and expires
    * each key's state once the watermark passes its event time, so state
    * stays bounded on an infinite stream.
    */
  def dedupByKey(events: DataFrame, keyCols: Seq[String],
                 watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming twin of the hash-keyed exact-dedup tier
    * (DedupOps.exactDuplicates, r12 re-keying): the first arrival per
    * 62-bit content key survives; re-ingested byte-identical documents
    * within the watermark horizon drop. The state store holds the 8-byte
    * key ONLY — never document text — the same argument that moved the
    * batch tier's shuffle key off the raw corpus, applied to streaming
    * state (text-keyed dedup state at ingest rate IS the corpus, again).
    * Collision stance as in HashOps.contentKey. Expects a `ts` event-time
    * column and a `text` column; parity with the batch tier is unit-gated
    * (survivor keys == the batch canonical groups' keys).
    */
  def exactDedupStream(docs: DataFrame,
                       watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_key",
        graft.ops.HashOps.contentKey(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("content_key"))

  /** Running per-user event counter with custom state — the
    * KeyValueGroupedDataset.flatMapGroupsWithState pattern for semantics
    * windows can't express (emit an update row per micro-batch with the
    * lifetime count). NoTimeout keeps state for the stream's lifetime;
    * production deployments bound it with EventTimeTimeout + watermark
    * (a processing-time timeout forces perpetual empty micro-batches just
    * to re-evaluate timers).
    */
  case class UserEvent(user_id: Long, ts: Timestamp, value: Double)
  case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  def runningUserTotals(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          rows.foreach { e => n += 1; tot += e.value }
          val next = UserRunning(uid, n, tot)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** One closed session row of [[dynamicGapSessionStream]] — the q117
    * batch output shape.
    */
  case class SessionRow(user_id: Long, session_seq: Long, n_events: Long,
                        session_start: Timestamp, session_end: Timestamp,
                        duration_sec: Long)

  case class SessionState(seq: Long, n: Long,
                          start: Long, last: Long) // epoch micros

  /** Streaming twin of q117's per-user DYNAMIC-GAP sessionization — the
    * custom state machine `session_window` cannot express: each user's
    * open session lives in GroupState; an event beyond the user's OWN
    * inactivity gap closes it (emitting the finished session row, exactly
    * the batch operator's shape incl. the session sequence number) and
    * opens the next. An event-time timeout at `last + gap` past the
    * watermark flushes a user's final session, so the stream emits
    * EVERY session the batch twin computes without waiting for that
    * user's next event — parity is gated by file replay in
    * StreamingParitySpec.
    *
    * Contract: events must arrive per-user in event-time order within
    * the watermark (the replay harness guarantees it; out-of-order
    * within-gap events would need a buffered variant — same state shape,
    * sorted flush). `gapMicrosOf` derives the per-user gap
    * deterministically, mirroring the batch query's expression.
    */
  def dynamicGapSessionStream(events: Dataset[UserEvent],
                              gapMicrosOf: Long => Long): Dataset[SessionRow] = {
    import events.sparkSession.implicits._
    def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    def fromMicros(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000000L * 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }
    def row(uid: Long, s: SessionState): SessionRow =
      SessionRow(uid, s.seq, s.n,
        fromMicros(s.start), fromMicros(s.last),
        (s.last - s.start) / 1000000L)
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[SessionState]) =>
          val gap = gapMicrosOf(uid)
          if (state.hasTimedOut) {
            // watermark passed last + gap: the open session is final.
            // Do NOT remove the state — a later event for this user
            // (legal: only last+gap is behind the watermark, not the
            // user's future) must continue the session NUMBERING where
            // the batch operator would. A removed state would restart at
            // seq 1 and emit duplicate (user, seq) keys. The n=0
            // tombstone carries the next seq and sets no timeout, so it
            // costs one row per seen user — the same order of state any
            // per-key streaming aggregation holds.
            val done = state.get
            state.update(SessionState(done.seq + 1L, 0L, 0L, 0L))
            Iterator.single(row(uid, done))
          } else {
            val closed = scala.collection.mutable.ListBuffer.empty[SessionRow]
            var cur = state.getOption.orNull
            rows.toSeq.sortBy(e => micros(e.ts)).foreach { e =>
              val t = micros(e.ts)
              cur match {
                case null =>
                  cur = SessionState(1L, 1L, t, t)
                case s if s.n == 0L => // tombstone: resume numbering
                  cur = SessionState(s.seq, 1L, t, t)
                case s if t - s.last > gap =>
                  closed += row(uid, s)
                  cur = SessionState(s.seq + 1L, 1L, t, t)
                case s =>
                  cur = s.copy(n = s.n + 1L, last = math.max(s.last, t))
              }
            }
            state.update(cur)
            // timeout strictly after last + gap; clamp above the current
            // watermark (setTimeoutTimestamp rejects timestamps behind it)
            if (cur.n > 0L)
              state.setTimeoutTimestamp(
                math.max(cur.last / 1000L + gap / 1000L + 1L,
                  state.getCurrentWatermarkMs() + 1L))
            closed.iterator
          }
      }
  }

  /** Stream-static enrichment join: each micro-batch joins against the
    * (slowly-changing) static dimension — the standard pattern for
    * attaching user/content metadata to an event stream. The static side
    * is re-planned per batch, so broadcast selection applies normally; no
    * watermark is needed because no stream-stream state accumulates.
    */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(dim, Seq(key), "left")

  /** Stream-static INTERVAL enrichment: tag each streaming event with the
    * static time windows containing it (maintenance windows, campaign
    * flights, incident spans) — there is no equi key, so the naive join
    * is a per-batch nested loop. `JoinOps.rangeJoinBucketed` applies to a
    * streaming probe side UNCHANGED: the bucket projection is narrow and
    * stateless, the bucket equi-join is an ordinary supported
    * stream-static inner join, and the containment filter is row-local —
    * the batch operator IS the streaming operator, no watermark or state
    * needed.
    */
  def enrichByInterval(events: DataFrame, intervals: DataFrame,
                       tsCol: String, startCol: String, endCol: String,
                       widthSeconds: Long): DataFrame =
    graft.ops.JoinOps.rangeJoinBucketed(
      events, intervals, tsCol, startCol, endCol, widthSeconds)

  /** Stream-stream inner join with bounded state: correlate two event
    * streams on a key within a time bound (e.g. click joined to the
    * impression that preceded it by strictly less than `maxDelay`). BOTH
    * sides are watermarked and the join carries an event-time range
    * condition — the two requirements Structured Streaming needs to know
    * when a buffered left row can never match again, so state is dropped
    * instead of growing with the stream. Columns on the right are suffixed
    * to avoid ambiguity.
    *
    * The bound is HALF-OPEN (`[ts, ts + maxDelay)`), matching the batch
    * twin `JoinOps.rangeJoinBucketed` — StreamingParitySpec replays the
    * events fixture through both and asserts the same relation.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   maxDelay: String = "10 minutes",
                   watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
    val r0 = right.withWatermark("ts", watermark)
    val r = r0.columns.foldLeft(r0) { (df, c) =>
      if (c == key) df else df.withColumnRenamed(c, s"${c}_r")
    }
    l.join(r,
      l(key) === r(key) &&
        col("ts_r") >= col("ts") &&
        col("ts_r") < col("ts") + expr(s"INTERVAL $maxDelay"))
      .drop(r(key))
  }

  /** LEFT OUTER form of [[intervalJoin]] — the funnel-with-dropoff shape
    * (every impression, with its conversion if one arrived in time, NULLs
    * otherwise). Same dual-watermark + time-range state contract; the
    * extra wrinkle outer adds is EMISSION TIMING: a left row's null match
    * can only be emitted once the watermark proves no right row can still
    * arrive in its window, so unmatched rows surface with watermark
    * delay — the documented trade of streaming outer joins, and why the
    * parity unit replays with a future flush event.
    */
  def intervalJoinOuter(left: DataFrame, right: DataFrame, key: String,
                        maxDelay: String = "10 minutes",
                        watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
    val r0 = right.withWatermark("ts", watermark)
    val r = r0.columns.foldLeft(r0) { (df, c) =>
      if (c == key) df else df.withColumnRenamed(c, s"${c}_r")
    }
    l.join(r,
      l(key) === r(key) &&
        col("ts_r") >= col("ts") &&
        col("ts_r") < col("ts") + expr(s"INTERVAL $maxDelay"),
      "left_outer")
      .drop(r(key))
  }

  /** Idempotent micro-batch sink: write each batch's windowed rows to
    * parquet partitioned by a key column under DYNAMIC partition
    * overwrite, so replaying a batch (failure/retry — Structured
    * Streaming's at-least-once foreachBatch contract) REWRITES the same
    * partitions instead of appending duplicates. This is the
    * exactly-once-per-partition recipe when no transactional table format
    * is available; with one (Delta/Iceberg) the body becomes a MERGE.
    * Returns the StreamingQuery; caller manages lifecycle.
    */
  def idempotentPartitionedSink(stream: DataFrame, path: String,
                                partitionCol: String,
                                checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        writeDynamicOverwrite(batch, path, Seq(partitionCol))
      }
      .start()

  /** Parquet write under DYNAMIC partition overwrite — the shared
    * exactly-once-per-partition primitive of the foreachBatch sinks and
    * the heavy-hitter compaction. The mode rides on the writer option,
    * which takes precedence over `spark.sql.sources.partitionOverwriteMode`,
    * so no session-wide conf changes under a concurrent query.
    */
  private def writeDynamicOverwrite(df: DataFrame, path: String,
                                    partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).parquet(path)

  /** Streaming twin of the q79f incremental ANN-index maintenance: each
    * micro-batch of newly-ingested embeddings is assigned against the
    * index's FROZEN centroids (SimilarityOps.assignToCells — broadcast
    * argmin, no retrain) and written to `path` as an INGEST TREE.
    * Partitioning is (ingest_batch, cell) under dynamic overwrite: a
    * replayed batch (foreachBatch's at-least-once contract) rewrites
    * exactly its own `ingest_batch=<id>` partitions, so reading the tree
    * is exactly-once; `cell` stays a partition column beneath it, so a
    * probe's cell filter still prunes directories across every ingest
    * batch. Centroid drift is the same out-of-scope rebuild decision
    * documented on SimilarityOps.ivfAppend.
    *
    * `path` must be a DEDICATED ingest tree, NOT the q79e cell-only
    * stored-index root: the two layouts differ in partition depth, and
    * mixing them under one parquet root breaks partition discovery for
    * every reader of either. Guarded at stream start — a `path` already
    * holding non-`ingest_batch=` partition directories is refused before
    * any write can corrupt it. (Probes union the base index with this
    * tree as two separate reads.)
    */
  def ivfIngestStream(delta: DataFrame, centroids: DataFrame, path: String,
                      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(
      delta.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(hPath)) {
      val foreign = fs.listStatus(hPath).filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(n => !n.startsWith("ingest_batch=") &&
          !n.startsWith("_") && !n.startsWith("."))
      require(foreign.isEmpty,
        s"ivfIngestStream path $path is not a dedicated ingest tree " +
          s"(found ${foreign.take(3).mkString(", ")}): writing " +
          "(ingest_batch, cell) partitions next to another layout would " +
          "mix partition depths in one parquet root and break partition " +
          "discovery for all readers")
    }
    delta.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeDynamicOverwrite(
          graft.ops.SimilarityOps.assignToCells(batch, centroids)
            .withColumn("ingest_batch", lit(batchId)),
          path, Seq("ingest_batch", "cell"))
      }
      .start()
  }

  /** Streaming twin of the q111 bucket-pruned MERGE: each micro-batch of
    * upserts (rows keyed by `doc_id`) merges into the stored
    * bucket-partitioned tree via
    * [[graft.sources.DocumentSources.mergeUpsertBuckets]] inside
    * foreachBatch — the continuous corpus-refresh shape (CDC apply
    * without a table format). Exactly-once EFFECT without batch-id
    * bookkeeping because the merge is IDEMPOTENT: latest-wins is
    * anti-join ∪ upserts, so replaying a batch (foreachBatch's
    * at-least-once contract) converges to the byte-identical tree state
    * rather than duplicating rows — a different route to the same
    * guarantee the `mg_batch`/`ingest_batch` partition-overwrite sinks
    * take, available here because MERGE, unlike append, is a
    * fixed-point. Deletes ride along as upserts with a caller-chosen
    * tombstone convention; a delete STREAM would need the id channel
    * threaded through the batch schema — kept out of this twin.
    */
  def mergeUpsertStream(upserts: DataFrame, path: String, nBuckets: Int,
                        checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    upserts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.DocumentSources.mergeUpsertBuckets(
          batch.sparkSession, path, batch,
          // no delete channel in the stream twin — an empty keys frame
          batch.select(col("doc_id")).limit(0),
          nBuckets)
        ()
      }
      .start()

  /** [[mergeUpsertStream]] with post-merge auto-compaction (Delta Lake's
    * `autoCompact` shape, public semantics): every merged bucket is
    * rewritten through a shuffle, so each micro-batch can leave up to
    * shuffle-partition-count fragment files per bucket dir — continuous
    * ingest fragments the tree even though each merge is clean. After
    * each batch's merge, dirs whose data-file count exceeds
    * `maxFilesPerDir` are compacted via
    * [[graft.sources.DocumentSources.compactFiles]] (bin-packed, crash
    * safe). The threshold check is a LISTING-only probe, so quiet batches
    * pay one directory scan and nothing else; compaction is idempotent
    * and the merge is a fixed-point, so foreachBatch's at-least-once
    * replay still converges to byte-identical tree content.
    */
  def mergeUpsertStreamCompacting(upserts: DataFrame, path: String,
                                  nBuckets: Int, checkpoint: String,
                                  maxFilesPerDir: Int,
                                  targetBytes: Long = 128L * 1024 * 1024)
  : org.apache.spark.sql.streaming.StreamingQuery =
    upserts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        graft.sources.DocumentSources.mergeUpsertBuckets(
          spark, path, batch, batch.select(col("doc_id")).limit(0), nBuckets)
        val root = new org.apache.hadoop.fs.Path(path)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val fragmented = fs.exists(root) && fs.listStatus(root).exists(st =>
          st.isDirectory && st.getPath.getName.contains("=") &&
            fs.listStatus(st.getPath).count(f => f.isFile &&
              !f.getPath.getName.startsWith("_") &&
              !f.getPath.getName.startsWith(".")) > maxFilesPerDir)
        if (fragmented)
          graft.sources.DocumentSources.compactFiles(spark, path, targetBytes)
        ()
      }
      .start()

  /** Streaming twin of the q155 quality-drift monitor: an incoming
    * document stream scored through the q21 battery per micro-batch,
    * aggregated to per-source (docs, passed, pass_permille) — complete
    * mode keeps the running totals, so the sink always holds each
    * source's lifetime pass rate and a reader diffs consecutive emissions
    * for drift. The battery is the SAME column expressions as the batch
    * path (narrow, codegen'd), so streaming parity is structural, not
    * re-implemented; the permille is the q155 integer form. Documents
    * need no watermark: the aggregate is keyed by source (bounded
    * cardinality), not by event time.
    */
  /** q173b's streaming twin: screen a continuous embedding INGEST against
    * the fixed eval set, emitting leak-evidence rows as data arrives —
    * decontamination at the door instead of a post-hoc audit. Delegates
    * to [[graft.ops.SimilarityOps.leakEvidence]], which is stateless by
    * design (narrow band explode with the embedding riding along, small
    * static broadcast eval side, row-local cosine confirm): the batch
    * operator IS the streaming operator — no watermark, no state, append
    * mode (the enrichByInterval precedent). File-replay parity in
    * StreamingParitySpec.
    */
  def leakScreenStream(incoming: DataFrame, evalVecs: DataFrame, bits: Int,
                       bands: Int, minMicro: Long): DataFrame =
    graft.ops.SimilarityOps.leakEvidence(
      incoming, evalVecs, bits, bands, minMicro)

  def qualityRateStream(docs: DataFrame): DataFrame = {
    val battery = graft.ops.TextAnalysisOps
    val toked = docs.select(col("source"), col("text"),
      graft.ops.TextOps.tokenize(col("text")).as("toks"))
    toked.select((Seq(col("source")) ++
      battery.qualityColumns(col("text"), col("toks"))): _*)
      .withColumn("p", battery.qualityPass)
      .groupBy("source")
      .agg(count(lit(1)).as("docs"),
        sum(when(col("p"), 1L).otherwise(0L)).as("passed"))
      .select(col("source"), col("docs"), col("passed"),
        expr("(1000 * passed) div docs").as("pass_permille"))
  }

  /** Streaming twin of the q143 deletion-vector soft delete: a takedown /
    * right-to-erasure key stream lands each micro-batch as DV rows via
    * [[graft.sources.DocumentSources.softDelete]], with an optional
    * density-gated compaction sweep after each batch — so deletes become
    * VISIBLE at micro-batch latency (the anti-join read path sees the new
    * DV immediately) while data files are rewritten only when a bucket's
    * delete density crosses `compactPermille`. foreachBatch replay safety:
    * softDelete's DV merge is a set union (re-applying a batch is a
    * no-op) and applyDeletionVectors is idempotent once a bucket is
    * rewritten (its DV rows are gone, density drops to whatever later
    * batches add), so at-least-once delivery converges. Pass
    * `compactPermille = None` for pure soft-delete streaming.
    */
  def softDeleteStream(deleteKeys: DataFrame, basePath: String,
                       dvPath: String, checkpoint: String,
                       compactPermille: Option[Long] = None)
  : org.apache.spark.sql.streaming.StreamingQuery =
    deleteKeys.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        graft.sources.DocumentSources.softDelete(
          spark, basePath, dvPath, batch)
        compactPermille.foreach(p =>
          graft.sources.DocumentSources.applyDeletionVectors(
            spark, basePath, dvPath, p))
        ()
      }
      .start()

  /** Streaming twin of the q80 incremental ingest dedup: each micro-batch
    * of newly-ingested documents is MinHash-signed and band-joined against
    * the STORED signature index inside `foreachBatch` — the production
    * shape for continuous ingest. foreachBatch (not a plain stream-static
    * join) because the per-doc roll-up (candidate count, best match) is an
    * aggregation the append-mode planner would demand a watermark for,
    * while the semantics need none: each doc's verdict depends only on its
    * OWN batch row and the static index, so micro-batch boundaries cannot
    * change the answer — the batch operator applied per batch IS the
    * streaming operator, and the parity harness asserts exactly that.
    * The caller persists `indexSigs` ONCE (it is reused every batch;
    * incrementalDupCheck leaves persisted inputs alone) and receives each
    * batch's verdicts through `collect` — in production a MERGE into the
    * results/index table, in tests a memory sink. Per-batch operator
    * persists are released after `collect` returns, so state never
    * accumulates across batches.
    */
  def incrementalDedupStream(newDocs: DataFrame, indexSigs: DataFrame,
                             shingleN: Int, rowsPerBand: Int,
                             minEstMicro: Long, checkpoint: String)
                            (collect: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // scoped, NOT releaseAll: micro-batches run on stream threads, so
        // a global drain here could unpersist a concurrent foreground
        // query's in-flight intermediates (see CacheScope.scoped)
        graft.CacheScope.scoped {
          val toked = batch.select(col("doc_id"),
            graft.ops.TextOps.tokenize(col("text")).as("toks"))
          val sigs = graft.ops.DedupOps.minhashSignatures(
            graft.ops.DedupOps.shingles(toked, shingleN))
          collect(graft.ops.DedupOps.incrementalDupCheck(
            sigs, indexSigs, rowsPerBand, minEstMicro))
        }
      }
      .start()

  /** Streaming heavy-hitter candidates — the q99 sketch run continuously.
    * Each micro-batch folds its `tok` column into ONE capacity-bounded
    * Misra-Gries summary WITH counters (a single distributed aggregate,
    * <= capacity counters shipped per map task), persists that finished
    * summary keyed by batch id, and derives the standing summary by
    * merging ALL stored batch summaries under the mergeable-summaries
    * rule — so after any prefix of batches the candidate set covers
    * exactly the concatenated stream so far, and every term with count >
    * n/(capacity+1) is guaranteed present. `onUpdate` receives the
    * candidate snapshot after each batch; counts stay engine-internal
    * because they are lower bounds — an exact answer still needs q99's
    * verify pass over the accumulated corpus.
    *
    * Replay/restart safety (why state is STORED, not held in a driver
    * map): foreachBatch is at-least-once, and a restart resumes from
    * committed offsets with a fresh process. An in-memory running merge
    * fails both ways — a replayed batch merges twice (merge is not
    * idempotent) and a restart silently forgets the prefix. Writing each
    * batch's summary under dynamic partition overwrite keyed by
    * `mg_batch` (the [[idempotentPartitionedSink]] recipe) makes replay
    * REWRITE the same partition, and rebuilding the merge from the store
    * makes restart resume exactly. The store holds <= capacity rows per
    * batch (a few KB); the per-batch re-merge is O(batches × capacity)
    * driver work over that scalar-bound store — at a cadence where that
    * ever mattered, the summaries would themselves be periodically
    * compacted into a checkpoint summary row, same rule.
    */
  def heavyHitterStream(terms: DataFrame, capacity: Int, summaryPath: String,
                        checkpoint: String)
                       (onUpdate: Seq[String] => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    heavyHitterStreamWith(terms, capacity, summaryPath, checkpoint,
      Some(onUpdate))

  /** Store-only variant: maintains the per-batch summary store with NO
    * per-trigger standing-candidate derivation — a consumer that only
    * reads the store after the fact (q179's verify pass) would otherwise
    * pay a full store read + driver merge per trigger just to discard
    * it (r13 review: 5 merges per execution where 1 is used).
    */
  def heavyHitterStreamStore(terms: DataFrame, capacity: Int,
                             summaryPath: String,
                             checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    heavyHitterStreamWith(terms, capacity, summaryPath, checkpoint, None)

  private def heavyHitterStreamWith(terms: DataFrame, capacity: Int,
                                    summaryPath: String, checkpoint: String,
                                    onUpdate: Option[Seq[String] => Unit]): org.apache.spark.sql.streaming.StreamingQuery = {
    val agg = new graft.functions.MisraGries.SketchCounters(capacity)
    terms.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val batchSummary = batch.select(col("tok")).as[String]
          .select(agg.toColumn.name("m"))
          .head()
        writeDynamicOverwrite(
          spark.createDataset(batchSummary.toSeq).toDF("tok", "cnt")
            .withColumn("mg_batch", lit(batchId)),
          summaryPath, Seq("mg_batch"))
        onUpdate.foreach(f =>
          f(mergedHeavyHitterCandidates(spark, summaryPath, capacity)))
      }
      .start()
  }

  /** Left-fold the stored per-batch MG summaries in batch order into the
    * standing candidate set — the derivation [[heavyHitterStream]] runs
    * after every batch and any consumer can run against the store alone
    * (restart recovery, offline audit). Collect is <= batches × capacity
    * counters; batch order makes the fold deterministic given the store.
    */
  def mergedHeavyHitterCandidates(spark: SparkSession, summaryPath: String,
                                  capacity: Int): Seq[String] = {
    // an all-empty-batches (or just-created) store holds no partitions at
    // all — that IS the empty summary, not a read error
    val root = new org.apache.hadoop.fs.Path(summaryPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root) || !fs.listStatus(root).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("mg_batch=")))
      return Nil
    val agg = new graft.functions.MisraGries.SketchCounters(capacity)
    val state = scala.collection.mutable.HashMap.empty[String, Long]
    spark.read.parquet(summaryPath)
      .select(col("mg_batch").cast("long"), col("tok"), col("cnt"))
      .collect()
      .groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .foreach { case (_, rows) =>
        agg.mergeBuf(state, scala.collection.mutable.HashMap.from(
          rows.map(r => r.getString(1) -> r.getLong(2))))
      }
    state.keys.toSeq.sorted
  }

  /** Compact the [[heavyHitterStream]] summary store: left-fold every
    * batch summary with `mg_batch <= upToBatch` into ONE summary, write
    * it as the `mg_batch=upToBatch` partition (dynamic overwrite), and
    * delete the earlier partitions. Because the standing derivation is a
    * left fold in batch order, fold(fold(0..k), k+1, …) IS
    * fold(0, 1, …, n) — the candidate set after compaction is
    * bit-identical, not merely guarantee-preserving, and the store stops
    * growing with stream lifetime.
    *
    * Safety precondition: `upToBatch` must be strictly below the
    * stream's latest committed batch. foreachBatch can only replay the
    * batch whose offsets are not yet committed; batches at or below the
    * committed horizon can never re-run, so their partitions are safe to
    * fold away. Compacting the in-flight batch would let its replay
    * resurrect a partition whose counts are already inside the compacted
    * summary (double count).
    */
  def compactHeavyHitterSummaries(spark: SparkSession, summaryPath: String,
                                  capacity: Int, upToBatch: Long): Unit = {
    import spark.implicits._
    val agg = new graft.functions.MisraGries.SketchCounters(capacity)
    val state = scala.collection.mutable.HashMap.empty[String, Long]
    spark.read.parquet(summaryPath)
      .select(col("mg_batch").cast("long"), col("tok"), col("cnt"))
      .where(col("mg_batch") <= upToBatch)
      .collect()
      .groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .foreach { case (_, rows) =>
        agg.mergeBuf(state, scala.collection.mutable.HashMap.from(
          rows.map(r => r.getString(1) -> r.getLong(2))))
      }
    if (state.nonEmpty)
      writeDynamicOverwrite(
        spark.createDataset(state.toSeq).toDF("tok", "cnt")
          .withColumn("mg_batch", lit(upToBatch)),
        summaryPath, Seq("mg_batch"))
    // an EMPTY merged summary writes no partition under dynamic
    // overwrite, so the upToBatch partition must be swept too — an empty
    // summary is legitimately represented by no partitions at all
    val keepFrom = if (state.nonEmpty) upToBatch else upToBatch + 1
    val root = new org.apache.hadoop.fs.Path(summaryPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).filter(_.isDirectory).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("mg_batch=") &&
          name.stripPrefix("mg_batch=").toLong < keepFrom)
        fs.delete(st.getPath, true)
    }
  }

  /** Streaming twin of the q158 index-drift monitor: each micro-batch of
    * ingest vectors is bucketed by the SAME multi-table sign-LSH layout
    * the index uses ([[graft.ops.SimilarityOps.lshOccupancy]]) and its
    * ≤ tables·2^bits-row occupancy histogram lands in a summary store
    * under dynamic partition overwrite keyed by `lsh_batch`
    * ([[amsF2Stream]]'s replay/restart discipline — replay rewrites the
    * same partition, restart re-derives from the store). Occupancy is
    * LINEAR (plain counts), so the merged store is a grouped sum and the
    * standing decision after any batch prefix is EXACTLY the batch-mode
    * q158 decision over the concatenated delta — bit-identical, not
    * merely guarantee-preserving (DriftDqSpec's parity gate). After each
    * batch `onUpdate` receives the standing rebuild/keep decision — the
    * index-maintenance trigger watching ingest as it happens instead of
    * at the next nightly batch.
    */
  def lshDriftStream(delta: DataFrame, baseOcc: DataFrame,
                     summaryPath: String, checkpoint: String,
                     bits: Int, tables: Int,
                     ratioThresholdMicro: Long, driftedPermille: Long,
                     hardCapMicro: Long)
                    (onUpdate: org.apache.spark.sql.Row => Unit)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    // materialize the base histogram ONCE at stream start: it is
    // immutable and at most tables·2^bits rows, but as a live plan
    // subtree it would re-scan and re-hash the whole base corpus inside
    // EVERY micro-batch's decision fold
    val baseRows = baseOcc.withColumnRenamed("n", "n_base")
      .select(col("tbl").cast("long"), col("bucket").cast("long"),
        col("n_base").cast("long")).collect().toSeq
    val baseSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("tbl",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_base",
        org.apache.spark.sql.types.LongType)))
    delta.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        writeDynamicOverwrite(
          graft.ops.SimilarityOps.lshOccupancy(batch, bits, tables, "n")
            .withColumn("lsh_batch", lit(batchId)),
          summaryPath, Seq("lsh_batch"))
        val baseLocal = spark.createDataFrame(
          spark.sparkContext.parallelize(baseRows, 1), baseSchema)
        onUpdate(graft.ops.SimilarityOps.rebuildDecision(
          graft.ops.SimilarityOps.lshOccupancyDriftFromCounts(
            baseLocal,
            mergedLshOccupancy(spark, summaryPath)
              .withColumnRenamed("n", "n_delta")),
          "lsh", ratioThresholdMicro, driftedPermille, hardCapMicro)
          .head())
      }
      .start()
  }

  /** Standing occupancy histogram from the [[lshDriftStream]] summary
    * store — a grouped SUM across batch partitions; an absent or
    * partition-less store is the empty delta. Any consumer can run the
    * drift + decision fold against the store alone: see
    * [[graft.ops.SimilarityOps.lshOccupancyDriftFromCounts]] /
    * [[graft.ops.SimilarityOps.rebuildDecision]].
    */
  def mergedLshOccupancy(spark: SparkSession,
                         summaryPath: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(summaryPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root) || !fs.listStatus(root).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("lsh_batch=")))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("tbl",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("bucket",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType))))
    spark.read.parquet(summaryPath)
      .groupBy("tbl", "bucket")
      .agg(sum(col("n")).as("n"))
  }

  /** Streaming AMS F2 — the q17e self-join-size sketch maintained
    * continuously over a keyed stream (`keys`' FIRST column is the key).
    * LINEARITY is the whole design: each counter z(rep, b) is a plain
    * SUM of ±1 row contributions ([[graft.ops.AmsSketch]]), so per-batch
    * counter relations merge by addition — no fold order, no compaction
    * algebra, and the standing estimate after any batch prefix is
    * EXACTLY the batch-mode sketch of the concatenated stream
    * (AmsSpec's identity gate), not merely guarantee-preserving like the
    * MG candidate set. Replay/restart discipline is
    * [[heavyHitterStream]]'s: each batch's ≤ Reps×Buckets counter rows
    * are stored under dynamic partition overwrite keyed by `ams_batch`
    * (replay rewrites, restart re-derives from the store); the store
    * grows one tiny partition per batch and, because merge is addition,
    * any committed prefix can be compacted by a plain grouped sum.
    *
    * Why a streaming F2 at all: F2 of the key column is the key-keyed
    * self-join size — watching it stream-side is the earliest signal
    * that a hot key is forming (the q56/q90 salting decision) before any
    * batch job runs.
    */
  def amsF2Stream(keys: DataFrame, summaryPath: String, checkpoint: String)
                 (onUpdate: Long => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    keys.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val counters = graft.ops.AmsSketch.rowCounters(batch, batch.columns.head)
        writeDynamicOverwrite(
          counters.withColumn("ams_batch", lit(batchId)),
          summaryPath, Seq("ams_batch"))
        onUpdate(mergedAmsF2(batch.sparkSession, summaryPath))
      }
      .start()

  /** Standing F2 estimate from the [[amsF2Stream]] counter store — a
    * grouped SUM across batch partitions then the shared median-of-reps
    * estimator; any consumer can run it against the store alone. An
    * absent or partition-less store is the empty stream (estimate 0).
    */
  def mergedAmsF2(spark: SparkSession, summaryPath: String): Long = {
    val root = new org.apache.hadoop.fs.Path(summaryPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root) || !fs.listStatus(root).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("ams_batch=")))
      return 0L
    graft.ops.AmsSketch.estimate(
      spark.read.parquet(summaryPath).select("rep", "b", "z"))
  }

  /** Streaming deployment of a TRAINED quality classifier — the last
    * step of the q177/q178 lifecycle (train → score → evaluate → gate):
    * each micro-batch of arriving documents is scored through the SAME
    * batch operator ([[graft.ops.TextAnalysisOps.qualityClassify]])
    * under the broadcast trained weight relation. Scoring is per-doc
    * with no cross-batch state, so foreachBatch batch-semantics is the
    * exact streaming form (the incrementalDedupStream pattern) — parity
    * with the batch scorer over the concatenated batches is unit-gated.
    * At-least-once delivery re-scores a replayed batch identically
    * (pure function of the batch), so any idempotent sink is safe.
    *
    * `threshold` deploys the CALIBRATED operating point (q186's 1-row
    * `(threshold)` relation — [[graft.ops.TextAnalysisOps.nbBestThreshold]])
    * instead of the raw `score >= 0` cut: each batch's `quality_label`
    * is recomputed at the broadcast calibrated cut, so the streaming
    * gate keeps exactly the set q188's batch report publishes — the two
    * gates read the same threshold relation and can never disagree
    * (parity unit-gated against the q188 keep set). `None` keeps the
    * uncalibrated `score >= 0` label — [[graft.ops.TextAnalysisOps
    * .qualityClassify]]'s default semantics.
    */
  def classifyStream(docs: DataFrame, weights: DataFrame, buckets: Long,
                     checkpoint: String,
                     threshold: Option[DataFrame] = None)
                    (collect: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // scoped, NOT releaseAll — the incrementalDedupStream rule
        graft.CacheScope.scoped {
          val scored = graft.ops.TextAnalysisOps.qualityClassify(
            batch, weights, buckets = buckets)
          collect(threshold.fold(scored)(t =>
            scored.crossJoin(broadcast(t.select(col("threshold")))) // 1 row
              .withColumn("quality_label", col("score") >= col("threshold"))
              .drop("threshold")))
        }
      }
      .start()

  /** SOURCE-CONDITIONAL deployment of the calibrated gate — the
    * streaming arrow of q190: arriving docs carry a `source` column,
    * each batch is scored once ([[graft.ops.TextAnalysisOps
    * .qualityClassify]]) and labeled at its SOURCE's calibrated cut
    * (`sourceThresholds`, q190's per-source sweep — a ≤|sources|-row
    * broadcast), falling back to the pooled cut (`globalThreshold`,
    * q186's 1-row relation) for a source the sweep had no train mass
    * for — the production rule when a brand-new source appears
    * mid-stream. Both threshold relations are read once and broadcast,
    * so the stream and the q190 batch report apply literally the same
    * operating points (parity unit-gated). Per-doc work only; the same
    * foreachBatch-is-exact argument as [[classifyStream]].
    */
  def classifyStreamPerSource(docs: DataFrame, weights: DataFrame,
                              buckets: Long, checkpoint: String,
                              sourceThresholds: DataFrame,
                              globalThreshold: DataFrame)
                             (collect: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.CacheScope.scoped {
          val scored = graft.ops.TextAnalysisOps.qualityClassify(
            batch.select(col("doc_id"), col("text")), weights,
            buckets = buckets)
            .join(batch.select(col("doc_id"), col("source")), "doc_id")
          collect(scored
            .join(broadcast(sourceThresholds.select(col("source"),
              col("threshold").as("src_threshold"))), Seq("source"), "left")
            .crossJoin(broadcast(globalThreshold // 1 row
              .select(col("threshold").as("global_threshold"))))
            .withColumn("quality_label", col("score") >=
              coalesce(col("src_threshold"), col("global_threshold")))
            .select("doc_id", "source", "score", "n_features",
              "quality_label"))
        }
      }
      .start()

  /** PID-scoped scratch base for the streaming ingest harnesses: two
    * JVMs running the same driver-oracled streaming query concurrently
    * (the test-beside-bench scenario StoredRelations hardens against
    * with per-PID tmp + rename) must not race on one wiped
    * input/summary/checkpoint tree — the dir is wiped at the START of
    * every staging call, so a cross-process collision can hand a running
    * stream a half-staged corpus. Per-PID bases make the wipe private to
    * this JVM; stale bases from dead PIDs live under the ephemeral tmp
    * root and are re-wiped whenever that PID number recurs.
    */
  private def pidScopedBase(scratchName: String): String =
    graft.Scratch.dir(
      s"$scratchName-pid${ProcessHandle.current().pid()}")

  private val mustFs = graft.sources.StoreSwap.mustFs("streaming staging") _

  /** Shared staging scaffold of the driver-oracled streaming ingests
    * (q179/q180/q181/q185): wipe the PID-scoped base, write `chunked`
    * (which must carry an int `chunk` column in [0, chunkCount)) as ONE
    * partitioned pass — repartition on the chunk key puts each value in
    * exactly one task, so each chunk dir holds exactly one part file
    * (the r13 review fix: an earlier per-chunk filter loop scanned the
    * source `chunkCount` times) — then flatten the part files into
    * `<base>/input` under deterministic names (partitionBy drops the
    * chunk column, keeping the schema). `mtimeOf`, when set, stamps
    * strictly increasing mtimes so FileStreamSource lists the files in
    * chunk order — the ordered-replay contract. A chunk with no rows
    * writes no dir and is skipped.
    */
  private def stageChunkedInput(spark: SparkSession, chunked: DataFrame,
                                chunkCount: Int, scratchName: String,
                                mtimeOf: Option[(Int, Int) => Long] = None)
      : Staged = {
    val base = pidScopedBase(scratchName)
    val conf = spark.sparkContext.hadoopConfiguration
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    if (fs.exists(basePath)) mustFs(fs.delete(basePath, true), s"wipe $base")
    val inputDir = s"$base/input"
    mustFs(fs.mkdirs(new org.apache.hadoop.fs.Path(inputDir)),
      s"mkdirs $inputDir")
    val stage = s"$base/stage"
    chunked
      .repartition(chunkCount, col("chunk"))
      .write.partitionBy("chunk").mode("overwrite").parquet(stage)
    (0 until chunkCount).foreach { k =>
      val chunkDir = new org.apache.hadoop.fs.Path(s"$stage/chunk=$k")
      if (fs.exists(chunkDir))
        fs.listStatus(chunkDir).map(_.getPath)
          .filter(_.getName.startsWith("part-")).sortBy(_.getName)
          .zipWithIndex.foreach { case (p, j) =>
            val dst = new org.apache.hadoop.fs.Path(
              f"$inputDir/chunk-$k%03d-$j.parquet")
            mustFs(fs.rename(p, dst), s"stage chunk $k file $j")
            mtimeOf.foreach(f => fs.setTimes(dst, f(k, j), -1))
          }
    }
    mustFs(fs.delete(new org.apache.hadoop.fs.Path(stage), true),
      s"drop staging $stage")
    Staged(base, inputDir, chunked.drop("chunk").schema)
  }

  /** A staged replay input: the PID-scoped scratch base, its `input` dir
    * of chunk files, and their schema. The schema comes from the staged
    * frame, so no reader of `inputDir` pays a schema-inference job.
    */
  private final case class Staged(base: String, inputDir: String,
                                  schema: org.apache.spark.sql.types.StructType)

  /** Wipe the PID-scoped scratch for `scratchName` and stage `docsPath`'s
    * `(doc_id, text)` rows into `chunks` single-file parquet chunks
    * under `<base>/input` by the deterministic `doc_id mod chunks`
    * split — the shared fresh-ingest staging of the oracle-verified
    * streaming queries (q179/q180).
    */
  private def stageDocChunks(spark: SparkSession, docsPath: String,
                             chunks: Int,
                             scratchName: String): Staged = {
    require(chunks > 0, "stageDocChunks needs at least one chunk")
    stageChunkedInput(spark,
      spark.read.parquet(docsPath)
        .select(col("doc_id"), col("text"),
          pmod(col("doc_id"), lit(chunks)).cast("int").as("chunk")),
      chunks, scratchName)
  }

  /** The q99 exact heavy hitters computed THROUGH the streaming path —
    * the registry's first oracle-verified streaming entry (every earlier
    * streaming twin was unit-gated only; this one runs a real
    * [[heavyHitterStream]] execution inside the correctness gate).
    *
    * Body: the documents fixture is staged into `chunks` files by a
    * deterministic doc_id mod split, replayed as a file stream one file
    * per trigger through [[heavyHitterStream]] (per-batch MG summaries
    * into the durable store), then the standing candidate set is derived
    * by [[mergedHeavyHitterCandidates]] and q99's exact verify pass
    * counts ONLY the broadcast candidates over the staged corpus. The
    * OUTPUT is exact and chunk-order-INDEPENDENT — the MG mergeable-
    * summaries guarantee makes the candidates a superset of the true
    * heavy hitters under any file arrival order (capacity ≥ den - 1,
    * checked by heavyHitters' rule), and the verify pass is plain batch
    * counting — so the batch q99 oracle SQL verifies this streaming
    * execution hash-exactly. Scratch state (input staging, summary
    * store, checkpoint) is wiped per invocation: each run is a complete
    * fresh ingest, which is the point of registering it.
    *
    * Scale shape: staging is one pass over the corpus; the stream ships
    * ≤ capacity counters per batch; the verify joins the term stream to
    * ≤ capacity broadcast candidates — q99's exact shape, just fed by
    * the streaming store.
    */
  def heavyHittersViaStream(spark: SparkSession, docsPath: String,
                            chunks: Int, capacity: Int, den: Long,
                            scratchName: String): DataFrame = {
    val staged = stageDocChunks(spark, docsPath, chunks, scratchName)
    import staged.{base, inputDir}
    val streamTerms = spark.readStream.schema(staged.schema)
      .option("maxFilesPerTrigger", 1).parquet(inputDir)
      .select(explode(graft.ops.TextOps.tokenize(
        coalesce(col("text"), lit("")))).as("tok"))
    val q = heavyHitterStreamStore(streamTerms, capacity,
      s"$base/summaries", s"$base/checkpoint")
    try q.processAllAvailable() finally q.stop()
    val cands = mergedHeavyHitterCandidates(spark, s"$base/summaries", capacity)
    import spark.implicits._
    val batchTerms = spark.read.schema(staged.schema).parquet(inputDir)
      .select(explode(graft.ops.TextOps.tokenize(
        coalesce(col("text"), lit("")))).as("tok"))
    val candDf = broadcast(cands.toDF("tok"))
    // r15 opt (guide §2.3/§1.2): the grand total used to be a SECOND
    // reference to batchTerms — Catalyst shares no subtrees, so the
    // staged corpus was scanned and re-tokenized twice (once for the
    // candidate counts, once just to count tokens). One vocab-sized
    // aggregate now feeds both: per-token counts join the broadcast
    // candidates (identical counts — join key = group key and the MG
    // candidate set is distinct), and the total is their sum (every
    // token instance lands in exactly one group). Vocab is
    // Heaps-sublinear in corpus size, so the persisted relation is
    // strictly cheaper than the second corpus pass at any scale.
    val tokCounts = graft.CacheScope.persist(
      batchTerms.groupBy(col("tok")).agg(count(lit(1)).as("cnt")))
    val total = broadcast(tokCounts.agg(sum(col("cnt")).as("n")))
    tokCounts.join(candDf, "tok")
      .crossJoin(total)
      .where(col("cnt") > expr(s"n div $den"))
      .select(col("tok").as("token"), col("cnt"))
      .orderBy(desc("cnt"), asc("token"))
  }

  /** The exact-dedup stream over the documents fixture: q180 from one
    * start, q189 from two ([[replayToSink]]). It covers the stateful
    * `dropDuplicatesWithinWatermark` operator, where q179 covers
    * foreachBatch aggregation. The documents are staged by the
    * `doc_id mod chunks` split, and event time is synthesized from doc_id,
    * one second apart.
    *
    * Watermark sizing: the id-mod split interleaves the whole id range
    * across files, so every later chunk carries events older than the
    * first chunk's max. Under a fixed 1-hour delay any corpus over 3600
    * docs would advance the watermark past them, silently DROPPING late
    * keys and re-emitting cross-chunk duplicates (found at sf0.1,
    * reproduced: 150 ids / 3 chunks / 30 s watermark lost 39 keys and
    * double-emitted 1). The delay is therefore max(doc_id) of the FULL
    * staged corpus plus slack, read before any file is held back, so a
    * restart's first start cannot expire keys its second start replays.
    * It is the dial a production backfill sets from its ingest window.
    *
    * Oracle: the emitted relation is the surviving CONTENT-KEY SET. Which
    * doc_id survives per group depends on arrival order inside a
    * micro-batch, but one survivor per distinct 62-bit content key is
    * independent of arrival order, chunking and restarts, so the batch
    * `SELECT DISTINCT contentKey(text)` oracle verifies both executions
    * hash-exactly.
    */
  private def exactDedupReplay(spark: SparkSession, docsPath: String,
                               chunks: Int, stopAfterFiles: Option[Int],
                               scratchName: String): DataFrame = {
    val staged = stageDocChunks(spark, docsPath, chunks, scratchName)
    // the declared schema spares this read a schema-inference job
    val spanSeconds = spark.read.schema("doc_id LONG").parquet(staged.inputDir)
      .agg(max(col("doc_id"))).head() match {
      case r if r.isNullAt(0) => 0L // empty corpus: any horizon works
      case r => r.getLong(0)
    }
    replayToSink(spark, staged, "survivors", stopAfterFiles) { src =>
      exactDedupStream(
        src().withColumn("ts",
          (lit(1700000000L) + col("doc_id")).cast("timestamp")),
        watermark = s"${spanSeconds + 60} seconds")
        .select(col("content_key"))
    }.orderBy("content_key")
  }

  /** q180: [[exactDedupReplay]] from one start. */
  def exactDedupViaStream(spark: SparkSession, docsPath: String,
                          chunks: Int, scratchName: String): DataFrame =
    exactDedupReplay(spark, docsPath, chunks, None, scratchName)

  /** q189: [[exactDedupReplay]] from two starts over one checkpoint. */
  def exactDedupViaStreamRestart(spark: SparkSession, docsPath: String,
                                 chunks: Int, stopAfterFiles: Int,
                                 scratchName: String): DataFrame =
    exactDedupReplay(spark, docsPath, chunks, Some(stopAfterFiles),
      scratchName)

  /** Flush-event sentinel user id for the ordered event staging — outside
    * any realistic id domain (asserted absent at staging).
    */
  val flushUserId: Long = Long.MinValue

  /** Stage the events fixture as `chunks` TIME-ORDERED single-file
    * parquet chunks plus one far-future flush event, with strictly
    * increasing file mtimes so FileStreamSource replays them in
    * event-time order — the staging the STATEFUL streaming executions
    * need (q181): unlike q179/q180's id-mod interleave (which replays
    * the full time span in every file and therefore sizes its own
    * watermark to the span), a custom-state session machine requires
    * per-key event-time order within the watermark, and a time-ordered
    * replay provides it under the production 1-hour delay. The flush
    * event (2 h past the last real event, user_id = [[flushUserId]],
    * asserted absent from the fixture) pushes the final
    * watermark past every real session's `last + gap` so the
    * EventTimeTimeout flushes them all — the role a quiescent production
    * stream's next real event plays.
    *
    * Chunking is by event-time VALUE RANGE (equal-width slices of
    * [min ts, max ts] — one 2-scalar aggregate plus a narrow
    * projection), not an ntile rank: the ordered-replay contract needs
    * chunk k's events to all precede chunk k+1's, which a range split
    * gives by construction with NO global sort — the same shape a
    * 100 TB backfill uses when it stages per-day files. Chunk sizes may
    * be uneven (skewed event-time density); the session machine doesn't
    * care.
    *
    * `cutsUs`, when set, replaces the equal-width value-range rule with
    * EXPLICIT chunk boundaries (sorted microsecond instants): chunk k
    * holds the events in [cut(k-1), cut(k)). q192 uses this to place one
    * boundary INSIDE a known view→click match window, so its restart cut
    * provably leaves a row in the join buffer — equal-width boundaries
    * never split a match on the fixtures (30-day span, ≤600 s windows).
    */
  private def stageEventChunksOrdered(spark: SparkSession, dir: String,
                                      chunks: Int,
                                      scratchName: String,
                                      cutsUs: Option[Seq[Long]] = None)
      : Staged = {
    require(chunks > 0, "stageEventChunksOrdered needs at least one chunk")
    val ev = graft.Tables.events(spark, dir)
    // ONE aggregate pass computes the span AND the sentinel-absence
    // check (r15 opt, guide §1.2/§2.3: the check used to be its own
    // `where(...).count()` — a second full scan of events per staged
    // streaming query, pure waste since both are scan-collapsing
    // aggregates over the same rows).
    val (minUs, maxUs, sentinelRows) = ev
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
        count(when(col("user_id") === flushUserId, 1)))
      .head() match {
      // empty fixture: one empty chunk
      case r if r.isNullAt(0) => (0L, 0L, 0L)
      case r => (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val flushTs = new Timestamp(maxUs / 1000L + 2L * 3600L * 1000L)
    val widthUs = (maxUs - minUs) / chunks + 1L
    // The flush sentinel must sit OUTSIDE the fixture's user-id domain:
    // the read-back filters it out, so a real user carrying the sentinel
    // id would have their sessions silently dropped and their stream
    // polluted by the flush event — a latent hash-parity break vs the
    // batch oracle (r14 ADVICE). Long.MinValue is unreachable by any
    // realistic id scheme, and the staging still ASSERTS absence so a
    // pathological fixture fails loudly instead of corrupting parity.
    require(sentinelRows == 0L,
      s"events fixture carries $sentinelRows row(s) with the flush " +
        s"sentinel user_id=$flushUserId; ordered staging cannot " +
        "distinguish them from the flush event")
    // value-range chunks 0..nChunks-1 (equal-width, or the caller's
    // explicit cuts), plus the flush row as its own final chunk — one
    // unioned partitioned write through the shared scaffold
    val nChunks = cutsUs.map(_.size + 1).getOrElse(chunks)
    val chunkExpr = cutsUs match {
      case None =>
        ((unix_micros(col("ts")) - minUs) / widthUs).cast("int")
      case Some(cuts) =>
        cuts.sorted.foldLeft(lit(0)) { (acc, cut) =>
          acc + when(unix_micros(col("ts")) >= cut, 1).otherwise(0)
        }.cast("int")
    }
    val chunked = ev.withColumn("chunk", chunkExpr)
      .unionByName(ev.limit(1).select(
        lit(-1L).as("event_id"), lit(flushTs).as("ts"),
        lit(flushUserId).as("user_id"), lit("flush").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"),
        lit(nChunks).cast("int").as("chunk")))
    stageChunkedInput(spark, chunked, nChunks + 1, scratchName,
      mtimeOf = Some((k, j) => 1000000000L + k * 60000L + j))
  }

  /** The dynamic-gap SESSION stream over the events fixture: q181 from
    * one start, q191 from two ([[replayToSink]]). It covers custom
    * per-key state (flatMapGroupsWithState + EventTimeTimeout, the
    * [[dynamicGapSessionStream]] machine), where q180 covers the built-in
    * dedup operator; its restart recovers USER-AUTHORED state, the
    * per-key event buffers parked in the store with sessions still OPEN
    * at the stop. The events are staged in event-time order with a
    * far-future flush event ([[stageEventChunksOrdered]]) whose final
    * watermark closes every real session. The flush event's own open
    * session never emits (the final watermark sits 1 h behind it); its
    * user is filtered defensively anyway.
    *
    * Oracle: closed sessions are a pure function of each user's
    * event-time-ordered events, independent of how the replay is chunked
    * or where it is cut, so q117's batch lag/cumsum SQL verifies both
    * executions hash-exactly, sequence numbers included. A session lost
    * from the recovered state, double-emitted by the sink or split at the
    * stop breaks the hash.
    */
  private def dynamicSessionsReplay(spark: SparkSession, dir: String,
                                    chunks: Int, stopAfterFiles: Option[Int],
                                    gapMicrosOf: Long => Long,
                                    scratchName: String): DataFrame = {
    val staged = stageEventChunksOrdered(spark, dir, chunks, scratchName)
    import spark.implicits._
    replayToSink(spark, staged, "sessions", stopAfterFiles) { src =>
      dynamicGapSessionStream(
        src().select(col("user_id"), col("ts"), col("value")).as[UserEvent],
        gapMicrosOf).toDF
    }.where(col("user_id") =!= flushUserId)
      .orderBy("user_id", "session_seq")
  }

  /** q181: [[dynamicSessionsReplay]] from one start. */
  def dynamicSessionsViaStream(spark: SparkSession, dir: String,
                               chunks: Int, gapMicrosOf: Long => Long,
                               scratchName: String): DataFrame =
    dynamicSessionsReplay(spark, dir, chunks, None, gapMicrosOf, scratchName)

  /** q191: [[dynamicSessionsReplay]] from two starts over one checkpoint. */
  def dynamicSessionsViaStreamRestart(spark: SparkSession, dir: String,
                                      chunks: Int, stopAfterFiles: Int,
                                      gapMicrosOf: Long => Long,
                                      scratchName: String): DataFrame =
    dynamicSessionsReplay(spark, dir, chunks, Some(stopAfterFiles),
      gapMicrosOf, scratchName)

  /** The stream-stream INTERVAL JOIN over the events fixture: q185 from
    * one start, q192 from two ([[replayToSink]]). It covers the
    * dual-watermark join state machine in q77's click-attribution shape:
    * both sides read the same staged time-ordered replay (two file-stream
    * sources over one dir), views open a `windowSeconds` half-open
    * window, clicks match within it, equi-keyed by user ([[intervalJoin]]
    * unchanged). Its restart recovers the third state kind, the
    * dual-side JOIN BUFFERS: unmatched views awaiting clicks and the
    * reverse, one watermark per side.
    *
    * Oracle: an inner stream-stream join emits each match as soon as both
    * rows are buffered, so the match SET is independent of chunking,
    * triggers and restarts, and q77's batch SQL verifies both executions
    * hash-exactly (the flush event joins nothing: its event_type is
    * neither side's filter). A buffer row lost at recovery drops its
    * matches; a replayed sink batch double-emits.
    *
    * Buffer witness (restart only): the fixtures' matches are rare and
    * tight (≤ windowSeconds inside a 30-day span), so an equal-width cut
    * never splits one, and the output could not witness the recovered
    * buffers. A bounded probe (1 collected row, the earliest matched
    * pair) places the one cut at midpoint(view, click), and the replay
    * stops after the first file: the view sits before the stop, its click
    * after, and the match appears ONLY if the recovered buffer still holds
    * the view. The final `require` turns that into a hard in-body fact.
    * A fixture with no match keeps the equal-width split and the caller's
    * `stopAfterFiles` (its oracle output is empty; nothing to witness).
    */
  private def clickAttributionReplay(spark: SparkSession, dir: String,
                                     chunks: Int, stopAfterFiles: Option[Int],
                                     windowSeconds: Long,
                                     scratchName: String): DataFrame = {
    // read only on the restart path: the one-start replay stages from `dir`
    lazy val events = graft.Tables.events(spark, dir)
    val cutUs = stopAfterFiles.flatMap { _ =>
      val views = events.where(col("event_type") === "view")
        .select(unix_micros(col("ts")).as("v_us"), col("user_id"))
      val clicks = events.where(col("event_type") === "click")
        .select(unix_micros(col("ts")).as("c_us"), col("user_id"))
      views.join(clicks, "user_id")
        .where(col("c_us") > col("v_us") &&
          col("c_us") <= col("v_us") + windowSeconds * 1000000L)
        .select(col("v_us"), col("c_us"))
        .orderBy("c_us", "v_us").limit(1).collect().headOption
        .map(r => r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 2L)
    }
    val staged = stageEventChunksOrdered(spark, dir, chunks,
      scratchName, cutsUs = cutUs.map(Seq(_)))
    // an explicit cut stages [before-cut, after-cut, flush]
    val stop = if (cutUs.isDefined) Some(1) else stopAfterFiles
    val out = replayToSink(spark, staged, "matches", stop) { src =>
      val views = src().where(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("ts"), col("user_id"))
      val clicks = src().where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts"), col("user_id"))
      intervalJoin(views, clicks, "user_id",
        maxDelay = s"$windowSeconds seconds")
        .select(col("click_id_r").as("click_id"), col("view_id"),
          col("user_id"),
          expr("(unix_micros(ts_r) - unix_micros(ts)) div 1000000L")
            .as("delay_sec"))
    }
    cutUs.foreach { cut =>
      val evUs = events.select(col("event_id"), unix_micros(col("ts")).as("us"))
      val crossCut = out.select(col("click_id"), col("view_id"))
        .join(evUs.toDF("view_id", "v_us"), "view_id")
        .join(evUs.toDF("click_id", "c_us"), "click_id")
        .where(col("v_us") < cut && col("c_us") >= cut).count()
      require(crossCut > 0,
        "no match spans the restart cut — the recovered join buffer " +
          "dropped the pre-stop view (or the cut missed the match window)")
    }
    out.orderBy("click_id", "view_id")
  }

  /** q185: [[clickAttributionReplay]] from one start. */
  def clickAttributionViaStream(spark: SparkSession, dir: String,
                                chunks: Int, windowSeconds: Long,
                                scratchName: String): DataFrame =
    clickAttributionReplay(spark, dir, chunks, None, windowSeconds,
      scratchName)

  /** q192: [[clickAttributionReplay]] from two starts over one checkpoint. */
  def clickAttributionViaStreamRestart(spark: SparkSession, dir: String,
                                       chunks: Int, stopAfterFiles: Int,
                                       windowSeconds: Long,
                                       scratchName: String): DataFrame =
    clickAttributionReplay(spark, dir, chunks, Some(stopAfterFiles),
      windowSeconds, scratchName)

  /** The replay harness of the six file-stream executions (q180, q181,
    * q185 and their checkpoint restarts q189, q191, q192). `plan` maps a
    * source factory (the staged `inputDir` as a file stream, one file per
    * trigger) to the streaming frame to sink. The harness starts that
    * frame as an append-mode parquet sink at `$base/$sink` with its
    * checkpoint at `$base/checkpoint`, runs it until every staged file is
    * processed, stops it and returns the sink's read-back.
    *
    * `stopAfterFiles = Some(n)` certifies checkpoint RECOVERY, which one
    * start structurally cannot: it writes the checkpoint but never
    * resumes it. The staged files after the first `n` are held back in
    * `$base/pending`, the first start ingests the rest and stops (a
    * planned shutdown mid-backfill), the held-back files are released,
    * and a NEW query opens from the SAME checkpoint and file sink and
    * finishes the replay. The second start must resume the same query id
    * (persisted in the checkpoint metadata) under a distinct runId, so
    * the execution provably spans two starts. The crash-shaped variant
    * (a kill after a sink-committed batch whose offset commit never
    * landed, proving the file-sink metadata log never double-emits on
    * replay) is gated in StreamingParitySpec: it needs checkpoint surgery
    * no clean run should perform.
    */
  private def replayToSink(spark: SparkSession, input: Staged, sink: String,
                           stopAfterFiles: Option[Int])
                          (plan: (() => DataFrame) => DataFrame): DataFrame = {
    import org.apache.hadoop.fs.Path
    import input.{base, inputDir}
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pendingDir = new Path(s"$base/pending")
    stopAfterFiles.foreach { stop =>
      // A checkpoint RESUME logs one benign WARN per state snapshot file
      // ("No checksum file found … hence no checksum verification"): the
      // state store's maintenance thread writes .snapshot files without
      // sidecar checksums, so the second start's state load prints a wall
      // of scary-but-harmless lines in every clean run. Scope that ONE
      // logger to ERROR — files that do carry checksums are still
      // verified; only the missing-sidecar chatter is dropped (the q96b
      // log-hygiene rule applied to the restart path).
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "ChecksumCheckpointFileManager",
        org.apache.logging.log4j.Level.ERROR)
      val staged = fs.listStatus(new Path(inputDir)).map(_.getPath)
        .filter(_.getName.startsWith("chunk-")).sortBy(_.getName)
      require(stop > 0 && stop < staged.length,
        s"restart split must leave files on both sides of the stop " +
          s"(got $stop of ${staged.length})")
      mustFs(fs.mkdirs(pendingDir), s"mkdirs $pendingDir")
      staged.drop(stop).foreach { p =>
        mustFs(fs.rename(p, new Path(pendingDir, p.getName)),
          s"hold back ${p.getName}")
      }
    }
    def source(): DataFrame = spark.readStream.schema(input.schema)
      .option("maxFilesPerTrigger", 1).parquet(inputDir)
    // returns the plan's schema too: the sink's files carry it, so the
    // read-back declares it instead of inferring it with a job
    def runOnce(): (StreamingQuery, org.apache.spark.sql.types.StructType) = {
      val out = plan(() => source())
      val writer = out.writeStream
        .option("checkpointLocation", s"$base/checkpoint")
        .outputMode(OutputMode.Append())
        .format("parquet")
        .option("path", s"$base/$sink")
      val q = withStatePartitions(spark)(writer.start())
      try q.processAllAvailable() finally q.stop()
      (q, out.schema)
    }
    val (first, sinkSchema) = runOnce()
    if (stopAfterFiles.isDefined) {
      fs.listStatus(pendingDir).map(_.getPath).foreach { p =>
        mustFs(fs.rename(p, new Path(inputDir, p.getName)),
          s"release ${p.getName}")
      }
      val (second, _) = runOnce()
      require(first.id == second.id,
        s"restart must resume the SAME query identity from the checkpoint " +
          s"(got ${first.id} then ${second.id})")
      require(first.runId != second.runId,
        "the execution must span two distinct stream starts " +
          s"(runId repeated: ${first.runId})")
    }
    spark.read.schema(sinkSchema).parquet(s"$base/$sink")
  }

  /** Shuffle partitions of the replay streams' stateful operators. The
    * count is CHECKPOINT-scoped: the offset log pins it at the first
    * start and every restart reads it back. Each trigger commits one
    * state-store delta per partition, so inheriting the session's batch
    * dial (one partition per core) over-pays: at 32 cores every trigger
    * committed 32 store deltas, 17-25 s of summed commitTimeMs per
    * trigger against ~4 s at this count. Sizing rule: a deployment fixes
    * the count once, at checkpoint birth, to the state's expected key
    * count over one partition's store budget, rounded up to a multiple
    * of the executor slots; the checkpoint cannot change it later. The
    * replayed outputs are partitioning-invariant, so no oracle depends
    * on it.
    */
  private val StatePartitions = 8

  /** Runs `start` (a `DataStreamWriter.start()`) with the session's
    * `spark.sql.shuffle.partitions` at [[StatePartitions]] and restores
    * the caller's value as soon as it returns. That scope is enough: in
    * Spark 4.1 the `StreamExecution` constructor runs inside `start()`
    * and clones the session (`cloneSession()` copies the SessionState
    * eagerly), and the first batch's `OffsetSeqMetadata`, which pins the
    * count in the checkpoint, is taken from that clone. A batch query
    * running beside the stream therefore sees the dial changed only
    * while `start()` runs. Streams stay on the caller's session rather
    * than `spark.newSession()`: a session's listener bus reports only the
    * queries started from it, and the per-trigger telemetry listens on
    * the caller's `spark.streams`.
    */
  private def withStatePartitions[T](spark: SparkSession)(start: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    try start finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Convenience: the events fixture schema as a file stream — the same
    * relation Tables.events yields, but incremental (one-file-per-trigger).
    *
    * A file stream needs its schema up front, but the fixture's physical
    * `ts` layout has drifted across rounds (NANOS-as-Long vs us/NTZ vs
    * us/UTC — see Tables.normalizeTs). Peek at the files with a static
    * read to discover the layout, declare the stream with that same
    * schema, then apply the shared normalizer so downstream watermarks
    * always see a TIMESTAMP `ts`.
    */
  def eventsFileStream(spark: SparkSession, dir: String): DataFrame = {
    // the static peek trips the NANOS schema refusal first, so the shared
    // fallback sets the legacy conf only when the files actually need it
    val staticSchema = graft.Tables.withNanosFallback(spark)(
      spark.read.parquet(dir).schema)
    graft.Tables.normalizeTs(
      spark.readStream
        .schema(staticSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir))
  }
}
