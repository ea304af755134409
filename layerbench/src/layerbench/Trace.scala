package layerbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region around a call into a layer. Counters attributed to a
  * span are its own; [[Trace.total]] adds its descendants'. */
final class Span(val id: Int, val name: String, val parent: Option[Span],
                 val startMs: Long, val startNs: Long) {
  @volatile var endMs: Long = Long.MaxValue
  @volatile var endNs: Long = -1L
  val children = new java.util.concurrent.CopyOnWriteArrayList[Span]()
  private val counters = new ConcurrentHashMap[String, java.lang.Double]()

  def add(key: String, v: Double): Unit = { counters.merge(key, v, (a, b) => a + b); () }
  def max(key: String, v: Double): Unit =
    { counters.merge(key, v, (a, b) => math.max(a, b)); () }
  def get(key: String): Double = Option(counters.get(key)).map(_.doubleValue).getOrElse(0.0)
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded from the benchmark's own code, around each call into a
  * layer, plus the Spark listeners that attribute jobs, stages, tasks,
  * Catalyst phases and streaming progress to them.
  *
  * Jobs are attributed through a Spark local property that [[span]] sets
  * to the innermost open span: jobs submitted from the driver thread, and
  * the micro-batches of a stream started there, carry it. Catalyst phase
  * times come from a QueryExecutionListener, which sees no local
  * properties, so they go to the innermost span open when the phase
  * started. Streaming progress goes to the span that started the stream.
  *
  * The benchmark is a closed loop with one client thread, so spans nest
  * and never overlap.
  */
final class Trace(sc: SparkContext) {
  import Trace._

  private val roots = new java.util.concurrent.CopyOnWriteArrayList[Span]()
  private val byId = new ConcurrentHashMap[Integer, Span]()
  @volatile private var current: Option[Span] = None
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    nextId += 1
    val s = new Span(nextId, name, current, System.currentTimeMillis, System.nanoTime)
    current match {
      case Some(p) => p.children.add(s)
      case None => roots.add(s)
    }
    byId.put(s.id, s)
    val outer = current
    current = Some(s)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime
      s.endMs = System.currentTimeMillis
      current = outer
      sc.setLocalProperty(SpanKey, outer.map(_.id.toString).orNull)
    }
  }

  def spans: Seq[Span] = roots.asScala.toSeq
  def currentSpan: Option[Span] = current
  def byIdOf(id: String): Option[Span] =
    scala.util.Try(id.toInt).toOption.flatMap(i => Option(byId.get(i)))

  /** Innermost span whose wall interval holds `ms`. */
  def at(ms: Long): Option[Span] = {
    def inner(ss: Iterable[Span]): Option[Span] =
      ss.find(s => s.startMs <= ms && ms <= s.endMs)
        .map(s => inner(s.children.asScala).getOrElse(s))
    inner(roots.asScala)
  }

  /** Forgets every span recorded so far (the warm-up's). */
  def clear(): Unit = { drain(); roots.clear(); byId.clear() }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.LayerbenchBus.drain(sc)
}

object Trace {
  val SpanKey = "layerbench.span"

  /** A span's counter summed with all its descendants'. */
  def total(s: Span, key: String): Double =
    s.get(key) + s.children.asScala.iterator.map(total(_, key)).sum

  /** Largest value of a max-counter over a span and its descendants. */
  def peak(s: Span, key: String): Double =
    (Iterator(s.get(key)) ++ s.children.asScala.iterator.map(peak(_, key))).max

  /** Wall time of the span not covered by its child spans. */
  def selfSeconds(s: Span): Double = s.seconds - s.children.asScala.iterator.map(_.seconds).sum

  /** All spans in the subtree named `name`. */
  def named(s: Span, name: String): Seq[Span] =
    (if (s.name == name) Seq(s) else Nil) ++ s.children.asScala.flatMap(named(_, name))

  private val Mb = 1024.0 * 1024.0

  /** Scheduler and executor counters per span. */
  final class JobListener(trace: Trace) extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Integer, Span]()
    private val jobStages = new ConcurrentHashMap[Integer, Seq[Int]]()
    private val jobSpan = new ConcurrentHashMap[Integer, Span]()
    private val tablesJobStart = new ConcurrentHashMap[Integer, java.lang.Long]()
    private val submitted = ConcurrentHashMap.newKeySet[Integer]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .flatMap(trace.byIdOf)
      span.foreach { s =>
        s.add("spark.jobs", 1)
        jobSpan.put(e.jobId, s)
        jobStages.put(e.jobId, e.stageIds)
        e.stageIds.foreach(id => stageSpan.put(id, s))
        // a stage's name is its call site: "parquet at Tables.scala:35"
        if (e.stageInfos.exists(_.name.contains("at Tables.scala:"))) {
          s.add("tables.read_jobs", 1)
          tablesJobStart.put(e.jobId, e.time)
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { s =>
        val stages = Option(jobStages.remove(e.jobId)).getOrElse(Nil)
        s.add("spark.stages_in_jobs", stages.size)
        s.add("spark.stages_skipped", stages.count(id => !submitted.contains(id)))
        Option(tablesJobStart.remove(e.jobId))
          .foreach(t0 => s.add("tables.read_s", (e.time - t0) / 1000.0))
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      submitted.add(e.stageInfo.stageId); ()
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.add("spark.stages", 1))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        s.add("spark.tasks", 1)
        if (e.taskInfo != null && !e.taskInfo.successful) s.add("spark.failed_tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          s.add("spark.task_s", m.executorRunTime / 1000.0)
          s.add("spark.cpu_s", m.executorCpuTime / 1e9)
          s.add("spark.gc_s", m.jvmGCTime / 1000.0)
          s.add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / Mb)
          s.add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / Mb)
          s.add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / Mb)
          s.add("spark.output_mb", m.outputMetrics.bytesWritten / Mb)
        }
      }
  }

  /** Catalyst analysis, optimisation and planning time of each executed
    * query, attributed by the time the phase started. */
  final class CatalystListener(trace: Trace) extends QueryExecutionListener {
    private val phases = Seq("analysis" -> "catalyst.analysis_s",
      "optimization" -> "catalyst.optimizer_s", "planning" -> "catalyst.planning_s")

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)

    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      ph.get("planning").flatMap(p => trace.at(p.startTimeMs))
        .foreach(_.add("catalyst.queries", 1))
      phases.foreach { case (phase, key) =>
        ph.get(phase).foreach { p =>
          trace.at(p.startTimeMs).foreach(_.add(key, p.durationMs / 1000.0))
        }
      }
    }
  }

  /** Per-trigger progress of streams, attributed to the span that started
    * the stream. `onQueryStarted` runs synchronously inside `start()`, on
    * the thread that holds the span. */
  final class StreamListener(trace: Trace) extends StreamingQueryListener {
    private val runSpan = new ConcurrentHashMap[java.util.UUID, Span]()

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      trace.currentSpan.foreach(s => runSpan.put(e.runId, s))

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(runSpan.get(e.progress.runId)).foreach { s =>
        val p = e.progress
        def ms(k: String): Double =
          Option(p.durationMs.get(k)).map(_.doubleValue / 1000.0).getOrElse(0.0)
        s.add("stream.triggers", 1)
        s.add("stream.trigger_s", ms("triggerExecution"))
        s.add("stream.addbatch_s", ms("addBatch"))
        s.add("stream.walcommit_s", ms("walCommit"))
        s.add("stream.commitoffsets_s", ms("commitOffsets"))
        s.add("stream.latestoffset_s", ms("latestOffset"))
        p.stateOperators.foreach { so =>
          s.add("stream.state_commit_s", so.commitTimeMs / 1000.0)
          s.max("stream.state_rows", so.numRowsTotal.toDouble)
          s.max("stream.state_mb", so.memoryUsedBytes / Mb)
        }
      }

    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      { runSpan.remove(e.runId); () }
  }
}
