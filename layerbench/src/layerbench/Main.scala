package layerbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run: one workload, one seed, one process.
  *
  * Usage (normally through `run.py`, which builds the classpath and picks a
  * fresh working directory):
  *   layerbench.Main --workload pipeline|session|stream --seed N
  *                   --seconds S --trace 0|1 --work DIR --home BENCHDIR
  *
  * The last line of standard output is the result object. The lines before
  * it are a human-readable report and one `report` JSON line with every
  * metric the run measured.
  */
object Main {

  /** Seed whose output digests are stored in `expected.json`. */
  val DefaultSeed = 42L
  /** Input generations during set-up; `setup_s` uses their median. */
  val SetupRepeats = 3

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, home: String)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case o => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $o")
    }
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      trace, need("work"), need("home"))
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val args = parseArgs(argv)
    val workload: Workload = args.workload match {
      case "pipeline" => PipelineWorkload
      case "session" => SessionWorkload
      case "stream" => StreamWorkload
      case o => throw new IllegalArgumentException(s"unknown workload $o")
    }
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.configure(spark)
    val sessionS = (System.currentTimeMillis - jvmStart) / 1000.0
    val failures = new ArrayBuffer[String]()
    try {
      val (genS, dir) = generate(spark, workload, args, failures)
      val trace = if (args.trace) Some(attach(spark)) else None
      val ctx = new Ctx(spark, dir, trace)
      val warmS = timed(workload.warmUp(ctx))
      ctx.clear()
      val setupS = sessionS + Stats.median(genS) + warmS
      val gc0 = gcSeconds()
      ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
      val t0 = System.nanoTime()
      workload.run(ctx, t0 + (args.seconds * 1e9).toLong, args.seconds)
      val wallS = (System.nanoTime() - t0) / 1e9
      val gcS = gcSeconds() - gc0
      workload.check(ctx).foreach(f => failures += f)
      val expected = Expected.load(s"${args.home}/expected.json", workload.name, nproc)
      val opFailures = ctx.checkDigests(
        if (args.seed == DefaultSeed) expected else Map.empty)
      val res = Report.build(args, workload, ctx, nproc, setupS, sessionS,
        genS, warmS, wallS, gcS, failures.toSeq ++ opFailures.map(_._2),
        opFailures.map(_._1).distinct.size)
      res.foreach(println)
    } finally spark.stop()
  }

  /** Generates the workload's inputs [[SetupRepeats]] times into fresh
    * directories and checks that every repetition wrote identical files. */
  private def generate(spark: SparkSession, w: Workload, args: Args,
                       failures: ArrayBuffer[String]): (Seq[Double], String) = {
    val runs = (1 to SetupRepeats).map { i =>
      val dir = s"${args.work}/inputs-$i"
      val s = timed(writeParallel(spark, dir, w.tables(spark, args.seed)))
      (s, dir, fileDigest(dir))
    }
    if (runs.map(_._3).distinct.size != 1)
      failures += "inputs: the same seed wrote different input files"
    (runs.map(_._1), runs.last._2)
  }

  /** Writes each table as one job, the jobs running side by side. */
  private def writeParallel(spark: SparkSession, dir: String,
                            tables: Seq[(String, DataFrame)]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(tables.size, Runtime.getRuntime.availableProcessors)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = tables.map(t => Future(Gen.write(spark, dir, Seq(t))))
      Await.result(Future.sequence(fs), Duration.Inf)
    } finally pool.shutdown()
  }

  /** SHA-256 over every parquet data file under `dir`, in path order. */
  private def fileDigest(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val root = java.nio.file.Paths.get(dir)
    val files = java.nio.file.Files.walk(root).iterator.asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        java.nio.file.Files.isRegularFile(p))
      .toSeq.sortBy(p => root.relativize(p).toString)
    files.foreach { p =>
      md.update(root.relativize(p).getParent.toString.getBytes("UTF-8"))
      md.update(java.nio.file.Files.readAllBytes(p))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def attach(spark: SparkSession): Trace = {
    val t = new Trace(spark.sparkContext)
    spark.sparkContext.addSparkListener(new Trace.JobListener(t))
    spark.listenerManager.register(new Trace.CatalystListener(t))
    spark.streams.addListener(new Trace.StreamListener(t))
    t
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum / 1048576.0
}

/** Expected output digests of the default seed, per workload, core count
  * and op. Keyed by core count because the shuffle partition count follows
  * it, and LDA's mini-batches, hence its topic tags, follow the partitions. */
object Expected {
  def key(nproc: Int): String = s"nproc=$nproc"

  def load(path: String, workload: String, nproc: Int): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.exists) Map.empty
    else {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      Option(node.get(workload)).flatMap(w => Option(w.get(key(nproc)))).map { w =>
        w.fields.asScala.map(e => e.getKey -> e.getValue.asText).toMap
      }.getOrElse(Map.empty)
    }
  }
}

/** One timed operation and what it produced. */
final case class Op(name: String, phase: String, seconds: Double, items: Long,
                    digests: Seq[(String, String)], error: Option[String],
                    span: Option[Span])

/** State shared by a workload's loop: the session, the inputs, the
  * optional tracer and every op recorded so far. */
final class Ctx(val spark: SparkSession, val dir: String,
                val trace: Option[Trace]) {
  val ops = new ArrayBuffer[Op]()
  var storagePeakMb = 0.0
  var storagePeakBlocks = 0.0
  private var tracing = false
  /** Whether the op now running records spans. */
  def traced: Boolean = tracing
  private val seen = scala.collection.mutable.Map.empty[String, Int]

  /** Records a span only while the current op is traced. */
  def span[T](name: String)(body: => T): T = trace match {
    case Some(t) if tracing => t.span(name)(body)
    case _ => body
  }

  /** The cold-start reset: every session memo evicted, Spark's cache
    * cleared and every query-scoped persist released. Untimed; traced as
    * its own root spans in a traced run. */
  def reset(): Unit = {
    val prev = tracing
    tracing = trace.isDefined
    try {
      span("memos.evict")(graft.queries.SessionMemos.evictAll())
      span("cache.clear")(spark.catalog.clearCache())
      span("cachescope.release")(graft.CacheScope.releaseAll())
    } finally tracing = prev
  }

  /** Times `body` as one op. In a traced run the occurrences of each op
    * name alternate between traced and untraced, starting traced, so the
    * untraced ones measure the same op without the tracer's spans. The op
    * ends with `CacheScope.releaseAll()`, outside the timed region. */
  def op(name: String, phase: String, items: Long)
        (body: => Seq[(String, String)]): Op = {
    val k = seen.getOrElse(name, 0)
    seen(name) = k + 1
    tracing = trace.isDefined && k % 2 == 0
    var opSpan: Option[Span] = None
    val t0 = System.nanoTime()
    val result =
      try Right(trace match {
        case Some(t) if tracing =>
          t.span("op") {
            opSpan = t.currentSpan
            body
          }
        case _ => body
      })
      catch {
        case e: Throwable =>
          Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    val secs = (System.nanoTime() - t0) / 1e9
    sampleStorage()
    span("cachescope.release")(graft.CacheScope.releaseAll())
    if (tracing) trace.foreach(_.drain())
    tracing = false
    val op = Op(name, phase, secs, items, result.getOrElse(Nil),
      result.left.toOption, opSpan)
    ops += op
    op
  }

  private def sampleStorage(): Unit = {
    val infos = spark.sparkContext.getRDDStorageInfo
    val mb = infos.map(i => i.memSize + i.diskSize).sum / 1048576.0
    storagePeakMb = math.max(storagePeakMb, mb)
    storagePeakBlocks = math.max(storagePeakBlocks,
      infos.map(_.numCachedPartitions).sum.toDouble)
  }

  /** Forgets the warm-up's ops and storage peak. */
  def clear(): Unit = {
    ops.clear(); seen.clear()
    trace.foreach(_.clear())
    storagePeakMb = 0.0; storagePeakBlocks = 0.0
  }

  /** Every failed op, and every op whose digest differs from the first one
    * recorded under the same key in this run or from `expected`, each with
    * its failure. */
  def checkDigests(expected: Map[String, String]): Seq[(Op, String)] = {
    val first = scala.collection.mutable.LinkedHashMap.empty[String, (Op, String)]
    val out = new ArrayBuffer[(Op, String)]()
    ops.foreach { op =>
      op.error.foreach(e => out += op -> s"${op.name} (${op.phase}): $e")
      op.digests.foreach { case (k, d) =>
        first.get(k) match {
          case None => first(k) = (op, d)
          case Some((_, d0)) if d0 != d =>
            out += op -> s"$k (${op.phase}): digest $d differs from this run's first $d0"
          case _ => ()
        }
      }
    }
    first.foreach { case (k, (op, d)) =>
      expected.get(k).filter(_ != d).foreach(e =>
        out += op -> s"$k: digest $d differs from the stored $e")
    }
    out.toSeq
  }

  def digests: Seq[(String, String)] = {
    val first = scala.collection.mutable.LinkedHashMap.empty[String, String]
    ops.foreach(_.digests.foreach { case (k, d) => first.getOrElseUpdate(k, d) })
    first.toSeq
  }
}

/** A workload: its inputs, its warm-up and its closed loop. */
trait Workload {
  def name: String
  /** What `throughput_per_s` counts. */
  def itemName: String
  def tables(spark: SparkSession, seed: Long): Seq[(String, DataFrame)]
  def warmUp(ctx: Ctx): Unit
  /** Runs the timed ops of a run of `seconds`, which ends at `deadlineNs`;
    * a round in progress is finished. */
  def run(ctx: Ctx, deadlineNs: Long, seconds: Double): Unit
  /** Workload-specific output checks, run after the timed loop. */
  def check(ctx: Ctx): Seq[String] = Nil
  /** Workload-specific per-layer metrics from the traced ops. */
  def layers(ctx: Ctx): Seq[(String, Double, String)] = Nil
}
