package layerbench

/** Turns a finished run into the report lines and the result object. */
object Report {

  /** Per-layer metrics every workload exercises, in `BENCHMARK.json` order. */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.stages_skipped" -> "ratio",
    "spark.tasks" -> "count",
    "spark.task_s" -> "s",
    "spark.cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.slot_busy" -> "ratio",
    "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB",
    "catalyst.analysis_s" -> "s",
    "catalyst.optimizer_s" -> "s",
    "catalyst.planning_s" -> "s",
    "tables.read_s" -> "s",
    "tables.read_jobs" -> "count",
    "queries.build_s" -> "s",
    "queries.build_jobs" -> "count",
    "queries.exec_s" -> "s",
    "queries.exec_jobs" -> "count",
    "memos.evict_s" -> "s",
    "cachescope.release_s" -> "s",
    "storage.blocks" -> "count",
    "storage.mb" -> "MB",
    "jvm.gc_s" -> "s",
    "jvm.heap_peak_mb" -> "MB",
    "trace.overhead_frac" -> "ratio")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private def metricsObj(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (k, v, u) => k -> obj(Seq("value" -> num(v), "unit" -> str(u))) })

  def build(args: Main.Args, w: Workload, ctx: Ctx, nproc: Int, setupS: Double,
            sessionS: Double, genS: Seq[Double], warmS: Double, wallS: Double,
            gcS: Double, failures: Seq[String], failedOps: Int): Seq[String] = {
    val ops = ctx.ops.toSeq
    val warm = ops.filter(_.phase == "warm")
    val cold = ops.filter(_.phase == "cold")
    val timedOps = if (warm.nonEmpty) warm else ops
    val secs = timedOps.map(_.seconds)
    val (tailP, tailV) = Stats.tail(secs)
    val throughput = timedOps.map(_.items).sum / math.max(secs.sum, 1e-9)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_s", Stats.median(secs), "s"),
      ("cold_op_p50_s", Stats.median(cold.map(_.seconds)), "s"),
      ("throughput_per_s", throughput, "items/s"))
    val extra = Seq(
      ("op_tail_s", tailV, "s"),
      (s"${w.itemName}_per_s", throughput, s"${w.itemName}/s"),
      ("cold_total_s", cold.map(_.seconds).sum, "s"),
      ("storage_peak_mb", ctx.storagePeakMb, "MB"),
      ("fail_frac", failedOps.toDouble / math.max(ops.size, 1), "ratio"),
      ("op_tail_percentile", tailP.toDouble, "percentile"),
      ("timed_ops", secs.size.toDouble, "count"),
      ("session_s", sessionS, "s"),
      ("inputs_s", Stats.median(genS), "s"),
      ("warmup_s", warmS, "s"),
      ("measured_s", wallS, "s"))
    val layers = if (ctx.trace.isDefined) perLayer(ctx, w, nproc, gcS) else Nil
    val metrics = if (ctx.trace.isDefined) layers.filter(l => PerLayer.exists(_._1 == l._1))
      else e2e
    val env = Seq("workload" -> str(w.name), "seed" -> args.seed.toString,
      "trace" -> (if (args.trace) "1" else "0"), "seconds" -> num(args.seconds),
      "nproc" -> nproc.toString, "jdk" -> str(System.getProperty("java.version")),
      "spark" -> str(org.apache.spark.SPARK_VERSION),
      "ops" -> ops.map(o => obj(Seq("name" -> str(o.name), "phase" -> str(o.phase),
        "s" -> num(o.seconds)))).mkString("[", ",", "]"),
      "digests" -> obj(ctx.digests.map { case (k, d) => k -> str(d) }),
      "failures" -> failures.map(str).mkString("[", ",", "]"))
    val human =
      Seq(s"layerbench ${w.name} seed=${args.seed} trace=${if (args.trace) 1 else 0} " +
        s"nproc=$nproc jdk=${System.getProperty("java.version")} " +
        s"spark=${org.apache.spark.SPARK_VERSION} ops=${ops.size}") ++
        (if (args.trace) layers else e2e ++ extra).map { case (k, v, u) =>
          f"  $k%-26s ${num(v)}%s $u%s" } ++
        Seq(f"  op_tail_s is p$tailP of ${secs.size} timed ops" +
          (if (tailP == 100) " (too few for 10 beyond any percentile: the maximum)" else "")) ++
        failures.map(f => s"  FAIL $f")
    val report = obj(env ++ Seq(
      "end_to_end" -> metricsObj(e2e ++ extra),
      "per_layer" -> metricsObj(layers)))
    val last = obj(Seq("correct" -> failures.isEmpty.toString,
      "attempted" -> math.max(ops.size, 1).toString,
      "failed" -> failedOps.toString,
      "metrics" -> metricsObj(metrics)))
    human ++ Seq("report " + report, last)
  }

  /** Per-layer metrics of the traced ops, as means per traced op. */
  def perLayer(ctx: Ctx, w: Workload, nproc: Int, gcS: Double): Seq[(String, Double, String)] = {
    val ops = ctx.ops.toSeq
    val traced = ops.flatMap(_.span)
    val n = math.max(traced.size, 1).toDouble
    def per(key: String): Double = traced.map(Trace.total(_, key)).sum / n
    def named(name: String, f: Span => Double): Double =
      traced.map(s => Trace.named(s, name).map(f).sum).sum / n
    val rootSpans = ctx.trace.map(_.spans).getOrElse(Nil)
    def rootMean(name: String): Double = {
      val ss = rootSpans.filter(_.name == name)
      if (ss.isEmpty) 0.0 else ss.map(_.seconds).sum / ss.size
    }
    val stagesIn = traced.map(Trace.total(_, "spark.stages_in_jobs")).sum
    val tracedWall = traced.map(_.seconds).sum
    val overhead = {
      val byKey = ops.groupBy(o => (o.name, o.phase)).values.flatMap { os =>
        val (t, u) = os.partition(_.span.isDefined)
        if (t.isEmpty || u.isEmpty) None
        else Some(Stats.median(t.map(_.seconds)) / Stats.median(u.map(_.seconds)) - 1.0)
      }.toSeq
      if (byKey.isEmpty) 0.0 else Stats.median(byKey)
    }
    val storage = Seq(("storage.blocks", ctx.storagePeakBlocks, "count"),
      ("storage.mb", ctx.storagePeakMb, "MB"))
    Seq(
      ("spark.jobs", per("spark.jobs"), "count"),
      ("spark.stages", per("spark.stages"), "count"),
      ("spark.stages_skipped",
        traced.map(Trace.total(_, "spark.stages_skipped")).sum / math.max(stagesIn, 1.0), "ratio"),
      ("spark.tasks", per("spark.tasks"), "count"),
      ("spark.failed_tasks", per("spark.failed_tasks"), "count"),
      ("spark.task_s", per("spark.task_s"), "s"),
      ("spark.cpu_s", per("spark.cpu_s"), "s"),
      ("spark.gc_s", per("spark.gc_s"), "s"),
      ("spark.slot_busy",
        traced.map(Trace.total(_, "spark.task_s")).sum / math.max(tracedWall * nproc, 1e-9), "ratio"),
      ("spark.shuffle_write_mb", per("spark.shuffle_write_mb"), "MB"),
      ("spark.shuffle_read_mb", per("spark.shuffle_read_mb"), "MB"),
      ("spark.spill_mb", per("spark.spill_mb"), "MB"),
      ("spark.output_mb", per("spark.output_mb"), "MB"),
      ("catalyst.analysis_s", per("catalyst.analysis_s"), "s"),
      ("catalyst.optimizer_s", per("catalyst.optimizer_s"), "s"),
      ("catalyst.planning_s", per("catalyst.planning_s"), "s"),
      ("tables.read_s", per("tables.read_s"), "s"),
      ("tables.read_jobs", per("tables.read_jobs"), "count"),
      ("queries.build_s", named("queries.build", _.seconds), "s"),
      ("queries.build_jobs", named("queries.build", Trace.total(_, "spark.jobs")), "count"),
      ("queries.exec_s", named("queries.exec", _.seconds), "s"),
      ("queries.exec_jobs", named("queries.exec", Trace.total(_, "spark.jobs")), "count"),
      ("op.self_s", traced.map(Trace.selfSeconds).sum / n, "s"),
      ("memos.evict_s", rootMean("memos.evict"), "s"),
      ("cachescope.release_s", rootMean("cachescope.release"), "s"),
      ("jvm.gc_s", gcS / math.max(ops.size, 1), "s"),
      ("jvm.heap_peak_mb", Main.heapPeakMb(), "MB"),
      ("trace.overhead_frac", overhead, "ratio")) ++ storage ++ w.layers(ctx)
  }
}
