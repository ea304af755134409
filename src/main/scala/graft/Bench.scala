package graft
/** Driver-run throughput bench: one JSON line with per-query seconds,
  * also written to `target/bench.json` (stdout tail-capture once truncated
  * the line's head off a round artifact; the file copy is the durable one).
  *
  * Measurement protocol: queries run in sorted name order (Map iteration
  * order would shuffle which query absorbs residual warmup between rounds),
  * each query runs `RunsPerQuery` times and reports the min — n=1 timings
  * at this scale are dominated by first-touch JIT/codegen of the query's
  * own plan, which round 1 showed as 10-50x artifacts on early slots. The
  * median over the same runs rides along under "queries_median", and
  * queries where median/min > 3x split into two self-report lists:
  * "rebuild" when run 1 alone is slow (the deterministic session-memo
  * rebuild a family's first query pays post-eviction) and "noisy" for
  * divergence run 1 does not explain — true machine interference. A third
  * list, "warm_inflated", cross-checks warm min against the cold control
  * sample (warm_min/cold > 3x with cold > 0.3 s): interference windows
  * that inflate BOTH warm runs are invisible to the run-to-run detectors
  * but cannot hide from the cold pass, which does strictly more work.
  * Every row that rule flags gets ONE in-run warm re-measurement (the
  * cold pass's retry, mirrored): the published warm is the min of the
  * three, retried names publish under "warm_retried", and the
  * warm_inflated list is computed post-retry — a transient window
  * self-heals in the artifact, a real regression reproduces and stays.
  * The cold pass gets the symmetric control, "cold_inflated": each cold
  * time is compared against the previous durable clean run's cold vector
  * (committed as BENCH_REF.json; > 3x with cold > 0.3 s flags), because
  * the cold pass has no second in-process sample of its own — r10's
  * driver artifact carried a 2.2x-inflated cold total with nothing in
  * the artifact marking it. Full runs also write a timestamped
  * target/bench-&lt;n&gt;q-&lt;millis&gt;.json archive so a later run can
  * never clobber a clean reference vector.
  * Failures are never swallowed: a crashing query records its error
  * message under "errors" and counts -1 sec, so a regression can't
  * silently improve the total.
  *
  * A COLD pass runs first: every session memo cache (NLP summary, dedup
  * shingle/pair, curation prefix, IVF/LDA models) is evicted before each
  * query and one run is timed — "cold_total"/"queries_cold" report what
  * the engine costs when nothing is shared IN MEMORY, while the warm
  * min-of-n headline reports the memoized steady state. Durable stored
  * artifacts (StoredRelations' fingerprinted pair/exact indexes, the
  * q79e/q104c stored ANN layouts' files) are NOT wiped between queries:
  * cold models a fresh session against a warehouse, and a fresh session
  * still has the warehouse's maintained stored tables — what it lost is
  * the block cache. The first consumer of a missing/stale artifact pays
  * its build+write inside its own cold time (self-attributing, like
  * "rebuild" on the warm side). Publishing both keeps the
  * growing memo caches from flattering the headline: min-of-n picks the
  * cache-warm run for every memoized family. The cold pass leaves all
  * memos evicted, so the warm pass starts from the same state the bench
  * had before the cold pass existed and stays round-comparable.
  *
  * Optional args: name substrings — bench only matching queries (local
  * iteration; the driver passes none and gets the full registry).
  *
  * Materialization is a `noop`-format write, not `count()`: count lets
  * Catalyst prune every projection not needed for the row count, so a
  * narrow query would be timed as a bare scan; the noop sink evaluates
  * every output column and discards the bytes.
  */
object Bench {
  private val RunsPerQuery = 2

  /** Extracts the `queries_cold` map from a bench JSON line (our own
    * single-line format — a regex pull, not a JSON library, keeps the
    * bench dependency-free). Returns empty on any malformed input. */
  private[graft] def parseQueriesCold(txt: String): Map[String, Double] =
    parseQueriesKey(txt, "queries_cold")

  /** The reference WARM vector (`"queries"` — per-query warm mins). */
  private[graft] def parseQueriesWarm(txt: String): Map[String, Double] =
    parseQueriesKey(txt, "queries")

  private def parseQueriesKey(txt: String, key: String): Map[String, Double] =
    try {
      // \s* after the colon: the reference file may be rewritten by a
      // JSON library that puts a space there (json.dumps default). The
      // number pattern must accept scientific notation WITH a negative
      // exponent ("5.0E-4" is how a sub-millisecond Double prints), and
      // an unparseable entry is SKIPPED rather than discarding the whole
      // map — an all-or-nothing parse silently disables the entire
      // cold_inflated channel on one bad value.
      val m = (""""""" + java.util.regex.Pattern.quote(key) + """":\s*\{([^}]*)\}""").r
        .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
      """"([^"]+)":\s*(-?[0-9][0-9.]*(?:[eE][-+]?[0-9]+)?)""".r
        .findAllMatchIn(m)
        .flatMap(x =>
          scala.util.Try(x.group(1) -> x.group(2).toDouble).toOption)
        .toMap
    } catch { case _: Throwable => Map.empty }

  /** The warm-vs-reference summary: quartile ratios over the common set
    * plus the two window classifications the ratios support.
    */
  private[graft] final case class WarmVsRef(q1: Double, median: Double,
      q3: Double, dispersion: Double, n: Int,
      loadedHost: Boolean, mixedWindow: Boolean)

  /** The warm_vs_ref channel (r12 verdict item 4, quartiles + mixed
    * window r13 item 6): a UNIFORMLY loaded host inflates every warm
    * reading by a similar factor, which the within-run detectors
    * (noisy/rebuild/warm_inflated) structurally cannot see — r12's s1
    * runs sat at 1.1-1.28× the reference with all three channels empty
    * and needed a human diff against BENCH_REF. This compares each warm
    * min against the reference warm vector over the common set
    * (reference rows ≥ 0.1 s — tiny rows are scheduler jitter) and
    * publishes the QUARTILE ratios, so any run self-describes its shape:
    *
    *   - `loaded_host`: median > 1.2 with LOW dispersion (IQR/median
    *     < 0.35) — uniform inflation, not a real per-query regression
    *     (which moves few queries a lot, i.e. high dispersion);
    *   - `mixed_window` (the r13 blind spot: two independent runs read
    *     median ~1.05-1.07 with dispersion ~0.45 and 3-4× individual
    *     rows, passing as clean): the top quartile is inflated —
    *     q3 > 1.3, or a raised median (> 1.05) with high dispersion
    *     (> 0.4) — without the uniform-inflation signature. Deliberately
    *     NOT capped at median ≤ 1.2: a run with median 1.4 and high
    *     dispersion is a worse mixed window, not a clean one, and must
    *     not fall between the two flags. Reads as "part of this run
    *     crossed a load window"; per-query rows then attribute which
    *     part (warm_inflated / sibling-run diff).
    *
    * None when fewer than 10 common queries (a filtered local run — no
    * basis for a host claim).
    */
  private[graft] def warmVsRef(mins: Seq[(String, Double)],
                               ref: Map[String, Double])
      : Option[WarmVsRef] = {
    val ratios = mins.collect {
      case (k, m) if m > 0 && ref.get(k).exists(_ >= 0.1) => m / ref(k)
    }.sorted
    if (ratios.size < 10) None
    else {
      val q1 = ratios(ratios.size / 4)
      val med = ratios(ratios.size / 2)
      val q3 = ratios(ratios.size * 3 / 4)
      val disp = if (med > 0) (q3 - q1) / med else 0.0
      val loaded = med > 1.2 && disp < 0.35
      val mixed = !loaded &&
        (q3 > 1.3 || (med > 1.05 && disp > 0.4))
      Some(WarmVsRef(q1, med, q3, disp, ratios.size, loaded, mixed))
    }
  }

  /** The warm_inflated rule (r9 finding): a warm min above 3x the
    * query's OWN cold time (cold > 0.3 s) cannot be the query's cost —
    * cold does strictly more work — and marks interference during the
    * warm pass. Factored out so the in-run retry and the published list
    * share one contract.
    */
  private[graft] def warmInflatedOf(mins: Seq[(String, Double)],
                                    cold: Map[String, Double]): Seq[String] =
    mins.collect {
      case (k, mn) if mn > 0 && cold.getOrElse(k, -1.0) > 0.3 &&
        mn / cold(k) > 3.0 => k
    }

  /** The cold_inflated rule: a cold time above 0.3 s that is > 3x the
    * reference run's cold for the same query. Queries absent from the
    * reference (new since the ref was cut) are never flagged. */
  private[graft] def coldInflatedOf(cold: Seq[(String, Double)],
                                    ref: Map[String, Double]): Seq[String] =
    cold.collect {
      case (k, t) if t > 0.3 &&
        ref.get(k).exists(r => r > 0 && t / math.max(r, 0.05) > 3.0) => k
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tables.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    // Warm the session (codegen, shuffle machinery, parquet reader) so the
    // first measured query doesn't absorb one-time JVM/session init.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).limit(1).count()
    def jsonEscape(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def evictMemos(): Unit = queries.SessionMemos.evictAll()
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        args.isEmpty || args.exists(name.contains) }
    // ONE cold-measurement contract shared by the cold pass and the
    // inflation retry below — two hand-maintained copies would let the
    // contracts drift (r12 review). Failures key by `errKey` so a
    // cold-only failure, a warm failure, and a retry failure stay
    // tellable apart in the artifact.
    def measureCold(name: String, fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame, errKey: String): Double = {
      evictMemos()
      val t0 = System.nanoTime()
      val t =
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            errors.getOrElseUpdate(errKey,
              s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
            -1.0
        }
      CacheScope.releaseAll()
      t
    }
    val cold0 = selected.map { case (name, fn) =>
      name -> measureCold(name, fn, s"cold:$name")
    }
    // Reference cold vector (also the retry trigger below): the previous
    // durable clean run's per-query cold times, committed as
    // BENCH_REF.json. Queries absent from the reference (new this round)
    // are skipped — they get a row the next time the ref is refreshed.
    val refColdMap: Map[String, Double] = {
      val f = new java.io.File("BENCH_REF.json")
      if (!f.exists) Map.empty
      else parseQueriesCold(new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    }
    // Cold auto-retry (r11 verdict item 7): a saturated host window
    // during the cold pass used to ship inflated rows into the durable
    // artifact with only the cold_inflated self-attribution. Every row
    // the reference control flags gets ONE immediate re-measurement
    // under the same cold contract (memos evicted, operator caches
    // released — the OS page cache is warmer, but cold here has always
    // meant "no engine state", and the reference it is compared against
    // was measured mid-run with a warm page cache too); the published
    // cold is the min of the two. A genuine regression reproduces and
    // stays flagged; a transient interference window clears.
    val fnByName = selected.toMap
    val cold = cold0.map { case (name, t) =>
      if (!coldInflatedOf(Seq(name -> t), refColdMap).contains(name)) name -> t
      else {
        val retry = measureCold(name, fnByName(name), s"coldretry:$name")
        name -> (if (retry > 0) math.min(t, retry) else t)
      }
    }
    // leave no memo from the cold pass: the warm pass must start exactly
    // where the pre-cold-pass bench did
    evictMemos()
    // test hook for the warm-retry channel: "substr:millis" sleeps before
    // each FIRST-PASS warm measurement of matching queries (never before
    // the retry), so a durable run can demonstrate a planted-slow row
    // clearing itself through the retry. Unset in real runs.
    val plant: Option[(String, Long)] =
      sys.env.get("SPARK_GRAFT_PLANT_WARM_SLOW").flatMap { v =>
        v.split(":", 2) match {
          case Array(s, ms) => scala.util.Try((s, ms.toLong)).toOption
          case _ => None
        }
      }
    val results = selected.map { case (name, fn) =>
      val times = (1 to RunsPerQuery).flatMap { _ =>
        val t0 = System.nanoTime()
        plant.foreach { case (s, ms) => // inside the timed window
          if (name.contains(s)) Thread.sleep(ms) }
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        }
        catch { case e: Throwable =>
          errors.getOrElseUpdate(name,
            s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          None
        }
      }
      // release operator-internal persists at the query boundary (after
      // BOTH runs, so run 2 measures the warm-cache plan exactly as before
      // the lifecycle change and min-of-n stays comparable across rounds)
      CacheScope.releaseAll()
      name -> times
    }
    // Noise self-report: a single in-process min-of-n cannot defend
    // against whole-machine interference (a concurrent job once inflated
    // one query 12x across BOTH runs). Publishing min AND median per
    // query, plus a "noisy" list where they diverge >3x, makes a polluted
    // round diagnosable from the artifact alone instead of reading as a
    // silent regression.
    def median(ts: Seq[Double]): Double =
      if (ts.isEmpty) -1.0
      else if (ts.size % 2 == 1) ts.sorted.apply(ts.size / 2)
      else (ts.sorted.apply(ts.size / 2 - 1) + ts.sorted.apply(ts.size / 2)) / 2.0
    val minsRaw = results.map { case (k, ts) =>
      k -> (if (ts.nonEmpty) ts.min else -1.0) }
    val coldMap = cold.toMap
    // In-run warm retry (r13 verdict item 7, the cold pass's symmetric
    // twin): every row the warm_inflated rule flags — warm min > 3x its
    // own cold control — gets ONE immediate re-measurement under the
    // same warm contract (memos stay warm, operator caches released
    // after, plant hook skipped); the published warm is the min of the
    // three runs. A transient interference window self-heals in the
    // artifact; a genuine regression reproduces and stays flagged.
    // Retried names publish under "warm_retried" either way, so a
    // cleared row remains attributable.
    val warmRetried = warmInflatedOf(minsRaw, coldMap)
    val retryMins = warmRetried.map { k =>
      val t0 = System.nanoTime()
      val t =
        try {
          fnByName(k)(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            errors.getOrElseUpdate(s"warmretry:$k",
              s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
            -1.0
        }
      CacheScope.releaseAll()
      k -> t
    }.toMap
    val mins = minsRaw.map { case (k, mn) =>
      k -> (retryMins.get(k) match {
        case Some(t) if t > 0 => math.min(mn, t)
        case _ => mn
      })
    }
    val medians = results.map { case (k, ts) => k -> median(ts) }
    // First warm run, separately: with n=2 the median is the mean, so a
    // memo-rebuild-heavy run 1 silently inflates it (the round-6 dedup
    // family "creep" read as a regression until run-level data showed
    // warm run 1 was absorbing post-cold-pass storage-eviction churn).
    // Publishing run 1 makes rebuild-vs-steady-state attributable from
    // the artifact alone.
    val warm1s = results.map { case (k, ts) =>
      k -> (if (ts.nonEmpty) ts.head else -1.0) }
    // Attribute min/median divergence (r6/r7 "noisy" repeat offenders):
    // when warm run 1 alone is inflated and run 2 is fast, the cause is
    // the session-memo rebuild a family's FIRST query pays after the
    // post-cold-pass evictAll (q03 leads the summary family, q25 the
    // shingle family in sort order) — deterministic work, not machine
    // interference. Publish those under "rebuild"; reserve "noisy" for
    // queries where divergence is NOT explained by run 1 (true
    // environmental noise a polluted round would show). "Explained by
    // run 1" requires BOTH that run 1 is slow AND that the remaining runs
    // agree with the min — interference that happens to include a slow
    // run 1 but also inflates later runs must stay in "noisy", not be
    // misfiled as a deterministic memo rebuild.
    val rebuilds = results.collect {
      case (k, ts) if ts.size >= 2 && ts.min > 0 && ts.head / ts.min > 3.0 &&
        median(ts.tail) / ts.min <= 3.0 => k
    }
    val noisy = mins.zip(medians).collect {
      case ((k, mn), (_, md)) if mn > 0 && md / mn > 3.0 &&
        !rebuilds.contains(k) => k
    }
    // Warm-vs-cold divergence self-report (r9 finding): "noisy" compares
    // warm runs to each other, so a contiguous interference window that
    // inflates BOTH warm runs — r9's q31b-q33 cluster, q33 4.50 s warm min
    // vs 0.54 s cold — reads as a silent regression. The cold pass is a
    // free per-query control sample: cold does strictly MORE work (every
    // memo rebuilt), so a warm min > 3x its own cold time cannot be the
    // query's own cost and marks machine interference during the warm
    // pass. Floor cold at 0.3 s so scheduler jitter on trivial queries
    // doesn't flood the list (rule in warmInflatedOf). Computed on the
    // POST-retry mins: a row the in-run retry cleared drops off; a
    // persistent one stays flagged.
    val warmInflated = warmInflatedOf(mins, coldMap)
    // Cold-side divergence self-report (r10 finding): warm_inflated uses
    // the cold pass as its control, but nothing controlled the COLD pass
    // itself — r10's driver artifact carried a 927.9 s cold total (q127
    // 111.9 s vs 3.2 s on a clean same-code run) with no in-artifact
    // marker. The control is the previous durable clean run's cold
    // vector (refColdMap above, which also triggers the in-run retry):
    // cold > 3x the reference cold for the same query (floored at
    // 0.3 s, same as warm_inflated) cannot be the query's own cost
    // without a code change to it, and code changes are visible in the
    // diff while interference is not. Surviving the retry, an entry
    // here is either a real regression or a full-run-length window.
    val coldInflated = coldInflatedOf(cold, refColdMap)
    val coldRefDesc =
      if (refColdMap.isEmpty) "none"
      else s"BENCH_REF.json (${refColdMap.size} queries)"
    // warm-vs-reference self-attribution: flags the uniformly-loaded-host
    // window no within-run channel can see (scaladoc at warmVsRef)
    val refWarmMap: Map[String, Double] = {
      val f = new java.io.File("BENCH_REF.json")
      if (!f.exists) Map.empty
      else parseQueriesWarm(new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    }
    val warmVsRefJson = warmVsRef(mins, refWarmMap) match {
      case Some(w) =>
        f"""{"median_ratio":${w.median}%.3f,"q1_ratio":${w.q1}%.3f,"q3_ratio":${w.q3}%.3f,"dispersion":${w.dispersion}%.3f,"n":${w.n},"loaded_host":${w.loadedHost},"mixed_window":${w.mixedWindow}}"""
      case None => "null"
    }
    val qs = mins.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val qsMed = medians.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val qsW1 = warm1s.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val qsCold = cold.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val noisyJson = noisy.map(k => s"\"$k\"").mkString("[", ",", "]")
    val rebuildJson = rebuilds.map(k => s"\"$k\"").mkString("[", ",", "]")
    val warmInflJson = warmInflated.map(k => s"\"$k\"").mkString("[", ",", "]")
    val warmRetriedJson = warmRetried.map(k => s"\"$k\"").mkString("[", ",", "]")
    val total = mins.map(_._2).filter(_ >= 0).sum
    val coldTotal = cold.map(_._2).filter(_ >= 0).sum
    val errJson = errors.map { case (k, v) =>
      s"\"${jsonEscape(k)}\":\"${jsonEscape(v)}\""
    }.mkString("{", ",", "}")
    val coldInflJson = coldInflated.map(k => s"\"$k\"").mkString("[", ",", "]")
    // The plant hook self-reports in the artifact: an accidentally
    // exported SPARK_GRAFT_PLANT_WARM_SLOW must never corrupt a durable
    // run silently (every other noise channel here self-attributes; the
    // one that INJECTS noise has to as well).
    val plantJson = plant
      .map { case (s, ms) => s""","plant":"${jsonEscape(s"$s:$ms")}"""" }
      .getOrElse("")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","cold_total":$coldTotal,"queries":$qs,"queries_median":$qsMed,"queries_warm1":$qsW1,"queries_cold":$qsCold,"noisy":$noisyJson,"rebuild":$rebuildJson,"warm_inflated":$warmInflJson,"warm_retried":$warmRetriedJson,"cold_inflated":$coldInflJson,"warm_vs_ref":$warmVsRefJson,"cold_ref":"$coldRefDesc","errors":$errJson$plantJson,"sf":"$sfDir"}"""
    println(line)
    // target/bench.json is the durable FULL-registry round artifact; a
    // filtered local run writes a sibling file so it can never clobber
    // the last complete round with a partial, indistinguishable one.
    // A planted run is demoted to the sibling too: the durable artifact
    // must never carry injected latency, even self-attributed.
    val benchFile =
      if (args.isEmpty && plant.isEmpty) "target/bench.json"
      else "target/bench_partial.json"
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(benchFile), line + "\n")
      // every full run ALSO lands in a timestamped archive: the r10
      // driver run overwrote the builder's clean durable reference, and
      // the only surviving copy was a /tmp file. Archives make clean and
      // polluted runs diff-able after the fact; bench.json stays the
      // "latest full run" pointer.
      if (args.isEmpty && plant.isEmpty)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(
            s"target/bench-${selected.size}q-${System.currentTimeMillis}.json"),
          line + "\n")
    } catch { case _: Throwable => () } // file copy is best-effort
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
