package graft
import java.nio.file.{Files, Paths, StandardOpenOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Truncation-durability contract (round-10 postmortem): the round-10
  * driver artifact shipped as literal `{}` because this program used to
  * write oracle_sql.json AFTER the query loop — any kill/timeout at query
  * 235 of 236 zeroed the entire round's correctness signal. The oracle
  * JSON depends only on SparkEntry.oracleSql, so it is now written BEFORE
  * the first query runs, and a per-query progress line is appended to
  * verify_progress.jsonl as each result lands. A verify run killed at any
  * point therefore leaves (a) the full oracle map, (b) parquet for every
  * completed query, (c) a line-per-query progress log — the downstream
  * compare produces partial correctness rows instead of an empty object.
  * VerifyDurabilitySpec gates the ordering.
  */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Writes outDir/oracle_sql.json from SparkEntry.oracleSql alone.
    * Must be called (and is called) before any query executes, so a
    * truncated run still yields a complete oracle map. */
  def writeOracleJson(outDir: String): Unit = {
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  /** Appends one status line to outDir/verify_progress.jsonl. Each line is
    * a self-contained JSON object so a mid-write kill corrupts at most the
    * final line; CREATE+APPEND makes the call crash-safe and idempotent
    * across reruns into a fresh outDir. The seconds field is formatted
    * under Locale.ROOT (a comma-decimal default locale would emit invalid
    * JSON), and a failed progress write is swallowed — the log is
    * diagnostic, and losing a line must never abort the queries whose
    * parquet output is the round's actual signal. */
  def appendProgress(outDir: String, name: String, ok: Boolean,
                     secs: Double, err: Option[String]): Unit =
    try {
      val e = err.map(m => s""","error":${q(m.take(300))}""").getOrElse("")
      val s = String.format(java.util.Locale.ROOT, "%.3f",
        Double.box(secs))
      val line = s"""{"query":${q(name)},"ok":$ok,"secs":$s$e}""" +
        System.lineSeparator()
      Files.write(Paths.get(s"$outDir/verify_progress.jsonl"),
        line.getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      ()
    } catch { case e: Throwable =>
      System.err.println(s"[verify] progress log write failed: $e")
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name substrings — local iteration
    // on a few queries without running the whole registry (driver passes 2)
    val only = args.lift(2).map(_.split(',').toSeq)
    def selected(name: String): Boolean =
      only.forall(_.exists(name.contains))
    val spark = Tables.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // oracle map FIRST: it gates the entire downstream compare and needs
    // no query execution — a killed run must never lose it
    writeOracleJson(outDir)
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        appendProgress(outDir, name, ok = true,
          (System.nanoTime() - t0) / 1e9, None)
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a crashed query must never present a previous run's parquet as
        // this run's output — remove any stale result dir
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(s"$outDir/$name"))
        appendProgress(outDir, name, ok = false,
          (System.nanoTime() - t0) / 1e9,
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}"))
      }
      // each query is an independent program: release its operator-internal
      // persists at the boundary (memoized model caches deliberately survive)
      finally CacheScope.releaseAll()
    }
    spark.stop()
  }
}
