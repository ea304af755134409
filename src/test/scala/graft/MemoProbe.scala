package graft
import org.apache.spark.sql.functions._
import graft.ops.TextAnalysisOps

/** Diagnostic: does the session-shared tokenized/postings memo cut real
  * time out of the q70 family at sf0.1, interleaved old-path vs memo-path
  * in one process so host-load windows hit both? Run:
  * `sbt "Test/runMain graft.MemoProbe [sfDir]"`.
  */
object MemoProbe {
  def main(args: Array[String]): Unit = {
    val spark = Tables.localSession(32)
    spark.sparkContext.setLogLevel("WARN")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.documents(spark, dir).limit(1).count()
    def time(name: String, n: Int = 4)(f: => Unit): Unit = {
      val ts = (1 to n).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      println(f"PROBE $name min=${ts.min}%.3f all=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    // OLD path: full unigramRarity from text (per-query persist lifecycle)
    time("q70_old") {
      TextAnalysisOps.unigramRarity(Tables.documents(spark, dir))
        .orderBy("doc_id").write.format("noop").mode("overwrite").save()
      CacheScope.releaseAll()
    }
    // NEW path with WARM memo
    queries.AnalysisQueries.q70UnigramRarity(spark, dir)
      .write.format("noop").mode("overwrite").save() // builds memo
    time("q70_memo_warm") {
      queries.AnalysisQueries.q70UnigramRarity(spark, dir)
        .write.format("noop").mode("overwrite").save()
      CacheScope.releaseAll()
    }
    time("q70b_memo_warm") {
      queries.AnalysisQueries.q70bBigramFamiliarity(spark, dir)
        .write.format("noop").mode("overwrite").save()
      CacheScope.releaseAll()
    }
    time("q90_memo_warm") {
      queries.AnalysisQueries.q90BigramSurprisal(spark, dir)
        .write.format("noop").mode("overwrite").save()
      CacheScope.releaseAll()
    }
    // components: what does each remaining stage cost?
    val ids = Tables.documents(spark, dir).select("doc_id")
    time("ids_only") {
      ids.write.format("noop").mode("overwrite").save()
    }
    time("noop_range") {
      spark.range(1000L).write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
