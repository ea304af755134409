package graft
import org.apache.spark.sql.functions._
import graft.ops.{TextAnalysisOps, TextOps}

/** Diagnostic main behind SCALING.md's q70/q70b attribution: times the
  * rarity-profile shape and its ablations at sf0.001, where the data
  * work is microseconds, so whatever remains is per-stage scheduling /
  * codegen floor. Run: `sbt "Test/runMain graft.Q70Probe"`.
  */
object Q70Probe {
  def main(args: Array[String]): Unit = {
    val spark = Tables.localSession(32)
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"
    spark.range(1000000L).selectExpr("sum(id)").collect()
    def time(name: String)(f: => Unit): Unit = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      println(f"PROBE $name min=${ts.min}%.3f all=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    val docs = Tables.documents(spark, dir)
    // full q70b
    time("q70b_full") {
      TextAnalysisOps.bigramFamiliarity(Tables.documents(spark, dir))
        .orderBy("doc_id").write.format("noop").mode("overwrite").save()
      CacheScope.releaseAll()
    }
    // no persist: tokenize twice
    time("q70b_nopersist") {
      val terms = TextAnalysisOps.bigramInstances(Tables.documents(spark, dir))
      val postings = terms.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val vocab = postings.groupBy(col("tok")).agg(sum(col("tf")).as("ctf"))
      val log2Ctf = (length(conv(col("ctf"), 10, 2)) - 1).cast("long")
      val profile = postings.join(vocab, Seq("tok"))
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(when(col("ctf") === 1, col("tf")).otherwise(0L)).as("n_hapax"),
          sum(when(col("ctf") <= 10, col("tf")).otherwise(0L)).as("n_rare"),
          min(col("ctf")).as("min_ctf"),
          sum(col("tf") * log2Ctf).as("sum_log2_ctf"))
      Tables.documents(spark, dir).select(col("doc_id")).join(profile, Seq("doc_id"), "left")
        .orderBy("doc_id").write.format("noop").mode("overwrite").save()
    }
    // postings agg only (persisted)
    time("postings_persist_only") {
      val p = CacheScope.persist(
        TextAnalysisOps.bigramInstances(Tables.documents(spark, dir))
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))
      p.write.format("noop").mode("overwrite").save()
      CacheScope.releaseAll()
    }
    // postings agg only (no persist)
    time("postings_only") {
      TextAnalysisOps.bigramInstances(Tables.documents(spark, dir))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
        .write.format("noop").mode("overwrite").save()
    }

    // bench-lifecycle: 2 runs per query, release AFTER both (Bench's rule)
    def timeBench(name: String)(f: => Unit): Unit = {
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      CacheScope.releaseAll()
      println(f"PROBE $name run1=${ts(0)}%.3f run2=${ts(1)}%.3f")
    }
    (1 to 3).foreach { i =>
      timeBench(s"q70b_benchstyle_$i") {
        TextAnalysisOps.bigramFamiliarity(Tables.documents(spark, dir))
          .orderBy("doc_id").write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
