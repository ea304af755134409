package graft

/** Dev tool: print the formatted physical plan of registered queries —
  * `runMain graft.Explain <sfDir> [queryName...]` (all queries when none
  * given). Used to audit pushdown/pruning/broadcast/codegen decisions
  * (builder checklist: PushedFilters reach the scan, small dims broadcast,
  * WholeStageCodegen spans stay wide).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // same session shape as Verify/Bench (r15): the audited plans must
    // come from the session the harnesses actually run — the extension
    // rules and the parallelism both affect plan shape
    val spark = Tables.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries.get(n) match {
        case Some(fn) => println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        case None => println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}
