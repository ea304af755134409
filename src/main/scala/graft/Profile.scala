package graft

/** Dev tool (r15 optimization round): phase-level timing probes for the
  * expensive bench rows — the "measure first" half of the optimization
  * loop (guide §1). Each probe is a hand-split copy of a registered
  * query's orchestration so the wall-clock can be attributed to phases
  * (staging scan/write, stream micro-batches, read-back) that a single
  * noop-sink timing cannot separate. Probes are NEVER a query surface:
  * results are printed, not returned, and nothing here is registered in
  * SparkEntry. `runMain graft.Profile <probe> [sfDir]`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val probe = args.headOption.getOrElse("stream:q185_stream_click_attribution")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = Tables.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // attribution dial (dev only): decouple the shuffle-partition count
    // from the core count so anti-scaling readings can be split into
    // "more cores" vs "more tasks per stage"
    sys.env.get("GRAFT_PROFILE_SHUFFLE")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).limit(1).count()
    def timed[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[profile] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    probe match {
      case s if s.startsWith("stream:") =>
        // a streaming query end-to-end, with per-batch durations from the
        // engine's own StreamingQueryProgress records (walCommit /
        // addBatch / getBatch / commitOffsets / stateOps breakdown).
        val name = s.stripPrefix("stream:")
        spark.streams.addListener(
          new org.apache.spark.sql.streaming.StreamingQueryListener {
            import org.apache.spark.sql.streaming.StreamingQueryListener._
            def onQueryStarted(e: QueryStartedEvent): Unit =
              println(s"[stream] started run=${e.runId}")
            def onQueryProgress(e: QueryProgressEvent): Unit = {
              val p = e.progress
              println(s"[batch ${p.batchId}] rows=${p.numInputRows} " +
                s"durations=${p.durationMs} state=${
                  p.stateOperators.map(o => s"rows=${o.numRowsTotal} " +
                    s"commitMs=${o.commitTimeMs}").mkString("; ")}")
            }
            def onQueryTerminated(e: QueryTerminatedEvent): Unit =
              println(s"[stream] terminated run=${e.runId}")
          })
        (1 to 2).foreach { round =>
          println(s"--- round $round ---")
          timed(s"$name end-to-end") {
            SparkEntry.queries(name)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
          }
          CacheScope.releaseAll()
        }
      case "q123" =>
        (1 to 3).foreach { _ =>
          timed("q123 column stats") {
            graft.queries.RelationalQueries.queries("q123_column_stats")(
              spark, sfDir).write.format("noop").mode("overwrite").save()
          }
          CacheScope.releaseAll()
        }
      case "q41" =>
        // phase attribution for the q41 32-core anti-scaling reading:
        // which piece of tags() pays for parallelism?
        import graft.ml.TopicPipeline
        val docs = Tables.documents(spark, sfDir)
        timed("fit sub-phase: featurize+narrow count") {
          TopicPipeline.featurize(docs).select("doc_id", "terms").count()
        }
        val f = timed("LDA fit (q40/q41 shared memo)") {
          TopicPipeline.fit(docs)
        }
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        (1 to 3).foreach { i =>
          timed(s"[$i] transform only (topicDistributions)") {
            noop(TopicPipeline.topicDistributions(f))
          }
          timed(s"[$i] full tags()") {
            noop(TopicPipeline.tags(f))
          }
          timed(s"[$i] q41 complete (tags + join + orderBy)") {
            noop(graft.queries.TopicQueries.queries("q41_doc_tags")(
              spark, sfDir))
          }
          CacheScope.releaseAll()
        }
        println(s"[profile] tokenized partitions: " +
          f.tokenized.rdd.getNumPartitions)
      case other =>
        // generic: time any registered query 3x warm with one cold first
        val fn = SparkEntry.queries(other)
        graft.queries.SessionMemos.evictAll()
        timed(s"$other cold") {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        CacheScope.releaseAll()
        (1 to 3).foreach { i =>
          timed(s"$other warm$i") {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          }
          CacheScope.releaseAll()
        }
    }
    spark.stop()
  }
}
