package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** DocumentSources.mergeUpsertBuckets — the no-table-format MERGE:
  * latest-wins content, untouched buckets byte-identical (file paths AND
  * modification times), buckets emptied by deletes swept, staging tree
  * cleaned up.
  */
class MergeUpsertSpec extends SparkSpec {
  import sqlImplicits._

  private val nBuckets = 4

  private def fileState(path: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(path))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.lastModified).toMap
  }

  private def writeBase(path: String, rows: Seq[(Long, String)]): Unit =
    rows.toDF("doc_id", "text")
      .withColumn("bucket", pmod(col("doc_id"), lit(nBuckets)).cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  private def readTree(path: String): Map[Long, String] =
    spark.read.parquet(path).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("latest-wins merge touches only affected buckets; others stay " +
      "byte-identical") {
    val tmp = graft.Scratch.dir("merge_spec_a")
    // ids 0..7 cover all 4 buckets twice
    writeBase(tmp, (0L to 7L).map(i => i -> s"v1-$i"))
    val before = fileState(tmp)
    // delta touches buckets 1 (update id 1, add id 9) and 2 (delete id 2)
    val upserts = Seq((1L, "v2-1"), (9L, "v2-9")).toDF("doc_id", "text")
    val deletes = Seq(Tuple1(2L)).toDF("doc_id")
    val affected = DocumentSources.mergeUpsertBuckets(
      spark, tmp, upserts, deletes, nBuckets)
    assert(affected == Seq(1, 2))
    val want = ((0L to 7L).filterNot(_ == 2L).map(i => i -> s"v1-$i").toMap
      ++ Map(1L -> "v2-1", 9L -> "v2-9"))
    assert(readTree(tmp) == want)
    // buckets 0 and 3 were not in the delta: same files, same mtimes
    val after = fileState(tmp)
    def bucketFiles(m: Map[String, Long], b: Int) =
      m.filter(_._1.contains(s"bucket=$b"))
    for (b <- Seq(0, 3))
      assert(bucketFiles(after, b) == bucketFiles(before, b), s"bucket $b")
    for (b <- Seq(1, 2))
      assert(bucketFiles(after, b) != bucketFiles(before, b), s"bucket $b")
    // staging tree cleaned up
    assert(!new java.io.File(s"$tmp-staging").exists)
  }

  test("a bucket emptied by deletes is swept, not left stale") {
    val tmp = graft.Scratch.dir("merge_spec_b")
    // bucket 1 holds exactly one row (id 1); deleting it empties the bucket
    writeBase(tmp, Seq(0L -> "a", 1L -> "b", 2L -> "c"))
    val affected = DocumentSources.mergeUpsertBuckets(
      spark, tmp, Seq.empty[(Long, String)].toDF("doc_id", "text"),
      Seq(Tuple1(1L)).toDF("doc_id"), nBuckets)
    assert(affected == Seq(1))
    assert(readTree(tmp) == Map(0L -> "a", 2L -> "c"))
    assert(!new java.io.File(s"$tmp/bucket=1").exists)
  }

  test("empty delta is a no-op returning no affected buckets") {
    val tmp = graft.Scratch.dir("merge_spec_c")
    writeBase(tmp, Seq(0L -> "a"))
    val before = fileState(tmp)
    val affected = DocumentSources.mergeUpsertBuckets(
      spark, tmp, Seq.empty[(Long, String)].toDF("doc_id", "text"),
      Seq.empty[Long].map(Tuple1(_)).toDF("doc_id"), nBuckets)
    assert(affected.isEmpty)
    assert(fileState(tmp) == before)
  }

  test("mergeUpsertStream: chunked upsert replay converges to latest-wins; " +
      "re-applying the final batch is a no-op (replay idempotence)") {
    // three overlapping upsert chunks, one file per micro-batch
    // (maxFilesPerTrigger=1, mtime-ordered), no pre-existing tree —
    // batch 0 bootstraps it
    val chunks = Seq(
      (0L to 9L).map(i => i -> s"v0-$i"),
      Seq(0L, 2L, 4L, 6L, 8L, 10L).map(i => i -> s"v1-$i"),
      Seq(0L, 5L, 10L).map(i => i -> s"v2-$i"))
    val streamDir = java.nio.file.Files.createTempDirectory("merge-stream")
    val work = java.nio.file.Files.createTempDirectory("merge-stream-work")
    chunks.zipWithIndex.foreach { case (rows, i) =>
      val part = work.resolve(s"c$i")
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(part.toString)
      val src = java.nio.file.Files.list(part).iterator()
      var f: java.nio.file.Path = null
      while (src.hasNext) { val p = src.next(); if (p.toString.endsWith(".parquet")) f = p }
      val dst = streamDir.resolve(f"$i%03d.parquet")
      java.nio.file.Files.move(f, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 60000L))
    }
    val tree = graft.Scratch.dir("merge_stream_tree")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(tree))
    val checkpoint = java.nio.file.Files
      .createTempDirectory("merge-stream-ck").toString
    val src = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
    val q = graft.streaming.StreamingOps
      .mergeUpsertStream(src, tree, nBuckets, checkpoint)
    try q.processAllAvailable() finally q.stop()
    val want = chunks.flatten.toMap // later chunks override earlier keys
    assert(readTree(tree) == want)
    // replay the FINAL batch (the only one foreachBatch can re-run after
    // a crash-before-commit): the merge is a fixed point
    DocumentSources.mergeUpsertBuckets(spark, tree,
      chunks.last.toDF("doc_id", "text"),
      Seq.empty[Long].map(Tuple1(_)).toDF("doc_id"), nBuckets)
    assert(readTree(tree) == want)
  }

  test("writeSorted produces pairwise-disjoint per-file key ranges " +
      "(the zone-map layout)") {
    val tmp = graft.Scratch.dir("sorted_write")
    val df = spark.range(0, 10000).select(
      (col("id") * 2654435761L % 10000).as("key"), col("id").as("payload"))
    DocumentSources.writeSorted(df, tmp, "key", numFiles = 8)
    val files = Option(new java.io.File(tmp).listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    assert(files.size == 8, files.size)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min("key"), max("key")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    // near-disjoint by construction of repartitionByRange: each file's
    // min must be >= the previous file's max (boundary keys may touch)
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) => assert(bMin >= aMax, ranges)
      case _ =>
    }
    // within-file sortedness: first/last row of one file bracket its range
    val one = spark.read.parquet(files.head).select("key").collect()
      .map(_.getLong(0))
    assert(one.toSeq == one.sorted.toSeq)
  }

  test("base scan prunes to the affected buckets (partition filter)") {
    val tmp = graft.Scratch.dir("merge_spec_d")
    writeBase(tmp, (0L to 7L).map(i => i -> s"v-$i"))
    // the same filter shape the merge builds: bucket isin(affected)
    val plan = spark.read.parquet(tmp)
      .where(col("bucket").isin(1, 2))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      plan.take(800))
  }

  test("a key both upserted and deleted dies on the merge AND bootstrap " +
      "paths alike (tombstone-last)") {
    import graft.sources.DocumentSources.mergeUpsertBuckets
    val up = Seq((5L, "v2"), (6L, "v2")).toDF("doc_id", "text")
    val del = Seq(Tuple1(5L)).toDF("doc_id")
    // bootstrap path
    val boot = java.nio.file.Files.createTempDirectory("graft-mu-boot")
      .resolve("tree").toString
    mergeUpsertBuckets(spark, boot, up, del, nBuckets)
    assert(readTree(boot) == Map(6L -> "v2"))
    // merge path over an existing tree carrying the key
    val mrg = java.nio.file.Files.createTempDirectory("graft-mu-mrg")
      .resolve("tree").toString
    writeBase(mrg, Seq((5L, "v1"), (6L, "v1"), (7L, "v1")))
    mergeUpsertBuckets(spark, mrg, up, del, nBuckets)
    assert(readTree(mrg) == Map(6L -> "v2", 7L -> "v1"),
      "delete must win over a same-batch upsert on the merge path too")
  }

  test("recovery sweep restores a bucket parked by an interrupted swap") {
    import graft.sources.DocumentSources.mergeUpsertBuckets
    val root = java.nio.file.Files.createTempDirectory("graft-mu-rec")
      .resolve("tree").toString
    writeBase(root, Seq((1L, "a"), (2L, "b"), (5L, "c")))
    // simulate a crash between park and rename-in for bucket=1: the live
    // dir is gone, its content sits in the -old tree
    val live = new java.io.File(s"$root/bucket=1")
    val oldDir = new java.io.File(s"$root-old")
    assert(oldDir.mkdirs())
    assert(live.renameTo(new java.io.File(oldDir, "bucket=1")))
    assert(!live.exists)
    // the next merge call must first restore bucket=1 (docs 1 and 5),
    // then apply the delta against the INTACT base
    val up = Seq((2L, "b2")).toDF("doc_id", "text")
    val del = spark.emptyDataFrame.selectExpr("CAST(1 AS LONG) AS doc_id")
      .where(lit(false))
    mergeUpsertBuckets(spark, root, up, del, nBuckets)
    assert(readTree(root) == Map(1L -> "a", 2L -> "b2", 5L -> "c"),
      "parked bucket content must survive the interrupted swap")
    assert(!oldDir.exists, "recovery must clean the -old tree")
  }

  test("recovery sweep drops a parked bucket that has a live twin") {
    import graft.sources.DocumentSources.mergeUpsertBuckets
    val root = java.nio.file.Files.createTempDirectory("graft-mu-twin")
      .resolve("tree").toString
    writeBase(root, Seq((1L, "a"), (2L, "b"), (5L, "c")))
    // simulate a crash after rename-in, before the drop: bucket=1 is live
    // and a superseded copy (distinct rows) still sits in the -old tree
    Seq((9L, "superseded")).toDF("doc_id", "text")
      .write.parquet(s"$root-old/bucket=1")
    val oldDir = new java.io.File(s"$root-old")
    assert(oldDir.exists)
    val up = Seq((2L, "b2")).toDF("doc_id", "text")
    val del = spark.emptyDataFrame.selectExpr("CAST(1 AS LONG) AS doc_id")
      .where(lit(false))
    mergeUpsertBuckets(spark, root, up, del, nBuckets)
    assert(readTree(root) == Map(1L -> "a", 2L -> "b2", 5L -> "c"),
      "the live twin must win over the parked copy")
    assert(!oldDir.exists, "recovery must clean the -old tree")
  }

  test("recovery sweep drops a stale -staging tree") {
    import graft.sources.DocumentSources.mergeUpsertBuckets
    val root = java.nio.file.Files.createTempDirectory("graft-mu-stage")
      .resolve("tree").toString
    // a stale staging tree beside a missing base: the bootstrap writes the
    // live tree directly, so only the sweep removes it (on the merge path
    // the staging write would overwrite it anyway)
    Seq((9L, "stale")).toDF("doc_id", "text")
      .write.parquet(s"$root-staging/bucket=1")
    val staging = new java.io.File(s"$root-staging")
    assert(staging.exists)
    val up = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val del = spark.emptyDataFrame.selectExpr("CAST(1 AS LONG) AS doc_id")
      .where(lit(false))
    mergeUpsertBuckets(spark, root, up, del, nBuckets)
    assert(readTree(root) == Map(1L -> "a", 2L -> "b"))
    assert(!staging.exists, "recovery must drop the stale staging tree")
  }
}
