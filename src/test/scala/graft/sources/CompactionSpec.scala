package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Invariants of DocumentSources.compactFiles that no SQL oracle can see:
  * file-count reduction, bin-size bounds, idempotence, oversized-file
  * handling, and the park/restore crash-recovery sweep.
  */
class CompactionSpec extends SparkSpec {

  private def fs =
    new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFiles(dir: String): Seq[Path] =
    fs.listStatus(new Path(dir))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_")
        && !st.getPath.getName.startsWith("."))
      .map(_.getPath).toSeq.sortBy(_.getName)

  /** Seed a 2-partition tree fragmented into many small files. */
  private def seed(name: String, rowsPerPart: Int = 50, tasks: Int = 8): String = {
    import sqlImplicits._
    val root = graft.Scratch.dir(name)
    fs.delete(new Path(root), true)
    (0 until 2 * rowsPerPart)
      .map(i => (i.toLong, s"text-$i-${"x" * 100}", i % 2))
      .toDF("doc_id", "text", "part")
      .repartition(tasks)
      .write.mode("overwrite").partitionBy("part").parquet(root)
    root
  }

  private def content(root: String) =
    spark.read.parquet(root).select("doc_id", "text", "part")
      .orderBy("doc_id").collect().toSeq

  test("compaction merges fragments, preserves content, reports the manifest") {
    val root = seed("compact_spec_a")
    val before = content(root)
    val filesBefore = dataFiles(s"$root/part=0").length
    assert(filesBefore > 1, "seed must fragment")
    val manifest = DocumentSources
      .compactFiles(spark, root, targetBytes = 1L << 30)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(manifest.map(_._1).toSeq === Seq("part=0", "part=1"))
    manifest.foreach { case (p, in, out) =>
      assert(in > 1, s"$p files_in")
      assert(out === 1L, s"$p should pack into one bin under a 1 GiB target")
    }
    assert(dataFiles(s"$root/part=0").length === 1)
    assert(dataFiles(s"$root/part=1").length === 1)
    assert(content(root) === before)
  }

  test("re-running compaction is a listing-only no-op") {
    val root = seed("compact_spec_b")
    DocumentSources.compactFiles(spark, root, targetBytes = 1L << 30)
    val names = dataFiles(s"$root/part=0").map(_.getName)
    val manifest2 = DocumentSources
      .compactFiles(spark, root, targetBytes = 1L << 30)
      .collect()
    manifest2.foreach(r => assert(r.getLong(1) === r.getLong(3),
      s"${r.getString(0)} rewritten on second run"))
    assert(dataFiles(s"$root/part=0").map(_.getName) === names,
      "second run must not touch file names")
  }

  test("bin packing respects targetBytes; oversized files keep their own bin") {
    val root = seed("compact_spec_c")
    val sizes = fs.listStatus(new Path(s"$root/part=0"))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
      .map(_.getLen)
    // a target below the largest single file: that file must stay alone,
    // and every multi-file bin's input bytes must fit the target
    val target = sizes.max + sizes.min
    val manifest = DocumentSources.compactFiles(spark, root, target)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    manifest.foreach { case (p, in, out) =>
      assert(out < in, s"$p should still reduce file count")
      assert(out > 1, s"$p cannot fit one bin under target=$target")
    }
    // content survives the partial packing
    assert(spark.read.parquet(root).count() === 100L)
  }

  test("streaming merge with auto-compaction: same content, bounded files") {
    import sqlImplicits._
    val chunks = Seq(
      (0L to 9L).map(i => i -> s"v0-$i"),
      Seq(0L, 2L, 4L, 6L, 8L, 10L).map(i => i -> s"v1-$i"),
      Seq(0L, 5L, 10L).map(i => i -> s"v2-$i"))
    val streamDir = java.nio.file.Files.createTempDirectory("compact-stream")
    chunks.zipWithIndex.foreach { case (rows, i) =>
      val work = java.nio.file.Files
        .createTempDirectory(s"compact-src-$i").resolve("out")
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(work.toString)
      val f = java.nio.file.Files.list(work).iterator()
      var p: java.nio.file.Path = null
      while (f.hasNext) { val c = f.next(); if (c.toString.endsWith(".parquet")) p = c }
      val dst = streamDir.resolve(f"$i%03d.parquet")
      java.nio.file.Files.move(p, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 60000L))
    }
    def run(compacting: Boolean): (Map[Long, String], Int) = {
      val tree = graft.Scratch.dir(s"compact_stream_$compacting")
      fs.delete(new Path(tree), true)
      val ck = java.nio.file.Files.createTempDirectory("compact-ck").toString
      val src = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
      val q =
        if (compacting) graft.streaming.StreamingOps.mergeUpsertStreamCompacting(
          src, tree, nBuckets = 4, ck, maxFilesPerDir = 1)
        else graft.streaming.StreamingOps.mergeUpsertStream(src, tree, 4, ck)
      try q.processAllAvailable() finally q.stop()
      val content = spark.read.parquet(tree).select("doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val maxFiles = fs.listStatus(new Path(tree))
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .map(st => dataFiles(st.getPath.toString).length).max
      (content, maxFiles)
    }
    val (plain, plainMax) = run(compacting = false)
    val (auto, autoMax) = run(compacting = true)
    assert(auto === plain, "compaction must not change merged content")
    assert(auto === chunks.flatten.toMap)
    assert(autoMax === 1, s"auto-compacted dirs must be single-file, got $autoMax")
    assert(plainMax > 1, "fixture must actually fragment without compaction")
  }

  test("recovery sweep restores a parked dir with no live twin") {
    val root = seed("compact_spec_d")
    val before = content(root)
    // simulate a crash between park and rename-in: part=0 parked, gone live
    val oldRoot = new Path(s"$root-old")
    assert(fs.mkdirs(oldRoot))
    assert(fs.rename(new Path(s"$root/part=0"), new Path(oldRoot, "part=0")))
    assert(!fs.exists(new Path(s"$root/part=0")))
    DocumentSources.compactFiles(spark, root, targetBytes = 1L << 30)
    assert(!fs.exists(oldRoot), "recovery must clear the -old tree")
    assert(content(root) === before, "parked partition must be restored")
  }

  test("recovery sweep drops a parked dir that has a live twin") {
    import sqlImplicits._
    // one file per partition: the compaction rewrites no dir, so only the
    // sweep can keep the parked copy out of the live tree
    val root = seed("compact_spec_e", tasks = 1)
    val before = content(root)
    // simulate a crash after rename-in, before the drop: part=0 is live
    // and a superseded copy (distinct rows) still sits in the -old tree
    val oldRoot = new Path(s"$root-old")
    Seq((-1L, "superseded")).toDF("doc_id", "text")
      .write.parquet(new Path(oldRoot, "part=0").toString)
    DocumentSources.compactFiles(spark, root, targetBytes = 1L << 30)
    assert(!fs.exists(oldRoot), "recovery must clear the -old tree")
    assert(content(root) === before, "the live twin must win over the parked copy")
  }

  test("recovery sweep drops a stale -staging tree") {
    import sqlImplicits._
    val root = seed("compact_spec_f")
    val before = content(root)
    // a crashed compaction's half-built staging dir: left in place, its
    // rows would be swapped in beside the fresh bins as duplicates
    val staging = new Path(s"$root-staging")
    Seq((0L, "stale")).toDF("doc_id", "text")
      .write.parquet(new Path(staging, "part=0").toString)
    val manifest = DocumentSources.compactFiles(spark, root, targetBytes = 1L << 30)
    assert(manifest.where(col("files_out") < col("files_in")).count() === 2,
      "both fragmented partitions must be rebuilt through the staging tree")
    assert(!fs.exists(staging), "the staging tree must be dropped")
    assert(content(root) === before, "stale staged rows must not reach the tree")
  }
}
