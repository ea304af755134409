package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sources & sinks (SURVEY.md §2.1 S1-S5): the reference ingests uploaded
  * PDFs (S1/S2), guards null extractions (S3), and exports CSV (S4). Here
  * that surface is Spark-native: `binaryFile` scans for raw documents,
  * line/whole-file text readers with per-file lineage, and header'd CSV /
  * partitioned parquet sinks.
  *
  * PDF text extraction is real: PdfText decodes FlateDecode streams with
  * the JDK Inflater and parses content-stream text operators — the
  * simple-PDF subset (no CID fonts / encryption / object streams; see
  * PdfText scaladoc). Production can swap a full-spec extractor (e.g.
  * pdfbox) behind the same column signature.
  *
  * Scale: binaryFile rows carry whole payloads — size partitions by bytes
  * (`maxPartitionBytes`), extract text EARLY, and drop `content` before
  * any shuffle. The CSV sink writes one file per partition; a 100 TB
  * export stays parallel (no coalesce(1) — callers merge downstream if a
  * single file is truly required).
  */
object DocumentSources {

  /** S1/S2: multi-file binary scan — one row per file with lineage
    * `(path, modificationTime, length, content BINARY)`.
    */
  def readBinaryDocs(spark: SparkSession, glob: String): DataFrame =
    spark.read.format("binaryFile").load(glob)

  /** S1 (extraction step): text from a PDF byte column via the real
    * in-JVM extractor (PdfText: stream scan → Inflater for FlateDecode →
    * content-stream text operators; see its scaladoc for the supported
    * subset). Non-PDF payloads and PDFs with no extractable text yield
    * null, feeding the S3 guard exactly like a failed extraction.
    *
    * This is deliberately a UDF — one of the engine's three justified
    * imperative escapes (with the multimodal decode and the top-k heap
    * aggregator): decoding an opaque binary codec is per-row CPU work
    * Catalyst can neither express nor optimize, and it sits on an
    * ingest path, never inside an oracle-verified relational plan.
    */
  def extractPdfText(content: Column): Column = {
    val extract = udf { bytes: Array[Byte] =>
      PdfText.extract(bytes).filter(_.nonEmpty).orNull
    }
    extract(content)
  }

  /** S1/S2/S3 composed: directory of PDFs → `(path, text)` with failed
    * extractions dropped — the reference's upload-extract-guard loop
    * (nlp_data_tagging.py:37-52) as one scan. `content` is dropped in the
    * same select so only extracted text (not whole payloads) ever crosses
    * a shuffle.
    */
  def readPdfDocs(spark: SparkSession, glob: String): DataFrame =
    dropFailedExtractions(
      readBinaryDocs(spark, glob)
        .select(col("path"), extractPdfText(col("content")).as("text")))

  /** S2: text corpus from a directory of text files, one row per file with
    * filename lineage — the closest analogue of the reference's
    * upload-N-files loop.
    */
  def readWholeTextDocs(spark: SparkSession, glob: String): DataFrame =
    spark.read.format("binaryFile").load(glob)
      .select(col("path"), col("content").cast("string").as("text"))

  /** S3: the null-extraction guard (`if raw_text:`). */
  def dropFailedExtractions(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.where(col(textCol).isNotNull && length(col(textCol)) > 0)

  /** S4: header'd CSV export of the result relation. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** Read back a header'd CSV with schema inference off (explicit schema
    * beats inference at scale — one pass, no sampling job).
    */
  def readCsv(spark: SparkSession, path: String, schema: String): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** Training-data sink: JSON-lines shards, the de-facto LLM-corpus
    * interchange format (one JSON object per line, splittable, appendable
    * shard-by-shard). Jackson emits doubles at round-trip precision, so
    * numeric columns survive the text hop losslessly.
    */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Read back JSON-lines with an explicit schema — at corpus scale,
    * schema inference is a full extra pass over the data; never pay it.
    */
  def readJsonl(spark: SparkSession, path: String, schema: String): DataFrame =
    spark.read.schema(schema).json(path)

  /** Scale-path sink: parquet partitioned by the given columns — the
    * layout that makes downstream partition pruning work at 100 TB.
    */
  def writePartitioned(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)

  /** Range-partitioned, WITHIN-FILE-SORTED parquet write — the zone-map
    * layout: `repartitionByRange(sortCol)` gives each output file a
    * narrow, near-disjoint key range, and `sortWithinPartitions` orders
    * rows inside it, so every parquet row group's min/max statistics
    * become tight. At 100 TB this is what makes a point/range predicate
    * on `sortCol` skip entire files and row groups at scan time (the
    * reader prunes on footer stats before touching data pages) — the
    * poor man's clustered index, no table format needed. The unit
    * asserts the files' key ranges are pairwise disjoint; rowgroup-level
    * skipping follows from the same stats the assertion reads.
    */
  def writeSorted(df: DataFrame, path: String, sortCol: String,
                  numFiles: Int): Unit =
    df.repartitionByRange(numFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)

  /** [[writeSorted]] generalized to a MULTI-column clustering key: range-
    * partition and sort by a Z-order curve key ([[graft.ops.ZOrder]]), so
    * every output file carries a small bounding box in BOTH clustering
    * dimensions and footer min/max stats prune predicates on EITHER
    * column — the `OPTIMIZE ZORDER BY` layout with no table format. The
    * curve key column is dropped before writing (it is derivable, and
    * the layout, not the key, is the product); ZOrderLayoutSpec asserts
    * the per-file boxes quantitatively against the 1-D layout's.
    */
  def writeZOrdered(df: DataFrame, path: String, zCol: org.apache.spark.sql.Column,
                    numFiles: Int): Unit =
    df.withColumn("__z", zCol)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** MERGE INTO a bucket-partitioned parquet tree WITHOUT a table format
    * — the upsert every corpus refresh needs when Delta/Iceberg is not on
    * the classpath (with one, the body becomes a literal MERGE). The
    * stored tree is partitioned by `bucket = doc_id % nBuckets`; an
    * incoming delta (`upserts` rows keyed by `doc_id`, `deleteKeys` ids
    * to remove) touches only the buckets its keys hash into:
    *
    *  1. the affected-bucket set is collected (scalar-bound: ≤ nBuckets
    *     ints) and pushed into the base read as a partition filter — the
    *     scan prunes to affected directories, never the corpus;
    *  2. merged content = base rows whose key is NOT in the delta
    *     (left-anti on upsert ∪ delete keys) ∪ the upserts — latest-wins
    *     by construction;
    *  3. the merge is written to a STAGING tree first, then swapped in
    *     per bucket through [[StoreSwap.swapDirs]]' RECOVERABLE
    *     three-step (park the live dir in a sibling `-old` tree, rename
    *     the staged dir in, drop the parked dir). Never
    *     read-while-overwrite — the self-overwrite hazard a direct
    *     dynamic overwrite of the tree being scanned would race — and a
    *     bucket emptied by deletes simply has no staged dir, so the swap
    *     removes it (no stale files). A crash anywhere inside the swap
    *     leaves either the parked dir with no live twin (restored by the
    *     NEXT call's recovery sweep before it reads the base — the base
    *     is intact, the replay re-merges) or both dirs (the swap
    *     completed — the leftover is dropped), so a replayed batch
    *     converges instead of losing the bucket's non-delta rows.
    *
    * At 100 TB this is the operational shape: a day's delta rewrites
    * O(affected buckets) of data while every untouched bucket's files
    * stay byte-identical (unit-asserted). Returns the affected buckets.
    *
    * Contract: `upserts` must be UNIQUE by `doc_id` — a CDC batch
    * carrying two versions of one key must be pre-collapsed to its
    * latest (the anti-join removes the base row, but two in-batch
    * versions would BOTH survive the union). The streaming twin's
    * micro-batches satisfy this when the source is itself keyed; a raw
    * change stream needs a per-batch latest-wins aggregate first.
    * A key in BOTH `upserts` and `deleteKeys` is DELETED — the tombstone
    * applies last, on the bootstrap and merge paths alike.
    */
  def mergeUpsertBuckets(spark: SparkSession, path: String,
                         upserts: DataFrame, deleteKeys: DataFrame,
                         nBuckets: Int): Seq[Int] = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val up = upserts.withColumn("bucket",
      pmod(col("doc_id"), lit(nBuckets)).cast("int"))
    val affected = up.select(col("bucket"))
      .union(deleteKeys.select(
        pmod(col("doc_id"), lit(nBuckets)).cast("int").as("bucket")))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    if (affected.isEmpty) return Nil
    val hRoot = new org.apache.hadoop.fs.Path(path)
    val fs = hRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recovery sweep before the base read: a bucket parked by a crashed
    // swap is restored, so the base scan below sees the pre-merge content
    StoreSwap.recoverDirs(fs, path, "mergeUpsertBuckets")
    // tombstone-last: a key both upserted and deleted in one delta dies
    // on every path (the bootstrap anti-join below is the same rule)
    val upLive = up.join(deleteKeys.select(col("doc_id")), Seq("doc_id"),
      "left_anti")
    if (!fs.exists(hRoot)) {
      // bootstrap: no tree yet — the delta IS the initial content
      upLive.write.mode("overwrite").partitionBy("bucket").parquet(path)
      return affected
    }
    val base = spark.read.parquet(path)
      .where(col("bucket").isin(affected.map(Int.box): _*))
    val gone = up.select(col("doc_id"))
      .union(deleteKeys.select(col("doc_id")))
    val merged = base.join(gone, Seq("doc_id"), "left_anti").unionByName(upLive)
    merged.write.mode("overwrite").partitionBy("bucket")
      .parquet(StoreSwap.stagingPath(path))
    StoreSwap.swapDirs(fs, path, affected.map(b => s"bucket=$b"),
      "mergeUpsertBuckets")
    affected
  }

  /** OPTIMIZE-style small-file compaction of a partitioned parquet tree
    * (the Delta Lake `OPTIMIZE` / Hive concatenate maintenance shape,
    * public semantics; no table format — pure filesystem). Streaming
    * ingest and frequent MERGEs fragment partition dirs into thousands of
    * KB-size files; scan parallelism then degrades to file-open overhead.
    * Per `key=value` partition dir: first-fit-decreasing bin-pack the data
    * files by size into bins ≤ `targetBytes` (an oversized file keeps its
    * own bin — never split, never rewritten alone), then rebuild only the
    * dirs where packing reduces the file count: multi-file bins are read
    * and rewritten as ONE file each; single-file bins are byte-copied
    * (with a manifest-based table format this copy becomes a metadata
    * move — the filesystem engine pays it for crash safety, see below).
    *
    * Crash safety is [[StoreSwap]]'s partition-directory protocol: every
    * replacement dir is FULLY built in the staging tree before any live
    * dir is touched, then [[StoreSwap.swapDirs]] parks → renames in →
    * drops, every rename/delete boolean checked; the
    * [[StoreSwap.recoverDirs]] sweep at call start restores parked dirs
    * with no live twin. The live tree is never in a mixed state.
    *
    * Scale shape: bin assignment is driver-side over the LISTING only
    * (names + lengths — the same metadata any planner reads; no data
    * moves to the driver), one rewrite job per multi-file bin reading
    * exactly that bin's files with `coalesce(1)` (no shuffle — a
    * file-granularity concatenation), dirs already compact are untouched,
    * so a re-run is a listing-only no-op (idempotence unit-gated in
    * CompactionSpec).
    *
    * Returns the compaction manifest: one row per partition dir —
    * `(partition, files_in, bytes_in, files_out)`, `files_out = files_in`
    * marking untouched dirs.
    */
  def compactFiles(spark: SparkSession, path: String,
                   targetBytes: Long): DataFrame = {
    import org.apache.hadoop.fs.Path
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    StoreSwap.recoverDirs(fs, path, "compactFiles")
    val partDirs = fs.listStatus(root).filter(st =>
      st.isDirectory && st.getPath.getName.contains("=")).sortBy(_.getPath.getName)
    require(partDirs.nonEmpty,
      s"compactFiles: no key=value partition dirs under $path")
    val staging = new Path(StoreSwap.stagingPath(path))
    val must = StoreSwap.mustFs("compactFiles") _
    val manifest = partDirs.map { dirSt =>
      val dir = dirSt.getPath
      val files = fs.listStatus(dir)
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_")
          && !st.getPath.getName.startsWith("."))
        .sortBy(st => (-st.getLen, st.getPath.getName)) // FFD: biggest first
      val bytesIn = files.map(_.getLen).sum
      // first-fit-decreasing: deterministic given (length, name) order
      val bins = scala.collection.mutable.ArrayBuffer
        .empty[(scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.FileStatus], Long)]
      files.foreach { f =>
        bins.indexWhere(_._2 + f.getLen <= targetBytes) match {
          case -1 => bins += ((scala.collection.mutable.ArrayBuffer(f), f.getLen))
          case i  => bins(i) = ((bins(i)._1 += f, bins(i)._2 + f.getLen))
        }
      }
      if (bins.length < files.length) {
        val stagedDir = new Path(staging, dir.getName)
        must(fs.mkdirs(stagedDir), s"mkdirs $stagedDir")
        bins.foreach { case (binFiles, _) =>
          if (binFiles.length == 1) {
            val f = binFiles.head.getPath
            must(org.apache.hadoop.fs.FileUtil.copy(
              fs, f, fs, new Path(stagedDir, f.getName), false, false,
              spark.sparkContext.hadoopConfiguration), s"copy $f")
          } else {
            spark.read.parquet(binFiles.map(_.getPath.toString).toSeq: _*)
              .coalesce(1)
              .write.mode("append").parquet(stagedDir.toString)
          }
        }
        (dir.getName, files.length.toLong, bytesIn, bins.length.toLong)
      } else (dir.getName, files.length.toLong, bytesIn, files.length.toLong)
    }
    StoreSwap.swapDirs(fs, path,
      manifest.collect { case (name, in, _, out) if out < in => name }.toSeq,
      "compactFiles")
    import spark.implicits._
    manifest.toSeq
      .toDF("partition", "files_in", "bytes_in", "files_out")
      .orderBy("partition")
  }

  /** §2.9 wordcloud feed: the whole corpus' summaries as one string
    * (`' '.join(summaries)`, nlp_data_tagging.py:334) — the only
    * presentation-layer aggregate the engine owns. collect_list's intra-
    * partition order is nondeterministic, so the pairs are sorted by
    * `orderCol` before joining — reproducible output at any parallelism.
    */
  def corpusText(df: DataFrame, textCol: String = "summary",
                 orderCol: String = "doc_id"): DataFrame =
    df.agg(
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col(orderCol), col(textCol)))),
        s => s.getField(textCol))).as("corpus_text"),
      count(lit(1)).as("n_docs"))

  /** Bucketed-table sink: `bucketBy(key) + sortBy(key) + saveAsTable`.
    * Two tables bucketed the same way join WITHOUT a shuffle (and with
    * sorted buckets, without a sort) — the standard layout investment for
    * repeated fact-fact joins at 100 TB: pay one write-side shuffle, then
    * every downstream join on the key is exchange-free.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  // --- deletion vectors: soft delete without rewriting data files ----------
  // The lakehouse deletion-vector pattern (Delta Lake DVs / Iceberg
  // position deletes — public semantics, no table format): a delete
  // touches ONLY a small per-bucket side artifact; the base parquet stays
  // byte-identical until a compaction decides the bucket's delete density
  // justifies a rewrite. At 100 TB this is the difference between a
  // GDPR takedown costing O(deleted keys) and costing a full-corpus
  // rewrite. This engine's DV is the id-set equivalent of a position
  // bitmap: a parquet relation `(bucket, doc_id)` partitioned by bucket,
  // tiny relative to data, whose read-path application is one
  // bucket-local anti-join (AQE broadcasts it when it fits).

  /** Merge `deleteKeys` (`bucket`, `doc_id`) into the DV tree at `dvPath`.
    * Keys are intersected with the live base (a DV row for a nonexistent
    * key would be an anti-join no-op but would corrupt density math),
    * unioned with the existing DV, de-duplicated, and swapped in whole —
    * the DV is O(deleted keys), so a full rewrite of it is the cheap
    * path; the swap is [[StoreSwap]]'s root-granularity protocol
    * (booleans checked, recovery sweep at next touch). The base tree is
    * NOT touched; its partition-directory recovery sweep still runs, so
    * any touch of the table heals a crashed base-bucket swap.
    */
  def softDelete(spark: SparkSession, basePath: String, dvPath: String,
                 deleteKeys: DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dvPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    StoreSwap.recover(fs, dvPath, "softDelete")
    StoreSwap.recoverDirs(new Path(basePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      basePath, "softDelete")
    val base = spark.read.parquet(basePath).select("bucket", "doc_id")
    val incoming = deleteKeys.select("bucket", "doc_id")
      .join(base, Seq("bucket", "doc_id"), "left_semi")
    val merged =
      if (fs.exists(new Path(dvPath)))
        readDv(spark, dvPath)
          .unionByName(incoming).distinct()
      else incoming.distinct()
    merged.write.mode("overwrite").partitionBy("bucket")
      .parquet(StoreSwap.stagingPath(dvPath))
    StoreSwap.swapIn(fs, dvPath, "softDelete")
  }

  /** DV tree scan with the schema pinned: once a compaction applies EVERY
    * outstanding delete, the tree holds only _SUCCESS (an empty
    * partitioned write) and parquet schema inference fails — the
    * fully-applied state must read as an empty relation, not throw.
    */
  private def readDv(spark: SparkSession, dvPath: String): DataFrame =
    spark.read.schema("doc_id LONG, bucket INT").parquet(dvPath)
      .select("bucket", "doc_id")

  /** Visible rows of a DV-carrying table: base scan minus the DV — ONE
    * bucket-keyed anti-join, never a rewrite. Missing DV tree = nothing
    * deleted.
    */
  def readVisible(spark: SparkSession, basePath: String,
                  dvPath: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(dvPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // read-only entry: restore crashed swaps (correctness), but never
    // delete a staging tree a concurrent writer may own. The park/restore
    // renames themselves still assume the table's SINGLE-WRITER contract
    // (mergeUpsertBuckets/softDelete/applyDeletionVectors serialize
    // writes); a reader racing an in-flight swap between park and
    // rename-in would restore the bucket the writer just parked.
    StoreSwap.recover(fs, dvPath, "readVisible", sweepStaging = false)
    StoreSwap.recoverDirs(new org.apache.hadoop.fs.Path(basePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      basePath, "readVisible", sweepStaging = false)
    val base = spark.read.parquet(basePath)
    if (!fs.exists(new org.apache.hadoop.fs.Path(dvPath))) base
    else base.join(readDv(spark, dvPath),
      Seq("bucket", "doc_id"), "left_anti")
  }

  /** Compaction decision + execution: buckets whose delete density
    * reaches `minPermille` are rewritten with visible rows only (the
    * read prunes to exactly those bucket dirs) and their DV rows
    * dropped; sparse buckets keep carrying their DV. The base buckets
    * swap through [[StoreSwap.swapDirs]] and the shrunk DV tree through
    * [[StoreSwap.swapIn]]; the DV swap runs after the base swap, so a
    * crash between them leaves the compacted buckets' DV rows live
    * (visibility stays correct; the next compaction re-applies them).
    * Returns the decision manifest `(bucket, rows, deleted, rewritten)`
    * — one row per live bucket.
    */
  def applyDeletionVectors(spark: SparkSession, basePath: String,
                           dvPath: String, minPermille: Long): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(basePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    StoreSwap.recover(fs, dvPath, "applyDeletionVectors")
    StoreSwap.recoverDirs(fs, basePath, "applyDeletionVectors")
    val totals = spark.read.parquet(basePath)
      .groupBy("bucket").agg(count(lit(1)).as("rows"))
    val dvExists = fs.exists(new Path(dvPath))
    val deleted =
      if (dvExists)
        readDv(spark, dvPath)
          .groupBy("bucket").agg(count(lit(1)).as("deleted"))
      else totals.select(col("bucket"), lit(0L).as("deleted")).limit(0)
    val manifest = totals.join(deleted, Seq("bucket"), "left")
      .select(col("bucket"), col("rows"),
        coalesce(col("deleted"), lit(0L)).as("deleted"))
      .withColumn("rewritten",
        col("deleted") > 0 &&
          expr("(1000 * deleted) div rows") >= minPermille)
      .orderBy("bucket")
      // scalar-bounded: one row per bucket, and nBuckets is a layout
      // constant (the same bound mergeUpsertBuckets' affected-set collect
      // carries)
      .collect()
    val dense = manifest.filter(_.getBoolean(3)).map(_.getInt(0)).toSeq
    if (dense.nonEmpty) {
      val visible = readVisible(spark, basePath, dvPath)
        .where(col("bucket").isin(dense.map(Int.box): _*))
      visible.write.mode("overwrite").partitionBy("bucket")
        .parquet(StoreSwap.stagingPath(basePath))
      StoreSwap.swapDirs(fs, basePath, dense.map(b => s"bucket=$b"),
        "applyDeletionVectors")
      // the compacted buckets' DV rows are now applied — drop them
      readDv(spark, dvPath)
        .where(!col("bucket").isin(dense.map(Int.box): _*))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(StoreSwap.stagingPath(dvPath))
      StoreSwap.swapIn(fs, dvPath, "applyDeletionVectors")
    }
    import spark.implicits._
    manifest.map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
      r.getBoolean(3))).toSeq
      .toDF("bucket", "rows", "deleted", "rewritten")
      .orderBy("bucket")
  }
}
