package graft.sources

import graft.SparkSpec
import graft.ops.{DedupOps, TextOps}
import org.apache.spark.sql.functions._

/** Gates for the durable stored pair artifacts (StoredRelations).
  *
  * The fingerprint sees input files and version constants, not CODE — a
  * semantic change to the tokenizer/shingler/pair thresholds with a
  * forgotten version bump would serve stale pairs. The first two tests
  * are the backstop: they re-derive each pair relation FROM SCRATCH
  * (bypassing both the store and the session memos) and row-compare it
  * to what the store serves, every test run. The infra tests pin the
  * contract itself: mtime staleness invalidates, a torn (marker-less)
  * write is never valid.
  */
class StoredPairsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def asSet(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("stored dedup_jpairs matches a from-scratch rebuild") {
    val stored = graft.queries.DedupQueries.jpairs(spark, dir)
    val fresh = DedupOps.jaccardPairs(
      DedupOps.shingles(
        graft.Tables.documents(spark, dir)
          .select(col("doc_id"), TextOps.tokenize(col("text")).as("toks")),
        graft.queries.DedupQueries.ShingleN),
      graft.queries.DedupQueries.JaccardMinMicro)
    assert(stored.columns.toSeq == fresh.columns.toSeq)
    assert(asSet(stored) == asSet(fresh),
      "stored dedup_jpairs diverges from a fresh build — semantics " +
        "changed without a JpairsStoreVersion bump, or the store is corrupt")
    graft.CacheScope.releaseAll()
  }

  test("stored semantic_labels matches a from-scratch band->cosine->LP " +
      "re-derivation") {
    val stored = graft.queries.SimilarityQueries.semanticLabels(spark, dir)
    val fresh = graft.queries.SimilarityQueries
      .freshSemanticLabels(spark, dir)
    assert(stored.columns.toSeq == fresh.columns.toSeq)
    assert(asSet(stored) == asSet(fresh),
      "stored semantic_labels diverges from a fresh build — semantics " +
        "changed without a SemLabelsStoreVersion bump, or the store is corrupt")
    graft.queries.SessionMemos.evictAll()
    graft.CacheScope.releaseAll()
  }

  test("stored curation_pairs matches a from-scratch rebuild") {
    val stored = graft.queries.CurationQueries.pairsDf(spark, dir)
    val fresh = graft.CurationPipeline.nearDupPairs(
      graft.CurationPipeline.exactStage(graft.Tables.documents(spark, dir)),
      graft.CurationPipeline.MaxShingleDf)
    assert(stored.columns.toSeq == fresh.columns.toSeq)
    assert(asSet(stored) == asSet(fresh),
      "stored curation_pairs diverges from a fresh build — semantics " +
        "changed without a PairsStoreVersion bump, or the store is corrupt")
    graft.CacheScope.releaseAll()
  }

  test("stored curation_exact matches a from-scratch rebuild") {
    val stored = graft.queries.CurationQueries.exactDf(spark, dir)
    val fresh = graft.CurationPipeline.exactStage(
      graft.Tables.documents(spark, dir))
    assert(stored.columns.toSeq == fresh.columns.toSeq)
    assert(asSet(stored.select("doc_id", "text")) ==
      asSet(fresh.select("doc_id", "text")),
      "stored curation_exact diverges from a fresh build — semantics " +
        "changed without an ExactStoreVersion bump, or the store is corrupt")
    graft.CacheScope.releaseAll()
  }

  test("stored dedup_labels matches a from-scratch label propagation") {
    val stored = graft.queries.DedupQueries.jpairs(spark, dir) // warm pairs first
    stored.count()
    val labels = graft.queries.DedupQueries.q55DupClusters(spark, dir)
    val fresh = DedupOps.duplicateClusters(
      graft.Tables.documents(spark, dir),
      DedupOps.jaccardPairs(
        DedupOps.shingles(
          graft.Tables.documents(spark, dir)
            .select(col("doc_id"), TextOps.tokenize(col("text")).as("toks")),
          graft.queries.DedupQueries.ShingleN),
        graft.queries.DedupQueries.JaccardMinMicro))
    assert(asSet(labels) == asSet(fresh.orderBy("doc_id")),
      "stored dedup_labels diverges from a fresh LP run — semantics " +
        "changed without a LabelsStoreVersion bump, or the store is corrupt")
    graft.CacheScope.releaseAll()
  }

  test("stored vocab_presence_baseA matches a from-scratch rebuild") {
    val stored = graft.queries.DedupQueries.vocabPresenceBase(spark, dir)
    val fresh = graft.queries.DedupQueries.vocabPresences(
      graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text"))
        .where(graft.queries.CurationQueries.Snapshots.inA))
    assert(stored.columns.toSeq == fresh.columns.toSeq)
    assert(asSet(stored) == asSet(fresh),
      "stored vocab_presence_baseA diverges from a fresh build — " +
        "semantics changed without a VocabPresenceStoreVersion bump, or " +
        "the store is corrupt")
    graft.CacheScope.releaseAll()
  }

  test("input mtime change invalidates; marker-less artifact never valid") {
    import sqlImplicits._
    val in = java.nio.file.Files.createTempFile("graft-stored-in", ".txt")
    java.nio.file.Files.writeString(in, "v1")
    var builds = 0
    def build = { builds += 1; Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
    val name = s"spec_${System.nanoTime}"
    val r1 = StoredRelations.readOrBuild(spark, name,
      Seq(in.toString), "1")(build).collect().toSet
    val r2 = StoredRelations.readOrBuild(spark, name,
      Seq(in.toString), "1")(build).collect().toSet
    assert(builds == 1 && r1 == r2, "second read should hit the artifact")
    // touch the input: fingerprint changes, next read must rebuild
    java.nio.file.Files.setLastModifiedTime(in,
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(in).toMillis + 5000))
    StoredRelations.readOrBuild(spark, name, Seq(in.toString), "1")(build)
    assert(builds == 2, "stale input served without rebuild")
    // version bump invalidates too
    StoredRelations.readOrBuild(spark, name, Seq(in.toString), "2")(build)
    assert(builds == 3, "version change served without rebuild")
    // torn write: strip the marker from the live artifact — next read rebuilds
    val path = new java.io.File(graft.Scratch.dir("stored"))
      .listFiles().filter(_.getName.startsWith(name)).head
    assert(new java.io.File(path, "_graft_fingerprint").delete())
    StoredRelations.readOrBuild(spark, name, Seq(in.toString), "2")(build)
    assert(builds == 4, "marker-less (torn) artifact treated as valid")
    java.nio.file.Files.delete(in)
  }

  test("publish onto an artifact another builder published after our " +
      "delete keeps theirs and nests no staging dir") {
    import sqlImplicits._
    val root = java.nio.file.Files.createTempDirectory("graft-publish")
    val live = root.resolve("rel").toString
    val fp = "v=1|in:1:1"
    val want = Set((1L, "a"), (2L, "b"))
    def stage(dst: String): Unit = {
      want.toSeq.toDF("id", "v").write.parquet(dst)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dst, "_graft_fingerprint"), fp)
    }
    val tmp = s"$live.tmp-1"
    stage(tmp)
    stage(live) // the other JVM's publish lands between our delete and move
    StoredRelations.publish(tmp, live, fp)
    assert(!new java.io.File(tmp).exists, "our staging dir was left behind")
    val nested = new java.io.File(live).list().filter(_.contains(".tmp-"))
    assert(nested.isEmpty, s"staging dir nested in the artifact: ${nested.toSeq}")
    assert(spark.read.parquet(live).as[(Long, String)].collect().toSet == want)
    // a live artifact built for another fingerprint is not ours to read
    stage(tmp)
    intercept[java.io.IOException](
      StoredRelations.publish(tmp, live, "v=2|in:1:1"))
    assert(new java.io.File(tmp).exists)
    org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("fingerprint errors on missing inputs and sees nested paths") {
    // a nonexistent input must be an ERROR: silently folding it as
    // absent would cache an empty relation as valid forever
    intercept[IllegalArgumentException] {
      StoredRelations.fingerprint(Seq("/nonexistent/graft-input"), "1")
    }
    // nested trees with identically-named LEAVES must fingerprint apart:
    // the fold carries the path relative to the input root, not basenames
    val root = java.nio.file.Files.createTempDirectory("graft-fp")
    def mk(sub: String): java.nio.file.Path = {
      val d = root.resolve(sub)
      java.nio.file.Files.createDirectories(d.resolve("a"))
      val f = d.resolve("a/part-00000.parquet")
      java.nio.file.Files.writeString(f, "xx")
      d
    }
    val d1 = mk("t1"); val d2 = mk("t2")
    // equalize leaf mtimes so only the relative path can distinguish them
    val t = java.nio.file.attribute.FileTime.fromMillis(1700000000000L)
    Seq(d1, d2).foreach { d =>
      java.nio.file.Files.setLastModifiedTime(
        d.resolve("a/part-00000.parquet"), t)
    }
    val f1 = StoredRelations.fingerprint(Seq(d1.toString), "1")
    val f2 = StoredRelations.fingerprint(Seq(d2.toString), "1")
    assert(f1 != f2, "same-named leaves under different roots collided")
  }

  test("gc reclaims dead-builder staging and torn artifacts, keeps the valid") {
    import sqlImplicits._
    val in = java.nio.file.Files.createTempFile("graft-gc-in", ".txt")
    java.nio.file.Files.writeString(in, "v1")
    val name = s"gcspec_${System.nanoTime}"
    StoredRelations.readOrBuild(spark, name, Seq(in.toString), "1")(
      Seq((1L, "a")).toDF("id", "v"))
    val storedRoot = new java.io.File(graft.Scratch.dir("stored"))
    val valid = storedRoot.listFiles().filter(_.getName.startsWith(name)).head
    // plant a dead-builder staging dir (pid 1 is init — never a builder
    // of ours, but ALIVE, so use an impossible pid instead) and a torn
    // artifact (dir with parquet-ish content but no marker)
    val deadTmp = new java.io.File(storedRoot, s"$name-zz.tmp-999999999")
    assert(deadTmp.mkdirs())
    val torn = new java.io.File(storedRoot, s"$name-torn")
    assert(torn.mkdirs())
    val swept = StoredRelations.gc()
    val sweptPaths = swept.map(_._1).toSet
    assert(sweptPaths.contains(deadTmp.getPath), s"dead staging kept: $swept")
    assert(sweptPaths.contains(torn.getPath), s"torn artifact kept: $swept")
    assert(!sweptPaths.contains(valid.getPath), "valid artifact swept")
    assert(valid.exists && !deadTmp.exists && !torn.exists)
    // a LIVE builder's staging dir is mid-write — must survive the sweep
    val liveTmp = new java.io.File(storedRoot,
      s"$name-live.tmp-${java.lang.ProcessHandle.current.pid}")
    assert(liveTmp.mkdirs())
    try {
      assert(!StoredRelations.gc().map(_._1).contains(liveTmp.getPath))
      assert(liveTmp.exists)
    } finally { liveTmp.delete(); () }
    java.nio.file.Files.delete(in)
  }

  test("gc reclaims legacy pre-SHA keyed artifacts, even fully valid ones") {
    import sqlImplicits._
    val in = java.nio.file.Files.createTempFile("graft-gc-legacy", ".txt")
    java.nio.file.Files.writeString(in, "v1")
    val name = s"gclegacy_${System.nanoTime}"
    StoredRelations.readOrBuild(spark, name, Seq(in.toString), "1")(
      Seq((1L, "a")).toDF("id", "v"))
    val storedRoot = new java.io.File(graft.Scratch.dir("stored"))
    val valid = storedRoot.listFiles().filter(_.getName.startsWith(name)).head
    // plant a legacy hashCode-keyed artifact (1-8 hex chars, here 7) that
    // LOOKS valid — marker and _SUCCESS both present — but is unreachable
    // by the SHA-256 artifactPath and would leak disk forever
    val legacy = new java.io.File(storedRoot, s"$name-1a2b3c4")
    assert(legacy.mkdirs())
    java.nio.file.Files.writeString(
      legacy.toPath.resolve("_graft_fingerprint"), "v=1|whatever")
    java.nio.file.Files.writeString(legacy.toPath.resolve("_SUCCESS"), "")
    val swept = StoredRelations.gc()
    val byPath = swept.toMap
    assert(byPath.get(legacy.getPath).contains("legacy pre-SHA keyed artifact"),
      s"legacy artifact not swept with the right reason: $swept")
    assert(!byPath.contains(valid.getPath), "current-keyed valid artifact swept")
    assert(valid.exists && !legacy.exists)
    java.nio.file.Files.delete(in)
  }
}
