package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable read-or-build cache for MAINTAINED derived relations — the
  * near-dup pair indexes the cluster family consumes (q25, the q50 and
  * q55 families, q105, q112).
  *
  * At 100 TB a pair index is not a per-query intermediate: it is stored
  * infrastructure, maintained incrementally as data arrives (q80's
  * incremental signature index IS that maintenance path, and q55c
  * maintains the cluster labels on top of it). Rebuilding
  * shingle→inverted-index-join→pairs from raw text for every cold query
  * is the one thing a production deployment would never do — it would
  * read the stored table. This object makes that the engine's actual
  * path: the first consumer ever builds the relation and writes it as a
  * parquet artifact; every later consumer — in this session or a later
  * one — reads the artifact back, a scan of a tiny (one row per
  * near-dup pair) relation instead of the corpus-wide build.
  *
  * Unlike the in-memory session memos ([[graft.queries.Memo]]), the
  * artifact deliberately SURVIVES `SessionMemos.evictAll()` — eviction
  * models a cold *session*, and a cold session against a warehouse still
  * has its stored indexes; what it loses is the in-memory block cache
  * (readers re-scan parquet, which the cold bench pass then measures). The
  * q79e/q104c/q187d stored ANN layouts made the opposite choice (path memo
  * evicted, layout re-written) because their content derives from
  * seeded in-memory KMeans models whose staleness the filesystem cannot
  * witness; a pair index derives from the input files alone, so here
  * staleness IS checkable, and is checked:
  *
  *   - the artifact embeds a fingerprint of (input file name, length,
  *     mtime) for every input it was derived from, plus a caller-supplied
  *     version string that encodes the defining constants (shingle n,
  *     thresholds, df cap) — changing either invalidates on next read;
  *   - a `version` MUST be bumped when the upstream transformation
  *     *code* changes semantics (the fingerprint cannot see code);
  *     `StoredPairsSpec` re-derives each relation from scratch and
  *     row-compares it to the stored artifact on every test run, so a
  *     forgotten bump fails the suite instead of shipping stale pairs;
  *   - writes are crash-safe: build → write to a `.tmp` sibling →
  *     fingerprint marker written LAST inside it → checked delete of the
  *     stale artifact (Hadoop delete reports failure by returning false)
  *     → publish by a rename that never replaces a live artifact. A torn
  *     write leaves either the old valid artifact or a fingerprint-less
  *     tmp dir that can never be mistaken for valid.
  *
  * Concurrency: per-artifact lock so parallel first consumers (test
  * suites) build once; across processes the first publish wins and a
  * later builder for the same fingerprint reads the winner's artifact
  * (identical by determinism of the build), see [[publish]].
  */
object StoredRelations {

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private val MarkerFile = "_graft_fingerprint"

  /** Fingerprint of the artifact's derivation inputs. Input paths may be
    * single parquet files or directories of part files; directories fold
    * every regular file's (path RELATIVE to the input root, length,
    * mtime) in sorted order — basenames alone would let two nested trees
    * with identically-named leaves (every `part-00000.parquet`-style
    * layout) fingerprint alike. A nonexistent input is an ERROR, not an
    * empty fold: silently fingerprinting it as absent would cache an
    * empty/invalid relation as valid and serve it forever.
    */
  private[sources] def fingerprint(inputPaths: Seq[String],
                                   version: String): String = {
    def fileStats(root: java.nio.file.Path, f: java.io.File): Seq[String] =
      if (f.isDirectory) {
        // listFiles returns null on a transient IO error (not just on
        // missing dirs) — folding that as empty would fingerprint a
        // half-listed tree as a valid, smaller input
        val children = f.listFiles()
        if (children == null) throw new java.io.IOException(
          s"StoredRelations: could not list fingerprint input dir: $f")
        children.sortBy(_.getName).toSeq.flatMap(fileStats(root, _))
      } else Seq(s"${root.relativize(f.toPath)}:${f.length}:${f.lastModified}")
    val body = inputPaths.sorted.flatMap { p =>
      val f = new java.io.File(p)
      require(f.exists,
        s"StoredRelations: fingerprint input does not exist: $p")
      // relativize from the input's PARENT so the entry keeps the input's
      // own name plus any nested path under it. A filesystem ROOT has no
      // parent — and a root as a derivation input is a caller bug, not a
      // fold-from-nowhere case
      val abs = f.toPath.toAbsolutePath
      require(abs.getParent != null,
        s"StoredRelations: fingerprint input must not be a filesystem root: $p")
      fileStats(abs.getParent, f.getAbsoluteFile)
    }.mkString("|")
    s"v=$version|$body"
  }

  private def artifactPath(name: String, inputPaths: Seq[String]): String = {
    // 64-bit SHA-256 prefix, not String.hashCode: a 32-bit collision
    // between two input-path sets of the same artifact name would point
    // both at one store dir, and same-named same-size inputs could then
    // validate the wrong content. NOTE: the r11 switch from hashCode to
    // this keying orphaned any pre-switch store dirs on disk — harmless
    // (they are rebuilt under the new key and the old dirs are plain
    // marker-carrying parquet dirs), and StoredRelations.gc()/`rm -rf
    // /tmp/graft-scratch/stored` reclaims them
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(inputPaths.sorted.mkString(";").getBytes("UTF-8"))
    val key = digest.take(8).map(b => f"$b%02x").mkString
    graft.Scratch.dir(s"stored/$name-$key")
  }

  /** Read the stored relation `name` derived from `inputPaths`, building
    * and persisting it durably first if absent or stale. The returned
    * frame is ALWAYS a parquet scan of the artifact — builder and reader
    * sessions see byte-identical rows.
    */
  def readOrBuild(spark: SparkSession, name: String, inputPaths: Seq[String],
                  version: String)(build: => DataFrame): DataFrame = {
    val path = artifactPath(name, inputPaths)
    val lock = locks.computeIfAbsent(path, _ => new Object)
    lock.synchronized {
      val fp = fingerprint(inputPaths, version)
      if (!isValid(path, fp)) {
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val must = StoreSwap.mustFs(s"StoredRelations($name)") _
        // per-process tmp sibling: two JVMs building concurrently (a test
        // run beside a bench) must not interleave writes into one staging
        // dir; both then race the publish, and the loser reads the
        // winner's artifact, complete and identical by build determinism
        val tmp = s"$path.tmp-${java.lang.ProcessHandle.current.pid}"
        build.write.mode("overwrite").parquet(tmp)
        // marker LAST: its presence certifies the parquet write completed
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(tmp, MarkerFile), fp)
        val live = new org.apache.hadoop.fs.Path(path)
        if (fs.exists(live)) must(fs.delete(live, true), s"drop stale $path")
        publish(tmp, path, fp)
      }
    }
    spark.read.parquet(path)
  }

  /** Move the finished staging dir `tmp` onto the live artifact `path`.
    * The move is one `rename(2)` that fails when `path` already holds an
    * artifact — a plain rename onto a directory that another JVM
    * published since our delete would nest `tmp` INSIDE it. On that
    * failure the other JVM's artifact is kept if it is valid for `fp`
    * (same inputs and version, so the same rows by build determinism)
    * and our staging dir is dropped; anything else fails loudly.
    */
  private[sources] def publish(tmp: String, path: String, fp: String): Unit = {
    val src = java.nio.file.Paths.get(tmp)
    try java.nio.file.Files.move(src, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: java.io.IOException =>
        if (!isValid(path, fp)) throw new java.io.IOException(
          s"StoredRelations: could not publish $tmp onto $path, and the " +
            "artifact there is not valid for this build", e)
        rm(src.toFile)
    }
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
  }

  private def isValid(path: String, fp: String): Boolean = {
    val marker = java.nio.file.Paths.get(path, MarkerFile)
    java.nio.file.Files.exists(marker) &&
      java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS")) &&
      java.nio.file.Files.readString(marker) == fp
  }

  /** Garbage-collect the artifact store: the janitor a long-lived
    * deployment schedules beside the maintenance jobs. Drops exactly the
    * dirs that can never again be read as valid —
    *
    *   - `*.tmp-<pid>` staging siblings whose builder process is dead
    *     (a crashed build; a LIVE pid's staging dir is left alone, it is
    *     mid-write),
    *   - artifact dirs with no fingerprint marker or no _SUCCESS (torn
    *     writes — `isValid` already refuses them, this reclaims the
    *     bytes),
    *   - legacy-keyed artifact dirs from before the SHA-256 path keying
    *     (r12 verdict #3): their suffix is `Integer.toHexString(…)` of a
    *     32-bit hashCode — 1-8 hex chars, while every current key is
    *     exactly 16 — so `artifactPath` can never resolve to them again
    *     and they leak disk forever however valid their marker looks.
    *
    * Deliberately does NOT age out valid artifacts: validity is
    * fingerprint-checked on every read, so a "stale" artifact is dropped
    * the moment a reader sees new inputs — age adds nothing the
    * fingerprint doesn't already know. Returns (path, reason) for each
    * dropped dir.
    */
  def gc(): Seq[(String, String)] = {
    val root = new java.io.File(graft.Scratch.dir("stored"))
    Option(root.listFiles).getOrElse(Array.empty).toSeq
      .filter(_.isDirectory).sortBy(_.getName).flatMap { d =>
        val name = d.getName
        val tmpPid = "\\.tmp-(\\d+)$".r.findFirstMatchIn(name)
          .map(_.group(1).toLong)
        val reason: Option[String] = tmpPid match {
          case Some(pid) =>
            val alive = java.lang.ProcessHandle.of(pid)
              .map[Boolean](_.isAlive).orElse(false)
            if (alive) None else Some("dead-builder staging dir")
          case None =>
            val torn =
              !java.nio.file.Files.exists(d.toPath.resolve(MarkerFile)) ||
                !java.nio.file.Files.exists(d.toPath.resolve("_SUCCESS"))
            // current keys are exactly 16 lowercase hex chars (8-byte
            // SHA-256 prefix); a shorter hex suffix is the pre-r11
            // hashCode keying — unreachable by any current read path
            val legacyKey = "-([0-9a-f]{1,15})$".r
              .findFirstMatchIn(name).isDefined
            if (torn) Some("torn write (no marker/_SUCCESS)")
            else if (legacyKey) Some("legacy pre-SHA keyed artifact")
            else None
        }
        reason.map { r => rm(d); (d.getPath, r) }
      }
  }
}
