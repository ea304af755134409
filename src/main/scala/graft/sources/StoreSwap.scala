package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The atomic-replace protocol for stored trees — ONE definition, at the
  * two granularities the engine replaces data in:
  *
  *   write `$path-staging` → park live as `$path-old` → rename staging
  *   in → drop parked
  *
  *   - ROOT: the whole tree is staged and swapped ([[recover]],
  *     [[swapIn]]) — the deletion-vector tree
  *     ([[DocumentSources.softDelete]], [[DocumentSources.readVisible]],
  *     [[DocumentSources.applyDeletionVectors]]) and the ANN index
  *     rebuild ([[graft.ops.SimilarityOps.executeRebuild]]);
  *   - PARTITION DIRECTORY: only the named `key=value` dirs are staged
  *     and swapped, each parked in the `$path-old` tree ([[recoverDirs]],
  *     [[swapDirs]]) — the MERGE upsert
  *     ([[DocumentSources.mergeUpsertBuckets]]), small-file compaction
  *     ([[DocumentSources.compactFiles]]) and the deletion-vector
  *     compaction of the base tree
  *     ([[DocumentSources.applyDeletionVectors]]; softDelete and
  *     readVisible run its recovery sweep too).
  *
  * Every entry point runs the recovery sweep first, so a crash between
  * any two steps heals on the NEXT touch (parked-without-live restores;
  * parked-beside-live drops the parked copy; a stale staging tree is
  * swept only by WRITER entries — a reader deleting `-staging` would
  * destroy a concurrent writer's in-flight work). The table-level
  * single-writer contract still applies to the renames themselves: two
  * concurrent writers, or a writer racing a reader's park-restore, are
  * out of scope (callers serialize writes).
  */
private[graft] object StoreSwap {

  /** One checked filesystem step. Hadoop `FileSystem.rename`/`delete`/
    * `mkdirs` signal failure by RETURNING FALSE, not throwing; a silently
    * failed park would let the next rename nest the staged dir INSIDE
    * the still-live one — duplicate rows, the corruption the swap exists
    * to prevent — so every step checks its boolean and aborts on failure.
    * Also the checked step of [[StoredRelations.readOrBuild]]'s
    * pid-scoped publish and of the streaming replays' input staging.
    */
  private[graft] def mustFs(who: String)(ok: Boolean, what: String): Unit =
    if (!ok) throw new java.io.IOException(
      s"$who: filesystem step failed (returned false): $what")

  /** The staging sibling a writer fills before [[swapIn]]/[[swapDirs]]. */
  def stagingPath(path: String): String = s"$path-staging"

  private def parkedPath(path: String): String = s"$path-old"

  /** Root-granularity recovery sweep: heal a crashed [[swapIn]],
    * optionally sweep stale staging (writers only — see class doc).
    */
  def recover(fs: FileSystem, path: String, who: String,
              sweepStaging: Boolean = true): Unit = {
    val parked = new Path(parkedPath(path))
    if (fs.exists(parked)) restoreOrDrop(fs, who, parked, new Path(path))
    if (sweepStaging) dropStaging(fs, path, who)
  }

  /** Swap the (complete) staging tree in as the live root. */
  def swapIn(fs: FileSystem, path: String, who: String): Unit = {
    val staging = new Path(stagingPath(path))
    mustFs(who)(fs.exists(staging), s"staging tree missing: $staging")
    swapOne(fs, who, staging, new Path(path), new Path(parkedPath(path)))
  }

  /** Partition-directory recovery sweep: every dir parked in `$path-old`
    * with no live twin under `path` is restored (a [[swapDirs]] crashed
    * between park and rename-in), one with a live twin is dropped (the
    * swap completed), then the `-old` tree itself; stale staging as in
    * [[recover]].
    */
  def recoverDirs(fs: FileSystem, path: String, who: String,
                  sweepStaging: Boolean = true): Unit = {
    val parkedRoot = new Path(parkedPath(path))
    if (fs.exists(parkedRoot)) {
      fs.listStatus(parkedRoot).foreach { st =>
        restoreOrDrop(fs, who, st.getPath, new Path(path, st.getPath.getName))
      }
      mustFs(who)(fs.delete(parkedRoot, true), s"drop $parkedRoot")
    }
    if (sweepStaging) dropStaging(fs, path, who)
  }

  /** Swap the staged dirs `names` (children of `$path-staging`) in under
    * `path`, one dir at a time, then drop the staging and `-old` trees. A
    * name with no staged dir is removed from the live tree (a partition
    * emptied by deletes); a name with no live dir is not parked (a new
    * partition).
    */
  def swapDirs(fs: FileSystem, path: String, names: Seq[String],
               who: String): Unit = {
    val staging = new Path(stagingPath(path))
    val parkedRoot = new Path(parkedPath(path))
    names.foreach { n =>
      swapOne(fs, who, new Path(staging, n), new Path(path, n),
        new Path(parkedRoot, n))
    }
    dropStaging(fs, path, who)
    if (fs.exists(parkedRoot))
      mustFs(who)(fs.delete(parkedRoot, true), s"drop $parkedRoot")
  }

  private def restoreOrDrop(fs: FileSystem, who: String, parked: Path,
                            live: Path): Unit =
    if (!fs.exists(live)) mustFs(who)(fs.rename(parked, live), s"restore $parked")
    else mustFs(who)(fs.delete(parked, true), s"drop parked $parked")

  private def swapOne(fs: FileSystem, who: String, staged: Path, live: Path,
                      parked: Path): Unit = {
    val must = mustFs(who) _
    if (fs.exists(live)) {
      must(fs.mkdirs(parked.getParent), s"mkdirs ${parked.getParent}")
      must(fs.rename(live, parked), s"park $live")
    }
    if (fs.exists(staged)) must(fs.rename(staged, live), s"swap in $staged")
    if (fs.exists(parked)) must(fs.delete(parked, true), s"drop $parked")
  }

  private def dropStaging(fs: FileSystem, path: String, who: String): Unit = {
    val staging = new Path(stagingPath(path))
    if (fs.exists(staging))
      mustFs(who)(fs.delete(staging, true), s"drop $staging")
  }
}
