package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** Query-boundary lifecycle for operator-internal persists.
  *
  * Several operators persist an intermediate that 2+ branches of the
  * RETURNED (still lazy) plan consume — minhash signatures feed both
  * band-join sides plus the rerank, TF-IDF sentence relations feed three
  * aggregations. The operator cannot unpersist before returning (the
  * consumer's action hasn't run), and never unpersisting leaks storage
  * across a long-lived session until block eviction. So ops route those
  * persists through [[persist]], and whoever runs the action — Verify,
  * Bench, a test, a user session — calls [[releaseAll]] once the query's
  * results are materialized. Harness mains treat each registered query as
  * an independent program, so they release at every query boundary.
  *
  * Iterative loops truncate their lineage with [[checkpoint]] each round
  * (an eager `localCheckpoint`, registered the same way): unpersisting a
  * local checkpoint discards its only copy of the data, so the FINAL
  * round's checkpoint must live until the query boundary, while each
  * superseded round is freed at once with [[dropCheckpoint]].
  *
  * Session memos ([[graft.queries.Memo]]: the LDA fit, the IVF index, the
  * shared shingle/summary relations) are deliberately NOT query-scoped —
  * they exist to share work across queries — and are released by
  * [[graft.queries.SessionMemos.evictAll]] instead.
  *
  * CONCURRENCY CONTRACT: the registry is process-global, so releaseAll()
  * drains registrations from ALL threads — it assumes the
  * one-query-at-a-time harness model (Verify/Bench/ScalaTest's default
  * sequential suites, which is every current caller). A concurrent
  * multi-query session must NOT call releaseAll() mid-flight: it would
  * unpersist another query's in-flight intermediates, and for registered
  * localCheckpoint RDDs unpersist discards the only copy of the data and
  * fails that query's action. Such a session should scope registrations
  * per query (token-keyed registry) before going parallel.
  */
object CacheScope {
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  // Per-thread override queue for [[scoped]]: registrations made on a
  // thread inside a scope land here instead of the global registry, so a
  // concurrent releaseAll() (or another scope) can never drain them.
  private val localPending =
    new ThreadLocal[java.util.ArrayDeque[() => Unit]]()

  private def register(f: () => Unit): Unit = {
    val local = localPending.get()
    if (local != null) local.add(f) else { pending.add(f); () }
  }

  /** Persist `ds` and schedule its unpersist for the next [[releaseAll]]
    * — unless the CacheManager already holds its plan. Such a plan is a
    * longer-lived cache (a session memo such as DedupQueries' shingle
    * relation) or an earlier persist of this query: unpersist matches
    * plans, not Dataset objects, so registering it again would evict the
    * memo at the next query boundary and every later consumer would
    * silently re-derive the whole upstream chain.
    */
  def persist[T](ds: Dataset[T],
                 level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] =
    if (ds.storageLevel != StorageLevel.NONE) ds
    else {
      ds.persist(level)
      register(() => { ds.unpersist(blocking = false); () })
      ds
    }

  /** One round of an iterative loop: an EAGER `localCheckpoint` of `ds`
    * (one job, truncating the lineage), whose blocks are released at the
    * next [[releaseAll]] — or earlier by [[dropCheckpoint]] once a later
    * round supersedes it. Registering at creation also frees the last
    * round when the loop throws (a failed convergence `require`).
    */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] = {
    val cp = ds.localCheckpoint(eager = true)
    Bridge.checkpointRdd(cp).foreach { rdd =>
      register(() => {
        if (rdd.getStorageLevel != StorageLevel.NONE) rdd.unpersist(blocking = false)
        ()
      })
    }
    cp
  }

  /** Free the blocks of a superseded [[checkpoint]] now: the next round
    * is materialized, so they are garbage (a no-op for any other plan).
    */
  def dropCheckpoint(ds: Dataset[_]): Unit =
    Bridge.checkpointRdd(ds).foreach(_.unpersist(blocking = false))

  /** Run `body` with a PRIVATE registration scope and release exactly the
    * persists it registered (on the current thread) when it returns.
    *
    * This is the safe release primitive for work that runs CONCURRENTLY
    * with foreground queries — streaming `foreachBatch` bodies execute on
    * stream threads, so a global [[releaseAll]] there would unpersist a
    * concurrent foreground query's (or second stream's) in-flight
    * intermediates mid-query: correctness survives (recompute) but
    * caching silently degrades. The scope is thread-local, which matches
    * how registrations happen: operators persist during plan
    * construction, on the thread building the batch plan.
    */
  def scoped[T](body: => T): T = {
    val prev = localPending.get()
    val mine = new java.util.ArrayDeque[() => Unit]()
    localPending.set(mine)
    try body
    finally {
      if (prev != null) localPending.set(prev) else localPending.remove()
      var f = mine.poll()
      while (f != null) {
        try f() catch { case _: Throwable => () }
        f = mine.poll()
      }
    }
  }

  /** Unpersist everything registered since the last call. Safe to call
    * when nothing is registered; never throws (a release failure must not
    * mask the query's own result).
    */
  def releaseAll(): Unit = {
    var f = pending.poll()
    while (f != null) {
      try f() catch { case _: Throwable => () }
      f = pending.poll()
    }
  }

  /** Number of registrations awaiting release — for lifecycle tests. */
  def pendingCount: Int = pending.size()
}
