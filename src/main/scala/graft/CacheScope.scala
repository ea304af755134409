package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
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
  * `localCheckpoint` RDDs (iterative loops truncating lineage) follow the
  * same pattern via [[registerRdd]]: unpersisting a local checkpoint
  * discards its only copy of the data, so the FINAL checkpoint of a loop
  * must live until the query boundary, not the end of the loop.
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

  /** Persist `ds` and schedule its unpersist for the next [[releaseAll]]. */
  def persist[T](ds: Dataset[T],
                 level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] = {
    ds.persist(level)
    register(() => { ds.unpersist(blocking = false); () })
    ds
  }

  /** [[persist]], unless `ds` is already persisted — in which case it is a
    * longer-lived cache (a session memo such as DedupQueries' shingle
    * relation) that must NOT be drained at the next query boundary:
    * registering it here would unpersist the memo out from under every
    * later query that consumes it, silently re-deriving the whole upstream
    * chain each time.
    */
  def persistIfUnpersisted[T](ds: Dataset[T],
                              level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] =
    if (ds.storageLevel == StorageLevel.NONE) persist(ds, level) else ds

  /** Schedule an already-persisted RDD (e.g. a local checkpoint backing a
    * returned DataFrame) for release at the next [[releaseAll]].
    */
  def registerRdd(rdd: RDD[_]): Unit =
    register(() => { rdd.unpersist(blocking = false); () })

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
