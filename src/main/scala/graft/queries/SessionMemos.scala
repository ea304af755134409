package graft.queries

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** One session-scoped memo: a value built once per (applicationId,
  * fixture dir) and shared by every query that asks for it — the summary
  * relation, the LDA fit, the shingle/pair relations, trained tables,
  * stored-layout paths. Cross-query by design, so deliberately NOT drained
  * at [[graft.CacheScope.releaseAll]] query boundaries; released by
  * [[SessionMemos.evictAll]].
  *
  * Entries of any other application (a restarted session in the same JVM)
  * are dropped on every call, so a stale session's persisted frames are
  * never served. Concurrent callers of one key share one build
  * (`computeIfAbsent`). Each memo owns its own map: builders call other
  * memos (jpairs → shingled, pairsDf → exactDf, ivfCoded → ivfIndex), and
  * a nested `computeIfAbsent` on one shared map would throw "Recursive
  * update". A builder must not call its own memo.
  *
  * `release` runs on eviction and frees whatever executor storage the
  * value holds; the default no-op suits driver-side values.
  */
final class Memo[V] private (build: (SparkSession, String) => V,
                             release: V => Unit) {
  private val entries = new ConcurrentHashMap[(String, String), V]()
  SessionMemos.register(this)

  def apply(spark: SparkSession, dir: String): V =
    forApp(spark.sparkContext.applicationId, spark, dir)

  /** [[apply]] as application `app` — split out so a spec can stand in
    * for a restarted session (one JVM holds one SparkContext).
    */
  private[queries] def forApp(app: String, spark: SparkSession,
                              dir: String): V = {
    entries.keySet.removeIf(_._1 != app)
    entries.computeIfAbsent((app, dir), _ => build(spark, dir))
  }

  private[queries] def size: Int = entries.size

  private[queries] def evict(): Unit =
    entries.values.removeIf { v => release(v); true }
}

object Memo {
  def apply[V](build: (SparkSession, String) => V,
               release: V => Unit = (_: V) => ()): Memo[V] =
    new Memo(build, release)

  /** A memo whose values carry one executor-side relation `part`: it is
    * persisted MEMORY_AND_DISK when the value is built (spillable at
    * corpus scale) and unpersisted on eviction.
    */
  def persisting[V](part: V => DataFrame)(
      build: (SparkSession, String) => V): Memo[V] =
    new Memo[V]((spark, dir) => {
      val v = build(spark, dir)
      part(v).persist(StorageLevel.MEMORY_AND_DISK)
      v
    }, v => part(v).unpersist(blocking = false))

  /** A memoized, persisted relation. */
  def frame(build: (SparkSession, String) => DataFrame): Memo[DataFrame] =
    persisting[DataFrame](identity)(build)
}

/** The registry of every [[Memo]]: each memo registers itself when it is
  * constructed, so a cache cannot be left out of [[evictAll]] (the r5 q62
  * failure class — a forgotten cache silently flatters cold numbers).
  * Objects construct their memos lazily, on first use, possibly on one
  * thread while another evicts, hence the concurrent queue.
  *
  * Every consumer that needs a truly cold session — the bench's cold
  * pass, the cache-lifecycle gate, a user session done with a family —
  * calls [[evictAll]].
  *
  * INVALIDATION CONTRACT: every memo keys on (applicationId, fixture
  * dir) and assumes the parquet under that dir is IMMUTABLE for the
  * application's lifetime — the harnesses (Verify, Bench, the specs)
  * all satisfy this, and the testdata generator only runs between
  * driver rounds. Regenerating a fixture mid-session would serve stale
  * persisted relations to every memo consumer; a session that must
  * re-ingest a changed dir calls [[evictAll]] first (the knob already
  * exists — folding file mtimes into every key would buy re-ingestion
  * safety nothing here uses at the cost of a listing RPC per memo hit).
  */
object SessionMemos {
  private val registry = new ConcurrentLinkedQueue[Memo[_]]()

  private[queries] def register(memo: Memo[_]): Unit = registry.add(memo)

  /** Drop every memoized value of every memo and release its storage. */
  def evictAll(): Unit = registry.forEach(_.evict())

  /** Entries held across all memos (0 right after [[evictAll]]). */
  private[graft] def entries: Int = registry.asScala.iterator.map(_.size).sum
}
