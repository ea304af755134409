package graft.queries

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.storage.StorageLevel

/** The session memo: one build per key under concurrent callers, stale
  * applications dropped, nested memos, and the self-registering eviction
  * that [[SessionMemos.evictAll]] runs for every memo in the process.
  */
class MemoSpec extends graft.SparkSpec {

  private def counting(): (AtomicInteger, Memo[String]) = {
    val builds = new AtomicInteger()
    (builds, Memo { (_, d) =>
      builds.incrementAndGet()
      Thread.sleep(20) // widen the race window for concurrent callers
      s"built:$d"
    })
  }

  test("concurrent callers of one key share one build") {
    val (builds, memo) = counting()
    val threads = 8
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val start = new CountDownLatch(1)
      val results = (1 to threads).map { i =>
        pool.submit(new Callable[String] {
          def call(): String = {
            start.await()
            memo(spark, if (i % 2 == 0) "a" else "b")
          }
        })
      }
      start.countDown()
      val got = results.map(_.get(30, TimeUnit.SECONDS))
      assert(got.toSet == Set("built:a", "built:b"))
      assert(builds.get == 2, "one build per (application, dir)")
      assert(memo.size == 2)
    } finally pool.shutdown()
    SessionMemos.evictAll()
  }

  test("entries of another application are dropped on the next call") {
    val (builds, memo) = counting()
    memo.forApp("app-before-restart", spark, "a")
    memo.forApp("app-before-restart", spark, "b")
    assert(memo.size == 2 && builds.get == 2)
    assert(memo(spark, "a") == "built:a")
    assert(builds.get == 3, "a stale application's entry was served")
    assert(memo.size == 1, "stale entries survived a call")
    SessionMemos.evictAll()
  }

  test("a builder may call another memo") {
    val inner = Memo((_, d) => d.length)
    val outer = Memo((s, d) => inner(s, d) + inner(s, d + d))
    assert(outer(spark, "abc") == 9)
    assert(inner.size == 2 && outer.size == 1)
    SessionMemos.evictAll()
  }

  test("evictAll releases every memo's values and leaves no entries") {
    val released = new AtomicInteger()
    val rows = Memo((_, d) => d, (_: String) => released.incrementAndGet())
    val frame = Memo.frame((s, d) => s.range(d.length.toLong).toDF())
    rows(spark, "a"); rows(spark, "b")
    val df = frame(spark, "abcd")
    assert(df.count() == 4)
    assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
    SessionMemos.evictAll()
    assert(released.get == 2)
    assert(df.storageLevel == StorageLevel.NONE, "frame memo not unpersisted")
    assert(SessionMemos.entries == 0)
  }

  test("a query-scoped persist of a memo frame's plan leaves the memo cached") {
    val frame = Memo.frame((s, d) => s.range(d.length.toLong).toDF())
    val df = frame(spark, "abcde")
    assert(df.count() == 5)
    // a fresh Dataset over the same plan: CacheManager matches it to the memo
    val fresh = spark.range(5L).toDF()
    assert(fresh.storageLevel == StorageLevel.MEMORY_AND_DISK)
    graft.CacheScope.persist(fresh)
    graft.CacheScope.releaseAll()
    assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK,
      "the query boundary evicted a session memo's cache")
    SessionMemos.evictAll()
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("a memo constructed after an eviction is evicted by the next one") {
    SessionMemos.evictAll()
    val released = new AtomicInteger()
    val late = Memo((_, d) => d, (_: String) => released.incrementAndGet())
    late(spark, "x")
    assert(SessionMemos.entries == 1)
    SessionMemos.evictAll()
    assert(released.get == 1 && late.size == 0)
    assert(SessionMemos.entries == 0)
  }
}
