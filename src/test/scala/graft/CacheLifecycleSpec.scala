package graft

/** Quality gate: no registered query may leak persisted RDDs past its
  * boundary. Runs EVERY SparkEntry query at sf0.001, releases the
  * query-scoped caches the way Verify/Bench do, evicts the (deliberately
  * cross-query) session memos, and asserts the session's persistent-RDD
  * registry and the memo registry are empty — so a long-lived session
  * running many queries holds storage only while a query is in flight.
  */
class CacheLifecycleSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("every registered query releases all persisted RDDs at its boundary") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      CacheScope.releaseAll()
      queries.SessionMemos.evictAll()
      val leaked = spark.sparkContext.getPersistentRDDs
      assert(leaked.isEmpty,
        s"$name leaked ${leaked.size} persisted RDD(s): " +
          leaked.values.map(r => s"id=${r.id} ${r.name}").mkString(", "))
      // driver-side memos (trained tables, collected rows, stored-layout
      // paths) hold no RDD, so only the registry itself can show them
      assert(queries.SessionMemos.entries == 0,
        s"$name left ${queries.SessionMemos.entries} memo entries after evictAll")
    }
  }

  test("releaseAll is safe when nothing is registered") {
    CacheScope.releaseAll()
    assert(CacheScope.pendingCount == 0)
  }

  test("scoped releases exactly the persists registered inside the scope") {
    import org.apache.spark.storage.StorageLevel
    val outer = CacheScope.persist(spark.range(10).toDF())
    outer.count()
    var inner: org.apache.spark.sql.DataFrame = null
    CacheScope.scoped {
      inner = CacheScope.persist(spark.range(5).toDF())
      inner.count()
      assert(inner.storageLevel != StorageLevel.NONE)
    }
    // the scope released its own registration...
    assert(inner.storageLevel == StorageLevel.NONE)
    // ...without draining the global registry (the foreachBatch hazard:
    // a concurrent foreground query's persists must survive a batch)
    assert(outer.storageLevel != StorageLevel.NONE)
    CacheScope.releaseAll()
    assert(outer.storageLevel == StorageLevel.NONE)
  }
}
