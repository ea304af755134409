package graft

/** Quality gate: no registered query may leak persisted RDDs past its
  * boundary. Reads [[RegistrySweep]], which runs EVERY SparkEntry query at
  * sf0.001, releases the query-scoped caches the way Verify/Bench do and
  * evicts the (deliberately cross-query) session memos; asserts the
  * session's persistent-RDD registry and the memo registry were empty
  * after each query — so a long-lived session running many queries holds
  * storage only while a query is in flight.
  */
class CacheLifecycleSpec extends SparkSpec {

  test("every registered query releases all persisted RDDs at its boundary") {
    RegistrySweep.records.foreach { r =>
      r.run.get
      assert(r.leaked.isEmpty,
        s"${r.name} leaked ${r.leaked.size} persisted RDD(s): " +
          r.leaked.mkString(", "))
      // driver-side memos (trained tables, collected rows, stored-layout
      // paths) hold no RDD, so only the registry itself can show them
      assert(r.memoEntries == 0,
        s"${r.name} left ${r.memoEntries} memo entries after evictAll")
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
