package graft

/** Output contract for ORACLED queries: atomic columns only.
  *
  * The driver's correctness harness loads both the Spark result and the
  * DuckDB oracle result into pandas and `sort_values` over EVERY column
  * before hashing; a cell holding an array/map/struct is unhashable there
  * (`TypeError: unhashable type: 'numpy.ndarray'`), so the row records an
  * error with no rows/schema/hash verdicts at all. q100 hit exactly this
  * in round 8 (its `matched ARRAY<STRING>` audit column). This gate makes
  * the convention every other query already followed — explode, or
  * array_join/concat_ws, before registering — explicit and enforced, so
  * the class of red row cannot recur.
  *
  * Non-oracled queries (no_oracle tiers) are exempt: the driver only
  * counts their rows, and nested output is legitimate library surface
  * (e.g. blocklistFilter's ARRAY audit column).
  *
  * The schemas come from [[RegistrySweep]], which builds every query once
  * for this spec and CacheLifecycleSpec together.
  */
class AtomicOutputSchemaSpec extends SparkSpec {

  test("every oracled query key has a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql keys without a query: $orphans")
  }

  test("every oracled query emits atomic columns only") {
    val oracled = SparkEntry.oracleSql.keySet
    val offenders = RegistrySweep.records
      .filter(r => oracled(r.name))
      .flatMap { r =>
        val bad = r.nested.get
        if (bad.nonEmpty) Some(s"${r.name} -> ${bad.mkString(", ")}") else None
      }
    assert(offenders.isEmpty,
      "oracled queries must emit atomic columns only (the driver's pandas " +
        "compare sorts every column; array cells are unhashable there):\n" +
        offenders.mkString("\n"))
  }
}
