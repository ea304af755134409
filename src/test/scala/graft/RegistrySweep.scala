package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
import scala.util.Try

/** One pass over every registered query at sf0.001, shared by the specs
  * that need the whole registry built (CacheLifecycleSpec,
  * AtomicOutputSchemaSpec): building a query runs jobs (memo builds,
  * trainer collects), so the registry is built once per test JVM and each
  * spec asserts over the record.
  *
  * For each query in sorted order the sweep builds it once, records the
  * nested fields of its output schema, runs the noop write, releases the
  * query-scoped caches and evicts the session memos the way Verify and
  * Bench do, then records what is still held.
  */
object RegistrySweep {
  private val dir = "/root/testdata/sf0.001"

  /** What one query left behind. `nested` fails when building the query
    * fails; `run` fails when the build or the noop write does. */
  final case class Record(name: String, nested: Try[Seq[String]],
                          run: Try[Unit], leaked: Seq[String],
                          memoEntries: Int)

  private def nestedFields(schema: StructType): Seq[String] =
    schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType] ||
        f.dataType.isInstanceOf[StructType] =>
        s"${f.name}: ${f.dataType.simpleString}"
    }.toSeq

  lazy val records: Seq[Record] = {
    val spark = SparkSpec.session
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val df = Try(fn(spark, dir))
      val run = df.map(_.write.format("noop").mode("overwrite").save())
      CacheScope.releaseAll()
      queries.SessionMemos.evictAll()
      val leaked = spark.sparkContext.getPersistentRDDs.values
        .map(r => s"id=${r.id} ${r.name}").toSeq
      Record(name, df.map(d => nestedFields(d.schema)), run, leaked,
        queries.SessionMemos.entries)
    }
  }
}
