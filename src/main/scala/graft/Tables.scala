package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated fixture tables (FIXTURES.md).
  *
  * Every operator in the engine takes DataFrames, not paths; these helpers
  * are the single place path layout is known. At cluster scale the same
  * loaders would point at a partitioned table root instead of a single
  * parquet file — callers are unaffected.
  */
object Tables {

  /** Session conf every graft entry point applies.
    *
    * InferFiltersFromGenerate is excluded: for `explode(<computed array>)`
    * it synthesizes `size(arr) > 0` filters that predicate-pushdown then
    * rewrites through the staging Project, re-evaluating the whole
    * tokenize/shingle expression tree 3-4x per row inside the Filter
    * (observed 1.5x slowdown on the shingle queries). Our generators
    * already guard emptiness explicitly, so the inferred filters only
    * duplicate work.
    *
    * Two operators depend on it to drop rows without a Filter node:
    * `DedupOps.shingles` (short docs yield an empty shingle array) and
    * `CurationPipeline.exactStage` (the quality gate inlines a one-row
    * array or null). With the rule back, the inferred filter would be
    * pushed below [[rebalance]]'s exchange and re-run the whole computed
    * array in the single scan task. PlanShapeSpec checks that
    * [[configure]] sets it.
    */
  val SessionConf: Map[String, String] = Map(
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")

  /** The one session every graft harness and the test JVM runs on:
    * `local[cpus]` with as many shuffle partitions, UTC (date_format and
    * window queries must evaluate identical values in every harness), no
    * UI, and [[graft.plans.GraftExtensions]] installed — the production
    * registration path for the optimizer rule and the SQL functions.
    */
  def localSession(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .getOrCreate()

  def configure(spark: SparkSession): SparkSession = {
    SessionConf.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }

  private def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    configure(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Small-input rebalance for the COMPUTE-DENSE content tables. The
    * fixture writes one row group per table, and a parquet scan
    * parallelizes at row-group granularity — so every narrow transform
    * over `documents`/`embeddings` (regex, tokenize, shingle, vector
    * folds: where most of the engine's CPU goes) was serializing on ONE
    * core regardless of `local[32]`. When the scan yields fewer
    * partitions than the session's parallelism, shuffle the (tiny) input
    * once across the cores; at cluster scale a table has orders of
    * magnitude more row groups than cores and this is a no-op. Column
    * pruning still reaches the scan. So do deterministic filters, and that
    * cuts both ways: Catalyst pushes them below the Repartition, with the
    * projections they reference substituted in, so they run inside the
    * single-partition scan task, not across the cores. Only projections
    * and operators above the exchange are spread. A consumer that gates
    * rows on an expensive computed predicate therefore drops them with a
    * generator instead of a Filter — `inline(when(pass, array(struct(..))))`
    * or `explode` of an array that is empty when the row fails — which
    * Catalyst does not push (see [[SessionConf]]); the quality gate in
    * `CurationPipeline.exactStage` and the short-doc guard in
    * `DedupOps.shingles` do this.
    *
    * The relational/event tables deliberately SKIP it (measured: q12-family
    * queries got 1.5-2x slower with it): their queries aggregate or join
    * immediately, so scan-side partial aggregation collapses the data
    * before any exchange — a pre-shuffle of the full table only adds
    * traffic. Dimension tables skip it too (they broadcast; fanning 5
    * rows over 32 tasks is pure overhead).
    */
  // Scan-partition counts probed by rebalance, keyed per application +
  // table path: df.rdd.getNumPartitions forces full physical planning and
  // RDD lineage construction, and documents()/embeddings() are called once
  // per registered query in a Verify/Bench run — probing every time pays
  // that planning cost hundreds of times for an answer that cannot change
  // while the fixture files and session parallelism are fixed. ASSUMPTION:
  // the cache is never invalidated within an application, so a sink that
  // rewrites files under a cached path mid-session would leave a stale
  // count (wrongly skipping or forcing the rebalance). That cannot happen
  // today — these loaders only ever point at the read-only fixture roots,
  // and every sink writes under Scratch.dir — but a loader aimed at
  // mutable paths must clear the entry on write.
  private val scanParts =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Integer]()

  private def rebalance(spark: SparkSession, dir: String, name: String,
                        df: DataFrame): DataFrame = {
    // 8-way, not defaultParallelism: the win is breaking the single-task
    // serialization of per-row compute; past ~8 ways the extra tiny tasks
    // cost more in per-stage scheduling than they recover, especially for
    // iterative consumers re-reading a many-partition cached frame every
    // round (measured: 32-way made the CC/packing families 1.5-2x slower
    // while 8-way keeps the 2-4x single-pass wins)
    val p = math.min(spark.sparkContext.defaultParallelism, 8)
    scanParts.keySet.removeIf(_._1 != spark.sparkContext.applicationId)
    val n: Int = scanParts.computeIfAbsent(
      (spark.sparkContext.applicationId, s"$dir/$name"),
      _ => Integer.valueOf(df.rdd.getNumPartitions))
    if (n < p) df.repartition(p) else df
  }

  def documents(spark: SparkSession, dir: String): DataFrame  =
    rebalance(spark, dir, "documents", read(spark, dir, "documents"))
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    rebalance(spark, dir, "embeddings", read(spark, dir, "embeddings"))
  /** Normalize an events-shaped frame so `ts` is always a session-zone
    * TIMESTAMP, whatever physical layout the fixture was written with.
    * The fixture generator has shipped three layouts across rounds:
    *
    *   - parquet TIMESTAMP(NANOS): Spark rejects it outright
    *     (PARQUET_TYPE_ILLEGAL) unless read as Long via
    *     `spark.sql.legacy.parquet.nanosAsLong`, which surfaces here as
    *     LongType → floor-divide to micros (the same ns→us truncation
    *     DuckDB applies casting TIMESTAMP_NS, so the oracle agrees).
    *   - timestamp[us] isAdjustedToUTC=false → TIMESTAMP_NTZ: cast to
    *     TIMESTAMP. Both harness sessions pin timeZone=UTC, so the
    *     wall-clock reinterpretation is the identity and DuckDB (which
    *     reads the same file as naive TIMESTAMP) sees identical instants.
    *   - timestamp[us] adjusted → TIMESTAMP: pass through.
    *
    * Keyed off the observed dataType, not the round: the driver can (and
    * did, r7) regenerate fixtures mid-build, so assuming one layout turns
    * a schema drift into 13 crashed queries.
    */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types._
    df.schema(colName).dataType match {
      case LongType =>
        df.withColumn(colName,
          expr(s"timestamp_micros(CAST($colName div 1000 AS BIGINT))"))
      case TimestampNTZType => df.withColumn(colName, col(colName).cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalArgumentException(
        s"events.$colName: unsupported fixture timestamp layout $other")
    }
  }

  /** Run `body`; if it fails because a parquet footer carries
    * TIMESTAMP(NANOS) — which Spark refuses during schema inference
    * (ILLEGAL_PARQUET_TYPE) unless `nanosAsLong` is on — set the legacy
    * conf and retry once. Keeps the reader side-effect-free for the
    * common us/NTZ/adjusted layouts: the session conf is only touched
    * when a NANOS fixture actually demands it (and then it must stay set
    * for the lifetime of the plan, so set-and-leave is correct). Any
    * other failure propagates unchanged from the first attempt.
    */
  private[graft] def withNanosFallback[T](spark: SparkSession)(body: => T): T =
    try body
    catch {
      case e: Exception
          if String.valueOf(e.getMessage).contains("NANOS") ||
            String.valueOf(e.getMessage).contains("Illegal Parquet type") =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        body
    }

  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(withNanosFallback(spark)(read(spark, dir, "events")))
  def lineitem(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame       = read(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "region")
}
