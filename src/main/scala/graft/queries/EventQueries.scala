package graft.queries

import graft.Tables
import graft.ops.EventOps
import graft.streaming.StreamingOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-stream query surface over `events` (SURVEY.md §2.7 extension):
  * JSON extraction and tumbling / sliding / session time windows, batch
  * semantics first so the DuckDB oracle verifies them; StreamingOps reuses
  * the same bodies under Structured Streaming.
  *
  * Oracle timestamp parity: every oracle applies `CAST(ts AS TIMESTAMP)`.
  * Under the original TIMESTAMP_NS fixtures that was DuckDB's ns→us
  * floor-truncation, matching Tables.events' div-1000 shim; under the
  * current timestamp[us] fixtures both the cast and the engine-side
  * normalization (NTZ→TIMESTAMP at UTC) are identities — either way both
  * engines window identical microsecond instants. See Tables.normalizeTs.
  */
object EventQueries {

  // --- q31: JSON extraction + per-type stats -----------------------------
  def q31JsonStats(spark: SparkSession, dir: String): DataFrame =
    EventOps.withJsonKey(Tables.events(spark, dir))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        countDistinct(col("k")).as("n_distinct_k"))
      .orderBy("event_type")

  val q31Sql: String =
    """WITH e AS (
      SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
    SELECT event_type, count(*) AS n_events, CAST(sum(k) AS BIGINT) AS sum_k,
      min(k) AS min_k, max(k) AS max_k, count(DISTINCT k) AS n_distinct_k
    FROM e GROUP BY event_type ORDER BY event_type"""

  // --- q31b: structured JSON parse (from_json with a declared schema) ----
  def q31bJsonStruct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("parsed", from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")))
      .select(col("event_type"), col("parsed.k").as("k"))
      .groupBy(col("event_type"), (col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy("event_type", "k_bucket")

  val q31bSql: String =
    """WITH e AS (
      SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
    SELECT event_type, k % 10 AS k_bucket, count(*) AS n,
      CAST(sum(k) AS BIGINT) AS sum_k
    FROM e GROUP BY event_type, k % 10 ORDER BY event_type, k_bucket"""

  // --- q31e: VARIANT-typed JSON path ---------------------------------------
  // Spark 4's native semi-structured type: `parse_json` materializes the
  // props column as VARIANT (a binary-encoded document — parsed ONCE,
  // then every `variant_get` path walks the encoded form instead of
  // re-parsing text, the columnar-JSON story at scale), and the typed
  // extraction feeds the same aggregation contract as q31's
  // string-path `get_json_object` formulation. Sharing q31's oracle
  // makes the two JSON access paths (string re-parse vs VARIANT) prove
  // each other: any divergence in null handling, numeric coercion, or
  // path semantics breaks the hash.
  def q31eVariantStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), parse_json(col("props")).as("v"))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'bigint')").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        countDistinct(col("k")).as("n_distinct_k"))
      .orderBy("event_type")

  // --- q31c: pivot — per-user event-type matrix --------------------------
  // Spark's pivot() with explicit values (never leave values implicit at
  // scale: implicit pivot runs a distinct scan first). The oracle uses
  // FILTER aggregation — the portable relational form of the same shape.
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  def q31cPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .select(col("user_id") +:
        EventTypes.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      .orderBy("user_id")

  val q31cSql: String = {
    val cols = EventTypes.map(t =>
      s"count(*) FILTER (WHERE event_type = '$t') AS n_$t").mkString(",\n      ")
    s"""SELECT user_id,
      $cols
    FROM events GROUP BY user_id ORDER BY user_id"""
  }

  // --- q31d: unpivot round-trip -------------------------------------------
  // The wide→long reshape (Spark's native `unpivot`/melt, Catalyst
  // `Expand` under the hood — the inverse of q31c's pivot): the q31c wide
  // matrix is melted back to (user_id, event_type, n_events) rows. Running
  // pivot→unpivot end-to-end makes BOTH reshapes verify against one
  // oracle: the DuckDB twin computes the long form directly, so a
  // column/row mix-up in either direction breaks the hash. Zero-count
  // cells survive the round-trip (coalesce in q31c), which the direct
  // twin reproduces with a user × type scaffold — the semantic difference
  // between "melted wide matrix" and "plain groupBy" that makes this a
  // reshape test, not a re-aggregation.
  def q31dUnpivot(spark: SparkSession, dir: String): DataFrame =
    q31cPivot(spark, dir)
      .unpivot(Array(col("user_id")),
        EventTypes.map(t => col(s"n_$t")).toArray,
        "event_type", "n_events")
      .withColumn("event_type", expr("substring(event_type, 3)"))
      .orderBy("user_id", "event_type")

  val q31dSql: String =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
    t AS (SELECT unnest(['click','error','purchase','signup','view']) AS event_type),
    c AS (SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2)
    SELECT u.user_id AS user_id, t.event_type AS event_type,
      CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
    FROM u CROSS JOIN t
    LEFT JOIN c ON c.user_id = u.user_id AND c.event_type = t.event_type
    ORDER BY u.user_id, t.event_type"""

  // --- q107: retention cohorts ---------------------------------------------
  // The other product-analytics staple beside q103's funnel: users
  // cohorted by FIRST-ACTIVITY day, a retention cell counting how many of
  // each cohort were active again k days later. Two aggregations and one
  // broadcast-able join: per-user first day (groupBy min), distinct
  // (user, active day) pairs, then (cohort_day, day_offset) countDistinct.
  // At 100 TB both aggregations shuffle on user_id — the same key — so
  // the pair reuses one exchange; the day-offset arithmetic is exact
  // integer date subtraction under the UTC-pinned session.
  def q107RetentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val cohorts = days.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    days.join(cohorts, "user_id")
      .select(col("user_id"), col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset"), col("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  val q107Sql: String =
    """WITH d AS (
      SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      FROM events),
    c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id)
    SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
      CAST(d.day - c.cohort_day AS BIGINT) AS day_offset,
      count(DISTINCT d.user_id) AS n_users
    FROM d JOIN c USING (user_id)
    GROUP BY c.cohort_day, d.day - c.cohort_day
    ORDER BY cohort_day, day_offset"""

  // --- q114: time-series gap fill (resampling onto a dense spine) ----------
  // Dashboards and downstream models need a row for EVERY bucket, not just
  // the observed ones — a silent gap reads as "no data" when it means
  // zero events. The hourly rollup is left-joined onto a dense hour spine
  // generated from the corpus' own [min, max] bounds (sequence() over a
  // 1-row aggregate — scalar-bound, the q68 broadcast shape), missing
  // cells coalesce to zero. At 100 TB the spine is hours-sized
  // (broadcast) and the rollup is the only corpus-sized aggregation.
  def q114GapFill(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
    val spine = Tables.events(spark, dir)
      .agg(date_trunc("hour", min(col("ts"))).as("h0"),
        date_trunc("hour", max(col("ts"))).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"),
        expr("INTERVAL 1 HOUR"))).as("hour"))
    spine.join(hourly, Seq("hour"), "left")
      .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      .orderBy("hour")
  }

  val q114Sql: String =
    """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events),
    hourly AS (
      SELECT date_trunc('hour', ts) AS hour, count(*) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM e GROUP BY 1),
    bounds AS (SELECT date_trunc('hour', min(ts)) AS h0,
      date_trunc('hour', max(ts)) AS h1 FROM e),
    spine AS (
      SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      FROM bounds)
    SELECT strftime(s.hour, '%Y-%m-%d %H:%M:%S') AS hour,
      CAST(coalesce(h.n_events, 0) AS BIGINT) AS n_events,
      coalesce(h.sum_value, 0.0) AS sum_value
    FROM spine s LEFT JOIN hourly h ON s.hour = h.hour
    ORDER BY hour"""

  // --- q114b: LOCF — last observation carried forward ----------------------
  // The other gap-fill semantic: q114 fills missing buckets with ZERO
  // (right for counts); a sampled METRIC needs the last observed reading
  // carried forward (LOCF — the standard sparse-sensor/price-series
  // resample). Per (event_type, hour): the hour's LAST event value
  // (max-by (ts, event_id) — deterministic under ties), joined onto the
  // dense hour × type spine, then `last(value, ignoreNulls = true)` over
  // an ordered running frame carries readings across gap hours; hours
  // before a type's first observation stay NULL (no invented data). The
  // LOCF window partitions by event_type — bounded parallelism by type
  // cardinality; a high-cardinality key would range-shard the carry like
  // q58 (carry = per-shard LOCF + broadcast last-of-previous-shard).
  def q114bLocf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
    val hourlyLast = ev
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(max(struct(unix_micros(col("ts")), col("event_id"), col("value")))
        .getField("value").as("lv"))
    val spine = ev
      .agg(date_trunc("hour", min(col("ts"))).as("h0"),
        date_trunc("hour", max(col("ts"))).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"),
        expr("INTERVAL 1 HOUR"))).as("hour"))
      .crossJoin(broadcast(ev.select("event_type").distinct()))
    val w = Window.partitionBy("event_type").orderBy("hour")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourlyLast, Seq("event_type", "hour"), "left")
      .select(col("event_type"),
        date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("lv").isNotNull.as("observed"),
        last(col("lv"), ignoreNulls = true).over(w).as("value_locf"))
      .orderBy("event_type", "hour")
  }

  val q114bSql: String =
    """WITH e AS (SELECT event_id, user_id, event_type, value,
      CAST(ts AS TIMESTAMP) AS ts FROM events),
    hl AS (SELECT event_type, date_trunc('hour', ts) AS hour,
        (max(struct_pack(t := epoch_us(ts), e := event_id, v := value))).v AS lv
      FROM e GROUP BY 1, 2),
    bounds AS (SELECT date_trunc('hour', min(ts)) AS h0,
      date_trunc('hour', max(ts)) AS h1 FROM e),
    spine AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      FROM bounds),
    grid AS (SELECT t.event_type, s.hour
      FROM spine s CROSS JOIN (SELECT DISTINCT event_type FROM e) t)
    SELECT g.event_type, strftime(g.hour, '%Y-%m-%d %H:%M:%S') AS hour,
      hl.lv IS NOT NULL AS observed,
      last_value(hl.lv IGNORE NULLS) OVER (
        PARTITION BY g.event_type ORDER BY g.hour
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf
    FROM grid g LEFT JOIN hl ON hl.event_type = g.event_type
      AND hl.hour = g.hour
    ORDER BY g.event_type, hour"""

  // --- q32: tumbling windows ---------------------------------------------
  def q32Tumbling(spark: SparkSession, dir: String): DataFrame =
    EventOps.tumbling(Tables.events(spark, dir))
      .orderBy("window_start", "event_type")

  val q32Sql: String =
    """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events)
    SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      event_type, count(*) AS n_events,
      CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM e GROUP BY 1, 2 ORDER BY window_start, event_type"""

  // --- q98: incremental rollup maintenance (mergeable partial aggregates) --
  // The incremental-ETL contract at 100 TB: a standing per-type rollup is
  // never recomputed from the full history — the base aggregate merges
  // with the new batch's aggregate through the measures' merge algebra
  // (counts and sums add, mins and maxes combine). The carve is
  // deterministic (event_id % 10: eight "standing rollup" shards, two
  // "today's batch" shards); the ORACLE recomputes the rollup from
  // scratch over the union, so a green row proves merge == full recompute
  // bit-exactly — the property that makes incremental maintenance safe to
  // run forever. Sums ride DECIMAL(12,2) (the q32 parity pattern);
  // averages are deliberately absent: a non-algebraic measure is derived
  // downstream from (sum, count), never maintained.
  def q98IncrementalRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("ts"),
      col("event_id"), col("value").cast("decimal(12,2)").as("v"))
    def part(df: DataFrame): DataFrame =
      df.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum(col("v")).as("s"),
        min(col("ts")).as("mn"), max(col("ts")).as("mx"))
    val base = part(ev.where(pmod(col("event_id"), lit(10)) < 8))
    val delta = part(ev.where(pmod(col("event_id"), lit(10)) >= 8))
    base.unionByName(delta)
      .groupBy("event_type")
      .agg(sum(col("n")).as("n_events"), sum(col("s")).as("s2"),
        min(col("mn")).as("mn2"), max(col("mx")).as("mx2"))
      .select(col("event_type"), col("n_events"),
        col("s2").cast("double").as("sum_value"),
        date_format(col("mn2"), "yyyy-MM-dd HH:mm:ss").as("first_ts"),
        date_format(col("mx2"), "yyyy-MM-dd HH:mm:ss").as("last_ts"))
      .orderBy("event_type")
  }

  val q98Sql: String =
    """WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
        CAST(value AS DECIMAL(12,2)) AS v FROM events)
    SELECT event_type, count(*) AS n_events,
      CAST(sum(v) AS DOUBLE) AS sum_value,
      strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
      strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM e GROUP BY event_type ORDER BY event_type"""

  // --- q92: per-window top-k events by value (typed-Aggregator path) -----
  // EventOps.windowTopK: the bounded-heap Aggregator under window
  // aggregation (its streaming twin runs the same body watermarked —
  // StreamingParitySpec). Oracled against a row_number formulation, so
  // heap tie-breaking must match the window rank exactly.
  def q92WindowTopK(spark: SparkSession, dir: String): DataFrame =
    EventOps.windowTopK(Tables.events(spark, dir))
      .orderBy("window_start", "rk")

  val q92Sql: String =
    """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
      CAST(floor(value * 1000000) AS BIGINT) AS score FROM events),
    w AS (SELECT strftime(time_bucket(INTERVAL '10 minutes', ts),
        '%Y-%m-%d %H:%M:%S') AS window_start, event_id, score FROM e),
    r AS (SELECT window_start, event_id, score,
      row_number() OVER (PARTITION BY window_start
        ORDER BY score DESC, event_id) AS rk FROM w)
    SELECT window_start, CAST(rk AS BIGINT) AS rk, event_id,
      score AS score_micro
    FROM r WHERE rk <= 3 ORDER BY window_start, rk"""

  // --- q33: sliding windows (10 min wide, 5 min hop) ---------------------
  def q33Sliding(spark: SparkSession, dir: String): DataFrame =
    EventOps.sliding(Tables.events(spark, dir)).orderBy("window_start")

  val q33Sql: String =
    """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events),
    h AS (
      SELECT ts, value, unnest([
        time_bucket(INTERVAL '5 minutes', ts),
        time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes']) AS ws
      FROM e)
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
      count(*) AS n_events,
      CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM h WHERE ts >= ws AND ts < ws + INTERVAL '10 minutes'
    GROUP BY ws ORDER BY window_start"""

  // --- q34: per-user sessionization (5 min inactivity gap) ---------------
  def q34Sessions(spark: SparkSession, dir: String): DataFrame =
    EventOps.sessions(Tables.events(spark, dir))
      .orderBy("user_id", "session_start")

  val q34Sql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
    l AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM e),
    f AS (SELECT *, CASE WHEN prev IS NULL OR ts - prev > INTERVAL '5 minutes'
        THEN 1 ELSE 0 END AS new_s FROM l),
    s AS (SELECT *, sum(new_s) OVER (
        PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM f)
    SELECT user_id,
      strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
      count(*) AS n_events,
      CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"""

  // --- q35: timestamped export name (P13) ---------------------------------
  // The reference stamps its CSV export with strftime('%Y%m%d_%H%M%S')
  // (nlp_data_tagging.py:533) on the wall clock; the engine-verifiable
  // analogue stamps each event stream's export with its max event time.
  def q35ExportStamp(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(max(col("ts")).as("max_ts"), count(lit(1)).as("n_events"))
      .select(col("event_type"),
        concat(col("event_type"), lit("_"),
          date_format(col("max_ts"), "yyyyMMdd_HHmmss"), lit(".csv"))
          .as("export_name"),
        col("n_events"))
      .orderBy("event_type")

  val q35Sql: String =
    """SELECT event_type,
      event_type || '_' || strftime(CAST(max(ts) AS TIMESTAMP), '%Y%m%d_%H%M%S') || '.csv' AS export_name,
      count(*) AS n_events
    FROM events GROUP BY event_type ORDER BY event_type"""

  // --- q54: as-of enrichment join ----------------------------------------
  // Each click picks up the latest preceding (or simultaneous) view of the
  // same user — JoinOps.asofJoin's union+window formulation, verified
  // against DuckDB's NATIVE ASOF LEFT JOIN (an independent implementation
  // of the same semantics, so this is a cross-engine semantic check, not a
  // mirrored query). The view side is pre-aggregated to unique
  // (user_id, ts) as asofJoin requires for determinism.
  def q54AsofEnrich(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val clicks = e.where(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val views = e.where(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("view_value"))
      .withColumn("view_ts", col("ts"))
    graft.ops.JoinOps.asofJoin(clicks, views, "user_id", "ts",
      Seq("view_ts", "view_value"))
      .select(col("event_id"), col("user_id"),
        date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("view_ts"),
        col("view_value"))
      .orderBy("event_id")
  }

  val q54Sql: String =
    """WITH e AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
      FROM events),
    clicks AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
    views AS (
      SELECT user_id, ts, max(value) AS view_value
      FROM e WHERE event_type = 'view' GROUP BY user_id, ts)
    SELECT c.event_id, c.user_id,
      strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
      v.view_value
    FROM clicks c ASOF LEFT JOIN views v
      ON c.user_id = v.user_id AND v.ts <= c.ts
    ORDER BY c.event_id"""

  // --- q116: as-of join directions + tolerance ------------------------------
  // The full public merge_asof contract over the q54 relation pair:
  // backward (latest view at-or-before the click), forward (earliest
  // at-or-after), nearest (closest, ties backward — pandas' rule), all
  // bounded by a 2-minute tolerance that nulls matches beyond it. Three
  // chained asofJoinDir passes — every one shuffles on the SAME user_id
  // key, so the exchanges line up at scale. The oracle derives each
  // direction independently with correlated min/max subqueries and
  // re-applies the tie rule, so a direction mix-up, an off-by-one at
  // simultaneity, or a tolerance boundary slip breaks the hash.
  val AsofToleranceMicros: Long = 120L * 1000000L

  def q116AsofDirections(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val clicks = e.where(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val views = e.where(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts")).agg(count(lit(1)).as("__n"))
      .select(col("user_id"), col("ts"), col("ts").as("view_ts"))
    def step(in: org.apache.spark.sql.DataFrame, d: String, as: String) =
      graft.ops.JoinOps.asofJoinDir(in, views, "user_id", "ts",
        Seq("view_ts"), d, Some(AsofToleranceMicros))
        .withColumnRenamed("view_ts", as)
    val enriched = step(step(step(clicks,
      "backward", "bwd_ts"), "forward", "fwd_ts"), "nearest", "near_ts")
    enriched.select(col("event_id"), col("user_id"),
      date_format(col("bwd_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("bwd_ts"),
      date_format(col("fwd_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("fwd_ts"),
      date_format(col("near_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("near_ts"))
      .orderBy("event_id")
  }

  val q116Sql: String =
    s"""WITH e AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      FROM events),
    clicks AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
    views AS (SELECT DISTINCT user_id, ts FROM e WHERE event_type = 'view'),
    picked AS (
      SELECT c.event_id, c.user_id, c.ts,
        (SELECT max(v.ts) FROM views v WHERE v.user_id = c.user_id
          AND v.ts <= c.ts
          AND epoch_us(c.ts) - epoch_us(v.ts) <= $AsofToleranceMicros) AS bwd,
        (SELECT min(v.ts) FROM views v WHERE v.user_id = c.user_id
          AND v.ts >= c.ts
          AND epoch_us(v.ts) - epoch_us(c.ts) <= $AsofToleranceMicros) AS fwd
      FROM clicks c)
    SELECT event_id, user_id,
      strftime(bwd, '%Y-%m-%d %H:%M:%S.%f') AS bwd_ts,
      strftime(fwd, '%Y-%m-%d %H:%M:%S.%f') AS fwd_ts,
      strftime(CASE
        WHEN bwd IS NULL THEN fwd
        WHEN fwd IS NULL THEN bwd
        WHEN epoch_us(fwd) - epoch_us(ts) < epoch_us(ts) - epoch_us(bwd)
          THEN fwd
        ELSE bwd END, '%Y-%m-%d %H:%M:%S.%f') AS near_ts
    FROM picked ORDER BY event_id"""

  // --- q117: per-user dynamic-gap sessionization ----------------------------
  // q34 sessionizes under ONE static gap; real products give different
  // user tiers different inactivity budgets. EventOps.sessionsDynamicGap
  // runs the lag/flag/cumsum formulation with a per-row gap expression —
  // here 5/10/15 minutes by user_id % 3, deterministic so the oracle
  // re-derives it — and also yields the session SEQUENCE number
  // session_window cannot emit. One user_id shuffle; both windows share
  // its sort. The streaming twin (StreamingOps.dynamicGapSessionStream,
  // flatMapGroupsWithState) closes the same sessions incrementally and
  // is file-replay-parity-gated in StreamingParitySpec.
  def sessionGapMicros: org.apache.spark.sql.Column =
    (lit(300L) + (col("user_id") % 3) * 300L) * 1000000L

  val sessionGapMicrosSql: String =
    "(300 + (user_id % 3) * 300) * 1000000"

  /** Row-level gap rule of the session STREAMS (q181/q191). Plain %, NOT
    * floorMod: it must mirror sessionGapMicros / sessionGapMicrosSql
    * bit-for-bit (they diverge on negative ids). */
  private val streamGapMicrosOf: Long => Long =
    uid => (300L + (uid % 3L) * 300L) * 1000000L

  /** The output projection shared by q117 and its stream twins q181/q191. */
  private def sessionRows(sessions: DataFrame): DataFrame =
    sessions
      .select(col("user_id"), col("session_seq"), col("n_events"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("session_start"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("session_end"),
        col("duration_sec"))
      .orderBy("user_id", "session_seq")

  def q117DynamicSessions(spark: SparkSession, dir: String): DataFrame =
    sessionRows(graft.ops.EventOps.sessionsDynamicGap(
      Tables.events(spark, dir), sessionGapMicros))

  // --- q181: the dynamic-gap session stream EXECUTED in the gate -----------
  // Third streaming path class driver-oracled (r13 verdict item 3): q179
  // covers foreachBatch aggregation, q180 the built-in stateful dedup;
  // this runs the CUSTOM-STATE machine (flatMapGroupsWithState +
  // EventTimeTimeout, StreamingOps.dynamicGapSessionStream) over a fresh
  // time-ordered file replay of the events fixture and is verified by
  // q117's batch lag/cumsum SQL — closed sessions are a pure function of
  // each user's event-time-ordered events, so the streamed rows must
  // equal the batch operator's hash-exactly once the final watermark
  // flush runs (the staged far-future flush event provides it).
  def q181StreamDynamicSessions(spark: SparkSession, dir: String): DataFrame =
    sessionRows(StreamingOps.dynamicSessionsViaStream(
      spark, dir, chunks = 4, gapMicrosOf = streamGapMicrosOf,
      scratchName = "q181_dyn_sessions"))

  // --- q191: checkpoint RESTART of the custom-state session stream ---------
  // q189 certifies checkpoint recovery for the BUILT-IN dedup operator's
  // state; this certifies it for USER-AUTHORED state — the per-key event
  // buffers the q181 flatMapGroupsWithState machine keeps. The replay is
  // cut after 2 of 5 staged files with OPEN sessions parked in the state
  // store, a new query resumes from the same checkpoint (same query id,
  // distinct run ids, asserted in-body) and replays the rest including
  // the flush event. Same gap rule and projection as q181; q117's batch
  // SQL verifies the two-start execution hash-exactly — a session lost
  // from recovered state, double-emitted, or split at the stop boundary
  // breaks the hash.
  def q191StreamRestartSessions(spark: SparkSession, dir: String): DataFrame =
    sessionRows(StreamingOps.dynamicSessionsViaStreamRestart(
      spark, dir, chunks = 4, stopAfterFiles = 2,
      gapMicrosOf = streamGapMicrosOf, scratchName = "q191_restart_sessions"))

  // --- q185: the stream-stream interval join EXECUTED in the gate ----------
  // Fourth streaming path class driver-oracled (the r13 verdict's stretch
  // sibling of q181): q77's click-attribution interval join run as a
  // dual-watermark stream-stream join over a fresh time-ordered file
  // replay, verified by q77's batch SQL — an inner interval join's match
  // set is replay-chunking-independent, so the streamed rows must equal
  // the batch bucketed-range-join's hash-exactly.
  def q185StreamClickAttribution(spark: SparkSession, dir: String): DataFrame =
    attributionRows(StreamingOps.clickAttributionViaStream(
      spark, dir, chunks = 4, windowSeconds = AttributionWindowSeconds,
      scratchName = "q185_click_attr"))

  // --- q192: checkpoint RESTART of the stream-stream interval join ---------
  // Completes the restart matrix: q189 recovers the built-in dedup
  // operator's state, q191 custom flatMapGroupsWithState state, and this
  // the dual-side JOIN BUFFERS (unmatched views/clicks, one watermark
  // per side). The replay is cut inside a known match window, so a new
  // query resumes from the checkpoint with both buffers non-empty, and
  // every CROSS-CUT match — a view before the stop whose click arrives
  // after — exists only if the recovered buffers are complete. q77's
  // batch SQL verifies the two-start execution hash-exactly.
  def q192StreamRestartAttribution(spark: SparkSession,
                                   dir: String): DataFrame =
    attributionRows(StreamingOps.clickAttributionViaStreamRestart(
      spark, dir, chunks = 4, stopAfterFiles = 2,
      windowSeconds = AttributionWindowSeconds,
      scratchName = "q192_restart_attr"))

  /** The output projection shared by the attribution streams q185/q192. */
  private def attributionRows(matches: DataFrame): DataFrame =
    matches
      .select(col("click_id"), col("view_id"), col("user_id"),
        col("delay_sec"))
      .orderBy("click_id", "view_id")

  val q117Sql: String =
    s"""WITH e AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    f AS (
      SELECT user_id, event_id, ts,
        CASE WHEN lag(ts) OVER w IS NULL THEN 1
             WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
               > $sessionGapMicrosSql THEN 1
             ELSE 0 END AS nw
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, ts,
        SUM(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM f)
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
      count(*) AS n_events,
      strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
      strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
      CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT)
        AS duration_sec
    FROM s GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq"""

  // --- q64: bucketed range join (events within anchor windows) -----------
  // Every 'error' event opens a 5-minute half-open window; count the
  // events and distinct users inside each. There is NO equi key, so the
  // naive join plans as a BroadcastNestedLoopJoin — O(|events|·|anchors|);
  // JoinOps.rangeJoinBucketed makes it a bucket equi-join (plan-shape
  // asserted in PlanShapeSpec). Anchors match their own window, so every
  // anchor surfaces without a left join.
  val RangeWindowSeconds = 300L

  /** Shared q64/q64b body — anchors, probe, aggregation, and ordering are
    * identical by construction (both rows verify against q64Sql); only
    * the join step differs, so it is the one injected piece.
    */
  private def rangeJoinSummary(spark: SparkSession, dir: String)
      (join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val ev = Tables.events(spark, dir)
    val anchors = ev.where(col("event_type") === "error")
      .select(col("event_id").as("anchor_id"), col("ts").as("w_start"))
      .withColumn("w_end",
        col("w_start") + expr(s"INTERVAL $RangeWindowSeconds SECONDS"))
    val probe = ev.select(col("event_id"), col("ts"), col("user_id"))
    join(probe, anchors)
      .groupBy("anchor_id")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("anchor_id")
  }

  def q64RangeJoin(spark: SparkSession, dir: String): DataFrame =
    rangeJoinSummary(spark, dir) { (probe, anchors) =>
      graft.ops.JoinOps.rangeJoinBucketed(
        probe, anchors, "ts", "w_start", "w_end", RangeWindowSeconds)
    }

  val q64Sql: String =
    s"""WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events),
    a AS (SELECT event_id AS anchor_id, ts AS w_start,
        ts + INTERVAL $RangeWindowSeconds SECOND AS w_end
      FROM e WHERE event_type = 'error')
    SELECT a.anchor_id, count(*) AS n_events,
      CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users
    FROM a JOIN e p ON p.ts >= a.w_start AND p.ts < a.w_end
    GROUP BY a.anchor_id ORDER BY a.anchor_id"""

  // --- q64b: the SAME computation through the optimizer-rule path --------
  // The body writes the NAIVE non-equi join; graft.plans.RangeJoinRewrite,
  // injected by the GraftExtensions the session is built with
  // (Tables.localSession), rewrites it to the bucketed equi-join at
  // optimize time. Sharing q64's oracle puts the Catalyst extension itself
  // under the driver's hash gate: a green row means the rule-rewritten plan
  // is bit-identical to DuckDB's answer. In a session without the extension
  // the join runs as the naive nested loop, with the same rows. The
  // ACTIVATION is scoped to this one join via a WidthTag on its logical
  // Join node — no session conf is mutated, so no other query in a shared
  // Verify/Bench session can inherit the rewrite or its bucket width.
  def q64bRangeJoinRule(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.RangeJoinRewrite
    rangeJoinSummary(spark, dir) { (probe, anchors) =>
      val joined = probe.join(anchors,
        col("ts") >= col("w_start") && col("ts") < col("w_end"))
      joined.queryExecution.analyzed.foreach {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          j.setTagValue(RangeJoinRewrite.WidthTag, RangeWindowSeconds)
        case _ => ()
      }
      joined
    }
  }

  // --- q77: per-user click attribution (keyed bucketed range join) -------
  // The two-stream correlation every event pipeline runs: each click is
  // attributed to every view by the SAME user in the preceding
  // `AttributionWindowSeconds` (half-open — a view at the click instant
  // counts, one exactly window-length earlier does not). With a key the
  // bucketed join shuffles on (user, bucket): candidates are generated
  // only within one user's bucket, so the shape survives both corpus
  // scale and hot-bucket skew (a viral second spreads across users).
  // `delay_sec` is exact integer microsecond arithmetic, truncating div.
  // The SAME relation is computed by the streaming intervalJoin
  // (stream-stream inner join with watermarked state); their agreement
  // over the real events fixture is StreamingParitySpec's business.
  val AttributionWindowSeconds = 600L

  def q77ClickAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts"), col("user_id"))
    val views = ev.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("ts").as("v_start"),
        (col("ts") + expr(s"INTERVAL $AttributionWindowSeconds SECONDS"))
          .as("v_end"),
        col("user_id"))
    graft.ops.JoinOps.rangeJoinBucketed(
      clicks, views, "ts", "v_start", "v_end",
      widthSeconds = RangeWindowSeconds, extraKeys = Seq("user_id"))
      .select(col("click_id"), col("view_id"), col("user_id"),
        expr("(unix_micros(ts) - unix_micros(v_start)) div 1000000L")
          .as("delay_sec"))
      .orderBy("click_id", "view_id")
  }

  val q77Sql: String =
    s"""WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
        event_type FROM events),
    c AS (SELECT event_id AS click_id, ts, user_id FROM e
      WHERE event_type = 'click'),
    v AS (SELECT event_id AS view_id, ts AS v_start,
        ts + INTERVAL $AttributionWindowSeconds SECOND AS v_end, user_id
      FROM e WHERE event_type = 'view')
    SELECT c.click_id, v.view_id, c.user_id,
      (epoch_us(c.ts) - epoch_us(v.v_start)) // 1000000 AS delay_sec
    FROM c JOIN v ON c.user_id = v.user_id
      AND c.ts >= v.v_start AND c.ts < v.v_end
    ORDER BY c.click_id, v.view_id"""

  // --- q103: ordered conversion funnel (view → click → purchase) ----------
  // The product-analytics staple the window surface was missing: how many
  // users complete each step IN ORDER (a purchase only counts when it
  // follows a click that itself followed a view). Per user, events are
  // walked ONCE in (ts, event_id) order with three chained running
  // minima — earliest view so far, earliest click at-or-after that view,
  // earliest purchase at-or-after that click; consecutive Window
  // operators share the partitioning/ordering, so the whole chain costs a
  // single user_id-keyed shuffle (the key the events table would be
  // bucketed by at scale) — no per-step self-joins, no repeated scans.
  // Ties on ts break by event_id, identically in both engines. The
  // summary emits one row per step with an integral micro-unit
  // conversion rate vs the previous step (step 1 converts vs all users).
  def q103Funnel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val stepped = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t_click",
        min(when(col("event_type") === "click" && col("t_view").isNotNull,
          col("ts"))).over(w))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" && col("t_click").isNotNull,
          col("ts"))).over(w))
    val users = stepped.groupBy("user_id").agg(
      max(when(col("t_view").isNotNull, 1L).otherwise(0L)).as("r1"),
      max(when(col("t_click").isNotNull, 1L).otherwise(0L)).as("r2"),
      max(when(col("t_purchase").isNotNull, 1L).otherwise(0L)).as("r3"))
    val totals = users.agg(count(lit(1)).as("n0"),
      sum(col("r1")).as("n1"), sum(col("r2")).as("n2"),
      sum(col("r3")).as("n3"))
    val steps = {
      import spark.implicits._
      Seq((1L, "view"), (2L, "click"), (3L, "purchase"))
        .toDF("step", "step_name")
    }
    // 1-row totals crossJoined back — the q19b scalar-bound broadcast shape
    steps.crossJoin(totals)
      .select(col("step"), col("step_name"),
        when(col("step") === 1, col("n1")).when(col("step") === 2, col("n2"))
          .otherwise(col("n3")).as("n_users"),
        when(col("step") === 1, col("n0")).when(col("step") === 2, col("n1"))
          .otherwise(col("n2")).as("prev_users"))
      .select(col("step"), col("step_name"), col("n_users"), col("prev_users"),
        when(col("prev_users") > 0,
          expr("(n_users * 1000000) DIV prev_users")).as("conv_micro"))
      .orderBy("step")
  }

  val q103Sql: String =
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        event_type FROM events),
    s1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END)
        OVER w AS t_view FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING)),
    s2 AS (SELECT *, MIN(CASE WHEN event_type = 'click'
          AND t_view IS NOT NULL THEN ts END) OVER w AS t_click FROM s1
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING)),
    s3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase'
          AND t_click IS NOT NULL THEN ts END) OVER w AS t_purchase FROM s2
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING)),
    u AS (SELECT user_id,
        max(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS r1,
        max(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS r2,
        max(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS r3
      FROM s3 GROUP BY user_id),
    f AS (SELECT CAST(count(*) AS BIGINT) AS n0, CAST(sum(r1) AS BIGINT) AS n1,
        CAST(sum(r2) AS BIGINT) AS n2, CAST(sum(r3) AS BIGINT) AS n3 FROM u),
    steps(step, step_name) AS (VALUES (1, 'view'), (2, 'click'), (3, 'purchase'))
    SELECT CAST(step AS BIGINT) AS step, step_name,
      CAST(CASE step WHEN 1 THEN n1 WHEN 2 THEN n2 ELSE n3 END AS BIGINT) AS n_users,
      CAST(CASE step WHEN 1 THEN n0 WHEN 2 THEN n1 ELSE n2 END AS BIGINT) AS prev_users,
      CASE WHEN (CASE step WHEN 1 THEN n0 WHEN 2 THEN n1 ELSE n2 END) > 0
        THEN CAST((CASE step WHEN 1 THEN n1 WHEN 2 THEN n2 ELSE n3 END) * 1000000
          // (CASE step WHEN 1 THEN n0 WHEN 2 THEN n1 ELSE n2 END) AS BIGINT)
      END AS conv_micro
    FROM steps, f ORDER BY step"""

  // --- q17e: AMS (tug-of-war) F2 sketch with exact twin --------------------
  // F2 = Σ_u c(u)² is the user-keyed SELF-JOIN SIZE — the pre-flight
  // statistic that predicts whether a user-keyed join/groupBy needs
  // salting (q56/q90's decision) before running it. Exact F2 needs the
  // full per-key histogram; the AMS sketch (Alon-Matias-Szegedy 1996)
  // needs O(buckets·reps) integers: hash every key to one of 16 buckets
  // with a ±1 sign, keep Σ ±c per bucket, estimate Σ_b z_b² per rep
  // (the bucketed/Count-Sketch form, Thorup-Zhang 2004 — unbiased), take
  // the median of 5 independent repetitions. Both the sketch arithmetic
  // (HashOps.charHash buckets/signs — portable) and the exact twin are
  // pure BIGINT, so the ORACLE REPLAYS THE SKETCH ITSELF bit-for-bit
  // next to the exact value: the row verifies estimator and truth
  // together, and err_micro quantifies the estimate on the fixture.
  // Scale shape: ONE user-keyed count aggregate (corpus-sized), then
  // everything operates on the vocabulary-sized count relation;
  // the sketch state is reps×buckets rows. At 100 TB the count relation
  // itself can stay sketched by feeding events straight through the
  // same (rep, bucket) keying — identical algebra, no per-user state.
  // shared with the streaming twin — one definition (ops.AmsSketch)
  val AmsReps: Int = graft.ops.AmsSketch.Reps
  val AmsBuckets: Int = graft.ops.AmsSketch.Buckets

  def q17eAmsF2(spark: SparkSession, dir: String): DataFrame = {
    // persisted: the exact twin and the sketch both read the count relation
    val counts = graft.CacheScope.persist(
      Tables.events(spark, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("c")))
    // the shared sketch derivation (ops.AmsSketch) — one definition with
    // the streaming twin, count-weighted here
    val perRep = graft.ops.AmsSketch.countCounters(counts, "user_id", "c")
      .groupBy("rep").agg(sum(col("z") * col("z")).as("est"))
    val med = perRep.agg(element_at(
      sort_array(collect_list(col("est"))), (AmsReps + 1) / 2).as("ams_f2"))
    val exact = counts.agg(sum(col("c")).as("n_events"),
      count(lit(1)).as("n_users"),
      sum(col("c") * col("c")).as("f2_exact"))
    exact.crossJoin(broadcast(med))
      .select(col("n_events"), col("n_users"), col("f2_exact"), col("ams_f2"),
        expr("(1000000 * abs(ams_f2 - f2_exact)) div f2_exact").as("err_micro"))
  }

  val q17eSql: String = {
    val h = graft.ops.HashOps.charHashSql(
      "'r' || CAST(rep AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")
    s"""WITH counts AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS c FROM events
      GROUP BY user_id),
    hashed AS (SELECT user_id, c, rep, $h AS h
      FROM counts, (SELECT unnest(range(0, $AmsReps)) AS rep)),
    keyed AS (SELECT rep, h % $AmsBuckets AS b,
        (1 - 2 * ((h // $AmsBuckets) % 2)) * c AS sc
      FROM hashed),
    z AS (SELECT rep, b, CAST(sum(sc) AS BIGINT) AS z
      FROM keyed GROUP BY rep, b),
    per_rep AS (SELECT rep, CAST(sum(z * z) AS BIGINT) AS est
      FROM z GROUP BY rep),
    med AS (SELECT list_sort(list(est))[${(AmsReps + 1) / 2}] AS ams_f2
      FROM per_rep),
    ex AS (SELECT CAST(sum(c) AS BIGINT) AS n_events,
        CAST(count(*) AS BIGINT) AS n_users,
        CAST(sum(c * c) AS BIGINT) AS f2_exact
      FROM counts)
    SELECT n_events, n_users, f2_exact, CAST(ams_f2 AS BIGINT) AS ams_f2,
      (1000000 * abs(ams_f2 - f2_exact)) // f2_exact AS err_micro
    FROM ex CROSS JOIN med"""
  }

  // --- q64c: interval-overlap COUNTING without the pair join --------------
  // Per (user, event_type) activity span [min ts, max ts], how many OTHER
  // users' same-type spans overlap it — the co-activity/concurrency
  // audit. The naive formulation is an interval-interval self-join
  // (quadratic output risk, no equi-key); this uses the sweep identity
  //
  //   overlaps(i) = #{j : start_j <= end_i} − #{j : end_j < start_i} − 1
  //
  // so the whole computation is TWO prefix COUNTS over the merged
  // timeline — no pair relation ever exists. Each count runs through
  // CurationQueries.runningOffsets (the q58 two-level range-sharded
  // prefix sum keyed by event_type), with the strict-vs-inclusive tie
  // semantics encoded arithmetically: positions are 2t for starts/
  // start-probes and 2t+1 for ends/end-probes, so "start_j <= end_i"
  // (2t_s < 2t_e+1) and "end_j < start_i" (2t_e+1 < 2t_s) fall out of
  // integer ordering with no boundary cases. The oracle below is the
  // independent quadratic formulation (a true interval self-join), so a
  // hash match proves the sweep identity against brute force.
  val OverlapShards = 32

  /** The sweep-identity core over an interval relation
    * `(event_type, user_id, t0, t1, ...)` — factored out so the
    * property suite can drive it with adversarial random intervals
    * against an O(n²) reference (PropertySpec).
    */
  // r15 optimization note: a draft merged the two prefix counts into ONE
  // runningOffsets sweep keyed by a pass-tagged source (half the
  // persists/bounds/window passes, hash-identical output). It was
  // REVERTED after measurement: the two sweeps below are INDEPENDENT
  // subtrees of one final plan, so Spark executes them concurrently
  // (guide §2.6 back-fill) — the merged single chain serialized them
  // behind one bounds barrier and read ~2.9 s in three independent full
  // bench runs vs ~1.9 s for this shape (evidence in
  // OPTIMIZATION_r15.md). Less total work lost to a longer critical
  // path; the concurrent shape is also the right one on a busy cluster,
  // where the two 2n-row sweeps cost the same resources as one 4n-row
  // sweep but finish in one sweep's wall-clock.
  private[graft] def overlapCounts(iv0: DataFrame): DataFrame = {
    val iv = graft.CacheScope.persist(iv0)
    def probeCount(data: DataFrame, probes: DataFrame, name: String) =
      CurationQueries.runningOffsets(data.unionByName(probes), OverlapShards)
        .where(col("n_tokens") === 0L)
        .select(col("source").as("event_type"), col("doc_id").as("user_id"),
          col("start_offset").as(name))
    def rel(tCol: String, shift: Int, isData: Boolean) =
      iv.select(col("event_type").as("source"),
        (col(tCol) * 2 + shift).as("ord"), col("user_id").as("doc_id"),
        lit(if (isData) 1L else 0L).as("n_tokens"))
    val nStartsLeEnd = probeCount(
      rel("t0", 0, isData = true), rel("t1", 1, isData = false),
      "n_starts_le_end")
    val nEndsLtStart = probeCount(
      rel("t1", 1, isData = true), rel("t0", 0, isData = false),
      "n_ends_lt_start")
    iv.join(nStartsLeEnd, Seq("event_type", "user_id"))
      .join(nEndsLtStart, Seq("event_type", "user_id"))
      .select(col("event_type"), col("user_id"),
        (col("n_starts_le_end") - col("n_ends_lt_start") - 1).as("n_overlap"))
  }

  def q64cOverlapCount(spark: SparkSession, dir: String): DataFrame = {
    val iv = Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(unix_micros(min(col("ts"))).as("t0"),
        unix_micros(max(col("ts"))).as("t1"),
        count(lit(1)).as("n_events"))
    overlapCounts(iv)
      .join(iv.select(col("event_type"), col("user_id"), col("n_events")),
        Seq("event_type", "user_id"))
      .select(col("event_type"), col("user_id"), col("n_events"),
        col("n_overlap"))
      .orderBy("event_type", "user_id")
  }

  val q64cSql: String =
    """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      FROM events),
    s AS (SELECT user_id, event_type,
        epoch_us(min(ts)) AS t0, epoch_us(max(ts)) AS t1,
        CAST(count(*) AS BIGINT) AS n_events
      FROM e GROUP BY 1, 2)
    SELECT a.event_type, a.user_id, a.n_events,
      CAST(count(b.user_id) AS BIGINT) AS n_overlap
    FROM s a LEFT JOIN s b ON a.event_type = b.event_type
      AND a.user_id <> b.user_id AND b.t0 <= a.t1 AND b.t1 >= a.t0
    GROUP BY 1, 2, 3 ORDER BY 1, 2"""

  // --- q129: Z-order (Morton) multi-column layout -------------------------
  // writeSorted's zone-map layout generalized to TWO clustering columns
  // (the OPTIMIZE ZORDER BY technique, no table format): events are
  // written range-partitioned by the Morton interleave of (user_id,
  // minute), so every parquet file carries a SMALL bounding box in BOTH
  // dimensions and footer stats prune point/range predicates on EITHER
  // column — a 1-D minute sort answers minute predicates but every file
  // spans all users. Dims are LEFT-ALIGNED into the 16-bit key domain
  // (user_id << 12 — the fixture's 4-bit user domain moved to the top
  // bits; minute is RELATIVE to the corpus start, a 1-row scalar-bound
  // broadcast like q114's spine bounds) because Morton discrimination
  // happens at the top occupied bits: un-aligned, a 4-bit dim's bits sit
  // at curve positions 0-7 where every file-sized curve interval cycles
  // through all values and prunes nothing (quantified in
  // ZOrderLayoutSpec). The sink round-trip follows q91/q111: write the
  // layout, read it back, and emit each event's curve key recomputed
  // from the READ-BACK rows — verifying the round trip row-exactly and
  // the 32-term bit-interleave math cross-engine.
  val ZOrderFiles = 16

  /** Epoch minute of `ts` — the q129 clustering dimension. */
  private def minuteCol: Column =
    expr("unix_micros(ts) div 60000000")

  /** The curve key as a pure column over (user_id, ts), given the corpus
    * base minute (a scalar — one driver long, the q79e probed-cells
    * class of bounded hop).
    */
  private def zKey(m0: Long): Column =
    graft.ops.ZOrder.interleave16(
      shiftleft(col("user_id"), 12), minuteCol - lit(m0))

  def q129ZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val m0 = ev.agg(min(minuteCol)).head.getLong(0)
    val tmp = graft.Scratch.dir("q129_zorder")
    graft.sources.DocumentSources.writeZOrdered(
      ev.select("event_id", "user_id", "ts"), tmp, zKey(m0), ZOrderFiles)
    // recompute the key from the READ-BACK rows: a row lost or mutated
    // by the layout write breaks the oracle compare
    spark.read.parquet(tmp)
      .select(col("event_id"), zKey(m0).as("z"))
      .orderBy("event_id")
  }

  val q129Sql: String = {
    val zExpr = graft.ops.ZOrder.interleave16Sql(
      "user_id << 12", "minute - m0")
    s"""WITH e AS (
      SELECT event_id, user_id,
        epoch_us(CAST(ts AS TIMESTAMP)) // 60000000 AS minute
      FROM events),
    b AS (SELECT min(minute) AS m0 FROM e)
    SELECT event_id, $zExpr AS z
    FROM e CROSS JOIN b ORDER BY event_id"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q64c_overlap_count" -> (q64cOverlapCount _),
    "q17e_ams_f2" -> (q17eAmsF2 _),
    "q114b_locf" -> (q114bLocf _),
    "q31e_variant_stats" -> (q31eVariantStats _),
    "q103_funnel" -> (q103Funnel _),
    "q54_asof_enrich" -> (q54AsofEnrich _),
    "q77_click_attribution" -> (q77ClickAttribution _),
    "q64_range_join" -> (q64RangeJoin _),
    "q64b_range_join_rule" -> (q64bRangeJoinRule _),
    "q35_export_stamp" -> (q35ExportStamp _),
    "q31_json_stats" -> (q31JsonStats _),
    "q31b_json_struct" -> (q31bJsonStruct _),
    "q31c_pivot" -> (q31cPivot _),
    "q31d_unpivot" -> (q31dUnpivot _),
    "q107_retention_cohorts" -> (q107RetentionCohorts _),
    "q114_gap_fill" -> (q114GapFill _),
    "q116_asof_directions" -> (q116AsofDirections _),
    "q117_dynamic_sessions" -> (q117DynamicSessions _),
    "q181_stream_dynamic_sessions" -> (q181StreamDynamicSessions _),
    "q191_stream_restart_sessions" -> (q191StreamRestartSessions _),
    "q185_stream_click_attribution" -> (q185StreamClickAttribution _),
    "q192_stream_restart_attribution" -> (q192StreamRestartAttribution _),
    "q129_zorder_layout" -> (q129ZorderLayout _),
    "q32_tumbling" -> (q32Tumbling _),
    "q33_sliding" -> (q33Sliding _),
    "q34_sessions" -> (q34Sessions _),
    "q92_window_topk" -> (q92WindowTopK _),
    "q98_incremental_rollup" -> (q98IncrementalRollup _))

  val oracleSql: Map[String, String] = Map(
    "q64c_overlap_count" -> q64cSql,
    "q17e_ams_f2" -> q17eSql,
    "q114b_locf" -> q114bSql,
    "q31e_variant_stats" -> q31Sql, // deliberately q31's oracle: the two JSON paths must agree
    "q103_funnel" -> q103Sql,
    "q31d_unpivot" -> q31dSql,
    "q107_retention_cohorts" -> q107Sql,
    "q114_gap_fill" -> q114Sql,
    "q116_asof_directions" -> q116Sql,
    "q117_dynamic_sessions" -> q117Sql,
    "q181_stream_dynamic_sessions" -> q117Sql,
    "q191_stream_restart_sessions" -> q117Sql,
    "q185_stream_click_attribution" -> q77Sql,
    "q192_stream_restart_attribution" -> q77Sql,
    "q129_zorder_layout" -> q129Sql,
    "q54_asof_enrich" -> q54Sql,
    "q77_click_attribution" -> q77Sql,
    "q64_range_join" -> q64Sql,
    "q64b_range_join_rule" -> q64Sql,
    "q35_export_stamp" -> q35Sql,
    "q31_json_stats" -> q31Sql,
    "q31b_json_struct" -> q31bSql,
    "q31c_pivot" -> q31cSql,
    "q32_tumbling" -> q32Sql,
    "q92_window_topk" -> q92Sql,
    "q33_sliding" -> q33Sql,
    "q34_sessions" -> q34Sql,
    "q98_incremental_rollup" -> q98Sql)
}
