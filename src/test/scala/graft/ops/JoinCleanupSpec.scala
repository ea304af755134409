package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Tests for the salted skew join and the PII/repetition text cleanup. */
class JoinCleanupSpec extends SparkSpec {
  import sqlImplicits._

  test("saltedJoin equals the plain join on a 1:N relationship") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = orders.join(cust, "o_custkey")
      .select("o_orderkey", "c_name").orderBy("o_orderkey")
      .collect().map(_.toSeq).toSeq
    val salted = JoinOps.saltedJoin(orders, cust, "o_custkey", salts = 7,
      saltCols = Seq("o_orderkey"))
      .select("o_orderkey", "c_name").orderBy("o_orderkey")
      .collect().map(_.toSeq).toSeq
    assert(salted == plain)
  }

  test("asofJoin picks the latest preceding right row; simultaneous counts; none -> null") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, 7L, ts("2024-01-01 00:10:00")),  // right rows at 00:05 and 00:10
      (2L, 7L, ts("2024-01-01 00:02:00")),  // before any right row
      (3L, 8L, ts("2024-01-01 00:05:00")))  // key with no right rows
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (7L, ts("2024-01-01 00:05:00"), "a"),
      (7L, ts("2024-01-01 00:10:00"), "b"),  // simultaneous with left #1
      (9L, ts("2024-01-01 00:01:00"), "x"))
      .toDF("user_id", "ts", "tag")
    val out = JoinOps.asofJoin(left, right, "user_id", "ts", Seq("tag"))
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), Option(r.getAs[String]("tag"))))
    assert(out.toSeq == Seq((1L, Some("b")), (2L, None), (3L, None)))
  }

  test("asofJoinDir: forward, nearest (ties backward), and tolerance nulls") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, 7L, ts("2024-01-01 00:10:00")), // bwd 00:08, fwd 00:13
      (2L, 7L, ts("2024-01-01 00:02:00")), // nothing before; fwd 00:08
      (3L, 7L, ts("2024-01-01 00:30:00")), // bwd 00:13 beyond 5m tolerance
      (4L, 8L, ts("2024-01-01 00:05:00")), // equidistant: 00:03 / 00:07
      (5L, 9L, ts("2024-01-01 00:05:00"))) // no right rows at all
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (7L, ts("2024-01-01 00:08:00"), "a"),
      (7L, ts("2024-01-01 00:13:00"), "b"),
      (8L, ts("2024-01-01 00:03:00"), "c"),
      (8L, ts("2024-01-01 00:07:00"), "d"))
      .toDF("user_id", "ts", "tag")
    val tol = Some(300L * 1000000L) // 5 minutes
    def run(dir: String) =
      JoinOps.asofJoinDir(left, right, "user_id", "ts", Seq("tag"), dir, tol)
        .orderBy("event_id").collect()
        .map(r => Option(r.getAs[String]("tag"))).toSeq
    assert(run("backward") ==
      Seq(Some("a"), None, None, Some("c"), None))
    assert(run("forward") ==
      Seq(Some("b"), None /* 00:08 is 6m away */, None, Some("d"), None))
    // nearest: #1 bwd (2m) beats fwd (3m); #2 only fwd candidate is out of
    // tolerance -> null; #4 equidistant -> backward wins (pandas rule)
    assert(run("nearest") ==
      Seq(Some("a"), None, None, Some("c"), None))
    // without tolerance, the out-of-range picks come back
    val loose = JoinOps.asofJoinDir(left, right, "user_id", "ts",
      Seq("tag"), "nearest", None)
      .orderBy("event_id").collect()
      .map(r => Option(r.getAs[String]("tag"))).toSeq
    assert(loose == Seq(Some("a"), Some("a"), Some("b"), Some("c"), None))
  }

  test("rangeJoinBucketed equals the naive non-equi join, boundaries exact") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // windows chosen to hit: ts == start (in), ts == end (out), an
    // interval spanning multiple buckets, and a probe matching two windows
    val probe = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (2L, ts("2024-01-01 10:04:59")),
      (3L, ts("2024-01-01 10:05:00")),
      (4L, ts("2024-01-01 10:12:30")),
      (5L, ts("2024-01-01 23:00:00"))).toDF("event_id", "ts")
    val iv = Seq(
      (10L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:05:00")),
      (11L, ts("2024-01-01 10:03:00"), ts("2024-01-01 10:13:00")),
      (12L, ts("2024-01-01 22:00:00"), ts("2024-01-01 22:30:00")))
      .toDF("iv_id", "w_start", "w_end")
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("iv_id", "event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = keys(JoinOps.rangeJoinBucketed(
      probe, iv, "ts", "w_start", "w_end", widthSeconds = 300L))
    // keep the reference side naive: the session's extension-injected
    // rewrite rule is inert while its conf is unset and the join carries
    // no WidthTag (a rewritten baseline would compare the operator against
    // itself)
    spark.conf.unset(graft.plans.RangeJoinRewrite.BucketSecondsKey)
    val naive = keys(probe.join(iv,
      col("ts") >= col("w_start") && col("ts") < col("w_end")))
    assert(bucketed == naive)
    assert(bucketed == Set((10L, 1L), (10L, 2L), (11L, 2L), (11L, 3L), (11L, 4L)))
  }

  test("rangeJoinBucketed with extraKeys matches only same-key rows") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val probe = Seq(
      (1L, ts("2024-01-01 10:01:00"), 7L),
      (2L, ts("2024-01-01 10:01:00"), 8L),  // same time, other user
      (3L, ts("2024-01-01 10:20:00"), 7L))  // same user, outside window
      .toDF("event_id", "ts", "user_id")
    val iv = Seq(
      (10L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:05:00"), 7L))
      .toDF("iv_id", "w_start", "w_end", "user_id")
    val got = JoinOps.rangeJoinBucketed(
      probe, iv, "ts", "w_start", "w_end", widthSeconds = 300L,
      extraKeys = Seq("user_id"))
      .select("iv_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 1L)))
    // a collision outside extraKeys still fails loudly
    val e = intercept[IllegalArgumentException] {
      JoinOps.rangeJoinBucketed(
        probe, iv.withColumnRenamed("iv_id", "event_id"),
        "ts", "w_start", "w_end", 300L, extraKeys = Seq("user_id"))
    }
    assert(e.getMessage.contains("column collision"))
  }

  test("rangeJoinBucketed fails loudly past the per-interval bucket cap") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val probe = Seq((1L, ts("2024-06-01 12:00:00"))).toDF("event_id", "ts")
    // a year-long interval at 300s buckets = ~105k buckets
    val wide = Seq((20L, ts("2024-01-01 00:00:00"), ts("2025-01-01 00:00:00")))
      .toDF("iv_id", "w_start", "w_end")
    val e = intercept[Exception] {
      JoinOps.rangeJoinBucketed(probe, wide, "ts", "w_start", "w_end",
        widthSeconds = 300L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("interval spans more than")),
      s"expected cap error, got: ${e.getMessage}")
    // an explicit larger cap admits the same interval
    val n = JoinOps.rangeJoinBucketed(probe, wide, "ts", "w_start", "w_end",
      widthSeconds = 300L, maxBucketsPerInterval = 200000L).count()
    assert(n == 1L)
  }

  test("redactPii masks emails, urls, phone runs; leaves clean text alone") {
    val rows = Seq(
      (1L, "contact me at jane.doe+x@example.org today"),
      (2L, "see https://example.com/a?b=c#d for details"),
      (3L, "call +1 (555) 123-4567 now"),
      (4L, "perfectly clean prose with no identifiers"))
      .toDF("id", "text")
    val out = rows.select(col("id"),
      TextAnalysisOps.redactPii(col("text")).as("r"))
      .orderBy("id").collect().map(_.getString(1))
    assert(out(0) == "contact me at <EMAIL> today")
    assert(out(1) == "see <URL> for details")
    assert(out(2) == "call <PHONE> now")
    assert(out(3) == "perfectly clean prose with no identifiers")
  }

  test("repetitionRatio: 0 for all-distinct, high for repeated template") {
    val rows = Seq(
      (1L, Seq("a", "b", "c", "d")),               // bigrams all distinct -> 0
      (2L, Seq("x", "y", "x", "y", "x", "y")),     // bigrams {xy,yx} over 5 -> 1 - 2/5
      (3L, Seq("lone")))                           // shorter than n -> 0
      .toDF("id", "toks")
    val out = rows.select(col("id"),
      TextAnalysisOps.repetitionRatio(col("toks"), 2).as("r"))
      .orderBy("id").collect().map(_.getDouble(1))
    assert(out(0) == 0.0)
    assert(math.abs(out(1) - (1.0 - 2.0 / 5.0)) < 1e-15)
    assert(out(2) == 0.0)
  }
}
