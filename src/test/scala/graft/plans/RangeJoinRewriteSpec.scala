package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The optimizer-rule path of the bucketed range join: a NAIVE non-equi
  * interval join written by a user must come out as a bucketed equi-join
  * with identical rows once the rule is enabled (semantics defined in
  * RangeJoinRewrite scaladoc; the operator-level twin is
  * JoinOps.rangeJoinBucketed, tested in JoinCleanupSpec/PropertySpec).
  */
class RangeJoinRewriteSpec extends SparkSpec {
  import sqlImplicits._
  import java.sql.Timestamp

  private def ts(s: String) = Timestamp.valueOf(s)

  private def fixtures = {
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
    (probe, iv)
  }

  // The shared session injects the rule through GraftExtensions, so it is
  // always registered; it stays inert unless the session conf or a
  // WidthTag on the join activates it. Suites share the session, so every
  // test here sets the conf to the state it needs instead of assuming a
  // clean slate.
  private def withoutRule[A](body: => A): A = {
    spark.conf.unset(RangeJoinRewrite.BucketSecondsKey)
    body
  }

  private def withRule[A](body: => A): A = {
    spark.conf.set(RangeJoinRewrite.BucketSecondsKey, "300")
    try body
    finally spark.conf.unset(RangeJoinRewrite.BucketSecondsKey)
  }

  test("naive interval join is rewritten to an equi-join, rows unchanged") {
    val (probe, iv) = fixtures
    def joined = probe.join(iv,
      col("ts") >= col("w_start") && col("ts") < col("w_end"))
    val naiveRows = withoutRule {
      val naive = joined
      val naivePlan = naive.queryExecution.executedPlan.toString
      assert(naivePlan.contains("BroadcastNestedLoopJoin"),
        s"fixture no longer exercises the naive shape:\n$naivePlan")
      naive.collect().toSet
    }
    withRule {
      val rewritten = joined
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"rule did not fire:\n$plan")
      assert(rewritten.collect().toSet == naiveRows)
      assert(naiveRows.nonEmpty)
    }
  }

  test("interval side on the left is handled symmetrically") {
    val (probe, iv) = fixtures
    def joined = iv.join(probe,
      col("ts") >= col("w_start") && col("ts") < col("w_end"))
    val naiveRows = withoutRule(joined.collect().toSet)
    withRule {
      val rewritten = joined
      assert(!rewritten.queryExecution.executedPlan.toString
        .contains("BroadcastNestedLoopJoin"))
      assert(rewritten.collect().toSet == naiveRows)
    }
  }

  test("joins with an equi key or extra conjuncts are left alone") {
    val (probe, iv) = fixtures
    val keyedProbe = probe.withColumn("k", col("event_id") % 2)
    val keyedIv = iv.withColumn("k2", col("iv_id") % 2)
    def joined = keyedProbe.join(keyedIv,
      col("k") === col("k2") &&
        col("ts") >= col("w_start") && col("ts") < col("w_end"))
    val naiveRows = withoutRule(joined.collect().toSet)
    withRule {
      // 3 conjuncts -> pattern does not match; Spark's own equi-join
      // handles it. Rows must be identical either way.
      assert(joined.collect().toSet == naiveRows)
    }
  }

  test("rule is inert when the conf is unset") {
    val (probe, iv) = fixtures
    spark.conf.unset(RangeJoinRewrite.BucketSecondsKey)
    val plan = probe.join(iv,
        col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"))
  }

  test("malformed conf value disables the rule instead of failing the session") {
    val (probe, iv) = fixtures
    spark.conf.set(RangeJoinRewrite.BucketSecondsKey, "five minutes")
    try {
      // every query in the session runs the injected rule — an
      // unrelated aggregate must not throw NumberFormatException
      assert(probe.groupBy().count().collect().head.getLong(0) == 5L)
      // and the matching join stays naive (rule treated as disabled)
      val plan = probe.join(iv,
          col("ts") >= col("w_start") && col("ts") < col("w_end"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastNestedLoopJoin"))
    } finally spark.conf.unset(RangeJoinRewrite.BucketSecondsKey)
  }

  test("a WidthTag on the Join node scopes the rewrite to that join only") {
    val (probe, iv) = fixtures
    spark.conf.unset(RangeJoinRewrite.BucketSecondsKey)
    def cond = col("ts") >= col("w_start") && col("ts") < col("w_end")
    val naiveRows = probe.join(iv, cond).collect().toSet
    val tagged = probe.join(iv, cond)
    tagged.queryExecution.analyzed.foreach {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.setTagValue(RangeJoinRewrite.WidthTag, 300L)
      case _ => ()
    }
    val plan = tagged.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"tag did not activate the rewrite:\n$plan")
    assert(tagged.collect().toSet == naiveRows && naiveRows.nonEmpty)
    // an identical UNtagged join in the same session stays naive
    val untagged = probe.join(iv, cond)
    assert(untagged.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
  }

  test("the shared session resolves every GraftExtensions SQL function") {
    // the shared session comes from Tables.localSession, which names
    // GraftExtensions in spark.sql.extensions as Verify and Bench do
    val row = spark.sql(
      """SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)),
        |       poly_char_hash('ab'), content_key64('ab'),
        |       int_dot(array(1, 2), array(3, 4)),
        |       bpe_encode(array('ab')), phash64(encode('ab', 'UTF-8')),
        |       nfc_normalize('ab'), strip_accents('ab')""".stripMargin).head()
    assert(row.size == 8)
    assert(row.getDouble(0) == 1.0)
    assert(row.getLong(3) == 11L)
    assert(row.getString(6) == "ab" && row.getString(7) == "ab")
  }

  test("setting the bucket conf on the shared session fires the " +
      "extension-injected rule") {
    val (probe, iv) = fixtures
    // nothing registers the rule at runtime: the only copy is the one
    // GraftExtensions injected when the session was built
    assert(!spark.experimental.extraOptimizations.contains(RangeJoinRewrite))
    spark.conf.set(RangeJoinRewrite.BucketSecondsKey, "300")
    try {
      val joined = probe.join(iv,
        col("ts") >= col("w_start") && col("ts") < col("w_end"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"extension-injected rule did not fire:\n$plan")
      assert(joined.count() == 5L)
    } finally spark.conf.unset(RangeJoinRewrite.BucketSecondsKey)
  }

  test("GraftExtensions wires the rule into a session at build time") {
    // the production registration path, attached programmatically: the
    // SAME class the conf string `spark.sql.extensions=
    // graft.plans.GraftExtensions` names, which the shared session already
    // carries (previous test). A new session is built over the same
    // SparkContext; extensions apply per-session, and the rule found twice
    // is safe — its rewritten shape is unmatchable.
    import org.apache.spark.sql.SparkSession
    val orig = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      assert(ext ne orig, "builder returned the original session — " +
        "extensions would not have been applied")
      ext.conf.set(RangeJoinRewrite.BucketSecondsKey, "300")
      import ext.implicits._
      val probe = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("event_id", "ts")
      val iv = Seq((10L, ts("2024-01-01 09:58:00"), ts("2024-01-01 10:03:00")))
        .toDF("iv_id", "w_start", "w_end")
      val joined = probe.join(iv,
        col("ts") >= col("w_start") && col("ts") < col("w_end"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"extension-injected rule did not fire:\n$plan")
      assert(joined.count() == 1L)
    } finally {
      ext.conf.unset(RangeJoinRewrite.BucketSecondsKey)
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }

  test("an interval spanning more than the bucket cap fails loudly") {
    val (probe, _) = fixtures
    // one year-long interval at 300s buckets = ~105k buckets > default cap
    val wide = Seq((20L, ts("2024-01-01 00:00:00"), ts("2025-01-01 00:00:00")))
      .toDF("iv_id", "w_start", "w_end")
    withRule {
      val e = intercept[Exception] {
        probe.join(wide,
            col("ts") >= col("w_start") && col("ts") < col("w_end"))
          .collect()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("interval spans more than")),
        s"expected cap error, got: ${e.getMessage}")
      // raising the cap via conf admits the same interval
      spark.conf.set(RangeJoinRewrite.MaxBucketsKey, "200000")
      try {
        val n = probe.join(wide,
            col("ts") >= col("w_start") && col("ts") < col("w_end"))
          .count()
        assert(n == 5L) // all probe rows fall inside the year
      } finally spark.conf.unset(RangeJoinRewrite.MaxBucketsKey)
    }
  }
}
