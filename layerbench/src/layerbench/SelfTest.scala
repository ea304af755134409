package layerbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Tests of the benchmark's own arithmetic, run with
  * `python3 layerbench/run.py --selftest`. Exits non-zero on the first
  * failed check. */
object SelfTest {
  private var checks = 0

  private def check(what: String)(cond: => Boolean): Unit = {
    checks += 1
    if (!cond) {
      println(s"FAIL $what")
      sys.exit(1)
    }
    println(s"ok   $what")
  }

  def main(args: Array[String]): Unit = {
    tail()
    quantiles()
    selfTime()
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      digests(spark)
      attribution(spark)
    } finally spark.stop()
    println(s"selftest: $checks checks passed")
  }

  private def tail(): Unit = {
    val hundred = (1 to 100).map(_.toDouble)
    check("tail of 100 samples is p90, with 10 beyond") {
      val (p, v) = Stats.tail(hundred)
      p == 90 && v == 90.0 && hundred.count(_ > v) == 10
    }
    check("tail of 1000 samples is p99") { Stats.tail((1 to 1000).map(_.toDouble))._1 == 99 }
    check("tail of 20 samples is p50, the highest with 10 beyond") {
      val xs = (1 to 20).map(_.toDouble)
      val (p, v) = Stats.tail(xs)
      p == 50 && xs.count(_ > v) == 10 && xs.count(_ > Stats.tail(xs, 11)._2) >= 11
    }
    check("ties count only when strictly beyond") {
      // 15 equal values then 9 larger ones: no percentile has 10 above it
      val xs = Seq.fill(15)(1.0) ++ (1 to 9).map(_ + 1.0)
      Stats.tail(xs) == (100, 10.0)
    }
    check("fewer than 11 samples give the maximum as p100") {
      Stats.tail(Seq(3.0, 1.0, 2.0)) == (100, 3.0)
    }
  }

  private def quantiles(): Unit = {
    check("median of an even sample interpolates") { Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 }
    check("median of an odd sample is the middle value") { Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0 }
  }

  private def selfTime(): Unit = {
    val parent = new Span(1, "op", None, 0L, 0L)
    parent.endNs = 10000000000L
    val a = new Span(2, "queries.build", Some(parent), 0L, 1000000000L)
    a.endNs = 4000000000L
    val b = new Span(3, "queries.exec", Some(parent), 0L, 5000000000L)
    b.endNs = 9000000000L
    parent.children.add(a); parent.children.add(b)
    a.add("spark.jobs", 2); b.add("spark.jobs", 3); parent.add("spark.jobs", 1)
    check("self time is the span minus its children") {
      math.abs(Trace.selfSeconds(parent) - 3.0) < 1e-9 && Trace.selfSeconds(a) == 3.0
    }
    check("totals add descendants' counters") { Trace.total(parent, "spark.jobs") == 6.0 }
  }

  private def digests(spark: SparkSession): Unit = {
    import spark.implicits._
    val rows = Seq((1L, "a", Seq(1.0, 2.0), Map("x" -> 1)),
      (2L, "b", Seq(3.0), Map("y" -> 2, "z" -> 3)), (3L, null, Nil, Map.empty[String, Int]))
    val df = rows.toDF("id", "s", "xs", "m")
    val base = Stats.digest(df)
    check("digest ignores row order and partitioning") {
      Stats.digest(df.orderBy(desc("id")).repartition(3)) == base &&
        Stats.digest(df.orderBy(col("id")).coalesce(1)) == base
    }
    check("digest ignores map entry order") {
      Stats.valueHash(Map("y" -> 2, "z" -> 3)) == Stats.valueHash(Map("z" -> 3, "y" -> 2))
    }
    check("digest changes when one value changes") {
      Stats.digest(df.withColumn("s", when(col("id") === 2, lit("c")).otherwise(col("s")))) != base
    }
    check("digest changes when a row is duplicated") {
      Stats.digest(df.union(df.where(col("id") === 1))) != base
    }
    check("digest counts rows") { base.rows == 3 }
    check("byte arrays hash by content") {
      Stats.valueHash(Array[Byte](1, 2)) == Stats.valueHash(Array[Byte](1, 2))
    }
  }

  private def attribution(spark: SparkSession): Unit = {
    val trace = new Trace(spark.sparkContext)
    spark.sparkContext.addSparkListener(new Trace.JobListener(trace))
    spark.listenerManager.register(new Trace.CatalystListener(trace))
    spark.range(10).count() // before any span: attributed to none
    trace.span("op") {
      trace.span("queries.build")(spark.range(100).selectExpr("sum(id)").collect())
      trace.span("queries.exec") {
        spark.range(100).selectExpr("sum(id)").collect()
        spark.range(100).repartition(2).selectExpr("sum(id)").collect()
      }
    }
    trace.drain()
    val op = trace.spans.find(_.name == "op").get
    val build = Trace.named(op, "queries.build").head
    val exec = Trace.named(op, "queries.exec").head
    val b = build.get("spark.jobs")
    val x = exec.get("spark.jobs")
    check(s"jobs go to the innermost open span (build $b, exec $x)") {
      b >= 1.0 && x >= 2.0 * b && op.get("spark.jobs") == 0.0
    }
    check("jobs outside every span are not counted") {
      trace.spans.map(Trace.total(_, "spark.jobs")).sum == b + x
    }
    check("tasks and stages follow their job's span") {
      Trace.total(exec, "spark.stages") >= 2.0 && Trace.total(exec, "spark.tasks") >= 2.0 &&
        Trace.total(build, "spark.tasks") >= 1.0
    }
    check("each executed query's Catalyst phases go to the span open when it was planned") {
      Trace.total(build, "catalyst.queries") == 1.0 && Trace.total(exec, "catalyst.queries") == 2.0 &&
        trace.spans.map(Trace.total(_, "catalyst.queries")).sum == 3.0
    }
  }
}
