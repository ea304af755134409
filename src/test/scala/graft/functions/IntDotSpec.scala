package graft.functions

import graft.SparkSpec
import graft.ops.SimilarityOps
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Verifies the native IntDot expression: agreement with the
  * zip_with/aggregate higher-order formulation, codegen participation,
  * and null/type handling.
  */
class IntDotSpec extends SparkSpec {
  import sqlImplicits._

  test("agrees with the zip_with∘aggregate fold on generated int arrays") {
    val arrGen = for {
      n <- Gen.choose(0, 16)
      xs <- Gen.listOfN(n, Gen.choose(-127, 127))
    } yield xs.toArray
    val pairGen = for {
      a <- arrGen
      b <- Gen.listOfN(a.length, Gen.choose(-127, 127)).map(_.toArray)
    } yield (a, b)
    val pairs = Gen.listOfN(300, pairGen)
      .apply(Gen.Parameters.default, Seed(42L)).get
    val out = pairs.toDF("a", "b")
      .select(IntDot.intDot(col("a"), col("b")).as("native"),
        SimilarityOps.sq8DotHof(col("a"), col("b")).as("hof"))
    assert(out.where(col("native") =!= col("hof")).count() == 0)
    assert(out.count() == 300)
  }

  test("int products accumulate in 64 bits without overflow") {
    // 4096 dims of 127*127 exceeds Int.MaxValue: the sum must be long
    val df = Seq((Array.fill(4096)(127), Array.fill(4096)(127)))
      .toDF("a", "b")
    val got = df.select(IntDot.intDot(col("a"), col("b"))).head().getLong(0)
    assert(got == 4096L * 127 * 127)
  }

  test("null array yields null; null elements contribute zero") {
    val df = Seq((Some(Array(1, 2)), Option.empty[Array[Int]]))
      .toDF("a", "b")
    assert(df.select(IntDot.intDot(col("a"), col("b"))).head().isNullAt(0))
    val elem = Seq(1).toDF("x")
      .select(IntDot.intDot(
        expr("array(1, CAST(NULL AS INT), 3)"),
        expr("array(10, 20, 30)")).as("d"))
      .head().getLong(0)
    assert(elem == 100L) // 1*10 + (null->0) + 3*30
  }

  test("participates in whole-stage codegen") {
    // a Range source, not a local Seq — ConvertToLocalRelation would fold
    // a literal-backed projection into a LocalTableScan with no codegen
    val df = spark.range(1).select(
      expr("array(CAST(id AS INT), 2, 3)").as("a"),
      expr("array(4, 5, 6)").as("b"))
    val plan = df.select(IntDot.intDot(col("a"), col("b")).as("d"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan)
  }

  test("SQL registration works through GraftExtensions sessions") {
    // int_dot comes from GraftExtensions, which the shared session installs
    // through spark.sql.extensions exactly as Verify and Bench do
    Seq((Array(1, 2), Array(3, 4))).toDF("a", "b")
      .createOrReplaceTempView("id_test")
    val got = spark.sql("SELECT int_dot(a, b) AS d FROM id_test")
      .head().getLong(0)
    assert(got == 11L)
  }

  test("type mismatch is rejected at analysis") {
    val df = Seq((1, "x")).toDF("a", "b")
    intercept[Exception] {
      df.select(IntDot.intDot(col("a"), col("b"))).collect()
    }
  }
}
