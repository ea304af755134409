package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Verifies the native CosineSim expression: bit-equality with the
  * higher-order-function left-fold formulation (the oracle contract),
  * codegen participation, and null/type handling.
  */
class CosineSimSpec extends SparkSpec {
  import sqlImplicits._

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

  test("bit-identical to the aggregate∘zip_with left fold on real embeddings") {
    val pairs = emb.toDF("id_a", "a")
      .join(emb.toDF("id_b", "b"), col("id_a") + 1 === col("id_b"))
    def hofDot(x: String, y: String) =
      expr(s"aggregate(zip_with($x, $y, (p, q) -> p * q), 0D, (acc, v) -> acc + v)")
    val out = pairs.select(
      CosineSim.cosineSim(col("a"), col("b")).as("native"),
      (hofDot("a", "b") /
        (sqrt(hofDot("a", "a")) * sqrt(hofDot("b", "b")))).as("hof"))
    // exact comparison — no tolerance: the fold orders must agree
    assert(out.where(col("native") =!= col("hof")).count() == 0)
    assert(out.count() == 499)
  }

  test("identical vectors have cosine 1.0 up to sqrt rounding") {
    // dot/(sqrt(n)*sqrt(n)) — sqrt(x)*sqrt(x) is not exactly x in IEEE,
    // same as the HOF formulation; only the last ulp can differ from 1.0
    val out = emb.limit(10)
      .select(CosineSim.cosineSim(col("emb"), col("emb")).as("c"))
      .collect().map(_.getDouble(0))
    assert(out.forall(c => math.abs(c - 1.0) < 1e-12))
  }

  test("null input yields null") {
    val df = Seq((Some(Array(1.0, 0.0)), Option.empty[Array[Double]]))
      .toDF("a", "b")
    assert(df.select(CosineSim.cosineSim(col("a"), col("b"))).head().isNullAt(0))
  }

  test("participates in whole-stage codegen") {
    // whole-stage codegen shows as the "*(n)" stage prefix in plan strings
    val plan = emb.select(CosineSim.cosineSim(col("emb"), col("emb")).as("c"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan)
  }

  test("SQL registration works") {
    // registered by GraftExtensions, which the shared session installs
    emb.limit(5).createOrReplaceTempView("cs_test")
    val n = spark.sql(
      "SELECT cosine_sim(emb, emb) AS c FROM cs_test WHERE cosine_sim(emb, emb) > 0.99")
      .count()
    assert(n == 5)
  }

  test("type mismatch is rejected at analysis") {
    val df = Seq((1, "x")).toDF("a", "b")
    intercept[Exception] {
      df.select(CosineSim.cosineSim(col("a"), col("b"))).collect()
    }
  }
}
