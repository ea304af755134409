package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Golden tests hand-derived from the reference semantics
  * (nlp_data_tagging.py:49-84, 118-130) per FIXTURES.md micro-fixtures.
  */
class TextOpsSpec extends SparkSpec {
  import sqlImplicits._

  private def one(c: org.apache.spark.sql.Column): Any =
    Seq(1).toDF("x").select(c).collect()(0).get(0)

  test("preprocess: collapse, strip-keep-period, lowercase, renormalize") {
    assert(one(TextOps.preprocess(lit("  Hello,\n\tWorld!!  It's  A.Test  "))) ==
      "hello world it s a.test")
  }

  test("preprocess: null and empty to empty string") {
    assert(one(TextOps.preprocess(lit(null).cast("string"))) == "")
    assert(one(TextOps.preprocess(lit(""))) == "")
  }

  test("tokenize drops leading/trailing empties like str.split()") {
    assert(one(TextOps.tokenize(lit("  a  b "))) == Seq("a", "b"))
    assert(one(TextOps.tokenize(lit(""))) == Seq())
  }

  test("stop-word + length filter: 'The cat of war' -> [cat, war]") {
    assert(one(TextOps.cleanTokens(lit("The cat of war"))) == Seq("cat", "war"))
  }

  test("length check on raw token, stop check on lowercase (py:72-75)") {
    // "THE" lowers to a stop word -> dropped even though len 3;
    // "ab" len 2 -> dropped; "abc" kept
    assert(one(TextOps.cleanTokens(lit("THE ab abc"))) == Seq("abc"))
  }

  test("stop check is one hash-set lookup per token; null tokens drop") {
    // over a Range, not a local Seq: ConvertToLocalRelation would evaluate
    // the projection away before the plan could be inspected
    val plan = spark.range(1)
      .select(TextOps.cleanTokens(concat(lit("The cats "), col("id").cast("string"))))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("INSET"), plan)
    assert(one(TextOps.removeStopAndShort(
      array(lit(null).cast("string"), lit("The"), lit("cats")))) == Seq("cats"))
  }

  test("truncate at word boundary mirrors rsplit(' ', 1)[0] + '...'") {
    assert(one(TextOps.truncateAtWordBoundary(lit("aaaa bbbb cccc"), 12)) == "aaaa bbbb...")
    // head with no space is kept whole
    assert(one(TextOps.truncateAtWordBoundary(lit("aaaaaaaaaaaaXYZ"), 12)) == "aaaaaaaaaaaa...")
    // trailing space in head is dropped
    assert(one(TextOps.truncateAtWordBoundary(lit("aaaa bbbb  cccc"), 10)) == "aaaa bbbb...")
    // short strings unchanged
    assert(one(TextOps.truncateAtWordBoundary(lit("short"), 12)) == "short")
  }

  test("preview truncates at N chars") {
    assert(one(TextOps.preview(lit("abcdef"), 4)) == "abcd...")
    assert(one(TextOps.preview(lit("abc"), 4)) == "abc")
  }
}
