package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over two
  * `ARRAY<DOUBLE>` columns — the one hot-path scalar the built-in surface
  * can't express efficiently (SURVEY.md §4.3): the `aggregate ∘ zip_with`
  * higher-order formulation allocates a zipped array and evaluates an
  * interpreted lambda per element; this is a single fused codegen loop, so
  * it stays inside WholeStageCodegen with zero allocations.
  *
  * Bit-compatibility contract (the DuckDB oracle depends on it): each
  * accumulator (dot, |a|², |b|²) is summed left-to-right exactly like the
  * separate left folds of the HOF version, sqrt is IEEE correctly-rounded,
  * and the result is `dot / (sqrt(na) * sqrt(nb))` — so
  * `floor(1e6 * cosine_sim(a,b))` equals the oracle's
  * `floor(1000000.0 * (dot / (na * nb)))` bit-for-bit.
  *
  * Null handling: null input → null (nullIntolerant); mismatched lengths
  * use the common prefix (callers zip fixed-dim embeddings).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects two ARRAY<DOUBLE> inputs, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  override def dataType: DataType = DoubleType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
        |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |double $dot = 0.0;
        |double $na = 0.0;
        |double $nb = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  final double $xi = $a.getDouble($i);
        |  final double $yi = $b.getDouble($i);
        |  $dot += $xi * $yi;
        |  $na += $xi * $xi;
        |  $nb += $yi * $yi;
        |}
        |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {

  /** Column-API entry point: `cosine_sim(a, b)`. */
  def cosineSim(a: Column, b: Column): Column =
    Bridge.column(CosineSim(Bridge.expression(a), Bridge.expression(b)))
}
