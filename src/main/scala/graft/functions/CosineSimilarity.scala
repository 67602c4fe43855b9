package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: cosine similarity of two `array<double>`
  * columns, with whole-stage codegen.
  *
  * The composed-builtins form (`aggregate(zip_with(a,b,*), …)` three times
  * over) allocates an intermediate array per row and walks the vectors three
  * times; this expression is one fused loop, no allocation, and stays inside
  * WholeStageCodegen — the (b)-tier of the custom-operator preference order
  * (compose > Expression > Strategy > mapPartitions). Accumulation order is
  * sequential left-to-right, bit-identical to the HOF formulation, so the
  * DuckDB oracle parity of q44 is preserved.
  *
  * Null semantics: null if either array is null; null array ELEMENTS are
  * treated as 0.0 (vectors from parquet are dense; elements are never null
  * in practice). Mismatched lengths use the shorter prefix for the dot
  * product and each side's own full norm.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> arguments, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_similarity"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    CosineSimilarity.compute(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      s"""
         |${ev.value} = graft.functions.CosineSimilarity.compute($x, $y);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** Single fused pass; sequential accumulation (matches the left-fold
    * semantics of aggregate(zip_with(...))). */
  def compute(x: ArrayData, y: ArrayData): Double = {
    val nDot = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < nDot) {
      val xv = if (x.isNullAt(i)) 0.0 else x.getDouble(i)
      val yv = if (y.isNullAt(i)) 0.0 else y.getDouble(i)
      dot += xv * yv
      i += 1
    }
    var na = 0.0
    i = 0
    while (i < x.numElements()) {
      val v = if (x.isNullAt(i)) 0.0 else x.getDouble(i)
      na += v * v
      i += 1
    }
    var nb = 0.0
    i = 0
    while (i < y.numElements()) {
      val v = if (y.isNullAt(i)) 0.0 else y.getDouble(i)
      nb += v * v
      i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den > 0) dot / den else 0.0
  }

  /** Column-facing constructor. */
  def apply(a: Column, b: Column): Column =
    GraftBridge.column(
      CosineSimilarity(GraftBridge.expression(a), GraftBridge.expression(b)))
}
