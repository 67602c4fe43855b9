package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}

/** Native Catalyst expression: Jaccard similarity of two `array<string>`
  * columns — |A ∩ B| / |A ∪ B| over the DISTINCT elements of each side.
  *
  * The composed form (`size(array_intersect(a,b)) / size(array_union(a,b))`)
  * MATERIALIZES two result arrays per row only to take their lengths, and
  * hashes both inputs twice. This is the q41-verify hot path — one fused
  * pass per pair: one hash set per side, counts only, no output arrays,
  * whole-stage codegen. Numerically identical to the composed form (integer
  * counts divided as doubles; the DuckDB oracle computes the same counts).
  *
  * Inputs need NOT be pre-deduplicated (each side is deduplicated
  * internally, exactly like array_intersect/array_union). Null ELEMENTS
  * count as one distinct value per side, matching array_union/intersect.
  * Null ARRAYS propagate null (BinaryExpression default) — callers that
  * need the composed form's `when(union > 0, …).otherwise(0.0)` null
  * behavior wrap in coalesce(…, 0.0). Empty-union rows yield 0.0.
  */
case class ArrayJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<string> arguments, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "array_jaccard"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayJaccard.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      s"""
         |${ev.value} = graft.functions.ArrayJaccard.compute($x, $y);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayJaccard =
    copy(left = newLeft, right = newRight)
}

object ArrayJaccard {

  /** One fused pass: set(A) with internal dedup, then one scan of B with a
    * seen-set so duplicate B elements are not double counted. */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    val setA = new java.util.HashSet[Object](Math.max(8, na * 2))
    var nullA = false
    var i = 0
    while (i < na) {
      if (a.isNullAt(i)) nullA = true
      else setA.add(a.getUTF8String(i))
      i += 1
    }
    val sizeA = setA.size + (if (nullA) 1 else 0)
    val seenB = new java.util.HashSet[Object](Math.max(8, nb * 2))
    var nullB = false
    var inter = 0
    var sizeB = 0
    i = 0
    while (i < nb) {
      if (b.isNullAt(i)) {
        if (!nullB) { nullB = true; sizeB += 1; if (nullA) inter += 1 }
      } else {
        val v = b.getUTF8String(i)
        if (seenB.add(v)) {
          sizeB += 1
          if (setA.contains(v)) inter += 1
        }
      }
      i += 1
    }
    val union = sizeA + sizeB - inter
    if (union > 0) inter.toDouble / union.toDouble else 0.0
  }

  /** Column-facing constructor. */
  def apply(a: Column, b: Column): Column =
    GraftBridge.column(
      ArrayJaccard(GraftBridge.expression(a), GraftBridge.expression(b)))
}
