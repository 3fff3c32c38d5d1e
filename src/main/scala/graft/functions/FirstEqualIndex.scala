package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 1-based index of the first position where two `array<bigint>` or two
  * `array<string>` agree, 0 when they never do (a null string element
  * agrees with nothing) — the codegen backbone of the first-agreeing-band
  * join condition in [[graft.operators.Banded]] and the LSH rewrite. The
  * higher-order-function formulation (`array_position(zip_with(a, b, =),
  * true)`) is
  * CodegenFallback: per-candidate interpreted lambda dispatch made the
  * rewritten join ~15× slower than the cosine verification it feeds
  * (measured 58 s vs 4 s at sf0.1); this is one fused loop inside the
  * join's generated code.
  */
case class FirstEqualIndex(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(l @ (LongType | StringType), _), ArrayType(r, _)) if l == r =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "first_equal_index requires two array<bigint> or two array<string>, " +
            s"got ${l.catalogString}, ${r.catalogString}")
    }

  private def strings: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == StringType

  override def dataType: DataType = LongType
  override def prettyName: String = "first_equal_index"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    FirstEqualIndex.firstEqual(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], strings)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.FirstEqualIndex.firstEqual($a, $b, $strings)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): FirstEqualIndex = copy(left = newLeft, right = newRight)
}

object FirstEqualIndex {
  /** Column-API entry for [[graft.operators.Banded]] (the rewrite rule
    * constructs the expression directly).
    */
  def apply(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.ColumnBridge.column(FirstEqualIndex(
      org.apache.spark.sql.graft.ColumnBridge.expression(a),
      org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  /** Called from both interpreted eval and generated code. */
  def firstEqual(a: ArrayData, b: ArrayData, strings: Boolean): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      if (if (strings) !a.isNullAt(i) && !b.isNullAt(i) &&
            a.getUTF8String(i) == b.getUTF8String(i)
          else a.getLong(i) == b.getLong(i)) return i + 1L
      i += 1
    }
    0L
  }
}
