package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** One-pass native BIGINT squared L2 distance for `array<bigint>` columns —
  * the Σ(a−b)² sibling of [[LongDot]], serving the quantized-micros replay
  * loops ([[graft.operators.KMeansReplay]], [[graft.operators.IvfReplay]],
  * [[graft.operators.GmmReplay]], [[graft.operators.KCenter]]): each Lloyd /
  * E-step / probe round cross-joins the corpus against k broadcast centers
  * and evaluated the HOF spelling
  * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0L, _+_)` per pair —
  * two boxed tree-walks and a materialized intermediate array per distance,
  * the same non-codegen-hot-path class the LongDot kernel removed from the
  * facility-selection pair build (guide §4).
  *
  * Exactness contract (hash-oracle safe — integer arithmetic is order-free,
  * parity pinned edge-by-edge in LongSqDistParitySpec):
  *   - null array → null (BinaryExpression null-intolerance, as the HOF).
  *   - length mismatch → null: zip_with pads the shorter side with null,
  *     the padded (x−y)² is null, and the fold's `acc + null` poisons the
  *     sum.
  *   - null element → null (same padding-poison path).
  *   - both empty → 0 (the fold's seed).
  *   - overflow throws (Math.subtractExact/multiplyExact/addExact),
  *     matching the ANSI Subtract/Multiply/Add the HOF lambda builds —
  *     bounded micro inputs never reach it, but the failure mode must not
  *     silently wrap where the HOF would raise.
  *
  * Error-path divergence: the kernel returns null at the FIRST null
  * element, while zip_with materializes the whole intermediate array, so
  * the HOF can still throw on an overflow at a later position.
  */
object LongSqDist {

  /** Boxed so codegen can branch on null; called from both eval paths. */
  def sqDistKernel(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = Math.subtractExact(a.getLong(i), b.getLong(i))
      s = Math.addExact(s, Math.multiplyExact(d, d))
      i += 1
    }
    s
  }

  def sq_dist_long(a: Column, b: Column): Column =
    ColumnBridge.column(LongSqDistExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}

case class LongSqDistExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_long_sqdist"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_long_sqdist needs array<bigint> on both sides, got $l and $r")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    LongSqDist.sqDistKernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ca, cb) => {
      val boxed = ctx.freshName("sqd")
      s"""
         |java.lang.Long $boxed = graft.expressions.LongSqDist.sqDistKernel($ca, $cb);
         |${ev.isNull} = $boxed == null;
         |${ev.value} = ${ev.isNull} ? -1L : $boxed.longValue();
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongSqDistExpr =
    copy(left = newLeft, right = newRight)
}
