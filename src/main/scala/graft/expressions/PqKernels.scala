package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native kernels for the product-quantization hot paths
  * ([[graft.operators.ProductQuantization]]) — the double twins of
  * [[LongSqDist]], removing the per-pair boxed `aggregate(zip_with(...))`
  * tree-walks from (a) the encode pass (m×k subspace distances per corpus
  * row) and (b) the ADC scoring fold (one table-lookup sum per
  * (query, candidate) pair over the whole ranked corpus). Guide §4.
  *
  * Exactness contract (hash-oracle safe — each accumulator adds the SAME
  * per-element IEEE products in the SAME left-to-right order the HOF fold
  * used, so results are bit-identical; pinned in PqKernelsParitySpec):
  *
  * [[DoubleSqDistExpr]] ≡ `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)),
  * 0.0, _+_)` over `array<double>`:
  *   - null array → null; length mismatch → null (zip_with's null padding
  *     poisons the fold); null element → null; both empty → 0.0.
  *
  * [[AdcSumExpr]] ≡ `aggregate(zip_with(qtab, codes,
  * (tab, code) => element_at(tab, code + 1)), 0.0, _+_)` over
  * (`array<array<double>>`, `array<int>`):
  *   - null qtab/codes → null; length mismatch → null; null tab row or
  *     null code → null; null table cell → null; both empty → 0.0;
  *   - an out-of-range code throws (ANSI element_at parity — encode never
  *     emits one, but the failure mode must not silently become null).
  *
  * Error-path divergences of [[adcSumKernel]] from that spelling: it
  * returns null at the FIRST null element, while the HOF evaluates every
  * position and can still throw on a later out-of-range code; and ANSI
  * element_at resolves a negative index from the end (code <= -2 returns a
  * value), while the kernel throws on any negative code.
  */
object PqKernels {

  /** Boxed so codegen can branch on null; called from both eval paths. */
  def sqDistKernel(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getDouble(i) - b.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Boxed so codegen can branch on null; called from both eval paths. */
  def adcSumKernel(qtab: ArrayData, codes: ArrayData): java.lang.Double = {
    val n = qtab.numElements()
    if (codes.numElements() != n) return null
    var s = 0.0d
    var i = 0
    while (i < n) {
      if (qtab.isNullAt(i) || codes.isNullAt(i)) return null
      val tab = qtab.getArray(i)
      val idx = codes.getInt(i) // element_at(tab, code + 1), 1-based
      if (idx < 0 || idx >= tab.numElements())
        throw new ArrayIndexOutOfBoundsException(
          s"graft_adc_sum: code $idx out of range for a ${tab.numElements()}-entry table")
      if (tab.isNullAt(idx)) return null
      s += tab.getDouble(idx)
      i += 1
    }
    s
  }

  def sq_dist_double(a: Column, b: Column): Column =
    ColumnBridge.column(DoubleSqDistExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def adc_sum(qtab: Column, codes: Column): Column =
    ColumnBridge.column(AdcSumExpr(ColumnBridge.expression(qtab), ColumnBridge.expression(codes)))
}

case class DoubleSqDistExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_double_sqdist"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_double_sqdist needs array<double> on both sides, got $l and $r")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    PqKernels.sqDistKernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ca, cb) => {
      val boxed = ctx.freshName("dsqd")
      s"""
         |java.lang.Double $boxed = graft.expressions.PqKernels.sqDistKernel($ca, $cb);
         |${ev.isNull} = $boxed == null;
         |${ev.value} = ${ev.isNull} ? -1.0 : $boxed.doubleValue();
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DoubleSqDistExpr =
    copy(left = newLeft, right = newRight)
}

case class AdcSumExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_adc_sum"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(IntegerType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_adc_sum needs (array<array<double>>, array<int>), got $l and $r")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    PqKernels.adcSumKernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ca, cb) => {
      val boxed = ctx.freshName("adc")
      s"""
         |java.lang.Double $boxed = graft.expressions.PqKernels.adcSumKernel($ca, $cb);
         |${ev.isNull} = $boxed == null;
         |${ev.value} = ${ev.isNull} ? -1.0 : $boxed.doubleValue();
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcSumExpr =
    copy(left = newLeft, right = newRight)
}
