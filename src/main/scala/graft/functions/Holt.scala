package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** `holt_seq(xs, alpha, beta)`: Holt's double-exponential (linear-trend)
  * smoothing over an ordered series, as one codegen'd expression — the
  * error-correction form (Holt 1957; Hyndman & Athanasopoulos, FPP):
  *   l_1 = x_1, b_1 = 0
  *   f_t   = l_{t−1} + b_{t−1}         (one-step-ahead forecast)
  *   err_t = x_t − f_t
  *   l_t   = f_t + α·err_t
  *   b_t   = b_{t−1} + α·β·err_t
  * returning the full (l, b, err) path: level, trend, and the forecast
  * residual an alerting rule thresholds. With β = 0 it is the EWMA
  * recurrence (s_t = s_{t−1} + α·(x_t − s_{t−1})) bit for bit: b stays
  * +0.0, so f = l for the non-negative series callers pass, and l and
  * err are EWMA's level and residual. The trend state is what EWMA
  * structurally lacks — a steady ramp gives EWMA a permanent lag
  * (constant nonzero err) while Holt's b converges to the slope and
  * the residual to zero.
  *
  * Same frame class and scale contract as [[CusumSeq]]: a
  * feedback recurrence neither windows nor `aggregate` emit per-step,
  * evaluated over an ALREADY-AGGREGATED dimension-sized series, so the
  * loop is bounded by the time span, never the corpus. The arithmetic
  * is a fixed IEEE sequence (every update reads the same err term),
  * mirrored token-for-token by the DuckDB recursive-CTE oracle.
  */
case class HoltSeq(xs: Expression, alpha: Expression, beta: Expression)
    extends TernaryExpression {

  override def first: Expression = xs
  override def second: Expression = alpha
  override def third: Expression = beta

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("l", DoubleType, nullable = false),
      StructField("b", DoubleType, nullable = false),
      StructField("err", DoubleType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (xs.dataType, alpha.dataType, beta.dataType) match {
      case (ArrayType(DoubleType, false), DoubleType, DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      // run() reads elements via getDouble, which cannot represent a
      // null slot — a nullable-element array would be read as undefined
      // values instead of failing. Reject it at analysis (the
      // sorted_pairs convention): the fixed-IEEE-sequence contract has
      // no null semantics to offer anyway.
      case (ArrayType(DoubleType, true), DoubleType, DoubleType) =>
        TypeCheckResult.TypeCheckFailure(
          "holt_seq requires array<double> with non-nullable elements")
      case other => TypeCheckResult.TypeCheckFailure(
        s"holt_seq requires (array<double>, double, double), got $other")
    }

  override def nullSafeEval(xsV: Any, aV: Any, bV: Any): Any =
    HoltSeq.run(xsV.asInstanceOf[ArrayData],
      aV.asInstanceOf[Double], bV.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (x, a, b) => s"graft.functions.HoltSeq.run($x, $a, $b)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(xs = newFirst, alpha = newSecond, beta = newThird)
}

object HoltSeq {
  def run(xs: ArrayData, alpha: Double, beta: Double): ArrayData = {
    val n = xs.numElements()
    val out = new Array[Any](n)
    var l = 0.0
    var b = 0.0
    var i = 0
    while (i < n) {
      val x = xs.getDouble(i)
      if (i == 0) {
        l = x
        b = 0.0
        out(i) = InternalRow(l, b, 0.0)
      } else {
        val f = l + b
        val e = x - f
        l = f + alpha * e
        b = b + alpha * beta * e
        out(i) = InternalRow(l, b, e)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def holtSeq(xs: Column, alpha: Column, beta: Column): Column =
    ColumnBridge.column(HoltSeq(ColumnBridge.expression(xs),
      ColumnBridge.expression(alpha), ColumnBridge.expression(beta)))
}
