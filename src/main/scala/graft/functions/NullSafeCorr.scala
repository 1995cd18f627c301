package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Divide, EqualTo, EvalMode, Expression, If, Literal, Multiply, Sqrt}
import org.apache.spark.sql.catalyst.expressions.aggregate.PearsonCorrelation
import org.apache.spark.sql.types.DoubleType

/** `null_safe_corr(x, y)`: Spark's `corr` — the same buffer, update, merge
  * and final expressions, so the same bits — except that a zero-variance
  * series gives null instead of failing the query with DIVIDE_BY_ZERO
  * under ANSI mode (Spark 4's default). Null is what `corr` returns with
  * ANSI off, and what R's `cor` reports as NA. */
case class NullSafeCorr(x: Expression, y: Expression)
    extends PearsonCorrelation(x, y, true) {

  override val evaluateExpression: Expression =
    If(EqualTo(n, Literal(0.0)), Literal.create(null, DoubleType),
      If(EqualTo(n, Literal(1.0)), divideByZeroEvalResult,
        Divide(ck, Sqrt(Multiply(xMk, yMk)), EvalMode.LEGACY)))

  override def prettyName: String = "null_safe_corr"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NullSafeCorr =
    copy(x = newLeft, y = newRight)
}
