package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.DateType

/**
 * Session extension registering the engine's native expressions as SQL
 * functions, so `spark.sql("SELECT dot_product_q(a, b) ...")` works in
 * templated SQL files too (not just the Column API). Install with
 * `spark.sql.extensions=graft.plans.GraftExtensions` or
 * `GraftSession.builder` (which sets it); a session built elsewhere gets
 * the same functions from `GraftSession.install`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  private def fn(name: String, cls: Class[_], usage: String, arity: Int)(
      build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (args: Seq[Expression]) => {
        require(args.length == arity, usage)
        build(args)
      })

  /** Every SQL function the engine registers. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      fn("dot_product_q", classOf[DotProductQ], "dot_product_q(arrayA, arrayB)", 2)(
        a => DotProductQ(a.head, a(1))),
      fn("quantize_vector", classOf[QuantizeVector], "quantize_vector(arrayOfFloat)", 1)(
        a => QuantizeVector(a.head)),
      fn("adc_score_q", classOf[AdcScoreQ], "adc_score_q(lut, codes)", 2)(
        a => AdcScoreQ(a.head, a(1))),
      // the reference's external FM_WORKINGDAYSBETWEEN warehouse UDF, bound
      // to the CLOSED-FORM native expression (DateExpressions.scala) — O(1)
      // per row and codegen'd, vs the naive O(days) iterate-and-count UDF
      fn("fm_workingdaysbetween", classOf[WorkingDaysBetween],
          "fm_workingdaysbetween(start, end)", 2)(
        a => WorkingDaysBetween(Cast(a.head, DateType), Cast(a(1), DateType))))
}
