package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the private[sql] Column <-> Expression converters (Spark 4
  * moved them behind `classic.ExpressionUtils`). Custom native
  * expressions need both directions to expose a Column API.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a LogicalPlan (Dataset.ofRows is
    * private[sql]) — needed to hand custom logical operators to the
    * planner. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `d` rounded (half up) to `precision`/`scale` as Spark's decimal
    * arithmetic checks its results (`Decimal.toPrecision` is
    * private[sql]): null when out of range if `nullOnOverflow`, else
    * the NUMERIC_VALUE_OUT_OF_RANGE error. */
  def toPrecision(d: types.Decimal, precision: Int, scale: Int,
                  nullOnOverflow: Boolean): types.Decimal =
    d.toPrecision(precision, scale, types.Decimal.ROUND_HALF_UP, nullOnOverflow, null)

  /** Waits until the async listener bus has delivered every posted
    * event (`listenerBus` is private[spark]); throws a TimeoutException
    * when it has not within `timeoutMs`. */
  def drainListenerBus(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
