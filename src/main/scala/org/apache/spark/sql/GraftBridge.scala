package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into the `private[sql]` Column↔Expression converters, so
  * graft can register custom Catalyst expressions (e.g. DotProduct) as regular
  * Columns, and into the `private[spark]` listener bus. Lives in the
  * org.apache.spark.sql package solely for access; no Spark internals are
  * modified. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Blocks until every listener event posted so far was delivered, so
    * listener counters read afterwards are complete. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)
}
