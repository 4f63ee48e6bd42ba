package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Column ↔ Expression bridge.
  *
  * Spark 4's public `Column` wraps a `ColumnNode`; the conversion helpers
  * (`org.apache.spark.sql.classic.ExpressionUtils`) are `private[sql]`,
  * so custom-Expression libraries expose them through a shim placed in an
  * `org.apache.spark.sql` subpackage — the standard pattern for Catalyst
  * extensions on Spark 4.
  */
object GraftShims {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  /** Converted eagerly, so the tree also stands where no Dataset
    * converts it later — e.g. as a SQL function builder's result.
    */
  def toExpression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** The number of cached plans in the session's CacheManager —
    * `sharedState`/`CacheManager` are `private[sql]`, so the
    * cache-discipline specs read it through this shim.
    */
  def cachedEntries(spark: org.apache.spark.sql.SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries

  /** Blocks until the listener bus has delivered every event posted so
    * far (at most 10 s, then a `TimeoutException`) — e.g. the
    * `QueryExecutionListener` callback of an action that just returned.
    * `SparkContext.listenerBus` is `private[spark]`.
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
