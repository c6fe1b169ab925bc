package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into `private[sql]` Column↔Expression conversion — the
  * standard pattern for Spark-native extension libraries that define custom
  * Catalyst expressions (Spark 4 moved `new Column(expr)` behind
  * `classic.ExpressionUtils`), plus the cache registry and session cloning
  * below. Nothing else from the private API is used.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** True iff the session's CacheManager tracks no InMemoryRelation — the
    * cache-hygiene law (round-2 VERDICT #5: no cached frame may outlive its
    * query invocation) needs to observe the `private[sql]` cache registry.
    */
  def cacheIsEmpty(s: SparkSession): Boolean =
    s.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** A session with a copy of `s`'s SQLConf, functions and temp views that
    * shares its SparkContext and cache (`graft.functions.Confs`).
    */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s logical plan as a frame of session `s`. */
  def onSession(df: DataFrame, s: SparkSession): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)
}
