package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Column, DataFrame, SparkSession => AnySession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** Bridge between graft's custom Catalyst expressions and the public
  * `Column` API. Spark 4 made `Column` a ColumnNode wrapper and scoped the
  * Expression↔Column converters `private[sql]`; this object lives inside
  * `org.apache.spark.sql` to re-export exactly the conversions the
  * library needs (the standard extension-library pattern), plus the
  * `Dataset.ofRows` factory that wraps a custom logical node as a
  * DataFrame, a session clone, a session's SQL and Hadoop configurations, and a
  * wait on the listener bus.
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The analyzed logical plan of `df`. */
  def plan(df: DataFrame): LogicalPlan = df.asInstanceOf[Dataset[_]].logicalPlan

  /** `plan` as a DataFrame of `like`'s session. */
  def ofRows(like: DataFrame, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(like.sparkSession.asInstanceOf[SparkSession], plan)

  /** A child of `spark` that starts with a copy of every session conf. */
  def cloneSession(spark: AnySession): SparkSession = spark.asInstanceOf[SparkSession].cloneSession()

  /** `spark`'s SQL conf. */
  def sqlConf(spark: AnySession): SQLConf = spark.asInstanceOf[SparkSession].sessionState.conf

  /** The context's Hadoop conf overlaid with `spark`'s session confs. */
  def hadoopConf(spark: AnySession): Configuration = spark.asInstanceOf[SparkSession].sessionState.newHadoopConf()

  /** Blocks until every event posted so far has reached the listeners
    * (query-execution listeners are called asynchronously). */
  def drainListeners(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
