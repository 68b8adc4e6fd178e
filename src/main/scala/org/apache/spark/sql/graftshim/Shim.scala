package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made these conversions
  * `private[sql]`, so custom-Expression libraries expose them through a
  * shim living in an `org.apache.spark.sql` subpackage (the documented
  * pattern for third-party Catalyst extensions). Nothing else from Spark
  * internals is touched. */
object Shim {
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.{DataFrame, SparkSession, classic}

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The analyzed logical plan behind a DataFrame (private[sql]). */
  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** Wrap a logical plan back into a DataFrame (private[sql] ofRows). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed plan stored under temp view `name` in the session's
    * own catalog, as a DataFrame: no identifier parse and no
    * re-analysis, so reuse costs what a held DataFrame costs
    * (private[sql] sessionState). */
  def tempView(spark: SparkSession, name: String): Option[DataFrame] =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalog
      .getRawTempView(name).flatMap(_.plan).map(ofRows(spark, _))

  /** Drop the blocks behind a `localCheckpoint`ed DataFrame (the RDD of
    * its LogicalRDD leaf; private[sql] plan node). */
  def unpersistCheckpoint(df: DataFrame): Unit =
    logicalPlan(df).foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Block until every event posted so far has reached every listener
    * (private[spark] listener bus), so listener counts are complete. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
