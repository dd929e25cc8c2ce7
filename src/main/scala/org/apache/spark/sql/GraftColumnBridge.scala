package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Expression ↔ Column converters, so
  * graft's custom Catalyst expressions (e.g. graft.functions.DotProduct)
  * can surface as first-class `Column`s without going through the
  * function registry. Lives in org.apache.spark.sql purely for access;
  * keep this file free of any logic.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Bridge to the classic Dataset constructor for custom logical plans. */
object GraftPlanBridge {
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}

/** Bridge to the session's streaming query manager, which starts a query
  * on a connector `Table` object (the public `DataStreamWriter` takes only
  * a format name or a catalog table), and to the session's Hadoop conf. */
object GraftStreamBridge {
  def start(df: DataFrame, sink: org.apache.spark.sql.connector.catalog.Table,
      checkpointDir: String, mode: streaming.OutputMode,
      trigger: streaming.Trigger): streaming.StreamingQuery =
    df.sparkSession.asInstanceOf[classic.SparkSession].streams.startQuery(
      None, Some(checkpointDir), df.asInstanceOf[classic.Dataset[_]],
      Map.empty, sink, mode, trigger = trigger)

  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
}
