package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.LogicalRDD

/** Column ⇄ Expression bridge. Spark 4 moved these conversions into
  * `org.apache.spark.sql.classic.ExpressionUtils` with package-private
  * visibility; extension libraries bridge from inside the package (the
  * standard pattern for custom-Expression DSLs). */
object GraftSql {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Blocks until every event posted so far has reached the session's
    * listeners (the bus is package-private), so counts a listener keeps
    * cover everything that ran before the call. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** An eagerly checkpointed frame without the size estimate its
    * LogicalRDD inherited from the plan it materialized. Joins estimate
    * their size as the product of their children's, so a loop that
    * joins its own checkpointed output to itself every round compounds
    * the estimate round over round: its digit count multiplies by the
    * number of self-references per round until computing the estimate
    * alone outlasts the job. Without the inherited estimate the frame
    * counts as Spark's default size (never broadcast by estimate, as the
    * compounded one never was). */
  def withoutInheritedStats(checkpointed: DataFrame): DataFrame = {
    val ds = checkpointed.asInstanceOf[classic.Dataset[Row]]
    val r = ds.logicalPlan.asInstanceOf[LogicalRDD]
    classic.Dataset.ofRows(ds.sparkSession, LogicalRDD(r.output, r.rdd,
      r.outputPartitioning, r.outputOrdering, r.isStreaming)(ds.sparkSession))
  }
}
