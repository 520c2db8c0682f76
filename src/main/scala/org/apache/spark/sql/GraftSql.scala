package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

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

  /** An eagerly checkpointed frame rebuilt over the same RDD, sized by
    * what it stored: `sizeInBytes` is the memory plus disk bytes the
    * block manager holds for the checkpoint's blocks (read from the
    * driver's block-manager master, so it costs no job and does not lag
    * behind the UI status store), `rowCount` is `rows`, the count the
    * checkpoint's own job observed. This replaces the estimate the
    * LogicalRDD inherited from the plan it materialized, which both
    * compounds (joins estimate their size as the product of their
    * children's, so a loop joining its checkpointed output to itself
    * multiplied the estimate's digit count every round) and
    * under-states wide rows (array columns count a fixed default
    * width). Partitioning, ordering and the inherited constraints pass
    * through unchanged. */
  def sizedByStorage(checkpointed: DataFrame, rows: Long): DataFrame = {
    val ds = checkpointed.asInstanceOf[classic.Dataset[Row]]
    val r = ds.logicalPlan.asInstanceOf[LogicalRDD]
    val id = r.rdd.id
    val bytes = ds.sparkSession.sparkContext.env.blockManager.master
      .getStorageStatus.iterator.flatMap(_.rddBlocks).collect {
        case (RDDBlockId(`id`, _), b) => b.memSize + b.diskSize
      }.sum
    classic.Dataset.ofRows(ds.sparkSession, r.copy()(ds.sparkSession,
      Some(Statistics(bytes, Some(rows))), Some(r.constraints)))
  }
}
