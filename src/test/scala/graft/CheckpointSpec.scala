package graft

import org.apache.spark.sql.{DataFrame, GraftSql}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.optimizer.BuildLeft

import graft.operators.Checkpoint

/** The one materialization primitive: eager, counted on its own job,
  * and sized by the bytes its blocks store rather than by the estimate
  * inherited from the plan it materialized. */
class CheckpointSpec extends SparkSpec {

  /** 1,000 rows of `array<double>`(64): Spark's estimate counts an
    * array as one default-width element (12,000 B for the frame), while
    * the payload alone is 1,000 × 64 × 8 = 512,000 B. */
  private def wide: DataFrame = spark.range(1000).select(col("id"),
    array((0 until 64).map(i => (col("id") + i).cast("double")): _*)
      .as("v"))

  /** Memory + disk bytes the UI status store reports for the frame's
    * checkpoint RDD, once the listener bus has delivered its blocks. */
  private def storedBytes(df: DataFrame): Long = {
    GraftSql.drainListenerBus(spark)
    val id = df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id
    spark.sparkContext.getRDDStorageInfo.filter(_.id == id)
      .map(i => i.memSize + i.diskSize).sum
  }

  test("a checkpoint is sized by its stored bytes and counts its rows") {
    val (cp, n) = Checkpoint.counted(wide)
    assert(n === 1000L)
    val stats = cp.queryExecution.optimizedPlan.stats
    assert(stats.rowCount === Some(BigInt(1000)))
    assert(stats.sizeInBytes >= BigInt(1000L * 64 * 8), stats)
    val stored = storedBytes(cp)
    assert(stored > 0L)
    assert(stats.sizeInBytes >= BigInt(stored), s"$stats vs $stored B")
    assert(cp.count() === 1000L)
  }

  test("a wide checkpoint is not broadcast by an under-stated estimate") {
    // the threshold sits between the estimate a checkpoint inherits
    // (12,000 B) and what the frame stores (> 512,000 B); a left outer
    // join can only build its right side, so a broadcast here would
    // build the wide frame
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "100000") {
      val cp = Checkpoint(wide)
      val small = spark.range(10).select(col("id"))
      val plan = small.join(cp, Seq("id"), "left").queryExecution
        .executedPlan
      val builds = plan.collect { case j: BroadcastHashJoinExec =>
        if (j.buildSide == BuildLeft) j.left else j.right
      }
      def scansCheckpoint(p: SparkPlan): Boolean =
        p.collectFirst { case s if s.nodeName == "Scan ExistingRDD" => s }
          .isDefined
      assert(!builds.exists(scansCheckpoint), plan)
      assert(small.join(cp, Seq("id"), "left").count() === 10L)
    }
  }

  test("an empty input stores an empty frame and counts 0 rows") {
    val (empty, n) = Checkpoint.counted(spark.range(0).toDF())
    assert(n === 0L)
    assert(empty.isEmpty)
    // adaptive execution proves an empty shuffle empty and drops the
    // observation with it: absent metrics read as 0 rows
    withConf("spark.sql.adaptive.enabled" -> "true") {
      val (agg, m) = Checkpoint.counted(
        spark.range(0).groupBy(col("id")).count())
      assert(m === 0L)
      assert(agg.isEmpty)
      assert(agg.queryExecution.optimizedPlan.stats.rowCount ===
        Some(BigInt(0)))
    }
  }
}
