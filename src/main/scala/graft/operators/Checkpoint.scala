package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSql}
import org.apache.spark.sql.functions.{col, count, lit}

/** The one way this library materializes a frame: an EAGER
  * localCheckpoint whose row count (and any caller signal) is observed
  * on the checkpoint's own job, and whose rebuilt LogicalRDD is sized
  * by what its blocks store (see [[GraftSql.sizedByStorage]]), never by
  * the estimate it inherited from the plan it materialized.
  *
  * Why eager everywhere: a lazy checkpoint's own SQL execution ends
  * without running a job, so its plan (which owns the SQL metrics) can
  * be collected before the first consumer computes the RDD, and that
  * consumer then reports updates for accumulators the driver no longer
  * holds. Why the stored size: the inherited estimate compounds through
  * a loop that joins its checkpointed output to itself, and it
  * under-states wide rows (1,000 rows of `array<double>`(64) inherit
  * 12,000 B but store ~612,000 B), so a frame could be broadcast by
  * estimate far past `spark.sql.autoBroadcastJoinThreshold`. */
object Checkpoint {

  /** `df` stored, see [[counted]]. */
  private[graft] def apply(df: DataFrame): DataFrame = counted(df)._1

  /** `df` stored, and its row count. `name` names the observation (a
    * loop's round, `<op>.round[i]`). */
  private[graft] def counted(df: DataFrame,
      name: String = "checkpoint"): (DataFrame, Long) = {
    val (out, rows, _) = store(df, name, lit(0L))
    (out, rows)
  }

  /** `df` stored, and the long aggregate `signal` over its rows,
    * observed on that SAME job — a loop's convergence or normalization
    * scalar costs no extra Spark job. A null aggregate (a sum over zero
    * rows) reads as 0. */
  private[graft] def materialize(df: DataFrame, name: String,
      signal: Column): (DataFrame, Long) = {
    val (out, _, s) = store(df, name, signal)
    (out, s)
  }

  /** The session's configured shuffle parallelism — the partition count
    * to PIN on a pre-checkpoint repartition (see [[pinned]]). */
  private[graft] def shufflePartitions(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt

  /** A loop's edge list stored once, hash-repartitioned on `key` to the
    * session's shuffle parallelism. A checkpoint, NOT persist (r16): a
    * persisted edge list was measured being recomputed — source scan
    * and distinct included — on every round's exchange (q82: ten
    * ~7-9 s map stages re-emitting all 268k edges). The repartition
    * PINS the partition count: a checkpoint freezes its input's runtime
    * layout, and AQE coalesces a small exchange to very few partitions
    * (right for size-proportional work, disastrous for the expanding
    * joins these edge lists feed). It does NOT carry the key
    * partitioning into the rounds: the rebuilt LogicalRDD reports
    * UnknownPartitioning, so a per-round shuffle join on `key`
    * re-exchanges the edge rows — which is why the vertex side is
    * broadcast when it fits (Graph.vertexSide). */
  private[graft] def pinned(df: DataFrame, key: String): DataFrame =
    apply(df.repartition(shufflePartitions(df), col(key)))

  /** The checkpoint itself: one job stores the rows and observes
    * (rows, signal). The metrics are read from the checkpoint's own
    * executed plan once its job returns — not through an `Observation`,
    * which would wait for the listener bus to deliver them. Absent
    * metrics mean an empty input — adaptive execution drops the
    * observation only when it has proved the checkpoint's input empty —
    * so they read as 0 rows and signal 0. */
  private def store(df: DataFrame, name: String,
      signal: Column): (DataFrame, Long, Long) = {
    val observed = df.observe(name, count(lit(1)).as("rows"),
      signal.as("signal"))
    val cp = observed.localCheckpoint(true)
    val m = observed.queryExecution.observedMetrics.get(name)
    def long(i: Int): Long = m.filterNot(_.isNullAt(i)).fold(0L)(_.getLong(i))
    val rows = long(0)
    (GraftSql.sizedByStorage(cp, rows), rows, long(1))
  }
}
