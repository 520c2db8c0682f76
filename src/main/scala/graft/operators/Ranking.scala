package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed order statistics — exact global/per-group ranks WITHOUT
  * a single-partition window. `Window.orderBy` with no (or a
  * low-cardinality) partitionBy funnels every row through one task; at
  * 100 TB that is the plan that does not finish. The scale-true shape
  * is the one Spark's own sort uses internally: range-partition on the
  * sort key (sampled bounds), sort within partitions, then assign
  * contiguous indices per partition with a per-partition offset
  * (`RDD.zipWithIndex` — one extra count job to size the offsets,
  * amortized over the full pass).
  *
  * The assigned index depends only on the TOTAL ORDER (the caller must
  * pass a tie-free key set), never on partition boundaries — so the
  * result is deterministic and parallelism-invariant even though the
  * range sampler's split points are not.
  *
  * Per-group ranks ride the same single sort: sort by (group, key...),
  * take the global index, and subtract each group's first index
  * (a groupBy-min — #groups rows — broadcast back). One total sort +
  * one broadcast join for every group's contiguous 1-based ranking;
  * compare one shuffle + one single-partition-per-group window.
  */
object Ranking {

  /** Appends `idxCol`: the 0-based position of each row in the total
    * order of `orderCols` (which must be tie-free). One range-partition
    * sort + the zipWithIndex count job. */
  def globalIndex(df: DataFrame, orderCols: Seq[String],
      idxCol: String = "gidx"): DataFrame =
    globalIndexCols(df, orderCols.map(col), idxCol)

  /** [[globalIndex]] with explicit sort expressions (e.g. `.desc`
    * orders) — the shape the exact-ntile replications need. */
  def globalIndexCols(df: DataFrame, orderCols: Seq[Column],
      idxCol: String = "gidx"): DataFrame = {
    val sorted = df.orderBy(orderCols: _*)
    val out = StructType(sorted.schema.fields :+
      StructField(idxCol, LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ i)
    }
    df.sparkSession.createDataFrame(rdd, out)
  }

  /** Appends `tileCol`: exactly the value `ntile(k)` over the global
    * order of `orderCols` (tie-free) would assign — the first
    * `n mod k` tiles hold ⌈n/k⌉ rows, the rest ⌊n/k⌋ — WITHOUT the
    * single-task window an unpartitioned ntile plans. One
    * [[globalIndexCols]] sort plus a broadcast row count; the tile is
    * closed-form from the 0-based index (piecewise — `ntile` is NOT
    * `idx·k div n`, whose tile boundaries drift one row on remainder
    * tiles; differential-tested against the window in RankingSpec). */
  def globalNtile(df: DataFrame, orderCols: Seq[Column], k: Int,
      tileCol: String): DataFrame = {
    // stored once for its two consumers, as in leadKey / globalCumSum:
    // the indexed frame feeds both the count aggregate and the
    // crossJoin — un-stored, the sort + zip re-execute once per
    // consumer.
    val idx = Checkpoint(globalIndexCols(df, orderCols, "_nt_idx"))
    val n = idx.agg(count(lit(1)).as("_nt_n"))
    idx.crossJoin(broadcast(n))
      .withColumn(tileCol, expr(
        s"""CASE WHEN _nt_idx < (_nt_n % $k) * (_nt_n DIV $k + 1)
           | THEN _nt_idx DIV (_nt_n DIV $k + 1) + 1
           | ELSE (_nt_n % $k) + (_nt_idx - (_nt_n % $k) * (_nt_n DIV $k + 1))
           |   DIV greatest(_nt_n DIV $k, 1L) + 1
           | END""".stripMargin.replace('\n', ' ')))
      .drop("_nt_idx", "_nt_n")
  }

  /** Appends `nxtCol`: the next-larger `keyCol` (a tie-free BIGINT) in
    * the global key order — `lead(key) over (order by key)` without
    * the one-task window. The [[globalCumSum]] scheme: equi-width
    * range-bucket the key span (broadcast min/max — deterministic, no
    * sampled boundaries), lead WITHIN each bucket, then stitch each
    * bucket's last row with the min key of the next non-empty bucket
    * (a window over the ≤`buckets` per-bucket mins, broadcast back).
    * The globally-last row keeps a null lead. Same int64 bound as
    * [[globalCumSum]]: `(hi−lo)·buckets` must fit a long. */
  def leadKey(df: DataFrame, keyCol: String, nxtCol: String,
      buckets: Int = 256): DataFrame = {
    // stored once for its three consumers, as in globalCumSum (bounds,
    // per-bucket lead, per-bucket mins)
    val d = Checkpoint(df)
    val bounds = d.agg(min(col(keyCol)).as("_lo"), max(col(keyCol)).as("_hi"))
    val b = d.crossJoin(broadcast(bounds))
      .withColumn("_lk_b",
        expr(s"($keyCol - _lo) * $buckets DIV (_hi - _lo + 1)"))
      .drop("_lo", "_hi")
    val w = Window.partitionBy(col("_lk_b")).orderBy(col(keyCol))
    val led = b.withColumn("_lk_nxt0", lead(col(keyCol), 1).over(w))
    val mins = b.groupBy(col("_lk_b")).agg(min(col(keyCol)).as("_lk_min"))
    val wNext = Window.orderBy(col("_lk_b"))
      .rowsBetween(1, Window.unboundedFollowing)
    val nexts = mins
      .withColumn("_lk_next", min(col("_lk_min")).over(wNext))
      .select(col("_lk_b"), col("_lk_next"))
    led.join(broadcast(nexts), Seq("_lk_b"), "left")
      .withColumn(nxtCol, coalesce(col("_lk_nxt0"), col("_lk_next")))
      .drop("_lk_b", "_lk_nxt0", "_lk_next")
  }

  /** Appends `rankCol` (contiguous, 1-based, per `groupCol`, ordered by
    * `orderCols` which must be tie-free within a group) and `sizeCol`
    * (the group's row count) via one (group, keys...) total sort plus a
    * broadcast of the per-group offsets. */
  def groupRanks(df: DataFrame, groupCol: String, orderCols: Seq[String],
      rankCol: String = "r", sizeCol: String = "ng"): DataFrame = {
    val g = globalIndex(df, groupCol +: orderCols, "_gr_idx")
    val offsets = g.groupBy(col(groupCol))
      .agg(min(col("_gr_idx")).as("_gr_off"),
        count(lit(1)).as(sizeCol))
    g.join(broadcast(offsets), Seq(groupCol))
      .withColumn(rankCol, col("_gr_idx") - col("_gr_off") + lit(1L))
      .drop("_gr_idx", "_gr_off")
  }

  /** Appends `cum_<w>` — the EXACT inclusive running total of each
    * weight column in ascending `orderCol` order — without ever
    * funneling the table through one task. `orderCol` must be a
    * tie-free BIGINT key (i.e. the frame is already aggregated to one
    * row per key, the CDF shape); `sum() over (order by k)` with no
    * partitionBy would compute the same numbers in a single task.
    *
    * Two phases, the [[graft.operators.Sampling.budgetPrefix]] scheme
    * generalized from hash slices to value ranges: (1) equi-width
    * range-bucket the key span into `buckets` ORDER-PRESERVING slices
    * (span from a broadcast min/max — one tiny extra job) and run
    * local running sums per slice; (2) a window over the ≤`buckets`
    * bucket TOTALS (tiny) yields exclusive bucket offsets, broadcast
    * back and added. Output is identical to the naive window
    * (differential-tested in RankingSpec) but the largest task holds
    * one slice, ~keys/buckets rows.
    *
    * Bound: `(hi − lo) × buckets` must fit in int64 — any cents-scaled
    * or count-valued domain qualifies; a full-range 64-bit hash key
    * does not (bucket by its top bits instead, as budgetPrefix does).
    */
  def globalCumSum(df: DataFrame, orderCol: String,
      weightCols: Seq[String], buckets: Int = 256): DataFrame = {
    // stored once: the input feeds the bounds aggregate, the local
    // running sums, AND the bucket-totals pass — un-stored, a caller's
    // whole upstream pipeline (often a join + aggregate) re-executes
    // three times (q290's orders⋈lineitem ran 3× before this). The
    // input is the collapsed one-row-per-key CDF frame — the thing to
    // materialize.
    val d = Checkpoint(df)
    val bounds = d.agg(min(col(orderCol)).as("_lo"),
      max(col(orderCol)).as("_hi"))
    val bucketed = d.crossJoin(broadcast(bounds))
      .withColumn("_bucket",
        expr(s"($orderCol - _lo) * $buckets DIV (_hi - _lo + 1)"))
      .drop("_lo", "_hi")
    val wLocal = Window.partitionBy(col("_bucket")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = weightCols.foldLeft(bucketed) { (d, w) =>
      d.withColumn(s"_lc_$w", sum(col(w)).over(wLocal))
    }
    val wBucket = Window.orderBy(col("_bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totalAggs = weightCols.map(w => sum(col(w)).as(s"_bt_$w"))
    val offsets = weightCols.foldLeft(
      bucketed.groupBy(col("_bucket")).agg(totalAggs.head, totalAggs.tail: _*)
    ) { (d, w) =>
      d.withColumn(s"_off_$w",
        coalesce(sum(col(s"_bt_$w")).over(wBucket), lit(0L)))
    }.select(col("_bucket") +: weightCols.map(w => col(s"_off_$w")): _*)
    val joined = local.join(broadcast(offsets), Seq("_bucket"))
    weightCols.foldLeft(joined) { (d, w) =>
      d.withColumn(s"cum_$w", col(s"_off_$w") + col(s"_lc_$w"))
        .drop(s"_lc_$w", s"_off_$w")
    }.drop("_bucket")
  }
}
