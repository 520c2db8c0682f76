package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** ONE auditable ledger for takedown/retention evidence — the unified
  * sink behind all three compliance streams (LSH index, ANN index,
  * corpus table; r12 stretch item 8). Before this, each loop reported
  * (rows, dirs, batchId) through its own ad-hoc callback and a
  * deployment had to stitch three notebooks together to answer "what
  * did request X actually delete, everywhere?" — the question a
  * compliance audit starts with.
  *
  * Design: an append-only directory of ONE-ROW parquet files, one per
  * (target, lineage, batchId) evidence line, committed by the same
  * rename-aside discipline as the index swaps — the row is written to
  * a dot-prefixed inflight dir (invisible to readers) and RENAMED to
  * its final name, so a reader never sees a torn file and a crash
  * leaves only an ignorable `.inflight-*` dir ([[recover]] sweeps
  * them; the replaying stream re-attempts the line). The final name IS
  * the idempotence key: a replayed micro-batch re-runs its delete
  * (finds nothing — deletion is idempotent), then finds its evidence
  * file already present and SKIPS, preserving the original nonzero
  * counts instead of overwriting them with the replay's zeros. That
  * makes the ledger exactly-once without any coordination beyond the
  * filesystem rename, the same trick as
  * [[graft.streaming.Streaming.appendOnce]]'s markers.
  *
  * Scale shape: one tiny file per micro-batch per target — audit
  * volume, not data volume — but the READ paths are linear in FILE
  * count, so folding is a floor, not an option: SURVEY.md §8
  * records `append` FLAT (0.09 s at 10k files, 0.08 s at 25k —
  * the exists-check is one getFileStatus, never a listing), while
  * [[read]]/[[audit]] cost ~0.4 ms/file (3.7 s at 10k, 8.5 s at
  * 25k — parquet task scheduling over one-row files) and collapse to
  * ~0.1 s after a fold; the fold itself pays ~0.7 ms/file once
  * (6 s at 10k, 18 s at 25k — directory-read + name-id filter, never
  * an explicit-path index), with read-back identity asserted.
  * 25k files ≈ a year of four streams at ~17 batches/day — fold at
  * least quarterly.
  *
  * Under OBJECT-STORE RTT (10 ms per LIST and per HEAD, 10k files;
  * the r16 record in SURVEY.md §8) the shape holds because the DRIVER-side
  * metadata calls are CONSTANT per phase — the serial RTTs that
  * would not amortize: append 2 stats + 3 listings (0.17 s), read and
  * audit 1 stat + 2 listings each (8.3 / 8.8 s — the linear term is 2
  * footer-open HEADs per file that ride the 32 executor threads in
  * parallel; modern S3A skips even those by passing the listing's
  * status into openFile), fold 8 stats + 7 listings (10.8 s;
  * re-measured after the r16 cross-JVM lease + its pre-mutation
  * reasserts — the protocol added 2 stats + 1 listing, constant, and
  * its lease READS are opens a real store charges as ~4 more
  * constant GETs), post-fold read 0.7 s. The explicit-path file
  * index the r15 fix removed would have paid 10k SERIAL driver
  * HEADs — 100 s at this RTT — against the fold's constant 8.
  * Deletes/creates are not RTT-modeled (stores batch deletes); counts are
  * measured by per-phase call counters, not inferred, and LifecycleSpec
  * pins every phase's driver counts flat in the file count. A deployment
  * that runs takedown streams for years folds the old names away with
  * [[compactBefore]] — but ONLY batches the writing streams' replay horizon
  * has passed: the file NAME is the idempotence key, so compacting a batch
  * the checkpoint can still replay would forget its skip state and let the
  * replay's zeros re-append (the same retention logic as
  * [[graft.streaming.Streaming.appendOnce]]'s marker pruning —
  * `minBatchesToRetain` behind the newest batch is safe; the horizon is
  * [[compactBefore]]'s explicit argument). */
object ComplianceLog {

  /** The (ledger, target, lineage, batchId) addressing of one evidence
    * line — what a delete protocol needs to commit its own evidence at
    * the right point in ITS crash protocol (the rows/dirs counts are
    * the protocol's to fill). Build the lineage with
    * [[tableLineage]] (batch crons) or
    * [[graft.streaming.Streaming]]'s canonical checkpoint hash
    * (streams). */
  final case class Key(ledgerPath: String, target: String,
      lineage: String, batchId: Long)

  private def sha8(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  /** The lineage key for a BATCH cron's evidence: `<prefix>-<sha8 of
    * the qualified table path>` — folding the swept table's identity
    * into the idempotence key, so N tables swept into ONE shared
    * ledger at the same cron slot (the same runId) record N distinct
    * lines instead of colliding on the first (r13 verdict item 1).
    * Qualification mirrors the streams' canonical checkpoint lineage:
    * relative, trailing-slash and scheme-qualified spellings of one
    * table map to one lineage. */
  def tableLineage(spark: SparkSession, tablePath: String,
      prefix: String = "cron"): String = {
    val p = new Path(tablePath)
    prefix + "-" + sha8(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(p).toString)
  }

  /** Evidence schema. `lineage` is the stream's canonical checkpoint
    * hash (distinct streams writing one ledger never collide);
    * `committed_at_ms` is the wall clock at commit — operational
    * metadata, not part of the idempotence key. */
  val Schema: StructType = StructType.fromDDL(
    "target STRING, table_path STRING, lineage STRING, " +
      "batch_id BIGINT, rows_deleted BIGINT, dirs_rewritten BIGINT, " +
      "committed_at_ms BIGINT")

  /** Appends one evidence line unless (target, lineage, batchId) is
    * already recorded. Returns whether the line was written (false =
    * replay, original evidence preserved). */
  def append(spark: SparkSession, logPath: String, target: String,
      tablePath: String, lineage: String, batchId: Long,
      rowsDeleted: Long, dirsRewritten: Long): Boolean = {
    // the pair is a FILE NAME (the idempotence key): path separators
    // or globs in it would silently change which file the exists-check
    // guards
    require(target.matches("[A-Za-z0-9._-]+") &&
      lineage.matches("[A-Za-z0-9._-]+"),
      s"compliance target/lineage must be plain names, got " +
        s"'$target' / '$lineage'")
    // the id is parsed back out of the file name at the LAST '-': a
    // negative id would split as a positive one and silently change
    // fold eligibility under compactBefore's horizon (r13 ADVICE).
    // Streaming batch ids are non-negative by construction; a cron
    // runId must be too.
    require(batchId >= 0,
      s"compliance batch/run id must be >= 0, got $batchId")
    val root = new Path(logPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val name = s"$target-$lineage-$batchId.parquet"
    if (fs.exists(new Path(root, name))) return false
    val row = Row(target, tablePath, lineage, batchId, rowsDeleted,
      dirsRewritten, System.currentTimeMillis())
    // driver-direct single-row write (r16): same inflight/rename
    // protocol, no Spark job for one evidence line
    EvidenceCompaction.writeCommittedLocal(spark, root, name, Schema,
      Seq(row))
    true
  }

  /** The ledger as a DataFrame (schema-pinned; an absent or empty
    * ledger reads as zero rows, not an error — the audit query over a
    * deployment that never deleted anything is a report, not a
    * crash). */
  def read(spark: SparkSession, logPath: String): DataFrame =
    if (!EvidenceCompaction.hasFinalFiles(spark, new Path(logPath)))
      spark.createDataFrame(
        java.util.Collections.emptyList[Row](), Schema)
    else spark.read.schema(Schema).parquet(logPath)

  /** The audit read — "what did each request batch delete, on every
    * target it should have hit, and where are the gaps?" `expected` is
    * the (target, batch_id) grid a compliance review asserts coverage
    * over (every target a request class must land on × every request
    * batch); the result carries EXACTLY one row per grid cell —
    * `recorded` is the number of ledger lines covering the cell
    * (0 = gap) and the counts are SUMS over those lines (-1 sentinels
    * on gap cells, so the frame stays flat and join-friendly). The
    * ledger's key is (target, lineage, batch_id), one level finer than
    * the grid: a cell legitimately holds N lines when N lineages share
    * it — exactly what [[graft.operators.Maintenance.runAll]] produces
    * (N tables, target `ttl-sweep`, one runId) — so the join must
    * aggregate, not fan out, or a multi-table cron would silently
    * break the one-row-per-cell contract and double-count every
    * per-cell sum (r14 ADVICE). `recorded > 1` is the explicit
    * multi-lineage signal; drill into the raw [[read]] frame for the
    * per-lineage lines. A gap row is the ledger's reason to exist:
    * "deleted everywhere but the archive" is invisible to any single
    * stream's own reporting. Driver cost is grid × ledger — audit
    * volume on both sides (oracle-proven as q330/q333). */
  def audit(spark: SparkSession, logPath: String,
      expected: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}
    require(expected.columns.toSeq == Seq("target", "batch_id"),
      s"expected grid must be (target, batch_id), got: " +
        expected.columns.mkString(", "))
    expected.join(
        read(spark, logPath)
          .groupBy(col("target"), col("batch_id"))
          .agg(count(lit(1)).as("n_lines"),
            sum(col("rows_deleted")).as("rows_deleted"),
            sum(col("dirs_rewritten")).as("dirs_rewritten")),
        Seq("target", "batch_id"), "left")
      .select(col("target"), col("batch_id"),
        coalesce(col("n_lines"), lit(0L)).as("recorded"),
        coalesce(col("rows_deleted"), lit(-1L)).as("rows_deleted"),
        coalesce(col("dirs_rewritten"), lit(-1L))
          .as("dirs_rewritten"))
  }

  /** Per-lineage drill-down of [[audit]] (r15 verdict stretch 7) —
    * `recorded > 1` on an audit cell says N lineages share it; this is
    * the officer's one-liner for "WHICH lineages, with what counts?"
    * instead of a hand-join against the raw [[read]] frame. One row
    * per covering ledger LINE within each expected grid cell, same gap
    * semantics as [[audit]]: an uncovered cell keeps exactly one row
    * (lineage NULL, `recorded` 0, -1 sentinel counts) so the frame
    * stays flat and join-friendly; a covered line carries its own
    * lineage, `recorded` 1 and its own (un-summed) counts — grouping
    * this frame by (target, batch_id) reproduces [[audit]] exactly.
    * Driver cost is grid × ledger, audit volume on both sides. */
  def auditByLineage(spark: SparkSession, logPath: String,
      expected: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(expected.columns.toSeq == Seq("target", "batch_id"),
      s"expected grid must be (target, batch_id), got: " +
        expected.columns.mkString(", "))
    expected.join(
        read(spark, logPath)
          .select(col("target"), col("batch_id"), col("lineage"),
            col("rows_deleted"), col("dirs_rewritten")),
        Seq("target", "batch_id"), "left")
      .select(col("target"), col("batch_id"), col("lineage"),
        // lineage is never null in the ledger (append requires a
        // plain name), so null ⇔ the left join found no line ⇔ gap
        when(col("lineage").isNull, lit(0L)).otherwise(lit(1L))
          .as("recorded"),
        coalesce(col("rows_deleted"), lit(-1L)).as("rows_deleted"),
        coalesce(col("dirs_rewritten"), lit(-1L))
          .as("dirs_rewritten"))
  }

  /** Folds every evidence file with batch id < `horizonBatchId` into
    * one consolidated `compacted-<maxFolded>.parquet` — the ledger's
    * long-run maintenance ([[EvidenceCompaction]]: manifest-committed,
    * crash-rolls-forward, chains re-fold). THE CALLER OWNS THE
    * HORIZON: pass at most (newest committed batch −
    * `minBatchesToRetain`) across every stream writing this ledger —
    * folding a batch a checkpoint can still replay forgets its
    * replay-skip state and lets the replay's zeros re-append (the
    * scaladoc'd caveat above, now enforced by one explicit argument
    * instead of by hand). Single-writer is enforced on disk: the fold
    * takes the store's cross-JVM lease (`_graft_fold_lease.json`, see
    * [[EvidenceCompaction]]) and a concurrent fold/roll-forward in
    * ANY process refuses loudly instead of interleaving. Returns
    * (filesFolded, rowsFolded). */
  def compactBefore(spark: SparkSession, logPath: String,
      horizonBatchId: Long): (Long, Long) =
    EvidenceCompaction.compactBefore(spark, logPath, horizonBatchId,
      Some(Schema))

  /** Rolls a crashed [[compactBefore]] forward (manifest-committed),
    * then sweeps crashed append `.inflight-*` dirs (a crash between
    * the parquet write and the rename). An append's evidence line is
    * NOT lost: the stream that crashed replays its batch, finds no
    * final file, and re-appends. Same single-writer window as
    * [[compactBefore]] — the sweep would kill a CONCURRENT writer's
    * live inflight. Returns the action log. */
  def recover(spark: SparkSession, logPath: String): Seq[String] =
    EvidenceCompaction.recover(spark, logPath) ++
      EvidenceCompaction.sweepInflights(spark, new Path(logPath))

  /** The heal a maintenance CRON runs implicitly against a ledger
    * other writers may be appending to RIGHT NOW (takedown streams,
    * sibling windows): fold roll-forward is manifest-scoped and safe;
    * the inflight sweep is age-gated to an hour so it removes only
    * genuinely crashed appends, never a live writer's
    * seconds-lived inflight. If a SIBLING process already holds the
    * fold lease (it is rolling the crashed fold forward right now),
    * this heal DEFERS to it — reported in the action log, never a
    * thrown slot failure: the sibling's roll-forward IS the heal,
    * appends are lease-free and safe concurrent with it, and if the
    * sibling died mid-roll the state heals at a later slot once its
    * lease goes stale. The explicit single-writer [[recover]] still
    * refuses loudly in the same situation. */
  def healShared(spark: SparkSession, logPath: String): Seq[String] =
    (try EvidenceCompaction.recover(spark, logPath)
      catch {
        case e: EvidenceCompaction.FoldLeaseHeldException =>
          Seq(s"deferred crashed-fold heal to the lease holder: " +
            e.getMessage)
      }) ++
      EvidenceCompaction.sweepInflights(spark, new Path(logPath),
        olderThanMs = 3600L * 1000L)
}
