package graft.operators

import java.nio.file.Path
import java.sql.Timestamp

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max}

import graft.config.{Json, Settings, Sync}
import graft.sinks.PartitionedSink
import graft.sources.Source

/** The incremental-ingestion core — the Spark-first rewrite of the
  * reference's `ingestion_step` (ingestion/ingestion.py:16-103):
  *
  *   read sync → scan → isNotNull(ref) → prep (system pipeline) →
  *   observe(max(ref), count) → append-write partitioned → advance sync
  *   iff rows landed.
  *
  * Differences that matter at 100 TB (all Spark-idiomatic, none
  * semantic):
  *   - no blanket `repartition(32)` after the scan (ingestion.py:53) —
  *     parallelism comes from the source itself (JDBC partitioned read /
  *     parquet splits); a blind round-robin shuffle of the full increment
  *     is pure cost;
  *   - the reference's persist / isEmpty / count / write / max sequence
  *     (ingestion.py:68-95) is ONE write job: `observe()` piggybacks the
  *     count and the global max onto the write's scan, and the count
  *     alone says whether anything landed, so there is no emptiness
  *     probe and no cache to fill and drop. An empty increment writes
  *     no data file, so the sink must be partitioned (the reference
  *     always partitions per system): an unpartitioned empty append
  *     would commit a zero-row file.
  */
object Ingestion {

  final case class StepResult(
      wrote: Boolean,
      rowCount: Option[Long],
      newSync: Sync)

  def ingestionStep(
      spark: SparkSession,
      system: String,
      tableName: String,
      source: Source,
      tablePath: Path,
      outputPath: String,
      settings: Settings,
      partitionColumns: Seq[String],
      counting: Boolean = false,
      fileFormat: String = "parquet"): StepResult = {
    require(partitionColumns.nonEmpty,
      "an ingestion sink is partitioned: an empty increment appended " +
        "to an unpartitioned sink would commit a zero-row file")

    // 1. watermark state (ingestion.py:32)
    val syncDir = tablePath.toUri.toString
    val sync = Json.readSyncFile(spark, syncDir, system, tableName, settings)
    val tableSettings = settings.table(system, tableName)

    // 2-5. scan → not-null ref → system prep with strict-> watermark
    val scanned = source.read(spark)
    val notNullable = system match {
      case "sap-pru" =>
        // SAP's ref column is derived inside the pipeline; the raw date
        // column is what must be non-null pre-prep.
        scanned.filter(col(tableSettings.dateColumn.get).isNotNull)
      case _ => Prep.dropNullRef(scanned, sync.refColumn)
    }
    val prepared = Prep.bySystem(system)(tableSettings, sync.lastValue)(notNullable)

    // 6-10. count + append write + watermark max in ONE job (the
    // reference ran a probe and three passes, ingestion.py:73-95)
    val obs = Observation()
    PartitionedSink.appendIncrement(
      prepared.observe(obs, max(col(sync.refColumn)).as("max_ref"),
        count(lit(1)).as("n_rows")),
      outputPath, partitionColumns, fileFormat)
    // With AQE on, an empty shuffle under the partitioned write is
    // replaced by an empty relation and the observation with it
    // (`obs.get` is empty): absent metrics mean nothing was written.
    // A second query must not decide: over a live source it could
    // count a row committed after the write, and advance past it.
    val metrics = obs.get
    val n = metrics.get("n_rows").fold(0L)(_.asInstanceOf[Long])
    if (n == 0) StepResult(wrote = false, rowCount = None, newSync = sync)
    else {
      val newSync = sync.advanced(
        metrics("max_ref").asInstanceOf[Timestamp].toLocalDateTime)
      // 11. persist new sync next to the data (ingestion.py:96,161-164)
      Json.writeSyncFile(spark, newSync, syncDir)
      StepResult(wrote = true, rowCount = if (counting) Some(n) else None,
        newSync = newSync)
    }
  }
}
