package graft.operators

import java.nio.file.Path
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max}
import org.apache.spark.storage.StorageLevel

import graft.config.{Json, Settings, Sync}
import graft.sinks.PartitionedSink
import graft.sources.Source

/** The incremental-ingestion core — the Spark-first rewrite of the
  * reference's `ingestion_step` (ingestion/ingestion.py:16-103):
  *
  *   read sync → scan → isNotNull(ref) → prep (system pipeline) →
  *   persist → isEmpty? → [count] → append-write partitioned → max(ref) →
  *   advance sync.
  *
  * Differences that matter at 100 TB (all Spark-idiomatic, none
  * semantic):
  *   - no blanket `repartition(32)` after the scan (ingestion.py:53) —
  *     parallelism comes from the source itself (JDBC partitioned read /
  *     parquet splits); a blind round-robin shuffle of the full increment
  *     is pure cost;
  *   - `df.isEmpty` instead of `df.rdd.isEmpty()` (ingestion.py:73) —
  *     avoids RDD conversion and runs a LIMIT 1 plan;
  *   - the reference's count/write/max trio of jobs (ingestion.py:75-95)
  *     collapses into ONE write job with `observe()` metrics; the
  *     MEMORY_AND_DISK persist now only bridges isEmpty → write.
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

    // 6. persist across the ≤4 actions below (ingestion.py:68)
    val cached = prepared.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // 7. emptiness probe short-circuits write + advance (ingestion.py:73-74)
      if (cached.isEmpty) {
        StepResult(wrote = false, rowCount = None, newSync = sync)
      } else {
        // 8-10. count + append write + watermark max in ONE pass: the
        // reference ran three separate jobs over the increment
        // (ingestion.py:75-95); observe() piggybacks the count and the
        // global max onto the write job's scan, which at 100 TB saves
        // two full passes (the persist cache only helps if the
        // increment fits in cluster memory — observe works regardless).
        val obs = Observation()
        val observed = cached.observe(obs,
          max(col(sync.refColumn)).as("max_ref"),
          count(lit(1)).as("n_rows"))
        PartitionedSink.appendIncrement(observed, outputPath,
          partitionColumns, fileFormat)
        val metrics = obs.get
        val n = if (counting) Some(metrics("n_rows").asInstanceOf[Long])
          else None
        val maxTs = metrics("max_ref").asInstanceOf[Timestamp]
        val newSync = sync.advanced(maxTs.toLocalDateTime)
        // 11. persist new sync next to the data (ingestion.py:96,161-164)
        Json.writeSyncFile(spark, newSync, syncDir)
        StepResult(wrote = true, rowCount = n, newSync = newSync)
      }
    } finally cached.unpersist()
  }
}
