package graft.config

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Configuration & watermark-state model of the engine.
  *
  * Mirrors the reference's nested-dict settings registry
  * (reference: ingestion/ingestion.py:35-43, constants.py:9-24) and the
  * per-table sync document (ingestion/ingestion.py:143-164) as typed
  * case classes with a JSON codec.
  */
object Formats {
  /** Exact watermark timestamp format of the reference
    * (constants.py:26): microsecond precision, literal 'Z'. */
  val SyncPattern = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
  val syncFormatter: DateTimeFormatter = DateTimeFormatter.ofPattern(SyncPattern)

  def parseSyncTs(s: String): LocalDateTime = LocalDateTime.parse(s, syncFormatter)
  def formatSyncTs(t: LocalDateTime): String = syncFormatter.format(t)
}

/** Per-table watermark state (reference: ingestion/ingestion.py:149-156). */
case class Sync(
    system: String,
    tableName: String,
    refColumn: String,
    refLastValue: String) {
  def lastValue: LocalDateTime = Formats.parseSyncTs(refLastValue)
  def advanced(newValue: LocalDateTime): Sync =
    copy(refLastValue = Formats.formatSyncTs(newValue))
}

/** Per-table ingestion settings (reference: constants.py:9-24,
  * FIXTURES.md §B). All fields optional except the watermark pair. */
case class TableSettings(
    refColumn: String,
    refFirstValue: String,
    dateColumn: Option[String] = None,
    timeColumn: Option[String] = None,
    fetchsize: Option[String] = None,
    columnsToImport: Option[Seq[String]] = None)

/** Per-source-system connection settings (reference:
  * ingestion/ingestion.py:35-43). */
case class SystemConn(
    dbms: String,
    driver: Option[String] = None,
    user: Option[String] = None,
    password: Option[String] = None,
    host: Option[String] = None,
    port: Option[String] = None,
    service: Option[String] = None,
    tableSettings: Map[String, TableSettings] = Map.empty)

case class Settings(connection: Map[String, SystemConn]) {
  def table(system: String, table: String): TableSettings =
    connection(system).tableSettings(table)
}

/** The watermark document's codec and its on-disk protocol. The
  * reference keeps `sync.json` as plain JSON next to the data
  * (ingestion.py:143-164); here it is read and written through
  * [[Sidecar]]'s Hadoop-filesystem node I/O, so it works on any Hadoop
  * filesystem and a write is rename-committed: a reader never sees a
  * torn file the next step cannot parse. The overwrite is atomic only
  * on HDFS; elsewhere it deletes the old file before the rename, and a
  * crash between the two leaves no `sync.json`, which the next step
  * reads as `ref_first_value` ([[Sidecar.writeNode]]). (The settings
  * document is decrypted at startup in the reference,
  * bin/ingestion/batch-ingestion.py:58-60 — the 3DES wrapper is out of
  * data-plane scope, SURVEY.md §7.3.) */
object Json {
  // The on-disk sync document nests under a "sync" key with snake_case
  // fields (ingestion/ingestion.py:149-156).
  def syncToNode(s: Sync): ObjectNode = {
    val node = Sidecar.newNode()
    val inner = node.putObject("sync")
    inner.put("system", s.system)
    inner.put("table_name", s.tableName)
    inner.put("ref_column", s.refColumn)
    inner.put("ref_last_value", s.refLastValue)
    node
  }

  def syncFromNode(node: JsonNode): Sync = {
    val n = node.get("sync")
    Sync(
      system = n.get("system").asText(),
      tableName = n.get("table_name").asText(),
      refColumn = n.get("ref_column").asText(),
      refLastValue = n.get("ref_last_value").asText())
  }

  /** Reads `{tablePath}/sync.json` if present; otherwise initializes from
    * `ref_first_value` exactly like read_sync_file
    * (ingestion/ingestion.py:143-158). */
  def readSyncFile(spark: SparkSession, tablePath: String, system: String,
      tableName: String, settings: Settings): Sync =
    Sidecar.readNode(spark, new Path(tablePath, "sync.json")) match {
      case Some(node) => syncFromNode(node)
      case None =>
        val ts = settings.table(system, tableName)
        Sync(system, tableName, ts.refColumn, ts.refFirstValue)
    }

  /** Persists the advanced watermark (ingestion/ingestion.py:161-164). */
  def writeSyncFile(spark: SparkSession, sync: Sync,
      tablePath: String): Unit =
    Sidecar.writeNode(spark, new Path(tablePath, "sync.json"),
      syncToNode(sync))
}
