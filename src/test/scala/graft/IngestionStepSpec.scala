package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSql, SaveMode, SparkSession}

import graft.config.{Settings, SystemConn, TableSettings}
import graft.operators.Ingestion
import graft.sources.{ParquetSource, Source}

/** A live source (a JDBC table, say) that is empty on its first scan
  * and holds one committed row on every later scan. Each execution of
  * the frame is a new scan, so a second query over the same frame sees
  * rows the first did not. */
private object GrowingSource extends Source {
  val scans = new java.util.concurrent.atomic.AtomicInteger()

  def read(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(Seq(0), 1).flatMap { _ =>
      if (scans.getAndIncrement() == 0) Nil
      else Seq(1L -> Timestamp.valueOf("2024-01-10 08:00:00"))
    }.toDF("id", "ref")
  }
}

/** End-to-end contract of the incremental-ingestion core (reference
  * ingestion/ingestion.py:16-103): two consecutive runs with an injected
  * second batch — increment isolation, watermark advance, an empty
  * increment that writes nothing, unpadded partition directory names —
  * and the cost of one step: its Spark jobs and its driver-side
  * LIST/HEAD calls. */
class IngestionStepSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  private val settings = Settings(Map(
    "lims" -> SystemConn(dbms = "oracle", tableSettings = Map(
      "t1" -> TableSettings(
        refColumn = "ref",
        refFirstValue = "2024-01-01T00:00:00.000000Z")))))

  private def writeBatch(dir: Path, rows: Seq[(Long, Timestamp)]): Unit =
    rows.toDF("id", "ref").write.mode(SaveMode.Overwrite)
      .parquet(dir.toString)

  /** The data files under a sink (Spark's `_SUCCESS` marker and hidden
    * checksum files excluded). */
  private def dataFiles(out: String): Set[String] = {
    val root = java.nio.file.Paths.get(out)
    if (!Files.exists(root)) Set.empty
    else Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith("."))
      .map(root.relativize(_).toString).toSet
  }

  test("two-run incremental ingestion: isolation, advance, short-circuit") {
    val in = tmp("graft-in")
    val table = tmp("graft-table")
    val out = tmp("graft-out").resolve("data").toString

    // run 1: two rows past the initial watermark
    writeBatch(in, Seq(
      1L -> Timestamp.valueOf("2024-01-10 08:00:00"),
      2L -> Timestamp.valueOf("2024-01-12 09:30:00")))
    val r1 = Ingestion.ingestionStep(spark, "lims", "t1",
      ParquetSource(in.toString), table, out, settings,
      partitionColumns = Seq("YEAR", "MONTH"), counting = true)
    assert(r1.wrote && r1.rowCount.contains(2L))
    assert(r1.newSync.refLastValue === "2024-01-12T09:30:00.000000Z")
    assert(Files.exists(table.resolve("sync.json")))

    // partition layout: Hive-style with UNPADDED month (SURVEY §4.3)
    assert(Files.exists(java.nio.file.Paths.get(out, "YEAR=2024", "MONTH=1")))

    // run 2: one old row (== watermark -> dropped), one new row
    writeBatch(in, Seq(
      2L -> Timestamp.valueOf("2024-01-12 09:30:00"), // equal -> excluded
      3L -> Timestamp.valueOf("2024-01-20 10:00:00")))
    val r2 = Ingestion.ingestionStep(spark, "lims", "t1",
      ParquetSource(in.toString), table, out, settings,
      partitionColumns = Seq("YEAR", "MONTH"), counting = true)
    assert(r2.wrote && r2.rowCount.contains(1L))
    assert(r2.newSync.refLastValue === "2024-01-20T10:00:00.000000Z")

    // appended dataset = rows 1,2,3 exactly once each
    val all = spark.read.parquet(out).select("id")
      .as[Long].collect().sorted.toSeq
    assert(all === Seq(1L, 2L, 3L))

    // run 3: nothing new -> nothing written, sync unchanged
    val syncBefore = Files.readAllBytes(table.resolve("sync.json"))
    val filesBefore = dataFiles(out)
    val r3 = Ingestion.ingestionStep(spark, "lims", "t1",
      ParquetSource(in.toString), table, out, settings,
      partitionColumns = Seq("YEAR", "MONTH"))
    assert(!r3.wrote && r3.rowCount.isEmpty)
    assert(r3.newSync.refLastValue === "2024-01-20T10:00:00.000000Z")
    assert(Files.readAllBytes(table.resolve("sync.json")).toSeq ===
      syncBefore.toSeq)
    assert(dataFiles(out) === filesBefore)
  }

  test("an empty first increment writes no data file and no sync.json, " +
    "with adaptive execution on or off") {
    for (aqe <- Seq("true", "false")) {
      val in = tmp("graft-empty-in")
      val table = tmp("graft-empty-table")
      val out = tmp("graft-empty-out").resolve("data").toString
      // every row at or before the first value: nothing passes
      writeBatch(in, Seq(
        1L -> Timestamp.valueOf("2023-12-31 23:59:59"),
        2L -> Timestamp.valueOf("2024-01-01 00:00:00")))
      val r = withConf("spark.sql.adaptive.enabled" -> aqe) {
        Ingestion.ingestionStep(spark, "lims", "t1",
          ParquetSource(in.toString), table, out, settings,
          partitionColumns = Seq("YEAR", "MONTH"), counting = true)
      }
      assert(!r.wrote && r.rowCount.isEmpty, s"aqe=$aqe")
      assert(r.newSync.refLastValue === "2024-01-01T00:00:00.000000Z")
      assert(!Files.exists(table.resolve("sync.json")), s"aqe=$aqe")
      assert(dataFiles(out).isEmpty, s"aqe=$aqe")
    }
  }

  test("an empty increment is decided by the write alone: a row the " +
    "source commits after the write is left for the next step") {
    val table = tmp("graft-grow-table")
    val out = tmp("graft-grow-out").resolve("data").toString
    GrowingSource.scans.set(0)
    val r1 = withConf("spark.sql.adaptive.enabled" -> "true") {
      Ingestion.ingestionStep(spark, "lims", "t1", GrowingSource, table,
        out, settings, partitionColumns = Seq("YEAR", "MONTH"),
        counting = true)
    }
    assert(!r1.wrote && r1.rowCount.isEmpty)
    assert(!Files.exists(table.resolve("sync.json")))
    assert(dataFiles(out).isEmpty)
    val r2 = Ingestion.ingestionStep(spark, "lims", "t1", GrowingSource,
      table, out, settings, partitionColumns = Seq("YEAR", "MONTH"),
      counting = true)
    assert(r2.wrote && r2.rowCount.contains(1L))
    assert(r2.newSync.refLastValue === "2024-01-10T08:00:00.000000Z")
    assert(spark.read.parquet(out).select("id").as[Long].collect().toSeq ===
      Seq(1L))
  }

  test("an unpartitioned sink is refused: an empty append to it would " +
    "commit a zero-row file") {
    val in = tmp("graft-unpart-in")
    writeBatch(in, Seq(1L -> Timestamp.valueOf("2024-01-10 08:00:00")))
    intercept[IllegalArgumentException] {
      Ingestion.ingestionStep(spark, "lims", "t1",
        ParquetSource(in.toString), tmp("graft-unpart-table"),
        tmp("graft-unpart-out").resolve("data").toString, settings,
        partitionColumns = Nil)
    }
  }

  test("a non-empty step runs one observed write: at most the adaptive " +
    "shuffle-map job and the write job, no schema or LIMIT job, and a " +
    "pinned count of driver LIST/HEAD calls") {
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl",
      classOf[CountingLocalFs].getName)
    val in = tmp("graft-jobs-in")
    writeBatch(in, Seq(
      1L -> Timestamp.valueOf("2024-01-10 08:00:00"),
      2L -> Timestamp.valueOf("2024-02-12 09:30:00")))
    val table = tmp("graft-jobs-table")
    val out = s"countfs:${tmp("graft-jobs-out")}/data"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse(s"job ${e.jobId}")): Unit
    }
    GraftSql.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    CountingLocalFs.stats.reset(); CountingLocalFs.lists.reset()
    val r = try Ingestion.ingestionStep(spark, "lims", "t1",
      ParquetSource(s"countfs:$in"), table, out, settings,
      partitionColumns = Seq("YEAR", "MONTH"), counting = true)
    finally {
      GraftSql.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    val (lists, stats) =
      (CountingLocalFs.lists.driver.get, CountingLocalFs.stats.driver.get)
    info(s"jobs ${jobs.asScala.mkString(", ")}; driver lists $lists, " +
      s"stats $stats")
    assert(r.wrote && r.rowCount.contains(2L))
    assert(jobs.size <= 2, jobs.asScala.mkString("\n"))
    // the counts of the same step reading through spark.read.parquet:
    // the driver-side footer read opens the file it picks but adds no
    // LIST or HEAD, so the landing directory is listed once
    assert((lists, stats) === ((3L, 7L)))
  }

  test("sap system: ref column derived from split date/time strings") {
    val in = tmp("graft-sap-in")
    val table = tmp("graft-sap-table")
    val out = tmp("graft-sap-out").resolve("data").toString
    Seq((1L, "20240110", "080000"), (2L, "20231231", "235959"))
      .toDF("id", "budat", "cputm")
      .write.mode(SaveMode.Overwrite).parquet(in.toString)
    val sapSettings = Settings(Map(
      "sap-pru" -> SystemConn(dbms = "oracle", tableSettings = Map(
        "t1" -> TableSettings(
          refColumn = "ref_ts",
          refFirstValue = "2024-01-01T00:00:00.000000Z",
          dateColumn = Some("budat"), timeColumn = Some("cputm"))))))
    val r = Ingestion.ingestionStep(spark, "sap-pru", "t1",
      ParquetSource(in.toString), table, out, sapSettings,
      partitionColumns = Seq("YEAR", "MONTH"), counting = true)
    // only the 2024 row passes the watermark; 2023 row filtered
    assert(r.wrote && r.rowCount.contains(1L))
    assert(r.newSync.refLastValue === "2024-01-10T08:00:00.000000Z")
  }
}
