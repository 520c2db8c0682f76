package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser

import graft.config.SystemConn
import graft.sources.{BinaryDirSource, CsvSource, JdbcPartitioning, JdbcSource, JdbcUrl, ParquetSource, XmlSource}

/** Source layer: dialect URL builders (S2), CSV dictionary scan (S4),
  * JDBC reader option wiring (S1/X5 — asserted on the plan, no DBMS in
  * the container), and ParquetSource's driver-side schema read against
  * Spark's own inference. */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  /** One parquet file written by parquet-mr itself, so its footer holds
    * no Spark schema and inference converts the parquet types (the
    * shape of the nanos fixtures). */
  private def parquetMrFile(file: java.nio.file.Path, schema: String)(
      rows: (Group => Unit)*): Unit = {
    val t = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(
      new org.apache.hadoop.fs.Path(file.toUri)).withType(t).build()
    val groups = new SimpleGroupFactory(t)
    try rows.foreach { fill =>
      val g = groups.newGroup(); fill(g); w.write(g)
    } finally w.close()
  }

  /** `df` as the single parquet file `file`, written by Spark. */
  private def sparkFile(df: org.apache.spark.sql.DataFrame,
      file: java.nio.file.Path): Unit = {
    val staging = Files.createTempDirectory("graft-pq-staging").resolve("d")
    df.coalesce(1).write.parquet(staging.toString)
    val part = Files.list(staging).filter(_.getFileName.toString
      .endsWith(".parquet")).findFirst().get()
    Files.move(part, file)
  }

  /** ParquetSource's frame has `spark.read.parquet`'s schema. */
  private def assertSameSchema(dir: java.nio.file.Path): Unit = {
    val ours = ParquetSource(dir.toString).read(spark).schema
    assert(ours === spark.read.parquet(dir.toString).schema)
  }

  test("ParquetSource schema: two files with different columns, the " +
    "first by path wins, as in Spark's inference") {
    val dir = Files.createTempDirectory("graft-pq-two")
    sparkFile(Seq((1L, "a")).toDF("id", "x"), dir.resolve("a.parquet"))
    sparkFile(Seq((2L, 2.5)).toDF("id", "y"), dir.resolve("b.parquet"))
    assertSameSchema(dir)
    assert(ParquetSource(dir.toString).read(spark).columns.toSeq ===
      Seq("id", "x"))
    // a parquet-mr file sorts first: its converted schema wins
    parquetMrFile(dir.resolve("0.parquet"),
      "message m { required int64 id; optional binary s (UTF8); }")(
      g => { g.add("id", 7L); g.add("s", "z") })
    assertSameSchema(dir)
    assert(ParquetSource(dir.toString).read(spark).columns.toSeq ===
      Seq("id", "s"))
  }

  test("ParquetSource schema: a _common_metadata summary is read before " +
    "any data file, as in Spark's inference") {
    val dir = Files.createTempDirectory("graft-pq-summary")
    sparkFile(Seq((1L, "a")).toDF("id", "x"), dir.resolve("a.parquet"))
    sparkFile(Seq((1L, "a", true)).toDF("id", "x", "flag"),
      dir.resolve("_common_metadata"))
    assertSameSchema(dir)
    assert(ParquetSource(dir.toString).read(spark).columns.toSeq ===
      Seq("id", "x", "flag"))
  }

  test("ParquetSource schema: a TIMESTAMP(NANOS) file read the way " +
    "Tables reads the fixtures, and a TIMESTAMP_NTZ file either way") {
    val nanos = Files.createTempDirectory("graft-pq-nanos")
    parquetMrFile(nanos.resolve("events.parquet"),
      "message m { required int64 id; " +
        "optional int64 ts (TIMESTAMP(NANOS,true)); }")(
      g => { g.add("id", 1L); g.add("ts", 1705276800000000123L) })
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      assertSameSchema(nanos)
    }
    val events = graft.sources.Tables(spark, nanos.toString, "events")
    assert(events.select("ts").head().getTimestamp(0).toInstant ===
      java.time.Instant.parse("2024-01-15T00:00:00Z"))
    val ntz = Files.createTempDirectory("graft-pq-ntz")
    parquetMrFile(ntz.resolve("a.parquet"),
      "message m { optional int64 ts (TIMESTAMP(MICROS,false)); }")(
      g => g.add("ts", 1705276800000000L))
    sparkFile(Seq(java.time.LocalDateTime.parse("2024-01-15T00:00:00"))
      .toDF("ts"), ntz.resolve("b.parquet"))
    for (infer <- Seq("true", "false"))
      withConf("spark.sql.parquet.inferTimestampNTZ.enabled" -> infer) {
        assertSameSchema(ntz)
      }
  }

  test("ParquetSource schema: an empty directory fails as Spark's read " +
    "does, and mergeSchema=true merges as Spark does") {
    val empty = Files.createTempDirectory("graft-pq-empty")
    val theirs = intercept[org.apache.spark.sql.AnalysisException](
      spark.read.parquet(empty.toString))
    val ours = intercept[org.apache.spark.sql.AnalysisException](
      ParquetSource(empty.toString).read(spark))
    assert(ours.getCondition === theirs.getCondition)
    assert(ours.getMessage === theirs.getMessage)
    val dir = Files.createTempDirectory("graft-pq-merge")
    sparkFile(Seq((1L, "a")).toDF("id", "x"), dir.resolve("a.parquet"))
    sparkFile(Seq((2L, 2.5)).toDF("id", "y"), dir.resolve("b.parquet"))
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assertSameSchema(dir)
      assert(ParquetSource(dir.toString).read(spark).columns.toSet ===
        Set("id", "x", "y"))
    }
  }

  test("JDBC URL builders match the reference dialects") {
    assert(JdbcUrl.oracleThin("u", "pw", "h", "1521", "svc") ===
      "jdbc:oracle:thin:u/pw@//h:1521/svc")
    assert(JdbcUrl.sqlServer("u", "pw", "srv", "1433", "db") ===
      "jdbc:sqlserver://srv:1433;databaseName=db;user=u;password=pw")
    val conn = SystemConn(dbms = "oracle", user = Some("u"),
      password = Some("p"), host = Some("h"), service = Some("s"))
    assert(JdbcUrl.forSystem(conn).startsWith("jdbc:oracle:thin:"))
    intercept[IllegalArgumentException] {
      JdbcUrl.forSystem(SystemConn(dbms = "exotic"))
    }
  }

  test("BinaryDirSource: glob-filtered files become (path, length, " +
    "content) rows; the size guard drops oversized objects") {
    val dir = Files.createTempDirectory("bin")
    dir.toFile.deleteOnExit()
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 1, 2, 3)
    Files.write(dir.resolve("a.png"), png)
    Files.writeString(dir.resolve("b.txt"), "not an image")
    Files.write(dir.resolve("huge.png"), Array.fill[Byte](2048)(7))
    val rows = BinaryDirSource(dir.toString, glob = "*.png",
      maxBytesPerFile = 1024).read(spark)
      .select("path", "length", "content").collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("path").endsWith("a.png"))
    assert(rows.head.getAs[Long]("length") === png.length.toLong)
    assert(rows.head.getAs[Array[Byte]]("content").toSeq === png.toSeq)
  }

  test("CsvSource reads a data-dictionary export (S4) for the A4 aggregation") {
    val dir = Files.createTempDirectory("dict")
    dir.toFile.deleteOnExit()
    Files.writeString(dir.resolve("dict.csv"),
      """table_name,column_name,incremental_reference
        |t1,c1,
        |t1,c2,SYSMODTIME
        |t1,c1,
        |t2,x,
        |""".stripMargin)
    val df = CsvSource(dir.resolve("dict.csv").toString).read(spark)
    val agg = df.groupBy("table_name")
      .agg(array_sort(collect_set(col("column_name"))).as("columns"),
        first(col("incremental_reference"), ignoreNulls = true).as("ref"))
      .orderBy("table_name")
      .collect()
    assert(agg.length === 2)
    assert(agg(0).getSeq[String](1) === Seq("c1", "c2"))
    assert(agg(0).getString(2) === "SYSMODTIME")
    assert(agg(1).isNullAt(2))
  }

  test("XmlSource round-trips rows through the native XML datasource, " +
    "inferred and explicit-schema (no inference pass) variants") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_xml")
      .toString + "/t"
    val in = Seq((1L, "a", 1.5), (2L, "b", -0.25), (3L, "<&>", 0.0))
      .toDF("id", "name", "score")
    in.write.format("xml").option("rowTag", "row").save(dir)
    val inferred = XmlSource(dir, rowTag = "row").read(spark)
      .select("id", "name", "score")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(inferred === Set((1L, "a", 1.5), (2L, "b", -0.25),
      (3L, "<&>", 0.0))) // XML-escaped chars survive the round trip
    val explicit = XmlSource(dir, rowTag = "row",
      schemaDdl = Some("id BIGINT, name STRING, score DOUBLE"))
      .read(spark)
    assert(explicit.schema.map(_.name) === Seq("id", "name", "score"))
    assert(explicit.count() === 3L)
  }

  test("Tables cache freezes the file listing until invalidate") {
    import graft.sources.Tables
    val dir = Files.createTempDirectory("tblcache")
    dir.toFile.deleteOnExit()
    val path = s"$dir/tbl.parquet"
    spark.range(2).toDF("id").write.parquet(path)
    assert(Tables(spark, dir.toString, "tbl").count() === 2)
    spark.range(3).toDF("id").write.mode("append").parquet(path)
    // frozen listing: the appended files are invisible to the cached plan
    assert(Tables(spark, dir.toString, "tbl").count() === 2)
    Tables.invalidate(spark, dir.toString, Some("tbl"))
    assert(Tables(spark, dir.toString, "tbl").count() === 5)
    // dir-wide invalidate is also accepted
    Tables.invalidate(spark, dir.toString)
    assert(Tables(spark, dir.toString, "tbl").count() === 5)
  }

  test("JdbcSource wires url/driver/fetchsize/partitioned-read options") {
    val src = JdbcSource("jdbc:oracle:thin:u/p@//h:1521/s", "tbl",
      "oracle.jdbc.OracleDriver", fetchsize = "50000",
      partitioning = Some(JdbcPartitioning("id", 0L, 1000000L, 32)))
    // no DBMS in the container: constructing the reader must not throw,
    // and the options must round-trip into the plan description
    val err = intercept[Throwable] { src.read(spark).count() }
    // driver class missing is the expected failure mode offline
    assert(err.toString.toLowerCase.contains("driver") ||
      err.getMessage != null)
  }
}
