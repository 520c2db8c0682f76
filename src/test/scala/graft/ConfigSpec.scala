package graft

import java.nio.file.Files

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.config.{Formats, Json, Settings, Sync, SystemConn, TableSettings}

class ConfigSpec extends SparkSpec {

  /** Deterministic property driver (no scalatest-scalacheck bridge in
    * the offline cache): evaluate the generator on 200 fixed seeds. */
  private def forAll[A](g: Gen[A])(body: A => Unit): Unit =
    (1 to 200).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(body)
    }

  test("sync json round-trips through the reference document shape") {
    val s = Sync("lims", "t1", "ref", "2024-01-30T23:57:12.194062Z")
    val j = graft.config.Sidecar.toBytes(Json.syncToNode(s))
    assert(new String(j, "UTF-8").contains("\"ref_last_value\""))
    assert(Json.syncFromNode(graft.config.Sidecar.parseNode(j).get) === s)
  }

  test("readSyncFile initializes from ref_first_value when absent") {
    val dir = Files.createTempDirectory("graft-sync")
    val settings = Settings(Map("lims" -> SystemConn(dbms = "oracle",
      tableSettings = Map("t1" -> TableSettings(
        refColumn = "ref", refFirstValue = "2024-01-01T00:00:00.000000Z")))))
    // a local path, and the same protocol through the counting
    // filesystem (`countfs:`): the watermark goes through Hadoop FS, so
    // its reads are driver metadata calls a store would charge for
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl",
      classOf[CountingLocalFs].getName)
    for (path <- Seq(dir.toString, s"countfs:$dir/counted")) {
      CountingLocalFs.stats.reset()
      val s = Json.readSyncFile(spark, path, "lims", "t1", settings)
      assert(s === Sync("lims", "t1", "ref", "2024-01-01T00:00:00.000000Z"))
      Json.writeSyncFile(spark, s.advanced(
        java.time.LocalDateTime.parse("2024-02-01T12:00:00.000001")), path)
      val s2 = Json.readSyncFile(spark, path, "lims", "t1", settings)
      assert(s2.refLastValue === "2024-02-01T12:00:00.000001Z")
      if (path.startsWith("countfs:"))
        assert(CountingLocalFs.stats.driver.get >= 1L,
          s"the sync reads are driver HEADs: ${CountingLocalFs.stats}")
    }
  }

  test("property: sync format parse∘format is identity (µs precision)") {
    val tsGen = for {
      epochSec <- Gen.choose(0L, 4102444800L) // 1970..2100
      micros <- Gen.choose(0L, 999999L)
    } yield java.time.LocalDateTime.ofEpochSecond(
      epochSec, (micros * 1000).toInt, java.time.ZoneOffset.UTC)
    forAll(tsGen) { t =>
      assert(Formats.parseSyncTs(Formats.formatSyncTs(t)) === t)
    }
  }

  test("property: advancing the watermark is monotone in the formatted order") {
    // string ordering of the sync format == chronological ordering, the
    // invariant the reference's strict-> reparse depends on
    val tsGen = Gen.choose(0L, 4102444800L).map(s =>
      java.time.LocalDateTime.ofEpochSecond(s, 0, java.time.ZoneOffset.UTC))
    forAll(Gen.zip(tsGen, tsGen)) { case (a, b) =>
      val fa = Formats.formatSyncTs(a)
      val fb = Formats.formatSyncTs(b)
      assert((fa < fb) === a.isBefore(b))
    }
  }

  test("Sidecar.writeNode commits atomically: a crashed attempt's torn " +
    "dot-tmp never shadows the committed node, and the next write " +
    "consumes it (r13 review fix — manifests are commit points)") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft_sidecar_atomic")
    val p = new Path(dir.toString, "_graft_swap.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1 = graft.config.Sidecar.newNode(); v1.put("v", 1)
    graft.config.Sidecar.writeNode(spark, p, v1)
    assert(!fs.exists(new Path(dir.toString, "._graft_swap.json.tmp")),
      "a successful commit leaves no tmp behind")
    // a crash mid-write of a LATER attempt leaves a torn dot-tmp; the
    // committed node must stay readable and intact
    val out = fs.create(new Path(dir.toString, "._graft_swap.json.tmp"), true)
    out.write("{\"v\": 2, \"trunc".getBytes("UTF-8")); out.close()
    val back = graft.config.Sidecar.readNode(spark, p)
    assert(back.exists(_.get("v").asInt() === 1),
      "the torn tmp must never shadow the committed manifest")
    // the next successful write replaces both tmp and node
    val v3 = graft.config.Sidecar.newNode(); v3.put("v", 3)
    graft.config.Sidecar.writeNode(spark, p, v3)
    assert(graft.config.Sidecar.readNode(spark, p)
      .exists(_.get("v").asInt() === 3))
    assert(!fs.exists(new Path(dir.toString, "._graft_swap.json.tmp")))
  }
}
