package graft

import java.nio.file.{Files, Paths}

import graft.config.Security
import graft.operators.Prep
import graft.sinks.{ObjectStore, PartitionedSink}

/** Driver-side lifecycle surface: object-store shipping (K4), archive +
  * reset (K5), bulk delete (K10), settings crypto (F9), column drop
  * (P5) — everything SURVEY §7.3 initially scoped out, re-expressed on
  * public abstractions (Hadoop FileSystem, JCE) so it runs identically
  * on file://, s3a://, gs://. */
class LifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = {
    val d = Files.createTempDirectory(p); d.toFile.deleteOnExit(); d
  }

  test("ship (K4): recursive copy renames part files with the batch id") {
    val src = tmp("ship-src"); val dst = tmp("ship-dst")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$src/t")
    val shipped = ObjectStore.ship(spark, src.toString, dst.toString, "b42")
    val partNames = shipped.map(_.split('/').last).filter(_.contains("part"))
    assert(partNames.nonEmpty)
    // stem-<batch>.<rest of the original name after the first dot>
    partNames.foreach(n => assert(n.matches("part-[0-9a-f-]+-b42\\..*"), n))
    // non-part files (_SUCCESS) keep their names
    assert(shipped.exists(_.endsWith("_SUCCESS")))
    // the shipped parquet is still readable
    val back = spark.read.parquet(s"$dst/t")
    assert(back.count() === 2)
  }

  test("archiveAndReset (K5): archives everything, keeps only sync.json") {
    val table = tmp("arch-src"); val archive = tmp("arch-parent")
    Files.writeString(Paths.get(s"$table/sync.json"), """{"v":"2024"}""")
    Files.writeString(Paths.get(s"$table/data.csv"), "1,2,3")
    val dst = s"$archive/t-archived"
    ObjectStore.archiveAndReset(spark, table.toString, dst)
    assert(Files.exists(Paths.get(s"$dst/data.csv")))
    assert(Files.exists(Paths.get(s"$dst/sync.json")))
    assert(!Files.exists(Paths.get(s"$table/data.csv"))) // reset
    assert(Files.readString(Paths.get(s"$table/sync.json"))
      === """{"v":"2024"}""") // watermark survives the reset
    intercept[IllegalArgumentException] { // refuses to clobber an archive
      ObjectStore.archiveAndReset(spark, table.toString, dst)
    }
  }

  test("deleteByPrefix (K10): removes only the matching prefix") {
    val d = tmp("del")
    Files.writeString(Paths.get(s"$d/run1-a.txt"), "x")
    Files.writeString(Paths.get(s"$d/run1-b.txt"), "x")
    Files.writeString(Paths.get(s"$d/run2-a.txt"), "x")
    val n = ObjectStore.deleteByPrefix(spark, s"$d/run1-")
    assert(n === 2)
    assert(!Files.exists(Paths.get(s"$d/run1-a.txt")))
    assert(Files.exists(Paths.get(s"$d/run2-a.txt")))
  }

  test("deleteByPrefix matches the prefix LITERALLY — glob " +
    "metacharacters neither widen the match nor throw") {
    val d = tmp("delglob")
    Files.writeString(Paths.get(s"$d/run[12]-a.txt"), "x")
    Files.writeString(Paths.get(s"$d/run1-a.txt"), "x")
    Files.writeString(Paths.get(s"$d/run2-a.txt"), "x")
    // as a glob, "run[12]-" would match (and delete) run1-/run2- files;
    // literally it names only the bracket-named file
    val n = ObjectStore.deleteByPrefix(spark, s"$d/run[12]-")
    assert(n === 1)
    assert(!Files.exists(Paths.get(s"$d/run[12]-a.txt")))
    assert(Files.exists(Paths.get(s"$d/run1-a.txt")))
    assert(Files.exists(Paths.get(s"$d/run2-a.txt")))
    // "{" in a glob throws; literally it's just a character
    Files.writeString(Paths.get(s"$d/run{1-x.txt"), "x")
    assert(ObjectStore.deleteByPrefix(spark, s"$d/run{1") === 1)
    // a missing parent is 0 matches, not an exception
    assert(ObjectStore.deleteByPrefix(spark, s"$d/nosuchdir/pfx") === 0)
  }

  test("Security (F9): 2-key 3DES round-trip + file helpers") {
    val json = """{"systems": {"s1": {"dbms": "oracle"}}}"""
    val ct = Security.encrypt(json.getBytes("UTF-8"), "hunter2")
    assert(ct.length % 8 === 0) // DES block size, PKCS5-padded
    assert(!new String(ct, "ISO-8859-1").contains("systems"))
    assert(new String(Security.decrypt(ct, "hunter2"), "UTF-8") === json)
    intercept[Exception](Security.decrypt(ct, "wrong-password"))
    val f = Files.createTempFile("settings", ".json")
    Files.writeString(f, json)
    val enc = Security.encryptJsonFile(f.toString, "pw")
    assert(enc.endsWith(".pydes")) // reference's suffix convention
    assert(Security.decryptJsonFile(enc, "pw") === json)
  }

  test("dropColumns (P5): sheds derived columns before the sink") {
    val df = Seq((1L, "x", "2024")).toDF("id", "v", "YEAR")
    val out = Prep.dropColumns(df, Seq("YEAR", "not_there"))
    assert(out.columns.toSeq === Seq("id", "v"))
  }

  test("deleteRowsByKey: corpus-side takedown rewrites the table " +
    "minus the delete set, preserves the partition layout, and a " +
    "no-op delete set never rewrites") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_corpus_delete").toString
    val table = s"$dir/docs"
    val df = (0L until 200L).map(i => (i, s"doc $i", s"l${i % 3}"))
      .toDF("doc_id", "text", "lang")
    df.write.partitionBy("lang").parquet(table)
    val doomed = df.filter(col("doc_id") % 7 === 3).select("doc_id")
    val n = PartitionedSink.deleteRowsByKey(spark, table, "doc_id",
      doomed, Seq("lang"))
    assert(n === doomed.count())
    val after = spark.read.parquet(table)
    // remaining rows ≡ anti-join, nothing else touched
    assert(after.count() === 200L - n)
    assert(after.join(doomed, Seq("doc_id"), "left_semi").count() === 0L)
    assert(after.select("doc_id", "text", "lang").distinct().count()
      === 200L - n)
    // hive layout preserved: lang=* dirs, no temp/old leftovers
    val entries = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(entries === Set("docs"))
    val langDirs = new java.io.File(table).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(langDirs === Set("lang=l0", "lang=l1", "lang=l2"))
    // no-op delete set: returns 0, zero files change
    def fileSet() = {
      def walk(f: java.io.File): Seq[String] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f.getPath)
      walk(new java.io.File(table)).sorted
    }
    val before = fileSet()
    assert(PartitionedSink.deleteRowsByKey(spark, table, "doc_id",
      Seq(999999L).toDF("doc_id"), Seq("lang")) === 0L)
    assert(fileSet() === before)
  }

  test("Maintenance.run — one call heals a crashed swap, folds append " +
    "fragments, repins a crash-stale ANN count, and reports honestly " +
    "on a plain table it refuses to rewrite") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.col
    import graft.operators.{Dedup, Maintenance, Similarity}
    val hfs = new Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")

    // --- LSH bucket index: crashed (uncommitted tmp) + fragmented ---
    val lsh = tmp("maint-lsh").toString
    val corpus = docs.filter($"doc_id" % 4 =!= 0)
    Dedup.writeBucketIndex(corpus, lsh, "text", "doc_id", parts = 8)
    for (r <- 1 to 3) // three appends ⇒ ≥4 fragments per touched dir
      Dedup.appendToBucketIndex(spark, lsh,
        docs.filter($"doc_id" % 4 === 0 && $"doc_id" % 3 === r % 3),
        "text")
    val probeBatch = docs.filter($"doc_id" % 7 === 2)
    def pairsOf(p: String) = Dedup.incrementalCandidatesStored(spark, p,
        probeBatch, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = pairsOf(lsh)
    // an UNCOMMITTED crashed maintenance tmp (no manifest): recovery
    // must drop it
    val junk = new Path(lsh + ".delete_tmp")
    hfs.mkdirs(junk)
    hfs.create(new Path(junk, "stray.parquet"), true).close()
    val rep = Maintenance.run(spark, lsh, maxFilesPerDir = 2)
    assert(rep.family === "lsh-bucket")
    assert(rep.recoveryActions.nonEmpty)
    assert(!hfs.exists(junk))
    assert(rep.compacted && rep.maxFilesPerDir > 2)
    assert(rep.dataFilesAfter === rep.leafDirs) // one file per dir
    assert(rep.dataFilesAfter < rep.dataFilesBefore)
    assert(pairsOf(lsh) === expected) // probe-identity through the window
    assert(expected.nonEmpty)
    // idempotent second window: healthy, nothing to do
    val rep2 = Maintenance.run(spark, lsh, maxFilesPerDir = 2)
    assert(rep2.recoveryActions.isEmpty && !rep2.compacted)
    assert(rep2.balanceMaxOverMean >= 1.0)

    // --- ANN index: crash-stale sidecar count (intent marker) ---
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val ann = tmp("maint-ann").toString
    Similarity.writeIvfPqIndex(emb.filter($"vec_id" < 400), ann,
      "vec_id", "embedding", dim = 64, m = 4, kCodes = 8, rounds = 1,
      nlist = 8)
    val preMeta = graft.config.Sidecar.read(spark, ann, "test")
    Similarity.appendToIvfPqIndex(spark, ann,
      emb.filter($"vec_id" >= 400), "vec_id", "embedding")
    // rewind sidecar + re-drop the intent marker = the crash state
    graft.config.Sidecar.write(spark, ann, preMeta
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]())
    hfs.create(new Path(ann, Similarity.AppendIntentMarker), true).close()
    val repAnn = Maintenance.run(spark, ann, maxFilesPerDir = 1)
    assert(repAnn.family === "ivfpq")
    assert(repAnn.recoveryActions.exists(_.contains("intent")))
    assert(graft.config.Sidecar.long(
      graft.config.Sidecar.read(spark, ann, "test"), "count")
      === emb.count())
    assert(repAnn.compacted && repAnn.dataFilesAfter === repAnn.leafDirs)

    // --- plain corpus table: recovered + censused, never rewritten ---
    val table = tmp("maint-table").toString
    val part = docs.limit(200)
      .withColumn("lang", (col("doc_id") % 3).cast("string"))
    part.write.mode("overwrite").partitionBy("lang").parquet(table)
    part.write.mode("append").partitionBy("lang").parquet(table)
    val filesBefore = hfs.listFiles(new Path(table), true)
    var nBefore = 0
    while (filesBefore.hasNext) {
      if (filesBefore.next().getPath.getName.endsWith(".parquet"))
        nBefore += 1
    }
    val repT = Maintenance.run(spark, table, maxFilesPerDir = 1)
    assert(repT.family === "table")
    assert(!repT.compacted) // in-place rewrite is not the table story
    assert(repT.maxFilesPerDir > 1 && repT.dataFilesAfter === nBefore)
    assert(repT.balanceMaxOverMean >= 1.0)
    // a corpus table whose sidecar pins NEITHER family's fields (e.g.
    // only an id column) is still a plain table — classifying it LSH
    // would compact it in place, the exact rewrite the policy forbids
    val meta = graft.config.Sidecar.newNode()
    meta.put("idCol", "doc_id")
    graft.config.Sidecar.write(spark, table, meta)
    val repT2 = Maintenance.run(spark, table, maxFilesPerDir = 1)
    assert(repT2.family === "table")
    assert(!repT2.compacted && repT2.dataFilesAfter === nBefore)
  }

  test("Maintenance balance ≡ the DataFrame groupBy ratio on a skewed " +
    "multi-file layout: the direct footer tail-reads carry the same " +
    "row counts as a full scan (r13: the footer job replaces the " +
    "task-per-file aggregate)") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{col, count, lit}
    val table = tmp("maint-balance").toString
    // deliberately skewed: leaf sizes 10/40/150, fragmented across
    // two appends so several leaves hold multiple files
    val part = spark.range(200).select(col("id"),
      org.apache.spark.sql.functions.when(col("id") < 10, lit(0))
        .when(col("id") < 50, lit(1)).otherwise(lit(2)).as("g"))
    part.write.mode("overwrite").partitionBy("g").parquet(table)
    part.write.mode("append").partitionBy("g").parquet(table)
    val hist = spark.read.parquet(table)
      .groupBy(col("g")).agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1))
    val expected = hist.max.toDouble / (hist.sum.toDouble / hist.length)
    val rep = graft.operators.Maintenance.run(spark, table,
      maxFilesPerDir = 64)
    assert(rep.family === "table" && !rep.compacted)
    assert(rep.leafDirs === 3 && rep.dataFilesBefore > 3,
      s"fixture must fragment: $rep")
    // exact equality: both sides are ratios of the same exact longs
    assert(rep.balanceMaxOverMean === expected,
      s"footer balance ${rep.balanceMaxOverMean} != scan $expected")
    val hfs2 = new Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs2.delete(new Path(table), true)
  }

  test("Maintenance.run with a ttl predicate — the complete ops cron " +
    "in one call: heal, retain (report-carried evidence incl. the " +
    "null-partition count), census; refused loudly on index families") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{col, when, lit}
    import graft.operators.{Dedup, Maintenance}
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"n_chars", $"source")
    // corpus table partitioned by a nullable source (src3 nulled)
    val table = tmp("maint-ttl-table").toString
    docs.withColumn("src", when(col("source") === "src3", lit(null))
        .otherwise(col("source")))
      .drop("source")
      .repartition(4, col("src"))
      .write.mode("overwrite").partitionBy("src").parquet(table)
    val hfs = new Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val doomedRows = spark.read.parquet(table)
      .where(col("src").cast("string").substr(4, 10).cast("int") >= 15)
      .count()
    val ledger = tmp("maint-ttl-ledger").toString
    val rep = Maintenance.run(spark, table, maxFilesPerDir = 64,
      ttl = Some(col("src").substr(4, 10).cast("int") >= 15),
      evidence = Some((ledger, 1L)))
    assert(rep.family === "table")
    assert(rep.ttlRowsDropped === doomedRows && rep.ttlDirsDropped === 5L)
    assert(rep.ttlNullLeavesRetained === 1L,
      "the window's report must carry the null-partition alert")
    assert(!hfs.exists(new Path(table, "src=src15")))
    assert(hfs.exists(new Path(table, "src=__HIVE_DEFAULT_PARTITION__")))
    assert(rep.leafDirs === 15L) // 19 named sources - 5 dropped + null
    assert(rep.ttlEvidenceRecorded,
      "the first window must report that it wrote the ledger line")
    // the sweep's evidence landed in the SAME ledger the takedown
    // streams write — one audit surface for both retention paths; the
    // lineage folds the TABLE in (r14: cron-<sha8(qualified path)>)
    val lin = graft.sinks.ComplianceLog.tableLineage(spark, table)
    assert(lin.startsWith("cron-") && lin.length === 5 + 16, lin)
    def ledgerRows() = graft.sinks.ComplianceLog.read(spark, ledger)
      .collect().map(r => (r.getString(0), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(ledgerRows() ===
      Seq(("ttl-sweep", lin, 1L, doomedRows, 5L)))
    // idempotent second window: sweep finds nothing, still reports the
    // retained null leaf; a RETRIED runId keeps the first run's
    // evidence instead of recording the retry's zeros — and the skip
    // is VISIBLE in the report, not a discarded boolean
    val rep2 = Maintenance.run(spark, table, maxFilesPerDir = 64,
      ttl = Some(col("src").substr(4, 10).cast("int") >= 15),
      evidence = Some((ledger, 1L)))
    assert(rep2.ttlRowsDropped === 0L && rep2.ttlDirsDropped === 0L)
    assert(rep2.ttlNullLeavesRetained === 1L)
    assert(!rep2.ttlEvidenceRecorded,
      "a retried runId must surface the preserved-evidence skip")
    assert(ledgerRows() ===
      Seq(("ttl-sweep", lin, 1L, doomedRows, 5L)))
    // evidence without a ttl logs nothing — refused, not silently dropped
    val errEv = intercept[IllegalArgumentException] {
      Maintenance.run(spark, table, evidence = Some((ledger, 2L)))
    }
    assert(errEv.getMessage.contains("would log nothing"))
    // a TTL on a stored index is refused loudly
    val lsh = tmp("maint-ttl-lsh").toString
    Dedup.writeBucketIndex(docs.select($"doc_id",
      $"source".as("text")), lsh, "text", "doc_id", parts = 4)
    val err = intercept[IllegalArgumentException] {
      Maintenance.run(spark, lsh, ttl = Some(col("bpart") >= 0))
    }
    assert(err.getMessage.contains("retention is a corpus-table policy"))
    // ...including the r14 SimHash family: its bands+parts sidecar
    // must keep detecting as a bucket-family INDEX (a field drift that
    // demoted it to "table" would let a TTL age out index shards)
    val sh = tmp("maint-ttl-simhash").toString
    Dedup.writeSimhashIndex(docs.select($"doc_id",
      $"source".as("text")), sh, "text", "doc_id", parts = 4)
    val errSh = intercept[IllegalArgumentException] {
      Maintenance.run(spark, sh, ttl = Some(col("bpart") >= 0))
    }
    assert(errSh.getMessage.contains("retention is a corpus-table policy"))
  }

  test("TTL evidence keying + crash protocol (r14): two tables sweep " +
    "into ONE ledger at the same runId without colliding, and a sweep " +
    "that crashed after its manifest commit completes under the NEXT " +
    "slot's window with the ORIGINAL counts — never zeros, never a " +
    "double-counted remainder") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{col, lit}
    import graft.sinks.ComplianceLog
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"n_chars", $"source".as("src"))
    val ledger = tmp("ttl-key-ledger").toString
    val hfs = new Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mkTable(name: String): String = {
      val t = tmp(name).toString
      docs.repartition(4, col("src"))
        .write.mode("overwrite").partitionBy("src").parquet(t)
      t
    }
    // --- collision fix: N tables, one ledger, SAME cron slot ---
    // driven through the multi-table entry point the keying exists for
    val (tA, tB) = (mkTable("ttl-key-a"), mkTable("ttl-key-b"))
    val pred = col("src").substr(4, 10).cast("int") >= 15
    val ttl = Some(pred)
    val reps = graft.operators.Maintenance.runAll(spark, Seq(tA, tB),
      maxFilesPerDir = 64, ttl = ttl,
      evidence = Some((ledger, 7L))).toMap
    val (repA, repB) = (reps(tA), reps(tB))
    assert(repA.ttlEvidenceRecorded && repB.ttlEvidenceRecorded,
      "both tables' windows must record their own line (r13: the " +
        "second silently collided)")
    val lines = ComplianceLog.read(spark, ledger).collect()
      .map(r => (r.getString(2), r.getLong(3), r.getLong(4))).toSet
    assert(lines === Set(
      (ComplianceLog.tableLineage(spark, tA), 7L, repA.ttlRowsDropped),
      (ComplianceLog.tableLineage(spark, tB), 7L, repB.ttlRowsDropped)))
    assert(repA.ttlRowsDropped > 0L, "fixture must have doomed rows")
    // --- crash protocol: manifest committed, everything after lost ---
    val tC = mkTable("ttl-key-c")
    val doomedRels = Seq("src=src15", "src=src16")
    val doomedRows = spark.read.parquet(tC)
      .where(col("src").isin("src15", "src16")).count()
    val linC = ComplianceLog.tableLineage(spark, tC)
    val node = graft.config.Sidecar.newNode()
    node.put("ledger", ledger)
    node.put("target", "ttl-sweep")
    node.put("table", tC)
    node.put("lineage", linC)
    node.put("batch", 3L)
    node.put("rows", doomedRows)
    node.put("dirs", 2L)
    val arr = node.putArray("doomed"); doomedRels.foreach(arr.add)
    graft.config.Sidecar.writeNode(spark,
      new Path(tC, "_graft_ttl_sweep.json"), node)
    // ledger heal from the window (r14): a STALE inflight (a crashed
    // append, mtime aged past the hour gate) is swept; a FRESH one (a
    // concurrent writer's live append) is spared — the window must
    // never kill a sibling's in-flight rename
    val staleInflight = new Path(ledger, ".inflight-crashed")
    val liveInflight = new Path(ledger, ".inflight-live")
    hfs.mkdirs(staleInflight); hfs.mkdirs(liveInflight)
    hfs.setTimes(staleInflight,
      System.currentTimeMillis() - 2L * 3600 * 1000, -1)
    // the NEXT cron slot runs a wider sweep (runId 4): recovery must
    // first complete runId 3 with ITS counts, then sweep what's left
    val rep4 = graft.operators.Maintenance.run(spark, tC,
      maxFilesPerDir = 64,
      ttl = Some(col("src").substr(4, 10).cast("int") >= 15),
      evidence = Some((ledger, 4L)))
    assert(!hfs.exists(staleInflight),
      "the window must sweep the ledger's crashed (stale) inflight")
    assert(hfs.exists(liveInflight),
      "the window must spare a concurrent writer's live inflight")
    assert(rep4.recoveryActions.exists(_.contains(".inflight-crashed")),
      rep4.recoveryActions.mkString(";"))
    hfs.delete(liveInflight, true)
    assert(!hfs.exists(new Path(tC, "_graft_ttl_sweep.json")))
    assert(!hfs.exists(new Path(tC, "src=src15")))
    val got = ComplianceLog.read(spark, ledger)
      .where(col("lineage") === lit(linC))
      .collect().map(r => (r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(_._1)
    // runId 3's line carries the manifest's full counts; runId 4's
    // line counts ONLY the remainder (src17/18/19) — no overlap
    assert(got(0) === ((3L, doomedRows, 2L)), got.mkString(","))
    assert(got(1)._1 === 4L && got(1)._3 === 3L, got.mkString(","))
    assert(rep4.ttlEvidenceRecorded)
    assert(got(1)._2 === rep4.ttlRowsDropped)
    // --- crash AFTER the ledger append: heal completes the deletes
    // without a duplicate or overwritten line ---
    val tD = mkTable("ttl-key-d")
    val linD = ComplianceLog.tableLineage(spark, tD)
    val rowsD = spark.read.parquet(tD)
      .where(col("src") === "src15").count()
    assert(ComplianceLog.append(spark, ledger, "ttl-sweep", tD, linD,
      9L, rowsD, 1L))
    val nodeD = graft.config.Sidecar.newNode()
    nodeD.put("ledger", ledger)
    nodeD.put("target", "ttl-sweep")
    nodeD.put("table", tD)
    nodeD.put("lineage", linD)
    nodeD.put("batch", 9L)
    nodeD.put("rows", rowsD)
    nodeD.put("dirs", 1L)
    val arrD = nodeD.putArray("doomed"); arrD.add("src=src15")
    graft.config.Sidecar.writeNode(spark,
      new Path(tD, "_graft_ttl_sweep.json"), nodeD)
    val healed = PartitionedSink.recoverTable(spark, tD)
    assert(healed.exists(_.contains("completed crashed ttl sweep")),
      healed.mkString(";"))
    assert(!hfs.exists(new Path(tD, "src=src15")))
    val dLines = ComplianceLog.read(spark, ledger)
      .where(col("lineage") === lit(linD)).collect()
    assert(dLines.length === 1 && dLines(0).getLong(4) === rowsD)
    // lineage canonicalization: every spelling of one table maps to
    // ONE key (else a differently-spelled cron config would fork the
    // idempotence namespace and re-record evidence), distinct tables
    // never collide, and the result is a valid plain ledger name
    val spellings = Seq(tA, s"$tA/", s"file:$tA", s"file://$tA")
      .map(ComplianceLog.tableLineage(spark, _))
    assert(spellings.distinct.size === 1, spellings.mkString(","))
    assert(ComplianceLog.tableLineage(spark, tB) !== spellings.head)
    assert(spellings.head.matches("cron-[0-9a-f]{16}"))
  }

  test("footer tail-magic dispatch: PAR1 reads fast, PARE (encrypted " +
    "footer) is detected for the key-aware fallback, garbage is " +
    "refused loudly") {
    import org.apache.hadoop.fs.Path
    import graft.operators.IndexCompact
    val dir = tmp("tail-magic").toString
    Seq((1L, "a")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t")
    val hfs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = hfs.listStatus(new Path(s"$dir/t"))
      .map(_.getPath).find(_.getName.startsWith("part-")).get
    val plen = hfs.getFileStatus(part).getLen
    assert(IndexCompact.tailMagic(hfs, part, plen) === "PAR1")
    assert(IndexCompact.footerRowCount(hfs, part, plen) === 1L)
    def fake(name: String, magic: String): (Path, Long) = {
      val p = new Path(dir, name)
      val out = hfs.create(p, true)
      out.write(("x" * 20 + magic).getBytes("US-ASCII"))
      out.close()
      (p, hfs.getFileStatus(p).getLen)
    }
    val (pe, le) = fake("enc.parquet", "PARE")
    assert(IndexCompact.tailMagic(hfs, pe, le) === "PARE")
    val err = intercept[IllegalArgumentException] {
      IndexCompact.footerRowCount(hfs, pe, le)
    }
    assert(err.getMessage.contains("PARE"), err.getMessage)
    val (pg, lg) = fake("junk.parquet", "WHAT")
    val err2 = intercept[IllegalArgumentException] {
      IndexCompact.footerRowCount(hfs, pg, lg)
    }
    assert(err2.getMessage.contains("WHAT"), err2.getMessage)
    // a footer length reaching into the 4-byte header magic (len-12 <
    // fLen <= len-8) is corrupt and must be refused BEFORE the thrift
    // parser sees it (r13 ADVICE): 20-byte file claiming a 12-byte
    // footer overlaps the leading PAR1
    val pc = new Path(dir, "overlap.parquet")
    val outc = hfs.create(pc, true)
    outc.write("PAR1".getBytes("US-ASCII"))
    outc.write(new Array[Byte](8))
    outc.write(java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(12).array())
    outc.write("PAR1".getBytes("US-ASCII"))
    outc.close()
    val err3 = intercept[IllegalArgumentException] {
      IndexCompact.footerRowCount(hfs, pc, hfs.getFileStatus(pc).getLen)
    }
    assert(err3.getMessage.contains("corrupt parquet footer length"),
      err3.getMessage)
    // the metadata helpers are total on a missing root (r13 ADVICE):
    // 0 rows / no leaves, not raw FileNotFoundException
    assert(IndexCompact.footerRowTotal(spark,
      s"$dir/never-written") === 0L)
  }

  test("Evidence compaction (r13): compactBefore folds only batches " +
    "past the caller's replay horizon, preserves every row and the " +
    "skip state of live batches, re-folds chains, and a crashed fold " +
    "rolls forward from its manifest") {
    import org.apache.hadoop.fs.Path
    import graft.sinks.{ComplianceLog, QuarantineStore}
    val log = tmp("evc-log").toString
    // two streams' evidence: lineage aaa batches 0..2, bbb 1/3/5
    for (b <- Seq(0L, 1L, 2L))
      assert(ComplianceLog.append(spark, log, "lsh", "t", "aaa", b,
        10 + b, 1 + b))
    for (b <- Seq(1L, 3L, 5L))
      assert(ComplianceLog.append(spark, log, "ann", "t", "bbb", b,
        20 + b, 2 + b))
    // a negative id would mis-parse at the name's last '-' and change
    // fold eligibility (r13 ADVICE): refused at the write
    val errNeg = intercept[IllegalArgumentException] {
      ComplianceLog.append(spark, log, "lsh", "t", "aaa", -5L, 1, 1)
    }
    assert(errNeg.getMessage.contains(">= 0"), errNeg.getMessage)
    val errNegQ = intercept[IllegalArgumentException] {
      QuarantineStore.append(spark, log, "aaa", -5L,
        spark.range(1).toDF())
    }
    assert(errNegQ.getMessage.contains(">= 0"), errNegQ.getMessage)
    def snapshot() = ComplianceLog.read(spark, log)
      .collect().map(r => (r.getString(0), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val before = snapshot()
    val hfs = new Path(log)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def finals() = hfs.listStatus(new Path(log)).map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).sorted
    assert(finals().length === 6)
    // fold everything the (caller-owned) horizon 4 has passed
    val (folded, rows) = ComplianceLog.compactBefore(spark, log, 4L)
    assert(folded === 5L && rows === 5L, s"($folded, $rows)")
    assert(finals() === Array("ann-bbb-5.parquet", "compacted-3.parquet"))
    assert(snapshot() === before, "every evidence row survives the fold")
    // skip state: live batches keep refusing replays; folded batches
    // deliberately DON'T — that is exactly why the horizon must be
    // past the writing stream's replay window
    assert(!ComplianceLog.append(spark, log, "ann", "t", "bbb", 5L, 0, 0))
    assert(ComplianceLog.append(spark, log, "lsh", "t", "aaa", 0L, 10, 1))
    // chain re-fold: a later horizon folds the earlier consolidation
    val (folded2, rows2) = ComplianceLog.compactBefore(spark, log, 6L)
    assert(folded2 === 3L && rows2 === 7L, s"($folded2, $rows2)")
    assert(finals() === Array("compacted-5.parquet"))
    assert(snapshot() === before, "chain re-fold preserves the rows")
    // crashed fold: reconstruct the exact post-commit-point state (a
    // manifest + complete inflight data, originals not yet deleted)
    // and assert recover rolls it forward deterministically
    assert(ComplianceLog.append(spark, log, "lsh", "t", "aaa", 7L, 70, 7))
    val doomed = Seq("compacted-5.parquet", "lsh-aaa-7.parquet")
    val inflight = new Path(log, ".inflight-compact")
    spark.read.schema(ComplianceLog.Schema)
      .parquet(doomed.map(n => new Path(log, n).toString): _*)
      .coalesce(1).write.mode("overwrite").parquet(inflight.toString)
    val node = graft.config.Sidecar.newNode()
    node.put("dest", "compacted-7.parquet")
    val arr = node.putArray("remove"); doomed.foreach(arr.add)
    graft.config.Sidecar.writeNode(spark,
      new Path(log, "_graft_compact.json"), node)
    val actions = ComplianceLog.recover(spark, log)
    assert(actions.exists(_.contains("rolled forward")), actions)
    assert(finals() === Array("compacted-7.parquet"))
    assert(snapshot() === before + (("lsh", "aaa", 7L, 70L, 7L)))
    assert(ComplianceLog.recover(spark, log) === Nil, "idempotent")
    // QuarantineStore shares the engine: fold two of three, rows
    // survive, reserved lineage refused
    import spark.implicits._
    val store = tmp("evc-store").toString
    for (b <- Seq(0L, 1L, 2L))
      assert(QuarantineStore.append(spark, store, "cafe", b,
        Seq((b, s"doc$b")).toDF("id", "why")))
    val (qf, qr) = QuarantineStore.compactBefore(spark, store, 2L)
    assert(qf === 2L && qr === 2L)
    assert(QuarantineStore.read(spark, store).get.count() === 3)
    val err = intercept[IllegalArgumentException] {
      QuarantineStore.append(spark, store, "compacted", 9L,
        Seq((9L, "x")).toDF("id", "why"))
    }
    assert(err.getMessage.contains("reserved"), err.getMessage)
  }

  test("ledger metadata calls on the driver are flat in the ledger's " +
    "file count: append, read, audit, fold and the post-fold read pay " +
    "the same driver LIST/HEAD counts at 8 and 32 files (an object " +
    "store charges each one a serial round trip)") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.sinks.ComplianceLog
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl",
      classOf[CountingLocalFs].getName)
    /** Per phase, (driver stats, driver lists) over a ledger of n files. */
    def driverCalls(n: Int): Seq[(String, (Long, Long))] = {
      val ledger = s"countfs:${tmp(s"ledger-calls-$n")}"
      for (b <- 0 until n)
        assert(ComplianceLog.append(spark, ledger, "takedown", "/t", "lin",
          b.toLong, 1L, 1L))
      val grid = spark.range(n + 1L)
        .select(lit("takedown").as("target"), col("id").as("batch_id"))
      def phase(name: String)(body: => Unit): (String, (Long, Long)) = {
        CountingLocalFs.stats.reset(); CountingLocalFs.lists.reset()
        body
        info(s"$n files, $name: stats ${CountingLocalFs.stats}, " +
          s"lists ${CountingLocalFs.lists}")
        name -> ((CountingLocalFs.stats.driver.get,
          CountingLocalFs.lists.driver.get))
      }
      Seq(
        phase("append") {
          assert(ComplianceLog.append(spark, ledger, "takedown", "/t", "lin",
            n.toLong, 1L, 1L))
        },
        phase("read") {
          assert(ComplianceLog.read(spark, ledger).count() === n + 1L)
        },
        phase("audit") {
          assert(ComplianceLog.audit(spark, ledger, grid)
            .where(col("recorded") === 0L).count() === 0L)
        },
        phase("fold") {
          assert(ComplianceLog.compactBefore(spark, ledger, n - 2L) ===
            ((n - 2L, n - 2L)))
        },
        phase("read after fold") {
          assert(ComplianceLog.read(spark, ledger).count() === n + 1L)
        })
    }
    val small = driverCalls(8)
    val large = driverCalls(32)
    assert(small === large, s"8 files: $small, 32 files: $large")
    assert(small.head._2._1 >= 1L,
      s"the append's exists-check is a HEAD: $small")
  }

  test("QuarantineStore schema pin (r14, r13 verdict item 3): the " +
    "first append pins the store's schema, an evolved batch is " +
    "refused loudly instead of mixing shapes under inference, and " +
    "the fold reads under the pin") {
    import graft.sinks.QuarantineStore
    import spark.implicits._
    val store = tmp("qs-pin").toString
    for (b <- Seq(0L, 1L, 2L))
      assert(QuarantineStore.append(spark, store, "cafe", b,
        Seq((b, s"doc$b", b * 10)).toDF("id", "why", "est")))
    // same shape, different column ORDER and nullability: accepted
    assert(QuarantineStore.append(spark, store, "cafe", 3L,
      Seq(("doc3", 3L, 30L)).toDF("why", "id", "est")))
    // an EVOLVED schema (added column) is the r13 hazard: refused
    val err = intercept[IllegalArgumentException] {
      QuarantineStore.append(spark, store, "cafe", 4L,
        Seq((4L, "doc4", 40L, 0.5)).toDF("id", "why", "est", "score"))
    }
    assert(err.getMessage.contains("pinned to schema"), err.getMessage)
    // ...and so is a retyped column
    val err2 = intercept[IllegalArgumentException] {
      QuarantineStore.append(spark, store, "cafe", 4L,
        Seq(("4", "doc4", 40L)).toDF("id", "why", "est"))
    }
    assert(err2.getMessage.contains("pinned to schema"), err2.getMessage)
    // the fold runs under the pin and the read-back is row-identical
    val before = QuarantineStore.read(spark, store).get
      .select($"id", $"why", $"est").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val (qf, qr) = QuarantineStore.compactBefore(spark, store, 3L)
    assert(qf === 3L && qr === 3L)
    val after = QuarantineStore.read(spark, store).get
    assert(after.select($"id", $"why", $"est").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      === before)
    // the pin survives the fold (it is an underscore sidecar, never
    // fold input) and keeps guarding post-fold appends
    val err3 = intercept[IllegalArgumentException] {
      QuarantineStore.append(spark, store, "cafe", 9L,
        Seq((9L, "x", 1L, 0.1)).toDF("id", "why", "est", "score"))
    }
    assert(err3.getMessage.contains("pinned to schema"), err3.getMessage)
  }

  test("QuarantineStore legacy migrate-on-touch (r15, r14 ADVICE): a " +
    "pre-pin store pins the schema its EXISTING files carry on first " +
    "touch — never the incoming batch's — so an evolved post-upgrade " +
    "append refuses loudly instead of enshrining the evolved shape " +
    "and nulling the legacy columns under read/fold") {
    import org.apache.hadoop.fs.Path
    import graft.sinks.QuarantineStore
    import spark.implicits._
    val hfs = new Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mkLegacy(name: String): String = {
      // a store written by a pre-pin library version: evidence files
      // present, no _graft_schema.json sidecar
      val st = tmp(name).toString
      for (b <- Seq(0L, 1L))
        assert(QuarantineStore.append(spark, st, "old", b,
          Seq((b, s"doc$b")).toDF("id", "why")))
      assert(hfs.delete(new Path(st, "_graft_schema.json"), false))
      st
    }
    // upgrade hazard: the first post-upgrade APPEND carries an evolved
    // shape — the pin must come from the legacy files and refuse it
    val s1 = mkLegacy("qs-legacy-append")
    val err = intercept[IllegalArgumentException] {
      QuarantineStore.append(spark, s1, "old", 2L,
        Seq((2L, "doc2", 0.5)).toDF("id", "why", "score"))
    }
    assert(err.getMessage.contains("pinned to schema"), err.getMessage)
    assert(hfs.exists(new Path(s1, "_graft_schema.json")),
      "the refused append must still have pinned the LEGACY schema")
    // a matching append proceeds under the migrated pin
    assert(QuarantineStore.append(spark, s1, "old", 2L,
      Seq((2L, "doc2")).toDF("id", "why")))
    // a READ of a legacy store is governed by the files' own shape
    // but stays a PURE read (an auditor with read-only credentials
    // must be able to read a legacy store) — only a later WRITE-path
    // touch persists the pin
    val s2 = mkLegacy("qs-legacy-read")
    val got = QuarantineStore.read(spark, s2).get
    assert(got.columns.toSet === Set("id", "why") && got.count() === 2)
    assert(!hfs.exists(new Path(s2, "_graft_schema.json")),
      "read must not acquire a write side-effect")
    assert(QuarantineStore.append(spark, s2, "old", 2L,
      Seq((2L, "doc2")).toDF("id", "why")))
    assert(hfs.exists(new Path(s2, "_graft_schema.json")),
      "the first write-path touch migrates the pin")
    // first FOLD of a legacy store runs under the migrated pin and
    // round-trips the rows
    val s3 = mkLegacy("qs-legacy-fold")
    val (ff, fr) = QuarantineStore.compactBefore(spark, s3, 2L)
    assert(ff === 2L && fr === 2L)
    assert(QuarantineStore.read(spark, s3).get.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((0L, "doc0"), (1L, "doc1")))
  }

  test("Maintenance.runAll parallelism (r15, r14 verdict item 2): two " +
    "tables swept in PARALLEL into one shared ledger at one runId " +
    "record two distinct evidence lines and return reports in paths " +
    "order — the measured 1.8x win is safe to opt into") {
    import org.apache.spark.sql.functions.col
    import graft.sinks.ComplianceLog
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"n_chars", $"source".as("src"))
    val ledger = tmp("runall-par-ledger").toString
    def mkTable(name: String): String = {
      val t = tmp(name).toString
      docs.repartition(4, col("src"))
        .write.mode("overwrite").partitionBy("src").parquet(t)
      t
    }
    val (tA, tB) = (mkTable("runall-par-a"), mkTable("runall-par-b"))
    val pred = col("src").substr(4, 10).cast("int") >= 15
    val reps = graft.operators.Maintenance.runAll(spark, Seq(tA, tB),
      maxFilesPerDir = 64, ttl = Some(pred),
      evidence = Some((ledger, 11L)), parallelism = 2)
    assert(reps.map(_._1) === Seq(tA, tB),
      "parallel results must come back in paths order")
    val byPath = reps.toMap
    assert(byPath(tA).ttlEvidenceRecorded && byPath(tB).ttlEvidenceRecorded)
    assert(byPath(tA).ttlRowsDropped > 0L)
    val lines = ComplianceLog.read(spark, ledger).collect()
      .map(r => (r.getString(2), r.getLong(3), r.getLong(4))).toSet
    assert(lines === Set(
      (ComplianceLog.tableLineage(spark, tA), 11L,
        byPath(tA).ttlRowsDropped),
      (ComplianceLog.tableLineage(spark, tB), 11L,
        byPath(tB).ttlRowsDropped)))
    // the aggregate audit sees ONE row for the shared cell with the
    // lineage-line count and summed counts (r14 ADVICE: the fan-out)
    val cell = ComplianceLog.audit(spark, ledger,
      Seq(("ttl-sweep", 11L)).toDF("target", "batch_id")).collect()
    assert(cell.length === 1)
    assert(cell(0).getLong(2) === 2L, "recorded = covering-line count")
    assert(cell(0).getLong(3) ===
      byPath(tA).ttlRowsDropped + byPath(tB).ttlRowsDropped)
  }

  test("inflight age gate reads the writer-stamped epoch, not dir " +
    "mtime (r15, r14 ADVICE): a fresh-named inflight with a ZERO " +
    "mtime (object-store shape) is spared by the shared heal, a " +
    "stale-named one with a fresh mtime is swept") {
    import org.apache.hadoop.fs.Path
    import graft.sinks.ComplianceLog
    val ledger = tmp("inflight-epoch-ledger").toString
    assert(ComplianceLog.append(spark, ledger, "t", "/x", "lin", 0L,
      1L, 1L))
    val hfs = new Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val now = System.currentTimeMillis()
    // live writer on a store whose dir mtime reads 0: the name says
    // seconds old — must survive the hour-gated heal
    val live = new Path(ledger, s".inflight-ts$now-t-lin-5.parquet")
    hfs.mkdirs(live)
    hfs.setTimes(live, 0L, -1)
    // crashed writer from 2h ago whose dir mtime got refreshed (a
    // listing/touch): the name says ancient — must be swept
    val crashed = new Path(ledger,
      s".inflight-ts${now - 2L * 3600 * 1000}-t-lin-6.parquet")
    hfs.mkdirs(crashed)
    // the r15 ADVICE ambiguity, pinned in BOTH directions: a name
    // WITHOUT the `ts` marker ages by MTIME even when it leads with a
    // plausible epoch digit run — a legacy target/lineage that merely
    // starts with 12 digits must not parse as a ~2001 stamp and get a
    // live writer's inflight swept...
    val digitLed = new Path(ledger,
      s".inflight-${now - 9L * 3600 * 1000}-fresh.parquet")
    hfs.mkdirs(digitLed) // fresh mtime, ancient-looking digits: spared
    // ...and an unstamped name with a genuinely stale mtime is swept
    val unstampedStale = new Path(ledger, ".inflight-legacy-crashed")
    hfs.mkdirs(unstampedStale)
    hfs.setTimes(unstampedStale,
      now - 2L * 3600 * 1000, -1)
    ComplianceLog.healShared(spark, ledger)
    assert(hfs.exists(live),
      "heal must trust the fresh name epoch over the zero mtime")
    assert(!hfs.exists(crashed),
      "heal must sweep the stale name epoch despite the fresh mtime")
    assert(hfs.exists(digitLed),
      "a bare digit run without the ts marker is a NAME, not a stamp")
    assert(!hfs.exists(unstampedStale),
      "an unstamped name with a stale mtime is swept")
    // explicit recover (single-writer window) still sweeps everything
    ComplianceLog.recover(spark, ledger)
    assert(!hfs.exists(live))
    assert(!hfs.exists(digitLed))
  }

  test("concurrent heals of one crashed fold are loss-free (r15 " +
    "self-review): runAll(parallelism>1) points N windows' healShared " +
    "at ONE shared ledger — without per-store serialization, healer B " +
    "can delete healer A's freshly-renamed consolidation and then " +
    "fail its own rename, losing the folded evidence with the " +
    "originals already gone") {
    import org.apache.hadoop.fs.Path
    import graft.sinks.ComplianceLog
    val ledger = tmp("conc-heal-ledger").toString
    for (b <- 0L until 5L)
      assert(ComplianceLog.append(spark, ledger, "t", "/x", "lin", b,
        b + 1, 1L))
    val snapshot = ComplianceLog.read(spark, ledger).collect()
      .map(r => (r.getLong(3), r.getLong(4))).toSet
    // reconstruct the exact post-commit-point fold crash: complete
    // inflight data + manifest, originals not yet deleted
    val doomed = (0L until 4L).map(b => s"t-lin-$b.parquet")
    val inflight = new Path(ledger, ".inflight-compact")
    spark.read.schema(ComplianceLog.Schema)
      .parquet(doomed.map(n => new Path(ledger, n).toString): _*)
      .coalesce(1).write.mode("overwrite").parquet(inflight.toString)
    val node = graft.config.Sidecar.newNode()
    node.put("dest", "compacted-3.parquet")
    val arr = node.putArray("remove"); doomed.foreach(arr.add)
    graft.config.Sidecar.writeNode(spark,
      new Path(ledger, "_graft_compact.json"), node)
    // eight healers race the roll-forward
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 8).map { i =>
      val th = new Thread(() =>
        try ComplianceLog.healShared(spark, ledger): Unit
        catch { case e: Throwable => errs.add(e): Unit },
        s"conc-heal-$i")
      th.start(); th
    }
    threads.foreach(_.join())
    assert(errs.isEmpty, s"a racing healer threw: ${errs.peek()}")
    val hfs = new Path(ledger)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(hfs.exists(new Path(ledger, "compacted-3.parquet")),
      "the consolidation must survive every interleaving")
    assert(ComplianceLog.read(spark, ledger).collect()
      .map(r => (r.getLong(3), r.getLong(4))).toSet === snapshot,
      "every evidence row survives the racing heals")
    assert(ComplianceLog.recover(spark, ledger) === Nil, "idempotent")
  }

  test("cross-JVM fold lease (r16, r15 verdict item 1): a FRESH " +
    "foreign lease makes fold and roll-forward refuse loudly (the " +
    "cross-process interleave the in-JVM monitor cannot see), a STALE " +
    "lease is taken over, and a completed window releases its own") {
    import org.apache.hadoop.fs.Path
    import graft.sinks.ComplianceLog
    val ledger = tmp("fold-lease-ledger").toString
    for (b <- 0L until 5L)
      assert(ComplianceLog.append(spark, ledger, "t", "/x", "lin", b,
        b + 1, 1L))
    val hfs = new Path(ledger)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leaseP = new Path(ledger, "_graft_fold_lease.json")
    def writeLease(ageMs: Long): Unit = {
      val node = graft.config.Sidecar.newNode()
      node.put("owner", "other-jvm")
      node.put("epochMs", System.currentTimeMillis() - ageMs)
      graft.config.Sidecar.writeNode(spark, leaseP, node)
    }
    // --- a fresh foreign lease (another host's cron, mid-fold):
    // compactBefore must refuse without touching the store
    writeLease(ageMs = 0L)
    val before = ComplianceLog.read(spark, ledger).collect()
      .map(r => (r.getLong(3), r.getLong(4))).toSet
    val e1 = intercept[IllegalStateException] {
      ComplianceLog.compactBefore(spark, ledger, 4L)
    }
    assert(e1.getMessage.contains("holds the evidence-store fold lease"),
      e1.getMessage)
    assert(ComplianceLog.read(spark, ledger).collect()
      .map(r => (r.getLong(3), r.getLong(4))).toSet === before,
      "a refused fold must leave the store untouched")
    // --- the same refusal guards a WORKING recover: reconstruct the
    // post-commit-point crash state (manifest + complete inflight) —
    // the exact state where an interleaved second healer can lose the
    // consolidation — and assert recover refuses while the foreign
    // lease is fresh, leaving the crash state intact for the holder
    val doomed = (0L until 4L).map(b => s"t-lin-$b.parquet")
    val inflight = new Path(ledger, ".inflight-compact")
    spark.read.schema(ComplianceLog.Schema)
      .parquet(doomed.map(n => new Path(ledger, n).toString): _*)
      .coalesce(1).write.mode("overwrite").parquet(inflight.toString)
    val node = graft.config.Sidecar.newNode()
    node.put("dest", "compacted-3.parquet")
    val arr = node.putArray("remove"); doomed.foreach(arr.add)
    graft.config.Sidecar.writeNode(spark,
      new Path(ledger, "_graft_compact.json"), node)
    val e2 = intercept[IllegalStateException] {
      ComplianceLog.recover(spark, ledger)
    }
    assert(e2.getMessage.contains("holds the evidence-store fold lease"),
      e2.getMessage)
    assert(hfs.exists(new Path(ledger, "_graft_compact.json")) &&
      hfs.exists(inflight) &&
      doomed.forall(n => hfs.exists(new Path(ledger, n))),
      "a refused recover must leave the crash state intact")
    // ...but the SHARED heal (what N sibling crons run every slot)
    // DEFERS to the holder instead of failing the whole maintenance
    // slot: the holder's roll-forward is the heal
    val deferred = ComplianceLog.healShared(spark, ledger)
    assert(deferred.exists(_.contains("deferred crashed-fold heal")),
      deferred.mkString(";"))
    assert(hfs.exists(new Path(ledger, "_graft_compact.json")),
      "a deferring heal must leave the holder's crash state alone")
    // --- the holder crashed: once the lease ages past the stale
    // bound, the next healer takes it over, rolls the fold forward,
    // and releases — the lease never wedges a dead cron's ledger
    writeLease(ageMs = 16L * 60 * 1000)
    val actions = ComplianceLog.recover(spark, ledger)
    assert(actions.exists(_.contains("rolled forward")), actions)
    assert(hfs.exists(new Path(ledger, "compacted-3.parquet")))
    assert(!hfs.exists(leaseP),
      "a completed window must release the lease it took over")
    assert(ComplianceLog.read(spark, ledger).collect()
      .map(r => (r.getLong(3), r.getLong(4))).toSet === before,
      "takeover roll-forward preserves every evidence row")
    // --- and a plain healthy-path fold under no contention still
    // acquires and releases transparently
    assert(ComplianceLog.append(spark, ledger, "t", "/x", "lin", 9L,
      9L, 1L))
    val (ff, _) = ComplianceLog.compactBefore(spark, ledger, 9L)
    assert(ff === 2L)
    assert(!hfs.exists(leaseP), "the lease must not outlive the fold")
  }

  test("stale-lease takeover is single-winner under CONCURRENT " +
    "takers (r16 self-review): the claim is a rename-aside + content " +
    "check, so two healers racing one crashed fold's stale lease " +
    "through aliased store spellings (distinct in-JVM monitors — the " +
    "cross-process shape) never both mutate; the consolidation and " +
    "every evidence row survive") {
    import org.apache.hadoop.fs.Path
    import graft.sinks.ComplianceLog
    val real = tmp("tko-ledger")
    val ledger = real.toString
    for (b <- 0L until 5L)
      assert(ComplianceLog.append(spark, ledger, "t", "/x", "lin", b,
        b + 1, 1L))
    val snapshot = ComplianceLog.read(spark, ledger).collect()
      .map(r => (r.getLong(3), r.getLong(4))).toSet
    val hfs = new Path(ledger)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crashed fold state: manifest + complete inflight + the crashed
    // holder's STALE lease (what a kill -9 mid-fold really leaves)
    val doomed = (0L until 4L).map(b => s"t-lin-$b.parquet")
    spark.read.schema(ComplianceLog.Schema)
      .parquet(doomed.map(n => new Path(ledger, n).toString): _*)
      .coalesce(1).write.mode("overwrite")
      .parquet(new Path(ledger, ".inflight-compact").toString)
    val node = graft.config.Sidecar.newNode()
    node.put("dest", "compacted-3.parquet")
    val arr = node.putArray("remove"); doomed.foreach(arr.add)
    graft.config.Sidecar.writeNode(spark,
      new Path(ledger, "_graft_compact.json"), node)
    val stale = graft.config.Sidecar.newNode()
    stale.put("owner", "dead-cron")
    stale.put("epochMs", System.currentTimeMillis() - 16L * 60 * 1000)
    graft.config.Sidecar.writeNode(spark,
      new Path(ledger, "_graft_fold_lease.json"), stale)
    // aliased spellings of ONE store: symlinks defeat the qualified-
    // path monitor key, so the healers really race the on-disk lease
    // protocol — the closest a single JVM gets to two processes
    val aliases = (0 until 4).map { i =>
      val link = java.nio.file.Paths.get(s"$ledger-alias-$i")
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(link, real)
      link.toString
    }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val threads = aliases.map { spelling =>
      val th = new Thread(() =>
        try outcomes.add(
          ComplianceLog.healShared(spark, spelling).mkString(";")): Unit
        catch { case e: Throwable => errs.add(e): Unit },
        s"tko-$spelling")
      th.start(); th
    }
    threads.foreach(_.join())
    assert(errs.isEmpty,
      s"healShared must defer, never throw: ${errs.peek()}")
    import scala.jdk.CollectionConverters._
    val logs = outcomes.asScala.toSeq
    // AT MOST one healer mutates in the contended pass (two would be
    // the interleave); ZERO is legal — mistaken-claim restores can
    // abort every contender, and the next slot completes the heal
    assert(logs.count(_.contains("rolled forward")) <= 1,
      s"at most one winner may mutate: $logs")
    // every row survives the race in EVERY outcome: either the
    // consolidation landed or the full crash state is intact
    assert(ComplianceLog.read(spark, ledger).collect()
      .map(r => (r.getLong(3), r.getLong(4))).toSet === snapshot,
      "every evidence row survives the takeover race")
    // the next slot (lease aged past the stale bound — rewrite it
    // backdated rather than sleep 15 min) completes deterministically
    if (hfs.exists(new Path(ledger, "_graft_fold_lease.json")))
      writeLease2(ledger, ageMs = 16L * 60 * 1000)
    ComplianceLog.healShared(spark, ledger)
    assert(hfs.exists(new Path(ledger, "compacted-3.parquet")),
      "the follow-up slot must land the consolidation")
    assert(ComplianceLog.read(spark, ledger).collect()
      .map(r => (r.getLong(3), r.getLong(4))).toSet === snapshot,
      "every evidence row survives the completed heal")
    assert(!hfs.exists(new Path(ledger, "_graft_fold_lease.json")),
      "the completing healer releases its lease")
    assert(ComplianceLog.recover(spark, ledger) === Nil, "idempotent")
    aliases.foreach(a =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(a)))
  }

  private def writeLease2(ledger: String, ageMs: Long): Unit = {
    val node = graft.config.Sidecar.newNode()
    node.put("owner", "orphaned-cron")
    node.put("epochMs", System.currentTimeMillis() - ageMs)
    graft.config.Sidecar.writeNode(spark,
      new org.apache.hadoop.fs.Path(ledger, "_graft_fold_lease.json"),
      node)
  }

  test("runAll surfaces EVERY failing table (r16, r15 verdict item " +
    "5): the first failure by input position is thrown, the sibling " +
    "rides along as a suppressed exception instead of forcing a " +
    "rerun to discover it") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.col
    // two index-family dirs (hand-pinned sidecars — detectFamily
    // reads fields, not data): a TTL on an index is runAll's loudest
    // per-table refusal, and the two families give the two failures
    // distinguishable messages
    val lshDir = tmp("runall-fail-lsh").toString
    val lshNode = graft.config.Sidecar.newNode()
    lshNode.put("bands", 16); lshNode.put("parts", 8)
    graft.config.Sidecar.write(spark, lshDir, lshNode)
    val ivfDir = tmp("runall-fail-ivf").toString
    val ivfNode = graft.config.Sidecar.newNode()
    graft.config.Sidecar.putDoubles2(ivfNode, "coarse",
      Seq(Seq(0.0, 1.0)))
    graft.config.Sidecar.putDoubles3(ivfNode, "codebooks",
      Seq(Seq(Seq(0.0, 1.0))))
    graft.config.Sidecar.write(spark, ivfDir, ivfNode)
    val err = intercept[IllegalArgumentException] {
      graft.operators.Maintenance.runAll(spark, Seq(lshDir, ivfDir),
        ttl = Some(col("p") < 5), parallelism = 2)
    }
    assert(err.getMessage.contains("lsh-bucket"),
      s"primary must be the FIRST failing table by input position: " +
        err.getMessage)
    val sup = err.getSuppressed
    assert(sup.length === 1 && sup(0).getMessage.contains("ivfpq"),
      s"the sibling failure must ride along suppressed, got " +
        s"${sup.length}: ${sup.map(_.getMessage).mkString(" | ")}")
    val p = new Path(lshDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true)
  }

  test("runAll ledgerFoldHorizon (r16, r15 verdict item 4): one cron " +
    "slot sweeps N tables, folds the ledger's replay-passed names, " +
    "and the audit reads back bit-identically across the fold") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.col
    import graft.sinks.ComplianceLog
    val ledger = tmp("runall-fold-ledger").toString
    // six slots of history from earlier crons (batch ids 0..5)
    for (b <- 0L until 6L)
      assert(ComplianceLog.append(spark, ledger, "ttl-sweep", "/old",
        "lin-old", b, b + 10, 1L))
    val tbls = Seq("a", "b").map { tag =>
      val tbl = tmp(s"runall-fold-$tag").toString
      spark.range(40)
        .select(col("id"), (col("id") % 4).cast("int").as("p"))
        .repartition(4, col("p"))
        .write.mode("overwrite").partitionBy("p").parquet(tbl)
      tbl
    }
    val grid = {
      import spark.implicits._
      (Seq(("ttl-sweep", 9L)) ++ (0L until 6L).map(("ttl-sweep", _)))
        .toDF("target", "batch_id")
    }
    val auditBefore = ComplianceLog.audit(spark, ledger.toString,
      grid.where(col("batch_id") < 6L)).collect().toSet
    // the slot: sweep both tables (runId 9), then fold ids < 4
    val reps = graft.operators.Maintenance.runAll(spark, tbls,
      maxFilesPerDir = 64, ttl = Some(col("p") >= 2),
      evidence = Some((ledger, 9L)), parallelism = 2,
      ledgerFoldHorizon = Some(4L))
    assert(reps.forall(_._2.ttlEvidenceRecorded))
    val hfs = new Path(ledger)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val finals = hfs.listStatus(new Path(ledger)).map(_.getPath.getName)
      .filter(n => !n.startsWith(".") && !n.startsWith("_")).sorted
    // 0..3 folded into compacted-3; 4, 5 and the slot's two
    // lineage-keyed lines keep their names
    assert(finals.count(_ startsWith "compacted-") === 1, finals.toSeq)
    assert(finals.length === 5, finals.toSeq)
    // the fold is maintenance, never semantics: the historical cells
    // audit bit-identically, and the slot's multi-lineage cell is
    // exact (two tables, 2 × 20 rows each with p in {2,3}, 2 dirs)
    val auditAfter = ComplianceLog.audit(spark, ledger,
      grid.where(col("batch_id") < 6L)).collect().toSet
    assert(auditAfter === auditBefore,
      "historical audit cells must be identical across the fold")
    val slotCell = ComplianceLog.audit(spark, ledger, grid)
      .where(col("batch_id") === 9L).collect()
    assert(slotCell.length === 1)
    assert(slotCell(0).getLong(2) === 2L &&
      slotCell(0).getLong(3) === 40L && slotCell(0).getLong(4) === 4L,
      slotCell.mkString(","))
    // the knob without a ledger is a loud misuse, not a silent no-op
    val err = intercept[IllegalArgumentException] {
      graft.operators.Maintenance.runAll(spark, tbls,
        ledgerFoldHorizon = Some(1L))
    }
    assert(err.getMessage.contains("ledgerFoldHorizon"), err.getMessage)
    // ...and so is a horizon above the slot's own runId: it would
    // fold the slot's just-written evidence names — the replay-skip
    // state a retried slot needs (r16 self-review)
    val err2 = intercept[IllegalArgumentException] {
      graft.operators.Maintenance.runAll(spark, tbls,
        ttl = Some(col("p") >= 2), evidence = Some((ledger, 9L)),
        ledgerFoldHorizon = Some(10L))
    }
    assert(err2.getMessage.contains("runId"), err2.getMessage)
    for (path <- tbls :+ ledger) {
      val p = new Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }

  test("ComplianceLog — all three takedown streams share ONE auditable " +
    "ledger: per-batch evidence lines match the callbacks, a replayed " +
    "append preserves the original counts, crashed inflight dirs " +
    "sweep cleanly, and an absent ledger reads as zero rows " +
    "(r12 stretch item 8)") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import graft.operators.{Dedup, Similarity}
    import graft.sinks.ComplianceLog
    import graft.streaming.Streaming
    implicit val sqlCtx = spark.sqlContext
    val log = tmp("compliance-log").toString
    // absent/empty ledger is a report, not a crash
    assert(ComplianceLog.read(spark, log + "/nowhere").count() === 0L)

    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")

    // three targets, one ledger
    val lsh = tmp("cl-lsh").toString
    Dedup.writeBucketIndex(docs, lsh, "text", "doc_id", parts = 8)
    val ann = tmp("cl-ann").toString
    Similarity.writeIvfPqIndex(emb, ann, "vec_id", "embedding",
      dim = 64, m = 4, kCodes = 8, rounds = 1, nlist = 8)
    val corpus = tmp("cl-corpus").toString
    docs.withColumn("lang", (col("doc_id") % 3).cast("string"))
      .repartition(3, col("lang"))
      .write.mode("overwrite").partitionBy("lang").parquet(corpus)

    val seen = scala.collection.mutable
      .Map.empty[(String, Long), (Long, Long)]
    def ids(m: Int, r: Int) = docs.filter($"doc_id" % m === r)
      .select("doc_id").collect().map(_.getLong(0)).toSeq

    val memL = MemoryStream[Long]
    val qL = Streaming.takedownMaintenanceStream(
      memL.toDF().toDF("doc_id"), lsh, tmp("cl-lsh-cp").toString,
      complianceLog = Some(log)) { (r, d, id) =>
      seen(("lsh-index", id)) = (r, d)
    }
    memL.addData(ids(10, 1): _*); qL.processAllAvailable()
    memL.addData(ids(10, 2): _*); qL.processAllAvailable()
    qL.stop()

    val memA = MemoryStream[Long]
    val qA = Streaming.annTakedownStream(
      memA.toDF().toDF("vec_id"), ann, tmp("cl-ann-cp").toString,
      complianceLog = Some(log)) { (r, d, id) =>
      seen(("ann-index", id)) = (r, d)
    }
    memA.addData(0L to 30L: _*); qA.processAllAvailable()
    memA.addData(100L to 120L: _*); qA.processAllAvailable()
    qA.stop()

    val memC = MemoryStream[Long]
    val qC = Streaming.corpusTakedownStream(
      memC.toDF().toDF("doc_id"), corpus, "doc_id",
      tmp("cl-corpus-cp").toString, complianceLog = Some(log)) {
      (r, d, id) => seen(("corpus", id)) = (r, d)
    }
    memC.addData(ids(10, 3): _*); qC.processAllAvailable()
    memC.addData(ids(10, 4): _*); qC.processAllAvailable()
    qC.stop()

    // the ledger holds exactly the six evidence lines, matching the
    // callbacks line for line, with real deletions recorded
    val back = ComplianceLog.read(spark, log)
      .select("target", "batch_id", "rows_deleted", "dirs_rewritten",
        "table_path")
      .collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(back.size === 6, s"ledger lines: ${back.keys}")
    assert(back.keySet === seen.keySet.toSet)
    for ((k, (r, d)) <- seen) assert(back(k)._1 === r && back(k)._2 === d)
    assert(seen.values.forall(_._1 > 0L), s"fixture must delete rows: $seen")
    assert(back(("lsh-index", 0L))._3 === lsh)
    assert(back(("corpus", 1L))._3 === corpus)

    // replay: same (target, lineage, batchId) key preserves the
    // ORIGINAL evidence — the replay's zeros never clobber it
    val lineages = ComplianceLog.read(spark, log)
      .select("target", "lineage").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(!ComplianceLog.append(spark, log, "lsh-index", lsh,
      lineages("lsh-index"), 0L, 0L, 0L))
    assert(ComplianceLog.read(spark, log).count() === 6L)
    val after = ComplianceLog.read(spark, log)
      .where(col("target") === "lsh-index" && col("batch_id") === 0L)
      .select("rows_deleted").collect().map(_.getLong(0)).toSeq
    assert(after === Seq(seen(("lsh-index", 0L))._1))

    // crashed inflight dirs sweep without touching committed evidence
    val hfs = new Path(log)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.mkdirs(new Path(log, ".inflight-corpus-dead-7.parquet"))
    val swept = ComplianceLog.recover(spark, log)
    assert(swept === Seq(".inflight-corpus-dead-7.parquet"))
    assert(ComplianceLog.read(spark, log).count() === 6L)

    // the audit query a deployment actually runs: per-target totals
    val totals = ComplianceLog.read(spark, log)
      .groupBy(col("target"))
      .agg(org.apache.spark.sql.functions.sum(col("rows_deleted"))
        .as("rows"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(totals.keySet === Set("lsh-index", "ann-index", "corpus"))
    for ((t, n) <- totals)
      assert(n === seen.filter(_._1._1 == t).values.map(_._1).sum,
        s"target $t")
  }

  test("table-maintenance lease (r16 second wave): the swap engine, " +
    "the TTL sweep, and the whole cron window hold a SIBLING " +
    "single-writer lease — a fresh foreign lease refuses every entry " +
    "point with the table untouched, a stale one is taken over, the " +
    "sibling placement survives the whole-root swap, and nested " +
    "protocol steps re-enter their caller's frame") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val dir = tmp("maint-lease").toString
    val table = s"$dir/corpus"
    Seq((1L, "a", "x"), (2L, "a", "y"), (3L, "b", "x"), (4L, "b", "y"))
      .toDF("id", "src", "v")
      .write.partitionBy("src").parquet(table)
    val root = new Path(table)
    val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leaseP = new Path(root.getParent,
      root.getName + ".maintenance_lease.json")
    def writeForeign(ageMs: Long): Unit = {
      val node = graft.config.Sidecar.newNode()
      node.put("owner", "other-jvm")
      node.put("epochMs", System.currentTimeMillis() - ageMs)
      graft.config.Sidecar.writeNode(spark, leaseP, node)
    }
    // --- a fresh foreign lease (another host's cron, mid-window):
    // the TTL sweep, the partition takedown, and the whole cron
    // window each refuse loudly before mutating anything
    writeForeign(ageMs = 0L)
    val e1 = intercept[IllegalStateException] {
      graft.sinks.PartitionedSink.dropPartitionsWhere(spark, table,
        org.apache.spark.sql.functions.col("src") === "a")
    }
    assert(e1.getMessage.contains("holds the table-maintenance lease"),
      e1.getMessage)
    val e2 = intercept[IllegalStateException] {
      graft.sinks.PartitionedSink.deletePartitionRowsByKey(spark,
        table, "id", Seq(1L).toDF("id"))
    }
    assert(e2.getMessage.contains("holds the table-maintenance lease"),
      e2.getMessage)
    val e3 = intercept[IllegalStateException] {
      graft.operators.Maintenance.run(spark, table)
    }
    assert(e3.getMessage.contains("holds the table-maintenance lease"),
      e3.getMessage)
    assert(spark.read.parquet(table).count() === 4L,
      "refused windows must leave the table untouched")
    // --- the holder crashed: a stale lease is taken over, the window
    // completes (sweep drops src=a) and releases
    writeForeign(ageMs = 16L * 60 * 1000)
    val (rows, dirs, _) = graft.sinks.PartitionedSink
      .dropPartitionsWhere(spark, table,
        org.apache.spark.sql.functions.col("src") === "a")
    assert((rows, dirs) === ((2L, 1L)))
    assert(!hfs.exists(leaseP),
      "a completed window releases the lease it took over")
    // --- whole-root swap: the SIBLING placement means the lease file
    // does NOT travel with deleteRowsByKey's root renames (an in-root
    // lease would end up inside .rowdelete_old and vanish mid-window)
    val n = graft.sinks.PartitionedSink.deleteRowsByKey(spark, table,
      "id", Seq(3L).toDF("id"))
    assert(n === 1L)
    assert(!hfs.exists(leaseP))
    assert(spark.read.parquet(table).select("id").as[Long]
      .collect().toSet === Set(4L))
    // --- reentrancy is structural: nested frames on one thread share
    // ONE handle, the inner exit does not release, the outermost does
    graft.sinks.EvidenceCompaction.withMaintenanceLease(spark, root) {
      h1 =>
      graft.sinks.EvidenceCompaction.withMaintenanceLease(spark, root) {
        h2 => assert(h1 eq h2, "nested frame must re-enter the handle")
      }
      h1.reassert() // the inner frame's exit must NOT have released
      assert(hfs.exists(leaseP), "held across the inner frame's exit")
    }
    assert(!hfs.exists(leaseP), "the outermost frame releases")
  }

  test("table-maintenance lease under CONCURRENT windows (r16 second " +
    "wave): N TTL sweeps racing one table drop the doomed partition " +
    "EXACTLY once — later serialized sweeps see the swept tree and " +
    "report zeros, losers refuse loudly on the on-disk lease, and " +
    "the surviving rows are exact under every interleaving") {
    import spark.implicits._
    val table = tmp("race-table").toString + "/t"
    (1L to 40L).map(i =>
        (i, if (i % 4 == 0) "old" else "keep" + (i % 3), "v" + i))
      .toDF("id", "src", "v").write.partitionBy("src").parquet(table)
    val expectSurvivors = (1L to 40L).filterNot(_ % 4 == 0).toSet
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val wins =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    val threads = (0 until 4).map { i =>
      val th = new Thread(() =>
        try {
          val (r, d, _) = graft.sinks.PartitionedSink
            .dropPartitionsWhere(spark, table,
              org.apache.spark.sql.functions.col("src") === "old")
          wins.add((r, d)): Unit
        } catch {
          case e: IllegalStateException
              if e.getMessage.contains("table-maintenance lease") =>
            () // loser: refused loudly before touching anything
          case e: Throwable => errs.add(e): Unit
        }, s"sweep-$i")
      th.start(); th
    }
    threads.foreach(_.join())
    assert(errs.isEmpty,
      s"only lease refusals are legal under contention: ${errs.peek()}")
    import scala.jdk.CollectionConverters._
    val results = wins.asScala.toSeq
    // the lease serializes the whole window (census + count + delete),
    // so the doomed partition's (rows, dirs) are counted EXACTLY once
    // across however many sweeps completed; the rest see the already-
    // swept tree and report zeros — a double-count here would be the
    // cross-window interleave the lease exists to prevent
    assert(results.nonEmpty,
      "the first acquirer runs unopposed and must complete")
    assert(results.count(_ == ((10L, 1L))) === 1, results.toString)
    assert(results.forall(r => r == ((10L, 1L)) || r == ((0L, 0L))),
      results.toString)
    assert(spark.read.parquet(table).select("id").as[Long]
      .collect().toSet === expectSurvivors,
      "survivors must be exact under every interleaving")
    // the refused crons' slots rerun uncontended and settle to zeros
    val (r2, d2, _) = graft.sinks.PartitionedSink.dropPartitionsWhere(
      spark, table, org.apache.spark.sql.functions.col("src") === "old")
    assert((r2, d2) === ((0L, 0L)))
  }
}
