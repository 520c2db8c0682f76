package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.Streaming
import graft.streaming.Streaming.SessionEvent

/** Structured Streaming behavior: exactly-once file ingestion via
  * checkpoint (the sync.json replacement), watermarked window aggs,
  * and flatMapGroupsWithState sessionization. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = {
    val d = Files.createTempDirectory(p); d.toFile.deleteOnExit(); d
  }

  test("ingestStream: checkpoint = watermark; re-run ingests only new files") {
    val in = tmp("st-in"); val out = tmp("st-out"); val cp = tmp("st-cp")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, ref TIMESTAMP")

    Seq((1L, Timestamp.valueOf("2024-01-10 08:00:00")),
      (2L, Timestamp.valueOf("2024-02-12 09:30:00")))
      .toDF("id", "ref").coalesce(1).write.mode(SaveMode.Append)
      .parquet(in.toString)
    val q1 = Streaming.ingestStream(spark, in.toString, schema, "ref",
      out.toString, cp.toString)
    q1.awaitTermination()

    val first = spark.read.parquet(out.toString)
    assert(first.count() === 2)
    // unpadded partition layout, same as the batch path
    assert(Files.exists(out.resolve("YEAR=2024").resolve("MONTH=1")))
    assert(Files.exists(out.resolve("YEAR=2024").resolve("MONTH=2")))

    // second batch of files: only the increment is consumed
    Seq((3L, Timestamp.valueOf("2024-03-01 00:00:00")))
      .toDF("id", "ref").coalesce(1).write.mode(SaveMode.Append)
      .parquet(in.toString)
    val q2 = Streaming.ingestStream(spark, in.toString, schema, "ref",
      out.toString, cp.toString)
    q2.awaitTermination()
    val all = spark.read.parquet(out.toString).select("id")
      .as[Long].collect().sorted.toSeq
    assert(all === Seq(1L, 2L, 3L)) // no re-ingestion of files 1-2
  }

  test("windowedCounts: watermark drops late rows beyond the delay") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val agg = Streaming.windowedCounts(df, "ts", "10 minutes", "1 hour")
    val q = agg.writeStream.format("memory").queryName("wc")
      .outputMode("append").start()

    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 10:20:00"), "click", 2.0))
    q.processAllAvailable()
    // advance watermark far past the 10:00 window -> it finalizes
    mem.addData((Timestamp.valueOf("2024-01-01 13:00:00"), "view", 1.0))
    q.processAllAvailable()
    // a late row for the finalized window is dropped, not re-aggregated
    mem.addData((Timestamp.valueOf("2024-01-01 10:40:00"), "click", 99.0))
    q.processAllAvailable()
    mem.addData((Timestamp.valueOf("2024-01-01 15:00:00"), "view", 1.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("wc")
      .select("window_start", "event_type", "n", "total_value")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    assert(rows.contains(("2024-01-01 10:00:00.0", "click", 2L, 3.0)))
    assert(!rows.exists { case (_, _, _, total) => total == 102.0 })
  }

  test("dedupStream: duplicate keys across batches are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val df = mem.toDF().toDF("doc_id", "ts")
    val deduped = Streaming.dedupStream(df, Seq("doc_id"), "ts", "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dd")
      .outputMode("append").start()
    mem.addData((1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, Timestamp.valueOf("2024-01-01 10:01:00")), // same batch dup
      (2L, Timestamp.valueOf("2024-01-01 10:02:00")))
    q.processAllAvailable()
    mem.addData((1L, Timestamp.valueOf("2024-01-01 10:30:00")), // cross-batch dup
      (3L, Timestamp.valueOf("2024-01-01 10:31:00")))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dd").select("doc_id").as[Long].collect().sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L))
  }

  test("quarantineStream: docs sharing a trigram with the static " +
    "benchmark set are flagged exactly once; clean docs pass") {
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq("alpha beta gamma delta", "one two three four")
      .toDF("text")
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    val out = Streaming.quarantineStream(docs, "text", "doc_id", "ts",
      "1 hour", bench, "text")
    val q = out.writeStream.format("memory").queryName("quarantine")
      .outputMode("append").start()
    mem.addData(
      // shares "alpha beta gamma" AND "beta gamma delta": must emit ONCE
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"),
        "prefix alpha beta gamma delta suffix"),
      (2L, Timestamp.valueOf("2024-01-01 10:01:00"),
        "totally unrelated clean document text"),
      (3L, Timestamp.valueOf("2024-01-01 10:02:00"),
        "the words one two three appear here"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("quarantine").select("doc_id").as[Long]
      .collect().sorted
    assert(ids.toSeq === Seq(1L, 3L))
  }

  test("enrichStream: micro-batches join the static dim stateless; " +
    "the broadcast plan has no streaming state") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "appliances"), (2L, "toys")).toDF("cat_id", "cat")
    val mem = MemoryStream[(Long, Long)]
    val out = Streaming.enrichStream(
      mem.toDF().toDF("event_id", "cat_id"), dim, Seq("cat_id"))
    val q = out.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    mem.addData((10L, 1L), (11L, 2L), (12L, 99L)) // 99 has no dim row
    q.processAllAvailable()
    mem.addData((13L, 1L)) // second batch re-resolves the static side
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enriched")
      .select("event_id", "cat").as[(Long, String)].collect().sorted
    assert(got.toSeq === Seq((10L, "appliances"), (11L, "toys"),
      (13L, "appliances")))
    // stateless: no state store operator in the executed plan
    assert(!q.lastProgress.stateOperators.exists(_.numRowsTotal > 0))
  }

  test("enrichStream: a FILE-based dim is a SNAPSHOT — the listing is " +
    "frozen at plan time, files appended later stay invisible (pinned)") {
    implicit val sqlCtx = spark.sqlContext
    val dimDir = Files.createTempDirectory("dim").toString
    Seq((1L, "appliances")).toDF("cat_id", "cat")
      .write.mode(SaveMode.Append).parquet(dimDir)
    val mem = MemoryStream[(Long, Long)]
    val out = Streaming.enrichStream(
      mem.toDF().toDF("event_id", "cat_id"),
      spark.read.parquet(dimDir), Seq("cat_id"))
    val q = out.writeStream.format("memory").queryName("enriched_file")
      .outputMode("append").start()
    mem.addData((10L, 1L), (11L, 2L)) // cat 2 not in the dim yet
    q.processAllAvailable()
    Seq((2L, "toys")).toDF("cat_id", "cat")
      .write.mode(SaveMode.Append).parquet(dimDir)
    mem.addData((12L, 2L)) // in the dir now, but the listing is frozen
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enriched_file")
      .select("event_id", "cat").as[(Long, String)].collect().sorted
    assert(got.toSeq === Seq((10L, "appliances")))
  }

  test("enrichStreamRefreshing: the dim is re-loaded between " +
    "micro-batches — rows appended to the dim dir join in batch 2, and " +
    "a key absent at ITS batch's snapshot is dropped, not matched late") {
    implicit val sqlCtx = spark.sqlContext
    val dimDir = Files.createTempDirectory("dim").toString
    Seq((1L, "appliances")).toDF("cat_id", "cat")
      .write.mode(SaveMode.Append).parquet(dimDir)
    val mem = MemoryStream[(Long, Long)]
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = Streaming.enrichStreamRefreshing(
        mem.toDF().toDF("event_id", "cat_id"), Seq("cat_id"),
        () => spark.read.parquet(dimDir)) { (df, _) =>
        buf ++= df.select("event_id", "cat").as[(Long, String)].collect()
      }.start()
    mem.addData((10L, 1L), (11L, 2L)) // cat 2 not in the dim yet
    q.processAllAvailable()
    Seq((2L, "toys")).toDF("cat_id", "cat")
      .write.mode(SaveMode.Append).parquet(dimDir)
    mem.addData((12L, 2L)) // visible after the batch-2 refresh
    q.processAllAvailable()
    q.stop()
    assert(buf.sorted.toSeq === Seq((10L, "appliances"), (12L, "toys")))
  }

  test("applyCdcScd2: change batches maintain SCD2 history across " +
    "micro-batches — close + open on change, insert on new key") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("cdc")
    dir.toFile.deleteOnExit()
    val table = dir.resolve("dim").toString
    val ckpt = dir.resolve("ckpt").toString
    val mem = MemoryStream[(Long, String, String)]
    val q = Streaming.applyCdcScd2(
      mem.toDF().toDF("k", "v", "change_date"), table, ckpt)
    mem.addData((1L, "a1", "2024-01-01"), (2L, "b1", "2024-01-01"))
    q.processAllAvailable()
    mem.addData(
      (1L, "a2", "2024-02-01"), // change: closes a1, opens a2
      (2L, "b1", "2024-02-01"), // same value: no-op
      (3L, "c1", "2024-02-01")) // new key
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(table)
      .select("k", "v", "valid_from", "valid_to")
      .as[(Long, String, String, String)].collect().sorted
    val expected = Seq(
      (1L, "a1", "2024-01-01", "2024-02-01"),
      (1L, "a2", "2024-02-01", "9999-12-31"),
      (2L, "b1", "2024-01-01", "9999-12-31"),
      (3L, "c1", "2024-02-01", "9999-12-31"))
    assert(got.toSeq === expected)
    // idempotency: re-applying the last batch over its own output (the
    // crash-replay case) is a no-op — equal values never close rows
    Streaming.mergeScd2Batch(
      Seq((1L, "a2", "2024-02-01"), (2L, "b1", "2024-02-01"),
        (3L, "c1", "2024-02-01")).toDF("k", "v", "change_date"), table)
    val replayed = spark.read.parquet(table)
      .select("k", "v", "valid_from", "valid_to")
      .as[(Long, String, String, String)].collect().sorted
    assert(replayed.toSeq === expected)
  }

  test("applyCdcScd2 on a file: URI table path keeps the history: the " +
    "table is found through Hadoop's FileSystem, not java.io.File") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("cdc-uri")
    dir.toFile.deleteOnExit()
    val table = dir.resolve("dim").toUri.toString
    assert(table.startsWith("file:"))
    val mem = MemoryStream[(Long, String, String)]
    val q = Streaming.applyCdcScd2(
      mem.toDF().toDF("k", "v", "change_date"), table,
      dir.resolve("ckpt").toString)
    mem.addData((1L, "a1", "2024-01-01"), (2L, "b1", "2024-01-01"))
    q.processAllAvailable()
    mem.addData((1L, "a2", "2024-02-01"), (2L, "b1", "2024-02-01"),
      (3L, "c1", "2024-02-01"))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(table)
      .select("k", "v", "valid_from", "valid_to")
      .as[(Long, String, String, String)].collect().sorted
    assert(got.toSeq === Seq(
      (1L, "a1", "2024-01-01", "2024-02-01"),
      (1L, "a2", "2024-02-01", "9999-12-31"),
      (2L, "b1", "2024-01-01", "9999-12-31"),
      (3L, "c1", "2024-02-01", "9999-12-31")))
  }

  test("runningTotals (transformWithState): per-key state accumulates " +
    "across micro-batches on the RocksDB store") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(String, Double)]
      val ds = mem.toDS().map(t =>
        Streaming.KeyedValue(t._1, t._2))
      val q = Streaming.runningTotals(ds).toDF()
        .writeStream.format("memory").queryName("rt")
        .outputMode("update").start()
      mem.addData(("click", 1.0), ("click", 2.0), ("view", 5.0))
      q.processAllAvailable()
      mem.addData(("click", 4.0))
      q.processAllAvailable()
      q.stop()
      // update mode emits one row per key per batch: the final state is
      // the emission with the highest count (collect order is not
      // guaranteed)
      val last = spark.table("rt").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
      assert(last("click") === ((3L, 7.0))) // state crossed the batches
      assert(last("view") === ((1L, 5.0)))
    } finally {
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  private def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("runningTotals: TTL expires idle state — the count RESTARTS for a " +
    "key touched after the TTL window (bounded state at unbounded input)") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(String, Double)]
      val ds = mem.toDS().map(t => Streaming.KeyedValue(t._1, t._2))
      val q = Streaming.runningTotals(ds,
        org.apache.spark.sql.streaming.TTLConfig(
          java.time.Duration.ofSeconds(2))).toDF()
        .writeStream.format("memory").queryName("rt_ttl")
        .outputMode("update").start()
      // processing-time TTL keeps the microbatch loop live (each batch
      // re-checks expiry), so processAllAvailable never settles — poll
      // the sink for the expected emission instead
      def awaitEmission(n: Long, total: Double): Unit = {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!spark.table("rt_ttl").collect()
            .exists(r => r.getLong(1) == n && r.getDouble(2) == total)) {
          assert(System.nanoTime() < deadline,
            s"timed out waiting for ($n, $total); saw " +
              spark.table("rt_ttl").collect().toSeq)
          Thread.sleep(200)
        }
      }
      mem.addData(("click", 1.0), ("click", 2.0))
      awaitEmission(2L, 3.0)
      // let the TTL lapse, then touch the key again: the expired state
      // must NOT carry the old (2, 3.0) forward
      Thread.sleep(4000)
      mem.addData(("click", 10.0))
      awaitEmission(1L, 10.0)
      q.stop()
      val emissions = spark.table("rt_ttl").collect()
        .map(r => (r.getLong(1), r.getDouble(2))).toSet
      assert(!emissions.contains((3L, 13.0)), emissions) // NOT accumulated
    }
  }

  test("runningTotals: state survives a query restart from checkpoint " +
    "(the accumulator continues, not restarts, across process death)") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val out = tmp("rtr-out"); val cp = tmp("rtr-cp")
      val mem = MemoryStream[(String, Double)]
      val ds = mem.toDS().map(t => Streaming.KeyedValue(t._1, t._2))
      def start() = Streaming.runningTotals(ds).toDF()
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", cp.toString)
        // parquet sink is append-only; update-mode emissions append one
        // row per key per batch, which is exactly what we inspect
        .outputMode("append").start()
      val q1 = start()
      mem.addData(("click", 1.0), ("view", 5.0))
      q1.processAllAvailable()
      q1.stop()
      val q2 = start() // recover state from checkpoint
      mem.addData(("click", 4.0))
      q2.processAllAvailable()
      q2.stop()
      val rows = spark.read.parquet(out.toString).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      // post-restart emission continues the pre-restart accumulator
      assert(rows.contains(("click", 2L, 5.0)), rows)
      assert(rows.contains(("click", 1L, 1.0)), rows)
      assert(rows.contains(("view", 1L, 5.0)), rows)
    }
  }

  test("runningTotals ≡ batch per-key totals on the real fixture: the " +
    "last update-mode emission per key equals the batch groupBy " +
    "count/sum, across chunk boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // cents as the Double payload: integer-valued doubles sum exactly
    // (< 2^53), so the streamed arrival-order fold and the batch
    // shuffle-order fold agree bit-for-bit — a fractional double
    // payload would make the differential flaky by construction
    val rows = graft.sources.Tables(spark, dir, "events")
      .select(col("event_type"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          * lit(100)).cast("long").as("c"))
      .as[(String, Long)].collect()
    val batch = rows.groupBy(_._1).map { case (k, xs) =>
      k -> ((xs.length.toLong, xs.map(_._2).sum)) }
    // transformWithState needs the RocksDB store (multiple column
    // families), like the other runningTotals scenarios
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(String, Long)]
      val ds = mem.toDS().map(t =>
        Streaming.KeyedValue(t._1, t._2.toDouble))
      val q = Streaming.runningTotals(ds).toDF()
        .writeStream.format("memory").queryName("rtparity")
        .outputMode("update").start()
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toSeq); q.processAllAvailable()
      }
      q.stop()
      // update mode emits one row per key per batch; the final state is
      // the emission with the highest count per key
      val streamed = spark.table("rtparity").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).map { case (k, xs) =>
          val (n, tot) = xs.map(_._2).maxBy(_._1)
          k -> ((n, tot.toLong))
        }
      assert(streamed === batch,
        s"missing=${(batch.toSet -- streamed.toSet).take(3)} " +
          s"extra=${(streamed.toSet -- batch.toSet).take(3)}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("conversionFunnel: funnel state survives a restart from " +
    "checkpoint, a step fires at most once, and within-batch rows " +
    "fold in time order (an earlier purchase cannot ride a later " +
    "click in the same batch)") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val out = tmp("cf-out"); val cp = tmp("cf-cp")
      val mem = MemoryStream[(Long, String, Long)]
      val ds = mem.toDS().map(t => Streaming.FunnelEvent(t._1, t._2, t._3))
      def start() = Streaming
        .conversionFunnel(ds, "view", "click", "purchase").toDF()
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", cp.toString)
        .outputMode("append").start()
      val q1 = start()
      // click@5 precedes view@10 in time: after the in-batch sort the
      // click sees no t1 and must NOT fire
      mem.addData((1L, "click", 5L), (1L, "view", 10L))
      q1.processAllAvailable()
      q1.stop()
      val q2 = start() // recover (t1=10, _, _) from checkpoint
      // purchase@15 sorts before click@20: t2 is unset when it folds,
      // so only step 2 fires here — strict order survives the restart
      mem.addData((1L, "purchase", 15L), (1L, "click", 20L))
      q2.processAllAvailable()
      // second view/click must not re-fire completed steps
      mem.addData((1L, "view", 25L), (1L, "click", 26L),
        (1L, "purchase", 30L))
      q2.processAllAvailable()
      q2.stop()
      val rows = spark.read.parquet(out.toString).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(rows === Set((1L, 1, 10L), (1L, 2, 20L), (1L, 3, 30L)), rows)
    }
  }

  test("conversionFunnel ≡ batch q265 on the real fixture: chronological " +
    "chunks through transformWithState emit exactly the batch funnel's " +
    "per-user step times, and the step counts equal the q265 report") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val ev = graft.sources.Tables(spark, dir, "events")
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id").cast("long"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .as[(Long, String, Long)].collect().sortBy(e => (e._3, e._2))
    // batch reference: the q265 chain unrolled to per-user step times
    val t1 = ev.filter(_._2 == "view").groupBy(_._1)
      .map { case (u, xs) => u -> xs.map(_._3).min }
    val t2 = ev.filter(e => e._2 == "click" && t1.contains(e._1) &&
        e._3 > t1(e._1)).groupBy(_._1)
      .map { case (u, xs) => u -> xs.map(_._3).min }
    val t3 = ev.filter(e => e._2 == "purchase" && t2.contains(e._1) &&
        e._3 > t2(e._1)).groupBy(_._1)
      .map { case (u, xs) => u -> xs.map(_._3).min }
    val expected =
      t1.map { case (u, t) => (u, 1, t) }.toSet ++
      t2.map { case (u, t) => (u, 2, t) } ++
      t3.map { case (u, t) => (u, 3, t) }
    // the batch query's own counts must agree with the unrolled chain
    val q265 = Queries.all("q265_conversion_funnel")(spark, dir).head()
    assert((q265.getLong(0), q265.getLong(1), q265.getLong(2)) ===
      ((t1.size.toLong, t2.size.toLong, t3.size.toLong)))
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, String, Long)]
      val ds = mem.toDS().map(t =>
        Streaming.FunnelEvent(t._1, t._2, t._3))
      val q = Streaming.conversionFunnel(ds, "view", "click", "purchase")
        .toDF()
        .writeStream.format("memory").queryName("funnelparity")
        .outputMode("update").start()
      ev.grouped(math.max(1, ev.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toSeq); q.processAllAvailable()
      }
      q.stop()
      val streamed = spark.table("funnelparity").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(streamed === expected,
        s"missing=${(expected -- streamed).take(3)} " +
          s"extra=${(streamed -- expected).take(3)}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("topEventTypes (MapState): per-user top-k tracks accumulated " +
    "counts across batches with deterministic tie-break") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, String)]
      val ds = mem.toDS().map(t => Streaming.UserEvent(t._1, t._2))
      val q = Streaming.topEventTypes(ds, k = 2).toDF()
        .writeStream.format("memory").queryName("topk")
        .outputMode("update").start()
      mem.addData((1L, "view"), (1L, "view"), (1L, "click"), (2L, "buy"))
      q.processAllAvailable()
      // batch 2: click catches view at 2-2 — tie breaks alphabetically
      // (click < view); purchase enters below the top-2 cut
      mem.addData((1L, "click"), (1L, "purchase"))
      q.processAllAvailable()
      q.stop()
      val byBatchMax = spark.table("topk").collect()
        .map(r => (r.getLong(0), r.getSeq[String](1)))
      // final emission per user = the one reflecting all input
      assert(byBatchMax.contains((1L, Seq("click", "view"))), byBatchMax.toSeq)
      assert(byBatchMax.contains((2L, Seq("buy"))), byBatchMax.toSeq)
      // batch-1 emission had view on top
      assert(byBatchMax.contains((1L, Seq("view", "click"))), byBatchMax.toSeq)
    }
  }

  test("topEventTypes ≡ batch per-user top-k on the real fixture: the " +
    "latest update-mode emission per user equals the batch " +
    "count-desc/type-asc top-3, across chunk boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val rows = graft.sources.Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"))
      .as[(Long, String)].collect()
    val batch: Map[Long, Seq[String]] = rows.groupBy(_._1).map {
      case (u, xs) =>
        u -> xs.groupBy(_._2).map { case (t, g) => (t, g.size) }.toSeq
          .sortBy { case (t, c) => (-c, t) }.take(3).map(_._1)
    }
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, String)]
      val ds = mem.toDS().map(t => Streaming.UserEvent(t._1, t._2))
      val q = Streaming.topEventTypes(ds, k = 3).toDF()
        .writeStream.format("memory").queryName("tkparity")
        .outputMode("update").start()
      // the memory sink appends one row per user per batch; rows added
      // since the previous drain are THIS batch's emissions, so the
      // per-user latest across drains is the final accumulated top-k
      var latest = Map.empty[Long, Seq[String]]
      var seen = 0
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toSeq); q.processAllAvailable()
        val all = spark.table("tkparity").collect()
        all.drop(seen).foreach(r =>
          latest += r.getLong(0) -> r.getSeq[String](1))
        seen = all.length
      }
      q.stop()
      assert(latest === batch,
        s"missing=${(batch.toSet -- latest.toSet).take(3)} " +
          s"extra=${(latest.toSet -- batch.toSet).take(3)}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("windowedCounts: aggregation state survives a restart from checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val out = tmp("wcr-out"); val cp = tmp("wcr-cp")
    val mem = MemoryStream[(Timestamp, String, Double)]
    def start() = Streaming.windowedCounts(
      mem.toDF().toDF("ts", "event_type", "value"), "ts", "10 minutes", "1 hour")
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", cp.toString)
      .outputMode("append").start()

    val q1 = start()
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 10:20:00"), "click", 2.0))
    q1.processAllAvailable()
    q1.stop() // window 10:00 is still OPEN state in the state store

    val q2 = start() // recover from checkpoint
    // advancing the watermark must finalize the PRE-restart window with
    // both pre-restart rows — proof the state store was recovered
    mem.addData((Timestamp.valueOf("2024-01-01 13:00:00"), "view", 1.0))
    q2.processAllAvailable()
    q2.stop()

    val rows = spark.read.parquet(out.toString)
      .collect().map(r => (r.getAs[Timestamp]("window_start").toString,
        r.getAs[String]("event_type"), r.getAs[Long]("n"))).toSet
    assert(rows.contains(("2024-01-01 10:00:00.0", "click", 2L)), rows)
  }

  test("joinStreamsWithin: matches within the time bound only") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val views = MemoryStream[(Long, Timestamp)]
    val joined = Streaming.joinStreamsWithin(
      clicks.toDF().toDF("c_user", "c_ts"),
      views.toDF().toDF("v_user", "v_ts"),
      "c_user", "v_user", "c_ts", "v_ts",
      delay = "1 hour", within = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    clicks.addData((1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, Timestamp.valueOf("2024-01-01 10:00:00")))
    views.addData((1L, Timestamp.valueOf("2024-01-01 10:05:00")), // in bound
      (2L, Timestamp.valueOf("2024-01-01 11:00:00"))) // out of bound
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssj").select("c_user").as[Long].collect().toSeq
    assert(got === Seq(1L)) // only the within-10-min pair joins
  }

  test("joinStreamsLeftOuter: unmatched left rows emit null-padded " +
    "only after the watermark proves no match can arrive") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val convs = MemoryStream[(Long, Timestamp)]
    val joined = Streaming.joinStreamsLeftOuter(
      clicks.toDF().toDF("c_user", "c_ts"),
      convs.toDF().toDF("k_user", "k_ts"),
      "c_user", "k_user", "c_ts", "k_ts",
      delay = "0 seconds", within = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("sslo")
      .outputMode("append").start()
    clicks.addData((1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, Timestamp.valueOf("2024-01-01 10:00:00")))
    convs.addData((1L, Timestamp.valueOf("2024-01-01 10:05:00")))
    q.processAllAvailable()
    // user 2 has no conversion — it must NOT have emitted yet: the
    // watermark hasn't passed its match horizon (10:10)
    val early = spark.table("sslo").collect()
      .map(r => (r.getLong(0), r.isNullAt(2)))
    assert(early.toSet === Set((1L, false)))
    // advance BOTH watermarks past the horizon -> null-padded emit
    clicks.addData((9L, Timestamp.valueOf("2024-01-01 12:00:00")))
    convs.addData((9L, Timestamp.valueOf("2024-01-01 12:00:01")))
    q.processAllAvailable()
    q.processAllAvailable()
    q.stop()
    val late = spark.table("sslo").collect()
      .map(r => (r.getLong(0), r.isNullAt(2))).toSet
    assert(late.contains((2L, true)), late.toString) // null-padded
    assert(late.contains((1L, false)), late.toString) // real match kept
  }

  test("sessionizeV2 (transformWithState + event-time timers): gap " +
    "splits mid-batch; the registered timer fires on watermark advance " +
    "and a MOVED timer (extended session) does not double-emit") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[SessionEvent]
      val sessions = Streaming.sessionizeV2(mem.toDS(), gapMinutes = 10,
        watermarkDelay = "0 seconds")
      val q = sessions.writeStream.format("memory").queryName("sessv2")
        .outputMode("append").start()

      // user 1: 2 events 5 min apart, then a 30-min gap in the SAME
      // batch -> first session closes mid-batch without any timer
      mem.addData(
        SessionEvent(1L, Timestamp.valueOf("2024-01-01 10:00:00")),
        SessionEvent(1L, Timestamp.valueOf("2024-01-01 10:05:00")),
        SessionEvent(1L, Timestamp.valueOf("2024-01-01 10:35:00")))
      q.processAllAvailable()
      // user 1 extends the open session in a later batch: the old
      // timer (10:45) must move to 10:50, not fire as a stale close
      mem.addData(SessionEvent(1L, Timestamp.valueOf("2024-01-01 10:40:00")))
      q.processAllAvailable()
      // watermark jump past 10:50 fires the timer -> session emits
      mem.addData(SessionEvent(2L, Timestamp.valueOf("2024-01-01 12:00:00")))
      q.processAllAvailable()
      mem.addData(SessionEvent(2L, Timestamp.valueOf("2024-01-01 14:00:00")))
      q.processAllAvailable()
      q.stop()

      val got = spark.table("sessv2").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2)))
        .toSeq
      assert(got.contains((1L, "2024-01-01 10:00:00.0", 2L))) // gap split
      // timer close delivers the EXTENDED session ({10:35, 10:40})
      // exactly ONCE — the stale 10:45 timer was deleted on extension
      // (and its handleExpiredTimer guard suppresses a pre-deadline
      // fire), so no duplicate emission of the same session
      assert(got.count(s => s._1 == 1L &&
        s._2 == "2024-01-01 10:35:00.0") === 1)
      assert(got.contains((1L, "2024-01-01 10:35:00.0", 2L)))
      // user 2's first session closes when its timer passes at 14:00
      assert(got.contains((2L, "2024-01-01 12:00:00.0", 1L)))
    } finally {
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("sessionizeV2 ≡ batch sessionization (q87) on the real fixture: " +
    "the streaming operator, fed the events table in chunks, emits " +
    "exactly the batch operator's sessions") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = "/root/testdata/sf0.001"
      import org.apache.spark.sql.functions.col
      val batch = Queries.all("q87_batch_sessionize")(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(2).getTime,
          r.getTimestamp(3).getTime, r.getLong(4)))
        .toSet
      val events = graft.sources.Tables(spark, dir, "events")
        .select(col("user_id"), col("ts"))
        .as[Streaming.SessionEvent](
          org.apache.spark.sql.Encoders.product[Streaming.SessionEvent])
        .collect().sortBy(_.ts.getTime)
      val mem = MemoryStream[Streaming.SessionEvent]
      val q = Streaming.sessionizeV2(mem.toDS(), gapMinutes = 30,
        watermarkDelay = "0 seconds")
        .writeStream.format("memory").queryName("sessparity")
        .outputMode("append").start()
      // three chronological chunks so the watermark actually advances
      // between batches, then a far-future sentinel to flush all timers
      events.grouped(math.max(1, events.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      mem.addData(Streaming.SessionEvent(-1L,
        Timestamp.valueOf("2030-01-01 00:00:00")))
      q.processAllAvailable()
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table("sessparity").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getTimestamp(3).getTime, r.getLong(2)))
        .filter(_._1 >= 0).toSet
      assert(streamed === batch,
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    } finally {
      prev match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("sessionizeV2: an out-of-order event older than the open session's " +
    "start (but within the watermark) LOWERS the emitted start; an event " +
    "a full gap older emits as its own singleton session") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[SessionEvent]
      val q = Streaming.sessionizeV2(mem.toDS(), gapMinutes = 10,
        watermarkDelay = "2 hours")
        .writeStream.format("memory").queryName("sessooo")
        .outputMode("append").start()
      mem.addData(
        SessionEvent(1L, Timestamp.valueOf("2024-01-01 10:10:00")),
        SessionEvent(1L, Timestamp.valueOf("2024-01-01 10:12:00")))
      q.processAllAvailable()
      // batch 2 arrives out of order but inside the 2h watermark delay:
      // 10:05 is older than the open session's start (10:10) yet within
      // the gap of it -> must extend AND lower the start; 09:40 is a
      // full gap older -> disjoint, emits as its own closed singleton
      mem.addData(
        SessionEvent(1L, Timestamp.valueOf("2024-01-01 10:05:00")),
        SessionEvent(1L, Timestamp.valueOf("2024-01-01 09:40:00")))
      q.processAllAvailable()
      // far-future sentinel advances the watermark past every timer
      mem.addData(SessionEvent(2L, Timestamp.valueOf("2030-01-01 00:00:00")))
      q.processAllAvailable()
      q.stop()
      val u1 = spark.table("sessooo").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2)))
        .filter(_._1 == 1L).toSet
      assert(u1 === Set(
        (1L, "2024-01-01 09:40:00.0", 1L), // disjoint singleton
        (1L, "2024-01-01 10:05:00.0", 3L))) // start lowered, 3 events
    }
  }

  test("sessionize (v1): same out-of-order semantics as v2 — lowered " +
    "start and disjoint singleton") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val q = Streaming.sessionize(mem.toDS(), gapMinutes = 10,
      watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("sessooo1")
      .outputMode("append").start()
    mem.addData(
      SessionEvent(1L, Timestamp.valueOf("2024-01-01 10:10:00")),
      SessionEvent(1L, Timestamp.valueOf("2024-01-01 10:12:00")))
    q.processAllAvailable()
    mem.addData(
      SessionEvent(1L, Timestamp.valueOf("2024-01-01 10:05:00")),
      SessionEvent(1L, Timestamp.valueOf("2024-01-01 09:40:00")))
    q.processAllAvailable()
    mem.addData(SessionEvent(2L, Timestamp.valueOf("2030-01-01 00:00:00")))
    q.processAllAvailable()
    q.stop()
    val u1 = spark.table("sessooo1").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2)))
      .filter(_._1 == 1L).toSet
    assert(u1 === Set(
      (1L, "2024-01-01 09:40:00.0", 1L),
      (1L, "2024-01-01 10:05:00.0", 3L)))
  }

  test("applyCdcScd2 ≡ batch q95 on the real fixture: streaming the " +
    "change log in chunks against the seeded base table converges to " +
    "exactly the batch merge's SCD2 output") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val wd = Files.createTempDirectory("cdcdiff"); wd.toFile.deleteOnExit()
    val table = wd.resolve("dim").toString
    val ckpt = wd.resolve("ckpt").toString
    // batch truth: q95's one-shot merge (k, addr, valid_from, valid_to,
    // is_current) over customer + its derived change batch
    val batch = Queries.all("q95_scd2_merge")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getBoolean(4))).toSet
    // seed the state table with the same base q95 starts from
    val cust = graft.sources.Tables(spark, dir, "customer")
    cust.select(col("c_custkey").as("k"), col("c_mktsegment").as("v"),
        lit("2024-01-01").as("valid_from"), lit("9999-12-31").as("valid_to"))
      .write.mode(SaveMode.Overwrite).parquet(table)
    // the same change log q95 derives, streamed in three micro-batches
    val changes = cust.filter(col("c_custkey") % 10 === 3)
      .select(col("c_custkey"), concat(col("c_mktsegment"), lit(" rev2")))
      .as[(Long, String)].collect().sortBy(_._1)
      .map { case (k, v) => (k, v, "2024-06-01") }
    val mem = MemoryStream[(Long, String, String)]
    val q = Streaming.applyCdcScd2(
      mem.toDF().toDF("k", "v", "change_date"), table, ckpt)
    changes.grouped(math.max(1, changes.length / 3 + 1)).foreach { chunk =>
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.read.parquet(table)
      .select(col("k"), col("v"), col("valid_from"), col("valid_to"),
        (col("valid_to") === "9999-12-31").as("is_current"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getBoolean(4))).toSet
    assert(streamed === batch,
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("windowedCounts ≡ batch tumbling window (q22) on the real " +
    "fixture: chronological chunks + watermark flush emit exactly the " +
    "batch windows") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val batch = Queries.all("q22_tumbling_window")(spark, dir).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    // decimal-cast value BEFORE the stream: the streaming sum is then
    // exact decimal like the batch side — a raw double sum would be
    // merge-order-dependent and differ in the low bits
    val events = graft.sources.Tables(spark, dir, "events")
      .select(col("ts"), col("event_type"),
        col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .as("value"))
      .as[(Timestamp, String, java.math.BigDecimal)]
      .collect().sortBy(_._1.getTime)
    val mem = MemoryStream[(Timestamp, String, java.math.BigDecimal)]
    val q = Streaming.windowedCounts(
      mem.toDF().toDF("ts", "event_type", "value"), "ts", "0 seconds",
      "1 hour")
      .writeStream.format("memory").queryName("wcparity")
      .outputMode("append").start()
    events.grouped(math.max(1, events.length / 3 + 1)).foreach { chunk =>
      mem.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    mem.addData((Timestamp.valueOf("2030-01-01 00:00:00"), "zz_flush",
      java.math.BigDecimal.ZERO))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("wcparity").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2),
        r.getDecimal(3).doubleValue))
      .filter(_._2 != "zz_flush").toSet
    assert(streamed === batch,
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("ksDrift ≡ the same binned-KS computation as one batch on the " +
    "real fixture: chronological chunks + watermark flush emit exactly " +
    "the batch windows, bit-identical integers") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val cents = graft.sources.Tables(spark, dir, "events")
      .select(col("ts"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          * lit(100)).cast("long").as("c"))
    val (lo, w, nb) = (0L, 2000L, 50)
    // reference histogram = the whole fixture's own distribution
    val refCounts: Seq[Long] =
      Streaming.histogram(cents, "c", lo, w, nb)
    val batch = Streaming.ksDrift(cents, "ts", "c", "0 seconds",
      "6 hours", lo, w, nb, refCounts).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val rows = cents.as[(Timestamp, Long)].collect().sortBy(_._1.getTime)
    val mem = MemoryStream[(Timestamp, Long)]
    val q = Streaming.ksDrift(mem.toDF().toDF("ts", "c"), "ts", "c",
      "0 seconds", "6 hours", lo, w, nb, refCounts)
      .writeStream.format("memory").queryName("ksparity")
      .outputMode("append").start()
    rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
      mem.addData(chunk.toSeq); q.processAllAvailable()
    }
    mem.addData((Timestamp.valueOf("2030-01-01 00:00:00"), 0L))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ksparity").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2),
        r.getDouble(3)))
      .filter(_._1 < Timestamp.valueOf("2029-01-01 00:00:00").getTime)
      .toSet
    assert(streamed === batch,
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("tvDrift ≡ the same total-variation computation as one batch " +
    "on the real fixture, and a skewed mix scores high while the " +
    "reference mix scores 0") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val ev = graft.sources.Tables(spark, dir, "events")
      .select(col("ts"), col("event_type"))
    val ref: Map[String, Long] = ev.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = Streaming.tvDrift(ev, "ts", "event_type", "0 seconds",
      "6 hours", ref).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val rows = ev.as[(Timestamp, String)].collect().sortBy(_._1.getTime)
    val mem = MemoryStream[(Timestamp, String)]
    val q = Streaming.tvDrift(mem.toDF().toDF("ts", "event_type"), "ts",
      "event_type", "0 seconds", "6 hours", ref)
      .writeStream.format("memory").queryName("tvparity")
      .outputMode("append").start()
    rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
      mem.addData(chunk.toSeq); q.processAllAvailable()
    }
    mem.addData((Timestamp.valueOf("2030-01-01 00:00:00"), "zz_flush"))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("tvparity").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2),
        r.getDouble(3)))
      .filter(_._1 < Timestamp.valueOf("2029-01-01 00:00:00").getTime)
      .toSet
    assert(streamed === batch,
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")

    // positive control: the whole fixture IS the reference, so one
    // window holding the full mix scores ~0; a single-category window
    // scores high; an unseen category lands in OTHER and drifts
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val sameWin = ev.as[(Timestamp, String)].collect()
      .map(t => (new Timestamp(t0 + 1000L), t._2)).toSeq
    val skewWin = (1 to 500).map(_ =>
      (new Timestamp(t0 + 3600L * 1000L + 1L), "click"))
    val novelWin = (1 to 500).map(_ =>
      (new Timestamp(t0 + 7200L * 1000L + 1L), "brand_new_type"))
    val out = Streaming.tvDrift(
      (sameWin ++ skewWin ++ novelWin).toDF("ts", "event_type"),
      "ts", "event_type", "0 seconds", "1 hour", ref)
      .orderBy("window_start").collect()
    assert(out.length === 3)
    assert(out(0).getDouble(3) < 1e-9, s"same mix: ${out(0)}")
    assert(out(1).getDouble(3) > 0.3, s"skewed mix: ${out(1)}")
    assert(out(2).getDouble(3) > 0.99, s"novel category: ${out(2)}")
  }

  test("ksDrift flags a shifted window: a window drawn from the " +
    "reference distribution scores near 0; the same values doubled " +
    "score high") {
    implicit val sqlCtx = spark.sqlContext
    val vals = (0 until 1000).map(i => (i * 7919L) % 100000L)
    val refCounts: Seq[Long] = {
      val m = vals.map(v => math.min(v / 2000L, 49L))
        .groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
      (0 until 50).map(b => m.getOrElse(b.toLong, 0L))
    }
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val sameWin = vals.map(v => (new Timestamp(t0 + 1000L), v))
    val shiftWin = vals.map(v =>
      (new Timestamp(t0 + 3600L * 1000L + 1000L), math.min(v * 2, 99999L)))
    val df = (sameWin ++ shiftWin).toDF("ts", "c")
    val out = Streaming.ksDrift(df, "ts", "c", "0 seconds", "1 hour",
      0L, 2000L, 50, refCounts)
      .orderBy("window_start").collect()
    assert(out.length === 2)
    val (ksSame, ksShift) = (out(0).getDouble(3), out(1).getDouble(3))
    assert(ksSame < 0.01, s"identical distribution scored $ksSame")
    assert(ksShift > 0.3, s"doubled values scored only $ksShift")
  }

  test("dedupStream ≡ batch exact dedup on the real fixture: streamed " +
    "fingerprint dedup emits exactly one row per distinct fingerprint " +
    "(the q27/q185 exact tier), across chunk boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables(spark, dir, "documents")
    val base = graft.operators.TextAnalysis.withFingerprint(docs, "text")
      .select(col("doc_id"), col("fingerprint"))
      .as[(Long, Long)].collect().sortBy(_._1)
    // plant exact dups (same fingerprint, higher id) — sf0.001 has none
    val fp = base ++ base.take(50).map { case (id, f) => (id + 100000L, f) }
    val batchKeys = fp.map(_._2).toSet
    assert(batchKeys.size < fp.length) // dups present by construction
    val mem = MemoryStream[(Long, Long)]
    val st = mem.toDF().toDF("doc_id", "fingerprint")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
    val deduped = Streaming.dedupStream(st, Seq("fingerprint"), "ts",
      "30 days") // delay covers the whole synthetic span: no state expiry
    val q = deduped.writeStream.format("memory").queryName("ddparity")
      .outputMode("append").start()
    fp.grouped(math.max(1, fp.length / 3 + 1)).foreach { chunk =>
      mem.addData(chunk.toSeq); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("ddparity").select("fingerprint")
      .as[Long].collect()
    assert(streamed.length === batchKeys.size) // one survivor per key
    assert(streamed.toSet === batchKeys)
  }

  test("joinStreamsWithin ≡ batch interval join (q49) on the real " +
    "fixture: chunked self-join within ±10min emits exactly the batch " +
    "pair set — cross-batch buffering loses and duplicates nothing") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val batch = Queries.all("q49_range_join")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val events = graft.sources.Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"))
      .as[(Long, Long, Timestamp)]
      .collect().sortBy(_._2) // event_id order: event-time DISORDER
    val lMem = MemoryStream[(Long, Long, Timestamp)]
    val rMem = MemoryStream[(Long, Long, Timestamp)]
    // delay far above the fixture's span: nothing is ever late, so the
    // streaming join must reproduce the batch join EXACTLY
    val joined = Streaming.joinStreamsWithin(
      lMem.toDF().toDF("a_user", "id_a", "ts_a"),
      rMem.toDF().toDF("b_user", "id_b", "ts_b"),
      "a_user", "b_user", "ts_a", "ts_b",
      delay = "60 days", within = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ssjparity")
      .outputMode("append").start()
    // staggered chunks: left chunk k arrives BEFORE right chunk k, so
    // most matches need rows buffered across micro-batches
    events.grouped(math.max(1, events.length / 3 + 1)).foreach { chunk =>
      lMem.addData(chunk.toSeq); q.processAllAvailable()
      rMem.addData(chunk.toSeq); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("ssjparity")
      .where(col("id_a") < col("id_b"))
      .select("a_user", "id_a", "id_b")
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed === batch,
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("sessionize: gap splits sessions; timeout closes them") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val sessions = Streaming.sessionize(mem.toDS(), gapMinutes = 10,
      watermarkDelay = "0 seconds")
    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()

    // user 1: two events 5 min apart (one session), then a 30-min gap
    // inside the same batch -> first session closes mid-batch
    mem.addData(
      SessionEvent(1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      SessionEvent(1L, Timestamp.valueOf("2024-01-01 10:05:00")),
      SessionEvent(1L, Timestamp.valueOf("2024-01-01 10:35:00")))
    q.processAllAvailable()
    // watermark jump closes the open session via event-time timeout
    mem.addData(SessionEvent(2L, Timestamp.valueOf("2024-01-01 12:00:00")))
    q.processAllAvailable()
    mem.addData(SessionEvent(2L, Timestamp.valueOf("2024-01-01 14:00:00")))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("sess")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getLong(2))).toSet
    assert(got.contains((1L, "2024-01-01 10:00:00.0", 2L))) // gap split
    assert(got.contains((1L, "2024-01-01 10:35:00.0", 1L))) // timeout close
  }

  test("incrementalCandidatesStream ≡ batch minhashCandidates on the " +
    "real fixture: the distinct pair set is identical over any " +
    "micro-batch split, and every pair surfaces when its later " +
    "member arrives") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val docs = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select($"doc_id", $"text")
      val batchPairs = graft.operators.Dedup
        .minhashCandidates(docs, "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val rows = docs.as[(Long, String)].collect()
      val mem = MemoryStream[(Long, String)]
      val ds = mem.toDF().toDF("doc_id", "text")
      val q = Streaming
        .incrementalCandidatesStream(ds, "text", "doc_id").toDF()
        .writeStream.format("memory").queryName("incdedup")
        .outputMode("append").start()
      // 3 uneven chunks — pairs must form across chunk boundaries
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toSeq); q.processAllAvailable()
      }
      q.stop()
      val streamed = spark.table("incdedup").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed === batchPairs,
        s"missing=${(batchPairs -- streamed).take(3)} " +
          s"extra=${(streamed -- batchPairs).take(3)}")
      assert(batchPairs.nonEmpty) // the fixture has near-dups
    }
  }

  test("dedupMaintenanceStream ≡ batch two-batch sequence: each " +
    "micro-batch's pairs match the stored-index probe at that point, " +
    "and the append makes batch 2 see batch 1 (shared parquet index)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val batch1 = docs.filter($"doc_id" % 5 === 2)
    val batch2 = docs.filter($"doc_id" % 5 === 4)
    val corpus = docs.filter($"doc_id" % 5 =!= 2 && $"doc_id" % 5 =!= 4)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_stream_maint_idx").toString
    val cp = java.nio.file.Files
      .createTempDirectory("graft_stream_maint_cp").toString
    graft.operators.Dedup.writeBucketIndex(corpus, idx, "text",
      "doc_id", parts = 16)

    val mem = MemoryStream[(Long, String)]
    val perBatch =
      scala.collection.mutable.Map.empty[Long, Set[(Long, Long)]]
    val q = Streaming.dedupMaintenanceStream(
      mem.toDF().toDF("doc_id", "text"), "text", "doc_id", idx,
      cp) { (pairs, id) =>
      perBatch(id) = pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1)))
    mem.addData(rows(batch1).toSeq: _*)
    q.processAllAvailable()
    mem.addData(rows(batch2).toSeq: _*)
    q.processAllAvailable()
    q.stop()

    // batch-mode references: probe vs the corpus index, then vs an
    // index REBUILT over corpus ∪ batch1 (the append-equivalence the
    // DedupSimilaritySpec differential proves)
    def pairsOf(idxPath: String, b: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.incrementalCandidatesStored(spark, idxPath,
        b, "text", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val refIdx1 = java.nio.file.Files
      .createTempDirectory("graft_stream_maint_ref1").toString
    graft.operators.Dedup.writeBucketIndex(corpus, refIdx1, "text",
      "doc_id", parts = 16)
    val ref1 = pairsOf(refIdx1, batch1)
    val refIdx2 = java.nio.file.Files
      .createTempDirectory("graft_stream_maint_ref2").toString
    graft.operators.Dedup.writeBucketIndex(
      corpus.unionByName(batch1), refIdx2, "text", "doc_id", parts = 16)
    val ref2 = pairsOf(refIdx2, batch2)

    assert(perBatch(0L) === ref1)
    assert(perBatch(1L) === ref2)
    assert(ref1.nonEmpty && ref2.nonEmpty)
    // batch 2's probe actually saw batch 1 through the append: its
    // pairs differ from a probe against the UNMAINTAINED corpus index
    val unmaintained = pairsOf(refIdx1, batch2)
    assert(ref2 !== unmaintained)
  }

  test("takedownMaintenanceStream ≡ one batch delete of the union: " +
    "a micro-batched stream of takedown requests lands the stored " +
    "index in the rebuild-on-remaining state, with per-batch " +
    "compliance evidence") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val doomed1 = docs.filter($"doc_id" % 10 === 2)
    val doomed2 = docs.filter($"doc_id" % 10 === 7)
    val remaining = docs.filter($"doc_id" % 10 =!= 2 &&
      $"doc_id" % 10 =!= 7)
    val probeBatch = docs.filter($"doc_id" % 10 === 4)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_stream_takedown_idx").toString
    val cp = java.nio.file.Files
      .createTempDirectory("graft_stream_takedown_cp").toString
    graft.operators.Dedup.writeBucketIndex(docs, idx, "text",
      "doc_id", parts = 16)

    val mem = MemoryStream[Long]
    val perBatch =
      scala.collection.mutable.Map.empty[Long, (Long, Long)]
    val q = Streaming.takedownMaintenanceStream(
      mem.toDF().toDF("doc_id"), idx, cp) { (nRows, nDirs, id) =>
      perBatch(id) = (nRows, nDirs)
    }
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSeq
    mem.addData(ids(doomed1): _*)
    q.processAllAvailable()
    mem.addData(ids(doomed2): _*)
    q.processAllAvailable()
    q.stop()

    // per-batch compliance evidence: every request doc sheds its 4
    // band rows in its own micro-batch
    assert(perBatch(0L)._1 === doomed1.count() * 4)
    assert(perBatch(1L)._1 === doomed2.count() * 4)
    assert(perBatch.values.forall(_._2 <= 16))
    // streaming micro-batches ≡ one batch delete of the union:
    // probing the maintained index matches a rebuild on the remaining
    def pairsOf(idxPath: String) =
      graft.operators.Dedup.incrementalCandidatesStored(spark, idxPath,
        probeBatch, "text", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val refIdx = java.nio.file.Files
      .createTempDirectory("graft_stream_takedown_ref").toString
    graft.operators.Dedup.writeBucketIndex(remaining, refIdx, "text",
      "doc_id", parts = 16)
    assert(pairsOf(idx) === pairsOf(refIdx))
    assert(pairsOf(idx).nonEmpty)
  }

  test("simhashTakedownStream ≡ one batch delete of the union (r15, " +
    "r14 stretch 7): the SimHash index's takedown loop lands the " +
    "stored index in the rebuild-on-remaining state, with per-batch " +
    "evidence lines riding the swap manifest into the shared ledger " +
    "under target simhash-index") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val doomed1 = docs.filter($"doc_id" % 10 === 2)
    val doomed2 = docs.filter($"doc_id" % 10 === 7)
    val remaining = docs.filter($"doc_id" % 10 =!= 2 &&
      $"doc_id" % 10 =!= 7)
    val probeBatch = docs.filter($"doc_id" % 10 === 4)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_sh_takedown_idx").toString
    val cp = java.nio.file.Files
      .createTempDirectory("graft_sh_takedown_cp").toString
    val ledger = java.nio.file.Files
      .createTempDirectory("graft_sh_takedown_ledger").toString
    graft.operators.Dedup.writeSimhashIndex(docs, idx, "text",
      "doc_id", bands = 4, parts = 16)

    val mem = MemoryStream[Long]
    val perBatch =
      scala.collection.mutable.Map.empty[Long, (Long, Long)]
    val q = Streaming.simhashTakedownStream(
      mem.toDF().toDF("doc_id"), idx, cp, Some(ledger)) {
      (nRows, nDirs, id) => perBatch(id) = (nRows, nDirs)
    }
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSeq
    mem.addData(ids(doomed1): _*)
    q.processAllAvailable()
    mem.addData(ids(doomed2): _*)
    q.processAllAvailable()
    q.stop()

    // per-batch evidence: a SimHash doc holds one row per band
    assert(perBatch(0L)._1 === doomed1.count() * 4)
    assert(perBatch(1L)._1 === doomed2.count() * 4)
    // the ledger carries both batches under the family's own target,
    // counts matching the callbacks exactly
    val lines = graft.sinks.ComplianceLog.read(spark, ledger)
      .collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(4))).toSet
    assert(lines === Set(
      ("simhash-index", 0L, perBatch(0L)._1),
      ("simhash-index", 1L, perBatch(1L)._1)))
    // streaming micro-batches ≡ one batch delete of the union
    def pairsOf(idxPath: String) =
      graft.operators.Dedup.incrementalSimhashStored(spark, idxPath,
        probeBatch, "text", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val refIdx = java.nio.file.Files
      .createTempDirectory("graft_sh_takedown_ref").toString
    graft.operators.Dedup.writeSimhashIndex(remaining, refIdx, "text",
      "doc_id", bands = 4, parts = 16)
    assert(pairsOf(idx) === pairsOf(refIdx))
    assert(pairsOf(idx).nonEmpty)
    // cross-family guard: the SimHash delete refuses an LSH index
    val lshIdx = java.nio.file.Files
      .createTempDirectory("graft_sh_takedown_lsh").toString
    graft.operators.Dedup.writeBucketIndex(remaining, lshIdx, "text",
      "doc_id", parts = 8)
    val err = intercept[IllegalArgumentException] {
      graft.operators.Dedup.deleteFromSimhashIndex(spark, lshIdx,
        doomed1.select("doc_id"))
    }
    assert(err.getMessage.contains("not a SimHash index"),
      err.getMessage)
  }

  test("annMaintenanceStream ≡ batch two-batch sequence: each " +
    "micro-batch's neighbors match the stored scan at that point, the " +
    "append makes batch 2 see batch 1, and a replayed append is a " +
    "marker-guarded no-op (no duplicate rows, no count drift)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val base = emb.filter($"vec_id" < 375)
    val batch1 = emb.filter($"vec_id" >= 375 && $"vec_id" < 440)
    val batch2 = emb.filter($"vec_id" >= 440)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_stream_ann_idx").toString
    val cp = java.nio.file.Files
      .createTempDirectory("graft_stream_ann_cp").toString
    graft.operators.Similarity.writeIvfPqIndex(base, idx, "vec_id",
      "embedding", dim = 64, m = 4, kCodes = 8, rounds = 1, nlist = 8)

    val mem = MemoryStream[(Long, Seq[Float])]
    val perBatch = scala.collection.mutable
      .Map.empty[Long, Set[(Long, Long, Double, Int)]]
    val q = Streaming.annMaintenanceStream(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      idx, cp, nprobe = 3, k = 5, shortlist = 20) { (nb, id) =>
      perBatch(id) = nb.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    }
    def feed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    mem.addData(feed(batch1): _*)
    q.processAllAvailable()
    mem.addData(feed(batch2): _*)
    q.processAllAvailable()
    q.stop()

    // batch-mode references against separately-maintained indexes
    def scanOf(idxPath: String, b: org.apache.spark.sql.DataFrame) =
      graft.operators.Similarity.ivfPqScanStored(spark, idxPath, b,
        "vec_id", "embedding", nprobe = 3, k = 5, shortlist = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    val refIdx = java.nio.file.Files
      .createTempDirectory("graft_stream_ann_ref").toString
    graft.operators.Similarity.writeIvfPqIndex(base, refIdx, "vec_id",
      "embedding", dim = 64, m = 4, kCodes = 8, rounds = 1, nlist = 8)
    val ref1 = scanOf(refIdx, batch1)
    graft.operators.Similarity.appendToIvfPqIndex(spark, refIdx,
      batch1, "vec_id", "embedding")
    val ref2 = scanOf(refIdx, batch2)
    assert(perBatch(0L) === ref1)
    assert(perBatch(1L) === ref2)
    assert(ref1.nonEmpty && ref2.nonEmpty)
    // batch 2's scan actually saw batch 1 through the append
    val unmaintainedIdx = java.nio.file.Files
      .createTempDirectory("graft_stream_ann_unmaint").toString
    graft.operators.Similarity.writeIvfPqIndex(base, unmaintainedIdx,
      "vec_id", "embedding", dim = 64, m = 4, kCodes = 8, rounds = 1,
      nlist = 8)
    assert(ref2 !== scanOf(unmaintainedIdx, batch2))
    // replay: the marker commits after the append, so re-running the
    // guarded append for an already-committed batchId is a no-op
    val rowsBefore = spark.read.parquet(idx).count()
    val countBefore = graft.config.Sidecar.long(
      graft.config.Sidecar.read(spark, idx, "test"), "count")
    assert(!Streaming.annAppendOnce(spark, idx, batch1.toDF(), "vec_id",
      "embedding", cp, 0L))
    assert(spark.read.parquet(idx).count() === rowsBefore)
    assert(graft.config.Sidecar.long(
      graft.config.Sidecar.read(spark, idx, "test"), "count")
      === countBefore)
    assert(countBefore === emb.count()) // exact arithmetic end-to-end
    // a NEW stream lineage (different checkpoint) is not blocked by
    // this lineage's markers
    val otherCp = java.nio.file.Files
      .createTempDirectory("graft_stream_ann_cp2").toString
    assert(Streaming.annAppendOnce(spark, idx,
      batch1.limit(0).toDF(), "vec_id", "embedding", otherCp, 0L))
  }

  test("annTakedownStream ≡ one batch delete of the union: a " +
    "micro-batched stream of takedown requests lands the stored ANN " +
    "index in the batch-delete state (scan-identical, count-exact), " +
    "and a replayed request batch deletes nothing") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val doomed1 = emb.filter($"vec_id" % 10 === 2).select("vec_id")
    val doomed2 = emb.filter($"vec_id" % 10 === 7).select("vec_id")
    val probeBatch = emb.filter($"vec_id" % 10 === 4)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_stream_anntd_idx").toString
    val cp = java.nio.file.Files
      .createTempDirectory("graft_stream_anntd_cp").toString
    graft.operators.Similarity.writeIvfPqIndex(emb, idx, "vec_id",
      "embedding", dim = 64, m = 4, kCodes = 8, rounds = 1, nlist = 8)

    val mem = MemoryStream[Long]
    val perBatch =
      scala.collection.mutable.Map.empty[Long, (Long, Long)]
    val q = Streaming.annTakedownStream(
      mem.toDF().toDF("vec_id"), idx, cp) { (nRows, nDirs, id) =>
      perBatch(id) = (nRows, nDirs)
    }
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSeq
    mem.addData(ids(doomed1): _*)
    q.processAllAvailable()
    mem.addData(ids(doomed2): _*)
    q.processAllAvailable()
    // replayed request batch: idempotent, deletes nothing
    mem.addData(ids(doomed1): _*)
    q.processAllAvailable()
    q.stop()

    assert(perBatch(0L)._1 === doomed1.count())
    assert(perBatch(1L)._1 === doomed2.count())
    assert(perBatch(2L) === ((0L, 0L)))
    // streaming micro-batches ≡ one batch delete of the union
    val refIdx = java.nio.file.Files
      .createTempDirectory("graft_stream_anntd_ref").toString
    graft.operators.Similarity.writeIvfPqIndex(emb, refIdx, "vec_id",
      "embedding", dim = 64, m = 4, kCodes = 8, rounds = 1, nlist = 8)
    graft.operators.Similarity.deleteFromIvfPqIndex(spark, refIdx,
      doomed1.unionByName(doomed2))
    def scanOf(idxPath: String) =
      graft.operators.Similarity.ivfPqScanStored(spark, idxPath,
        probeBatch, "vec_id", "embedding", nprobe = 3, k = 5,
        shortlist = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    assert(scanOf(idx) === scanOf(refIdx))
    assert(scanOf(idx).nonEmpty)
    def countOf(p: String) = graft.config.Sidecar.long(
      graft.config.Sidecar.read(spark, p, "test"), "count")
    assert(countOf(idx) === countOf(refIdx))
    assert(countOf(idx) ===
      emb.count() - doomed1.count() - doomed2.count())
  }

  test("corpusTakedownStream ≡ one batch delete of the union on a " +
    "NESTED-partitioned corpus table: micro-batched requests land the " +
    "table in the batch-delete state through the partition swap, with " +
    "per-batch compliance evidence, and a replayed batch deletes " +
    "nothing") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, pmod}
    def freshTable(): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_stream_corpus_td").toString
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select($"doc_id", $"n_chars")
        .withColumn("pa", pmod($"doc_id", lit(3)).cast("int"))
        .withColumn("pb", pmod($"doc_id" * 5, lit(4)).cast("int"))
        .repartition(12, col("pa"), col("pb"))
        .write.mode("overwrite").partitionBy("pa", "pb").parquet(dir)
      dir
    }
    def ids(path: String) = spark.read.parquet(path)
      .select("doc_id").as[Long].collect().toSet
    val all = ids(freshTable())
    val doomed1 = all.filter(_ % 10 == 2)
    val doomed2 = all.filter(_ % 10 == 7)

    val tbl = freshTable()
    val cp = java.nio.file.Files
      .createTempDirectory("graft_stream_corpus_td_cp").toString
    val mem = MemoryStream[Long]
    val perBatch =
      scala.collection.mutable.Map.empty[Long, (Long, Long)]
    val q = Streaming.corpusTakedownStream(
      mem.toDF().toDF("doc_id"), tbl, "doc_id", cp) { (r, d, id) =>
      perBatch(id) = (r, d)
    }
    mem.addData(doomed1.toSeq: _*)
    q.processAllAvailable()
    mem.addData(doomed2.toSeq: _*)
    q.processAllAvailable()
    // replayed request batch: idempotent, deletes nothing
    mem.addData(doomed1.toSeq: _*)
    q.processAllAvailable()
    q.stop()

    assert(perBatch(0L)._1 === doomed1.size.toLong)
    assert(perBatch(1L)._1 === doomed2.size.toLong)
    assert(perBatch(2L) === ((0L, 0L)))
    assert(perBatch(0L)._2 >= 1L && perBatch(0L)._2 <= 12L)
    // streaming micro-batches ≡ one batch delete of the union
    val refTbl = freshTable()
    graft.sinks.PartitionedSink.deletePartitionRowsByKey(spark, refTbl,
      "doc_id", (doomed1 ++ doomed2).toSeq.toDF("doc_id"))
    assert(ids(tbl) === ids(refTbl))
    assert(ids(tbl) === all -- doomed1 -- doomed2)
    assert(ids(tbl).nonEmpty)
  }

  test("appendOnce lineage is canonical-path keyed (trailing-slash and " +
    "scheme-qualified spellings of one checkpoint share markers) and a " +
    "long marker history prunes to the retention window with " +
    "replay-skip intact inside it and other lineages untouched") {
    import org.apache.hadoop.fs.Path
    val idx = java.nio.file.Files
      .createTempDirectory("graft_appendonce_idx").toString
    val cp = java.nio.file.Files
      .createTempDirectory("graft_appendonce_cp").toString
    val cp2 = java.nio.file.Files
      .createTempDirectory("graft_appendonce_cp2").toString
    var runs = 0
    def run(cpSpelling: String, batchId: Long): Boolean =
      Streaming.appendOnce(spark, idx, cpSpelling, batchId)(() =>
        runs += 1)
    assert(run(cp, 7L) && runs === 1)
    // the r11 ADVICE hazard: a restart spelling the same checkpoint
    // with a trailing slash or a file: scheme must NOT re-append
    assert(!run(cp + "/", 7L))
    assert(!run("file:" + cp, 7L))
    assert(runs === 1)
    // a second lineage's marker must survive the first one's pruning
    assert(run(cp2, 5L) && runs === 2)
    // long history: batchId 200 prunes this lineage's markers below
    // 200 - MarkerRetention = 72 (here: 0, 1, 7, 64)
    assert(run(cp, 0L) && run(cp, 1L) && run(cp, 64L))
    assert(run(cp, 200L) && runs === 6)
    val dir = new Path(idx, "_graft_batches")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val left = fs.listStatus(dir).map(_.getPath.getName).toSet
    assert(left.size === 2, s"markers after prune: $left") // cp:200 + cp2:5
    assert(left.exists(_.endsWith("-200")))
    assert(left.exists(_.endsWith("-5")))
    // replay-skip still holds for the retained window
    assert(!run(cp, 200L))
    assert(!run(cp2, 5L))
    assert(runs === 6)
    // markers written by a pre-canonicalization build (lineage =
    // sha of the RAW path) are still honored for skip — without this
    // the first resumed stream after an upgrade re-appends its
    // replayed batch
    val cp3 = java.nio.file.Files
      .createTempDirectory("graft_appendonce_cp3").toString
    val legacyLineage = java.security.MessageDigest
      .getInstance("SHA-256").digest(cp3.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
    fs.create(new Path(dir, s"$legacyLineage-9"), true).close()
    assert(!run(cp3, 9L)) // skipped via the legacy marker
    assert(run(cp3, 10L)) // a new batch still appends
    assert(runs === 7)
    // the retention window follows the session's minBatchesToRetain
    // when a deployment raises it past the 128 floor
    assert(Streaming.markerRetention(spark) === 128L)
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "300")
    try {
      assert(Streaming.markerRetention(spark) === 300L)
      assert(run(cp, 250L)) // floor = 250-300 < 0: nothing pruned
      assert(fs.listStatus(dir).map(_.getPath.getName)
        .exists(_.endsWith("-200")))
    } finally
      spark.conf.unset("spark.sql.streaming.minBatchesToRetain")
  }

  test("dedupMaintenanceStream's append is exactly-once: a replayed " +
    "guarded LSH append leaves the stored banded rows byte-identical " +
    "(no probe-I/O decay across restarts)") {
    import spark.implicits._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" % 5 =!= 0)
    val batch = docs.filter($"doc_id" % 5 === 0)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_lsh_once_idx").toString
    val cp = java.nio.file.Files
      .createTempDirectory("graft_lsh_once_cp").toString
    graft.operators.Dedup.writeBucketIndex(corpus, idx, "text",
      "doc_id", parts = 16)
    val rows0 = spark.read.parquet(idx).count()
    def guardedAppend(): Boolean =
      Streaming.appendOnce(spark, idx, cp, 0L)(() =>
        graft.operators.Dedup.appendToBucketIndex(spark, idx, batch,
          "text"))
    assert(guardedAppend())
    val rows1 = spark.read.parquet(idx).count()
    assert(rows1 > rows0)
    // replay of the same (lineage, batchId): marker-skipped no-op —
    // before r12 this re-appended the banded rows (correctness-safe
    // but probe I/O grew per restart until a compact)
    assert(!guardedAppend())
    assert(spark.read.parquet(idx).count() === rows1)
  }

  test("appendOnce legacy-marker sunset: a legacy-lineage skip " +
    "migrates the batch to the canonical namespace (legacy marker " +
    "deleted), stragglers are pruned by the retention sweep, and the " +
    "marker dir stays bounded (r12 verdict item 5)") {
    import org.apache.hadoop.fs.Path
    val idx = java.nio.file.Files
      .createTempDirectory("graft_sunset_idx").toString
    val cp = java.nio.file.Files
      .createTempDirectory("graft_sunset_cp").toString
    def sha8(s: String) = java.security.MessageDigest
      .getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
    val legacy = sha8(cp) // pre-canonicalization build hashed the RAW path
    val cpP = new Path(cp)
    val canonical = sha8(cpP
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(cpP).toString)
    assert(legacy !== canonical)
    val dir = new Path(idx, "_graft_batches")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a legacy-era history: batches 0..10 committed by the old build
    for (i <- 0 to 10)
      fs.create(new Path(dir, s"$legacy-$i"), true).close()
    var runs = 0
    def run(batchId: Long): Boolean =
      Streaming.appendOnce(spark, idx, cp, batchId)(() => runs += 1)
    def names: Set[String] =
      fs.listStatus(dir).map(_.getPath.getName).toSet
    // a restart replaying through the legacy history: every batch
    // skips (no re-append) AND migrates — legacy namespace drains
    for (i <- 0 to 10) assert(!run(i.toLong), s"batch $i must skip")
    assert(runs === 0)
    assert(!names.exists(_.startsWith(s"$legacy-")),
      s"legacy namespace must drain: $names")
    assert((0 to 10).forall(i => names.contains(s"$canonical-$i")))
    // skip still holds on a re-offer (now via the canonical marker)
    assert(!run(5L) && runs === 0)
    // new batches append under the canonical lineage only
    assert(run(11L) && runs === 1)
    // a legacy straggler older than the retention window is pruned by
    // the next committed append's sweep (legacy prefix included)
    fs.create(new Path(dir, s"$legacy-2"), true).close()
    assert(run(300L) && runs === 2) // floor = 300 - 128 = 172
    val left = names
    assert(!left.exists(_.startsWith(s"$legacy-")),
      s"straggler must be pruned: $left")
    assert(left === Set(s"$canonical-300"), s"bounded dir: $left")
  }

  test("dedupMaintenanceStream admission gate: an over-budget " +
    "mega-bucket doc is quarantined with evidence (not probed, not " +
    "appended), the admitted remainder flows probe→sink→append " +
    "unchanged, and the stream keeps draining (r12 verdict item 4)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val boiler = "the same boilerplate text repeated across this " +
      "corpus again and again verbatim"
    def uniq(i: Long) = s"unique document number $i carrying distinct " +
      s"content token$i alpha beta gamma delta epsilon zeta"
    val corpus = ((0L until 40L).map(i => (i, boiler)) ++
      (100L until 120L).map(i => (i, uniq(i)))).toDF("doc_id", "text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_admit_lsh_idx").toString
    val cp = java.nio.file.Files
      .createTempDirectory("graft_admit_lsh_cp").toString
    graft.operators.Dedup.writeBucketIndex(corpus, idx, "text",
      "doc_id", parts = 16)
    // batch 1: the boilerplate doc saturates its own bucket (est ≈
    // bucket population × bands); the dup of doc 100 shares only
    // singleton buckets — measure both ests batch-side and put the
    // budget between them, so the test pins the SPLIT, not a constant
    val batch1 = Seq((500L, boiler), (501L, uniq(100)))
      .toDF("doc_id", "text")
    val est = graft.operators.Dedup.probeAdmission(spark, idx, batch1,
      "text", "doc_id", Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(est(500L) > 4 * est(501L),
      s"fixture must separate the ests: $est")
    val budget = (est(500L) + est(501L)) / 2
    val mem = MemoryStream[(Long, String)]
    val perBatch =
      scala.collection.mutable.Map.empty[Long, Set[(Long, Long)]]
    val quarantined =
      scala.collection.mutable.Map.empty[Long, Set[(Long, Long)]]
    val q = Streaming.dedupMaintenanceStream(
      mem.toDF().toDF("doc_id", "text"), "text", "doc_id", idx, cp,
      admitBudget = budget,
      quarantine = (df, id) => quarantined(id) = df
        .select("doc_id", "est_candidates").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet) { (pairs, id) =>
      perBatch(id) = pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    mem.addData((500L, boiler), (501L, uniq(100)))
    q.processAllAvailable()
    // the stream keeps draining after a quarantine
    mem.addData((502L, uniq(110)))
    q.processAllAvailable()
    q.stop()
    // evidence: the mega-bucket doc, with its measured volume
    assert(quarantined(0L) === Set((500L, est(500L))))
    assert(!quarantined.contains(1L), "batch 2 has nothing over budget")
    // streaming ≡ batch over ADMITTED rows: a fresh index probed with
    // only the admitted doc yields batch 1's sink pairs
    val refIdx = java.nio.file.Files
      .createTempDirectory("graft_admit_lsh_ref").toString
    graft.operators.Dedup.writeBucketIndex(corpus, refIdx, "text",
      "doc_id", parts = 16)
    def pairsOf(b: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.incrementalCandidatesStored(spark, refIdx,
        b, "text", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ref1 = pairsOf(Seq((501L, uniq(100))).toDF("doc_id", "text"))
    assert(perBatch(0L) === ref1)
    assert(ref1.nonEmpty, "the admitted dup must pair with doc 100")
    // quarantined doc NOT appended; admitted docs are
    val idxIds = spark.read.parquet(idx).select("doc_id")
      .distinct().as[Long].collect().toSet
    assert(!idxIds.contains(500L), "quarantined doc must not grow the " +
      "bucket it already saturates")
    assert(idxIds.contains(501L) && idxIds.contains(502L))
  }

  test("annMaintenanceStream admission gate: a hot-cell query is " +
    "quarantined with its exact scan volume (not scanned, not " +
    "appended), admitted vectors flow scan→sink→append unchanged " +
    "(r12 verdict item 4)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // skewed corpus: 199 vectors in a tight cluster around e1, 21
    // around e2 — the e1 cell is the hot one. Lloyd seeds from ids
    // 0..nlist-1, so id 0 sits in cluster A and id 1 in cluster B
    // (one seed per cluster ⇒ the 2-means split is the cluster split)
    def jitter(base: Array[Float], i: Int): Seq[Float] =
      base.zipWithIndex.map { case (v, j) =>
        v + ((i * 31 + j * 7) % 13 - 6) * 1e-3f }.toSeq
    val e1 = Array.tabulate(8)(j => if (j == 0) 1f else 0f)
    val e2 = Array.tabulate(8)(j => if (j == 1) 1f else 0f)
    val vecs: Seq[Seq[Float]] = jitter(e1, 0) +: jitter(e2, 1) +:
      (((2 until 200).map(jitter(e1, _)) ++
        (200 until 220).map(jitter(e2, _))): Seq[Seq[Float]])
    val corpus = vecs.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_admit_ann_idx").toString
    val cp = java.nio.file.Files
      .createTempDirectory("graft_admit_ann_cp").toString
    graft.operators.Similarity.writeIvfPqIndex(corpus, idx, "vec_id",
      "embedding", dim = 8, m = 2, kCodes = 4, rounds = 2, nlist = 2)
    val batch1 = Seq((500L, jitter(e1, 500)), (501L, jitter(e2, 501)))
      .toDF("vec_id", "embedding")
    // measure the per-query scan volumes and split them with the budget
    val est = graft.operators.Similarity.scanAdmission(spark, idx,
      batch1, "vec_id", "embedding", nprobe = 1, budget = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(est(500L) > 2 * est(501L),
      s"fixture must separate the cells: $est")
    val budget = (est(500L) + est(501L)) / 2
    // batch-mode reference for the admitted query, against the index
    // AS BATCH 1 SEES IT (pre-append) — computed before the stream
    // mutates it
    val ref1 = graft.operators.Similarity.ivfPqScanStored(spark, idx,
      Seq((501L, jitter(e2, 501))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", nprobe = 1, k = 3, shortlist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mem = MemoryStream[(Long, Seq[Float])]
    val perBatch = scala.collection.mutable
      .Map.empty[Long, Set[(Long, Long)]]
    val quarantined = scala.collection.mutable
      .Map.empty[Long, Set[(Long, Long)]]
    val q = Streaming.annMaintenanceStream(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      idx, cp, nprobe = 1, k = 3, shortlist = 10, admitBudget = budget,
      quarantine = (df, id) => quarantined(id) = df
        .select("vec_id", "est_rows").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet) { (nb, id) =>
      perBatch(id) = nb.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val count0 = graft.config.Sidecar.long(
      graft.config.Sidecar.read(spark, idx, "test"), "count")
    mem.addData((500L, jitter(e1, 500)), (501L, jitter(e2, 501)))
    q.processAllAvailable()
    mem.addData((502L, jitter(e2, 502))) // stream keeps draining
    q.processAllAvailable()
    q.stop()
    assert(quarantined(0L) === Set((500L, est(500L))))
    assert(!quarantined.contains(1L))
    // neighbors were produced for the admitted query only, and match
    // the batch-mode stored scan over the pre-append index exactly
    assert(perBatch(0L) === ref1)
    assert(perBatch(0L).map(_._1) === Set(501L))
    // quarantined vector never appended: the count grew by the two
    // ADMITTED vectors exactly
    val count2 = graft.config.Sidecar.long(
      graft.config.Sidecar.read(spark, idx, "test"), "count")
    assert(count2 === count0 + 2)
    val idxIds = spark.read.parquet(idx).select("neighbor_id")
      .distinct().as[Long].collect().toSet
    assert(!idxIds.contains(500L))
    assert(idxIds.contains(501L) && idxIds.contains(502L))
  }

  test("quarantineStore makes quarantine evidence exactly-once: a " +
    "replayed over-budget batch skips both the store append and the " +
    "callback; the store read-back carries the original evidence " +
    "(r13: closes the at-least-once quarantine-delivery bound)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val boiler = "the same boilerplate text repeated across this " +
      "corpus again and again verbatim"
    def uniq(i: Long) = s"unique document number $i carrying distinct " +
      s"content token$i alpha beta gamma delta epsilon zeta"
    val corpus = ((0L until 40L).map(i => (i, boiler)) ++
      (100L until 120L).map(i => (i, uniq(i)))).toDF("doc_id", "text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_qstore_idx").toString
    val cp = java.nio.file.Files
      .createTempDirectory("graft_qstore_cp").toString
    val store = java.nio.file.Files
      .createTempDirectory("graft_qstore_evidence").toString
    graft.operators.Dedup.writeBucketIndex(corpus, idx, "text",
      "doc_id", parts = 16)
    val est = graft.operators.Dedup.probeAdmission(spark, idx,
      Seq((500L, boiler), (501L, uniq(100))).toDF("doc_id", "text"),
      "text", "doc_id", Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val budget = (est(500L) + est(501L)) / 2
    var calls = 0
    def runOnce(): Unit = {
      val mem = MemoryStream[(Long, String)]
      val q = Streaming.dedupMaintenanceStream(
        mem.toDF().toDF("doc_id", "text"), "text", "doc_id", idx, cp,
        admitBudget = budget,
        quarantine = (_, _) => calls += 1,
        quarantineStore = Some(store)) { (_, _) => () }
      mem.addData((500L, boiler), (501L, uniq(100)))
      q.processAllAvailable()
      q.stop()
    }
    runOnce()
    assert(calls === 1)
    val stored0 = graft.sinks.QuarantineStore.read(spark, store).get
      .select("doc_id", "est_candidates").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored0 === Set((500L, est(500L))),
      "the store carries the evidence row with its measured volume")
    // the replay a crash-before-checkpoint-commit produces: wipe the
    // checkpoint so batch 0 re-offers under the SAME canonical lineage
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(cp), true))
    runOnce()
    assert(calls === 1,
      "a replayed batch must not re-deliver quarantine evidence")
    val stored1 = graft.sinks.QuarantineStore.read(spark, store).get
      .select("doc_id", "est_candidates").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored1 === stored0, "the original evidence stands")
    // direct replay of the key: append refuses, rows unchanged (the
    // frame carries the store's pinned 3-column shape — r14's schema
    // pin fires BEFORE the replay skip, so a short frame would be a
    // loud mismatch, not a quiet false)
    assert(!graft.sinks.QuarantineStore.append(spark, store,
      Streaming.canonicalLineage(spark, cp), 0L,
      Seq((999L, "zzz", 999L)).toDF("doc_id", "text",
        "est_candidates")))
    // at-least-once callback: a crash BETWEEN the callback and the
    // store append (evidence file never landed) must re-offer BOTH on
    // replay — simulate by deleting the recorded file + checkpoint
    val lin = Streaming.canonicalLineage(spark, cp)
    assert(fs.delete(new org.apache.hadoop.fs.Path(store,
      s"$lin-0.parquet"), false))
    assert(fs.delete(new org.apache.hadoop.fs.Path(cp), true))
    runOnce()
    assert(calls === 2,
      "an unrecorded replay must re-fire the callback (at-least-once)")
    assert(graft.sinks.QuarantineStore.recorded(spark, store, lin, 0L),
      "and the evidence must land")
    // recover sweeps a crashed inflight dir and loses nothing final
    fs.mkdirs(new org.apache.hadoop.fs.Path(store, ".inflight-crashed"))
    assert(graft.sinks.QuarantineStore.recover(spark, store) ===
      Seq(".inflight-crashed"))
    assert(graft.sinks.QuarantineStore.read(spark, store).get.count() === 1)
    // an empty store reads as None, not an error
    val empty = java.nio.file.Files
      .createTempDirectory("graft_qstore_empty").toString
    assert(graft.sinks.QuarantineStore.read(spark, empty).isEmpty)
  }

  test("simhashMaintenanceStream (r14): the SimHash family's streaming " +
    "loop — streaming ≡ batch probes across micro-batches, the " +
    "marker-guarded append skips a replay, and the admission gate " +
    "quarantines a sketch-saturating doc with its measured volume") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val boiler = "the same boilerplate text repeated across this " +
      "corpus again and again verbatim"
    def uniq(i: Long) = s"unique document number $i carrying distinct " +
      s"content token$i alpha beta gamma delta epsilon zeta"
    val corpus = ((0L until 40L).map(i => (i, boiler)) ++
      (100L until 120L).map(i => (i, uniq(i)))).toDF("doc_id", "text")
    def mk(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val (idx, cp) = (mk("graft_shstream_idx"), mk("graft_shstream_cp"))
    graft.operators.Dedup.writeSimhashIndex(corpus, idx, "text",
      "doc_id")
    // batch-mode references against the index AS EACH BATCH SEES IT
    def ref(b: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.incrementalSimhashStored(spark, idx, b,
        "text", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b1 = Seq((500L, uniq(100))).toDF("doc_id", "text")
    val b2 = Seq((501L, uniq(100))).toDF("doc_id", "text")
    val ref1 = ref(b1)
    assert(ref1.nonEmpty, "the dup must pair with doc 100")
    val mem = MemoryStream[(Long, String)]
    val perBatch =
      scala.collection.mutable.Map.empty[Long, Set[(Long, Long)]]
    val q = Streaming.simhashMaintenanceStream(
      mem.toDF().toDF("doc_id", "text"), "text", "doc_id", idx, cp) {
      (pairs, id) =>
        perBatch(id) = pairs.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    mem.addData((500L, uniq(100)))
    q.processAllAvailable()
    // batch 2's probe must see batch 1's appended doc 500
    mem.addData((501L, uniq(100)))
    q.processAllAvailable()
    q.stop()
    assert(perBatch(0L) === ref1)
    assert(perBatch(1L).map(_._2).contains(500L),
      "the second micro-batch must pair with the first's appended doc")
    assert(perBatch(1L) === ref(b2),
      "streaming ≡ batch against the grown index")
    // exactly-once: a direct replayed append is a no-op
    assert(!Streaming.appendOnce(spark, idx, cp, 0L)(() =>
      fail("replayed batch must not re-append")))
    // admission: a boilerplate doc saturates its own sketch cells
    // (identical text → identical sketch → 40-deep band buckets)
    val est = graft.operators.Dedup.simhashAdmission(spark, idx,
      Seq((600L, boiler), (601L, uniq(110))).toDF("doc_id", "text"),
      "text", "doc_id", Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // uniq docs share most filler tokens, so their sketches are close
    // and their band cells overlap — a 3x margin still splits cleanly
    assert(est(600L) > 3 * est(601L),
      s"fixture must separate the ests: $est")
    val budget = (est(600L) + est(601L)) / 2
    val (cp2, mem2) = (mk("graft_shstream_cp2"),
      MemoryStream[(Long, String)])
    val quarantined =
      scala.collection.mutable.Map.empty[Long, Set[(Long, Long)]]
    val q2 = Streaming.simhashMaintenanceStream(
      mem2.toDF().toDF("doc_id", "text"), "text", "doc_id", idx, cp2,
      admitBudget = budget,
      quarantine = (df, id) => quarantined(id) = df
        .select("doc_id", "est_candidates").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet) { (_, _) => () }
    mem2.addData((600L, boiler), (601L, uniq(110)))
    q2.processAllAvailable()
    q2.stop()
    assert(quarantined(0L) === Set((600L, est(600L))))
    val idxIds = spark.read.parquet(idx).select("doc_id")
      .distinct().as[Long].collect().toSet
    assert(!idxIds.contains(600L),
      "the saturating doc must not grow the cells it saturates")
    assert(idxIds.contains(601L) && idxIds.contains(500L) &&
      idxIds.contains(501L))
  }

  test("quarantine incident drill, LSH family (r14, r13 verdict item " +
    "4): over-budget doc quarantined → read back from the store → " +
    "re-admitted via the plain append API → the index converges to " +
    "probe parity with a never-quarantined control") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val boiler = "the same boilerplate text repeated across this " +
      "corpus again and again verbatim"
    def uniq(i: Long) = s"unique document number $i carrying distinct " +
      s"content token$i alpha beta gamma delta epsilon zeta"
    val corpus = ((0L until 40L).map(i => (i, boiler)) ++
      (100L until 120L).map(i => (i, uniq(i)))).toDF("doc_id", "text")
    def mk(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val (idx, ctl, cp, store) = (mk("graft_drill_lsh_idx"),
      mk("graft_drill_lsh_ctl"), mk("graft_drill_lsh_cp"),
      mk("graft_drill_lsh_store"))
    graft.operators.Dedup.writeBucketIndex(corpus, idx, "text",
      "doc_id", parts = 16)
    val batch = Seq((500L, boiler), (501L, uniq(100)))
      .toDF("doc_id", "text")
    val est = graft.operators.Dedup.probeAdmission(spark, idx, batch,
      "text", "doc_id", Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val q = Streaming.dedupMaintenanceStream(
      { val m = MemoryStream[(Long, String)]
        m.addData((500L, boiler), (501L, uniq(100)))
        m.toDF().toDF("doc_id", "text") },
      "text", "doc_id", idx, cp,
      admitBudget = (est(500L) + est(501L)) / 2,
      quarantineStore = Some(store)) { (_, _) => () }
    q.processAllAvailable(); q.stop()
    // the incident: read the evidence back — full doc columns, so the
    // reviewer holds everything re-admission needs
    val held = graft.sinks.QuarantineStore.read(spark, store).get
    assert(held.count() === 1 &&
      held.select("doc_id").as[Long].head() === 500L)
    // review decision: re-admit via the documented plain append
    graft.operators.Dedup.appendToBucketIndex(spark, idx,
      held.select($"doc_id", $"text"), "text")
    // control: the same corpus + batch with NO gate in the way
    graft.operators.Dedup.writeBucketIndex(corpus, ctl, "text",
      "doc_id", parts = 16)
    graft.operators.Dedup.appendToBucketIndex(spark, ctl, batch, "text")
    // probe parity: a fresh boilerplate dup AND a fresh unique dup
    // see identical candidate sets through both indexes
    val probe = Seq((900L, boiler), (901L, uniq(101)))
      .toDF("doc_id", "text")
    def pairs(path: String) = graft.operators.Dedup
      .incrementalCandidatesStored(spark, path, probe, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (got, want) = (pairs(idx), pairs(ctl))
    assert(got === want, s"drill index diverged: ${got.diff(want)} / " +
      s"${want.diff(got)}")
    assert(got.exists(p => p._1 === 500L || p._2 === 500L),
      "the re-admitted doc must be probe-visible")
  }

  test("quarantine incident drill, ANN family (r14, r13 verdict item " +
    "4): over-budget vector quarantined → read back → re-admitted " +
    "via appendToIvfPqIndex → scan parity and count parity with a " +
    "never-quarantined control") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def jitter(base: Array[Float], i: Int): Seq[Float] =
      base.zipWithIndex.map { case (v, j) =>
        v + ((i * 31 + j * 7) % 13 - 6) * 1e-3f }.toSeq
    val e1 = Array.tabulate(8)(j => if (j == 0) 1f else 0f)
    val e2 = Array.tabulate(8)(j => if (j == 1) 1f else 0f)
    val vecs: Seq[Seq[Float]] = jitter(e1, 0) +: jitter(e2, 1) +:
      (((2 until 200).map(jitter(e1, _)) ++
        (200 until 220).map(jitter(e2, _))): Seq[Seq[Float]])
    val corpus = vecs.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
    def mk(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val (idx, ctl, cp, store) = (mk("graft_drill_ann_idx"),
      mk("graft_drill_ann_ctl"), mk("graft_drill_ann_cp"),
      mk("graft_drill_ann_store"))
    for (p <- Seq(idx, ctl))
      graft.operators.Similarity.writeIvfPqIndex(corpus, p, "vec_id",
        "embedding", dim = 8, m = 2, kCodes = 4, rounds = 2, nlist = 2)
    val batch = Seq((500L, jitter(e1, 500)), (501L, jitter(e2, 501)))
      .toDF("vec_id", "embedding")
    val est = graft.operators.Similarity.scanAdmission(spark, idx,
      batch, "vec_id", "embedding", nprobe = 1, budget = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val q = Streaming.annMaintenanceStream(
      { val m = MemoryStream[(Long, Seq[Float])]
        m.addData((500L, jitter(e1, 500)), (501L, jitter(e2, 501)))
        m.toDF().toDF("vec_id", "embedding") },
      "vec_id", "embedding", idx, cp, nprobe = 1, k = 3,
      shortlist = 10, admitBudget = (est(500L) + est(501L)) / 2,
      quarantineStore = Some(store)) { (_, _) => () }
    q.processAllAvailable(); q.stop()
    val held = graft.sinks.QuarantineStore.read(spark, store).get
    assert(held.count() === 1 &&
      held.select("vec_id").as[Long].head() === 500L)
    // re-admit the held vector — its embedding column round-tripped
    // the store's parquet exactly, so the documented repair is one
    // plain append of the read-back
    graft.operators.Similarity.appendToIvfPqIndex(spark, idx,
      held.select($"vec_id", $"embedding"), "vec_id", "embedding")
    graft.operators.Similarity.appendToIvfPqIndex(spark, ctl, batch,
      "vec_id", "embedding")
    // count parity: both sidecars agree the corpus grew by 2
    def countOf(p: String) = graft.config.Sidecar.long(
      graft.config.Sidecar.read(spark, p, "test"), "count")
    assert(countOf(idx) === countOf(ctl))
    // scan parity: probes into both cells see identical neighbors
    val probe = Seq((900L, jitter(e1, 900)), (901L, jitter(e2, 901)))
      .toDF("vec_id", "embedding")
    def scan(p: String) = graft.operators.Similarity.ivfPqScanStored(
      spark, p, probe, "vec_id", "embedding", nprobe = 1, k = 5,
      shortlist = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val (got, want) = (scan(idx), scan(ctl))
    assert(got === want, s"drill index diverged: ${got.diff(want)} / " +
      s"${want.diff(got)}")
    // the re-admitted vector is index-visible (top-k membership under
    // PQ-quantized scores over a 200-vector cell is tie-prone, so the
    // visibility check reads the encoded rows, parity checks the scan)
    val ids = spark.read.parquet(idx).select("neighbor_id")
      .as[Long].collect().toSet
    assert(ids.contains(500L),
      "the re-admitted vector must be encoded in the index")
  }
}
