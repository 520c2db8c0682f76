package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexCompact, Similarity}
import graft.sinks.PartitionedSink
import graft.streaming.Streaming

/** Crash-recovery fsck (r10 verdict item 1): the maintenance swaps
  * must leave every row reachable at every instant and
  * `IndexCompact.recover` / `PartitionedSink.recoverTable` must roll a
  * crash at ANY intermediate state forward (committed — manifest / old
  * root moved aside) or back (uncommitted), idempotently. The spec
  * simulates the on-disk layout of each state (the swap protocol is a
  * sequence of FileSystem renames, so the states are enumerable) and
  * asserts the recovered index is probe-identical to a clean run. */
class RecoverySpec extends SparkSpec {
  import spark.implicits._

  private val fs = new Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rowsOf(path: String): Set[(Long, Int)] =
    spark.read.parquet(path).select(col("id"), col("p").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet

  private def noSiblings(path: String): Unit = {
    val root = new Path(path)
    for (sfx <- Seq(".compact_tmp", ".delete_tmp", ".swap_old"))
      assert(!fs.exists(new Path(root.getParent, root.getName + sfx)),
        s"leftover $sfx after recovery")
  }

  /** A tiny partitioned fixture table + sidecar: p=0..3, ids 0..39;
    * deleting ids 10..19 (all of p=1's low half) partially empties p=1
    * and deleting 20..29 fully empties p=2 — one `replace`, one
    * `remove`, two untouched dirs. */
  private def freshFixture(): String = {
    val dir = tmpDir("graft_recovery_fixture")
    (0L until 40L).toDF("id").withColumn("p", (col("id") / 10).cast("int"))
      .repartition(4, col("p"))
      .write.mode(SaveMode.Overwrite).partitionBy("p").parquet(dir)
    val meta = graft.config.Sidecar.newNode()
    meta.put("idCol", "id")
    graft.config.Sidecar.write(spark, dir, meta)
    dir
  }
  private val fixtureAll = (0L until 40L).map(i => (i, (i / 10).toInt)).toSet
  private val fixtureKept = fixtureAll.filterNot { case (i, _) =>
    (i >= 13 && i < 20) || (i >= 20 && i < 30) }
  private val delIds = ((13L until 20L) ++ (20L until 30L)).toDF("id")

  /** Constructs the COMMITTED crash state on `dir`: `.delete_tmp`
    * holding the rewritten p=1 slice (p=2 writes nothing — fully
    * emptied) plus the swap manifest, root untouched — exactly the
    * operator's layout the instant after its commit point. */
  private def commitUncrashedTmp(dir: String): (Path, Path, Path) = {
    val root = new Path(dir)
    val tmp = new Path(root.getParent, root.getName + ".delete_tmp")
    val old = new Path(root.getParent, root.getName + ".swap_old")
    spark.read.parquet(dir)
      .where(col("p").isin(1, 2))
      .where(!col("id").isin((13L until 30L).map(Long.box): _*))
      .repartition(2, col("p"))
      .write.mode(SaveMode.Overwrite).partitionBy("p").parquet(tmp.toString)
    val m = graft.config.Sidecar.newNode()
    val r = m.putArray("replace"); r.add("p=1")
    val d = m.putArray("remove"); d.add("p=2")
    graft.config.Sidecar.writeNode(spark,
      new Path(tmp, IndexCompact.SwapManifest), m)
    (root, tmp, old)
  }

  test("recover mechanics: clean delete baseline + healthy recover is " +
    "a no-op with an empty action log") {
    val dir = freshFixture()
    val (n, d) = IndexCompact.deleteMatching(spark, dir, "test", "id",
      delIds)
    assert(n === 17L && d === 2L)
    assert(rowsOf(dir) === fixtureKept)
    noSiblings(dir)
    assert(IndexCompact.recover(spark, dir).isEmpty)
    assert(rowsOf(dir) === fixtureKept)
  }

  test("recover mechanics: UNCOMMITTED crash (temp written, no " +
    "manifest) rolls BACK — the live table is untouched") {
    val dir = freshFixture()
    val (root, tmp, _) = commitUncrashedTmp(dir)
    fs.delete(new Path(tmp, IndexCompact.SwapManifest), false)
    val log = IndexCompact.recover(spark, dir)
    assert(log.exists(_.contains("reverted")), log.mkString("; "))
    assert(rowsOf(dir) === fixtureAll)
    noSiblings(dir)
    assert(fs.exists(root))
  }

  test("recover mechanics: COMMITTED crash states all roll FORWARD to " +
    "the clean-delete end state — before any rename, mid-replace " +
    "(aside done, swap-in not), after replace before remove, and " +
    "after all renames with leftovers") {
    // state B: manifest written, no renames yet
    val b = freshFixture(); commitUncrashedTmp(b)
    // state C1: p=1 renamed aside, replacement NOT yet renamed in
    val c1 = freshFixture()
    val (r1, t1, o1) = commitUncrashedTmp(c1)
    fs.mkdirs(o1)
    assert(fs.rename(new Path(r1, "p=1"), new Path(o1, "p=1")))
    // state C2: p=1 fully swapped, removal of p=2 not yet done
    val c2 = freshFixture()
    val (r2, t2, o2) = commitUncrashedTmp(c2)
    fs.mkdirs(o2)
    assert(fs.rename(new Path(r2, "p=1"), new Path(o2, "p=1")))
    assert(fs.rename(new Path(t2, "p=1"), new Path(r2, "p=1")))
    // state D: every rename done, .swap_old and .delete_tmp left behind
    val dD = freshFixture()
    val (r3, t3, o3) = commitUncrashedTmp(dD)
    fs.mkdirs(o3)
    assert(fs.rename(new Path(r3, "p=1"), new Path(o3, "p=1")))
    assert(fs.rename(new Path(t3, "p=1"), new Path(r3, "p=1")))
    assert(fs.rename(new Path(r3, "p=2"), new Path(o3, "p=2")))
    for (dir <- Seq(b, c1, c2, dD)) {
      val log = IndexCompact.recover(spark, dir)
      assert(log.exists(_.contains("rolled forward")), log.mkString("; "))
      assert(rowsOf(dir) === fixtureKept, s"state at $dir")
      noSiblings(dir)
      // idempotent: a second recover finds a healthy table
      assert(IndexCompact.recover(spark, dir).isEmpty)
      assert(rowsOf(dir) === fixtureKept)
    }
  }

  test("recover mechanics: EXHAUSTIVE crash-point enumeration — the " +
    "committed swap is a fixed sequence of five filesystem ops, and " +
    "recovery converges to the clean end state from every prefix") {
    // the applySwap op sequence for this fixture (replace=[p=1],
    // remove=[p=2]): aside p=1, swap-in p=1, aside p=2, delete old,
    // delete tmp — a crash can land between any two
    for (k <- 0 to 5) {
      val dir = freshFixture()
      val (root, tmp, old) = commitUncrashedTmp(dir)
      val ops: Seq[() => Unit] = Seq(
        () => { fs.mkdirs(old)
          assert(fs.rename(new Path(root, "p=1"), new Path(old, "p=1"))) },
        () => assert(fs.rename(new Path(tmp, "p=1"), new Path(root, "p=1"))),
        () => assert(fs.rename(new Path(root, "p=2"), new Path(old, "p=2"))),
        () => fs.delete(old, true),
        () => fs.delete(tmp, true))
      ops.take(k).foreach(_.apply())
      IndexCompact.recover(spark, dir)
      assert(rowsOf(dir) === fixtureKept, s"crash after op $k")
      noSiblings(dir)
      assert(IndexCompact.recover(spark, dir).isEmpty, s"idempotence after op $k")
    }
  }

  test("recover mechanics: an orphan .swap_old restores only names " +
    "the live tree lost and drops superseded copies") {
    val dir = freshFixture()
    val root = new Path(dir)
    val old = new Path(root.getParent, root.getName + ".swap_old")
    fs.mkdirs(old)
    // superseded copy: p=1 exists live, the aside copy must be dropped
    // (cloning the live dir stands in for the pre-swap version)
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(root, "p=1"),
      fs, new Path(old, "p=1"), false,
      spark.sparkContext.hadoopConfiguration)
    // stranded dir: p=3 renamed aside with no live replacement
    assert(fs.rename(new Path(root, "p=3"), new Path(old, "p=3")))
    val log = IndexCompact.recover(spark, dir)
    assert(log.exists(_.contains("restored p=3")), log.mkString("; "))
    assert(rowsOf(dir) === fixtureAll)
    noSiblings(dir)
  }

  test("bucket index: a delete crashed mid-swap + recoverBucketIndex " +
    "probes identically to the clean deleteFromBucketIndex run") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val batch = docs.filter($"doc_id" % 5 === 2)
    val corpus = docs.filter($"doc_id" % 5 =!= 2)
    val doomed = corpus.filter($"doc_id" % 7 === 3).select("doc_id")
    def pairs(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // clean run: build, delete, probe
    val clean = tmpDir("graft_recover_bucket_clean")
    Dedup.writeBucketIndex(corpus, clean, "text", "doc_id", parts = 16)
    Dedup.deleteFromBucketIndex(spark, clean, doomed)
    val expected = pairs(Dedup.incrementalCandidatesStored(spark, clean,
      batch, "text", "doc_id"))
    assert(expected.nonEmpty)
    // crashed run: same delete's temp layout, swap half-applied
    val crash = tmpDir("graft_recover_bucket_crash")
    Dedup.writeBucketIndex(corpus, crash, "text", "doc_id", parts = 16)
    val root = new Path(crash)
    val tmp = new Path(root.getParent, root.getName + ".delete_tmp")
    val old = new Path(root.getParent, root.getName + ".swap_old")
    val doomedIds = doomed.as[Long].collect().toSeq
    val idx = spark.read.parquet(crash)
    val touched = idx.where(col("doc_id").isin(doomedIds.map(Long.box): _*))
      .select("bpart").distinct().as[Int].collect().toSeq.sorted
    assert(touched.size >= 2, "fixture needs ≥2 touched bparts")
    idx.where(col("bpart").isin(touched.map(Int.box): _*))
      .where(!col("doc_id").isin(doomedIds.map(Long.box): _*))
      .repartition(touched.size, col("bpart"))
      .write.mode(SaveMode.Overwrite).partitionBy("bpart")
      .parquet(tmp.toString)
    val names = touched.map(v => s"bpart=$v")
    val (rep, rem) = names.partition(n => fs.exists(new Path(tmp, n)))
    val m = graft.config.Sidecar.newNode()
    val ra = m.putArray("replace"); rep.foreach(ra.add)
    val da = m.putArray("remove"); rem.foreach(da.add)
    graft.config.Sidecar.writeNode(spark,
      new Path(tmp, IndexCompact.SwapManifest), m)
    // crash mid-swap: first touched dir renamed aside only
    fs.mkdirs(old)
    assert(fs.rename(new Path(root, rep.head), new Path(old, rep.head)))
    val log = Dedup.recoverBucketIndex(spark, crash)
    assert(log.exists(_.contains("rolled forward")), log.mkString("; "))
    val recovered = pairs(Dedup.incrementalCandidatesStored(spark, crash,
      batch, "text", "doc_id"))
    assert(recovered === expected)
    noSiblings(crash)
  }

  test("IVF-PQ index: a delete crashed mid-swap + recoverIvfPqIndex " +
    "scans identically to the clean deleteFromIvfPqIndex run, and the " +
    "post-recovery recount repins the sidecar corpus count") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" < 5)
    val doomed = emb.filter($"vec_id" % 9 === 4).select("vec_id")
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val clean = tmpDir("graft_recover_ivfpq_clean")
    Similarity.writeIvfPqIndex(emb, clean, "vec_id", "embedding",
      dim = 64, m = 4, kCodes = 8, rounds = 1, nlist = 8)
    Similarity.deleteFromIvfPqIndex(spark, clean, doomed)
    val expected = rows(Similarity.ivfPqScanStored(spark, clean, queries,
      "vec_id", "embedding", nprobe = 3, k = 5, shortlist = 20))
    assert(expected.nonEmpty)
    val cleanCount = graft.config.Sidecar.long(
      graft.config.Sidecar.read(spark, clean, "test"), "count")
    // crashed run
    val crash = tmpDir("graft_recover_ivfpq_crash")
    Similarity.writeIvfPqIndex(emb, crash, "vec_id", "embedding",
      dim = 64, m = 4, kCodes = 8, rounds = 1, nlist = 8)
    val root = new Path(crash)
    val tmp = new Path(root.getParent, root.getName + ".delete_tmp")
    val old = new Path(root.getParent, root.getName + ".swap_old")
    val doomedIds = doomed.as[Long].collect().toSeq
    val idx = spark.read.parquet(crash)
    val touched = idx
      .where(col("neighbor_id").isin(doomedIds.map(Long.box): _*))
      .select("cell").distinct().as[Int].collect().toSeq.sorted
    assert(touched.nonEmpty)
    idx.where(col("cell").isin(touched.map(Int.box): _*))
      .where(!col("neighbor_id").isin(doomedIds.map(Long.box): _*))
      .repartition(touched.size, col("cell"))
      .write.mode(SaveMode.Overwrite).partitionBy("cell")
      .parquet(tmp.toString)
    val names = touched.map(v => s"cell=$v")
    val (rep, rem) = names.partition(n => fs.exists(new Path(tmp, n)))
    val m2 = graft.config.Sidecar.newNode()
    val ra = m2.putArray("replace"); rep.foreach(ra.add)
    val da = m2.putArray("remove"); rem.foreach(da.add)
    graft.config.Sidecar.writeNode(spark,
      new Path(tmp, IndexCompact.SwapManifest), m2)
    fs.mkdirs(old)
    assert(fs.rename(new Path(root, rep.head), new Path(old, rep.head)))
    val log = Similarity.recoverIvfPqIndex(spark, crash)
    assert(log.exists(_.contains("rolled forward")), log.mkString("; "))
    val recovered = rows(Similarity.ivfPqScanStored(spark, crash, queries,
      "vec_id", "embedding", nprobe = 3, k = 5, shortlist = 20))
    assert(recovered === expected)
    noSiblings(crash)
    // the crash happened before the family wrapper's count update, so
    // recover recounts (rare path — exactness over the recount cost)
    val crashCount = graft.config.Sidecar.long(
      graft.config.Sidecar.read(spark, crash, "test"), "count")
    assert(crashCount === cleanCount)
  }

  test("IVF-PQ append crash window: a crash between the parquet append " +
    "and the sidecar count update leaves NO swap leftovers — the " +
    "intent marker is what recoverIvfPqIndex repins from, closing the " +
    "silent-understatement window (r11 ADVICE)") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val base = emb.filter($"vec_id" < 400)
    val batch = emb.filter($"vec_id" >= 400)
    val idx = tmpDir("graft_recover_ivfpq_append")
    Similarity.writeIvfPqIndex(base, idx, "vec_id", "embedding",
      dim = 64, m = 4, kCodes = 8, rounds = 1, nlist = 8)
    val preMeta = graft.config.Sidecar.read(spark, idx, "test")
    val staleCount = graft.config.Sidecar.long(preMeta, "count")
    // real append, then rewind the sidecar to its pre-append state and
    // drop the intent marker back in — byte-for-byte the on-disk state
    // a crash between the parquet write and the sidecar update leaves
    Similarity.appendToIvfPqIndex(spark, idx, batch, "vec_id",
      "embedding")
    graft.config.Sidecar.write(spark, idx, preMeta
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]())
    val marker = new Path(idx, Similarity.AppendIntentMarker)
    fs.create(marker, true).close()
    val log = Similarity.recoverIvfPqIndex(spark, idx)
    assert(log.exists(_.contains("intent")), log.mkString("; "))
    val repinned = graft.config.Sidecar.long(
      graft.config.Sidecar.read(spark, idx, "test"), "count")
    assert(repinned === spark.read.parquet(idx).count())
    assert(repinned === emb.count())
    assert(repinned !== staleCount)
    assert(!fs.exists(marker))
    // idempotent: a healthy index recovers to an empty action log
    assert(Similarity.recoverIvfPqIndex(spark, idx).isEmpty)
    noSiblings(idx)
    // the happy path never leaves a marker behind
    Similarity.appendToIvfPqIndex(spark, idx,
      batch.limit(0), "vec_id", "embedding")
    assert(!fs.exists(marker))
  }

  test("corpus table: recoverTable rolls the whole-root swap forward " +
    "when the root vanished mid-swap, restores from .delete_old as a " +
    "last resort, and cleans stale siblings beside a live root") {
    def freshTable(): String = {
      val dir = tmpDir("graft_recover_corpus")
      (0L until 30L).toDF("id").withColumn("v", col("id") * 2)
        .write.mode(SaveMode.Overwrite).parquet(dir)
      dir
    }
    def ids(path: String) =
      spark.read.parquet(path).select("id").as[Long].collect().toSet
    val del = Seq(3L, 7L, 11L).toDF("id")
    val expected = (0L until 30L).toSet -- Set(3L, 7L, 11L)
    // clean run for reference + healthy recover is a no-op
    val clean = freshTable()
    assert(PartitionedSink.deleteRowsByKey(spark, clean, "id", del) === 3L)
    assert(ids(clean) === expected)
    assert(PartitionedSink.recoverTable(spark, clean).isEmpty)
    // crash between the two renames: root gone, tmp complete
    val c1 = freshTable()
    val root1 = new Path(c1)
    val tmp1 = new Path(root1.getParent, root1.getName + ".rowdelete_tmp")
    spark.read.parquet(c1)
      .where(!col("id").isin(3L, 7L, 11L))
      .write.mode(SaveMode.Overwrite).parquet(tmp1.toString)
    val old1 = new Path(root1.getParent, root1.getName + ".rowdelete_old")
    assert(fs.rename(root1, old1))
    val log1 = PartitionedSink.recoverTable(spark, c1)
    assert(log1.exists(_.contains("rolled forward")), log1.mkString("; "))
    assert(ids(c1) === expected)
    assert(!fs.exists(tmp1) && !fs.exists(old1))
    // root and tmp both gone, only .rowdelete_old left: restore it
    val c2 = freshTable()
    val root2 = new Path(c2)
    val old2 = new Path(root2.getParent, root2.getName + ".rowdelete_old")
    assert(fs.rename(root2, old2))
    val log2 = PartitionedSink.recoverTable(spark, c2)
    assert(log2.exists(_.contains("restored")), log2.mkString("; "))
    assert(ids(c2) === (0L until 30L).toSet)
    // live root with stale siblings: both dropped, data untouched
    val c3 = freshTable()
    val root3 = new Path(c3)
    fs.mkdirs(new Path(root3.getParent, root3.getName + ".rowdelete_tmp"))
    fs.mkdirs(new Path(root3.getParent, root3.getName + ".rowdelete_old"))
    val log3 = PartitionedSink.recoverTable(spark, c3)
    assert(log3.size === 2, log3.mkString("; "))
    assert(ids(c3) === (0L until 30L).toSet)
  }

  test("protocol separation (r11 ADVICE medium): a COMMITTED " +
    "partition-swap crash is healed — not destroyed — by " +
    "recoverTable/deleteRowsByKey, and a crashed whole-root swap's " +
    "temp is invisible to the partition protocol's recover") {
    // partition-level delete crashed after its commit point: manifest
    // written, one dir renamed aside — the state the old shared
    // .delete_tmp suffix made deleteRowsByKey misread as uncommitted
    val dir = freshFixture()
    val (root, tmp, old) = commitUncrashedTmp(dir)
    fs.mkdirs(old)
    assert(fs.rename(new Path(root, "p=1"), new Path(old, "p=1")))
    // a whole-root entry point must roll the OTHER protocol's swap
    // FORWARD (via delegation), then run its own delete cleanly
    import spark.implicits._
    val n = PartitionedSink.deleteRowsByKey(spark, dir, "id",
      Seq(0L).toDF("id"), partitionColumns = Seq("p"))
    assert(n === 1L)
    assert(rowsOf(dir) === fixtureKept - ((0L, 0)))
    noSiblings(dir)
    // conversely: a crashed whole-root swap (root renamed aside, temp
    // complete, NO manifest — that protocol has none) must not be
    // misread by IndexCompact.recover as an uncommitted partition
    // write and deleted; recoverTable rolls it forward
    val dir2 = freshFixture()
    val root2 = new Path(dir2)
    val tmp2 = new Path(root2.getParent, root2.getName + ".rowdelete_tmp")
    spark.read.parquet(dir2).where(col("id") =!= 5L)
      .repartition(4, col("p"))
      .write.mode(SaveMode.Overwrite).partitionBy("p")
      .parquet(tmp2.toString)
    val old2 = new Path(root2.getParent, root2.getName + ".rowdelete_old")
    assert(fs.rename(root2, old2))
    // the partition protocol's fsck sees nothing of its own to do and
    // must leave the committed whole-root temp alone
    assert(graft.operators.IndexCompact.recover(spark, dir2).isEmpty)
    assert(fs.exists(tmp2), "partition-protocol recover must not " +
      "delete the whole-root protocol's committed temp")
    val log = PartitionedSink.recoverTable(spark, dir2)
    assert(log.exists(_.contains("rolled forward")), log.mkString("; "))
    assert(rowsOf(dir2) === fixtureAll.filterNot(_._1 == 5L))
    noSiblings(dir2)
  }

  test("legacy whole-root suffixes (.delete_tmp/.delete_old from " +
    "pre-split builds) are still recovered: a manifest-less legacy " +
    "temp with a vanished root rolls FORWARD instead of being eaten " +
    "as an uncommitted partition write, and a stale legacy old copy " +
    "beside a live root is dropped") {
    import spark.implicits._
    // crash state a PRE-SPLIT build left: root renamed aside to
    // .delete_old, committed rewrite in manifest-less .delete_tmp
    val dir = freshFixture()
    val root = new Path(dir)
    val lTmp = new Path(root.getParent, root.getName + ".delete_tmp")
    val lOld = new Path(root.getParent, root.getName + ".delete_old")
    spark.read.parquet(dir).where(col("id") =!= 5L)
      .repartition(4, col("p"))
      .write.mode(SaveMode.Overwrite).partitionBy("p")
      .parquet(lTmp.toString)
    assert(fs.rename(root, lOld))
    val log = PartitionedSink.recoverTable(spark, dir)
    assert(log.exists(_.contains("legacy")), log.mkString("; "))
    assert(rowsOf(dir) === fixtureAll.filterNot(_._1 == 5L))
    assert(!fs.exists(lTmp) && !fs.exists(lOld))
    noSiblings(dir)
    // stale legacy .delete_old beside a LIVE root: dropped, data kept
    val dir2 = freshFixture()
    val root2 = new Path(dir2)
    val lOld2 = new Path(root2.getParent, root2.getName + ".delete_old")
    fs.mkdirs(lOld2)
    val log2 = PartitionedSink.recoverTable(spark, dir2)
    assert(log2.exists(_.contains("legacy")), log2.mkString("; "))
    assert(!fs.exists(lOld2))
    assert(rowsOf(dir2) === fixtureAll)
  }

  test("dropPartitionsWhere heals a crashed whole-root swap BEFORE " +
    "its exists-check: a vanished root with a committed temp is " +
    "rolled forward and the TTL sweep then drops normally instead of " +
    "silently no-opping") {
    import spark.implicits._
    val dir = freshFixture()
    val root = new Path(dir)
    val tmp = new Path(root.getParent, root.getName + ".rowdelete_tmp")
    spark.read.parquet(dir).where(col("id") =!= 5L)
      .repartition(4, col("p"))
      .write.mode(SaveMode.Overwrite).partitionBy("p")
      .parquet(tmp.toString)
    assert(fs.rename(root,
      new Path(root.getParent, root.getName + ".rowdelete_old")))
    // root is GONE here — the pre-fix code returned (0,0) without
    // healing, silently retaining aged-out partitions
    val (rows, dirs, _) = PartitionedSink.dropPartitionsWhere(spark, dir,
      col("p").cast("int") >= 3)
    assert(dirs >= 1L && rows >= 1L)
    val left = spark.read.parquet(dir).select("p").distinct()
      .as[Int].collect().toSet
    assert(left === Set(0, 1, 2))
    noSiblings(dir)
  }

  test("deletePartitionRowsByKey: STRING partition values needing Hive " +
    "path escaping (=, :, %) are swapped by their escaped directory " +
    "names; untouched partitions are never rewritten") {
    val dir = tmpDir("graft_recover_strpart")
    val rows = Seq(
      (1L, "a=b"), (2L, "a=b"), (3L, "x:y"), (4L, "x:y"),
      (5L, "p%q"), (6L, "p%q"), (7L, "plain"), (8L, "plain"))
    rows.toDF("id", "part")
      .repartition(4, col("part"))
      .write.mode(SaveMode.Overwrite).partitionBy("part").parquet(dir)
    val root = new Path(dir)
    // the writer escaped the names; remember the untouched dir's mtime
    assert(fs.exists(new Path(root, "part=a%3Db")))
    assert(fs.exists(new Path(root, "part=x%3Ay")))
    assert(fs.exists(new Path(root, "part=p%25q")))
    val plainBefore = fs.getFileStatus(new Path(root, "part=plain"))
      .getModificationTime
    // delete id 1 (partially empties a=b) and 3+4 (fully empties x:y)
    val (n, d) = PartitionedSink.deletePartitionRowsByKey(spark, dir,
      "id", Seq(1L, 3L, 4L).toDF("id"))
    assert(n === 3L && d === 2L)
    val remaining = spark.read.parquet(dir)
      .select("id", "part").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(remaining === Set((2L, "a=b"), (5L, "p%q"), (6L, "p%q"),
      (7L, "plain"), (8L, "plain")))
    assert(!fs.exists(new Path(root, "part=x%3Ay")))
    assert(fs.getFileStatus(new Path(root, "part=plain"))
      .getModificationTime === plainBefore)
    noSiblings(dir)
  }

  test("dropPartitionsWhere: metadata-only partition drop — matched " +
    "dirs (incl. Hive-escaped names) vanish without a rewrite, audit " +
    "counts are exact, no-match and re-run are no-ops") {
    val dir = tmpDir("graft_drop_parts")
    Seq((1L, "a=b"), (2L, "a=b"), (3L, "keep:1"), (4L, "keep:1"),
      (5L, "old"), (6L, "old"), (7L, "old"))
      .toDF("id", "part").repartition(3, col("part"))
      .write.mode(SaveMode.Overwrite).partitionBy("part").parquet(dir)
    val root = new Path(dir)
    val keepBefore = fs.getFileStatus(new Path(root, "part=keep%3A1"))
      .getModificationTime
    // predicate sees unescaped string values
    val (rows, dcount, _) = PartitionedSink.dropPartitionsWhere(spark, dir,
      col("part") === "a=b" || col("part") === "old")
    assert((rows, dcount) === ((5L, 2L)))
    assert(!fs.exists(new Path(root, "part=a%3Db")))
    assert(!fs.exists(new Path(root, "part=old")))
    // survivor untouched (same files, same mtime — no rewrite)
    assert(fs.getFileStatus(new Path(root, "part=keep%3A1"))
      .getModificationTime === keepBefore)
    val left = spark.read.parquet(dir).select("id").as[Long]
      .collect().toSet
    assert(left === Set(3L, 4L))
    // idempotent: the same sweep finds nothing the second time
    assert(PartitionedSink.dropPartitionsWhere(spark, dir,
      col("part") === "a=b" || col("part") === "old") === ((0L, 0L, 0L)))
    // no-match predicate deletes nothing
    assert(PartitionedSink.dropPartitionsWhere(spark, dir,
      col("part") === "absent") === ((0L, 0L, 0L)))
    assert(spark.read.parquet(dir).count() === 2L)
  }

  // ---- nested (multi-level) partition layouts — r11 verdict item 1 ----

  /** YEAR=/MONTH= fixture: 36 rows over 1992..1994 × months 1,4,7,
    * ids encode (year, month): id = (yr-1992)*12 + mo, 4 rows each. */
  private def nestedFixture(): String = {
    val dir = tmpDir("graft_recovery_nested")
    val rows = for {
      yr <- Seq(1992, 1993, 1994); mo <- Seq(1, 4, 7); i <- 0 until 4
    } yield (((yr - 1992) * 12 + mo) * 10L + i, yr, mo)
    rows.toDF("id", "yr", "mo")
      .repartition(9, col("yr"), col("mo"))
      .write.mode(SaveMode.Overwrite).partitionBy("yr", "mo").parquet(dir)
    val meta = graft.config.Sidecar.newNode()
    meta.put("idCol", "id")
    graft.config.Sidecar.write(spark, dir, meta)
    dir
  }
  private def nestedRows(path: String): Set[(Long, Int, Int)] =
    spark.read.parquet(path)
      .select(col("id"), col("yr").cast("int"), col("mo").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
  private val nestedAll: Set[(Long, Int, Int)] = (for {
    yr <- Seq(1992, 1993, 1994); mo <- Seq(1, 4, 7); i <- 0 until 4
  } yield (((yr - 1992) * 12 + mo) * 10L + i, yr, mo)).toSet

  test("three-level yr=/mo=/dy= layout: the walk, the TTL sweep and " +
    "takedown-by-id are depth-generic, not two-level specials (r13 " +
    "spot check on the parallel walk)") {
    val dir = tmpDir("graft_recovery_deep")
    val rows = for {
      yr <- Seq(1992, 1993); mo <- Seq(1, 4); dy <- Seq(5, 15); i <- 0 until 2
    } yield ((yr * 10000L + mo * 100 + dy) * 10 + i, yr, mo, dy)
    rows.toDF("id", "yr", "mo", "dy")
      .repartition(8, col("yr"), col("mo"), col("dy"))
      .write.mode(SaveMode.Overwrite).partitionBy("yr", "mo", "dy")
      .parquet(dir)
    val meta = graft.config.Sidecar.newNode()
    meta.put("idCol", "id")
    graft.config.Sidecar.write(spark, dir, meta)
    val root = new Path(dir)
    val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (cols, leaves) = IndexCompact.leafParts(hfs, root)
    assert(cols === Seq("yr", "mo", "dy") && leaves.size === 8)
    def remaining(): Set[Long] = spark.read.parquet(dir)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    val all = rows.map(_._1).toSet
    // day-grain TTL drops one day across every year/month — partial
    // at every upper level
    val (tr, td, tn) = graft.sinks.PartitionedSink.dropPartitionsWhere(
      spark, dir, col("dy").cast("int") === 5)
    assert((tr, td, tn) === ((8L, 4L, 0L)))
    assert(remaining() === all.filter(id => (id / 10) % 100 == 15))
    // takedown-by-id spanning the remaining leaves
    import spark.implicits._
    val doomed = remaining().filter(id => id % 10 == 0)
    val (dr, dd) = graft.sinks.PartitionedSink.deletePartitionRowsByKey(
      spark, dir, "id", doomed.toSeq.toDF("id"))
    assert(dr === doomed.size.toLong && dd === 4L)
    assert(remaining() === all.filter(id =>
      (id / 10) % 100 == 15 && id % 10 != 0))
    // post-ops the tree still parses as a clean three-level layout
    // (dropped dy= subtrees left no malformed shallow residue)
    assert(IndexCompact.leafParts(hfs, root)._1 === Seq("yr", "mo", "dy"))
  }

  test("nested deleteMatching: YEAR=/MONTH= layout — only touched " +
    "month dirs rewrite, a fully-emptied month is removed (and its " +
    "emptied year parent pruned), untouched months keep their files") {
    val dir = nestedFixture()
    val root = new Path(dir)
    // 1992/04 partially emptied (2 of 4 rows), 1994/07 fully emptied
    val doomed = Seq(40L, 41L) ++ (0 until 4).map(i => 310L + i)
    val untouchedBefore = fs.getFileStatus(new Path(root, "yr=1993/mo=1"))
      .getModificationTime
    val (n, d) = IndexCompact.deleteMatching(spark, dir, "test", "id",
      doomed.toDF("id"))
    assert(n === 6L && d === 2L)
    assert(nestedRows(dir) === nestedAll.filterNot(t =>
      doomed.contains(t._1)))
    assert(fs.getFileStatus(new Path(root, "yr=1993/mo=1"))
      .getModificationTime === untouchedBefore)
    assert(!fs.exists(new Path(root, "yr=1994/mo=7")))
    noSiblings(dir)
    // delete the REST of 1994 (mo=1, mo=4): the emptied yr=1994 parent
    // must be pruned, not left as a stray shallow leaf
    val rest = nestedAll.filter(_._2 == 1994).map(_._1).toSeq
    val (n2, _) = IndexCompact.deleteMatching(spark, dir, "test", "id",
      rest.toDF("id"))
    assert(n2 === 8L) // 1994/07's 4 rows already gone
    assert(!fs.exists(new Path(root, "yr=1994")),
      "emptied year parent must be pruned")
    assert(nestedRows(dir) === nestedAll.filterNot(t =>
      doomed.contains(t._1) || t._2 == 1994))
    noSiblings(dir)
  }

  test("nested crash-point enumeration: a committed two-level swap " +
    "(replace yr=1992/mo=4, remove yr=1994/mo=7) recovers to the " +
    "clean end state from every op prefix, idempotently") {
    val expected = nestedAll.filterNot(t =>
      Seq(40L, 41L, 310L, 311L, 312L, 313L).contains(t._1))
    for (k <- 0 to 5) {
      val dir = nestedFixture()
      val root = new Path(dir)
      val tmp = new Path(root.getParent, root.getName + ".delete_tmp")
      val old = new Path(root.getParent, root.getName + ".swap_old")
      // the operator's committed temp: rewritten 1992/04 slice only
      spark.read.parquet(dir)
        .where(col("yr") === 1992 && col("mo") === 4)
        .where(!col("id").isin(40L, 41L))
        .repartition(1, col("yr"), col("mo"))
        .write.mode(SaveMode.Overwrite).partitionBy("yr", "mo")
        .parquet(tmp.toString)
      val m = graft.config.Sidecar.newNode()
      val r = m.putArray("replace"); r.add("yr=1992/mo=4")
      val dd = m.putArray("remove"); dd.add("yr=1994/mo=7")
      graft.config.Sidecar.writeNode(spark,
        new Path(tmp, IndexCompact.SwapManifest), m)
      val ops: Seq[() => Unit] = Seq(
        () => { fs.mkdirs(new Path(old, "yr=1992"))
          assert(fs.rename(new Path(root, "yr=1992/mo=4"),
            new Path(old, "yr=1992/mo=4"))) },
        () => assert(fs.rename(new Path(tmp, "yr=1992/mo=4"),
          new Path(root, "yr=1992/mo=4"))),
        () => { fs.mkdirs(new Path(old, "yr=1994"))
          assert(fs.rename(new Path(root, "yr=1994/mo=7"),
            new Path(old, "yr=1994/mo=7"))) },
        () => fs.delete(old, true),
        () => fs.delete(tmp, true))
      ops.take(k).foreach(_.apply())
      IndexCompact.recover(spark, dir)
      assert(nestedRows(dir) === expected, s"crash after op $k")
      noSiblings(dir)
      assert(IndexCompact.recover(spark, dir).isEmpty,
        s"idempotence after op $k")
    }
  }

  test("nested dropPartitionsWhere: the predicate sees BOTH partition " +
    "columns — a month-grain TTL on a YEAR=/MONTH= table drops exactly " +
    "the months below the cutoff and prunes fully-aged-out years") {
    val dir = nestedFixture()
    val root = new Path(dir)
    val keepBefore = fs.getFileStatus(new Path(root, "yr=1994/mo=7"))
      .getModificationTime
    // cutoff 1993-07: drops all of 1992 (3 dirs) + 1993/01,04 (2 dirs)
    val (rows, dirs, _) = PartitionedSink.dropPartitionsWhere(spark, dir,
      col("yr").cast("int") * 12 + col("mo").cast("int") <
        lit(1993 * 12 + 7))
    assert((rows, dirs) === ((20L, 5L)))
    assert(!fs.exists(new Path(root, "yr=1992")),
      "fully-aged-out year must be pruned")
    assert(fs.exists(new Path(root, "yr=1993/mo=7")))
    assert(fs.getFileStatus(new Path(root, "yr=1994/mo=7"))
      .getModificationTime === keepBefore)
    assert(nestedRows(dir) === nestedAll.filter(t =>
      t._2 * 12 + t._3 >= 1993 * 12 + 7))
    // idempotent + no-match
    assert(PartitionedSink.dropPartitionsWhere(spark, dir,
      col("yr").cast("int") * 12 + col("mo").cast("int") <
        lit(1993 * 12 + 7)) === ((0L, 0L, 0L)))
  }

  test("nested compact: fragments fold to one file per month dir " +
    "through the same manifest swap, rows identical") {
    val dir = nestedFixture()
    // fragment: two appends touching every month dir (fresh literal
    // frames — never read and append under the same root)
    for (g <- 1 to 2) {
      val batch = for {
        yr <- Seq(1992, 1993, 1994); mo <- Seq(1, 4, 7)
      } yield (1000L * g + (yr - 1992) * 12 + mo, yr, mo)
      batch.toDF("id", "yr", "mo")
        .repartition(9, col("yr"), col("mo"))
        .write.mode("append").partitionBy("yr", "mo").parquet(dir)
    }
    val before = nestedRows(dir)
    val extra = spark.read.parquet(dir).count()
    assert(extra === 54L) // appends landed
    val (fb, fa) = IndexCompact.compact(spark, dir, "test")
    assert(fb > fa && fa === 9L, s"files $fb -> $fa")
    assert(spark.read.parquet(dir).count() === extra)
    assert(nestedRows(dir) === before)
    noSiblings(dir)
  }

  test("DATE-typed partition values: the swap engine renders DateType " +
    "dirs exactly as Spark's writer does (ISO yyyy-MM-dd), so a " +
    "date-bucketed corpus is a first-class delete target") {
    val dir = tmpDir("graft_recovery_datepart")
    val rows = (0 until 12).map { i =>
      (i.toLong, java.sql.Date.valueOf(s"2024-0${i % 3 + 1}-15"))
    }
    rows.toDF("id", "d")
      .repartition(3, col("d"))
      .write.mode(SaveMode.Overwrite).partitionBy("d").parquet(dir)
    val root = new Path(dir)
    // pin the writer's rendering before anything else
    assert(fs.exists(new Path(root, "d=2024-01-15")),
      fs.listStatus(root).map(_.getPath.getName).mkString(", "))
    val meta = graft.config.Sidecar.newNode()
    meta.put("idCol", "id")
    graft.config.Sidecar.write(spark, dir, meta)
    // ids 0,3,6,9 live in d=2024-01-15; delete two of them (replace)
    // and ALL of d=2024-02-15's (1,4,7,10 — a removal)
    val (n, d) = IndexCompact.deleteMatching(spark, dir, "test", "id",
      Seq(0L, 3L, 1L, 4L, 7L, 10L).toDF("id"))
    assert(n === 6L && d === 2L)
    assert(!fs.exists(new Path(root, "d=2024-02-15")))
    val left = spark.read.parquet(dir)
      .select(col("id"), col("d").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(left === Set((6L, "2024-01-15"), (9L, "2024-01-15"),
      (2L, "2024-03-15"), (5L, "2024-03-15"), (8L, "2024-03-15"),
      (11L, "2024-03-15")))
    noSiblings(dir)
  }

  test("sidecar versioning: a sidecar from a NEWER writer is refused " +
    "with a message naming both versions; current writes stamp the " +
    "version and read back fine") {
    val dir = tmpDir("graft_sidecar_version")
    val meta = graft.config.Sidecar.newNode()
    meta.put("idCol", "id")
    graft.config.Sidecar.write(spark, dir, meta)
    val back = graft.config.Sidecar.read(spark, dir, "test")
    assert(graft.config.Sidecar.int(back, "version") ===
      graft.config.Sidecar.CurrentVersion)
    // hand-write a future version (write() force-stamps, so go direct)
    val future = graft.config.Sidecar.newNode()
    future.put("idCol", "id")
    future.put("version", 99)
    graft.config.Sidecar.writeNode(spark,
      new Path(dir, graft.config.Sidecar.FileName), future)
    val err = intercept[IllegalArgumentException] {
      graft.config.Sidecar.read(spark, dir, "test")
    }
    assert(err.getMessage.contains("version 99"))
    assert(err.getMessage.contains(
      graft.config.Sidecar.CurrentVersion.toString))
  }

  // ---- layout-refusal guards (r12 verdict item 1: these requires are
  // what stand between a malformed tree and a silent partial delete,
  // and they were ledger-claimed but untested) ----

  test("mixed-depth refusal: a shallow =dir HOLDING DATA inside a " +
    "nested layout is refused loudly with the offending path named — " +
    "by the raw walk and by every delete entry point over it") {
    val dir = nestedFixture()
    val root = new Path(dir)
    // move a real data file from a depth-2 leaf into a NEW childless
    // yr-level dir: a shallow =dir holding data at depth 1 while the
    // layout is yr/mo — the half-written-tree shape the guard exists
    // for (a yr-dir WITH month children is walked through, so the
    // mixed state a crashed writer leaves is exactly this one)
    val leaf = new Path(root, "yr=1992/mo=1")
    val dataFile = fs.listStatus(leaf)
      .map(_.getPath).filter(p => !p.getName.startsWith("_") &&
        !p.getName.startsWith(".")).head
    fs.mkdirs(new Path(root, "yr=1999"))
    assert(fs.rename(dataFile, new Path(root, s"yr=1999/${dataFile.getName}")))
    val err = intercept[IllegalArgumentException] {
      IndexCompact.leafParts(fs, root)
    }
    assert(err.getMessage.contains("mixed-depth"), err.getMessage)
    assert(err.getMessage.contains("yr=1999"), err.getMessage)
    // the guard fires through the public delete surfaces too — no
    // entry point silently operates on half the tree
    val err2 = intercept[IllegalArgumentException] {
      PartitionedSink.dropPartitionsWhere(spark, dir,
        col("yr").cast("int") < 1993)
    }
    assert(err2.getMessage.contains("mixed-depth"))
    val err3 = intercept[IllegalArgumentException] {
      IndexCompact.deleteMatching(spark, dir, "test", "id",
        Seq(40L).toDF("id"))
    }
    assert(err3.getMessage.contains("mixed-depth"))
    // an EMPTY shallow =dir (a crashed swap's stray parent) stays
    // tolerated: put the file back, leave the emptied yr=1999 behind
    assert(fs.rename(new Path(root, s"yr=1999/${dataFile.getName}"),
      dataFile))
    val (cols, leaves) = IndexCompact.leafParts(fs, root)
    assert(cols === Seq("yr", "mo") && leaves.size === 9)
    // third malformed shape: data files NEXT TO =children inside an
    // interior dir — the leaf-only view cannot represent those rows
    assert(fs.rename(dataFile,
      new Path(root, s"yr=1992/${dataFile.getName}")))
    val err4 = intercept[IllegalArgumentException] {
      IndexCompact.leafParts(fs, root)
    }
    assert(err4.getMessage.contains("NEXT TO"), err4.getMessage)
    assert(err4.getMessage.contains("yr=1992"), err4.getMessage)
    assert(fs.rename(new Path(root, s"yr=1992/${dataFile.getName}"),
      dataFile))
    assert(IndexCompact.leafParts(fs, root)._2.size === 9)
  }

  test("inconsistent-column-chain refusal: equal-depth leaves naming " +
    "different partition columns are refused loudly, never guessed") {
    val dir = nestedFixture()
    val root = new Path(dir)
    // rename yr=1994/mo=7 to yr=1994/day=7: same depth, different
    // column chain (yr/day vs yr/mo)
    assert(fs.rename(new Path(root, "yr=1994/mo=7"),
      new Path(root, "yr=1994/day=7")))
    val err = intercept[IllegalArgumentException] {
      IndexCompact.leafParts(fs, root)
    }
    assert(err.getMessage.contains("inconsistent partition layout"),
      err.getMessage)
    assert(err.getMessage.contains("day"), err.getMessage)
    val err2 = intercept[IllegalArgumentException] {
      PartitionedSink.dropPartitionsWhere(spark, dir,
        col("yr").cast("int") < 1993)
    }
    assert(err2.getMessage.contains("inconsistent partition layout"))
  }

  // ---- null partitions in the TTL sweep (r12 verdict item 2) ----

  test("dropPartitionsWhere null partitions: the sentinel surfaces as " +
    "SQL NULL — typed predicates retain it and REPORT it, string " +
    "predicates cannot match it lexicographically, and isNull drops " +
    "it deliberately with exact audit counts") {
    val dir = tmpDir("graft_drop_nullpart")
    val rows = Seq[(Long, Option[Int])](
      (1L, Some(1)), (2L, Some(1)), (3L, Some(2)), (4L, Some(2)),
      (5L, None), (6L, None))
    rows.toDF("id", "d").repartition(3, col("d"))
      .write.mode(SaveMode.Overwrite).partitionBy("d").parquet(dir)
    val root = new Path(dir)
    val sentinel = new Path(root, "d=__HIVE_DEFAULT_PARTITION__")
    assert(fs.exists(sentinel),
      fs.listStatus(root).map(_.getPath.getName).mkString(", "))
    // typed TTL: ages out d=1 only; the null leaf is NOT dropped
    // (NULL never satisfies the comparison — plain SQL semantics, the
    // same value Spark's reader gives those rows) and IS reported
    val (rows1, dirs1, nulls1) = PartitionedSink.dropPartitionsWhere(
      spark, dir, col("d").cast("int") < 2)
    assert((rows1, dirs1, nulls1) === ((2L, 1L, 1L)))
    assert(fs.exists(sentinel), "typed predicate must not drop nulls")
    // a string predicate spelling the sentinel matches NOTHING — the
    // predicate sees NULL, never the on-disk sentinel string (the r12
    // accidental-lexicographic-match hazard)
    val (rows2, dirs2, nulls2) = PartitionedSink.dropPartitionsWhere(
      spark, dir, col("d") === "__HIVE_DEFAULT_PARTITION__")
    assert((rows2, dirs2, nulls2) === ((0L, 0L, 1L)))
    assert(fs.exists(sentinel))
    // dropping null partitions is a DELIBERATE act: isNull targets the
    // sentinel leaf, rows counted exactly, nothing left to report
    val (rows3, dirs3, nulls3) = PartitionedSink.dropPartitionsWhere(
      spark, dir, col("d").isNull)
    assert((rows3, dirs3, nulls3) === ((2L, 1L, 0L)))
    assert(!fs.exists(sentinel))
    val left = spark.read.parquet(dir).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(left === Set(3L, 4L))
  }

  test("dropPartitionsWhere null partitions, NESTED layout: a NULL at " +
    "the inner level is reported per retained leaf and isNull " +
    "composes with outer-level predicates") {
    val dir = tmpDir("graft_drop_nullpart_nested")
    val rows = Seq[(Long, Int, Option[Int])](
      (1L, 2023, Some(1)), (2L, 2023, None),
      (3L, 2024, Some(1)), (4L, 2024, None))
    rows.toDF("id", "yr", "mo").repartition(4, col("yr"), col("mo"))
      .write.mode(SaveMode.Overwrite).partitionBy("yr", "mo").parquet(dir)
    val root = new Path(dir)
    assert(fs.exists(new Path(root,
      "yr=2023/mo=__HIVE_DEFAULT_PARTITION__")))
    // month-grain TTL under 2024: drops yr=2023/mo=1 only; BOTH null
    // leaves survive (2023's because NULL fails the month arithmetic,
    // 2024's because the year survives) and both are reported
    val (r1, d1, n1) = PartitionedSink.dropPartitionsWhere(spark, dir,
      col("yr").cast("int") * 12 + col("mo").cast("int") <
        lit(2024 * 12 + 1))
    assert((r1, d1, n1) === ((1L, 1L, 2L)))
    // deliberate null sweep scoped to the aged year only
    val (r2, d2, n2) = PartitionedSink.dropPartitionsWhere(spark, dir,
      col("yr").cast("int") < 2024 && col("mo").isNull)
    assert((r2, d2, n2) === ((1L, 1L, 1L)))
    assert(!fs.exists(new Path(root, "yr=2023")),
      "fully-emptied year must be pruned")
    val left = spark.read.parquet(dir).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(left === Set(3L, 4L))
  }

  test("dropPartitionsWhere: EMPTY doomed leaves (crash leftovers) are " +
    "dropped and audited as zero rows — including the all-empty batch " +
    "that would leave the only-doomed-paths reader without a schema") {
    import spark.implicits._
    val dir = tmpDir("graft_drop_emptyleaf")
    (0L until 40L).toDF("id")
      .withColumn("p", (col("id") / 10).cast("int"))
      .repartition(4, col("p"))
      .write.mode(SaveMode.Overwrite).partitionBy("p").parquet(dir)
    val root = new Path(dir)
    fs.mkdirs(new Path(root, "p=9")) // a data-less leaf
    // mixed batch: p=3 holds 10 rows, p=9 none
    val (r1, d1, _) = PartitionedSink.dropPartitionsWhere(spark, dir,
      col("p").cast("int") >= 3)
    assert((r1, d1) === ((10L, 2L)))
    assert(!fs.exists(new Path(root, "p=3")) &&
      !fs.exists(new Path(root, "p=9")))
    // all-empty batch: nothing to read, still dropped and reported
    fs.mkdirs(new Path(root, "p=8"))
    val (r2, d2, _) = PartitionedSink.dropPartitionsWhere(spark, dir,
      col("p").cast("int") === 8)
    assert((r2, d2) === ((0L, 1L)))
    assert(!fs.exists(new Path(root, "p=8")))
    assert(spark.read.parquet(dir).count() === 30L)
  }

  test("retried append after an append crash recovers FIRST: the " +
    "leftover intent marker triggers a footer-recount repin before " +
    "the new batch's arithmetic, so the count stays exact on the most " +
    "likely post-crash path (r12 ADVICE medium)") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val base = emb.filter($"vec_id" < 380)
    val batch1 = emb.filter($"vec_id" >= 380 && $"vec_id" < 440)
    val batch2 = emb.filter($"vec_id" >= 440)
    val idx = tmpDir("graft_retry_append_ivfpq")
    Similarity.writeIvfPqIndex(base, idx, "vec_id", "embedding",
      dim = 64, m = 4, kCodes = 8, rounds = 1, nlist = 8)
    val preMeta = graft.config.Sidecar.read(spark, idx, "test")
    // crash state: batch1's rows ON DISK, sidecar count rewound to its
    // pre-append value, intent marker present (same construction as
    // the recoverIvfPqIndex test above)
    Similarity.appendToIvfPqIndex(spark, idx, batch1, "vec_id",
      "embedding")
    graft.config.Sidecar.write(spark, idx, preMeta
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]())
    val marker = new Path(idx, Similarity.AppendIntentMarker)
    fs.create(marker, true).close()
    // the retry path: a DIRECT append (no maintenance window ran) —
    // before the fix this clobbered the marker and adopted the stale
    // count as its arithmetic base, understating batch1's rows forever
    Similarity.appendToIvfPqIndex(spark, idx, batch2, "vec_id",
      "embedding")
    val count = graft.config.Sidecar.long(
      graft.config.Sidecar.read(spark, idx, "test"), "count")
    assert(count === emb.count(), "count must include the crashed " +
      "batch's rows (recount) plus the retried batch (arithmetic)")
    assert(count === spark.read.parquet(idx).count())
    assert(!fs.exists(marker))
    noSiblings(idx)
  }

  test("swap-manifest evidence (r14, r13 verdict item 2): a delete's " +
    "compliance line rides the commit point — a crash between the " +
    "manifest and the append is re-emitted by recovery with the REAL " +
    "counts, and a replayed batch can never overwrite them with zeros") {
    import graft.sinks.ComplianceLog
    val ledger = tmpDir("graft_swapev_ledger")
    def lines(lin: String) = ComplianceLog.read(spark, ledger)
      .where(col("lineage") === lit(lin))
      .collect().map(r => (r.getString(0), r.getLong(3), r.getLong(4),
        r.getLong(5))).toSeq
    // --- normal path: delete with evidence → exactly one line ---
    val a = freshFixture()
    val keyA = ComplianceLog.Key(ledger, "lsh-index", "aaaa1111", 0L)
    val (nA, dA) = IndexCompact.deleteMatchingChecked(spark, a, "id",
      delIds, Some(keyA))
    assert((nA, dA) === ((17L, 2L)))
    assert(lines("aaaa1111") === Seq(("lsh-index", 0L, 17L, 2L)))
    // a REPLAY of the batch (ids already gone) records nothing new
    val (nA2, dA2) = IndexCompact.deleteMatchingChecked(spark, a, "id",
      delIds, Some(keyA))
    assert((nA2, dA2) === ((0L, 0L)))
    assert(lines("aaaa1111") === Seq(("lsh-index", 0L, 17L, 2L)),
      "the replay's zeros must not shadow the original evidence")
    // --- crash state: manifest (with evidence) committed, ledger
    // append and swap both lost — the r13 window reconstructed ---
    val b = freshFixture()
    val (_, tmpB, _) = commitUncrashedTmp(b)
    val m = graft.config.Sidecar.readNode(spark,
      new Path(tmpB, IndexCompact.SwapManifest)).get
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    val ev = m.putObject("evidence")
    ev.put("ledger", ledger); ev.put("target", "corpus")
    ev.put("table", b); ev.put("lineage", "bbbb2222")
    ev.put("batch", 5L); ev.put("rows", 17L); ev.put("dirs", 2L)
    graft.config.Sidecar.writeNode(spark,
      new Path(tmpB, IndexCompact.SwapManifest), m)
    // the stream restarts: its replayed micro-batch re-runs the
    // delete, whose self-heal rolls the swap forward — the evidence
    // must surface with the manifest's counts, and the replay's own
    // nothing-left-to-delete zeros must be skipped by the key
    val keyB = ComplianceLog.Key(ledger, "corpus", "bbbb2222", 5L)
    val (nB, dB) = IndexCompact.deleteMatchingChecked(spark, b, "id",
      delIds, Some(keyB))
    assert((nB, dB) === ((0L, 0L)), "the replay finds nothing left")
    assert(lines("bbbb2222") === Seq(("corpus", 5L, 17L, 2L)),
      "recovery must emit the crashed delete's REAL counts, not zeros")
    assert(rowsOf(b) === fixtureKept)
    noSiblings(b)
    // idempotent: a second recover pass adds nothing
    assert(IndexCompact.recover(spark, b).isEmpty)
    assert(lines("bbbb2222").length === 1)
  }

  test("evidence-schema versioning (r15, r14 stretch 8): recovery " +
    "refuses an evidence block from a NEWER schema version loudly — " +
    "guessing field meanings during roll-forward would commit a wrong " +
    "ledger line forever — while today's writes stamp v1 and " +
    "version-less legacy blocks read as v1 (pinned above)") {
    import graft.sinks.ComplianceLog
    val ledger = tmpDir("graft_swapev_v_ledger")
    val c = freshFixture()
    val (_, tmpC, _) = commitUncrashedTmp(c)
    val m = graft.config.Sidecar.readNode(spark,
      new Path(tmpC, IndexCompact.SwapManifest)).get
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    val ev = m.putObject("evidence")
    ev.put("v", 2)
    ev.put("ledger", ledger); ev.put("target", "corpus")
    ev.put("table", c); ev.put("lineage", "cccc3333")
    ev.put("batch", 7L); ev.put("rows", 17L); ev.put("dirs", 2L)
    graft.config.Sidecar.writeNode(spark,
      new Path(tmpC, IndexCompact.SwapManifest), m)
    val err = intercept[IllegalArgumentException] {
      IndexCompact.recover(spark, c)
    }
    assert(err.getMessage.contains("schema version 2"), err.getMessage)
    // nothing was guessed into the ledger, and the crash state is
    // still intact for the upgraded library to recover
    assert(ComplianceLog.read(spark, ledger).count() === 0L)
    assert(fs.exists(new Path(tmpC, IndexCompact.SwapManifest)))
    // today's own writes stamp v=1 and round-trip through recovery
    val d = freshFixture()
    val keyD = ComplianceLog.Key(ledger, "corpus", "dddd4444", 8L)
    IndexCompact.deleteMatchingChecked(spark, d, "id", delIds,
      Some(keyD)): Unit
    assert(ComplianceLog.read(spark, ledger)
      .where(col("lineage") === lit("dddd4444")).count() === 1L)
  }

  test("SCD2 merge commits through the whole-root swap: every crash " +
    "state recovers to the old history or the new one, and recovery " +
    "plus the replayed batch gives the full history") {
    type H = Set[(Long, String, String, String)]
    def history(path: String): H = spark.read.parquet(path)
      .select("k", "v", "valid_from", "valid_to")
      .as[(Long, String, String, String)].collect().toSet
    val b0 = Seq((1L, "a1", "2024-01-01"), (2L, "b1", "2024-01-01"))
      .toDF("k", "v", "change_date")
    val b1 = Seq((1L, "a2", "2024-02-01"), (2L, "b1", "2024-02-01"),
      (3L, "c1", "2024-02-01")).toDF("k", "v", "change_date")
    val b2 = Seq((3L, "c2", "2024-03-01")).toDF("k", "v", "change_date")
    // reference histories from clean runs
    val ref = tmpDir("graft_scd2_ref") + "/dim"
    Streaming.mergeScd2Batch(b0, ref)
    val h0 = history(ref)
    Streaming.mergeScd2Batch(b1, ref)
    val h1 = history(ref)
    assert(h1.contains((1L, "a1", "2024-01-01", "2024-02-01")), h1)
    Streaming.mergeScd2Batch(b2, ref)
    val h2 = history(ref)
    val torn = Seq((9L, "x", "2024-09-09", "9999-12-31"))
      .toDF("k", "v", "valid_from", "valid_to")

    /** A table holding h0 with the swap of batch b1 stopped in the
      * given state; `old`/`tmp` hold h0/h1 (or a torn partial write). */
    def crashed(state: String): String = {
      val table = tmpDir("graft_scd2_" + state) + "/dim"
      Streaming.mergeScd2Batch(b0, table)
      val root = new Path(table)
      val tmp = new Path(root.getParent, root.getName + ".rowdelete_tmp")
      val old = new Path(root.getParent, root.getName + ".rowdelete_old")
      def writeTmp(df: DataFrame): Unit =
        df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      state match {
        case "torn-tmp" => writeTmp(torn) // crashed during the write
        case "written" => writeTmp(spark.createDataFrame(
          h1.toSeq).toDF("k", "v", "valid_from", "valid_to"))
        case "root-aside" =>
          writeTmp(spark.createDataFrame(h1.toSeq)
            .toDF("k", "v", "valid_from", "valid_to"))
          assert(fs.rename(root, old))
        case "swapped" =>
          assert(fs.rename(root, old))
          spark.createDataFrame(h1.toSeq)
            .toDF("k", "v", "valid_from", "valid_to")
            .write.parquet(table)
      }
      table
    }
    for (state <- Seq("torn-tmp", "written", "root-aside", "swapped")) {
      val table = crashed(state)
      PartitionedSink.recoverTable(spark, table)
      val recovered = history(table)
      assert(recovered == h0 || recovered == h1, s"$state: $recovered")
      // the stream replays the uncommitted batch, then moves on
      Streaming.mergeScd2Batch(b1, table)
      assert(history(table) === h1, state)
      Streaming.mergeScd2Batch(b2, table)
      assert(history(table) === h2, state)
      val root = new Path(table)
      for (sfx <- Seq(".rowdelete_tmp", ".rowdelete_old", "_staging"))
        assert(!fs.exists(new Path(root.getParent, root.getName + sfx)),
          s"$state: leftover $sfx")
    }

    // the first batch has no table to move aside: its commit point is
    // an empty .rowdelete_old, so a crash before it recovers to no
    // table and a crash after it rolls the write forward
    for (committed <- Seq(false, true)) {
      val table = tmpDir("graft_scd2_first") + "/dim"
      val root = new Path(table)
      val tmp = new Path(root.getParent, root.getName + ".rowdelete_tmp")
      if (committed) {
        spark.createDataFrame(h0.toSeq)
          .toDF("k", "v", "valid_from", "valid_to")
          .write.parquet(tmp.toString)
        assert(fs.mkdirs(
          new Path(root.getParent, root.getName + ".rowdelete_old")))
      } else torn.write.parquet(tmp.toString)
      PartitionedSink.recoverTable(spark, table)
      if (committed) assert(history(table) === h0)
      else assert(!fs.exists(root) && !fs.exists(tmp))
      Streaming.mergeScd2Batch(b0, table)
      Streaming.mergeScd2Batch(b1, table)
      assert(history(table) === h1, s"first write, committed=$committed")
    }
  }
}
