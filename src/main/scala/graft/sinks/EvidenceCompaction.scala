package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Shared compaction engine for the name-keyed evidence stores
  * ([[ComplianceLog]], [[QuarantineStore]]): folds every evidence file
  * whose trailing batch id is OLDER than a caller-supplied replay
  * horizon into one consolidated file. The stores' docs state the
  * constraint this encodes: the file NAME is the replay-skip state, so
  * only batches the writing stream's checkpoint can no longer re-offer
  * (`minBatchesToRetain` behind the newest committed batch) may ever
  * lose their individual names — the caller passes that horizon
  * explicitly, this engine never guesses it.
  *
  * Crash-safe by the store's own discipline, extended with a manifest
  * because a fold DELETES originals:
  *
  *  1. The doomed rows are read and written whole into the dot-prefixed
  *     [[InflightDir]] (invisible to readers).
  *  1. [[Manifest]] is written at the store root naming the destination
  *     file and every original to remove — the COMMIT POINT: the
  *     consolidated data is fully on disk inside the inflight dir.
  *  1. Originals are deleted, the inflight part file is renamed to the
  *     destination, manifest and inflight dir are removed.
  *
  * A crash before step 2 leaves an ignorable inflight dir (the
  * store's recover sweeps it; originals untouched). A crash after
  * step 2 rolls FORWARD deterministically ([[recover]]): delete any
  * listed original still present, complete the rename, clean up —
  * idempotent at every intermediate state. Same single-writer,
  * no-reader window as the stores' other maintenance; a reader
  * overlapping step 3 could see evidence rows missing mid-fold, which
  * is exactly why the window exists. The single-WRITER half of that
  * window is enforced on disk ([[withFoldLease]] — a second
  * fold/roll-forward process, any JVM, refuses loudly); the
  * no-READER half remains the deployment's contract.
  *
  * Consolidated files are named `compacted-<maxFoldedBatchId>.parquet`;
  * their trailing id parses like any evidence file, so a LATER fold
  * with a higher horizon folds earlier consolidations into the new one
  * (chains never accumulate). */
private[graft] object EvidenceCompaction {
  private[sinks] val Manifest = "_graft_compact.json"
  private[sinks] val InflightDir = ".inflight-compact"
  /** Reserved name prefix for consolidated files; appends refuse a key
    * that would collide with it. */
  private[sinks] val CompactedPrefix = "compacted"
  /** Cross-JVM single-writer lease for the fold/roll-forward window —
    * see [[withFoldLease]]. Underscore-prefixed so every reader
    * (parquet directory scans, [[hasFinalFiles]], the fold's own
    * doomed listing) ignores it. */
  private[sinks] val Lease = "_graft_fold_lease.json"
  /** How long a fold lease may sit before another maintenance process
    * may take it over. 15 min dwarfs every measured fold wall (18 s at
    * 25k files, SURVEY.md §8) while keeping a crashed cron's
    * ledger healable within the same slot. */
  private[sinks] val LeaseStaleMs = 15L * 60 * 1000L
  /** SIBLING lease file suffix for TABLE maintenance windows (see
    * [[withMaintenanceLease]]): `<table>.maintenance_lease.json`
    * beside the table directory, the same sibling namespace as the
    * swap protocol's `.compact_tmp`/`.swap_old`. Sibling — not
    * in-root like [[Lease]] — because corpus tables are WHOLE-ROOT
    * swapped ([[PartitionedSink.deleteRowsByKey]] renames the root
    * itself): an in-root lease would travel with the rename and
    * vanish mid-window, and acquiring at a crashed-away root would
    * re-create the root directory and flip the whole-root recovery's
    * `exists(root)` dispatch onto the wrong branch. */
  private[graft] val MaintenanceLeaseSuffix = ".maintenance_lease.json"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One monitor per qualified store root, JVM-wide. The fold
    * roll-forward's delete→rename loop is idempotent across
    * SEQUENTIAL retries but NOT across two INTERLEAVED healers: healer
    * B can delete healer A's freshly-renamed destination and then fail
    * its own rename (the part file moved), leaving the consolidated
    * rows nowhere while the originals are already gone — evidence
    * loss. Concurrent healers in ONE JVM are a supported shape
    * ([[graft.operators.Maintenance.runAll]] with `parallelism > 1`
    * points N windows' `healShared` at the same shared ledger), so
    * [[recover]] and [[compactBefore]] serialize per store here;
    * healers in DIFFERENT JVMs — and in-JVM healers reaching one
    * local store through ALIASED spellings (symlinks, `..`) the
    * qualified-path key cannot unify — are fenced by the on-disk
    * [[withFoldLease]] instead: they refuse loudly rather than
    * interleave. Intrinsic locks are reentrant,
    * so compactBefore's own recover-first call nests fine. The map is
    * unbounded only in distinct store paths a JVM touches — cron
    * scale, not data scale. */
  private val healMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def monitorFor(spark: SparkSession, root: Path): Object =
    healMonitors.computeIfAbsent(
      fsOf(spark, root).makeQualified(root).toString,
      _ => new Object)

  /** Cross-JVM single-writer guard for the fold/roll-forward window
    * (r15 verdict item 1): [[healMonitors]] serializes concurrent
    * healers inside ONE process, but the identical interleave — healer
    * B deleting healer A's freshly-renamed consolidation, then failing
    * its own rename — is equally reachable by two maintenance crons on
    * DIFFERENT hosts pointed at one shared ledger, exactly the
    * concurrent-maintenance shape
    * [[graft.operators.Maintenance.runAll]]'s `parallelism` doc
    * advertises. This lease turns the stores' "documented
    * single-writer maintenance window" from prose into a refusal:
    * [[compactBefore]] and a working [[recover]] create [[Lease]]
    * EXCLUSIVELY (`create(overwrite = false)` — atomic where the
    * store's create is; S3-like stores degrade to best-effort, the
    * same caveat as every rename-commit in this file), and a second
    * process that finds a FRESH foreign lease refuses loudly instead
    * of interleaving. The owner stamps its epoch INTO the lease, so a
    * crash while holding leaves a lease a later healer takes over once
    * it ages past [[LeaseStaleMs]] (delete + re-create-exclusive; the
    * roll-forward it then runs is the same deterministic manifest
    * replay, so takeover is safe). A torn/unreadable lease ages by
    * file mtime — the best signal it has. Because the lease lives IN
    * the store directory, it also fences aliased spellings of one
    * local store that the in-JVM monitor key cannot unify. */
  /** The filesystem the LEASE protocol runs on: the RAW layer when
    * `fs` is checksummed (file://'s LocalFileSystem). Checksum
    * sidecars are written/deleted non-atomically next to the data, so
    * concurrent lease creates/deletes/renames tear `.crc` files and
    * checksummed reads of the lease throw ChecksumException under
    * exactly the contention the lease arbitrates (the LifecycleSpec
    * takeover race caught this live). The lease's own integrity story
    * is its JSON parse + byte compare; object-store filesystems pass
    * through unchanged. */
  private def leaseFsOf(fs: FileSystem): FileSystem = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  private def withFoldLease[T](spark: SparkSession, root: Path)(
      body: LeaseHandle => T): T =
    withLease(spark, new Path(root, Lease), "evidence-store fold")(body)

  /** The SAME single-writer lease protocol, guarding a TABLE's whole
    * maintenance window (r16 second wave — the swap engine and the
    * cron window had the identical argued-not-enforced contract the
    * r15 verdict flagged for the evidence stores): held across
    * recover → TTL sweep → compact → delete by
    * [[graft.operators.Maintenance]], re-entered by the inner
    * protocol steps ([[PartitionedSink.recoverTable]], the
    * [[graft.operators.IndexCompact]] swap engine) so a direct call
    * to any entry point takes the lease standalone while a nested
    * call rides its caller's frame. Lease file is a SIBLING of the
    * table root ([[MaintenanceLeaseSuffix]]) — see that constant for
    * why in-root placement is unsafe for whole-root-swapped tables.
    * Sibling placement has one fencing gap the evidence stores'
    * in-root lease does not: two processes addressing one physical
    * table through ALIASED spellings (a symlink under a different
    * name) derive DIFFERENT sibling lease files and are not fenced
    * against each other — address a table by one canonical path (the
    * same single-spelling contract the ledger's `tableLineage` key
    * already documents). The in-root evidence lease fences aliases
    * because any spelling resolves INTO the same directory; a table
    * lease cannot live there (whole-root swaps rename the root). */
  private[graft] def withMaintenanceLease[T](spark: SparkSession,
      root: Path)(body: LeaseHandle => T): T = {
    require(root.getParent != null,
      s"table maintenance lease needs a parent directory to live " +
        s"in, but $root is a filesystem root")
    withLease(spark,
      new Path(root.getParent, root.getName + MaintenanceLeaseSuffix),
      "table-maintenance")(body)
  }

  /** Leases THIS THREAD currently holds, keyed by qualified lease
    * path — makes the window lease REENTRANT within one maintenance
    * call chain: [[graft.operators.Maintenance.run]] holds the
    * table's lease across its whole window while the inner protocol
    * steps re-enter the same frame (same handle, so their reasserts
    * check the OUTER owner) instead of refusing their own caller.
    * Thread-local because each `runAll` window runs its table on one
    * pool thread; two THREADS contending for one store arbitrate
    * through the on-disk protocol exactly like two processes —
    * single-writer per store is the contract, in-JVM included (the
    * evidence stores' heal paths additionally queue same-JVM healers
    * on [[healMonitors]], which is reentrant and unchanged). */
  private val heldLeases =
    new ThreadLocal[Map[String, LeaseHandle]] {
      override def initialValue(): Map[String, LeaseHandle] = Map.empty
    }

  private def withLease[T](spark: SparkSession, leaseP0: Path,
      desc: String)(body: LeaseHandle => T): T = {
    val fs = leaseFsOf(fsOf(spark, leaseP0))
    val leaseP = fs.makeQualified(leaseP0)
    heldLeases.get.get(leaseP.toString) match {
      case Some(held) => body(held) // re-entered: caller's frame owns
      case None =>
        val owner = java.util.UUID.randomUUID().toString
        acquireLease(fs, leaseP, owner, desc)
        val handle = new LeaseHandle(fs, leaseP, owner, desc)
        heldLeases.set(heldLeases.get + (leaseP.toString -> handle))
        var failed: Throwable = null
        try body(handle)
        catch { case e: Throwable => failed = e; throw e }
        finally {
          heldLeases.set(heldLeases.get - leaseP.toString)
          try releaseLease(fs, leaseP, owner, desc)
          catch {
            // the body's failure is the primary story; a release
            // problem rides along instead of masking it
            case e: Throwable if failed != null => failed.addSuppressed(e)
          }
        }
    }
  }

  /** The lease file's bytes in ONE read: None when absent. One
    * transient-read retry; a double failure surfaces as its OWN error
    * with the cause attached — a caller that mapped a store hiccup to
    * "taken over" would send the operator auditing for an interleave
    * that never happened and leave the lease stranded behind a lie
    * (r16 self-review). Returning bytes (not a parse) lets the
    * takeover path byte-compare the exact snapshot it measured. */
  private def leaseBytes(fs: FileSystem,
      leaseP: Path): Option[Array[Byte]] = {
    def read(): Option[Array[Byte]] =
      try {
        val in = fs.open(leaseP)
        try Some(in.readAllBytes()) finally in.close()
      } catch { case _: java.io.FileNotFoundException => None }
    try read()
    catch {
      case first: Exception =>
        try read()
        catch {
          case second: Exception =>
            second.addSuppressed(first)
            throw new IllegalStateException(
              s"could not read the store lease $leaseP " +
                "to verify ownership — a store read failure, NOT a " +
                "takeover; retry the window", second)
        }
    }
  }

  /** Whether the lease at `leaseP` currently carries `owner`'s stamp.
    * Propagates [[leaseBytes]]' double-read-failure error — "could
    * not verify" must never be reported as "not ours". */
  private def isOwnedBy(fs: FileSystem,
      leaseP: Path, owner: String): Boolean =
    leaseBytes(fs, leaseP)
      .flatMap(graft.config.Sidecar.parseNode)
      .exists(n => n.has("owner") && n.get("owner").asText() == owner)

  /** Live handle on a held fold lease. [[reassert]] re-reads the
    * lease and throws if it no longer carries this window's owner —
    * called immediately before the MUTATING section (the manifest
    * commit, the roll-forward's deletes/renames), so a holder that
    * overran [[LeaseStaleMs]] (long GC, store throttling, a >15-min
    * cross-host clock skew) aborts BEFORE touching originals instead
    * of discovering the takeover at release time, after the damage
    * (r16 self-review). The single lease file holds one owner, so two
    * processes can never both pass a reassert; the residual window is
    * the one RTT between the re-read and the first mutation — full
    * fencing would need the store to verify a token on every
    * mutation, which filesystem primitives don't offer. */
  private[graft] final class LeaseHandle(fs: FileSystem,
      leaseP: Path, owner: String, desc: String) {
    // thrown as the DEFERRABLE type: a failed reassert means another
    // process owns (or is actively contending) the lease RIGHT NOW —
    // whether a post-overrun taker or a mistaken claim mid-restore —
    // and this window aborts unmutated, so a shared-heal caller
    // treats it like any other contention (the state is intact for
    // whoever holds the lease, or for the next slot)
    def reassert(): Unit =
      if (!isOwnedBy(fs, leaseP, owner))
        throw new FoldLeaseHeldException(
          s"$desc lease $leaseP is no longer this " +
            s"window's (taken over after the ${LeaseStaleMs / 60000} " +
            "min stale bound, or claimed mid-arbitration by a " +
            "concurrent taker) — aborting before mutating")
  }

  /** The birth epoch of already-read lease bytes: the owner-stamped
    * field, file mtime for torn (unparseable) content, MinValue when
    * the lease was absent. */
  private def leaseEpochOf(bytes: Option[Array[Byte]], fs: FileSystem,
      leaseP: Path): Long =
    bytes match {
      case None => Long.MinValue
      case Some(b) =>
        graft.config.Sidecar.parseNode(b)
          .filter(n => n.has("epochMs") &&
            n.get("epochMs").canConvertToLong)
          .map(_.get("epochMs").asLong())
          .getOrElse(
            try fs.getFileStatus(leaseP).getModificationTime
            catch { case _: java.io.FileNotFoundException =>
              Long.MinValue })
    }

  /** A fold/roll-forward window found another process's FRESH lease.
    * Typed so [[ComplianceLog.healShared]] — the heal N sibling crons
    * run against one shared ledger every slot — can DEFER to the
    * holder instead of failing the whole maintenance slot over a
    * benign race: the holder's roll-forward IS the heal. The explicit
    * single-writer entry points ([[compactBefore]], [[recover]]) let
    * it propagate: there, a concurrent holder is a deployment-contract
    * violation to surface, not to paper over. */
  private[graft] final class FoldLeaseHeldException(msg: String)
    extends IllegalStateException(msg)

  private def acquireLease(fs: FileSystem,
      leaseP: Path, owner: String, desc: String): Unit = {
    // create-exclusive, then stamp. An exists-failure returns false
    // (contention — the normal signal); a STAMP failure after a
    // successful create is a real store error and must both surface
    // AND remove the just-created empty lease — left behind it would
    // read as a fresh foreign holder (mtime fallback) and block every
    // fold/heal on this store for LeaseStaleMs with a message
    // pointing at a holder that does not exist (r16 self-review).
    def tryCreate(): Boolean = {
      val out =
        try fs.create(leaseP, false)
        catch { case _: java.io.IOException => return false }
      try {
        val node = graft.config.Sidecar.newNode()
        node.put("owner", owner)
        node.put("epochMs", System.currentTimeMillis())
        out.write(graft.config.Sidecar.toBytes(node))
        out.close()
        true
      } catch {
        case e: Throwable =>
          try out.close() catch { case _: Throwable => () }
          try fs.delete(leaseP, false): Unit
          catch { case c: Throwable => e.addSuppressed(c) }
          throw e
      }
    }
    if (tryCreate()) return
    val observed = leaseBytes(fs, leaseP)
    val born = leaseEpochOf(observed, fs, leaseP)
    if (born == Long.MinValue) {
      // the holder released between our failed create and the read:
      // one retry; a second failure is live contention — another
      // process holds it NOW, the defer-able condition
      if (!tryCreate()) throw new FoldLeaseHeldException(
        s"$desc lease contended: $leaseP")
      return
    }
    val age = System.currentTimeMillis() - born
    if (age < LeaseStaleMs) throw new FoldLeaseHeldException(
      s"another maintenance process holds the $desc " +
        s"lease $leaseP (stamped ${age / 1000} s ago) — concurrent " +
        "cross-process maintenance windows can interleave their " +
        "delete/rename protocols and lose data, so this window " +
        "refuses; wait for the holder, or " +
        s"for the lease to go stale after ${LeaseStaleMs / 60000} " +
        "min if the holder crashed")
    // STALE takeover must be single-winner even among CONCURRENT
    // takers: an unconditional delete+create would let taker A delete
    // taker B's FRESH lease microseconds after B won, re-opening the
    // dual-healer interleave the lease exists to prevent (r16
    // self-review). The claim is a rename-aside — a file can be
    // renamed away exactly once, so exactly one taker proceeds —
    // followed by a CONTENT check, because the rename claims whatever
    // sits at the lease path NOW, which may already be a concurrent
    // taker's fresh lease rather than the stale one this process
    // measured.
    val grave = new Path(leaseP.getParent,
      s".${leaseP.getName}.takeover-$owner")
    // rename outcomes vary by FileSystem: RawLocalFileSystem's
    // copy-fallback THROWS FileNotFoundException when the source
    // vanished (a sibling claimed it) where HDFS returns false — both
    // spell "lost the race" (the LifecycleSpec takeover race caught
    // the throwing shape live)
    def tryRename(src: Path, dst: Path): Boolean =
      try fs.rename(src, dst)
      catch { case _: java.io.IOException => false }
    if (!tryRename(leaseP, grave)) throw new FoldLeaseHeldException(
      s"lost the stale-lease takeover race on $leaseP — another " +
        "maintenance process claimed it first")
    // the claim check is BYTE identity against the measured snapshot,
    // never an mtime comparison: rename is copy+delete on object
    // stores and re-stamps mtime, so an mtime check would disown a
    // legitimately claimed TORN lease, restore it (refreshing its
    // mtime again), and livelock every future takeover 15 min at a
    // time (r16 self-review); bytes survive any rename
    val claimed = leaseBytes(fs, grave)
    if (!observed.zip(claimed)
        .exists(p => java.util.Arrays.equals(p._1, p._2))) {
      // we claimed a LIVE taker's fresh lease: restore it; if a third
      // taker already created a new lease meanwhile, drop our copy —
      // the displaced holder's pre-mutation reassert aborts it before
      // damage (see LeaseHandle). Liveness caveat, accepted: if the
      // displaced holder aborted AND released inside our claim→restore
      // gap, the restored lease is a fresh-looking orphan that defers
      // heals until the stale bound passes — a bounded wedge (≤ 15
      // min), never a safety hole, and only reachable in the
      // already-rare mistaken-claim race
      if (!tryRename(grave, leaseP)) fs.delete(grave, false): Unit
      throw new FoldLeaseHeldException(
        s"stale-lease takeover on $leaseP raced a concurrent taker " +
          "that had already re-acquired it — deferring to the holder")
    }
    fs.delete(grave, false): Unit // best-effort; a crash here leaves
    // one ignorable dot-file that the next takeover never touches
    // (per-owner grave names)
    // winning the rename does not guarantee winning the lease: a
    // sibling's plain create can land in the gap — then IT is the
    // holder and this window defers like any other contender
    if (!tryCreate()) throw new FoldLeaseHeldException(
      s"$desc lease contended during stale takeover: " +
        leaseP)
  }

  private def releaseLease(fs: FileSystem,
      leaseP: Path, owner: String, desc: String): Unit = {
    val ours = isOwnedBy(fs, leaseP, owner)
    // a lease that is no longer ours at release means another process
    // claimed it mid-window (post-overrun takeover, or a concurrent
    // taker's mistaken claim). This window's MUTATIONS were guarded
    // by reassert immediately before each one, and the claimant's own
    // byte-compare/reassert checks abort IT unmutated — so this is
    // contention to surface, not silent loss; thrown as the
    // deferrable type so a shared-heal caller notes it while the
    // explicit single-writer windows still fail loudly. Never delete
    // the claimant's lease out from under it.
    if (!ours) throw new FoldLeaseHeldException(
      s"$desc lease $leaseP was claimed by another " +
        "process mid-window (after this window's last pre-mutation " +
        "reassert, or after its work completed) — the claimant's own " +
        "arbitration aborts it before any interleaved mutation; " +
        "re-run this window's entry point to confirm the store")
    require(fs.delete(leaseP, false),
      s"$desc lease release failed: $leaseP")
  }

  /** The one rename-commit write the evidence stores share: `rows` as
    * ONE parquet file at `root/name`, written whole into a
    * dot-prefixed inflight dir and RENAMED in — a reader never sees a
    * torn file, a crash leaves an ignorable `.inflight-*` dir for
    * [[sweepInflights]], and the rename is the commit. The caller has
    * already checked `name` is absent (that check IS the stores'
    * idempotence). */
  private[sinks] def writeCommitted(spark: SparkSession, root: Path,
      name: String, rows: org.apache.spark.sql.DataFrame): Unit = {
    val fs = fsOf(spark, root)
    fs.mkdirs(root)
    // birth epoch IN the name: sweepInflights' age gate must not trust
    // directory mtime — object stores commonly report 0/creation-only
    // for "directories", which would make healShared sweep a LIVE
    // writer's seconds-old inflight as if it were ancient (r14 ADVICE).
    // The writer fails loudly and replays in that case (no evidence
    // loss), but the concurrent-safety claim should hold everywhere,
    // so the gate reads the timestamp the writer stamped itself. The
    // `ts` marker makes the stamp UNAMBIGUOUS against target/lineage
    // names that merely begin with 12-13 digits (allowed by the name
    // rule; a bare digit run parsed as a ~2001 epoch and got a live
    // pre-upgrade writer's inflight swept — r15 ADVICE).
    val inflight = new Path(root,
      s".inflight-ts${System.currentTimeMillis()}-$name")
    rows.coalesce(1).write.mode("overwrite").parquet(inflight.toString)
    val part = singlePart(fs, inflight,
      s"evidence inflight write produced no part file: $inflight")
    require(fs.rename(part, new Path(root, name)),
      s"evidence append failed: $root/$name")
    fs.delete(inflight, true): Unit
  }

  /** [[writeCommitted]] for a DRIVER-LOCAL handful of rows (the
    * one-line ledger append): same inflight-dir + rename-commit
    * protocol, same sweep semantics, but the parquet file is written
    * directly with parquet-hadoop on the driver — a one-row append
    * does not need a Spark job, its scheduler round-trip, or the
    * Hadoop commit protocol (r16, guide §5: the ledger capstones spent
    * most of their wall on ~90 tiny driver-submitted jobs, one per
    * evidence line among others). Spark reads the file back through
    * the stores' explicit schemas; only STRING and BIGINT columns are
    * supported (all evidence schemas qualify — enforced loudly). */
  private[sinks] def writeCommittedLocal(spark: SparkSession, root: Path,
      name: String, schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.Row]): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.spark.sql.types.{LongType, StringType}
    val fs = fsOf(spark, root)
    fs.mkdirs(root)
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      f.dataType match {
        case StringType => b.addField(
          Types.optional(PrimitiveTypeName.BINARY)
            .as(LogicalTypeAnnotation.stringType()).named(f.name))
        case LongType => b.addField(
          Types.optional(PrimitiveTypeName.INT64).named(f.name))
        case dt => throw new IllegalArgumentException(
          s"writeCommittedLocal supports STRING/BIGINT only, " +
            s"got ${f.name}: $dt")
      }
    }
    val mt = b.named("spark_schema")
    val inflight = new Path(root,
      s".inflight-ts${System.currentTimeMillis()}-$name")
    fs.delete(inflight, true)
    fs.mkdirs(inflight)
    val part = new Path(inflight, "part-00000.parquet")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(part, spark.sparkContext.hadoopConfiguration))
      .withType(mt)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try {
      val gf = new org.apache.parquet.example.data.simple.SimpleGroupFactory(mt)
      rows.foreach { r =>
        val g = gf.newGroup()
        schema.fields.zipWithIndex.foreach { case (f, i) =>
          if (!r.isNullAt(i)) f.dataType match {
            case StringType => g.append(f.name, r.getString(i)): Unit
            case LongType => g.append(f.name, r.getLong(i)): Unit
            case _ => () // unreachable: schema checked above
          }
        }
        writer.write(g)
      }
    } finally writer.close()
    require(fs.rename(part, new Path(root, name)),
      s"evidence append failed: $root/$name")
    fs.delete(inflight, true): Unit
  }

  /** Sweeps crashed append `.inflight-*` dirs. Evidence is NOT lost:
    * the stream that crashed replays its batch, finds no final file,
    * and re-appends. `olderThanMs > 0` spares inflights younger than
    * that — the age gate an entry point needs when OTHER writers may
    * be appending to the same store concurrently (a live append's
    * inflight lives for seconds; sweeping it mid-write would fail the
    * writer's rename): the explicit `recover` calls keep the
    * everything-sweep under their documented single-writer window,
    * the maintenance cron's implicit heal passes an hour. The age
    * comes from the epoch the WRITER stamped into the inflight name
    * (`.inflight-ts<epochMs>-...`) — never from directory mtime,
    * which object stores report as 0/unreliable and which would let a
    * shared-ledger heal sweep a live writer's inflight (r14 ADVICE);
    * a name WITHOUT the `ts` marker falls back to mtime, the best
    * signal it has. The marker exists because a bare leading digit
    * run is ambiguous: a legacy target/lineage beginning with 12-13
    * digits parsed as a ~2001 epoch and the hour gate swept it even
    * seconds old (r15 ADVICE) — now only `ts<12-13 digits>-` parses
    * as a stamp. Transition caveat: inflights written by the
    * PREVIOUS (bare-digit-stamp) writer age by mtime during a rolling
    * upgrade — a seconds-wide window, bounded the same way (loud
    * writer failure + replay). */
  private[sinks] def sweepInflights(spark: SparkSession,
      root: Path, olderThanMs: Long = 0L): Seq[String] = {
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) return Nil
    val cutoff = System.currentTimeMillis() - olderThanMs
    def bornAt(st: org.apache.hadoop.fs.FileStatus): Long = {
      val rest = st.getPath.getName.stripPrefix(".inflight-")
      val ds = if (rest.startsWith("ts"))
        rest.drop(2).takeWhile(_.isDigit) else ""
      // epoch-millis is 12–13 digits for any plausible wall clock
      // (2001–2286), and the stamp ends at a '-' separator; anything
      // else is an unstamped name — trust its mtime
      if (ds.length >= 12 && ds.length <= 13 &&
          rest.lift(2 + ds.length).contains('-')) ds.toLong
      else st.getModificationTime
    }
    // the FOLD's inflight dir is never this sweep's to touch: it has
    // no epoch stamp (its name is fixed), so the age gate would fall
    // back to the very mtime this function exists to distrust and
    // could kill a LIVE fold mid-write. [[recover]] owns that dir —
    // manifest present ⇒ roll forward, absent ⇒ sweep — and runs
    // under the per-store monitor, so an in-JVM heal waits for a live
    // fold instead of racing it (cross-JVM folds are the store's
    // documented single-writer window).
    val stale = fs.listStatus(root)
      .filter(st => st.getPath.getName.startsWith(".inflight-") &&
        st.getPath.getName != InflightDir &&
        (olderThanMs <= 0L || bornAt(st) < cutoff))
      .map(_.getPath).toSeq
    stale.foreach(p => fs.delete(p, true))
    stale.map(_.getName)
  }

  /** Whether the store holds any FINAL evidence file (dot/underscore
    * sidecars and inflight dirs don't count). */
  private[sinks] def hasFinalFiles(spark: SparkSession,
      root: Path): Boolean = {
    val fs = fsOf(spark, root)
    fs.exists(root) && fs.listStatus(root)
      .exists(st => !st.getPath.getName.startsWith(".") &&
        !st.getPath.getName.startsWith("_"))
  }

  private def isEvidenceFile(name: String): Boolean =
    name.endsWith(".parquet") && !name.startsWith(".") &&
      !name.startsWith("_")

  /** The single `part-*` file a one-partition parquet write left in
    * `dir` — shared by the append and fold write paths so part-file
    * discovery has exactly one implementation. */
  private def singlePart(fs: FileSystem, dir: Path, err: => String): Path =
    fs.listStatus(dir).map(_.getPath)
      .find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(err))

  /** Trailing batch id of an evidence file name
    * (`target-lineage-<id>.parquet`, `<lineage>-<id>.parquet`,
    * `compacted-<id>.parquet`) — refused loudly on anything else: a
    * foreign file in an evidence store is a deployment error, and
    * silently skipping it would exempt it from every future fold. */
  private def idOf(name: String): Long = {
    val stem = name.stripSuffix(".parquet")
    val cut = stem.lastIndexOf('-')
    require(cut >= 0 && cut < stem.length - 1,
      s"not an evidence file name (no trailing batch id): $name")
    try stem.substring(cut + 1).toLong
    catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"not an evidence file name (non-numeric trailing id): $name")
    }
  }

  /** Folds every evidence file with trailing id < `horizonBatchId`
    * into one `compacted-<maxFolded>.parquet`. `schema` pins the read
    * for fixed-schema stores (ComplianceLog); None infers from the
    * files (QuarantineStore — one stream, one schema per store).
    * Returns (filesFolded, rowsFolded); (0, 0) when fewer than two
    * files are old enough (folding one file buys nothing). */
  def compactBefore(spark: SparkSession, logPath: String,
      horizonBatchId: Long, schema: Option[StructType]): (Long, Long) = {
    val root = new Path(logPath)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) return (0L, 0L)
    // lease-free no-op fast path: with the fold wired into the cron
    // ([[graft.operators.Maintenance.runAll]]'s ledgerFoldHorizon)
    // this runs EVERY slot against a mostly-already-folded store, and
    // the lease's two metadata writes per slot per store would be
    // pure overhead — same rationale as [[recover]]'s fast path. One
    // read-only listing; a manifest committed by a concurrent fold
    // after this check is that fold's to finish, and a genuinely
    // foldable store re-checks everything under the lease below.
    val names0 = fs.listStatus(root).map(_.getPath.getName)
    if (!names0.contains(Manifest) && !names0.contains(InflightDir) &&
        names0.count(n => isEvidenceFile(n) &&
          idOf(n) < horizonBatchId) < 2)
      return (0L, 0L)
    monitorFor(spark, root).synchronized {
    withFoldLease(spark, root) { lease =>
    recoverInner(spark, fs, root, lease): Unit // heal a crashed fold
    val doomed = fs.listStatus(root).map(_.getPath.getName)
      .filter(isEvidenceFile)
      .filter(n => idOf(n) < horizonBatchId)
      .sorted.toSeq
    if (doomed.size < 2) (0L, 0L)
    else {
    val dest = s"$CompactedPrefix-${doomed.map(idOf).max}.parquet"
    val inflight = new Path(root, InflightDir)
    fs.delete(inflight, true)
    val reader = schema.fold(spark.read)(spark.read.schema)
    // read the whole DIRECTORY and select doomed rows by the file name
    // from input_file_name(), instead of enumerating 10k explicit
    // paths: an explicit-path file index getFileStatus-es every path
    // on the driver (SURVEY.md §8: ~2 ms/file, 21 s at 10k
    // files) where the directory index pays ONE listing. The row
    // filter is the EXACT doomed name set (an InSet hash lookup — 25k
    // names is ~2 MB of driver strings), NOT a re-applied horizon
    // predicate: the scan's listing is a SECOND, later listing, so a
    // sub-horizon file landing between the two (a replayed cross-JVM
    // append under a miscomputed horizon) must not have its rows
    // folded while its name stays off the manifest's remove list —
    // the folded rows and the removed files can never diverge when
    // both come from one list (r15 ADVICE). And repartition(1), NOT
    // coalesce(1) — coalesce would fold the scan into the single
    // output task and open every footer serially; the shuffle keeps
    // the tiny-file reads parallel and moves only evidence rows to
    // the one writer. Probe: 24 → 6 s at 10k files, 44 → 18 s at 25k
    // (~0.7 ms/file — the directory read's own rate).
    val fname = org.apache.spark.sql.functions.element_at(
      org.apache.spark.sql.functions.split(
        org.apache.spark.sql.functions.input_file_name(), "/"), -1)
    val rows = reader.parquet(root.toString)
      .where(fname.isin(doomed: _*))
      .repartition(1)
    rows.write.mode("overwrite").parquet(inflight.toString)
    val part = singlePart(fs, inflight,
      s"compaction inflight write produced no part file: $inflight")
    // rowsFolded from the consolidated file's own footer — the store
    // was just written, don't schedule a second read job over it.
    // Encrypted-parquet deployments (PARE tail magic) hide num_rows
    // from the tail read, so fall back to the key-aware reader over
    // the one just-written file rather than refuse the fold (the
    // same dispatch as Maintenance.balance / footerRowTotal)
    val partLen = fs.getFileStatus(part).getLen
    val nRows =
      if (graft.operators.IndexCompact.tailMagic(fs, part, partLen)
          == "PAR1")
        graft.operators.IndexCompact.footerRowCount(fs, part, partLen)
      else reader.parquet(inflight.toString).count()
    // the inflight write above is the window's long phase — re-check
    // the lease is still ours before the first mutation (the manifest
    // is the commit point; applyFold deletes originals)
    lease.reassert()
    // COMMIT POINT: consolidated data is complete inside inflight
    val node = graft.config.Sidecar.newNode()
    node.put("dest", dest)
    val arr = node.putArray("remove"); doomed.foreach(arr.add)
    graft.config.Sidecar.writeNode(spark, new Path(root, Manifest), node)
    applyFold(fs, root, dest, doomed)
    (doomed.size.toLong, nRows)
    }
    }
    }
  }

  /** The idempotent roll-forward loop: delete listed originals, move
    * the inflight part to the destination, clean up. Every step is
    * re-runnable after a crash at any point. */
  private def applyFold(fs: FileSystem, root: Path, dest: String,
      remove: Seq[String]): Unit = {
    val destP = new Path(root, dest)
    remove.filterNot(_ == dest)
      .foreach(n => fs.delete(new Path(root, n), false))
    val inflight = new Path(root, InflightDir)
    if (fs.exists(inflight)) {
      fs.listStatus(inflight).map(_.getPath)
        .find(_.getName.startsWith("part-")).foreach { part =>
          // dest may be among the folded names (an earlier compacted
          // chain with the same max id) — it was deleted above, so the
          // rename lands clean; if dest survives a replayed recover,
          // the part is already gone and this branch is skipped
          fs.delete(destP, false)
          require(fs.rename(part, destP),
            s"evidence compaction rename failed: $part -> $destP")
        }
      require(fs.delete(inflight, true),
        s"evidence compaction cleanup failed: $inflight")
    }
    require(fs.delete(new Path(root, Manifest), false) ||
      !fs.exists(new Path(root, Manifest)),
      s"evidence compaction manifest cleanup failed under $root")
  }

  /** Rolls a crashed fold forward (manifest present — the consolidated
    * data is complete, finish the deletes/rename) or sweeps an
    * uncommitted inflight dir (no manifest — originals untouched).
    * Idempotent; returns the action log (empty = nothing to do). A
    * WORKING recover runs under the cross-JVM [[withFoldLease]]; the
    * nothing-to-heal fast path skips the lease entirely — the shared
    * heal runs every cron slot against mostly-healthy stores, and two
    * metadata writes per slot per store would be pure overhead (a
    * manifest committed by a concurrent cross-JVM fold AFTER our
    * check is that fold's to finish, not ours). */
  def recover(spark: SparkSession, logPath: String): Seq[String] = {
    val root = new Path(logPath)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) return Nil
    monitorFor(spark, root).synchronized {
    if (!fs.exists(new Path(root, Manifest)) &&
        !fs.exists(new Path(root, InflightDir))) Nil
    else withFoldLease(spark, root) { lease =>
      recoverInner(spark, fs, root, lease)
    }
    }
  }

  /** [[recover]]'s body, callable by a holder that ALREADY owns the
    * monitor and the fold lease ([[compactBefore]]'s heal-first).
    * Both branches mutate (roll-forward deletes originals; the sweep
    * deletes an inflight dir that a concurrent fold may be LIVELY
    * writing if our lease was taken over), so each re-asserts the
    * lease first. */
  private def recoverInner(spark: SparkSession, fs: FileSystem,
      root: Path, lease: LeaseHandle): Seq[String] = {
    val manifestP = new Path(root, Manifest)
    graft.config.Sidecar.readNode(spark, manifestP) match {
      case Some(m) =>
        val dest = m.get("dest").asText()
        val remove = graft.config.Sidecar.strings(m, "remove")
        lease.reassert()
        applyFold(fs, root, dest, remove)
        Seq(s"rolled forward crashed evidence fold into $dest " +
          s"(${remove.size} originals)")
      case None =>
        val inflight = new Path(root, InflightDir)
        if (fs.exists(inflight)) {
          lease.reassert()
          fs.delete(inflight, true)
          Seq(s"swept uncommitted evidence fold: $InflightDir")
        } else Nil
    }
  }
}
