package graft.operators

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.Sidecar
import graft.functions.{Expr, Hashing}

/** Deduplication operators for LLM-data pipelines.
  *
  * Scale design notes (the part that matters at 100 TB):
  *  - exact dedup is a hash-aggregate on the dedup key — one shuffle,
  *    map-side partial aggregation halves the traffic;
  *  - keep-latest is a window `row_number` — one shuffle on the key, no
  *    driver involvement;
  *  - MinHash LSH turns the O(n²) all-pairs problem into a self-join on
  *    (band, bucket) — candidate volume scales with collision rate, not
  *    n². Band hashing reuses the portable md5 primitive so signatures
  *    can be recomputed by any engine;
  *  - SimHash gives a 60-bit per-doc sketch; near-dup candidates share a
  *    sketch band. Everything is expression-only (no UDF, no
  *    mapPartitions), so WholeStageCodegen covers the full signature
  *    computation.
  */
object Dedup {

  /** Exact dedup: canonical representative (min id) per duplicate group.
    * Equivalent to dropDuplicates(keys) but DETERMINISTIC about which row
    * survives (dropDuplicates keeps an arbitrary first-seen row, which is
    * partition-order-dependent — not reproducible at scale). */
  def exactCanonical(df: DataFrame, keys: Seq[String], idCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  /** Keep-latest dedup: one row per key, latest by `tsCol` (ties broken
    * by idCol desc) — the window generalization of the reference's
    * watermark semantics (SURVEY.md §2.8). */
  def keepLatest(df: DataFrame, keys: Seq[String], tsCol: String,
      idCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).desc, col(idCol).desc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  // ------------------------------------------------------------------
  // MinHash + LSH near-duplicate detection
  // ------------------------------------------------------------------

  /** Word shingles of size n as strings ("w1 w2 w3"). The token array
    * is let-bound (Expr.let) so the per-shingle slice reads a lambda
    * variable instead of re-tokenizing the document per position. */
  def shingles(text: Column, n: Int): Column =
    Expr.let(TextAnalysis.tokens(text)) { toks =>
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " ")))
        .otherwise(array(array_join(toks, " ")))
    }

  /** Native tokenize→shingle→hash (see functions.ShingleHashes); the
    * HOF formulation it must match is `transform(shingles(text, n),
    * md5Mod)` (asserted in HashingSpec). */
  private[graft] def shingleHashes(text: Column, n: Int, mod: Boolean): Column =
    org.apache.spark.sql.GraftSql.column(
      graft.functions.ShingleHashes(
        org.apache.spark.sql.GraftSql.expression(text), n, mod))

  /** Per-doc robust-winnowing fingerprint hashes over a gram-hash
    * array in one linear pass (see functions.WinnowFingerprints); the
    * proven-equal formulation is q220's r16 explode-to-window-starts
    * `min(c)/count(*) group by (doc, p)` aggregate (WinnowSpec pins
    * the equivalence). */
  private[graft] def winnowFingerprints(hashes: Column, windowSize: Int,
      shift: Long): Column =
    org.apache.spark.sql.GraftSql.column(
      graft.functions.WinnowFingerprints(
        org.apache.spark.sql.GraftSql.expression(hashes), windowSize, shift))

  /** MinHash signature: for permutation i, min over shingles of
    * (a_i * md5mod(shingle) + b_i) mod p. Returns array<long> of length
    * numHashes. Pure per-row expressions → no shuffle to compute.
    *
    * Plan-size note: the permutation loop is a `transform` over
    * `sequence(0, N-1)` with coefficients computed from the lambda
    * index (Hashing.affineAt), so the tokenize→shingle→md5 subtree
    * appears exactly ONCE in the plan regardless of numHashes. */
  def minhashSignature(text: Column, shingleSize: Int, numHashes: Int): Column =
    org.apache.spark.sql.GraftSql.column(
      graft.functions.MinHashSignature(
        org.apache.spark.sql.GraftSql.expression(
          shingleHashes(text, shingleSize, mod = true)), numHashes))

  /** Higher-order-function formulation — the asserted specification of
    * the native MinHashSignature expression (HashingSpec). */
  private[graft] def minhashSignatureHof(text: Column, shingleSize: Int,
      numHashes: Int): Column =
    Expr.let(shingleHashes(text, shingleSize, mod = true)) {
      hashed =>
        transform(sequence(lit(0), lit(numHashes - 1)),
          i => array_min(transform(hashed, h => Hashing.affineAt(h, i))))
    }

  /** LSH banding: split the signature into `bands` bands of
    * numHashes/bands rows each; bucket id = portable hash of the band's
    * joined values. Emits one row per (doc, band). The band loop is a
    * `transform` over the band index so the signature subtree appears
    * once (same plan-size rationale as minhashSignature). */
  def withMinhashBands(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 16, bands: Int = 4,
      carry: Seq[String] = Nil): DataFrame =
    bandsFrom(df, idCol,
      minhashSignature(col(textCol), shingleSize, numHashes),
      numHashes, bands, carry)

  /** [[withMinhashBands]] over an ALREADY-COMPUTED signature column —
    * the share-the-signatures path for multi-config banding (q300
    * bands the same 16-slot signatures three ways; recomputing the
    * corpus-linear tokenize→shingle→hash chain per config would
    * triple the scan). Bucket values are identical to
    * [[withMinhashBands]]' by construction: both delegate to the same
    * slice→join→md5 chain, one fed the inline signature expression,
    * the other the materialized column. */
  def bandsFromSignatures(sigs: DataFrame, idCol: String, sigCol: String,
      numHashes: Int, bands: Int): DataFrame =
    bandsFrom(sigs, idCol, col(sigCol), numHashes, bands)

  /** `carry`: extra columns to ride the banded rows (e.g. a source
    * label a downstream report groups candidate pairs by) — carrying a
    * small attribute through the ONE collision-bound self-join is free
    * next to the alternative, a second corpus-scale join attaching it
    * to pairs afterwards (q303 learned this the hard way). */
  private def bandsFrom(df: DataFrame, idCol: String, sig: Column,
      numHashes: Int, bands: Int, carry: Seq[String] = Nil): DataFrame = {
    val rows = numHashes / bands
    val buckets = Expr.let(sig) { s =>
      transform(sequence(lit(0), lit(bands - 1)),
        b => Hashing.md5Long(array_join(
          transform(slice(s, b * lit(rows) + lit(1), lit(rows)),
            x => x.cast("string")),
          "_")))
    }
    df.select((col(idCol) +: carry.map(col)) :+ posexplode(buckets): _*)
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
  }

  /** Candidate near-dup pairs: docs sharing any (band, bucket). The
    * self-join shuffles on (band, bucket) — collision-rate-bound, the
    * LSH property that makes this viable at 100 TB.
    *
    * `maxBucketSize` (0 = uncapped) drops degenerate hot buckets before
    * the self-join: a corpus with k identical boilerplate documents
    * puts all k in one bucket and the join emits k²/2 pairs — at 100 TB
    * that single bucket is the job. Oversized buckets are near-certain
    * duplicates anyway; route them to the exact-dedup operator instead
    * of enumerating pairs. Costs one extra aggregation on the banded
    * rows (map-side combined). */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 16, bands: Int = 4,
      maxBucketSize: Int = 0): DataFrame =
    candidatesFromBanded(
      withMinhashBands(df, textCol, idCol, shingleSize, numHashes, bands),
      idCol, maxBucketSize)

  /** The pair-forming tail of [[minhashCandidates]], split out so
    * multi-config callers (q300's band sweep) can band shared
    * signatures several ways without re-hashing the corpus per
    * config. */
  def candidatesFromBanded(banded: DataFrame, idCol: String,
      maxBucketSize: Int = 0): DataFrame = {
    val b =
      if (maxBucketSize <= 0) banded
      else {
        val sizes = banded.groupBy("band", "bucket")
          .agg(count(lit(1)).as("bsize"))
          .where(col("bsize") <= maxBucketSize)
          .select("band", "bucket")
        banded.join(sizes, Seq("band", "bucket"), "left_semi")
      }
    val l = b.select(col("band"), col("bucket"), col(idCol).as("id_a"))
    val r = b.select(col("band"), col("bucket"), col(idCol).as("id_b"))
    l.join(r, Seq("band", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Incremental near-dup candidates: pairs between a NEW batch and the
    * full corpus (old ∪ new) with ZERO old×old work — the per-batch
    * dedup probe of a watermark-incremental pipeline (the reference's
    * core ingest loop, ref `ingestion/ingestion.py:16-103` — this is
    * the dedup join that loop would run per batch) at corpus scale. Both sides band identically ([[withMinhashBands]]);
    * old banded rows are pruned to the buckets the batch actually
    * touches (a broadcast semi-join on the batch's bucket keys — the
    * "index probe": corpus rows in untouched buckets never shuffle),
    * then the batch joins the surviving rows on (band, bucket). Pairs
    * canonicalize to (min id, max id) so new×new pairs emit once.
    *
    * Exactness contract (DedupSimilaritySpec): equals
    * [[minhashCandidates]] over old ∪ new restricted to pairs touching
    * the batch — incremental ingestion loses nothing vs a full rerun.
    *
    * Scale shape: per-batch cost ∝ |batch| × collision rate, NOT
    * |corpus| — the banding map over the old side is the only
    * corpus-linear work, and in a real deployment that banded table is
    * the stored index (compute it once at build, here from `oldDocs`
    * for self-containment). `maxBucketSize` caps combined bucket size
    * exactly as in [[minhashCandidates]] (hot boilerplate buckets are
    * near-certain dups — route to exact dedup, don't enumerate). */
  def incrementalCandidates(oldDocs: DataFrame, newDocs: DataFrame,
      textCol: String, idCol: String, shingleSize: Int = 3,
      numHashes: Int = 16, bands: Int = 4,
      maxBucketSize: Int = 0): DataFrame =
    incrementalCandidatesIndexed(
      withMinhashBands(oldDocs, textCol, idCol, shingleSize, numHashes,
        bands),
      newDocs, textCol, idCol, shingleSize, numHashes, bands,
      maxBucketSize)

  /** [[incrementalCandidates]] against a PRE-BANDED corpus index —
    * the form a real deployment runs per batch (r8 verdict item 6):
    * the corpus-linear banding scan happens ONCE at index build
    * ([[bucketIndex]] → write), not once per batch, so per-batch work
    * is the batch's own banding plus the collision-bound probe join.
    * `index` must carry (idCol, band, bucket) rows exactly as
    * [[withMinhashBands]] emits them (extra columns ignored).
    * Stored-index ≡ recomputed-index candidates is asserted in
    * DedupSimilaritySpec. */
  def incrementalCandidatesIndexed(index: DataFrame, newDocs: DataFrame,
      textCol: String, idCol: String, shingleSize: Int = 3,
      numHashes: Int = 16, bands: Int = 4,
      maxBucketSize: Int = 0): DataFrame = {
    val bNew = Checkpoint(withMinhashBands(newDocs, textCol, idCol,
      shingleSize, numHashes, bands)) // probe + touched keys
    incrementalFromBanded(
      index.select(col(idCol), col("band"), col("bucket")),
      bNew, idCol, maxBucketSize)
  }

  /** The banded corpus index as a writable frame: (idCol, band, bucket)
    * plus `bpart` = bucket mod `parts` — the PARTITION key to store by
    * (`bucketIndex(docs, ...).write.partitionBy("bpart").parquet(p)`),
    * so a batch probe reads only the ≤`parts` directory partitions its
    * buckets land in ([[incrementalCandidatesStored]]) instead of
    * scanning the whole index. `parts` bounds both the partition count
    * (a 100 TB corpus index stays at `parts` directories, each
    * internally splittable) and the probe's driver-side partition list. */
  def bucketIndex(docs: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 16, bands: Int = 4,
      parts: Int = 64): DataFrame =
    withMinhashBands(docs, textCol, idCol, shingleSize, numHashes, bands)
      .withColumn("bpart", Lsh.bpart(parts))

  /** One stored near-dup index family — MinHash LSH ([[Lsh]]) or
    * SimHash ([[SimHash]]). Everything the stored write, append,
    * delete, probe front and admission gate need differs between the
    * two only in these values, so each of those is written once:
    *  - `builder` names the write API (the sidecar refusal message);
    *    `kind`, when set, must match the sidecar's `kind` field, which
    *    makes a cross-family probe a named refusal (`name`) instead of
    *    a silent miss;
    *  - `banding` bands a batch under a sidecar's parameters into one
    *    (idCol, band, `bucketCol`, …) row per (doc, band);
    *  - `bpart` maps a banded row to its partition directory, given
    *    the sidecar's `parts`;
    *  - `bucketCol` names, with `band`, one bucket. */
  private final case class IndexFamily(builder: String, name: String,
      kind: Option[String],
      banding: JsonNode => (DataFrame, String, String) => DataFrame,
      bpart: Int => Column, bucketCol: String) {
    /** The sidecar, refused when absent, newer than this reader, or of
      * another family's kind. */
    def meta(spark: SparkSession, indexPath: String): JsonNode = {
      val m = Sidecar.read(spark, indexPath, builder)
      kind.foreach(k => require(m.has("kind") && Sidecar.str(m, "kind") == k,
        s"$indexPath is not a $name index — probe it with the API " +
          "matching its builder (a cross-family probe silently misses " +
          "every near-dup)"))
      m
    }
  }

  private val Lsh = IndexFamily("Dedup.writeBucketIndex", "MinHash-LSH",
    None,
    m => withMinhashBands(_, _, _, Sidecar.int(m, "shingleSize"),
      Sidecar.int(m, "numHashes"), Sidecar.int(m, "bands")),
    parts => pmod(col("bucket"), lit(parts)).cast("int"), "bucket")

  /** `bpart` = hash(band, bandval) mod `parts`: raw `bandval` skews
    * with the corpus's bit distribution, hashing it spreads the dirs. */
  private val SimHash = IndexFamily("Dedup.writeSimhashIndex", "SimHash",
    Some("simhash"),
    m => simhashBandedFrame(_, _, _, Sidecar.int(m, "bands")),
    parts => pmod(xxhash64(col("band"), col("bandval")), lit(parts))
      .cast("int"),
    "bandval")

  /** A batch's stored rows: banded under `meta`'s parameters, with its
    * `bpart` partition key. */
  private def indexRows(f: IndexFamily, meta: JsonNode, docs: DataFrame,
      textCol: String): DataFrame =
    f.banding(meta)(docs, textCol, Sidecar.str(meta, "idCol"))
      .withColumn("bpart", f.bpart(Sidecar.int(meta, "parts")))

  /** The one stored-index write: the bpart-partitioned rows, then the
    * sidecar pinning `meta` (plus the family's `kind`). */
  private def writeIndex(f: IndexFamily, docs: DataFrame, path: String,
      textCol: String, meta: ObjectNode): Unit = {
    f.kind.foreach(meta.put("kind", _))
    indexRows(f, meta, docs, textCol)
      .write.mode("overwrite").partitionBy("bpart").parquet(path)
    Sidecar.write(docs.sparkSession, path, meta)
  }

  /** The one stored-index append: banding parameters from the sidecar,
    * never the caller (an append banded differently would poison the
    * index silently). Cost ∝ |batch|: one banding map + an append into
    * the bpart directories the batch's buckets land in; the existing
    * corpus-scale data is never rewritten. */
  private def appendIndex(f: IndexFamily, spark: SparkSession,
      indexPath: String, newDocs: DataFrame, textCol: String): Unit =
    indexRows(f, f.meta(spark, indexPath), newDocs, textCol)
      .write.mode("append").partitionBy("bpart").parquet(indexPath)

  /** The one stored-index delete: one sidecar read serves both the
    * refusal check and the pinned idCol, and the layout-generic
    * [[IndexCompact.deleteMatchingChecked]] rewrites only the bpart
    * directories holding a doomed row. */
  private def deleteIndex(f: IndexFamily, spark: SparkSession,
      indexPath: String, deleteIds: DataFrame,
      evidence: Option[graft.sinks.ComplianceLog.Key]): (Long, Long) =
    IndexCompact.deleteMatchingChecked(spark, indexPath,
      Sidecar.str(f.meta(spark, indexPath), "idCol"), deleteIds, evidence)

  /** Writes [[bucketIndex]] as a bpart-partitioned parquet table PLUS
    * a `_graft_index.json` sidecar pinning the banding parameters.
    * The sidecar exists because a probe run with parameters that
    * differ from the build's (a different `parts` makes the bpart
    * partition filter prune the wrong directories; a different
    * bands/numHashes/shingleSize changes every bucket value) would
    * MISS near-duplicates silently — no error, just dropped pairs.
    * [[incrementalCandidatesStored]] therefore reads its parameters
    * from the sidecar instead of trusting the caller. */
  def writeBucketIndex(docs: DataFrame, path: String, textCol: String,
      idCol: String, shingleSize: Int = 3, numHashes: Int = 16,
      bands: Int = 4, parts: Int = 64): Unit = {
    val meta = Sidecar.newNode()
    meta.put("idCol", idCol)
    meta.put("shingleSize", shingleSize)
    meta.put("numHashes", numHashes)
    meta.put("bands", bands)
    meta.put("parts", parts)
    writeIndex(Lsh, docs, path, textCol, meta)
  }

  /** Appends a landed batch to a STORED [[writeBucketIndex]] table —
    * the index-MAINTENANCE half of the per-batch loop (probe with
    * [[incrementalCandidatesStored]], decide, then append the batch so
    * the NEXT batch's probe sees it). Append-then-probe ≡
    * rebuild-from-scratch is asserted in DedupSimilaritySpec
    * (two-batch sequence). */
  def appendToBucketIndex(spark: SparkSession, indexPath: String,
      newDocs: DataFrame, textCol: String): Unit =
    appendIndex(Lsh, spark, indexPath, newDocs, textCol)

  /** Folds the per-append file fragments back to one file per bpart
    * directory (see [[IndexCompact]]) — layout only, content and
    * sidecar untouched; probe-identity asserted in
    * DedupSimilaritySpec. Returns (filesBefore, filesAfter). */
  def compactBucketIndex(spark: SparkSession,
      indexPath: String): (Long, Long) =
    IndexCompact.compact(spark, indexPath, Lsh.builder)

  /** Deletes takedown/opt-out docs from a STORED [[writeBucketIndex]]
    * table — the removal step the index lifecycle was missing (build →
    * append → compact → DELETE; a 100 TB corpus gets takedown requests
    * whether its index supports them or not). A deleted doc's ≤`bands`
    * band rows are found by a column-pruned (bpart, id) scan and only
    * the bpart directories holding one are rewritten
    * ([[IndexCompact.deleteMatching]]) — cost tracks the delete
    * batch's bucket spread, not the corpus. Banding parameters are
    * corpus-independent, so the sidecar is untouched.
    * Delete-then-probe ≡ rebuild-on-remaining row-identity is
    * asserted in DedupSimilaritySpec. Returns
    * (rowsDeleted, dirsRewritten).
    *
    * With `evidence` set, the delete's
    * [[graft.sinks.ComplianceLog]] line is committed INSIDE the swap
    * protocol — written between the manifest commit and the swap, and
    * re-emitted by recovery from the manifest if a crash beat it — so
    * a replayed batch can never overwrite real counts with its
    * post-delete zeros (r13 verdict item 2). */
  def deleteFromBucketIndex(spark: SparkSession, indexPath: String,
      deleteIds: DataFrame,
      evidence: Option[graft.sinks.ComplianceLog.Key] = None): (Long, Long) =
    deleteIndex(Lsh, spark, indexPath, deleteIds, evidence)

  /** Crash-recovery fsck for a stored [[writeBucketIndex]] table — see
    * [[IndexCompact.recover]]: rolls a crashed compaction/deletion swap
    * forward (committed temp present) or back (uncommitted), restores
    * anything stranded aside, and is idempotent. Run it at the start
    * of a maintenance window (compact/delete already self-heal) or
    * after a known crash. Returns the action log (empty = healthy). */
  def recoverBucketIndex(spark: SparkSession,
      indexPath: String): Seq[String] =
    IndexCompact.recover(spark, indexPath)

  /** The one front of every stored probe and admission gate: the
    * checked sidecar, the batch banded under the sidecar's parameters
    * (never the caller's) and pinned — the touched-bpart collect and
    * the probe both read it — and the stored slice of the batch's
    * touched `bpart` directories (`None` once every directory is
    * deleted, a valid zero-result state).
    *
    * The caller names the BATCH's id column, but the stored index is
    * read under the sidecar's pinned `idCol` — the two must be one
    * name. A mismatch refuses with the family's named error instead of
    * surfacing as an unresolved-column AnalysisException from the
    * index read (r14 ADVICE): the id column is a sidecar parameter
    * like any other. */
  private def probeFront(f: IndexFamily, spark: SparkSession,
      indexPath: String, newDocs: DataFrame, textCol: String,
      idCol: String, api: String): (DataFrame, Option[DataFrame]) = {
    val meta = f.meta(spark, indexPath)
    val pinned = Sidecar.str(meta, "idCol")
    require(pinned == idCol,
      s"$api: index $indexPath pins idCol '$pinned' but the caller " +
        s"passed '$idCol' — the sidecar owns the probe's parameters; " +
        "pass the pinned name (the batch must carry that column)")
    val banded = Checkpoint(f.banding(meta)(newDocs, textCol, idCol))
    (banded, IndexCompact.touchedSlice(spark, indexPath, "bpart",
      banded.select(f.bpart(Sidecar.int(meta, "parts")))))
  }

  /** The one stored-index admission gate: per batch doc, the sum of
    * the stored bucket sizes over the doc's own (band, bucket) cells
    * from the probe's own pruned slice. Returns
    * (idCol, est_candidates, admit). */
  private def admission(f: IndexFamily, spark: SparkSession,
      indexPath: String, newDocs: DataFrame, textCol: String,
      idCol: String, budget: Long, api: String): DataFrame = {
    val (banded, slice) = probeFront(f, spark, indexPath, newDocs,
      textCol, idCol, api)
    IndexCompact.admission(banded, idCol, Seq("band", f.bucketCol), slice,
      "bsize", "est_candidates", budget)
  }

  /** Per-batch probe against a STORED [[writeBucketIndex]] table:
    * bands the batch with the parameters the SIDECAR pins (never
    * caller-supplied — see [[writeBucketIndex]] for why a mismatch is
    * a silent-miss hazard), collects the touched `bpart` set (bounded
    * by `parts` — a model-size driver list, not data), and reads the
    * index with that partition FILTER — untouched directory partitions
    * are pruned at the file level, so probe I/O tracks the batch's
    * bucket spread, not the corpus. Same candidate contract as
    * [[incrementalCandidates]] (asserted in DedupSimilaritySpec). */
  def incrementalCandidatesStored(spark: SparkSession, indexPath: String,
      newDocs: DataFrame, textCol: String, idCol: String,
      maxBucketSize: Int = 0): DataFrame =
    probeFront(Lsh, spark, indexPath, newDocs, textCol, idCol,
        "Dedup.incrementalCandidatesStored") match {
      case (_, None) => newDocs.limit(0)
        .select(col(idCol).as("id_a"), col(idCol).as("id_b"))
      case (bNew, Some(stored)) => incrementalFromBanded(
        stored.select(col(idCol), col("band"), col("bucket")), bNew, idCol,
        maxBucketSize)
    }

  /** ADMISSION CONTROL for the stored-index probe — the ops gate that
    * runs BEFORE [[incrementalCandidatesStored]]: per batch doc,
    * estimate the candidate volume its probe would generate (the sum
    * of the stored index's bucket sizes over the doc's own buckets —
    * an upper bound, since a pair sharing several buckets is counted
    * once per bucket) and flag whether it fits `budget`. A doc landing
    * in a crawl-duplicated mega-bucket is exactly the probe that
    * degenerates toward a full scan at 100 TB; this surfaces it for
    * quarantine/`maxBucketSize` handling BEFORE the join runs, from
    * the same column-pruned, bpart-pruned read the probe itself uses
    * (banding parameters from the sidecar, never the caller). Returns
    * (idCol, est_candidates, admit). */
  def probeAdmission(spark: SparkSession, indexPath: String,
      newDocs: DataFrame, textCol: String, idCol: String,
      budget: Long): DataFrame =
    admission(Lsh, spark, indexPath, newDocs, textCol, idCol, budget,
      "Dedup.probeAdmission")

  /** Shared tail of the incremental paths: prune the (already banded)
    * corpus side to the batch's touched buckets, cap, and emit
    * canonicalized candidate pairs. */
  private def incrementalFromBanded(bOld0: DataFrame, bNew: DataFrame,
      idCol: String, maxBucketSize: Int): DataFrame = {
    val touched = bNew.select(col("band"), col("bucket")).distinct()
    val bOld = bOld0
      .join(broadcast(touched), Seq("band", "bucket"), "left_semi")
    val bAll = bOld.unionByName(bNew.select(col(idCol), col("band"),
      col("bucket")))
    val capped =
      if (maxBucketSize <= 0) bAll
      else {
        val sizes = bAll.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("bsize"))
          .where(col("bsize") <= maxBucketSize)
          .select(col("band"), col("bucket"))
        bAll.join(sizes, Seq("band", "bucket"), "left_semi")
      }
    val probe = bNew.select(col("band"), col("bucket"),
      col(idCol).as("id_new"))
    val build = capped.select(col("band"), col("bucket"),
      col(idCol).as("id_other"))
    probe.join(build, Seq("band", "bucket"))
      .where(col("id_new") =!= col("id_other"))
      .select(least(col("id_new"), col("id_other")).as("id_a"),
        greatest(col("id_new"), col("id_other")).as("id_b"))
      .distinct()
  }

  /** Connected components over near-dup candidate pairs: clusters, not
    * pairs — the form a dedup pass actually consumes (keep one doc per
    * component). Min-label propagation: every node starts labeled with
    * its own id; each round takes the min of its label and its
    * neighbors' labels, hooks that minimum onto the node its label
    * names, and follows labels' own labels (pointer doubling) — a
    * 3,000-node path converges in a handful of rounds. The
    * convergence check is an `observe()` metric collected on the same
    * job that materializes the round (ONE job per round, no separate
    * probe); all data stays distributed, and lineage is truncated per
    * round. The fixpoint is unique, so the result is deterministic
    * regardless of iteration count. Graphs of at most [[DriverMaxEdges]] edges run
    * union-find on the driver instead, to the same labels. */
  def connectedComponents(nodes: DataFrame, idCol: String,
      edges: DataFrame): DataFrame =
    connectedComponents(nodes, idCol, edges, DriverMaxEdges)

  /** The edge count up to which [[connectedComponents]] runs union-find
    * on the driver instead of the distributed loop (≈ 32 MB collected). */
  private[graft] val DriverMaxEdges = 1000000L

  /** As [[connectedComponents]], with the driver union-find gate as a
    * parameter — tests force the distributed loop with -1. */
  private[graft] def connectedComponents(nodes: DataFrame, idCol: String,
      edges: DataFrame, driverMaxEdges: Long): DataFrame = {
    // localCheckpoint, NOT persist: r16 profiling caught the cached
    // adjacency being RECOMPUTED — minhash chain included — on every
    // per-round exchange despite persist() (nine ~4s map stages per
    // q52 run; the block-"already exists" WARNs were the racing
    // re-materializations). The eager checkpoint materializes the
    // edge list exactly once and every round scans the stored RDD:
    // q52 4.3 s → 2.5 s, executor task-time 35 s → 1 s.
    val (adj, nAdj) =
      Checkpoint.counted(Graph.undirected(edges, assumeDistinct = false))
    // Bounded DRIVER union-find fast path (r17, guide §1.2 step 1):
    // the touched/candidate graphs this fixpoint runs on are usually
    // MODEL-sized (a dedup batch's collision volume, a takedown's
    // touched components — thousands of edges), while every
    // distributed double-round costs a checkpoint action plus ~10 AQE
    // stage round-trips of driver latency, which BenchDiag measured as
    // the wall of the whole maintenance family (q315: 10.8 s build vs
    // 5 s executor). When the materialized edge list is small enough
    // to state exactly — the same bounded-collect contract as q221's
    // |types|² Markov chain — run union-find on the driver in O(E α)
    // and skip the loop outright. The threshold is the constant
    // DriverMaxEdges in EDGE ROWS (collected bytes ≈ 32·E), and past it
    // the distributed loop runs, so corpus-scale graphs never touch the
    // driver. Labels are identical by
    // construction: union-by-min keeps every root the minimum member
    // id, exactly the label the loop's min-propagation converges to
    // (DedupSimilaritySpec pins the equivalence either side of the
    // gate).
    val longIds = adj.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    val labels =
      if (longIds && nAdj <= driverMaxEdges) unionFindLabels(adj)
      else propagatedLabels(adj)
    nodes.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** (id, component) for every vertex of the symmetric `adj`, by
    * union-find over its rows collected to the driver. */
  private def unionFindLabels(adj: DataFrame): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    adj.collect().foreach { row =>
      val a = row.getLong(0)
      val b = row.getLong(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    import scala.jdk.CollectionConverters._
    val labelRows = parent.keySet().asScala.iterator
      .map(id => (id, find(id))).toSeq
    adj.sparkSession.createDataFrame(labelRows).toDF("id", "component")
  }

  /** (id, component) for every vertex of the symmetric `adj`, by the
    * distributed min-label loop. */
  private def propagatedLabels(adj: DataFrame): DataFrame = {
    // propagate only over nodes incident to an edge — a dedup candidate
    // graph is overwhelmingly singletons, which are their own component
    // by definition and don't need to ride O(diameter) join rounds.
    // localCheckpoint (not persist) between rounds: caching
    // short-circuits EXECUTION but not PLANNING — the logical plan
    // otherwise grows by three joins per round and Catalyst
    // re-optimizes the whole chain every iteration, which dominated
    // wall time (~6s/round on a 600-row graph). Checkpointing
    // truncates the lineage so each job plans O(1) work.
    //
    // Seed labels with least(id, min(neighbor)) — the same shuffle that
    // would have built the identity labeling performs propagation round
    // one for free (adj is symmetric, so groupBy(src) sees every
    // incident node).
    var labels = Checkpoint(adj.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("mindst"))
      .select(col("id"), least(col("id"), col("mindst")).as("component")))

    // One propagation + hooking + pointer-doubling pass; any extra
    // columns (the convergence baseline `old`) pass through untouched.
    // Labels are monotone non-increasing (every step takes a least over
    // labels of the same component), so `component === old` across ANY
    // number of folded passes iff no pass changed anything — the
    // double-round convergence check below cannot miss an intermediate
    // change.
    def pass(cur: DataFrame): DataFrame = {
      val neighborMin = adj
        .join(cur.select(col("id").as("dst"), col("component")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("component")).as("ncomp"))
      val withMin = cur.join(neighborMin, Seq("id"), "left")
      // hooking: a node's neighbor minimum is also offered to the node
      // its label names, so a label's root learns what any of its
      // members saw in the same pass — without it a smaller label
      // crosses a region one hop per pass, and a path with shuffled ids
      // needs O(n) passes (a 3,000-node path: 11,700 Spark jobs and
      // 210 s on 4 cores, against 115 jobs and 5 s with hooking)
      val hooks = withMin.groupBy(col("component").as("id"))
        .agg(min(col("ncomp")).as("hook"))
      val propagated = withMin.join(hooks, Seq("id"), "left")
        .withColumn("component",
          least(col("component"), col("ncomp"), col("hook")))
        .drop("ncomp", "hook")
      // path shortcutting (pointer doubling): follow the label's own
      // label, collapsing label chains exponentially
      val mapping = propagated
        .select(col("id").as("component"), col("component").as("cc"))
      propagated.join(mapping, Seq("component"), "left")
        .withColumn("component", coalesce(col("cc"), col("component")))
        .drop("cc")
    }

    // TWO passes per checkpointed job: each eager localCheckpoint is a
    // driver-side job round-trip, and at toy scale that fixed cost — not
    // the shuffles — dominated the bench (driver r3: 35s). Folding two
    // rounds per job halves the actions; the convergence count rides
    // the SAME job (Checkpoint.materialize). Labels only decrease, so
    // the loop always reaches the fixpoint — no round cap, no partial
    // labels.
    // Each round's labels are sized by their stored bytes, not by the
    // estimate the checkpoint would inherit: a double-round references
    // its input dozens of times through joins, so the inherited
    // estimate compounded round over round into a number whose
    // computation alone stalled a 200-node path graph.
    val changed = sum(when(col("component") =!= col("old"), 1L)
      .otherwise(0L))
    var nChanged = 1L
    var round = 0
    while (nChanged > 0) {
      round += 1
      val (updated, n) = Checkpoint.materialize(
        pass(pass(labels.withColumn("old", col("component")))),
        s"cc.round[$round]", changed)
      labels = updated.select("id", "component")
      nChanged = n
    }
    labels
  }

  /** Incremental component maintenance — the step that finishes the
    * per-batch dedup story (r9 verdict item 2), and the reference's
    * watermark-incremental contract (ref `ingestion/ingestion.py:32-96`
    * — read persisted state, apply only the increment, persist updated
    * state) applied to the dedup state itself: given the STORED
    * component assignments of the old corpus (`assignments`: one
    * (id, component) row per old doc, component = min member id — the
    * labeling [[connectedComponents]] produces and an ingest pipeline
    * persists) and a batch's candidate pairs from
    * [[incrementalCandidatesStored]], emit the updated assignments for
    * old ∪ new WITHOUT recomputing components over the corpus.
    *
    * Union-find merge of TOUCHED components only: pair endpoints map
    * to their current labels (new ids label themselves), the distinct
    * (label_a, label_b) edges form a component-level graph whose size
    * is bounded by the batch's collision volume — NOT the corpus — and
    * [[connectedComponents]] on that graph yields the label merges.
    * Labels stay canonical min-ids: an old label is the min id of its
    * old component, a new node's label is its own id, so the min over
    * a merged group of labels is the min over all member ids — exactly
    * the label a full recompute over old ∪ new assigns (differential
    * asserted in DedupSimilaritySpec; q305 pins it against DuckDB).
    *
    * Scale shape: the corpus-scale `assignments` table is never
    * shuffled — the endpoint lookup and the final label rewrite are
    * joins against batch-bound frames (AQE broadcasts the small side;
    * no hint, per the q303 lesson), so per-batch cost is two map-only
    * passes over the stored assignments plus a CC fixpoint on the
    * touched-component graph. Survivor extraction stays the existing
    * operators' job: min-id keep IS the component label; keep-latest
    * is [[keepLatest]] partitioned by the updated component. */
  def incrementalComponents(assignments: DataFrame, newNodes: DataFrame,
      idCol: String, batchPairs: DataFrame): DataFrame = {
    val asg = assignments.select(col(idCol).as("id"), col("component"))
    // endpoints → current labels; a missing row means a NEW id (its
    // label is itself). Pairs are batch-bound, so these joins stream
    // the corpus side map-only.
    val labeled = batchPairs.select(col("id_a"), col("id_b"))
      .join(asg.select(col("id").as("id_a"), col("component").as("la")),
        Seq("id_a"), "left")
      .join(asg.select(col("id").as("id_b"), col("component").as("lb")),
        Seq("id_b"), "left")
      .select(coalesce(col("la"), col("id_a")).as("la"),
        coalesce(col("lb"), col("id_b")).as("lb"))
      .where(col("la") =!= col("lb"))
    // batch-bound; the checkpoint cuts the lookup joins out of every CC
    // round's lineage
    val edges = Checkpoint(labeled
      .select(col("la").as("id_a"), col("lb").as("id_b")).distinct())
    val nodes = edges.select(col("id_a").as("id"))
      .unionByName(edges.select(col("id_b").as("id"))).distinct()
    // CC on the touched-LABEL graph — size ∝ batch collisions
    val mapping = connectedComponents(nodes, "id", edges)
      .select(col("id").as("oldlab"), col("component").as("newlab"))
      .where(col("oldlab") =!= col("newlab"))
    val full = asg.unionByName(
      newNodes.select(col(idCol).as("id"), col(idCol).as("component")))
    full.join(mapping, full("component") === mapping("oldlab"), "left")
      .select(col("id").as(idCol),
        coalesce(col("newlab"), col("component")).as("component"))
  }

  /** Assignment REPAIR under deletion — the takedown counterpart of
    * [[incrementalComponents]], finishing the stored dedup state's
    * lifecycle (merge on append, repair on delete). Deleting a doc can
    * SPLIT its near-dup component (the deleted doc may have been the
    * only bridge between two sub-clusters), so no label algebra over
    * whole components is sound the way the append path's min-merge is.
    * But edges never cross components, so recomputing connected
    * components over ONLY the touched components' remaining members
    * (with their remaining edges) is EXACT — identical to a full
    * recompute over the remaining corpus. The differential (including
    * an explicit bridge-split fixture) is asserted in
    * DedupSimilaritySpec; q315 pins it against DuckDB's full-recompute
    * reach CTE.
    *
    * Inputs are the persisted dedup state an ingest pipeline already
    * maintains: the (id, component) `assignments` and the candidate
    * `pairs` (id_a, id_b) that produced them — both corpus-scale
    * stored tables. Scale shape: the touched-component list is bounded
    * by |deleteIds| (AQE broadcasts it); pruning assignments and pairs
    * to it is one semi-join each over the stored tables with no
    * corpus-scale shuffle; the CC fixpoint then runs on the touched
    * neighborhoods only — per-batch repair cost tracks the deleted
    * docs' cluster sizes, never the corpus (measured; SURVEY.md §8). */
  def deleteRepairAssignments(assignments: DataFrame, pairs: DataFrame,
      deleteIds: DataFrame, idCol: String): DataFrame = {
    val asg = assignments.select(col(idCol).as("id"), col("component"))
    require(deleteIds.columns.length == 1,
      s"deleteIds must be a single id column, got: " +
        deleteIds.columns.mkString(", "))
    // read several times below (touched lookup, member/edge pruning);
    // checkpoint so a recomputed delete-set expression can't diverge
    val del = Checkpoint(deleteIds.toDF("id").distinct())
    // components that lost a member — bounded by the delete batch
    val touchedComps = Checkpoint(asg.join(del, Seq("id"), "left_semi")
      .select(col("component")).distinct())
    // untouched components pass through verbatim: nothing in them
    // changed, because edges never cross component boundaries (and
    // every deleted id's own component is by definition touched, so
    // no deleted row can survive this anti-join)
    val untouched = asg.join(touchedComps, Seq("component"), "left_anti")
    // remaining members and remaining edges of the touched components;
    // both endpoints of a pair share a component, so ONE endpoint's
    // assignment decides the touched filter
    val members = asg.join(touchedComps, Seq("component"), "left_semi")
      .join(del, Seq("id"), "left_anti")
    val touchedEdges = pairs.select(col("id_a"), col("id_b"))
      .join(asg.select(col("id").as("id_a"), col("component")),
        Seq("id_a"))
      .join(touchedComps, Seq("component"), "left_semi")
      .select(col("id_a"), col("id_b"))
      .join(del.select(col("id").as("id_a")), Seq("id_a"), "left_anti")
      .join(del.select(col("id").as("id_b")), Seq("id_b"), "left_anti")
    val repaired = connectedComponents(members.select(col("id")), "id",
      touchedEdges)
    untouched.select(col("id").as(idCol), col("component"))
      .unionByName(repaired.select(col("id").as(idCol), col("component")))
  }

  // ------------------------------------------------------------------
  // Test-set decontamination
  // ------------------------------------------------------------------

  /** Benchmark contamination check — the decontamination pass every
    * LLM training pipeline runs before a corpus ships: which training
    * docs share at least one word n-gram with a benchmark/eval set?
    * Returns (id, n_shared) for contaminated training docs only.
    *
    * Scale shape: the benchmark side is SMALL by nature (eval sets are
    * thousands of docs, the corpus is billions) — its distinct shingle
    * hashes broadcast, so the corpus side is one explode + broadcast
    * hash join + partial-aggregated count, no shuffle of corpus text
    * and no all-pairs anything. Hashes (md5, 60-bit) rather than raw
    * shingle strings keep the broadcast compact and the probe
    * engine-portable. */
  def contamination(train: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, n: Int = 3): DataFrame = {
    def exploded(df: DataFrame) = df.select(col(idCol).as("id"),
      explode(array_distinct(
        shingleHashes(col(textCol), n, mod = false))).as("sh"))
    val benchSh = broadcast(exploded(bench).select("sh").distinct())
    exploded(train).join(benchSh, Seq("sh"))
      .groupBy("id")
      .agg(countDistinct(col("sh")).as("n_shared"))
  }

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** 32-bit SimHash over word hashes: bit b of the sketch is 1 iff the
    * count of tokens whose hash has bit b set exceeds half the token
    * count (strict majority vote with ±1 votes). Evaluated by the
    * native one-pass SimHashBits expression; `simhashHof` below is the
    * executable spec it is asserted bit-identical against. */
  def simhash(text: Column, bits: Int = 32): Column =
    org.apache.spark.sql.GraftSql.column(
      graft.functions.SimHashBits(
        org.apache.spark.sql.GraftSql.expression(
          shingleHashes(text, n = 1, mod = false)), bits))

  /** Higher-order-function formulation — the asserted specification of
    * SimHashBits (HashingSpec): per-bit popcount via filter+size over
    * the hashed token array, majority as 2·ones > n. */
  private[graft] def simhashHof(text: Column, bits: Int = 32): Column =
    Expr.let(shingleHashes(text, n = 1, mod = false)) {
      hashed =>
        val n = size(hashed).cast("long")
        val terms = (0 until bits).map { b =>
          val ones = size(filter(hashed,
            h => shiftright(h, b) % 2 === 1)).cast("long")
          // majority: 2*ones > n  →  bit contributes 2^b
          when(ones * 2 > n, lit(1L << b)).otherwise(lit(0L))
        }
        terms.reduce(_ + _)
    }

  def withSimhash(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("simhash", simhash(col(textCol)))

  /** Hamming distance between two simhash sketches (for candidate
    * verification): popcount of xor via the codegen'd `bit_count`
    * built-in — one expression instead of a 32-term shift loop. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** One (idCol, sk, band, bandval) row per (doc, band) — the banded
    * SimHash frame [[simhashCandidates]] self-joins and the stored
    * [[writeSimhashIndex]] family persists. The sketch is let-bound:
    * projecting sk and the band values as separate columns would
    * re-inline the 32-vote sketch 5x via CollapseProject. */
  private def simhashBandedFrame(df: DataFrame, textCol: String,
      idCol: String, bands: Int): DataFrame = {
    val bandBits = 32 / bands
    val mask = (1L << bandBits) - 1
    val bandedArr = Expr.let(simhash(col(textCol))) { s =>
      transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(s.as("sk"), b.as("band"),
          // shiftright needs a literal count; exact equivalent via
          // double division by 2^(bandBits·b) (s < 2^32, division by a
          // power of two — both exact in double)
          floor(s.cast("double") /
            pow(lit(2.0), (b * lit(bandBits)).cast("double")))
            .cast("long").bitwiseAND(lit(mask)).as("bandval")))
    }
    df.select(col(idCol), explode(bandedArr).as("e"))
      .select(col(idCol), col("e.sk").as("sk"), col("e.band").as("band"),
        col("e.bandval").as("bandval"))
  }

  /** SimHash near-dup candidates + verification — the sketch-family
    * pipeline mirroring minhashCandidates: docs sharing any byte-band
    * of their 32-bit sketch become candidates (an 8-bit band is
    * preserved whenever all 8 of its bits survive the perturbation, so
    * a ≤ maxHamming pair almost always shares a band); candidates are
    * verified with the exact Hamming distance. Same bucketed-join
    * shuffle shape as MinHash LSH: collision-bound, never all-pairs. */
  def simhashCandidates(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 2, bands: Int = 4): DataFrame = {
    val banded = simhashBandedFrame(df, textCol, idCol, bands)
    val l = banded.select(col("band"), col("bandval"),
      col(idCol).as("id_a"), col("sk").as("sk_a"))
    val r = banded.select(col("band"), col("bandval"),
      col(idCol).as("id_b"), col("sk").as("sk_b"))
    l.join(r, Seq("band", "bandval"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("sk_a"), col("sk_b")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Writes a STORED SimHash near-dup index — the Hamming-sketch
    * sibling of [[writeBucketIndex]], with the same build → probe →
    * append → compact → delete lifecycle. Rows are the banded frame
    * (id, sk, band, bandval) plus `bpart` = hash(band, bandval) mod
    * `parts`, so a batch probe reads only its touched `bpart`
    * directories exactly like the LSH probe. The sidecar pins (bits,
    * bands, parts, idCol) plus `kind: simhash` — a probe banded
    * differently would MISS near-dups silently, and the kind field
    * makes cross-family mistakes (a SimHash probe against an LSH
    * index) fail with a named error instead of a missing-field parse.
    * Compaction, deletion and crash recovery come from the
    * layout-generic [[IndexCompact]] engine unchanged
    * ([[compactBucketIndex]] / [[deleteFromBucketIndex]] /
    * [[recoverBucketIndex]] all work — the sidecar carries idCol, and
    * [[graft.operators.Maintenance]] detects the bands+parts shape as
    * a bucket-family index). */
  def writeSimhashIndex(docs: DataFrame, path: String, textCol: String,
      idCol: String, bands: Int = 4, parts: Int = 16): Unit = {
    require(32 % bands == 0 && bands >= 1 && bands <= 32,
      s"bands must divide the 32-bit sketch, got $bands")
    val meta = Sidecar.newNode()
    meta.put("idCol", idCol)
    meta.put("bits", 32)
    meta.put("bands", bands)
    meta.put("parts", parts)
    writeIndex(SimHash, docs, path, textCol, meta)
  }

  /** Per-batch near-dup probe against a STORED [[writeSimhashIndex]]
    * table: bands the batch with the SIDECAR's parameters, collects
    * the touched `bpart` set (≤ `parts` ints — model-size driver
    * data), reads the index with that partition filter (file-level
    * pruning — untouched directories never read), equi-joins on
    * (band, bandval) and verifies with the exact Hamming distance over
    * the full sketches. Returns (id_new, id_old, hamming) distinct
    * pairs with hamming ≤ `maxHamming` — probe ≡ the batch×corpus
    * slice of [[simhashCandidates]] by construction (same banding,
    * same verify; asserted in DedupSimilaritySpec and oracle-proven
    * as q331). Cost ∝ the batch's band-bucket spread, not the
    * corpus. */
  def incrementalSimhashStored(spark: SparkSession, indexPath: String,
      newDocs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 2): DataFrame =
    probeFront(SimHash, spark, indexPath, newDocs, textCol, idCol,
        "Dedup.incrementalSimhashStored") match {
      case (_, None) => newDocs.limit(0).select(col(idCol).as("id_new"),
        col(idCol).as("id_old"), lit(0).as("hamming"))
      case (bNew, Some(stored)) =>
        val idx = stored.select(col(idCol).as("id_old"),
          col("sk").as("sk_old"), col("band"), col("bandval"))
        bNew.select(col(idCol).as("id_new"), col("sk").as("sk_new"),
            col("band"), col("bandval"))
          .join(idx, Seq("band", "bandval"))
          .where(col("id_new") =!= col("id_old"))
          .select(col("id_new"), col("id_old"),
            hammingDistance(col("sk_new"), col("sk_old"))
              .cast("int").as("hamming"))
          .distinct()
          .where(col("hamming") <= maxHamming)
    }

  /** Deletes takedown/opt-out docs from a STORED [[writeSimhashIndex]]
    * table — the family-checked delete (a cross-family path is
    * refused by kind; the engine underneath is the same
    * [[IndexCompact.deleteMatchingChecked]] the LSH family uses).
    * Sketch banding is corpus-independent, so the sidecar is
    * untouched. With `evidence` set, the [[graft.sinks.ComplianceLog]]
    * line rides the swap manifest exactly like every other evidenced
    * delete — see [[deleteFromBucketIndex]]. Returns
    * (rowsDeleted, dirsRewritten). A SimHash doc holds `bands` rows
    * (one per band), so rowsDeleted = bands × matched docs. */
  def deleteFromSimhashIndex(spark: SparkSession, indexPath: String,
      deleteIds: DataFrame,
      evidence: Option[graft.sinks.ComplianceLog.Key] = None): (Long, Long) =
    deleteIndex(SimHash, spark, indexPath, deleteIds, evidence)

  /** Appends a landed batch to a STORED [[writeSimhashIndex]] table —
    * banding parameters from the sidecar, never the caller (the same
    * silent-poisoning hazard as [[appendToBucketIndex]]). */
  def appendToSimhashIndex(spark: SparkSession, indexPath: String,
      newDocs: DataFrame, textCol: String): Unit =
    appendIndex(SimHash, spark, indexPath, newDocs, textCol)

  /** ADMISSION CONTROL for the stored-SimHash probe — the gate before
    * [[incrementalSimhashStored]], mirroring [[probeAdmission]]: per
    * batch doc, the candidate-volume upper bound its probe would
    * generate (the sum of stored (band, bandval) bucket sizes over the
    * doc's own cells), from the same bpart-pruned read the probe
    * itself pays. The degenerate case this catches is the
    * all-identical-sketch bucket (boilerplate/empty docs vote the same
    * bits), which saturates a band cell exactly like an LSH
    * mega-bucket. Returns (idCol, est_candidates, admit). */
  def simhashAdmission(spark: SparkSession, indexPath: String,
      newDocs: DataFrame, textCol: String, idCol: String,
      budget: Long): DataFrame =
    admission(SimHash, spark, indexPath, newDocs, textCol, idCol, budget,
      "Dedup.simhashAdmission")

  // ------------------------------------------------------------------
  // N-gram Jaccard verification
  // ------------------------------------------------------------------

  /** EXACT set-similarity self-join: all document pairs with word
    * n-gram Jaccard ≥ tauNum/tauDen, found via PPJoin-style PREFIX
    * FILTERING instead of LSH — the third candidate-generation tier
    * next to minhashCandidates (probabilistic) and simhashCandidates
    * (Hamming): lossless, so unlike LSH there is no recall question;
    * the q182 oracle brute-forces ALL pairs and the hash must agree.
    *
    * The filter: order each doc's shingle set by GLOBAL rarity
    * (document frequency asc, token asc — rare tokens first) and keep
    * the first |T| − ⌈τ·|T|⌉ + 1 as its prefix; two docs can reach
    * J ≥ τ only if their PREFIXES share a token (textbook bound: with
    * disjoint prefixes the intersection fits inside one suffix,
    * |A∩B| ≤ ⌈τ|A|⌉−1 < ⌈τ/(1+τ)·(|A|+|B|)⌉ ≤ required overlap).
    * ⌈τ·s⌉ is computed in integer arithmetic ((s·num + den−1) DIV den)
    * and the final threshold by integer cross-multiply — no float
    * boundary anywhere.
    *
    * Scale shape: candidates join on PREFIX tokens only — and prefixes
    * are the RAREST tokens, so bucket sizes are small by construction
    * (a token of document frequency d generates ≤ C(d,2) pairs, and
    * high-df tokens are exactly the ones prefixes exclude); the
    * verify join touches candidate pairs only. One window (per-doc
    * rank) + two equi-join shuffles. */
  def similarityJoinPrefix(docs: DataFrame, textCol: String, idCol: String,
      n: Int, tauNum: Int, tauDen: Int): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen)
    // token space = md5-HASHED shingles (the native ShingleHashes
    // expression), not strings: every downstream structure — the df
    // aggregate, the window sort, the candidate equi-join, the sorted
    // verify arrays — runs on primitive longs. Jaccard is over the
    // hashed shingle space; a (astronomically unlikely) 60-bit
    // collision affects both engines identically since the oracle
    // hashes with the same md5 formula.
    // the token table feeds FIVE consumers (df counts, set sizes, both
    // prefix sides, the verify arrays) and the prefix feeds both sides
    // of the candidate self-join — materialize each once
    // (localCheckpoint, the graph-operator pattern) instead of
    // re-running tokenize+hash per consumer in one plan (measured 3×
    // the whole query's cost)
    val toks = Checkpoint(docs.select(col(idCol).as("jid"),
      explode(array_distinct(shingleHashes(col(textCol), n, mod = false)))
        .as("sh")))
    val dfreq = toks.groupBy("sh").agg(count(lit(1)).as("df"))
    val sizes = toks.groupBy("jid").agg(count(lit(1)).as("set_size"))
    val w = Window.partitionBy(col("jid"))
      .orderBy(col("df").asc, col("sh").asc)
    val prefix = Checkpoint(toks.join(dfreq, Seq("sh"))
      .withColumn("rn", row_number().over(w))
      .join(sizes, Seq("jid"))
      .filter(col("rn") <= col("set_size") -
        expr(s"(set_size * $tauNum + ${tauDen - 1}) DIV $tauDen") + 1)
      .select(col("sh"), col("jid"), col("rn"), col("set_size")))
    // two more LOSSLESS prunes before the distinct (PPJoin's classic
    // pair): the LENGTH filter (J ≥ τ forces τ·max(|A|,|B|) ≤
    // min(|A|,|B|)) and the POSITIONAL filter — at the FIRST shared
    // prefix token (positions ra, rb) the overlap can be at most
    // 1 + min(|A|−ra, |B|−rb) (no earlier shared token can exist: it
    // would have to be in one side's suffix yet globally smaller than
    // that side's prefix boundary), which must reach the required
    // overlap ⌈τ/(1+τ)·(|A|+|B|)⌉; a pair survives iff its first
    // instance passes, so filtering every instance then distinct is
    // the same set. Measured 7.0M → 2.4M candidates at sf0.1.
    val cand = prefix.select(col("sh"), col("jid").as("id_a"),
        col("rn").as("ra"), col("set_size").as("sa"))
      .join(prefix.select(col("sh"), col("jid").as("id_b"),
        col("rn").as("rb"), col("set_size").as("sb")), Seq("sh"))
      .where(col("id_a") < col("id_b") &&
        least(col("sa"), col("sb")) * tauDen >=
          greatest(col("sa"), col("sb")) * tauNum &&
        (lit(1) + least(col("sa") - col("ra"), col("sb") - col("rb"))) *
          (tauNum + tauDen) >= (col("sa") + col("sb")) * tauNum)
      .select("id_a", "id_b").distinct()
    // verify per CANDIDATE against the per-doc SORTED token arrays —
    // one row per pair through the native merge-walk intersect kernel,
    // never the pair×token explosion (candidates × |A| intermediate
    // rows — measured 25× slower) and never array_intersect's per-row
    // boxed hash set (measured 43s → ~3s at sf0.1). The token-set
    // table is doc-grain (tiny next to the candidate set); joining it
    // is a plain equi-join the optimizer broadcasts when it fits and
    // shuffles on the candidate key when it doesn't — no hint, per the
    // q78 lesson.
    val tokArr = Checkpoint(toks.groupBy("jid")
      .agg(sort_array(collect_list(col("sh"))).as("tset"),
        count(lit(1)).as("set_size")))
    def intersectCount(a: Column, b: Column): Column =
      org.apache.spark.sql.GraftSql.column(
        graft.functions.SortedIntersectCount(
          org.apache.spark.sql.GraftSql.expression(a),
          org.apache.spark.sql.GraftSql.expression(b)))
    cand
      .join(tokArr.select(col("jid").as("id_a"), col("tset").as("ta"),
        col("set_size").as("size_a")), "id_a")
      .join(tokArr.select(col("jid").as("id_b"), col("tset").as("tb"),
        col("set_size").as("size_b")), "id_b")
      .withColumn("inter_size", intersectCount(col("ta"), col("tb")))
      .withColumn("union_size",
        col("size_a") + col("size_b") - col("inter_size"))
      .filter(col("inter_size") * tauDen >= col("union_size") * tauNum)
      .select(col("id_a"), col("id_b"), col("inter_size"), col("union_size"))
  }

  /** Exact n-gram Jaccard similarity for candidate pairs, computed with
    * one explode + equi-join + group-by (set semantics via distinct
    * shingles). `pairs` has (id_a, id_b); `docs` has (idCol, textCol).
    * Intersection comes from the join; union = |A| + |B| − |A∩B|. */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val sh = docs.select(col(idCol).as("jid"),
      explode(array_distinct(shingles(col(textCol), n))).as("sh"))
    val sizes = sh.groupBy("jid").agg(count(lit(1)).as("set_size"))
    jaccardFromShingles(sh, sizes, pairs)
  }

  /** The pair-Jaccard tail of [[ngramJaccard]] over PRECOMPUTED
    * distinct-shingle (`jid`, `sh`) and set-size (`jid`, `set_size`)
    * frames — so multi-config callers (q300) explode the corpus's
    * shingles once and score each config's candidate pairs against
    * the shared frames. */
  def jaccardFromShingles(sh: DataFrame, sizes: DataFrame,
      pairs: DataFrame): DataFrame = {
    val inter = pairs
      .join(sh.select(col("jid").as("id_a"), col("sh")), Seq("id_a"))
      .join(sh.select(col("jid").as("id_b"), col("sh")), Seq("id_b", "sh"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter_size"))
    inter
      .join(sizes.select(col("jid").as("id_a"), col("set_size").as("size_a")), "id_a")
      .join(sizes.select(col("jid").as("id_b"), col("set_size").as("size_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("inter_size").cast("double") /
          (col("size_a") + col("size_b") - col("inter_size")).cast("double"))
          .as("jaccard"))
  }
}
