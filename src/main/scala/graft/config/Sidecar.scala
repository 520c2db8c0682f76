package graft.config

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** The `_graft_index.json` sidecar shared by the stored-index families
  * (the MinHash-LSH bucket index, `Dedup.writeBucketIndex`, the SimHash
  * index, `Dedup.writeSimhashIndex`, and the IVF-PQ serving index,
  * `Similarity.writeIvfPqIndex`), and the repo's one JSON serializer:
  * the swap and fold manifests and the ingestion watermark
  * (`sync.json`, [[Json]]) go through the same node I/O.
  *
  * A stored index is only as good as the parameters it was built with:
  * probing with parameters that differ from the build's MISSES results
  * silently — no error, just dropped candidates (a different `parts`
  * prunes the wrong directories; different banding changes every bucket
  * value; a different PQ model scores against the wrong codewords). The
  * sidecar therefore pins the build's parameters (and, for the ANN
  * index, the trained model itself) next to the data, probes READ them
  * from here instead of trusting the caller, and a bare directory
  * without a sidecar is REFUSED.
  *
  * Jackson (shipped with Spark) does the parsing — a real JSON parse,
  * not field-regexes, so the two sidecar families can grow fields
  * safely (r9 ADVICE: the regex reader was fine for five integers, not
  * for nested model arrays). Doubles round-trip exactly: jackson emits
  * shortest-repr doubles and parses them back bit-identically, which
  * the fold-order-pinned PQ/coarse centroids rely on.
  */
object Sidecar {
  val FileName = "_graft_index.json"

  /** Sidecar schema version this reader understands. Stamped by
    * [[write]]; [[read]] REFUSES a sidecar from a newer writer (the
    * field set grew twice in round 10 alone — count refresh, model
    * arrays — and an old reader silently misreading a renamed or
    * re-shaped field is the same silent-wrong-results hazard class the
    * sidecar exists to prevent). A sidecar WITHOUT the field is
    * version 1 (the pre-versioning format this code still reads). */
  val CurrentVersion = 1

  private val mapper = new ObjectMapper()

  /** A fresh object node to populate with build parameters. */
  def newNode(): ObjectNode = mapper.createObjectNode()

  /** Serialized bytes of a node — for the one writer that cannot go
    * through [[writeNode]]'s overwrite-rename commit: the evidence
    * stores' fold LEASE must be created EXCLUSIVELY (create(overwrite
    * = false) is the cross-process mutual exclusion), so its bytes are
    * written straight into the exclusive stream. Everything else keeps
    * using [[writeNode]]; this just keeps Jackson the repo's single
    * JSON serializer. */
  private[graft] def toBytes(node: ObjectNode): Array[Byte] =
    mapper.writeValueAsBytes(node)

  /** Parse already-read bytes; None on torn/non-JSON content. For the
    * one reader (the fold lease) that must read a file ONCE and both
    * byte-compare and parse the same snapshot — re-reading could see
    * a different file. */
  private[graft] def parseNode(bytes: Array[Byte]): Option[JsonNode] =
    try Some(mapper.readTree(bytes)) catch { case _: Exception => None }

  /** Attach a nested double matrix (e.g. coarse centroids). */
  def putDoubles2(node: ObjectNode, field: String,
      m: Seq[Seq[Double]]): Unit = {
    val outer = node.putArray(field)
    m.foreach { row =>
      val inner = outer.addArray()
      row.foreach(inner.add)
    }
  }

  /** Attach a nested double tensor (e.g. per-subspace PQ codebooks). */
  def putDoubles3(node: ObjectNode, field: String,
      t: Seq[Seq[Seq[Double]]]): Unit = {
    val outer = node.putArray(field)
    t.foreach { m =>
      val mid = outer.addArray()
      m.foreach { row =>
        val inner = mid.addArray()
        row.foreach(inner.add)
      }
    }
  }

  /** Write the sidecar into `dir` (same filesystem as the index data —
    * works for local paths in tests and object stores in deployment).
    * Always stamps [[CurrentVersion]] so every written sidecar is
    * self-describing to future readers. */
  def write(spark: SparkSession, dir: String, node: ObjectNode): Unit = {
    node.put("version", CurrentVersion)
    writeNode(spark, new Path(dir, FileName), node)
  }

  /** Read and parse `dir`'s sidecar; REFUSE a bare directory and a
    * sidecar written by a NEWER version (see [[CurrentVersion]]).
    * `builder` names the write API the error should point the caller
    * at. */
  def read(spark: SparkSession, dir: String, builder: String): JsonNode = {
    val p = new Path(dir, FileName)
    val node = readNode(spark, p).getOrElse(throw new IllegalArgumentException(
      s"$dir has no $FileName sidecar — build the index with $builder " +
        "(a probe with guessed parameters silently drops results on " +
        "any mismatch)"))
    val v = Option(node.get("version")).filter(_.canConvertToInt)
      .map(_.asInt()).getOrElse(1)
    require(v <= CurrentVersion,
      s"$dir/$FileName is sidecar version $v but this reader " +
        s"understands up to $CurrentVersion — probing with a " +
        "misread model silently drops results; upgrade the reader " +
        "or rebuild the index with this version's " + builder)
    node
  }

  /** Generic JSON node write to an explicit path — the one writer the
    * swap manifests ([[graft.operators.IndexCompact]]) and the
    * ingestion watermark ([[Json.writeSyncFile]]) share.
    *
    * Rename-committed: the bytes land in a dot-prefixed sibling and
    * RENAME onto `p`, so a reader (and a post-crash `recover`) never
    * sees a torn file — only the old node, the new one, or (see below)
    * none. This matters most for the nodes that serve as COMMIT POINTS
    * — the swap manifests and the evidence-fold manifest — where
    * "manifest present" must imply "manifest complete": a plain
    * create+write could die mid-write and leave recovery parsing
    * garbage forever (r13 review finding). A crash before the rename
    * leaves only an ignorable dot-file.
    *
    * The overwrite is NOT atomic except on HDFS. It goes through
    * `FileContext` where the scheme binds an `AbstractFileSystem`, but
    * only HDFS's `Hdfs` overrides the overwriting
    * `renameInternal(src, dst, overwrite)` with one atomic namenode
    * rename. Everywhere else — the local `LocalFs`/`RawLocalFs`, ABFS,
    * every `DelegateToFileSystem` — Hadoop's default runs
    * `getFileLinkStatus` on both paths, then `delete(dst)`, then a
    * plain rename (read from the Hadoop 3.4.2 bytecode). Stores with no
    * `fs.AbstractFileSystem.<scheme>.impl` fall back to the same
    * delete-then-rename here; S3-like stores emulate the rename itself
    * as copy+delete. So a crash between the delete and the rename
    * leaves NO node at `p` until the next write: a missing `sync.json`
    * reads as the first value, and the next step re-ingests from there.
    * Closing that window is the ingestion commit redesign's job (ROADMAP
    * direction 4). */
  def writeNode(spark: SparkSession, p: Path, node: ObjectNode): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(mapper.writeValueAsBytes(node))
    finally out.close()
    try
      org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
        .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        fs.delete(p, false)
        require(fs.rename(tmp, p), s"sidecar commit failed: $tmp -> $p")
    }
  }

  /** Generic JSON node read from an explicit path; None if absent —
    * including a file that vanishes between the exists check and the
    * open (a recovery manifest being FINISHED by a concurrent healer
    * is exactly that shape; the r16 lease-race spec caught the
    * TOCTOU live). */
  def readNode(spark: SparkSession, p: Path): Option[JsonNode] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else
      try {
        val in = fs.open(p)
        val bytes = try in.readAllBytes() finally in.close()
        Some(mapper.readTree(bytes))
      } catch { case _: java.io.FileNotFoundException => None }
  }

  /** The string elements of an array field (e.g. the swap manifest's
    * directory-name lists). */
  def strings(node: JsonNode, field: String): Seq[String] = {
    val f = node.get(field)
    require(f != null && f.isArray, s"JSON node lacks array field '$field'")
    arr(f).map(_.asText())
  }

  def int(node: JsonNode, field: String): Int = {
    val f = node.get(field)
    require(f != null && f.canConvertToInt,
      s"$FileName lacks numeric field '$field': $node")
    f.asInt()
  }

  def str(node: JsonNode, field: String): String = {
    val f = node.get(field)
    require(f != null && f.isTextual,
      s"$FileName lacks string field '$field': $node")
    f.asText()
  }

  def long(node: JsonNode, field: String): Long = {
    val f = node.get(field)
    require(f != null && f.canConvertToLong,
      s"$FileName lacks numeric field '$field': $node")
    f.asLong()
  }

  def doubles2(node: JsonNode, field: String): Seq[Seq[Double]] = {
    val f = node.get(field)
    require(f != null && f.isArray,
      s"$FileName lacks array field '$field'")
    arr(f).map(row => arr(row).map(_.asDouble()))
  }

  def doubles3(node: JsonNode, field: String): Seq[Seq[Seq[Double]]] = {
    val f = node.get(field)
    require(f != null && f.isArray,
      s"$FileName lacks array field '$field'")
    arr(f).map(m => arr(m).map(row => arr(row).map(_.asDouble())))
  }

  private def arr(n: JsonNode): Seq[JsonNode] = {
    val it = n.asInstanceOf[ArrayNode].elements()
    val b = Seq.newBuilder[JsonNode]
    while (it.hasNext) b += it.next()
    b.result()
  }
}
