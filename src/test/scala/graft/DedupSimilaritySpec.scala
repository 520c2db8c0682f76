package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Behavior of the LLM-pipeline dedup/similarity operators on
  * controlled inputs plus the sf0.001 fixtures (read-only). */
class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("exact dedup keeps the deterministic min-id representative") {
    val df = Seq(
      ("a", "x", 30L), ("a", "x", 10L), ("a", "x", 20L), ("b", "y", 5L)
    ).toDF("k1", "k2", "id")
    val out = Dedup.exactCanonical(df, Seq("k1", "k2"), "id")
      .orderBy("k1").collect()
    assert(out.map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toSeq ===
      Seq(("a", 10L, 3L), ("b", 5L, 1L)))
  }

  test("minhash: identical docs share the full signature; LSH pairs them") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different words about spark query engines at scale")
    ).toDF("doc_id", "text")
    val sigs = df.select($"doc_id",
      Dedup.minhashSignature($"text", 3, 16).as("sig"))
      .orderBy("doc_id").collect().map(_.getSeq[Long](1))
    assert(sigs(0) === sigs(1))
    assert(sigs(0) !== sigs(2))
    val pairs = Dedup.minhashCandidates(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs === Seq((1L, 2L)))
  }

  test("KMV sketch: exact below k, ~k^-1/2 error above, agg == spec") {
    import graft.operators.Sketches
    val df = ((1 to 10).map(i => ("small", s"v$i")) ++
      (1 to 5000).map(i => ("big", s"u$i"))).toDF("g", "v")
      .repartition(7) // force partial-aggregate merges across partitions
    val out = Sketches.kmvDistinct(df, Seq("g"), "v", k = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("small") === 10L) // below k -> exact
    val est = out("big").toDouble
    assert(math.abs(est - 5000) / 5000 < 0.4, s"estimate $est") // ~12% rse
    // the bounded-buffer aggregate must equal the collect-everything spec
    val spec = Sketches.kmvDistinctSpec(df, Seq("g"), "v", k = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === spec)
  }

  test("KMV mins sketch: sorted k-min array == collect-everything spec, " +
    "and the merged-union estimate equals a directly-built union sketch") {
    import graft.operators.Sketches
    import graft.functions.Hashing
    val df = ((1 to 3000).map(i => ("a", s"v$i")) ++
      (2000 to 6000).map(i => ("b", s"v$i"))).toDF("g", "v")
      .repartition(7) // force partial-aggregate merges across partitions
    val k = 64
    val out = Sketches.kmvMins(df, Seq("g"), "v", k)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val spec = df
      .groupBy("g")
      .agg(slice(array_sort(collect_set(
        Hashing.md5Long(col("v").cast("string")))), 1, k).as("m"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(out === spec)
    assert(out("a").length === k && out("a") === out("a").sorted)
    // k smallest of (mins(A) ++ mins(B)) == mins(A ∪ B): merging the
    // bounded sketches loses nothing vs sketching the union directly
    val mergedUnion = (out("a") ++ out("b")).distinct.sorted.take(k)
    val direct = Sketches.kmvMins(
      df.select(col("v")).distinct().withColumn("g", lit("u")),
      Seq("g"), "v", k)
      .collect().map(r => r.getSeq[Long](1)).head
    assert(mergedUnion === direct)
  }

  test("connected components: chain, triangle, singleton") {
    val nodes = (1L to 7L).toDF("id")
    // chain 1-2-3-4 (diameter 3: needs >1 propagation round),
    // triangle 5-6-7 via two edges, node ... none for 7? add 6-7
    val edges = Seq((2L, 3L), (1L, 2L), (3L, 4L), (5L, 6L), (6L, 7L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(nodes, "id", edges)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(cc.toSeq === Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("connected components: zero edges -> every node its own component") {
    val nodes = (1L to 5L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    // the distributed side exercises the empty-label loop: the observed
    // change count is a sum over zero rows (null) and must read as
    // converged, not crash
    for (gate <- Seq(Dedup.DriverMaxEdges, -1L)) {
      val cc = Dedup.connectedComponents(nodes, "id", edges, gate)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(cc.toSeq === (1L to 5L).map(i => i -> i), s"gate=$gate")
    }
  }

  test("connected components == union-find on seeded random graphs") {
    val rnd = new scala.util.Random(5)
    // sparse (many components, long chains) and denser (few components)
    // both sides of the driver gate: -1 forces the distributed loop
    for (nEdges <- Seq(80, 400); gate <- Seq(Dedup.DriverMaxEdges, -1L)) {
      val n = 300
      val edgePairs = (0 until nEdges).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        if (a < b) (a, b) else (b, a)
      }.filter(p => p._1 != p._2).distinct
      val nodes = (0L until n.toLong).toDF("id")
      val edges = edgePairs.toDF("id_a", "id_b")
      val got = Dedup.connectedComponents(nodes, "id", edges, gate)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // reference: plain union-find with min-label canonicalization
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edgePairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val canon = (0 until n).groupBy(find).flatMap { case (_, members) =>
        val label = members.min.toLong
        members.map(m => m.toLong -> label)
      }
      assert(got === canon, s"nEdges=$nEdges gate=$gate")
    }
  }

  test("connected components: driver union-find path == distributed " +
    "loop either side of the edge threshold") {
    val rnd = new scala.util.Random(7)
    val n = 250
    val edgePairs = (0 until 300).map { _ =>
      val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
      if (a < b) (a, b) else (b, a)
    }.filter(p => p._1 != p._2).distinct
    val nodes = (0L until n.toLong).toDF("id")
    val edges = edgePairs.toDF("id_a", "id_b")
    def run(gate: Long): Map[Long, Long] =
      Dedup.connectedComponents(nodes, "id", edges, gate)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // the default gate is far above 300 edges; -1 forces the
    // distributed double-round loop
    assert(run(-1L) === run(Dedup.DriverMaxEdges))
  }

  test("connected components: a 3,000-node path with shuffled ids == " +
    "union-find on both sides of the driver gate") {
    // a path is the deepest graph for its size: the distributed loop
    // must run to its fixpoint, not stop at a round cap with partial
    // labels. Shuffled ids keep the minimum away from the path's end.
    val n = 3000
    val ids = new scala.util.Random(13).shuffle((0L until n.toLong).toVector)
    val edges = ids.sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("id_a", "id_b")
    val nodes = ids.toDF("id")
    for (gate <- Seq(Dedup.DriverMaxEdges, -1L)) {
      val got = Dedup.connectedComponents(nodes, "id", edges, gate)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // union-find over one path: a single component labeled by its min
      assert(got === ids.map(_ -> 0L).toMap, s"gate=$gate")
    }
  }

  test("deleteRepairAssignments == union-find over the remaining graph " +
    "on seeded random graphs with random delete sets (splits, " +
    "re-elections, whole-component removals all covered by volume)") {
    val rnd = new scala.util.Random(11)
    for (nEdges <- Seq(80, 400); trial <- 0 until 3) {
      val n = 300
      val edgePairs = (0 until nEdges).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        if (a < b) (a, b) else (b, a)
      }.filter(p => p._1 != p._2).distinct
      val nodes = (0L until n.toLong).toDF("id")
      val edges = edgePairs.toDF("id_a", "id_b")
      val assignments = Dedup.connectedComponents(nodes, "id", edges)
        .localCheckpoint(false)
      // ~15% random takedown — hits bridges, canonicals, singletons
      val delIds = (0 until n).filter(_ => rnd.nextInt(100) < 15)
        .map(_.toLong)
      val del = delIds.toDF("id")
      val got = Dedup.deleteRepairAssignments(assignments, edges, del,
        "id").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // reference: plain union-find over the REMAINING graph
      val dead = delIds.toSet
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edgePairs.foreach { case (a, b) =>
        if (!dead.contains(a) && !dead.contains(b)) {
          val (ra, rb) = (find(a.toInt), find(b.toInt))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
      }
      val canon = (0 until n).filterNot(i => dead.contains(i.toLong))
        .groupBy(find).flatMap { case (_, members) =>
          val label = members.min.toLong
          members.map(m => m.toLong -> label)
        }
      assert(got === canon, s"nEdges=$nEdges trial=$trial")
    }
  }

  test("minhash bucket cap drops degenerate hot buckets") {
    val boiler = "identical boilerplate text repeated across the corpus"
    val df = ((1L to 6L).map(i => (i, boiler)) :+ (7L, "something else"))
      .toDF("doc_id", "text")
    // uncapped: 6 identical docs -> C(6,2)=15 pairs
    assert(Dedup.minhashCandidates(df, "text", "doc_id").count() === 15)
    // capped below the clique size: the hot bucket is dropped entirely
    assert(Dedup.minhashCandidates(df, "text", "doc_id",
      maxBucketSize = 5).count() === 0)
  }

  test("simhash: near-identical docs are close in Hamming distance") {
    val df = Seq(
      (1L, "spark makes distributed data processing simple and fast today"),
      (2L, "spark makes distributed data processing simple and quick today"),
      (3L, "unrelated text with nothing in common whatsoever here at all")
    ).toDF("doc_id", "text")
    val hs = Dedup.withSimhash(df, "text").orderBy("doc_id")
      .select("simhash").as[Long].collect()
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(hs(0), hs(1)) < hamming(hs(0), hs(2)))
  }

  test("ngram jaccard: identical=1, disjoint pairs are absent") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zz yy xx ww")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.ngramJaccard(docs, pairs, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // inner join drops the zero-intersection (1,3) pair
    assert(out.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("IVF top-k: scores agree with brute force; recall is useful") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 10,
      nlist = 16, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(ivf.nonEmpty)
    val common = ivf.keySet intersect bf.keySet
    assert(common.nonEmpty)
    common.foreach(k => assert(ivf(k) === bf(k)))
    val recall = common.size.toDouble / bf.size
    assert(recall >= 0.3, s"IVF recall@10 = $recall")
    // Lloyd refinement (the default) must not cost recall vs the raw
    // first-nlist-vectors seeding it replaces
    val unrefined = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      10, nlist = 16, nprobe = 4, refine = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall0 = (unrefined intersect bf.keySet).size.toDouble / bf.size
    assert(recall >= recall0, s"refined $recall < unrefined $recall0")
  }

  test("LSH top-k: scores agree with brute force; recall is useful") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 64, 10,
      bits = 6, tables = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.nonEmpty)
    // exact-cosine re-rank: any pair surfaced by LSH that is also in the
    // brute-force top-k must carry the identical score
    val common = lsh.keySet intersect bf.keySet
    assert(common.nonEmpty)
    common.foreach(k => assert(lsh(k) === bf(k)))
    // recall@10 over the 5 queries: bucketed candidates at 6 bits must
    // recover a non-trivial fraction of the true top-k
    val recall = common.size.toDouble / bf.size
    assert(recall >= 0.3, s"recall@10 = $recall")
  }

  test("similarityJoinPrefix == brute force on random docs with planted " +
    "near-dups: the prefix filter is LOSSLESS and the threshold exact") {
    val rnd = new scala.util.Random(59)
    val vocab = (0 until 120).map(i => s"w$i")
    val base = (0L until 60L).map { i =>
      i -> (0 until 12 + rnd.nextInt(8)).map(_ =>
        vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    // planted near-dups: copy with one word changed (high jaccard) and
    // a shuffled-suffix copy (moderate)
    val planted = base.take(10).map { case (i, txt) =>
      val words = txt.split(" ")
      (i + 1000L, (words.dropRight(1) :+ "zz").mkString(" "))
    }
    val docs = (base ++ planted).toDF("doc_id", "text")
    val got = Dedup.similarityJoinPrefix(docs, "text", "doc_id", 2, 3, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // brute-force reference over ALL pairs in Scala
    def shingleSet(txt: String): Set[String] = {
      val w = txt.trim.toLowerCase.split("\\s+").toSeq
      if (w.size >= 2) w.sliding(2).map(_.mkString(" ")).toSet
      else Set(w.mkString(" "))
    }
    val sets = (base ++ planted).map { case (i, s2) => i -> shingleSet(s2) }
    val ref = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      i = (sa intersect sb).size; u = (sa union sb).size
      if i * 5 >= u * 3
    } yield (a, b) -> (i.toLong, u.toLong)).toMap
    assert(got === ref,
      s"missing=${(ref.keySet -- got.keySet).take(3)} " +
        s"extra=${(got.keySet -- ref.keySet).take(3)}")
    assert(ref.nonEmpty) // the planted dups must actually qualify
  }

  test("productQuantizeStats: per-subspace codebooks are independent " +
    "kmeansStats runs on the slices; every subspace accounts for the " +
    "whole corpus") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = emb.count()
    val pq = Similarity.productQuantizeStats(emb, "vec_id", "embedding",
      dim = 64, m = 4, k = 8, rounds = 1).collect()
    assert(pq.map(_.getInt(0)).toSet === Set(0, 1, 2, 3))
    (0 until 4).foreach { j =>
      assert(pq.filter(_.getInt(0) == j).map(_.getLong(2)).sum === n, s"s$j")
    }
    // subspace 0's block IS kmeansStats on the first 16 dims
    val direct = Similarity.kmeansStats(
      emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("sv")),
      "vec_id", "sv", k = 8, rounds = 1)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    pq.filter(_.getInt(0) == 0).foreach { r =>
      val (dn, dcos) = direct(r.getInt(1))
      assert(r.getLong(2) === dn && r.getDouble(3) === dcos)
    }
  }

  test("semanticDedup: planted scaled copies all drop (same cell, " +
    "cos~1), naturals survive, partition-invariant, empty corpus ok") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("vec"))
    val planted = emb.filter(col("vec_id") < 40)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x.cast("double") * 2.0).as("vec"))
    val corpus = base.unionByName(planted)
    def run(parts: Int) =
      Similarity.semanticDedup(corpus.repartition(parts), "vec_id", "vec",
        k = 8, rounds = 1, threshold = 0.95)
        .collect().map(r => r.getInt(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val r8 = run(8)
    // exactly the 40 planted copies drop, across all cells
    assert(r8.values.map(_._2).sum === 40L)
    assert(r8.values.map(_._1).sum === base.count() + 40)
    r8.foreach { case (c, (n, nd, nk)) => assert(nk === n - nd, s"cell $c") }
    assert(run(1) === r8) // partitioning cannot change the report
    // threshold above every cosine: nothing drops
    val none = Similarity.semanticDedup(base, "vec_id", "vec",
      k = 8, rounds = 1, threshold = 1.5)
      .collect().map(_.getLong(2)).sum
    assert(none === 0L)
    assert(Similarity.semanticDedup(base.limit(0), "vec_id", "vec",
      k = 8, rounds = 1, threshold = 0.9).count() === 0L)
  }

  test("incrementalCandidates == full-corpus candidates restricted to " +
    "batch-touching pairs (incremental ingestion loses nothing), " +
    "zero old×old pairs, empty-batch/empty-corpus safe") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val batch = docs.filter($"doc_id" % 5 === 2)
    val corpus = docs.filter($"doc_id" % 5 =!= 2)
    val inc = Dedup.incrementalCandidates(corpus, batch, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    val full = Dedup.minhashCandidates(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .filter(p => batchIds(p._1) || batchIds(p._2))
    assert(inc === full)
    assert(inc.forall(p => batchIds(p._1) || batchIds(p._2)))
    // the bucket-size cap counts COMBINED (old+new) bucket population,
    // matching the full-rerun cap exactly
    val incCap = Dedup.incrementalCandidates(corpus, batch, "text",
        "doc_id", maxBucketSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullCap = Dedup.minhashCandidates(docs, "text", "doc_id",
        maxBucketSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .filter(p => batchIds(p._1) || batchIds(p._2))
    assert(incCap === fullCap)
    assert(Dedup.incrementalCandidates(corpus, batch.limit(0), "text",
      "doc_id").count() === 0L)
    assert(Dedup.incrementalCandidates(corpus.limit(0), batch, "text",
      "doc_id").count() ===
      Dedup.minhashCandidates(batch, "text", "doc_id").count())
  }

  test("pqTrain + pqEncode + pqAdcScan == monolithic pqAdcTopK " +
    "(the stored-PQ-index split changes nothing, row for row)") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" < 5)
    val mono = Similarity.pqAdcTopK(emb, queries, "vec_id", "embedding",
      dim = 64, m = 4, kCodes = 8, rounds = 1, shortlist = 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val books = Similarity.pqTrain(emb, "vec_id", "embedding",
      dim = 64, m = 4, kCodes = 8, rounds = 1)
    val split = Similarity.pqAdcScan(
      Similarity.pqEncode(emb, "vec_id", "embedding", books),
      queries, "vec_id", "embedding", books, shortlist = 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(mono === split)
    assert(mono.nonEmpty)
    // same contract for the composed serving index: coarse + PQ halves
    // trained once, ivfPqEncode stored, ivfPqScan per batch
    val ivfMono = Similarity.ivfPqTopK(emb, queries, "vec_id",
      "embedding", dim = 64, m = 4, kCodes = 8, rounds = 1, nlist = 8,
      nprobe = 3, shortlist = 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val coarse = Similarity.trainCoarse(emb, "vec_id", "embedding",
      nlist = 8, rounds = 1)
    val ivfSplit = Similarity.ivfPqScan(
      Similarity.ivfPqEncode(emb, "vec_id", "embedding", coarse, books),
      queries, "vec_id", "embedding", coarse, books, nprobe = 3,
      shortlist = 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(ivfMono === ivfSplit)
    assert(ivfMono.nonEmpty)
  }

  test("the seeded trainer reads array<double>: ivfTopK, kmeansStats, " +
    "pqAdcTopK and ivfPqTopK return the float corpus's rows bit for bit") {
    val flt = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding")
    // float → double widens exactly, and every kernel folds in double
    val dbl = flt.select($"vec_id",
      $"embedding".cast("array<double>").as("embedding"))
    def same(op: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Unit = {
      val want = op(flt).collect().toSet
      assert(want.nonEmpty)
      assert(op(dbl).collect().toSet === want)
    }
    def queries(c: org.apache.spark.sql.DataFrame) = c.filter($"vec_id" < 5)
    same(c => Similarity.ivfTopK(c, queries(c), "vec_id", "embedding", 5,
      nlist = 8, nprobe = 2))
    same(c => Similarity.kmeansStats(c, "vec_id", "embedding", k = 4,
      rounds = 1))
    same(c => Similarity.pqAdcTopK(c, queries(c), "vec_id", "embedding",
      dim = 64, m = 4, kCodes = 8, rounds = 1, shortlist = 20, k = 5))
    same(c => Similarity.ivfPqTopK(c, queries(c), "vec_id", "embedding",
      dim = 64, m = 4, kCodes = 8, rounds = 1, nlist = 8, nprobe = 3,
      shortlist = 20, k = 5))
  }

  test("stored bucket index ≡ recomputed index: incrementalCandidates" +
    "Stored (partition-pruned parquet probe) and ...Indexed emit " +
    "EXACTLY the recompute path's candidates, incl. under the cap") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val batch = docs.filter($"doc_id" % 5 === 2)
    val corpus = docs.filter($"doc_id" % 5 =!= 2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bucket_index").toString
    Dedup.writeBucketIndex(corpus, dir, "text", "doc_id", parts = 16)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recomputed = pairs(
      Dedup.incrementalCandidates(corpus, batch, "text", "doc_id"))
    val viaIndexFrame = pairs(Dedup.incrementalCandidatesIndexed(
      Dedup.bucketIndex(corpus, "text", "doc_id", parts = 16),
      batch, "text", "doc_id"))
    // the stored probe takes its banding parameters from the sidecar —
    // no parts/bands argument exists to mismatch
    val viaStored = pairs(Dedup.incrementalCandidatesStored(
      spark, dir, batch, "text", "doc_id"))
    assert(viaIndexFrame === recomputed)
    assert(viaStored === recomputed)
    assert(recomputed.nonEmpty) // the fixture has batch-touching dups
    // cap parity through the stored path too
    val recomputedCap = pairs(Dedup.incrementalCandidates(
      corpus, batch, "text", "doc_id", maxBucketSize = 3))
    val storedCap = pairs(Dedup.incrementalCandidatesStored(
      spark, dir, batch, "text", "doc_id", maxBucketSize = 3))
    assert(storedCap === recomputedCap)
    // a bare parquet dir without the sidecar is REFUSED, not probed
    // with guessed parameters (the silent-miss hazard)
    val bare = java.nio.file.Files
      .createTempDirectory("graft_bucket_index_bare").toString
    Dedup.bucketIndex(corpus, "text", "doc_id", parts = 16)
      .write.mode("overwrite").partitionBy("bpart").parquet(bare)
    val err = intercept[IllegalArgumentException] {
      Dedup.incrementalCandidatesStored(spark, bare, batch, "text",
        "doc_id").count()
    }
    assert(err.getMessage.contains("_graft_index.json"))
    // the probe actually prunes at the file level: the pruned read's
    // partition filter keeps only the batch's touched bparts
    val touched = Dedup.bucketIndex(batch, "text", "doc_id", parts = 16)
      .select("bpart").distinct().count()
    assert(touched <= 16)
    // idCol is a sidecar parameter like any other (r15, r14 ADVICE):
    // a caller mismatch refuses with the family's NAMED error at plan
    // time, never an unresolved-column AnalysisException mid-probe —
    // all four stored entry points share the check
    for ((label, thunk) <- Seq[(String, () => Any)](
        ("probe", () => Dedup.incrementalCandidatesStored(
          spark, dir, batch.withColumnRenamed("doc_id", "id"),
          "text", "id")),
        ("admission", () => Dedup.probeAdmission(
          spark, dir, batch.withColumnRenamed("doc_id", "id"),
          "text", "id", budget = 8L)))) {
      val e = intercept[IllegalArgumentException](thunk())
      assert(e.getMessage.contains("pins idCol 'doc_id'"),
        s"$label: ${e.getMessage}")
    }
  }

  test("stored SimHash index (r14): the bpart-pruned probe ≡ the " +
    "batch×corpus slice of simhashCandidates, append-then-probe ≡ " +
    "rebuild, cross-family probes are refused by kind, and the " +
    "generic delete engine serves the new family unchanged") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val batch1 = docs.filter($"doc_id" % 5 === 2)
    val batch2 = docs.filter($"doc_id" % 5 === 4)
    val corpus = docs.filter($"doc_id" % 5 =!= 2 && $"doc_id" % 5 =!= 4)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_simhash_index").toString
    Dedup.writeSimhashIndex(corpus, dir, "text", "doc_id")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_new", "id_old")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // reference: the batch×corpus slice of the batch-mode candidate
    // generator over the union (directional — id_new from the batch)
    def slice(c: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame) = {
      val bIds = b.select($"doc_id").as[Long].collect().toSet
      Dedup.simhashCandidates(c.unionByName(b), "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .flatMap { case (a, bb) =>
          Seq(a -> bb, bb -> a).collect {
            case (n, o) if bIds(n) && !bIds(o) => (n, o) }
        }.toSet
    }
    val viaStored = pairs(Dedup.incrementalSimhashStored(
      spark, dir, batch1, "text", "doc_id"))
    assert(viaStored === slice(corpus, batch1))
    assert(viaStored.nonEmpty, "fixture must have near-dup pairs")
    // append-then-probe ≡ rebuild over corpus ∪ batch1
    Dedup.appendToSimhashIndex(spark, dir, batch1, "text")
    val viaAppend = pairs(Dedup.incrementalSimhashStored(
      spark, dir, batch2, "text", "doc_id"))
    val rebuilt = java.nio.file.Files
      .createTempDirectory("graft_simhash_rebuild").toString
    Dedup.writeSimhashIndex(corpus.unionByName(batch1), rebuilt,
      "text", "doc_id")
    assert(viaAppend === pairs(Dedup.incrementalSimhashStored(
      spark, rebuilt, batch2, "text", "doc_id")))
    // cross-family mistakes are NAMED refusals, not missing-field
    // parses or (worse) silent misses
    val lsh = java.nio.file.Files
      .createTempDirectory("graft_simhash_xfam").toString
    Dedup.writeBucketIndex(corpus, lsh, "text", "doc_id", parts = 8)
    val err = intercept[IllegalArgumentException] {
      Dedup.incrementalSimhashStored(spark, lsh, batch1, "text",
        "doc_id").count()
    }
    assert(err.getMessage.contains("not a SimHash index"),
      err.getMessage)
    // ...and so is an idCol contradicting the sidecar (r15): the
    // SimHash probe and gate share the LSH family's named refusal
    val errId = intercept[IllegalArgumentException] {
      Dedup.incrementalSimhashStored(spark, dir,
        batch1.withColumnRenamed("doc_id", "id"), "text", "id")
    }
    assert(errId.getMessage.contains("pins idCol 'doc_id'"),
      errId.getMessage)
    val errAdm = intercept[IllegalArgumentException] {
      Dedup.simhashAdmission(spark, dir,
        batch1.withColumnRenamed("doc_id", "id"), "text", "id", 8L)
    }
    assert(errAdm.getMessage.contains("pins idCol 'doc_id'"),
      errAdm.getMessage)
    // the layout-generic delete engine serves the new family: delete
    // batch1's rows and the probe stops pairing against them
    val (delRows, delDirs) =
      Dedup.deleteFromBucketIndex(spark, dir, batch1.select("doc_id"))
    assert(delRows > 0L && delDirs > 0L)
    val afterDelete = pairs(Dedup.incrementalSimhashStored(
      spark, dir, batch2, "text", "doc_id"))
    assert(afterDelete === slice(corpus, batch2))
  }

  test("appendToBucketIndex: probing after an append ≡ probing an " +
    "index REBUILT from scratch over corpus ∪ batch1 — the two-batch " +
    "maintenance loop loses nothing, and the append bands with the " +
    "sidecar's parameters") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val batch1 = docs.filter($"doc_id" % 5 === 2)
    val batch2 = docs.filter($"doc_id" % 5 === 4)
    val corpus = docs.filter($"doc_id" % 5 =!= 2 && $"doc_id" % 5 =!= 4)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bucket_append").toString
    Dedup.writeBucketIndex(corpus, dir, "text", "doc_id", parts = 16)
    Dedup.appendToBucketIndex(spark, dir, batch1, "text")
    val viaAppend = pairs(Dedup.incrementalCandidatesStored(
      spark, dir, batch2, "text", "doc_id"))
    val rebuilt = java.nio.file.Files
      .createTempDirectory("graft_bucket_rebuild").toString
    Dedup.writeBucketIndex(corpus.unionByName(batch1), rebuilt, "text",
      "doc_id", parts = 16)
    val viaRebuild = pairs(Dedup.incrementalCandidatesStored(
      spark, rebuilt, batch2, "text", "doc_id"))
    assert(viaAppend === viaRebuild)
    assert(viaAppend.nonEmpty)
  }

  test("appendToIvfPqIndex: scanning after an append ≡ scanning " +
    "old ∪ new encoded with the ORIGINAL (frozen) model; the sidecar " +
    "count refreshes so the derived shortlist tracks the true corpus") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding")
    // realistic ingest shape: the appended batch carries NEW (higher)
    // ids — also what the deterministic id-0..k-1 seeding contract
    // requires of the BUILD corpus (trainCentroids fails loud on
    // sparse low ids; this spec originally used a mod-4 split and hit
    // exactly that guard)
    val cut = 375L
    val oldV = emb.filter($"vec_id" < cut)
    val newV = emb.filter($"vec_id" >= cut)
    val queries = emb.filter($"vec_id" < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_append").toString
    Similarity.writeIvfPqIndex(oldV, dir, "vec_id", "embedding",
      dim = 64, m = 4, kCodes = 8, rounds = 1, nlist = 8)
    Similarity.appendToIvfPqIndex(spark, dir, newV, "vec_id",
      "embedding")
    val afterAppend = rows(Similarity.ivfPqScanStored(spark, dir,
      queries, "vec_id", "embedding", nprobe = 3, k = 5,
      shortlist = 20))
    // reference: the full corpus encoded with the model trained on
    // the ORIGINAL build corpus only — exactly what append must equal
    val coarse = Similarity.trainCoarse(oldV, "vec_id", "embedding",
      nlist = 8, rounds = 1)
    val books = Similarity.pqTrain(oldV, "vec_id", "embedding",
      dim = 64, m = 4, kCodes = 8, rounds = 1)
    val ref = rows(Similarity.ivfPqScan(
      Similarity.ivfPqEncode(emb, "vec_id", "embedding", coarse, books),
      queries, "vec_id", "embedding", coarse, books, nprobe = 3,
      shortlist = 20, k = 5))
    assert(afterAppend === ref)
    assert(afterAppend.nonEmpty)
    val meta = graft.config.Sidecar.read(spark, dir, "test")
    assert(graft.config.Sidecar.long(meta, "count") === emb.count())
  }

  test("incrementalComponents ≡ full connectedComponents recompute " +
    "over old ∪ new: merging a batch's candidate pairs into stored " +
    "assignments loses nothing vs re-clustering the whole corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    val batch = docs.filter($"doc_id" % 5 === 2)
    val corpus = docs.filter($"doc_id" % 5 =!= 2)
    val oldAssign = Dedup.connectedComponents(corpus, "doc_id",
        Dedup.minhashCandidates(corpus, "text", "doc_id"))
      .withColumnRenamed("id", "doc_id")
    val pairs = Dedup.incrementalCandidates(corpus, batch, "text",
      "doc_id")
    def asg(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val incr = asg(Dedup.incrementalComponents(oldAssign,
      batch.select("doc_id"), "doc_id", pairs))
    val fullRe = asg(Dedup.connectedComponents(docs, "doc_id",
        Dedup.minhashCandidates(docs, "text", "doc_id"))
      .withColumnRenamed("id", "doc_id"))
    assert(incr === fullRe)
    // the fixture actually exercises merging: some old doc's component
    // must change (otherwise this test would pass on a no-op merge)
    val changedOld = incr.diff(asg(oldAssign))
      .filterNot { case (id, _) => id % 5 == 2 }
    assert(changedOld.nonEmpty,
      "no old component was merged by the batch — fixture too weak")
  }

  test("stored IVF-PQ index ≡ in-memory monolith: ivfPqScanStored " +
    "(cell-partitioned parquet + model sidecar) returns ivfPqTopK's " +
    "rows EXACTLY; a bare dir is refused; the scan reads only probed " +
    "cells") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val queries = emb.filter($"vec_id" < 5)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_index").toString
    Similarity.writeIvfPqIndex(emb, dir, "vec_id", "embedding",
      dim = 64, m = 4, kCodes = 8, rounds = 1, nlist = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val mono = rows(Similarity.ivfPqTopK(emb, queries, "vec_id",
      "embedding", dim = 64, m = 4, kCodes = 8, rounds = 1, nlist = 8,
      nprobe = 3, shortlist = 20, k = 5))
    // the stored scan takes the MODEL from the sidecar — the only
    // caller inputs are the query batch and the probe/cut depths
    val stored = rows(Similarity.ivfPqScanStored(spark, dir, queries,
      "vec_id", "embedding", nprobe = 3, k = 5, shortlist = 20))
    assert(stored === mono)
    assert(mono.nonEmpty)
    // shortlist ≤ 0 derives the scale-aware depth from the sidecar's
    // corpus count (ivfPqShortlist floor = 5·k = 25 here ≥ 20, so the
    // result can only re-rank a superset — same contract, not equality)
    val derived = Similarity.ivfPqScanStored(spark, dir, queries,
      "vec_id", "embedding", nprobe = 3, k = 5)
    assert(derived.count() > 0)
    // a bare cell-partitioned parquet dir without the model sidecar is
    // REFUSED (scanning against a guessed/retrained model returns
    // silently wrong neighbors, not an error)
    val bare = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_bare").toString
    val coarse = Similarity.trainCoarse(emb, "vec_id", "embedding",
      nlist = 8, rounds = 1)
    val books = Similarity.pqTrain(emb, "vec_id", "embedding",
      dim = 64, m = 4, kCodes = 8, rounds = 1)
    Similarity.ivfPqEncode(emb, "vec_id", "embedding", coarse, books)
      .write.mode("overwrite").partitionBy("cell").parquet(bare)
    val err = intercept[IllegalArgumentException] {
      Similarity.ivfPqScanStored(spark, bare, queries, "vec_id",
        "embedding", nprobe = 3, k = 5).count()
    }
    assert(err.getMessage.contains("_graft_index.json"))
    // file-level pruning: the stored scan's parquet read carries a
    // partition filter on the probed cells — strictly fewer files than
    // the full index when nprobe < nlist
    val scan = Similarity.ivfPqScanStored(spark, dir, queries,
      "vec_id", "embedding", nprobe = 3, k = 5, shortlist = 20)
    val scanStr = scan.queryExecution.executedPlan.toString
    assert(scanStr.contains("PartitionFilters: [cell"), scanStr)
  }

  test("compactBucketIndex: probe-identity before/after, fragments " +
    "fold to one file per bpart dir, sidecar byte-identical") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    val b1 = docs.filter($"doc_id" % 5 === 2)
    val b2 = docs.filter($"doc_id" % 5 === 3)
    val probe = docs.filter($"doc_id" % 5 === 4)
    val corpus = docs.filter($"doc_id" % 5 < 2)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bucket_compact").toString
    Dedup.writeBucketIndex(corpus, dir, "text", "doc_id", parts = 16)
    Dedup.appendToBucketIndex(spark, dir, b1, "text")
    Dedup.appendToBucketIndex(spark, dir, b2, "text")
    def pairs() = Dedup.incrementalCandidatesStored(
        spark, dir, probe, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = pairs()
    val sidecar = java.nio.file.Paths.get(dir, "_graft_index.json")
    val sidecarBytes = java.nio.file.Files.readAllBytes(sidecar).toSeq
    val (nb, na) = Dedup.compactBucketIndex(spark, dir)
    assert(na < nb, s"files $nb -> $na — compaction folded nothing")
    val bdirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bpart="))
    assert(bdirs.nonEmpty)
    assert(bdirs.forall(_.listFiles().count { f =>
      f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")
    } == 1), "a bpart dir still holds more than one data file")
    assert(pairs() === before)
    assert(before.nonEmpty)
    assert(java.nio.file.Files.readAllBytes(sidecar).toSeq === sidecarBytes)
  }

  test("compactIvfPqIndex: stored scan identical before/after, " +
    "fragments fold, the count-bearing model sidecar is untouched") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val cut = 375L
    val oldV = emb.filter($"vec_id" < cut)
    val newV = emb.filter($"vec_id" >= cut)
    val queries = emb.filter($"vec_id" < 5)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_compact").toString
    Similarity.writeIvfPqIndex(oldV, dir, "vec_id", "embedding",
      dim = 64, m = 4, kCodes = 8, rounds = 1, nlist = 8)
    Similarity.appendToIvfPqIndex(spark, dir, newV, "vec_id",
      "embedding")
    def scan() = Similarity.ivfPqScanStored(spark, dir, queries,
        "vec_id", "embedding", nprobe = 3, k = 5, shortlist = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val before = scan()
    val sidecar = java.nio.file.Paths.get(dir, "_graft_index.json")
    val sidecarBytes = java.nio.file.Files.readAllBytes(sidecar).toSeq
    val (nb, na) = Similarity.compactIvfPqIndex(spark, dir)
    assert(na < nb, s"files $nb -> $na — compaction folded nothing")
    assert(scan() === before)
    assert(before.nonEmpty)
    assert(java.nio.file.Files.readAllBytes(sidecar).toSeq === sidecarBytes)
  }

  test("deleteFromBucketIndex: probe after a takedown ≡ probe against " +
    "an index REBUILT from the remaining docs; only the deleted ids' " +
    "bpart dirs are rewritten; sidecar untouched; absent/empty delete " +
    "sets are no-ops") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    val doomed = docs.filter($"doc_id" % 5 === 2)
    val remaining = docs.filter($"doc_id" % 5 =!= 2)
    val batch = docs.filter($"doc_id" % 5 === 4)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bucket_delete").toString
    Dedup.writeBucketIndex(docs, dir, "text", "doc_id", parts = 16)
    val sidecar = java.nio.file.Paths.get(dir, "_graft_index.json")
    val sidecarBytes = java.nio.file.Files.readAllBytes(sidecar).toSeq
    val (nDel, nDirs) = Dedup.deleteFromBucketIndex(spark, dir,
      doomed.select("doc_id"))
    // every doomed doc has bands=4 index rows, all removed
    assert(nDel === doomed.count() * 4)
    assert(nDirs >= 1 && nDirs <= 16)
    val afterDelete = pairsOf(Dedup.incrementalCandidatesStored(
      spark, dir, batch, "text", "doc_id"))
    val rebuilt = java.nio.file.Files
      .createTempDirectory("graft_bucket_delete_rebuild").toString
    Dedup.writeBucketIndex(remaining, rebuilt, "text", "doc_id",
      parts = 16)
    assert(afterDelete === pairsOf(Dedup.incrementalCandidatesStored(
      spark, rebuilt, batch, "text", "doc_id")))
    assert(afterDelete.nonEmpty)
    // banding params are corpus-independent: sidecar byte-identical
    assert(java.nio.file.Files.readAllBytes(sidecar).toSeq === sidecarBytes)
    // a single-doc takedown touches at most its bands' dirs, and the
    // untouched dirs keep their exact files (no hidden full rewrite)
    val one = remaining.orderBy($"doc_id").limit(1)
    def fileMap() = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bpart="))
      .map(d => d.getName -> d.listFiles().map(_.getName).toSet.filter(
        n => !n.startsWith(".") && !n.startsWith("_"))).toMap
    val before1 = fileMap()
    val (nDel1, nDirs1) = Dedup.deleteFromBucketIndex(spark, dir,
      one.select("doc_id"))
    assert(nDel1 === 4L && nDirs1 <= 4L)
    val after1 = fileMap()
    val untouched = before1.keySet.filter(k =>
      after1.get(k) == Some(before1(k)))
    assert(untouched.size >= before1.size - nDirs1.toInt,
      "an untouched bpart dir was rewritten")
    // absent ids and empty sets: no-ops, nothing rewritten
    assert(Dedup.deleteFromBucketIndex(spark, dir,
      spark.range(1).select((col("id") + 999999999L).as("doc_id")))
      === ((0L, 0L)))
    assert(Dedup.deleteFromBucketIndex(spark, dir,
      docs.limit(0).select("doc_id")) === ((0L, 0L)))
    assert(fileMap() === after1)
    // whole-corpus takedown: every bpart dir goes away, and the
    // stored probe answers EMPTY instead of crashing on a
    // sidecar-only directory
    Dedup.deleteFromBucketIndex(spark, dir, docs.select("doc_id"))
    assert(fileMap().isEmpty)
    assert(Dedup.incrementalCandidatesStored(spark, dir, batch,
      "text", "doc_id").count() === 0L)
  }

  test("deleteFromIvfPqIndex: scan after a takedown ≡ frozen-model " +
    "scan over the remaining vectors; only the deleted cells rewrite; " +
    "the sidecar count refreshes so the derived shortlist tracks") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val doomed = emb.filter($"vec_id" % 7 === 3)
    val remaining = emb.filter($"vec_id" % 7 =!= 3)
    val queries = emb.filter($"vec_id" < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_delete").toString
    Similarity.writeIvfPqIndex(emb, dir, "vec_id", "embedding",
      dim = 64, m = 4, kCodes = 8, rounds = 1, nlist = 8)
    val (nDel, nDirs) = Similarity.deleteFromIvfPqIndex(spark, dir,
      doomed.select("vec_id"))
    assert(nDel === doomed.count()) // one encoded row per vector
    assert(nDirs >= 1 && nDirs <= 8)
    val afterDelete = rows(Similarity.ivfPqScanStored(spark, dir,
      queries, "vec_id", "embedding", nprobe = 3, k = 5,
      shortlist = 20))
    // reference: remaining vectors encoded with the FROZEN full-build
    // model — deletion never retrains (the append staleness contract)
    val coarse = Similarity.trainCoarse(emb, "vec_id", "embedding",
      nlist = 8, rounds = 1)
    val books = Similarity.pqTrain(emb, "vec_id", "embedding",
      dim = 64, m = 4, kCodes = 8, rounds = 1)
    assert(afterDelete === rows(Similarity.ivfPqScan(
      Similarity.ivfPqEncode(remaining, "vec_id", "embedding", coarse,
        books),
      queries, "vec_id", "embedding", coarse, books, nprobe = 3,
      shortlist = 20, k = 5)))
    assert(afterDelete.nonEmpty)
    val meta = graft.config.Sidecar.read(spark, dir, "test")
    assert(graft.config.Sidecar.long(meta, "count") === remaining.count())
    // whole-corpus takedown: every cell dir goes away, the stored
    // scan answers EMPTY instead of crashing, and the sidecar count
    // (maintained arithmetically — build/append/delete all go through
    // it) lands on zero
    Similarity.deleteFromIvfPqIndex(spark, dir,
      remaining.select("vec_id"))
    assert(Similarity.ivfPqScanStored(spark, dir, queries, "vec_id",
      "embedding", nprobe = 3, k = 5, shortlist = 20).count() === 0L)
    val meta2 = graft.config.Sidecar.read(spark, dir, "test")
    assert(graft.config.Sidecar.long(meta2, "count") === 0L)
  }

  test("END-TO-END takedown: expansion → corpus-table delete → index " +
    "delete → survivor repair leaves a globally consistent state — " +
    "no removed doc survives in the corpus table, the stored index, " +
    "or the repaired survivor labels") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text", $"lang")
    // deployment state: corpus table + stored index + survivor state
    val dir = java.nio.file.Files
      .createTempDirectory("graft_takedown_e2e").toString
    val corpusTable = s"$dir/corpus"
    docs.write.partitionBy("lang").parquet(corpusTable)
    val idx = s"$dir/index"
    Dedup.writeBucketIndex(docs, idx, "text", "doc_id", parts = 16)
    val pairs = Dedup.minhashCandidates(docs, "text", "doc_id")
      .localCheckpoint(false)
    val assignments = Dedup.connectedComponents(docs, "doc_id", pairs)
      .withColumnRenamed("id", "doc_id").localCheckpoint(false)
    // q314's expansion: the removal set is the near-dup closure of
    // the requested seeds. Seeds = the max-id member of every
    // multi-member component, so the closure MUST pull in the other
    // members (the fixture can't degenerate to seeds-only)
    val seeds = assignments.groupBy($"component")
      .agg(count(lit(1)).as("n"), max($"doc_id").as("doc_id"))
      .where($"n" >= 2).select("doc_id").localCheckpoint(true)
    val seedComps = assignments.join(seeds, Seq("doc_id"), "left_semi")
      .select($"component").distinct()
    val removal = assignments
      .join(seedComps, Seq("component"), "left_semi")
      .select("doc_id").localCheckpoint(true)
    val nRemoval = removal.count()
    assert(nRemoval > seeds.count(),
      "expansion fixture too weak — no near-dup closure beyond seeds")
    // the three legs
    val nCorpus = graft.sinks.PartitionedSink.deleteRowsByKey(spark,
      corpusTable, "doc_id", removal, Seq("lang"))
    val (nIdx, _) = Dedup.deleteFromBucketIndex(spark, idx, removal)
    val repaired = Dedup.deleteRepairAssignments(assignments, pairs,
      removal, "doc_id")
    // global consistency
    assert(nCorpus === nRemoval)
    assert(nIdx === nRemoval * 4) // bands=4 rows per doc
    val after = spark.read.parquet(corpusTable)
    assert(after.count() === docs.count() - nRemoval)
    assert(after.join(removal, Seq("doc_id"), "left_semi").count() === 0L)
    def asgSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val remaining = docs.join(removal, Seq("doc_id"), "left_anti")
    assert(asgSet(repaired) === asgSet(
      Dedup.connectedComponents(remaining, "doc_id",
          Dedup.minhashCandidates(remaining, "text", "doc_id"))
        .withColumnRenamed("id", "doc_id")))
    // a removed doc re-submitted as a new batch probes the maintained
    // index and pairs ONLY with remaining docs — and because the
    // expansion removed whole components, a pure re-submission has no
    // remaining near-dup left to collide with
    val resubmitted = docs.join(removal, Seq("doc_id"), "left_semi")
    val probePairs = Dedup.incrementalCandidatesStored(spark, idx,
      resubmitted, "text", "doc_id")
    val partnerIds = probePairs
      .select(explode(array($"id_a", $"id_b")).as("doc_id")).distinct()
      .join(removal, Seq("doc_id"), "left_semi")
    // partners may include the resubmitted ids themselves (they ARE
    // the batch); no partner may be a removed id sourced from the
    // INDEX side — equivalently, index rows for removed ids are gone:
    assert(spark.read.parquet(idx)
      .join(removal, Seq("doc_id"), "left_semi").count() === 0L)
    assert(partnerIds.count() <= nRemoval) // only batch-side ids
  }

  test("deleteRepairAssignments ≡ full CC recompute over the " +
    "remaining corpus — incl. the bridge case where deletion SPLITS " +
    "a component; empty delete set is the identity") {
    // explicit bridge: the path 1-2-3-4-5 is one component labeled 1;
    // deleting the bridge 3 must SPLIT it into {1,2} and {4,5}
    val asg = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
      (9L, 9L)).toDF("doc_id", "component")
    val prs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val del = Seq(3L).toDF("doc_id")
    val repaired = Dedup.deleteRepairAssignments(asg, prs, del, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(repaired === Set((1L, 1L), (2L, 1L), (4L, 4L), (5L, 4L),
      (9L, 9L)))
    // random fixture, q315's shape: delete every multi-member
    // component's canonical min-id, repair, compare to a full CC
    // recompute over the remaining docs
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    val pairs = Dedup.minhashCandidates(docs, "text", "doc_id")
      .localCheckpoint(false)
    val assignments = Dedup.connectedComponents(docs, "doc_id", pairs)
      .withColumnRenamed("id", "doc_id").localCheckpoint(false)
    val doomed = assignments.groupBy("component")
      .agg(count(lit(1)).as("n"))
      .where($"n" >= 2).select($"component".as("doc_id"))
    def asgSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val incr = asgSet(Dedup.deleteRepairAssignments(assignments, pairs,
      doomed, "doc_id"))
    val remaining = docs.join(doomed, Seq("doc_id"), "left_anti")
    val fullRe = asgSet(Dedup.connectedComponents(remaining, "doc_id",
        Dedup.minhashCandidates(remaining, "text", "doc_id"))
      .withColumnRenamed("id", "doc_id"))
    assert(incr === fullRe)
    // the fixture actually re-elects: some remaining doc's label changed
    assert(incr.diff(asgSet(assignments)).nonEmpty,
      "no component was repaired — fixture too weak")
    // empty delete set: identity on the assignments
    assert(asgSet(Dedup.deleteRepairAssignments(assignments, pairs,
      docs.limit(0).select("doc_id"), "doc_id")) === asgSet(assignments))
  }
}
