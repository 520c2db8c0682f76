package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** PageRank contract: the distributed fixed-point recurrence equals a
  * sequential reference EXACTLY (the arithmetic is order-independent by
  * construction), under any partitioning, and tracks float PageRank. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Sequential reference computing the identical fixed-point
    * recurrence. */
  private def reference(nodes: Seq[Long], edges: Seq[(Long, Long)],
      iters: Int, dampingPct: Int): Map[Long, Long] = {
    val n = nodes.size.toLong
    val outDeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var pr = nodes.map(_ -> Graph.Scale / n).toMap
    for (_ <- 1 to iters) {
      val inflow = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      edges.foreach { case (s, d) => inflow(d) += pr(s) / outDeg(s) }
      val dangling = nodes.filterNot(outDeg.contains).map(pr).sum
      pr = nodes.map(v => v ->
        ((100L - dampingPct) * Graph.Scale / (100L * n) +
          dampingPct.toLong * (inflow(v) + dangling / n) / 100L)).toMap
    }
    pr
  }

  private def randomGraph(nNodes: Int, nEdges: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    val nodes = (0L until nNodes.toLong).toSeq
    val edges = (1 to nEdges).map(_ =>
      (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
      .filter(e => e._1 != e._2).distinct
    (nodes, edges)
  }

  test("distributed fixed-point PageRank == sequential reference, " +
    "bit-exact, under 1/8/32-way partitioning") {
    val (nodes, edges) = randomGraph(120, 600, 3)
    val expected = reference(nodes, edges, iters = 8, dampingPct = 85)
    // the last input turns broadcasting off, so the rank side takes the
    // shuffle join instead of vertexSide's broadcast
    val key = "spark.sql.autoBroadcastJoinThreshold"
    for ((parts, threshold) <- Seq((1, None), (8, None), (32, None),
        (8, Some("-1")))) {
      val prev = spark.conf.get(key)
      threshold.foreach(spark.conf.set(key, _))
      try {
        val nDf = nodes.toDF("id").repartition(parts)
        val eDf = edges.toDF("src", "dst").repartition(parts)
        val got = Graph.pageRank(nDf, "id", eDf, iters = 8)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === expected, s"parts=$parts threshold=$threshold")
        val hinted = Graph.vertexSide(nDf, nodes.size).queryExecution
          .analyzed.toString.contains("ResolvedHint")
        assert(hinted === threshold.isEmpty, s"threshold=$threshold")
      } finally spark.conf.set(key, prev)
    }
  }

  /** Sequential label propagation reference: every incident vertex
    * starts labeled with its id; each round it adopts the most frequent
    * label among its distinct neighbors, ties to the smallest label. */
  private def lpaRef(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nbrs = edges.flatMap(e => Seq(e, e.swap)).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var label = nbrs.map { case (v, _) => v -> v }
    for (_ <- 1 to iters) {
      val prev = label
      label = nbrs.map { case (v, ns) =>
        v -> ns.groupBy(prev).view.mapValues(_.size).toSeq
          .minBy { case (l, c) => (-c, l) }._1 }
    }
    label
  }

  test("labelPropagation == sequential mode-of-neighbours reference " +
    "(ties to the smallest label) under 1/8/32-way partitioning") {
    // raw directed pairs: both (a, b) and (b, a) may occur, so the
    // doubled list needs its dedup
    val (_, edges) = randomGraph(60, 150, 61)
    val ab = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    // the second pass turns broadcasting off, so each round's label side
    // takes vertexSide's shuffle join instead of its broadcast
    for (threshold <- Seq(None, Some("-1"))) {
      val conf = threshold.map("spark.sql.autoBroadcastJoinThreshold" -> _)
      withConf(conf.toSeq: _*) {
        val labels = Seq(1L -> 1L).toDF("id", "label")
        val hinted = Graph.vertexSide(labels, 1).queryExecution.analyzed
          .toString.contains("ResolvedHint")
        assert(hinted === threshold.isEmpty, s"threshold=$threshold")
        for (iters <- Seq(3, 4); parts <- Seq(1, 8, 32)) {
          val eDf = edges.toDF("src", "dst").repartition(parts)
          val got = Graph.labelPropagation(eDf, iters)
            .as[(Long, Long)].collect().toMap
          assert(got === lpaRef(edges, iters),
            s"iters=$iters parts=$parts threshold=$threshold")
        }
        // distinct a<b pairs: the doubled list is duplicate-free
        val got = Graph.labelPropagation(ab.toDF("src", "dst")
          .repartition(8), 3, assumeDistinct = true)
          .as[(Long, Long)].collect().toMap
        assert(got === lpaRef(ab, 3), s"threshold=$threshold")
      }
    }
  }

  test("coOccurrence, degrees and triangles == brute-force references " +
    "on seeded random baskets under 1/8/32-way partitioning, and on an " +
    "empty input") {
    val rnd = new scala.util.Random(17)
    // (basket, item) rows, repeats included
    val rows = Seq.fill(240)((rnd.nextInt(40).toLong, rnd.nextInt(30).toLong))
    // the distinct a<b self-join on the basket
    val pairs = (for {
      (b1, x) <- rows; (b2, y) <- rows if b1 == b2 && x < y
    } yield (x, y)).toSet
    val degs = pairs.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val vs = degs.keys.toSeq.sorted
    val nTriangles = (for {
      a <- vs; b <- vs if a < b && pairs((a, b))
      c <- vs if b < c && pairs((b, c)) && pairs((a, c))
    } yield 1L).sum
    assert(nTriangles > 0)
    for (parts <- Seq(1, 8, 32)) {
      val e = Graph.coOccurrence(rows.toDF("basket", "item")
        .repartition(parts), "basket", "item")
      assert(e.as[(Long, Long)].collect().toSeq.sorted === pairs.toSeq.sorted,
        s"parts=$parts")
      val deg = Graph.degrees(e)
      assert(deg.as[(Long, Long)].collect().toMap === degs, s"parts=$parts")
      assert(Graph.triangles(e, deg).as[Long].collect().toSeq ===
        Seq(nTriangles), s"parts=$parts")
      deg.unpersist()
    }
    val e0 = Graph.coOccurrence(Seq.empty[(Long, Long)].toDF("basket", "item"),
      "basket", "item")
    assert(e0.isEmpty)
    val deg0 = Graph.degrees(e0)
    assert(deg0.isEmpty)
    assert(Graph.triangles(e0, deg0).as[Long].collect().toSeq === Seq(0L))
    deg0.unpersist()
  }

  /** Sequential peeling reference for the k-core. */
  private def kCoreRef(edges: Seq[(Long, Long)], k: Int): Set[Long] = {
    var adj = edges.flatMap(e => Seq(e, e.swap)).distinct
    var changed = true
    while (changed && adj.nonEmpty) {
      val deg = adj.groupBy(_._1).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= k).keySet
      val pruned = adj.filter(e => keep(e._1) && keep(e._2))
      changed = pruned.size != adj.size
      adj = pruned
    }
    adj.map(_._1).toSet
  }

  test("kCoreRounds(rounds >= peel depth) == sequential peeling on " +
    "seeded random graphs, for several k, under 1/8/32-way partitioning") {
    val (_, edges0) = randomGraph(80, 300, 17)
    val edges = edges0.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    // every round before the fixpoint drops a vertex, so 80 rounds reach
    // it; the loop stops as soon as a round drops nothing
    def core(e: org.apache.spark.sql.DataFrame, k: Int): Set[Long] =
      Graph.kCoreRounds(e, k, rounds = 80).select("id").as[Long]
        .collect().toSet
    for (k <- Seq(2, 3, 5); parts <- Seq(1, 8, 32)) {
      val eDf = edges.toDF("id_a", "id_b").repartition(parts)
      assert(core(eDf, k) === kCoreRef(edges, k), s"k=$k parts=$parts")
    }
    // known structure: a 4-clique with a pendant tail — the 3-core is
    // exactly the clique
    val clique = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L))
    assert(core(clique.toDF("id_a", "id_b"), 3) === Set(1L, 2L, 3L, 4L))
    assert(kCoreRef(clique, 3) === Set(1L, 2L, 3L, 4L))
    // k above max degree: empty core
    assert(core(clique.toDF("id_a", "id_b"), 10).isEmpty)
  }

  test("kCoreRounds with rounds >= peel depth == kCore fixpoint (vertex " +
    "sets equal, degrees match the surviving subgraph); fewer rounds " +
    "give the partially-peeled supergraph") {
    val (_, edges0) = randomGraph(80, 300, 23)
    val edges = edges0.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val eDf = edges.toDF("id_a", "id_b")
    for (k <- Seq(2, 3)) {
      val fix = kCoreRef(edges, k)
      val bounded = Graph.kCoreRounds(eDf, k, rounds = 40)
        .as[(Long, Long)].collect().toMap
      assert(bounded.keySet === fix, s"k=$k")
      // degrees are the surviving subgraph's: every vertex >= k
      assert(bounded.values.forall(_ >= k), s"k=$k degs=${bounded.take(5)}")
      // a 1-round peel is a supergraph of the fixpoint
      val oneRound = Graph.kCoreRounds(eDf, k, rounds = 1)
        .as[(Long, Long)].collect().toMap
      assert(fix.subsetOf(oneRound.keySet), s"k=$k")
    }
    // q165's graph shape on the fixture is peeled to ITS fixpoint by 6
    // rounds — proven at the operator level here: bounded(6) == the
    // sequential peel of the same edge list (sf0.001 keeps this test
    // fast)
    val dir = "/root/testdata/sf0.001"
    val o = graft.sources.Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01") &&
        col("o_orderdate") < lit("1995-04-01"))
      .select(col("o_orderkey"), col("o_custkey"))
    val e = o.join(graft.sources.Tables(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("id_a"),
        (col("l_partkey") + lit(3000000L)).as("id_b"))
      .distinct()
    val viaRounds = Graph.kCoreRounds(e, 2, rounds = 6)
      .select("id").as[Long].collect().toSet
    assert(viaRounds === kCoreRef(e.as[(Long, Long)].collect().toSeq, 2))
  }

  /** Sequential multi-source BFS reference (hop distances, bounded). */
  private def bfsRef(edges: Seq[(Long, Long)], seeds: Set[Long],
      rounds: Int): Map[Long, Long] = {
    val adj = edges.flatMap(e => Seq(e, e.swap)).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds
    for (r <- 1 to rounds if frontier.nonEmpty) {
      val reached = frontier.flatMap(v => adj.getOrElse(v, Nil))
        .diff(dist.keySet)
      dist ++= reached.map(_ -> r.toLong)
      frontier = reached
    }
    dist
  }

  test("bfsRounds == sequential BFS on seeded random graphs under " +
    "1/8/32-way partitioning; isolated seeds emit dist 0; frontier " +
    "exhaustion stops early with the same result") {
    val (_, edges0) = randomGraph(80, 200, 31)
    val edges = edges0.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val seeds = Set(0L, 1L, 2L, 200L) // 200 is isolated (not in graph)
    for (rounds <- Seq(1, 3, 6); parts <- Seq(1, 8, 32)) {
      val eDf = edges.toDF("id_a", "id_b").repartition(parts)
      val sDf = seeds.toSeq.toDF("id").repartition(parts)
      val got = Graph.bfsRounds(eDf, sDf, rounds)
        .as[(Long, Long)].collect().toMap
      assert(got === bfsRef(edges, seeds, rounds),
        s"rounds=$rounds parts=$parts")
    }
    assert(bfsRef(edges, seeds, 1)(200L) === 0L)
    // path graph 0-1-2-3-4: rounds beyond the diameter change nothing
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
    val d10 = Graph.bfsRounds(path.toDF("id_a", "id_b"),
      Seq(0L).toDF("id"), rounds = 10).as[(Long, Long)].collect().toMap
    assert(d10 === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  /** Sequential bounded Bellman–Ford reference (min-plus, r rounds). */
  private def bfordRef(edges: Seq[(Long, Long, Long)], seeds: Set[Long],
      rounds: Int): Map[Long, Long] = {
    val adj = edges.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
      .groupBy(e => (e._1, e._2)).map { case (k, es) => (k._1, k._2, es.map(_._3).min) }
      .toSeq.groupBy(_._1)
    var dist = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val relaxed = dist.toSeq.flatMap { case (v, d) =>
        adj.getOrElse(v, Nil).map { case (_, u, w) => u -> (d + w) } }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1).view
        .mapValues(_.map(_._2).min).toMap
    }
    dist
  }

  test("bellmanFordRounds == sequential min-plus reference under " +
    "1/8/32-way partitioning; a longer-hop cheaper path wins") {
    val rnd = new scala.util.Random(47)
    val edges = (1 to 250).map(_ => (rnd.nextInt(60).toLong,
      rnd.nextInt(60).toLong, 1L + rnd.nextInt(20)))
      .filter(e => e._1 != e._2).distinct
    val seeds = Set(0L, 7L)
    for (rounds <- Seq(1, 4); parts <- Seq(1, 8, 32)) {
      val eDf = edges.toDF("id_a", "id_b", "w").repartition(parts)
      val sDf = seeds.toSeq.toDF("id").repartition(parts)
      val got = Graph.bellmanFordRounds(eDf, sDf, rounds)
        .as[(Long, Long)].collect().toMap
      assert(got === bfordRef(edges, seeds, rounds),
        s"rounds=$rounds parts=$parts")
    }
    // path 0-1-2 with cheap hops vs a direct expensive edge 0-2: the
    // 2-hop path must win once rounds >= 2
    val known = Seq((0L, 1L, 1L), (1L, 2L, 1L), (0L, 2L, 10L))
    val d1 = Graph.bellmanFordRounds(known.toDF("id_a", "id_b", "w"),
      Seq(0L).toDF("id"), rounds = 1).as[(Long, Long)].collect().toMap
    assert(d1(2L) === 10L)
    val d2 = Graph.bellmanFordRounds(known.toDF("id_a", "id_b", "w"),
      Seq(0L).toDF("id"), rounds = 2).as[(Long, Long)].collect().toMap
    assert(d2(2L) === 2L) // improved in round 2: settled nodes re-relax
  }

  /** Sequential earliest-arrival temporal reachability reference. */
  private def treachRef(edges: Seq[(Long, Long, Long)], seeds: Set[Long],
      startT: Long, rounds: Int): Map[Long, Long] = {
    val bySrc = edges.groupBy(_._1)
    var arr = seeds.map(_ -> startT).toMap
    for (_ <- 1 to rounds) {
      val relaxed = arr.toSeq.flatMap { case (v, a) =>
        bySrc.getOrElse(v, Nil).collect { case (_, u, t) if t >= a => u -> t } }
      arr = (arr.toSeq ++ relaxed).groupBy(_._1).view
        .mapValues(_.map(_._2).min).toMap
    }
    arr
  }

  test("temporalReachRounds == sequential reference under 1/8/32-way " +
    "partitioning; an edge that fired before arrival is NOT usable " +
    "(plain BFS would overstate reach)") {
    val rnd = new scala.util.Random(53)
    val edges = (1 to 300).map(_ => (rnd.nextInt(50).toLong,
      rnd.nextInt(50).toLong, 100L + rnd.nextInt(900)))
      .filter(e => e._1 != e._2).distinct
    val seeds = Set(0L, 9L)
    for (rounds <- Seq(1, 4); parts <- Seq(1, 8, 32)) {
      val eDf = edges.toDF("src", "dst", "t").repartition(parts)
      val sDf = seeds.toSeq.toDF("id").repartition(parts)
      val got = Graph.temporalReachRounds(eDf, sDf, 0L, rounds)
        .as[(Long, Long)].collect().toMap
      assert(got === treachRef(edges, seeds, 0L, rounds),
        s"rounds=$rounds parts=$parts")
    }
    // 0 -(t=5)-> 1 -(t=3)-> 2: node 2 unreachable time-respecting
    // (the 1->2 edge fired before arrival at 1); BFS would reach it
    val tEdges = Seq((0L, 1L, 5L), (1L, 2L, 3L))
    val got = Graph.temporalReachRounds(tEdges.toDF("src", "dst", "t"),
      Seq(0L).toDF("id"), 0L, rounds = 4).as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 0L, 1L -> 5L))
    // but a later re-firing makes it reachable
    val got2 = Graph.temporalReachRounds(
      (tEdges :+ (1L, 2L, 7L)).toDF("src", "dst", "t"),
      Seq(0L).toDF("id"), 0L, rounds = 4).as[(Long, Long)].collect().toMap
    assert(got2 === Map(0L -> 0L, 1L -> 5L, 2L -> 7L))
  }

  test("linkPredictRA == sequential RA index on a seeded random " +
    "incidence list; hub cap excludes super-neighbors; partition-" +
    "invariant") {
    val rnd = new scala.util.Random(41)
    val inc0 = (1 to 400).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(60).toLong)).distinct
    // plant a hub neighbor (id 999) shared by 20 nodes: over the cap
    val inc = inc0 ++ (0L until 20L).map(n => (n, 999L))
    val cap = 10
    // sequential reference
    val byNbr = inc.groupBy(_._2).view
      .filterKeys(k => { val d = inc.count(_._2 == k); d >= 2 && d <= cap })
      .mapValues(_.map(_._1).sorted).toMap
    val ref = scala.collection.mutable.Map.empty[(Long, Long), (Long, Long)]
    byNbr.foreach { case (nbr, nodes) =>
      val w = Graph.Scale / nodes.size
      for (i <- nodes.indices; j <- i + 1 until nodes.size)
        if (nodes(i) != nodes(j)) {
          val k = (math.min(nodes(i), nodes(j)), math.max(nodes(i), nodes(j)))
          val (s, c) = ref.getOrElse(k, (0L, 0L))
          ref(k) = (s + w, c + 1)
        }
    }
    val topRef = ref.toSeq
      .sortBy { case ((a, b), (s, _)) => (-s, a, b) }.take(50)
      .map { case (k, v) => k -> v }.toMap
    for (parts <- Seq(1, 8)) {
      val df = inc.toDF("node", "nbr").repartition(parts)
      val got = Graph.linkPredictRA(df, degCap = cap, topK = 50)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      assert(got === topRef, s"parts=$parts")
      // no predicted pair may ride the hub alone: every scored pair's
      // n_common counts only capped neighbors
      assert(got.values.forall(_._2 <= cap), s"parts=$parts")
    }
  }

  test("ranks behave like PageRank: a sink everyone links to outranks " +
    "everything; mass is conserved up to floor loss") {
    // star: 0..9 all link to 10
    val nodes = (0L to 10L).toSeq
    val edges = (0L to 9L).map(s => (s, 10L))
    val pr = Graph.pageRank(nodes.toDF("id"), "id",
      edges.toDF("src", "dst"), iters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr(10L) > 5 * pr(0L))
    assert((0L to 9L).map(pr).distinct.size === 1) // symmetric leaves
    val total = pr.values.sum.toDouble
    assert(total > 0.9 * Graph.Scale && total <= Graph.Scale)
  }
}
