package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Checkpoint.{counted, materialize, pinned}

/** Iterative graph analytics beyond connected components.
  *
  * PageRank here uses ORDER-INDEPENDENT fixed-point arithmetic: ranks
  * are int64 scaled by 2^30, per-edge contributions are integer
  * divisions, and per-node sums are exact long additions — so the
  * result is bit-identical under any partitioning/merge order (double
  * sums over shuffled contributions are not, which is why a float
  * formulation can't be differentially tested — the same trick as the
  * IVF Lloyd step). Each round is one shuffle (contributions grouped by
  * destination) plus a broadcast of the two scalar aggregates (dangling
  * mass, total nodes); lineage is truncated per round with
  * localCheckpoint exactly like connectedComponents — plans stay O(1)
  * per iteration.
  */
object Graph {

  val Scale: Long = 1L << 30

  /** Size-GATED broadcast of a per-vertex loop frame (r17). Every
    * iterative operator joins a |V|-bounded frame (ranks, labels,
    * frontier) against the pinned edge list each round, and a shuffle
    * join re-exchanges and sorts the |E| edge rows every round (see
    * [[Checkpoint.pinned]]; q86: a 2.4M-row exchange plus the round's
    * dominant join stage, three times per query). When the frame's size —
    * measured rows × the schema's row width, not an estimate — fits
    * Spark's own `spark.sql.autoBroadcastJoinThreshold`, hint it and the
    * edge side never moves; past it (or with the threshold at -1, which
    * disables broadcasting as everywhere else in Spark) the loop keeps
    * the shuffle join, so billion-vertex graphs never collect anything.
    * A blanket hint would be the driver-OOM trap the degree-table
    * comment on [[degrees]] documents; the gate is what makes it
    * safe. */
  private[graft] def vertexSide(df: DataFrame, nRows: Long): DataFrame = {
    val max = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (nRows >= 0 && nRows * df.schema.defaultSize <= max) broadcast(df)
    else df
  }

  /** The symmetric (src, dst[, extraCols]) adjacency of an UNDIRECTED
    * edge list (id_a, id_b[, extraCols]): every edge in both
    * directions, deduplicated unless `assumeDistinct` — the caller
    * proves the doubled list duplicate-free (distinct a<b pairs, or a
    * bipartite graph with disjoint key spaces), and the distinct() would
    * be a full wasted shuffle of the doubled edge list. */
  private[graft] def undirected(edges: DataFrame, assumeDistinct: Boolean,
      extraCols: String*): DataFrame = {
    val extra = extraCols.map(col)
    val doubled = edges
      .select(Seq(col("id_a").as("src"), col("id_b").as("dst")) ++ extra: _*)
      .unionByName(edges
        .select(Seq(col("id_b").as("src"), col("id_a").as("dst")) ++ extra: _*))
    if (assumeDistinct) doubled else doubled.distinct()
  }

  /** Exact integer floor-division for longs (Column./ is always DOUBLE
    * division). Safe because every numerator here is < 2^53: the double
    * quotient m/n can only round across an integer boundary when
    * n·q > 2^53, i.e. m > 2^53 — so cast-truncate ≡ floor exactly. */
  private def ldiv(a: Column, b: Column): Column =
    (a / b).cast("long")

  /** The distinct co-occurrence edges `(a, b)`, a < b, between the
    * `item` values that share a `basket` in `df`, stored.
    *
    * Each basket's sorted item set expands to its C(k,2) pairs in memory
    * after one groupBy exchange, where a self-join on `basket` would
    * sort-merge the full input. The expansion is two flat generator
    * steps (posexplode, then explode of the strict suffix) rather than a
    * nested transform/slice/flatten: generators run inside whole-stage
    * codegen, nested lambdas are interpreted per element. The edges are
    * stored before any consumer runs because AQE launches every
    * consumer exchange of the first action at once, and each would
    * re-run the expansion and its distinct. */
  def coOccurrence(df: DataFrame, basket: String, item: String): DataFrame =
    Checkpoint(df.groupBy(basket)
      .agg(sort_array(collect_set(col(item))).as("ps"))
      .select(col("ps"), posexplode(col("ps")))
      .select(col("col").as("a"),
        explode(slice(col("ps"), col("pos") + lit(2), size(col("ps"))))
          .as("b"))
      .distinct())

  /** The degree table `(v, d)` of an undirected a<b edge list, persisted
    * lazily: it feeds both sides of the orientation join in
    * [[triangles]] and any caller's own aggregate, and a caller that
    * never reads it pays nothing. Not broadcast-hinted: a hint would
    * collect |V| rows to the driver at any graph size, while unhinted
    * Spark broadcasts a small table and shuffles a large one. */
  def degrees(e: DataFrame): DataFrame =
    e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .persist()

  /** The triangle count `n_triangles` (one row) of an undirected a<b
    * edge list `e` with degree table `deg` ([[degrees]]). Eager: it
    * populates `deg` and the adjacency cache before their consumers
    * race concurrent scans of them.
    *
    * Each edge points from its lower to its higher (degree, id)
    * endpoint, so every triangle is one DAG a→b→c with a→c, and it is
    * counted once, at its (a, b) edge, as |N⁺(a) ∩ N⁺(b)| over sorted
    * out-neighbor arrays (the edge-iterator count). No wedge is ever
    * materialized, and under this orientation out-lists are O(√m), so
    * the arrays stay task-sized where a hub would make wedge
    * enumeration quadratic. */
  def triangles(e: DataFrame, deg: DataFrame): DataFrame = {
    deg.count()
    val oriented = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
      .select(when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("s"), col("b").as("t")))
        .otherwise(struct(col("b").as("s"), col("a").as("t")))
        .as("e"))
      .select(col("e.s").as("src"), col("e.t").as("dst"))
    // (src, N⁺(src)) exploded over N⁺(src) is the oriented edge list
    // with its source's out-list attached: one adjacency build serves
    // both sides of the count
    val adj = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("ns"))
      .persist()
    adj.count()
    def intersectCount(a: Column, b: Column): Column =
      org.apache.spark.sql.GraftSql.column(
        graft.functions.SortedIntersectCount(
          org.apache.spark.sql.GraftSql.expression(a),
          org.apache.spark.sql.GraftSql.expression(b)))
    // SHUFFLE_HASH: a sort-merge join would sort the array-laden edge
    // rows only for the sum to discard the order
    adj.select(col("ns").as("na"), explode(col("ns")).as("dst"))
      .join(adj.select(col("src").as("dst"), col("ns").as("nb"))
        .hint("SHUFFLE_HASH"), Seq("dst"))
      .agg(coalesce(sum(intersectCount(col("na"), col("nb"))), lit(0L))
        .as("n_triangles"))
  }

  /** `iters` rounds of damped PageRank over a DIRECTED edge list
    * (src, dst). Dangling mass (nodes with no out-edges) redistributes
    * uniformly. Returns (id, pr_fixed) with pr_fixed = rank · 2^30;
    * ranks sum to ~2^30·N/N = 2^30 up to integer-floor loss. Scaling
    * bound: intermediate products stay under 2^63 for N·damping·2^30 <
    * 2^62, i.e. any graph under ~4B nodes with damping as d100/100. */
  def pageRank(nodes: DataFrame, idCol: String, edges: DataFrame,
      iters: Int = 10, dampingPct: Int = 85): DataFrame = {
    require(dampingPct > 0 && dampingPct < 100)
    // N is a bounded driver scalar, observed on the node set's own
    // checkpoint job — a literal in every round's plan beats carrying
    // an n_nodes column through every row
    val (n, nNodes) = counted(nodes.select(col(idCol).as("id")).distinct())
    val e = pinned(edges.select(col("src"), col("dst")), "src")
    val outDeg = e.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("outdeg"))
    // empty graph → well-defined empty rank table (and Scale/nNodes
    // below would otherwise divide by zero)
    if (nNodes == 0) {
      return n.select(col("id"), lit(0L).as("pr_fixed"))
    }

    // the dangling mass rides each round's checkpoint job (materialize)
    // — a separate per-round aggregation job would double the round's
    // job count for one scalar
    val danglingMass = sum(when(col("outdeg").isNull, col("pr")))
    // init: every node starts at 2^30 / N (exact integer division —
    // the tiny floor loss is identical everywhere)
    var (ranks, dangling) = materialize(n
      .select(col("id"), lit(Scale / nNodes).as("pr"))
      .join(outDeg, Seq("id"), "left"), "pagerank.round[0]", danglingMass)

    for (i <- 1 to iters) {
      // per-edge contribution = floor(pr/outdeg); per-node inflow is an
      // exact long sum — the one shuffle of the round. The rank side is
      // |V|-bounded and nNodes is already measured: the gated broadcast
      // keeps the checkpointed edge list from re-exchanging+sorting
      // every round (see vertexSide)
      val contrib = vertexSide(ranks.filter(col("outdeg").isNotNull),
          nNodes)
        .join(e, col("id") === col("src"))
        .select(col("dst").as("id"), ldiv(col("pr"), col("outdeg")).as("c"))
        .groupBy("id").agg(sum(col("c")).as("inflow"))
      // pr' = (100-d)·S/(100·N) + d·(inflow + dangling/N)/100, all in
      // integer arithmetic with a FIXED operation order
      val prNew =
        lit((100L - dampingPct) * Scale / (100L * nNodes)) +
          ldiv(lit(dampingPct.toLong) * (coalesce(col("inflow"), lit(0L)) +
            lit(dangling / nNodes)), lit(100L))
      val (next, nextDangling) = materialize(ranks
        .join(contrib, Seq("id"), "left")
        .select(col("id"), prNew.as("pr"), col("outdeg")),
        s"pagerank.round[$i]", danglingMass)
      ranks = next
      dangling = nextDangling
    }
    ranks.select(col("id"), col("pr").as("pr_fixed"))
  }

  /** Synchronous label propagation (community detection), fully
    * deterministic: labels start as the node id; each round every node
    * adopts the MODE of its neighbors' labels with ties broken by the
    * smallest label — an argmax over exact integer counts, so unlike
    * the classic randomized-order LPA the result is identical under
    * any partitioning AND replayable by plain SQL (the q86 oracle runs
    * the same rounds as chained CTEs). Fixed `iters` rounds (the
    * convergence-free variant — data-dependent stopping would make the
    * round count, and thus the oracle, input-dependent). One shuffle
    * per round (the neighbor-label count); the argmax is a plain
    * max(struct(c, -label)) aggregate — (count desc, label asc) as one
    * total order over exact integers, partially aggregatable map-side,
    * where a row_number window would force an extra per-partition sort;
    * localCheckpoint truncates lineage exactly like pageRank. */
  def labelPropagation(edges: DataFrame, iters: Int,
      assumeDistinct: Boolean = false): DataFrame = {
    // pinned on src, the per-round neighbor-label join key.
    // assumeDistinct: q86's co-occurrence graph is distinct a<b pairs
    val adj = pinned(undirected(
      edges.select(col("src").as("id_a"), col("dst").as("id_b")),
      assumeDistinct), "src")
    // |labels| = |incident vertices|, observed on the labels' own
    // checkpoint job and constant across rounds — the gate for
    // broadcasting the per-round label side (see vertexSide)
    val (initial, nLabels) = counted(adj.select(col("src").as("id"))
      .distinct().select(col("id"), col("id").as("label")))
    var labels = initial
    var i = 0
    while (i < iters) {
      val counts = adj
        .join(vertexSide(
          labels.select(col("id").as("src"), col("label")), nLabels),
          Seq("src"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("c"))
      val next = counts.groupBy(col("dst"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("dst").as("id"), (-col("m.nl")).as("new_label"))
      val merged = labels.join(vertexSide(next, nLabels), Seq("id"), "left")
        .select(col("id"),
          coalesce(col("new_label"), col("label")).as("label"))
      // checkpoint every SECOND round (and the last): two propagation
      // rounds per materialized job — the q52 pointer-doubling cadence
      // applied here. Plans stay ≤ 2 rounds deep; job count halves.
      labels = if (i % 2 == 1 || i == iters - 1)
        Checkpoint(merged) else merged
      i += 1
    }
    labels
  }

  /** Bounded-round k-core peeling: each round drops every vertex whose
    * current degree is < k and keeps only edges with both endpoints
    * surviving — pure set logic, so the result is deterministic under
    * any partitioning. The k-core is the unique fixpoint: with `rounds`
    * ≥ the peel depth the result IS the k-core, fewer rounds give the
    * partially-peeled subgraph, still well-defined. The round count is
    * STATIC (the q82/q86 treatment that lets the q165 oracle replay the
    * recurrence as chained DuckDB CTEs), but the loop stops as soon as a
    * round drops no edge — the edge count rides each round's checkpoint
    * job (see Checkpoint.counted), and rounds past the fixpoint are no-ops.
    * Returns (id, deg): surviving vertices with their degree in the
    * surviving subgraph. Each round is one degree aggregate + two semi
    * joins, lineage truncated per round. */
  def kCoreRounds(edges: DataFrame, k: Int, rounds: Int,
      assumeDistinct: Boolean = false): DataFrame = {
    var (adj, nEdges) = counted(undirected(edges, assumeDistinct),
      "kcore.round[0]")
    var prevEdges = -1L
    var i = 0
    while (i < rounds && nEdges != prevEdges) {
      val keep = adj.groupBy("src").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("src").as("v"))
      val (pruned, n) = counted(adj
        .join(keep.select(col("v").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("v").as("dst")), Seq("dst"), "left_semi"),
        s"kcore.round[${i + 1}]")
      adj = pruned
      prevEdges = nEdges
      nEdges = n
      i += 1
    }
    adj.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
  }

  /** Resource-allocation link prediction over a (node, nbr) incidence
    * list: candidate link (a, b) scores Σ_{shared nbr s} 1/deg(s) — the
    * RA index, the division-free cousin of Adamic–Adar (1/deg instead
    * of 1/log deg: no libm, so the score is EXACT in fixed point:
    * per-neighbor weight = floor(2^30/deg), summed as longs — the
    * pageRank arithmetic). Returns the top-k candidate pairs by
    * (ra_fixed DESC, id_a, id_b) — a strict total order, so the cut is
    * deterministic in any engine.
    *
    * Scale shape: pairs are generated PER SHARED NEIGHBOR (one
    * equi-join on nbr), never all-pairs; `degCap` drops super-nodes
    * before expansion — principled, not just defensive: a neighbor of
    * degree d contributes C(d,2) pairs each worth only 1/d, so hubs
    * cost quadratically while signalling ~nothing (the standard RA/AA
    * practice). With the cap, expansion is ≤ C(degCap, 2) rows per
    * neighbor and the result is top-k'd via TakeOrderedAndProject —
    * no global sort materializes. */
  def linkPredictRA(inc: DataFrame, degCap: Int = 64,
      topK: Int = 100): DataFrame = {
    val deg = inc.groupBy("nbr").agg(count(lit(1)).as("d"))
      .filter(col("d") >= 2 && col("d") <= degCap)
      .select(col("nbr"), ldiv(lit(Scale), col("d")).as("w"))
    inc.select(col("nbr"), col("node").as("id_a"))
      .join(deg, Seq("nbr")) // also semi-filters to capped neighbors
      .join(inc.select(col("nbr"), col("node").as("id_b")), Seq("nbr"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("w")).as("ra_fixed"), count(lit(1)).as("n_common"))
      .orderBy(col("ra_fixed").desc, col("id_a").asc, col("id_b").asc)
      .limit(topK)
  }

  /** Bounded-round multi-source BFS hop distance over an UNDIRECTED
    * edge list (id_a, id_b): each round expands the FRONTIER (nodes
    * first reached last round) one hop and anti-joins against the
    * already-settled set, so dist(v) = the exact hop distance for every
    * v within `rounds` hops of any seed — unreached nodes are absent,
    * not ∞ rows. Synchronous unweighted BFS is confluent (a node's
    * settle round is its hop distance regardless of expansion/partition
    * order), so the result is deterministic AND replayable by plain
    * SQL: the q179 oracle runs the equivalent min-plus relaxation
    * (dist_i(v) = min(dist_{i-1}(v), min over in-neighbors u of
    * dist_{i-1}(u)+1)) as chained DuckDB CTEs — frontier BFS and
    * min-plus agree round for round on unweighted graphs.
    *
    * Scale shape: the adjacency is doubled once and pinned on src, the
    * expansion join key; each round is ONE shuffle (the frontier
    * join + dst distinct) plus an anti join against the settled set,
    * and only the frontier — not the whole settled set — drives the
    * join, so per-round work tracks the frontier size, not the total
    * reach. Lineage: each frontier is localCheckpoint'd; the settled
    * set is a union of those materialized frames (leaf scans, no
    * recursive plan growth). The frontier's size rides its checkpoint
    * job, so an exhausted frontier stops the loop without a separate
    * emptiness probe. `assumeDistinct` skips the dedup exchange when
    * the caller proves the doubled edge list duplicate-free (bipartite
    * disjoint key spaces, as in q165/q179). */
  def bfsRounds(edges: DataFrame, seeds: DataFrame, rounds: Int,
      assumeDistinct: Boolean = false): DataFrame = {
    val adj = pinned(undirected(edges, assumeDistinct), "src")
    var (dist, nFrontier) = counted(seeds.select(col("id")).distinct()
      .select(col("id"), lit(0L).as("dist")), "bfs.round[0]")
    var frontier = dist
    var i = 0
    while (i < rounds && nFrontier > 0) {
      val reached = frontier
        .join(adj, col("id") === col("src"))
        .select(col("dst").as("id")).distinct()
      val (newly, n) = counted(reached.join(dist, Seq("id"), "left_anti")
        .select(col("id"), lit(i + 1L).as("dist")), s"bfs.round[${i + 1}]")
      dist = dist.unionByName(newly)
      frontier = newly
      nFrontier = n
      i += 1
    }
    dist
  }

  /** Bounded-round Bellman–Ford over an UNDIRECTED weighted edge list
    * (id_a, id_b, w) — the WEIGHTED sibling of bfsRounds: `rounds`
    * synchronous min-plus relaxations dist_i(v) = min(dist_{i-1}(v),
    * min over neighbors u of dist_{i-1}(u) + w(u,v)) from the seed set
    * at cost 0. After r rounds dist(v) is exactly the cheapest path of
    * ≤ r hops (the textbook Bellman–Ford invariant) — a deterministic,
    * partition-independent quantity (min and + over exact longs), so
    * the q183 oracle replays the identical recurrence as chained CTEs.
    * Unlike BFS, a settled node can improve in a later round (a longer
    * path may be cheaper), so every reached node — not a frontier —
    * relaxes each round. Unreached nodes are absent rows, not ∞.
    *
    * Scale shape: the doubled adjacency is min-deduped per (src, dst)
    * once (the cheapest parallel edge dominates any path under
    * min-plus) and pinned on src; each round is ONE shuffle (the relax
    * join + min aggregate), lineage truncated per round. */
  def bellmanFordRounds(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    // parallel edges: only the cheapest can ever matter under min-plus
    val adj = pinned(undirected(edges, assumeDistinct = true, "w")
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w")), "src")
    minPlusRounds(adj, seeds, 0L, rounds, "dist", col("dist") + col("w"))
  }

  /** Bounded-round TEMPORAL (time-respecting) reachability over a
    * DIRECTED edge list (src, dst, t): earliest-arrival relaxation
    * arr_i(v) = min(arr_{i-1}(v), min over edges (u,v) with
    * t ≥ arr_{i-1}(u) of t) — a path may only traverse edges whose
    * timestamps are NON-DECREASING, the defining constraint of
    * temporal graphs (an edge that fired before you arrived at u is
    * not usable; plain BFS over the same edges overstates reach).
    * Seeds start at `startT`. After r rounds arr(v) is the earliest
    * arrival over time-respecting paths of ≤ r hops — exact integer
    * min-plus, so deterministic under any partitioning and replayed
    * by the q186 oracle as chained CTEs. Unreached nodes are absent.
    *
    * Scale shape: identical to bellmanFordRounds — one relax shuffle
    * per round against the pinned edge list (the time constraint is a
    * join residual on the equi-join, not a range join), lineage
    * truncated per round. Parallel (src, dst) edges at
    * different times all stay: under the time constraint an earlier
    * edge is not dominated by a cheaper-looking later one. */
  def temporalReachRounds(edges: DataFrame, seeds: DataFrame,
      startT: Long, rounds: Int): DataFrame =
    minPlusRounds(pinned(edges.select(col("src"), col("dst"), col("t")),
      "src"), seeds, startT, rounds, "arr", col("t"), col("t") >= col("arr"))

  /** The synchronous min-plus relaxation shared by bellmanFordRounds and
    * temporalReachRounds: seeds start at `start`; each round every
    * reached node u relaxes its out-edges (src = u) that pass `usable`,
    * offering `candidate` to dst, and value(v) = min(value(v), offers).
    * One relax shuffle per round against the pinned adjacency, lineage
    * truncated per round. Returns (id, value). */
  private def minPlusRounds(adj: DataFrame, seeds: DataFrame, start: Long,
      rounds: Int, value: String, candidate: Column,
      usable: Column = lit(true)): DataFrame = {
    var cur = Checkpoint(seeds.select(col("id")).distinct()
      .select(col("id"), lit(start).as(value)))
    for (_ <- 1 to rounds) {
      val relaxed = cur.join(adj, col("id") === col("src")).where(usable)
        .select(col("dst").as("id"), candidate.as(value))
      cur = Checkpoint(cur.unionByName(relaxed)
        .groupBy("id").agg(min(col(value)).as(value)))
    }
    cur
  }

  /** Bounded-round HITS (Kleinberg hubs-and-authorities) over a
    * DIRECTED edge list (src, dst), in the pageRank fixed-point
    * discipline: scores are int64 scaled by 2^30, every round's
    * authority step a(v) = Σ_{u→v} h(u) and hub step h(u) = Σ_{u→v} a(v)
    * are exact long sums, and the L1 normalization x ← x·2^30 DIV Σx
    * is an integral division with the product carried in DECIMAL(38,0)
    * — so the result is bit-identical under any partitioning/merge
    * order and replayable as chained DuckDB CTEs with one scalar
    * subquery per normalization (the q237 oracle). Fixed `iters`
    * rounds (the q82/q165 bounded-round treatment — a convergence test
    * would make the oracle's shape input-dependent).
    *
    * Scale shape: the distinct edge list is pinned once (see pinned)
    * and both half-rounds join it — the authority step on src, the hub
    * step on dst. A second copy pinned on dst would buy nothing: the
    * checkpoint keeps no key partitioning, so a shuffle join re-
    * exchanges the edge side either way. Each normalization total rides
    * the half-round's checkpoint job (materialize). Bound: scores ≤ 2^30
    * after each normalization, so raw sums stay under 2^63 for graphs
    * with Σ-degree < 2^33 (~8B edges); the DECIMAL(38,0) product
    * covers the ·2^30 renormalization far beyond that.
    *
    * Returns (id, auth_fixed, hub_fixed), absent scores as 0. */
  def hits(edges: DataFrame, iters: Int = 2): DataFrame = {
    val e = pinned(edges.select(col("src"), col("dst")).distinct(), "src")

    // x·2^30 DIV total — SQL's IntegralDivide (exact truncating
    // division; all values nonnegative, so ≡ floor), the product in
    // DECIMAL(38,0) (x ≤ E·2^30 already uses most of int64; ·2^30
    // again needs 38 digits). NOT decimal `/` + cast: Spark's decimal
    // division ROUNDS to the result scale, which can cross an integer
    // boundary and diverge from the oracle's `//`. Empty/all-zero
    // guard: DIV 0 would throw under ANSI; with no mass every
    // normalized score is 0 regardless of divisor.
    def norm(xCol: String, tot: Long): Column =
      expr(s"CAST((CAST($xCol AS DECIMAL(38,0)) * ${Scale}L)" +
        s" DIV ${math.max(tot, 1L)}L AS BIGINT)")

    var hubs = Checkpoint(e.select(col("src").as("id")).distinct()
      .select(col("id"), lit(Scale).as("h")))
    var auths: DataFrame = null
    for (i <- 1 to iters) {
      val (araw, aTot) = materialize(e
        .join(hubs.select(col("id").as("src"), col("h")), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("h")).as("ar")),
        s"hits.round[$i].auth", sum(col("ar")))
      auths = araw.select(col("dst"), norm("ar", aTot).as("a"))
      val (hraw, hTot) = materialize(e
        .join(auths, Seq("dst"))
        .groupBy(col("src")).agg(sum(col("a")).as("hr")),
        s"hits.round[$i].hub", sum(col("hr")))
      hubs = hraw.select(col("src").as("id"), norm("hr", hTot).as("h"))
    }
    Checkpoint(auths.select(col("dst").as("id"), col("a").as("auth_fixed"))
      .join(hubs.select(col("id"), col("h").as("hub_fixed")),
        Seq("id"), "full_outer")
      .select(col("id"), coalesce(col("auth_fixed"), lit(0L)).as("auth_fixed"),
        coalesce(col("hub_fixed"), lit(0L)).as("hub_fixed")))
  }
}
