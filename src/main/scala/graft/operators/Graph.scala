package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Barrier.BarrierOps

/** Distributed graph analytics on DataFrames (no GraphX dependency —
  * the RDD-based library buys nothing here: PageRank's inner loop IS
  * a join + aggregate, which Catalyst plans better than a hand-rolled
  * Pregel for this shape).
  *
  * Arithmetic is INTEGER-QUANTIZED (ranks held in 1e-6 units, damping
  * in basis points, every division an integer `div`): floating-point
  * PageRank sums are order-dependent across engines, quantized ranks
  * are exact — the same recurrence replays bit-for-bit in any SQL
  * engine, so a 3-iteration run carries a DuckDB oracle. The
  * quantization error per iteration is < 1e-6 · outdegree, irrelevant
  * for ranking and bounded for scoring.
  *
  * Scale shape per iteration: one join of ranks (|V| rows) to edges
  * (|E| rows) on src + one dst-keyed sum — two shuffles, both on node
  * keys, with map-side partial aggregation; no per-node state beyond
  * the rank row. Dangling nodes (outdegree 0) cannot occur when the
  * node set is induced from the edge list's endpoints of an
  * undirected graph; for general directed graphs add their leaked
  * mass to the teleport term upstream.
  */
object Graph {

  /** `iterations` rounds of quantized PageRank over DIRECTED edges
    * (`src`, `dst` string columns; pass both directions for an
    * undirected graph). Returns (node, rank_units) where rank_units
    * is the rank in 1e-6 units: rank_units = (1-d)·1e6 +
    * d · Σ contrib, contrib = rank_units div outdeg, d in basis
    * points. Every node must appear as a src (no dangling mass). */
  def pageRankQuantized(edges: DataFrame, iterations: Int,
      dampingBp: Int = 8500): DataFrame = {
    require(iterations >= 1 && dampingBp >= 0 && dampingBp <= 10000)
    // materialize the edge list ONCE: every iteration joins it, and an
    // un-materialized lineage would re-run the caller's (possibly
    // expensive) edge derivation per round. On a cluster set a
    // checkpoint dir for a durable form.
    val e = edges.select(col("src"), col("dst")).barrier()
    // deg and nodes are re-read EVERY iteration (deg in the contrib
    // join, nodes in the rank rebuild): materialize each once instead
    // of re-running its |E|-row aggregate per round (guide §2.4 —
    // 3 iterations re-derived them 3x; both are |V|-sized, so the
    // checkpoint is small at any scale)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .barrier()
    val nodes = e.select(col("src").as("node")).union(
      e.select(col("dst").as("node"))).distinct().barrier()
    val teleport = (10000L - dampingBp) * 1000000L / 10000L
    var ranks = nodes.withColumn("rank_units", lit(1000000L))
    for (_ <- 1 to iterations) {
      val contribs = e
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .join(deg, "src")
        .select(col("dst").as("node"),
          expr("rank_units div outdeg").as("contrib"))
        .groupBy(col("node"))
        .agg(sum(col("contrib")).as("inflow"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) + expr(
            s"($dampingBp * coalesce(inflow, 0L)) div 10000"))
            .as("rank_units"))
    }
    ranks
  }

  /** Per-node triangle counts over an UNDIRECTED graph (`src`, `dst`
    * string columns; direction and duplicates are ignored, self-loops
    * dropped). Returns (node, triangles) for nodes in ≥1 triangle.
    *
    * Scale shape: edges are oriented low-degree-rank → high-degree-rank
    * first (rank = (degree, node) total order), so every triangle is
    * enumerated exactly once from its minimum-rank apex and — the
    * classical compact-forward bound — each node's out-degree under
    * this orientation is O(√E), which caps the wedge join's output at
    * O(E^1.5) even on power-law graphs where a lexicographic
    * orientation lets one hub node generate deg² wedges. Three
    * node-keyed hash joins + one aggregate; no driver-side adjacency. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val canon = canonEdges(edges)
    triangleCountsOf(canon, degreesOf(canon))
  }

  /** Canonical undirected edge set: a < b, deduped, no self-loops —
    * materialized once (localCheckpoint) so composed operators never
    * recompute the distinct. */
  private def canonEdges(edges: DataFrame): DataFrame = edges
    .select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b"))
    .filter(col("a") =!= col("b"))
    .distinct()
    .barrier()

  private def degreesOf(canon: DataFrame): DataFrame =
    canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** [[triangleCounts]] body over an already-canonical edge set and
    * its degree table (shared with [[clusteringCoefficients]], which
    * needs both — recomputing the canonical distinct doubled that
    * query's cost before this split). */
  private def triangleCountsOf(canon: DataFrame,
      deg: DataFrame): DataFrame = {
    // LONG surrogate node ids for the enumeration: the wedge join is
    // the O(E^1.5) hot path, and hashing/sorting/comparing 8-byte
    // longs instead of strings shrinks the shuffle payload and the
    // per-row comparison work ~4x (measured: the string-keyed version
    // showed 3x run-to-run wall spread at sf1 from sort-buffer GC
    // churn). Surrogates are unique-not-dense
    // (monotonically_increasing_id over the node set, checkpointed so
    // every reference sees ONE assignment); the (deg, id) orientation
    // order changes with the ids, but per-node triangle COUNTS are
    // orientation-invariant, so results are id-independent.
    val ids = deg
      .withColumn("nid", monotonically_increasing_id())
      .barrier()
    // orient each edge from the endpoint with the smaller (deg, nid)
    // pair — a total order, so orientation is acyclic; carry the
    // destination's rank so wedges can be ordered by the SAME order
    // (a lexicographic wedge order would miss triangles whose closing
    // edge is oriented against it)
    val oriented = canon
      .join(ids.select(col("node").as("a"), col("nid").as("na"),
        col("deg").as("da")), "a")
      .join(ids.select(col("node").as("b"), col("nid").as("nb"),
        col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("na") < col("nb")),
          struct(col("na").as("u"), col("nb").as("v"), col("db").as("dv")))
          .otherwise(
            struct(col("nb").as("u"), col("na").as("v"), col("da").as("dv")))
          .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"),
        struct(col("e.dv").as("d"), col("e.v").as("n")).as("rv"))
      .barrier()
    // wedges from each apex u: (u→v, u→w) with rank(v) < rank(w);
    // close with the oriented edge v→w, which exists iff the triangle
    // does (struct comparison = the orientation's (deg, nid) order)
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.rv") < col("e2.rv"))
      .join(oriented.as("e3"),
        col("e1.v") === col("e3.u") && col("e2.v") === col("e3.v"),
        "left_semi")
      .select(col("e1.u").as("x"), col("e1.v").as("y"),
        col("e2.v").as("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("nid"))
      .groupBy(col("nid")).agg(count(lit(1)).as("triangles"))
      // one |V|-sized join maps surrogates back to caller node ids
      .join(ids.select(col("nid"), col("node")), "nid")
      .select(col("node"), col("triangles"))
  }

  /** Local clustering coefficient per node, in exact integer parts
    * per million: cc_ppm = (2 * triangles * 10^6) div (d * (d - 1))
    * for nodes of degree >= 2 (below that the coefficient is
    * undefined and the node is omitted). Integer quantization makes
    * the whole computation engine-portable (the g1 PageRank recipe) —
    * the oracle replays the division bit-for-bit. Cost = ONE canonical
    * edge materialization + degree aggregate shared with the triangle
    * enumeration; the final join is node-keyed. */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val canon = canonEdges(edges)
    val deg = degreesOf(canon).withColumnRenamed("deg", "degree")
    val tri = triangleCountsOf(canon,
      deg.withColumnRenamed("degree", "deg"))
    deg.filter(col("degree") >= 2)
      .join(tri, Seq("node"), "left")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
      .withColumn("cc_ppm", expr(
        "(2 * triangles * 1000000) div (degree * (degree - 1))"))
      .select(col("node"), col("degree"), col("triangles"), col("cc_ppm"))
  }

  /** k-core via synchronous peeling: `rounds` rounds of "drop every
    * node with degree < k, induce the edge set on the survivors".
    * Expects the UNDIRECTED graph as BOTH directed rows per edge
    * (src, dst) + (dst, src), so a node's degree is its src row count
    * — one aggregate, no union, per round.
    *
    * When a round removes nothing the peeling has reached its
    * fixpoint, which IS the k-core (the unique maximal subgraph of
    * min-degree ≥ k; synchronous vs sequential peeling order doesn't
    * change it). A fixed `rounds` keeps the computation engine-exact
    * and oracle-able; callers size it to the graph's peel depth (the
    * spec asserts fixpoint on the harness graphs — at scale, loop
    * until `count` is stable instead, one extra count per round).
    *
    * Scale shape per round: one map-side-combined degree aggregate +
    * two node-keyed semi-joins — all on node keys, so at 1000
    * executors each round is two bounded shuffles of the SURVIVING
    * edge set, which only shrinks. Edge set localCheckpointed per
    * round (iterative-lineage hygiene, same as BFS/components).
    * Returns (node, core_deg) for k-core members, core_deg = degree
    * within the core. */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1)
    var e = edges.select(col("src"), col("dst")).barrier()
    for (_ <- 1 to rounds) {
      val keep = e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("node"))
      val prev = e
      e = e
        .join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .barrier()
      // the previous round's frame is dead once this round is
      // materialized
      graft.Barrier.release(prev)
    }
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** Single-source shortest paths with non-negative INTEGER weights:
    * `rounds` rounds of frontier-limited Bellman-Ford relaxation over
    * DIRECTED edges (`src`, `dst`, `w` columns; mirror each edge with
    * the SAME weight for an undirected graph). Returns (node, dist)
    * for nodes reachable within `rounds` hops, dist = the minimum
    * path weight over all paths of ≤ `rounds` edges — exactly the
    * classical Bellman-Ford round-r state, so a fixed round count
    * replays bit-for-bit in any SQL engine (integer sums, no float
    * accumulation order to diverge). Relaxing only the nodes improved
    * last round is an optimization, not a semantic change: a node's
    * settled distance is offered to its neighbors exactly once, in
    * the round after it last improved, so the offer multiset — and
    * its min — matches full re-relaxation round for round.
    *
    * Scale shape per round: one join of the (shrinking) frontier to
    * the edge list on src + one dst-keyed min-aggregate (map-side
    * combinable) + one full-outer node-keyed merge with the running
    * distances — all node-keyed shuffles of frontier-proportional
    * volume; dist/frontier localCheckpointed per round (iterative
    * lineage hygiene, same as BFS/components). Callers size `rounds`
    * to the weighted-path hop depth; at scale, loop until the
    * frontier count is stable instead (one extra count per round). */
  def sssp(edges: DataFrame, sources: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1)
    val e = edges.select(col("src"), col("dst"), col("w"))
      .barrier()
    var dist = sources.select(col("node")).distinct()
      .withColumn("dist", lit(0L)).barrier()
    var frontier = dist
    // barrier frame the CURRENT round's plans still read; each round
    // releases it once the next round is materialized
    var prevRound = dist
    for (_ <- 1 to rounds) {
      val offers = e
        .join(frontier.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("dist") + col("w")).as("nd"))
        .groupBy(col("node")).agg(min(col("nd")).as("nd"))
      val merged = dist.join(offers, Seq("node"), "full")
        .select(col("node"),
          when(col("dist").isNull, col("nd"))
            .when(col("nd").isNull, col("dist"))
            .otherwise(least(col("dist"), col("nd"))).as("dist"),
          (col("dist").isNull || col("nd") < col("dist"))
            .as("improved"))
        .barrier()
      graft.Barrier.release(prevRound)
      prevRound = merged
      frontier = merged.filter(col("improved"))
        .select(col("node"), col("dist"))
      dist = merged.select(col("node"), col("dist"))
    }
    // every round's frame is materialized past the edge join, so the
    // result no longer reads the edge barrier either
    graft.Barrier.release(e)
    dist
  }

  /** Breadth-first levels: minimum hop distance from any node of
    * `sources` along DIRECTED edges, up to `maxHops`. Returns
    * (node, level) for REACHED nodes only (level 0 = a source).
    * One frontier join + min-aggregate per hop — the standard
    * iterative-BFS dataflow; each round's frontier is only the
    * newly-reached nodes, so work per hop is O(edges out of the
    * frontier), not O(V). */
  def bfsLevels(edges: DataFrame, sources: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0)
    val e = edges.select(col("src"), col("dst")).barrier()
    var reached = sources.select(col("node")).distinct()
      .withColumn("level", lit(0))
    var frontier = reached
    var hop = 1
    // Measured note (sf1 trading graph, 1.3M directed edges): forcing
    // broadcast on the frontier/reached join sides was ~30% SLOWER
    // than the hash-shuffle plan here — per-hop broadcast construction
    // outweighs the avoided shuffles when hops are few and frontiers
    // reach |V|; let AQE pick the join strategy instead.
    while (hop <= maxHops) {
      val next = e
        .join(frontier.withColumnRenamed("node", "src")
          .select(col("src")), "src")
        .select(col("dst").as("node")).distinct()
        .join(reached.select(col("node")), Seq("node"), "left_anti")
        .withColumn("level", lit(hop))
      // materialize the frontier so the lineage doesn't re-expand the
      // whole prefix each round (iterative-algorithm hygiene; at scale
      // checkpoint every few hops instead)
      frontier = next.barrier()
      reached = reached.unionByName(frontier)
      hop += 1
    }
    reached
  }
}
