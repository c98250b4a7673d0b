package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Barrier.BarrierOps

import graft.Tables
import graft.operators.{Dedup, Graph}

/** Graph-analytics harness queries (quantized PageRank; near-dup
  * clustering's connected components live with the dedup family). */
object GraphQueries {

  /** Undirected supplier↔customer bipartite edges induced by orders:
    * an edge per distinct (supplier, customer) trading pair, emitted
    * in both directions. */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    // distinct on the NUMERIC key pair, prefixes concatenated after —
    // the aggregate shuffles two longs instead of two strings (guide
    // §2.3 "narrower types"; the concat is injective, so distinct on
    // (suppkey, custkey) = distinct on the prefixed strings)
    val pairs = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("sk"), col("o_custkey").as("ck"))
      .distinct()
      .select(concat(lit("s"), col("sk")).as("s"),
        concat(lit("c"), col("ck")).as("c"))
    // the two mirror sides are DISJOINT (src is s-prefixed on one side,
    // c-prefixed on the other) and each is internally distinct, so the
    // union is already duplicate-free: unionAll, no second Exchange +
    // HashAggregate over 2|E| rows (guide §2.4 "remove shuffles
    // outright" — the old .distinct() here was a full no-op shuffle)
    pairs.select(col("s").as("src"), col("c").as("dst"))
      .unionAll(pairs.select(col("c").as("src"), col("s").as("dst")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // G1: 3-iteration quantized PageRank over the trading graph —
    // integer 1e-6-unit ranks make the recurrence exact across
    // engines (float PageRank sums are order-dependent; see
    // operators/Graph.scala), so the oracle replays all three
    // iterations as unrolled CTEs bit-for-bit
    "g1_pagerank" -> ((s, dir) => {
      Graph.pageRankQuantized(tradeEdges(s, dir), iterations = 3)
        .orderBy(col("node"))
    }),

    // G2: BFS levels — minimum hop distance from supplier s1 over the
    // trading graph, 3 hops (s1 → its customers → their other
    // suppliers → those suppliers' customers); frontier-join dataflow,
    // oracled by unrolled per-hop CTEs taking the min level
    "g2_bfs" -> ((s, dir) => {
      import s.implicits._
      Graph.bfsLevels(tradeEdges(s, dir),
          Seq("s1").toDF("node"), maxHops = 3)
        .orderBy(col("level"), col("node"))
    }),

    // G3: connected components of the REPEAT-BUSINESS trading graph
    // (supplier↔customer pairs with ≥4 distinct orders — the filter
    // fragments the hub-dominated bipartite graph into real
    // components). Reuses the dedup family's min-label propagation
    // (Dedup.scala connectedComponents) on graph data; oracle is the
    // d5-style recursive-CTE transitive closure
    "g3_components" -> ((s, dir) => {
      val pairs = repeatPairs(s, dir)
      val nodes = pairs.select(col("i").as("node"))
        .union(pairs.select(col("j").as("node"))).distinct()
      Dedup.connectedComponents(nodes, "node", pairs)
        .orderBy(col("node"))
    }),

    // G5: 2-core of the ≥2-order trading graph — 5 synchronous peel
    // rounds (fixpoint within 5 at every harness SF, asserted by
    // spec), dropping the tree-like tendrils that dominate the
    // bipartite graph and keeping only nodes on cycles. Oracle unrolls
    // the same peel rounds as induced-edge CTEs
    "g5_kcore" -> ((s, dir) => {
      val pairs = repeatPairs(s, dir, minOrders = 2)
      val edges = pairs.select(col("i").as("src"), col("j").as("dst"))
        .union(pairs.select(col("j").as("src"), col("i").as("dst")))
      Graph.kCore(edges, k = 2, rounds = 5).orderBy(col("node"))
    }),

    // G6: weighted single-source shortest paths from supplier s1 over
    // the ≥2-order trading graph, 6 Bellman-Ford rounds. Edge weights
    // are deterministic integers 1–9 from the pair's md5 hash (the g4
    // recipe — engine-portable, varied, and symmetric because the
    // weight is drawn on the (i, j) pair row BEFORE mirroring). A
    // fixed round count makes the result the exact "min path weight
    // over ≤6-edge paths" recurrence, which the oracle unrolls as
    // full-relaxation CTEs (frontier-limited relaxation is
    // round-equivalent; integer sums make it bit-exact)
    "g6_sssp" -> ((s, dir) => {
      import s.implicits._
      val pairs = repeatPairs(s, dir, minOrders = 2)
        .withColumn("w", lit(1L) +
          conv(substring(md5(concat(col("i"), lit("|"), col("j"))),
            1, 15), 16, 10).cast("long") % 9)
      val edges = pairs.select(col("i").as("src"), col("j").as("dst"),
          col("w"))
        .union(pairs.select(col("j").as("src"), col("i").as("dst"),
          col("w")))
      Graph.sssp(edges, Seq("s1").toDF("node"), rounds = 6)
        .orderBy(col("node"))
    }),

    // G4: per-node triangle counts on the HASH-SPARSIFIED co-supply
    // graph. The raw "suppliers who ship a common part" graph is the
    // COMPLETE graph K_n at sf ≥ 0.01 (~30 suppliers touch every
    // part, so every supplier pair co-supplies) — C(n,3) triangles is
    // an enumeration benchmark, not an analytics query (166M result
    // rows at sf0.1, measured 33 s). Keeping each edge iff the
    // md5-derived 60-bit hash of the pair ≡ 0 (mod 10) makes it a
    // deterministic Erdős–Rényi-style subgraph (p = 0.1: degree ~100
    // and 165k triangles at sf0.1; 149 triangles at the sf0.01 gate)
    // — engine-portable, the oracle replays the same predicate.
    // Degree-ordered compact-forward enumeration, each triangle
    // counted once from its minimum-rank apex; oracle replays a
    // lexicographic ordered 3-join (orientation strategy doesn't
    // change the counts)
    "g4_triangles" -> ((s, dir) => {
      Graph.triangleCounts(coSupplyEdges(s, dir)).orderBy(col("node"))
    }),

    // G7: local clustering coefficient over the same hash-sparsified
    // co-supply graph as g4 — triangles composed with the degree
    // aggregate, quantized to integer ppm so the division replays
    // bit-for-bit in the oracle (the g1 recipe). The per-node cc is
    // the standard community-structure signal next to raw triangle
    // counts.
    "g7_clustering_coeff" -> ((s, dir) => {
      Graph.clusteringCoefficients(coSupplyEdges(s, dir))
        .orderBy(col("node"))
    })
  )

  /** The g4/g7 hash-sparsified co-supply edge set (shared derivation;
    * the queries composed identical inline copies before r17-opt).
    *
    * Optimization shape, driven by the noop-sink stage timings recorded
    * in OPTIMIZATION_r17.md (guide §1.1: measure, then attack the
    * measured stage):
    *  - the old plan deduped STRING pairs (~8.7M pair-per-shared-part
    *    rows at sf0.1 through the distinct exchange as two ~7-char
    *    strings) and only then hashed the ~0.5M survivors. Probe:
    *    self-join 1.8 s, string distinct + md5 ≈ 5-6 s.
    *  - moving the md5 below the distinct was WORSE (md5+conv on all
    *    8.7M rows ≈ 5 s — the expression chain, not the shuffle, is
    *    the cost at local scale).
    *  - this shape deduplicates the NUMERIC (ka < kb) pair first —
    *    16 bytes/row through the exchange, partial map-side dedup
    *    (guide §2.3 "narrower types", §2.3 "aggregate before you
    *    shuffle") — and computes the string form + md5 predicate on
    *    the ~0.5M DISTINCT pairs only. No trailing distinct needed:
    *    the filter input is already unique.
    * Orientation is unchanged: the join enumerates each unordered pair
    * once per shared part under the numeric x.k < y.k condition, and
    * (src, dst) = (least, greatest) of the prefixed strings — exactly
    * the old string-ordered (x.sk < y.sk) orientation, so the md5
    * predicate sees byte-identical input and the edge set is
    * bit-identical (oracle-checked). */
  private def coSupplyEdges(s: SparkSession, dir: String): DataFrame = {
    val ps = Tables(s, dir, "lineitem")
      .select(col("l_partkey").as("p"), col("l_suppkey").as("k"))
      .distinct()
    ps.as("x").join(ps.as("y"),
        col("x.p") === col("y.p") && col("x.k") < col("y.k"))
      .select(col("x.k").as("ka"), col("y.k").as("kb"))
      .distinct()
      // BARRIER, load-bearing: without it Catalyst pushes the md5
      // predicate below the distinct (it is deterministic over the
      // grouping columns), hashing all ~8.7M pair-per-shared-part rows
      // instead of the ~0.5M distinct pairs — measured 6.5 s of pure
      // expression work at sf0.1, the dominant stage of the old plan
      // (OPTIMIZATION_r17.md; the same pushdown silently applied to the
      // original string-distinct shape too). The checkpoint is 16
      // bytes/row and also stops triangleCounts' canonical-edge
      // materialization from re-deriving the whole join lineage a
      // second time.
      .barrier()
      .select(
        least(concat(lit("s"), col("ka")), concat(lit("s"), col("kb")))
          .as("src"),
        greatest(concat(lit("s"), col("ka")), concat(lit("s"), col("kb")))
          .as("dst"))
      .filter(conv(substring(md5(concat(col("src"), lit("|"),
          col("dst"))), 1, 15), 16, 10).cast("long") % 10 === 0)
  }

  /** Supplier↔customer pairs with at least `minOrders` distinct
    * orders, as (i, j) string-node pairs (components: ≥4 fragments
    * the graph; k-core: ≥2 keeps enough cycles for a 2-core). */
  private def repeatPairs(s: SparkSession, dir: String,
      minOrders: Int = 4): DataFrame =
    // group by the NUMERIC key pair and prefix after the aggregate —
    // the two aggregation exchanges (countDistinct plans an expand +
    // two hash aggregates) shuffle longs instead of strings (guide
    // §2.3 "narrower types"; concat is injective, so the groups are
    // identical)
    Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_suppkey").as("ik"), col("o_custkey").as("jk"))
      .agg(countDistinct(col("o_orderkey")).as("n"))
      .filter(col("n") >= minOrders)
      .select(concat(lit("s"), col("ik")).as("i"),
        concat(lit("c"), col("jk")).as("j"))

  /** The g5 oracle's 5 unrolled peel rounds: each round keeps nodes
    * with ≥2 src rows (both edge directions are present, so src count
    * IS the degree) and induces the edge set on the survivors. */
  private val kcorePeels: String = (1 to 5).map { r =>
    s"""k$r AS (SELECT src AS node FROM e${r - 1}
       |  GROUP BY 1 HAVING count(*) >= 2),
       |e$r AS (SELECT src, dst FROM e${r - 1}
       |  WHERE src IN (SELECT node FROM k$r)
       |    AND dst IN (SELECT node FROM k$r))""".stripMargin
  }.mkString(",\n")

  /** The g6 oracle's 6 unrolled full-relaxation rounds: each round's
    * state is min(previous, best one-more-edge extension). */
  private val ssspRounds: String = (1 to 6).map { r =>
    s"""d$r AS (SELECT node, min(dist) AS dist FROM (
       |  SELECT node, dist FROM d${r - 1}
       |  UNION ALL
       |  SELECT e.dst, d.dist + e.w FROM d${r - 1} d
       |  JOIN e ON e.src = d.node) GROUP BY 1)""".stripMargin
  }.mkString(",\n")

  val oracles: Map[String, String] = Map(
    "g6_sssp" ->
      s"""WITH pairs AS (
         |  SELECT 's' || l_suppkey AS i, 'c' || o_custkey AS j
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2 HAVING count(DISTINCT o_orderkey) >= 2),
         |pw AS (SELECT i, j,
         |    1 + CAST(('0x' || substr(md5(i || '|' || j), 1, 15)) AS BIGINT) % 9 AS w
         |  FROM pairs),
         |e AS (SELECT i AS src, j AS dst, w FROM pw
         |  UNION ALL SELECT j, i, w FROM pw),
         |d0 AS (SELECT 's1' AS node, CAST(0 AS BIGINT) AS dist),
         |$ssspRounds
         |SELECT node, CAST(dist AS BIGINT) AS dist
         |FROM d6 ORDER BY node""".stripMargin,
    "g5_kcore" ->
      s"""WITH pairs AS (
         |  SELECT 's' || l_suppkey AS i, 'c' || o_custkey AS j
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2 HAVING count(DISTINCT o_orderkey) >= 2),
         |e0 AS (SELECT i AS src, j AS dst FROM pairs
         |  UNION ALL SELECT j, i FROM pairs),
         |$kcorePeels
         |SELECT src AS node, count(*) AS core_deg
         |FROM e5 GROUP BY 1 ORDER BY 1""".stripMargin,
    "g1_pagerank" ->
      """WITH pairs AS (SELECT DISTINCT 's' || l_suppkey AS s,
        |    'c' || o_custkey AS c
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (SELECT s AS src, c AS dst FROM pairs
        |  UNION SELECT c AS src, s AS dst FROM pairs),
        |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS node FROM edges
        |  UNION SELECT DISTINCT dst AS node FROM edges),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_units FROM nodes),
        |i1 AS (SELECT e.dst AS node, sum(r.rank_units // d.outdeg) AS inflow
        |  FROM edges e JOIN r0 r ON e.src = r.node
        |  JOIN deg d ON e.src = d.src GROUP BY 1),
        |r1 AS (SELECT n.node,
        |    150000 + (8500 * coalesce(i.inflow, 0)) // 10000 AS rank_units
        |  FROM nodes n LEFT JOIN i1 i USING (node)),
        |i2 AS (SELECT e.dst AS node, sum(r.rank_units // d.outdeg) AS inflow
        |  FROM edges e JOIN r1 r ON e.src = r.node
        |  JOIN deg d ON e.src = d.src GROUP BY 1),
        |r2 AS (SELECT n.node,
        |    150000 + (8500 * coalesce(i.inflow, 0)) // 10000 AS rank_units
        |  FROM nodes n LEFT JOIN i2 i USING (node)),
        |i3 AS (SELECT e.dst AS node, sum(r.rank_units // d.outdeg) AS inflow
        |  FROM edges e JOIN r2 r ON e.src = r.node
        |  JOIN deg d ON e.src = d.src GROUP BY 1),
        |r3 AS (SELECT n.node,
        |    150000 + (8500 * coalesce(i.inflow, 0)) // 10000 AS rank_units
        |  FROM nodes n LEFT JOIN i3 i USING (node))
        |SELECT node, CAST(rank_units AS BIGINT) AS rank_units
        |FROM r3 ORDER BY node""".stripMargin,

    "g2_bfs" ->
      """WITH pairs AS (SELECT DISTINCT 's' || l_suppkey AS s,
        |    'c' || o_custkey AS c
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (SELECT s AS src, c AS dst FROM pairs
        |  UNION SELECT c AS src, s AS dst FROM pairs),
        |l0 AS (SELECT 's1' AS node),
        |l1 AS (SELECT DISTINCT e.dst AS node FROM edges e
        |  JOIN l0 ON e.src = l0.node
        |  WHERE e.dst NOT IN (SELECT node FROM l0)),
        |l2 AS (SELECT DISTINCT e.dst AS node FROM edges e
        |  JOIN l1 ON e.src = l1.node
        |  WHERE e.dst NOT IN (SELECT node FROM l0)
        |    AND e.dst NOT IN (SELECT node FROM l1)),
        |l3 AS (SELECT DISTINCT e.dst AS node FROM edges e
        |  JOIN l2 ON e.src = l2.node
        |  WHERE e.dst NOT IN (SELECT node FROM l0)
        |    AND e.dst NOT IN (SELECT node FROM l1)
        |    AND e.dst NOT IN (SELECT node FROM l2))
        |SELECT node, 0 AS level FROM l0
        |UNION ALL SELECT node, 1 FROM l1
        |UNION ALL SELECT node, 2 FROM l2
        |UNION ALL SELECT node, 3 FROM l3
        |ORDER BY level, node""".stripMargin,

    "g3_components" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT 's' || l_suppkey AS i, 'c' || o_custkey AS j
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2 HAVING count(DISTINCT o_orderkey) >= 4),
        |nodes AS (SELECT DISTINCT i AS node FROM pairs
        |  UNION SELECT DISTINCT j FROM pairs),
        |edges AS (SELECT i AS src, j AS dst FROM pairs
        |  UNION ALL SELECT j, i FROM pairs),
        |reach(id, label) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id)
        |SELECT id AS node, min(label) AS cluster_id
        |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin,

    "g4_triangles" ->
      """WITH ps AS (SELECT DISTINCT l_partkey AS p, 's' || l_suppkey AS sk
        |  FROM lineitem),
        |e0 AS (SELECT DISTINCT x.sk AS a, y.sk AS b
        |  FROM ps x JOIN ps y ON x.p = y.p AND x.sk < y.sk),
        |e AS (SELECT a, b FROM e0
        |  WHERE CAST(('0x' || substr(md5(a || '|' || b), 1, 15)) AS BIGINT) % 10 = 0),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        |n AS (SELECT unnest([x, y, z]) AS node FROM tri)
        |SELECT node, count(*) AS triangles
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,

    "g7_clustering_coeff" ->
      """WITH ps AS (SELECT DISTINCT l_partkey AS p, 's' || l_suppkey AS sk
        |  FROM lineitem),
        |e0 AS (SELECT DISTINCT x.sk AS a, y.sk AS b
        |  FROM ps x JOIN ps y ON x.p = y.p AND x.sk < y.sk),
        |e AS (SELECT a, b FROM e0
        |  WHERE CAST(('0x' || substr(md5(a || '|' || b), 1, 15)) AS BIGINT) % 10 = 0),
        |deg AS (SELECT node, count(*) AS degree FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY 1),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        |tc AS (SELECT node, count(*) AS triangles FROM (
        |    SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY 1)
        |SELECT deg.node, CAST(deg.degree AS BIGINT) AS degree,
        |  CAST(coalesce(tc.triangles, 0) AS BIGINT) AS triangles,
        |  CAST((2 * coalesce(tc.triangles, 0) * 1000000)
        |    // (deg.degree * (deg.degree - 1)) AS BIGINT) AS cc_ppm
        |FROM deg LEFT JOIN tc ON deg.node = tc.node
        |WHERE deg.degree >= 2
        |ORDER BY deg.node""".stripMargin
  )
}
