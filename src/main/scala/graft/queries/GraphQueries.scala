package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.RunScope.Pinning
import graft.operators.PageRank

/** Graph analytics over relationship frames the engine derives —
  * complementing the connected-components family (q_d6/q_d7) with a
  * weighted centrality pass. The oracle unrolls the fixed iteration
  * count as chained CTEs, so every arithmetic step is replayed in
  * DuckDB.
  */
object GraphQueries extends QueryGroup {

  /** Oracle fragment of q_g26 and q_t30 (margin text): `tots`, then the
    * PMI of each pair count in `pc` (pairs `pr`, unigram counts `ug`), to
    * the final ordered select.
    */
  private[queries] val pmiScoresSql =
    """tots AS (
      |  SELECT (SELECT CAST(sum(c) AS BIGINT) FROM ug) AS n_tok,
      |         (SELECT CAST(count(*) AS BIGINT) FROM pr) AS n_pairs)
      |SELECT p.tok_a, p.tok_b, p.c_ab, a.c AS c_a, b.c AS c_b,
      |       round(ln((CAST(p.c_ab AS DOUBLE) * t2.n_tok * t2.n_tok)
      |                / (CAST(t2.n_pairs AS DOUBLE) * a.c * b.c)), 6) AS pmi
      |FROM pc p
      |JOIN ug a ON a.tok = p.tok_a
      |JOIN ug b ON b.tok = p.tok_b
      |CROSS JOIN tots t2
      |ORDER BY tok_a, tok_b"""

  /** The co-order graph: part pairs `a < b` bought in one order, one row
    * per shared order. `minQuantity` keeps only lineitems with at least
    * that quantity; `maxOrderParts` keeps only orders with at most that
    * many distinct parts on the `a` side.
    */
  private def coOrderPairs(
      s: SparkSession,
      dir: String,
      minQuantity: Option[Int] = None,
      maxOrderParts: Option[Int] = None,
      a: String = "a",
      b: String = "b"): DataFrame = {
    val lineitem = Tables.load(s, dir, "lineitem")
    val items = minQuantity.fold(lineitem)(q => lineitem.filter(col("l_quantity") >= q))
      .select(col("l_orderkey").as("__o"), col("l_partkey").as("__p")).distinct()
    val small = maxOrderParts.fold(items) { n =>
      items.join(
        items.groupBy(col("__o")).agg(count(lit(1)).as("__n"))
          .where(col("__n") <= n).select(col("__o")),
        Seq("__o"), "left_semi")
    }
    small.select(col("__o"), col("__p").as(a))
      .join(items.select(col("__o"), col("__p").as(b)), Seq("__o"))
      .filter(col(a) < col(b))
  }

  /** The canonical co-order edge set `(a, b)`, pinned: gates that feed
    * one edge frame to several operators.
    */
  private def coOrderEdges(s: SparkSession, dir: String, minQuantity: Option[Int] = None) =
    coOrderPairs(s, dir, minQuantity).select("a", "b").distinct().pin()

  // 3-iteration weighted PageRank over the nation-level trade graph
  // (supplier nation → customer nation, weight = lineitem count). At
  // sf0.001 only 10 of 25 nations have suppliers, so the dangling-mass
  // redistribution path is genuinely exercised, not just present.
  private[queries] val iter3 =
    """r1 AS (
      |  SELECT nd.node,
      |         (1 - 0.85) / nn.n + 0.85 * (coalesce(i.in_sum, 0) + dgl.dm / nn.n) AS rank
      |  FROM nodes nd CROSS JOIN nn
      |  LEFT JOIN (SELECT p.dst AS node, sum(p.p * r.rank) AS in_sum
      |             FROM p JOIN r0 r ON p.src = r.node GROUP BY p.dst) i
      |    ON nd.node = i.node
      |  CROSS JOIN (SELECT coalesce(sum(r.rank), 0) AS dm
      |              FROM r0 r LEFT JOIN ow ON r.node = ow.src
      |              WHERE ow.src IS NULL) dgl),
      |r2 AS (
      |  SELECT nd.node,
      |         (1 - 0.85) / nn.n + 0.85 * (coalesce(i.in_sum, 0) + dgl.dm / nn.n) AS rank
      |  FROM nodes nd CROSS JOIN nn
      |  LEFT JOIN (SELECT p.dst AS node, sum(p.p * r.rank) AS in_sum
      |             FROM p JOIN r1 r ON p.src = r.node GROUP BY p.dst) i
      |    ON nd.node = i.node
      |  CROSS JOIN (SELECT coalesce(sum(r.rank), 0) AS dm
      |              FROM r1 r LEFT JOIN ow ON r.node = ow.src
      |              WHERE ow.src IS NULL) dgl),
      |r3 AS (
      |  SELECT nd.node,
      |         (1 - 0.85) / nn.n + 0.85 * (coalesce(i.in_sum, 0) + dgl.dm / nn.n) AS rank
      |  FROM nodes nd CROSS JOIN nn
      |  LEFT JOIN (SELECT p.dst AS node, sum(p.p * r.rank) AS in_sum
      |             FROM p JOIN r2 r ON p.src = r.node GROUP BY p.dst) i
      |    ON nd.node = i.node
      |  CROSS JOIN (SELECT coalesce(sum(r.rank), 0) AS dm
      |              FROM r2 r LEFT JOIN ow ON r.node = ow.src
      |              WHERE ow.src IS NULL) dgl)""".stripMargin

  /** The nation trade graph: one edge per (supplier nation, customer
    * nation) weighted by its lineitem count.
    */
  private def tradeEdges(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "lineitem")
      .join(Tables.load(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.load(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.load(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
      .agg(count(lit(1)).cast("double").as("weight"))

  // Its oracle twin (margin text, interpolated before stripMargin): the
  // body of CTE `e`, then `nodes`.
  private val tradeGraphSql =
    """  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
      |         CAST(count(*) AS DOUBLE) AS w
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2),
      |nodes AS (SELECT DISTINCT node FROM
      |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),"""

  private val qG1 = Q(
    "q_g1_pagerank_trade",
    s"""WITH e AS (
      |$tradeGraphSql
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      |ow AS (SELECT src, sum(w) AS out_w FROM e GROUP BY 1),
      |p AS (SELECT src, dst, w / out_w AS p FROM e JOIN ow USING (src)),
      |r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn),
      |$iter3
      |SELECT n.n_name, CAST(r3.node AS INT) AS nationkey, r3.rank
      |FROM r3 JOIN nation n ON r3.node = n.n_nationkey
      |ORDER BY n.n_name""".stripMargin) { (s, dir) =>
    PageRank.run(tradeEdges(s, dir), iterations = 3, damping = 0.85)
      .join(broadcast(Tables.load(s, dir, "nation")),
        col("node") === col("n_nationkey"))
      .select(col("n_name"), col("node").cast("int").as("nationkey"), col("rank"))
      .orderBy("n_name")
  }

  // Personalized PageRank (PageRank.personalized) over the same trade
  // graph, seeded on nations {7, 19}: teleport AND dangling mass return
  // to the seed set uniformly, so ranks measure relevance RELATIVE TO
  // the seeds — the "entities similar to these" graph feature global
  // PageRank (q_g1) cannot express. The teleport vector is a scan-side
  // literal-IN expression in both engines (a query parameter, not a
  // join); the oracle unrolls the same 3 iterations with the identical
  // update expression, dangling redistribution multiplied by the
  // teleport instead of divided by n.
  private val pprIter = Seq(1, 2, 3).map { i =>
    s"""r$i AS (
       |  SELECT nd.node,
       |         (1 - 0.85) * t.t + 0.85 * (coalesce(i.in_sum, 0) + dgl.dm * t.t) AS rank
       |  FROM nodes nd JOIN tele t ON nd.node = t.node
       |  LEFT JOIN (SELECT p.dst AS node, sum(p.p * r.rank) AS in_sum
       |             FROM p JOIN r${i - 1} r ON p.src = r.node GROUP BY p.dst) i
       |    ON nd.node = i.node
       |  CROSS JOIN (SELECT coalesce(sum(r.rank), 0) AS dm
       |              FROM r${i - 1} r LEFT JOIN ow ON r.node = ow.src
       |              WHERE ow.src IS NULL) dgl)""".stripMargin
  }.mkString(",\n")

  private val qG10 = Q(
    "q_g10_personalized_pagerank",
    s"""WITH e AS (
      |$tradeGraphSql
      |ow AS (SELECT src, sum(w) AS out_w FROM e GROUP BY 1),
      |p AS (SELECT src, dst, w / out_w AS p FROM e JOIN ow USING (src)),
      |tele AS (SELECT node, CASE WHEN node IN (7, 19) THEN 0.5 ELSE 0.0 END AS t
      |         FROM nodes),
      |r0 AS (SELECT node, t AS rank FROM tele),
      |$pprIter
      |SELECT n.n_name, CAST(r3.node AS INT) AS nationkey, r3.rank
      |FROM r3 JOIN nation n ON r3.node = n.n_nationkey
      |ORDER BY n.n_name""".stripMargin) { (s, dir) =>
    PageRank.personalized(tradeEdges(s, dir), seeds = Seq(7L, 19L), iterations = 3, damping = 0.85)
      .join(broadcast(Tables.load(s, dir, "nation")),
        col("node") === col("n_nationkey"))
      .select(col("n_name"), col("node").cast("int").as("nationkey"), col("rank"))
      .orderBy("n_name")
  }

  // Market-basket co-occurrence: the 15 part pairs most often ordered
  // together (basket = order), decorated with lift over independence.
  // The engine cuts to k with TakeOrderedAndProject BEFORE the lift
  // joins (Association.coOccurrenceTopK); the oracle computes lift with
  // the identical left-to-right double expression so both engines round
  // the same way.
  private val qG2 = Q(
    "q_g2_cooccurrence",
    """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
      |freq AS (SELECT i, count(*) AS ci FROM items GROUP BY 1),
      |total AS (SELECT count(DISTINCT b) AS nb FROM items),
      |pairs AS (
      |  SELECT a.i AS p1, b.i AS p2, count(*) AS pair_count
      |  FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
      |  GROUP BY 1, 2),
      |top AS (SELECT * FROM pairs ORDER BY pair_count DESC, p1, p2 LIMIT 15)
      |SELECT p1, p2, pair_count,
      |       CAST(pair_count AS DOUBLE) * nb / f1.ci / f2.ci AS lift
      |FROM top
      |JOIN freq f1 ON top.p1 = f1.i
      |JOIN freq f2 ON top.p2 = f2.i
      |CROSS JOIN total
      |ORDER BY pair_count DESC, p1, p2""".stripMargin) { (s, dir) =>
    graft.operators.Association.coOccurrenceTopK(
      Tables.load(s, dir, "lineitem"), "l_orderkey", "l_partkey", k = 15)
  }

  // Degree-ordered triangle count + global clustering over the co-order
  // graph. The oracle counts triangles the canonical way (a<b<c 3-way
  // self-join); the engine's degree orientation must land on the SAME
  // count while bounding wedge blowup by O(E^1.5) — the hub-safety
  // property the id-ordered form lacks on skewed degree distributions.
  private val qG3 = Q(
    "q_g3_triangle_count",
    """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (SELECT DISTINCT a.p AS a, b.p AS b
      |      FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
      |deg AS (SELECT n, count(*) AS d FROM
      |          (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
      |tri AS (SELECT count(*) AS t FROM e e1
      |        JOIN e e2 ON e1.b = e2.a
      |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |base AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
      |                CAST(sum(d) / 2 AS BIGINT) AS n_edges,
      |                CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
      |         FROM deg)
      |SELECT n_nodes, n_edges, n_wedges, t AS n_triangles,
      |       3.0 * t / n_wedges AS clustering
      |FROM base CROSS JOIN tri""".stripMargin) { (s, dir) =>
    val edges = coOrderPairs(s, dir).select("a", "b")
    graft.operators.Triangles.globalStats(edges, "a", "b")
  }

  // Item-item cosine similarity (Association.itemCosineTopK): parts
  // ranked by c12/√(c1·c2) over the co-order incidence — the
  // collaborative-filtering score, popularity-normalized where q_g2's
  // raw support rewards hubs. √ is IEEE-correctly-rounded, so the
  // (cosine DESC, p1, p2) order is total in both engines; min support 2
  // drops the singleton-pair noise floor.
  private val qG4 = Q(
    "q_g4_item_cosine",
    """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
      |freq AS (SELECT i, count(*) AS ci FROM items GROUP BY 1),
      |pairs AS (
      |  SELECT a.i AS p1, b.i AS p2, count(*) AS pair_count
      |  FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
      |  GROUP BY 1, 2
      |  HAVING count(*) >= 2)
      |SELECT p1, p2, pair_count,
      |       CAST(pair_count AS DOUBLE) / sqrt(CAST(f1.ci AS DOUBLE) * f2.ci) AS cosine
      |FROM pairs
      |JOIN freq f1 ON pairs.p1 = f1.i
      |JOIN freq f2 ON pairs.p2 = f2.i
      |ORDER BY cosine DESC, p1, p2 LIMIT 20""".stripMargin) { (s, dir) =>
    graft.operators.Association.itemCosineTopK(
      Tables.load(s, dir, "lineitem"), "l_orderkey", "l_partkey",
      k = 20, minCount = 2L)
  }

  // Single-source BFS hop distances (Bfs.hops) from part 1 over the
  // co-order graph, capped at 6 hops — the k-hop-neighborhood
  // primitive. The oracle walks the same graph with a recursive CTE
  // (UNION-deduped (node, hop) pairs under the same cap) and takes the
  // min hop per node; the engine's frontier expansion must land on the
  // identical distance map.
  private val qG5 = Q(
    "q_g5_bfs_hops",
    """WITH RECURSIVE
      |items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |ce AS (SELECT DISTINCT a.p AS a, b.p AS b
      |       FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
      |e AS (SELECT a AS s, b AS d FROM ce UNION ALL SELECT b, a FROM ce),
      |walk(node, hop) AS (
      |  SELECT CAST(1 AS BIGINT) AS node, 0 AS hop
      |  UNION
      |  SELECT e.d, walk.hop + 1 FROM walk JOIN e ON walk.node = e.s
      |  WHERE walk.hop < 6)
      |SELECT node, CAST(min(hop) AS INT) AS hops
      |FROM walk GROUP BY node ORDER BY node""".stripMargin) { (s, dir) =>
    val items = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    // no pair-level distinct: Bfs tolerates duplicate edges (same pair
    // co-ordered in many orders), so the 1.8M-row dedup shuffle is skipped
    val edges = items.select(col("o"), col("p").as("a"))
      .join(items.select(col("o"), col("p").as("b")), Seq("o"))
      .filter(col("a") < col("b"))
      .select("a", "b")
    graft.operators.Bfs.hops(edges, "a", "b", source = 1L, maxHops = 6)
      .select(col("node"), col("hops").cast("int").as("hops"))
      .orderBy("node")
  }

  /** The oracle's synchronous 3-round LPA unroll over `und` (margin text):
    * `l0` gives every node its own label; round r takes each node's
    * majority neighbour label under `l{r-1}`, ties to the smaller label.
    * `l3Head` opens the last round's CTE.
    */
  private def lpaUnrollSql(l3Head: String): String =
    "l0 AS (SELECT DISTINCT node, node AS label FROM und),\n" + (1 to 3).map { r =>
      s"""c$r AS (SELECT u.node, l.label, count(*) AS c
         |       FROM und u JOIN l${r - 1} l ON u.nbr = l.node GROUP BY 1, 2),
         |${if (r == 3) l3Head else s"l$r AS"} (SELECT node, label FROM (
         |         SELECT node, label,
         |                row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
         |         FROM c$r) WHERE rn = 1)"""
    }.mkString(",\n")

  // Synchronous label-propagation communities (3 fixed rounds) over the
  // co-order part graph — density communities inside the components
  // CC (q_d6) finds. Every round is all-integer majority voting (count
  // DESC, label ASC), so the oracle replays the rounds as unrolled CTEs
  // with zero float drift; fixed-round sync update is what makes LPA
  // gateable at all (async/random-order variants are visit-order-
  // dependent).
  private val qG6 = Q(
    "q_g6_label_propagation",
    s"""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |ce AS (SELECT DISTINCT a.p AS a, b.p AS b
      |       FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
      |und AS (SELECT a AS node, b AS nbr FROM ce UNION ALL SELECT b, a FROM ce),
      |${lpaUnrollSql("l3 AS")}
      |SELECT node, label AS community FROM l3 ORDER BY node""".stripMargin) { (s, dir) =>
    val edges = coOrderPairs(s, dir).select("a", "b")
    graft.operators.LabelPropagation.run(edges, "a", "b", iterations = 3)
      .orderBy("node")
  }

  // Degree assortativity (Newman 2002) over the co-order graph: Pearson
  // correlation of endpoint degrees across both edge orientations — the
  // hub-attachment fingerprint that decides whether wedge-based
  // algorithms need degree-ordering protection. Moments aggregate, r in
  // the projection (the q_e18 ANSI discipline: a star graph has zero
  // variance on one side and bare corr would throw).
  private val qG7 = Q(
    "q_g7_degree_assortativity",
    """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |ce AS (SELECT DISTINCT a.p AS a, b.p AS b
      |       FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
      |deg AS (SELECT n, count(*) AS d FROM
      |          (SELECT a AS n FROM ce UNION ALL SELECT b FROM ce) GROUP BY 1),
      |dec AS (SELECT da.d AS da, db.d AS db FROM ce
      |        JOIN deg da ON ce.a = da.n JOIN deg db ON ce.b = db.n),
      |pairs AS (SELECT CAST(da AS DOUBLE) AS x, CAST(db AS DOUBLE) AS y FROM dec
      |          UNION ALL
      |          SELECT CAST(db AS DOUBLE), CAST(da AS DOUBLE) FROM dec),
      |m AS (SELECT CAST(count(*) / 2 AS BIGINT) AS n_edges,
      |             covar_samp(x, y) AS cov, var_samp(x) AS vx, var_samp(y) AS vy
      |      FROM pairs),
      |nn AS (SELECT count(*) AS n_nodes FROM deg)
      |SELECT n_nodes, n_edges,
      |       CASE WHEN vx > 0 AND vy > 0 THEN cov / sqrt(vx * vy) END AS assortativity
      |FROM m CROSS JOIN nn""".stripMargin) { (s, dir) =>
    val edges = coOrderPairs(s, dir).select("a", "b")
    graft.operators.GraphStats.degreeAssortativity(edges, "a", "b")
  }

  // k-core decomposition (KCore.coreNodes) at k = 6 over the SPARSE
  // co-order graph (orders with <= 3 distinct parts — the full co-order
  // graph's min degree is 42 at sf0.01, so nothing would peel and the
  // gate would not exercise the operator; the sparse cut cascades
  // through 3 shrinking rounds, removing 241 of 2000 nodes). The oracle
  // unrolls 5 peel rounds as chained CTEs — peeling is idempotent at
  // the fixpoint, so an unroll depth >= convergence replays the engine's
  // run-to-fixpoint result exactly, and the engine's maxRounds=6 cap
  // throws (rather than hash-mismatching) if the corpus ever needs more
  // rounds than the oracle replays.
  private val kcoreRounds = (1 to 5).map { r =>
    s"""k$r AS (SELECT s FROM e${r - 1} GROUP BY s HAVING count(*) >= 6),
       |e$r AS (SELECT e.s, e.d FROM e${r - 1} e
       |        JOIN k$r a ON e.s = a.s JOIN k$r b ON e.d = b.s)""".stripMargin
  }.mkString(",\n")

  private val qG8 = Q(
    "q_g8_kcore",
    s"""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |small_o AS (SELECT o FROM items GROUP BY o HAVING count(*) <= 3),
      |ce AS (SELECT DISTINCT a.p AS a, b.p AS b
      |       FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
      |       WHERE a.o IN (SELECT o FROM small_o)),
      |e0 AS (SELECT a AS s, b AS d FROM ce UNION ALL SELECT b, a FROM ce),
      |$kcoreRounds
      |SELECT s AS node, CAST(count(*) AS INT) AS core_degree
      |FROM e5 GROUP BY s ORDER BY node""".stripMargin) { (s, dir) =>
    val edges = coOrderPairs(s, dir, maxOrderParts = Some(3))
      .select("a", "b")
      .distinct()
    graft.operators.KCore.coreNodes(edges, "a", "b", k = 6, maxRounds = 6)
      .orderBy("node")
  }

  // Newman modularity of the q_g6 LPA communities (GraphStats.modularity)
  // — grades community QUALITY, which the detection gate alone doesn't:
  // q_g6 proves the engine lands on the same partition, this proves the
  // partition is meaningfully denser than a degree-preserving random
  // rewiring (and that both engines agree on HOW much). The oracle
  // replays the full 3-round LPA unroll, then rebuilds Q from pure
  // INTEGER aggregates (intra-edge count, Σ per-community degree², m);
  // the one double expression forms from those three integers at the
  // end, so the score is bit-identical — no per-community float sums
  // whose addition order could drift.
  private val qG9 = Q(
    "q_g9_modularity",
    s"""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |ce AS (SELECT DISTINCT a.p AS a, b.p AS b
      |       FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
      |und AS (SELECT a AS node, b AS nbr FROM ce UNION ALL SELECT b, a FROM ce),
      |${lpaUnrollSql("l3 AS")},
      |e2 AS (SELECT la.label AS la, lb.label AS lb FROM ce
      |       JOIN l3 la ON ce.a = la.node JOIN l3 lb ON ce.b = lb.node),
      |ea AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
      |              CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS intra_edges
      |       FROM e2),
      |deg AS (SELECT n, count(*) AS d FROM
      |          (SELECT a AS n FROM ce UNION ALL SELECT b FROM ce) GROUP BY 1),
      |cd AS (SELECT l.label, sum(d) AS dc, count(*) AS nc
      |       FROM deg JOIN l3 l ON deg.n = l.node GROUP BY 1),
      |ca AS (SELECT CAST(sum(nc) AS BIGINT) AS n_nodes,
      |              CAST(count(*) AS BIGINT) AS n_communities,
      |              CAST(sum(dc * dc) AS BIGINT) AS sum_deg_sq
      |       FROM cd)
      |SELECT n_nodes, n_edges, n_communities, intra_edges, sum_deg_sq,
      |       CAST(intra_edges AS DOUBLE) / n_edges
      |       - CAST(sum_deg_sq AS DOUBLE) / (4.0 * n_edges * n_edges) AS modularity
      |FROM ea CROSS JOIN ca""".stripMargin) { (s, dir) =>
    // The co-order self-join is the dominant subtree; pin it ONCE
    // (already canonical: a < b + distinct) and feed the SAME frame to
    // both LPA and the modularity score.
    val edges = coOrderEdges(s, dir)
    val communities = graft.operators.LabelPropagation.run(
      edges, "a", "b", iterations = 3, assumeCanonical = true)
    graft.operators.GraphStats.modularity(
      edges, "a", "b", communities, "node", "community", assumeCanonical = true)
  }

  // Weighted single-source shortest paths (Sssp.distances, fixed-round
  // Bellman-Ford) over the SPARSE co-order graph (orders with <= 2
  // distinct parts — chosen because this cut is genuinely DISCONNECTED:
  // 140 of 1,785 nodes at sf0.01 are unreachable from the min-id
  // source, so absence-of-row is itself probed, and the weighted
  // fixpoint needs 17 relaxation waves vs the full graph's 6-hop BFS
  // diameter — many cheap hops beating one expensive edge is exactly
  // what distinguishes SSSP from q_g5's BFS). Weight = co-occurrence
  // count, so path costs are exact integer sums folded by min — the
  // k-core zero-float discipline. The oracle unrolls 20 min-fold rounds
  // (>= the 17/19 needed at sf0.01/sf0.1); relaxation is idempotent at
  // the fixpoint, and the engine's maxRounds=24 cap throws (rather than
  // hash-mismatching) if the corpus ever needs more rounds than the
  // oracle replays.
  // AS MATERIALIZED on the per-round CTEs is load-bearing: each round
  // references the previous one TWICE (carry + relax), so the default
  // inlining would expand the 20-round chain into a 2^20-leaf plan.
  private val ssspRounds = (1 to 20).map { r =>
    s"""d$r AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
       |  SELECT node, dist FROM d${r - 1}
       |  UNION ALL
       |  SELECT e.d AS node, d.dist + e.w AS dist
       |  FROM d${r - 1} d JOIN e ON d.node = e.s
       |) GROUP BY node)""".stripMargin
  }.mkString(",\n")

  private val qG11 = Q(
    "q_g11_weighted_sssp",
    s"""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |small_o AS (SELECT o FROM items GROUP BY o HAVING count(*) <= 2),
      |ce AS MATERIALIZED (SELECT a.p AS a, b.p AS b, CAST(count(*) AS BIGINT) AS w
      |       FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
      |       WHERE a.o IN (SELECT o FROM small_o)
      |       GROUP BY 1, 2),
      |e AS MATERIALIZED (SELECT a AS s, b AS d, w FROM ce UNION ALL SELECT b, a, w FROM ce),
      |d0 AS (SELECT (SELECT min(a) FROM ce) AS node, CAST(0 AS BIGINT) AS dist),
      |$ssspRounds
      |SELECT node, dist FROM d20 ORDER BY node""".stripMargin) { (s, dir) =>
    val edges = coOrderPairs(s, dir, maxOrderParts = Some(2))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).cast("long").as("w"))
    // min node id as the source: a 1-value driver artifact (the literal-
    // model discipline) so the gate is scale-factor-independent.
    val src = edges.agg(min(col("a"))).head.getLong(0)
    graft.operators.Sssp.distances(edges, "a", "b", "w", src, maxRounds = 24)
      .orderBy("node")
  }

  // Louvain-style refinement (Louvain.bestMoveRefinement) over the q_g6
  // LPA communities: find the single globally best positive-gain local
  // move (exact INTEGER gains ΔQ·4m² = 4m(k_iB − k_iA) − 2d_i(D_B − D_A
  // + d_i), argmax under the total order gain DESC, node, target),
  // apply it, and RECOMPUTE modularity from the updated assignment —
  // the in-query REQUIRE pins the strict increase, grading detection
  // QUALITY improvement, not just agreement (parallel multi-move
  // Louvain is visit-order-dependent and can decrease Q — ungateable;
  // the single-argmax move is deterministic and provably improving).
  // The recompute is independent of the gain formula, so the oracle
  // confirms ΔQ twice: once predicted (gain), once measured (after −
  // before).
  /** Shared oracle prefix: the co-order edge frame + the FULL 3-round
    * LPA unroll ending at `l3` — q_g12 (refinement) and q_g15
    * (contraction) both consume the SAME detection output, so a
    * tokenization/round/argmax change edits ONE place (the qcTrainCtes
    * discipline brought to the graph gates).
    */
  private val coOrderLpaCtes: String =
    s"""items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |ce AS MATERIALIZED (SELECT DISTINCT a.p AS a, b.p AS b
      |       FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
      |und AS MATERIALIZED (SELECT a AS node, b AS nbr FROM ce UNION ALL SELECT b, a FROM ce),
      |${lpaUnrollSql("l3 AS MATERIALIZED")}""".stripMargin

  private val qG12 = Q(
    "q_g12_louvain_refine",
    s"WITH $coOrderLpaCtes,\n" +
    """m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ce),
      |deg AS MATERIALIZED (SELECT n, count(*) AS d FROM
      |        (SELECT a AS n FROM ce UNION ALL SELECT b FROM ce) GROUP BY 1),
      |cd AS MATERIALIZED (SELECT l.label, sum(d) AS dc
      |       FROM deg JOIN l3 l ON deg.n = l.node GROUP BY 1),
      |kic AS MATERIALIZED (SELECT u.node, l.label AS c, count(*) AS k
      |        FROM und u JOIN l3 l ON u.nbr = l.node GROUP BY 1, 2),
      |best AS MATERIALIZED (
      |  SELECT * FROM (
      |    SELECT kic.node, o.label AS a_label, kic.c,
      |           CAST(4 * m.m * (kic.k - coalesce(ka.k, 0))
      |                - 2 * deg.d * (cdb.dc - (cda.dc - deg.d)) AS BIGINT) AS gain
      |    FROM kic
      |    JOIN l3 o ON kic.node = o.node AND kic.c <> o.label
      |    LEFT JOIN kic ka ON ka.node = kic.node AND ka.c = o.label
      |    JOIN deg ON deg.n = kic.node
      |    JOIN cd cda ON cda.label = o.label
      |    JOIN cd cdb ON cdb.label = kic.c
      |    CROSS JOIN m)
      |  WHERE gain > 0
      |  ORDER BY gain DESC, node ASC, c ASC LIMIT 1),
      |l4 AS MATERIALIZED (
      |  SELECT l.node, CASE WHEN l.node = b.node THEN b.c ELSE l.label END AS label
      |  FROM l3 l CROSS JOIN best b),
      |eb AS (SELECT CAST(sum(CASE WHEN la.label = lb.label THEN 1 ELSE 0 END) AS BIGINT) AS intra_before
      |       FROM ce JOIN l3 la ON ce.a = la.node JOIN l3 lb ON ce.b = lb.node),
      |sb AS (SELECT CAST(sum(dc * dc) AS BIGINT) AS sum_deg_sq_before FROM cd),
      |ea AS (SELECT CAST(sum(CASE WHEN la.label = lb.label THEN 1 ELSE 0 END) AS BIGINT) AS intra_after
      |       FROM ce JOIN l4 la ON ce.a = la.node JOIN l4 lb ON ce.b = lb.node),
      |sa AS (SELECT CAST(sum(dc * dc) AS BIGINT) AS sum_deg_sq_after FROM
      |       (SELECT l.label, sum(d) AS dc FROM deg JOIN l4 l ON deg.n = l.node GROUP BY 1))
      |SELECT b.node AS moved_node, b.a_label AS from_label, b.c AS to_label,
      |       b.gain AS gain_x4m2, m.m AS n_edges,
      |       eb.intra_before, sb.sum_deg_sq_before,
      |       CAST(eb.intra_before AS DOUBLE) / m.m
      |       - CAST(sb.sum_deg_sq_before AS DOUBLE) / (4.0 * m.m * m.m) AS modularity_before,
      |       ea.intra_after, sa.sum_deg_sq_after,
      |       CAST(ea.intra_after AS DOUBLE) / m.m
      |       - CAST(sa.sum_deg_sq_after AS DOUBLE) / (4.0 * m.m * m.m) AS modularity_after
      |FROM best b CROSS JOIN m CROSS JOIN eb CROSS JOIN sb
      |CROSS JOIN ea CROSS JOIN sa""".stripMargin) { (s, dir) =>
    // One materialized co-order edge frame shared by LPA and the
    // refinement — the q_g9 discipline.
    val edges = coOrderEdges(s, dir)
    val communities = graft.operators.LabelPropagation.run(
      edges, "a", "b", iterations = 3, assumeCanonical = true)
    val out = graft.operators.Louvain.bestMoveRefinement(
      edges, "a", "b", communities, "node", "community", assumeCanonical = true)
    // Empty when the assignment is already local-move optimal (true at
    // sf0.001, where 3 LPA rounds leave no cross-community neighbor at
    // all) — then the oracle is empty too and absence-of-row is the
    // agreement. When a move exists, its strict improvement is REQUIREd.
    out.collect().foreach { row =>
      require(
        row.getAs[Double]("modularity_after") > row.getAs[Double]("modularity_before"),
        "q_g12: the applied argmax move must strictly increase modularity")
    }
    out
  }

  // Link prediction (LinkPrediction.topCandidates): common-neighbor,
  // Adamic–Adar, and neighborhood-Jaccard scores for NON-edges of the
  // high-volume co-order graph — the classic missing-edge ranker. The
  // top-100 cut and output order use the INTEGER common-neighbor count
  // under a total order, never the float AA (engine-stable cut);
  // AA/Jaccard ride as value columns. Wedge economics drive the gate's
  // graph choice: candidate work is Σ deg(w)² (the q_g3 shape but over
  // BOTH orientations and aggregated per pair), so the gate mines the
  // l_quantity ≥ 40 slice — the full co-order graph's ~180-average
  // degree puts ~half a billion wedges behind a 100-row answer, which is
  // precisely the hub-pruning/capping call the operator's scaladoc
  // prescribes at scale.
  private val qG13 = Q(
    "q_g13_link_prediction",
    """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      |               FROM lineitem WHERE l_quantity >= 40),
      |e AS (SELECT DISTINCT a.p AS a, b.p AS b
      |      FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
      |und AS (SELECT a AS node, b AS nbr FROM e UNION ALL SELECT b, a FROM e),
      |deg AS (SELECT node, count(*) AS d FROM und GROUP BY 1),
      |cand AS (
      |  SELECT p1.node AS u, p2.node AS v,
      |         CAST(count(*) AS BIGINT) AS common_neighbors,
      |         sum(1.0 / ln(dw.d)) AS aa_score
      |  FROM und p1 JOIN und p2 ON p1.nbr = p2.nbr AND p1.node < p2.node
      |  JOIN deg dw ON dw.node = p1.nbr
      |  GROUP BY 1, 2),
      |ne AS (SELECT c.* FROM cand c
      |       LEFT JOIN e ON e.a = c.u AND e.b = c.v
      |       WHERE e.a IS NULL)
      |SELECT u, v, common_neighbors, aa_score,
      |       CAST(common_neighbors AS DOUBLE) / (du.d + dv.d - common_neighbors) AS jaccard
      |FROM ne
      |JOIN deg du ON du.node = ne.u
      |JOIN deg dv ON dv.node = ne.v
      |ORDER BY common_neighbors DESC, u, v
      |LIMIT 100""".stripMargin) { (s, dir) =>
    val edges = coOrderEdges(s, dir, minQuantity = Some(40))
    val out = graft.operators.LinkPrediction
      .topCandidates(edges, "a", "b", k = 100, assumeCanonical = true)
    out.pin()
  }

  // Louvain PHASE-1 SWEEP (Louvain.sweepRefinement): the q_g12 single
  // move iterated to a bounded local optimum — up to 3 globally-best
  // positive-gain moves over the co-order graph, starting from a
  // deliberately COARSE 2-community assignment (node % 2) so improving
  // moves provably exist at every scale factor (LPA output is already
  // local-move optimal at small SFs — the q_g12 empty case — which
  // would make a sweep gate vacuous). The oracle unrolls ALL THREE
  // moves as generated CTE stages — candidate integer gains → argmax
  // LIMIT 1 → LEFT-JOIN relabel → independent integer recompute of
  // (intra, ΣD²) per state — so the engine's driver-side incremental
  // stats update (intra' = intra + k_iB − k_iA, ΣD²' via the moved
  // node's degree) is cross-checked against a from-scratch recompute
  // at EVERY move, not just the endpoint; the in-query REQUIRE pins
  // the strict Q increase per move.
  private val qG14: Q = {
    val header =
      """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |ce AS MATERIALIZED (SELECT DISTINCT a.p AS a, b.p AS b
        |       FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        |und AS MATERIALIZED (SELECT a AS node, b AS nbr FROM ce UNION ALL SELECT b, a FROM ce),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ce),
        |deg AS MATERIALIZED (SELECT n, count(*) AS d FROM
        |        (SELECT a AS n FROM ce UNION ALL SELECT b FROM ce) GROUP BY 1),
        |l0 AS MATERIALIZED (SELECT DISTINCT node, node % 2 AS label FROM und),
        |e0 AS (SELECT CAST(sum(CASE WHEN la.label = lb.label THEN 1 ELSE 0 END) AS BIGINT) AS intra
        |       FROM ce JOIN l0 la ON ce.a = la.node JOIN l0 lb ON ce.b = lb.node),
        |s0 AS (SELECT CAST(sum(dc * dc) AS BIGINT) AS sds FROM
        |       (SELECT l.label, sum(d) AS dc FROM deg JOIN l0 l ON deg.n = l.node GROUP BY 1))""".stripMargin
    val moveCtes = (1 to 3).map { r =>
      val p = r - 1
      s"""cd$r AS MATERIALIZED (SELECT l.label, sum(d) AS dc
         |       FROM deg JOIN l$p l ON deg.n = l.node GROUP BY 1),
         |kic$r AS MATERIALIZED (SELECT u.node, l.label AS c, count(*) AS k
         |        FROM und u JOIN l$p l ON u.nbr = l.node GROUP BY 1, 2),
         |best$r AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT kic$r.node, o.label AS a_label, kic$r.c,
         |           CAST(4 * m.m * (kic$r.k - coalesce(ka.k, 0))
         |                - 2 * deg.d * (cdb.dc - (cda.dc - deg.d)) AS BIGINT) AS gain
         |    FROM kic$r
         |    JOIN l$p o ON kic$r.node = o.node AND kic$r.c <> o.label
         |    LEFT JOIN kic$r ka ON ka.node = kic$r.node AND ka.c = o.label
         |    JOIN deg ON deg.n = kic$r.node
         |    JOIN cd$r cda ON cda.label = o.label
         |    JOIN cd$r cdb ON cdb.label = kic$r.c
         |    CROSS JOIN m)
         |  WHERE gain > 0
         |  ORDER BY gain DESC, node ASC, c ASC LIMIT 1),
         |l$r AS MATERIALIZED (
         |  SELECT l.node, CASE WHEN b.node IS NOT NULL THEN b.c ELSE l.label END AS label
         |  FROM l$p l LEFT JOIN best$r b ON l.node = b.node),
         |e$r AS (SELECT CAST(sum(CASE WHEN la.label = lb.label THEN 1 ELSE 0 END) AS BIGINT) AS intra
         |       FROM ce JOIN l$r la ON ce.a = la.node JOIN l$r lb ON ce.b = lb.node),
         |s$r AS (SELECT CAST(sum(dc * dc) AS BIGINT) AS sds FROM
         |       (SELECT l.label, sum(d) AS dc FROM deg JOIN l$r l ON deg.n = l.node GROUP BY 1))""".stripMargin
    }.mkString(",\n")
    val moveRows = (1 to 3).map { r =>
      val p = r - 1
      s"""SELECT CAST($r AS INT) AS move_no, b.node AS moved_node,
         |       b.a_label AS from_label, b.c AS to_label, b.gain AS gain_x4m2,
         |       m.m AS n_edges,
         |       e$p.intra AS intra_before, s$p.sds AS sum_deg_sq_before,
         |       CAST(e$p.intra AS DOUBLE) / m.m
         |       - CAST(s$p.sds AS DOUBLE) / (4.0 * m.m * m.m) AS modularity_before,
         |       e$r.intra AS intra_after, s$r.sds AS sum_deg_sq_after,
         |       CAST(e$r.intra AS DOUBLE) / m.m
         |       - CAST(s$r.sds AS DOUBLE) / (4.0 * m.m * m.m) AS modularity_after
         |FROM best$r b CROSS JOIN m CROSS JOIN e$p CROSS JOIN s$p
         |CROSS JOIN e$r CROSS JOIN s$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    Q(
      "q_g14_louvain_sweep",
      s"$header,\n$moveCtes\n$moveRows\nORDER BY move_no") { (s, dir) =>
      val edges = coOrderEdges(s, dir)
      val labels = edges.select(col("a").as("node"))
        .unionAll(edges.select(col("b").as("node")))
        .distinct()
        .select(col("node"), (col("node") % 2).as("community"))
      val out = graft.operators.Louvain.sweepRefinement(
        edges, "a", "b", labels, "node", "community",
        maxMoves = 3, assumeCanonical = true)
      // every applied move must strictly increase Q, and the chain must
      // be consistent (each move starts where the previous ended)
      val rows = out.orderBy("move_no").collect()
      require(rows.nonEmpty,
        "q_g14: the coarse node%2 assignment must admit at least one move")
      rows.foreach { r =>
        require(
          r.getAs[Double]("modularity_after") > r.getAs[Double]("modularity_before"),
          "q_g14: every applied move must strictly increase modularity")
      }
      rows.sliding(2).foreach {
        case Array(a, b) =>
          require(b.getAs[Long]("intra_before") == a.getAs[Long]("intra_after") &&
            b.getAs[Long]("sum_deg_sq_before") == a.getAs[Long]("sum_deg_sq_after"),
            "q_g14: move chain must be consistent")
        case _ => ()
      }
      out.orderBy("move_no")
    }
  }

  // Louvain PHASE-2 community contraction (Louvain.contractGraph): the
  // q_g6 LPA communities collapsed to super-nodes with integer edge
  // weights — a=b rows carry intra-community (self-loop) counts, a<b
  // rows cross-community counts; Σ weight = |E| exactly, REQUIREd
  // in-query. Completes the classic detect (q_g6) → refine (q_g12/q_g14)
  // → CONTRACT pipeline; the oracle reuses the SAME shared LPA unroll
  // q_g12 consumes (coOrderLpaCtes) and contracts with one GROUP BY.
  private val qG15 = Q(
    "q_g15_louvain_contract",
    s"WITH $coOrderLpaCtes\n" +
    """SELECT least(la.label, lb.label) AS a,
      |       greatest(la.label, lb.label) AS b,
      |       CAST(count(*) AS BIGINT) AS weight
      |FROM ce JOIN l3 la ON ce.a = la.node JOIN l3 lb ON ce.b = lb.node
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val edges = coOrderEdges(s, dir)
    val communities = graft.operators.LabelPropagation.run(
      edges, "a", "b", iterations = 3, assumeCanonical = true)
    val out = graft.operators.Louvain.contractGraph(
      edges, "a", "b", communities, "node", "community", assumeCanonical = true)
      .orderBy("a", "b")
      .pin() // pinned so the edge frame frees with the query
    val nEdges = edges.count()
    // the contraction invariant: edge mass is conserved exactly
    val wSum = out.agg(sum(col("weight"))).head().getLong(0)
    require(wSum == nEdges,
      s"q_g15: contracted weight mass $wSum must equal |E| = $nEdges")
    out
  }

  // MULTI-LEVEL Louvain (the full Blondel loop, one level up): detect
  // (3-round LPA) → contract (Louvain.contractGraph) → WEIGHTED local
  // move on the super-graph (Louvain.weightedBestMoveRefinement from
  // identity labels — the community-MERGE criterion
  // gain·4m² = 4m·w_AB − 2·d_A·d_B) → project the super-move back onto
  // every original node as a scan-side literal. Output is the final
  // (node, community) for EVERY node — never empty, so the gate grades
  // the whole chain even when detection output is already merge-optimal
  // (then projection ≡ LPA labels and the oracle agrees on that too).
  // Two in-engine REQUIREs pin the level-change invariant: the weighted
  // integer stats (m, intra, ΣD²) of the identity labeling on the
  // contracted graph must EQUAL the unweighted stats of the LPA labels
  // on the original graph (Q conserved under contraction), and an
  // applied merge must strictly increase Q.
  private val qG16 = Q(
    "q_g16_louvain_multilevel",
    s"WITH $coOrderLpaCtes,\n" +
    """cg AS MATERIALIZED (
      |  SELECT least(la.label, lb.label) AS a, greatest(la.label, lb.label) AS b,
      |         CAST(count(*) AS BIGINT) AS w
      |  FROM ce JOIN l3 la ON ce.a = la.node JOIN l3 lb ON ce.b = lb.node
      |  GROUP BY 1, 2),
      |wm AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM cg),
      |wund AS (SELECT a AS node, b AS nbr, w FROM cg WHERE a <> b
      |         UNION ALL SELECT b, a, w FROM cg WHERE a <> b),
      |wdeg AS MATERIALIZED (
      |  SELECT coalesce(u.node, s.node) AS node,
      |         CAST(coalesce(u.ud, 0) + coalesce(s.sw, 0) AS BIGINT) AS d
      |  FROM (SELECT node, sum(w) AS ud FROM wund GROUP BY 1) u
      |  FULL JOIN (SELECT a AS node, 2 * w AS sw FROM cg WHERE a = b) s
      |    ON u.node = s.node),
      |best AS MATERIALIZED (
      |  SELECT node, c FROM (
      |    SELECT u.node, u.nbr AS c,
      |           CAST(4 * wm.m * u.w - 2 * dn.d * dc.d AS BIGINT) AS gain
      |    FROM wund u
      |    JOIN wdeg dn ON dn.node = u.node
      |    JOIN wdeg dc ON dc.node = u.nbr
      |    CROSS JOIN wm)
      |  WHERE gain > 0
      |  ORDER BY gain DESC, node ASC, c ASC LIMIT 1)
      |SELECT l3.node,
      |       CAST(CASE WHEN b.node IS NOT NULL AND l3.label = b.node
      |                 THEN b.c ELSE l3.label END AS BIGINT) AS community
      |FROM l3 LEFT JOIN best b ON l3.label = b.node
      |ORDER BY l3.node""".stripMargin) { (s, dir) =>
    val edges = coOrderEdges(s, dir)
    val communities = graft.operators.LabelPropagation.run(
      edges, "a", "b", iterations = 3, assumeCanonical = true)
    val contracted = graft.operators.Louvain.contractGraph(
      edges, "a", "b", communities, "node", "community", assumeCanonical = true)
      .pin()
    val superIdn = contracted.select(col("a").as("node"))
      .unionAll(contracted.select(col("b").as("node")))
      .distinct()
      .withColumn("community", col("node"))
    // level-change invariant: identity-labeled weighted stats on the
    // contracted graph ≡ unweighted LPA-label stats on the original
    val wq = graft.operators.Louvain.weightedModularity(
      contracted, "a", "b", "weight", superIdn, "node", "community").head()
    val oq = graft.operators.GraphStats.modularity(
      edges, "a", "b", communities, "node", "community",
      assumeCanonical = true).head()
    require(
      wq.getAs[Long]("m") == oq.getAs[Long]("n_edges") &&
        wq.getAs[Long]("intra") == oq.getAs[Long]("intra_edges") &&
        wq.getAs[Long]("sum_deg_sq") == oq.getAs[Long]("sum_deg_sq"),
      s"q_g16: contraction must conserve (m, intra, sum_deg_sq) — " +
        s"weighted (${wq.getAs[Long]("m")}, ${wq.getAs[Long]("intra")}, " +
        s"${wq.getAs[Long]("sum_deg_sq")}) vs original " +
        s"(${oq.getAs[Long]("n_edges")}, ${oq.getAs[Long]("intra_edges")}, " +
        s"${oq.getAs[Long]("sum_deg_sq")})")
    val mv = graft.operators.Louvain.weightedBestMoveRefinement(
      contracted, "a", "b", "weight", superIdn, "node", "community")
      .collect() // 0 or 1 evidence rows — the move ships as literals
    mv.foreach { r =>
      require(
        r.getAs[Double]("modularity_after") > r.getAs[Double]("modularity_before"),
        "q_g16: an applied community merge must strictly increase Q")
    }
    val out = (mv.headOption match {
      case Some(r) =>
        val (from, to) =
          (r.getAs[Long]("moved_node"), r.getAs[Long]("to_label"))
        communities.select(
          col("node"),
          when(col("community") === from, lit(to))
            .otherwise(col("community")).as("community"))
      case None => communities.select(col("node"), col("community"))
    }).orderBy("node").pin()
    out
  }

  // COMMUNITY-level PageRank (multi-level analytics, step 2): the q_g15
  // contraction's super-graph fed to the SAME weighted PageRank the
  // node level runs (q_g1) — which communities are central in the
  // community-interaction graph, at |C|-node cost instead of |V|. The
  // undirected contracted graph becomes a digraph by symmetrizing the
  // cross edges; self-loops enter once with their weight (they hold
  // rank mass inside a community — exactly the semantics wanted here).
  // Output joins each community's member count; the oracle reuses the
  // shared LPA unroll + contraction + the generic 3-iteration PR CTEs.
  private val qG17 = Q(
    "q_g17_community_pagerank",
    s"WITH $coOrderLpaCtes,\n" +
    """cg AS MATERIALIZED (
      |  SELECT least(la.label, lb.label) AS a, greatest(la.label, lb.label) AS b,
      |         CAST(count(*) AS DOUBLE) AS w
      |  FROM ce JOIN l3 la ON ce.a = la.node JOIN l3 lb ON ce.b = lb.node
      |  GROUP BY 1, 2),
      |e AS (SELECT a AS src, b AS dst, w FROM cg WHERE a <> b
      |      UNION ALL SELECT b, a, w FROM cg WHERE a <> b
      |      UNION ALL SELECT a, a, w FROM cg WHERE a = b),
      |nodes AS (SELECT DISTINCT node FROM
      |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      |ow AS (SELECT src, sum(w) AS out_w FROM e GROUP BY 1),
      |p AS (SELECT src, dst, w / out_w AS p FROM e JOIN ow USING (src)),
      |r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn),
      |""".stripMargin +
    s"$iter3,\n" +
    """cs AS (SELECT label, CAST(count(*) AS BIGINT) AS n_members
      |       FROM l3 GROUP BY 1)
      |SELECT CAST(r3.node AS BIGINT) AS community, cs.n_members, r3.rank
      |FROM r3 JOIN cs ON cs.label = r3.node
      |ORDER BY community""".stripMargin) { (s, dir) =>
    val edges = coOrderEdges(s, dir)
    val communities = graft.operators.LabelPropagation.run(
      edges, "a", "b", iterations = 3, assumeCanonical = true)
    val contracted = graft.operators.Louvain.contractGraph(
      edges, "a", "b", communities, "node", "community", assumeCanonical = true)
      .pin()
    val cross = contracted.filter(col("a") =!= col("b"))
    val dig = cross
      .select(col("a").as("src"), col("b").as("dst"),
        col("weight").cast("double").as("weight"))
      .unionAll(cross.select(col("b").as("src"), col("a").as("dst"),
        col("weight").cast("double").as("weight")))
      .unionAll(contracted.filter(col("a") === col("b"))
        .select(col("a").as("src"), col("a").as("dst"),
          col("weight").cast("double").as("weight")))
    val sizes = communities.groupBy(col("community"))
      .agg(count(lit(1)).cast("bigint").as("n_members"))
    PageRank.run(dig, iterations = 3, damping = 0.85)
      .join(sizes, col("node") === col("community"))
      .select(col("community"), col("n_members"), col("rank"))
      .orderBy("community")
      .pin()
  }

  // Weighted HITS hubs/authorities (Hits.run) over the q_g1 trade graph
  // — the centrality the asymmetric flow graph needs alongside PageRank:
  // an exporter nation with no imports is a strong HUB (its hub score
  // rides on who it ships to) while its authority is exactly 0, a
  // distinction PageRank's single score cannot express. 3 full
  // authority-then-hub rounds, each side L1-normalized; the oracle
  // unrolls all 6 join+agg+normalize steps per the family convention, so
  // every float op is replayed. At sf0.001 15 of 25 nations have no
  // suppliers — the coalesce-to-0 hub path is genuinely exercised.
  private val hitsIter = Seq(1, 2, 3).map { i =>
    s"""araw$i AS (SELECT e.dst AS node, sum(e.w * h.score) AS raw
       |  FROM e JOIN h${i - 1} h ON e.src = h.node GROUP BY e.dst),
       |at$i AS (SELECT sum(raw) AS t FROM araw$i),
       |a$i AS (SELECT nd.node, coalesce(r.raw, 0) / at.t AS score
       |  FROM nodes nd LEFT JOIN araw$i r ON nd.node = r.node CROSS JOIN at$i at),
       |hraw$i AS (SELECT e.src AS node, sum(e.w * a.score) AS raw
       |  FROM e JOIN a$i a ON e.dst = a.node GROUP BY e.src),
       |ht$i AS (SELECT sum(raw) AS t FROM hraw$i),
       |h$i AS (SELECT nd.node, coalesce(r.raw, 0) / ht.t AS score
       |  FROM nodes nd LEFT JOIN hraw$i r ON nd.node = r.node CROSS JOIN ht$i ht)""".stripMargin
  }.mkString(",\n")

  private val qG18 = Q(
    "q_g18_hits",
    s"""WITH e AS (
      |$tradeGraphSql
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      |h0 AS (SELECT node, 1.0 / n AS score FROM nodes CROSS JOIN nn),
      |$hitsIter
      |SELECT n.n_name, CAST(h3.node AS INT) AS nationkey,
      |       h3.score AS hub, a3.score AS authority
      |FROM h3 JOIN a3 ON h3.node = a3.node
      |JOIN nation n ON h3.node = n.n_nationkey
      |ORDER BY n.n_name""".stripMargin) { (s, dir) =>
    graft.operators.Hits.run(tradeEdges(s, dir), iterations = 3)
      .join(broadcast(Tables.load(s, dir, "nation")),
        col("node") === col("n_nationkey"))
      .select(col("n_name"), col("node").cast("int").as("nationkey"),
        col("hub"), col("authority"))
      .orderBy("n_name")
  }

  // The FULL multi-level Louvain driver (Louvain.multilevel): the
  // operator a user actually calls, iterating the gated parts — weighted
  // local-move sweep (level 1 = unit weights on the original co-order
  // graph, the q_g14 setting) → community contraction → weighted sweep
  // on the super-graph — to a bounded fixpoint, one evidence row per
  // LEVEL with exact-integer (m, intra, ΣD²) before/after under the
  // self-loops-count-twice convention that makes contraction conserve
  // them exactly. The oracle unrolls BOTH levels move by move in the
  // weighted algebra (the q_g14 generated-CTE discipline: per-move
  // strength/community-degree frames, weighted-gain argmax LIMIT 1,
  // LEFT-JOIN relabel, from-scratch integer stats per state) plus the
  // level-1→2 contraction, so the engine's incremental driver updates,
  // its contraction, AND its level-change conservation are all
  // independently recomputed. In-engine REQUIREs pin Q monotone within
  // and across levels.
  // Shared generated-CTE vocabulary for the multi-level Louvain gates
  // (q_g19 per-level stats, q_g20 final assignments): both levels of the
  // weighted sweep unrolled move by move plus the level-1→2 contraction.
  private val mlMoves = 2
  private def mlLevelStatics(l: Int): String =
      s"""wund$l AS (SELECT a AS node, b AS nbr, w FROM cg$l WHERE a <> b
         |        UNION ALL SELECT b, a, w FROM cg$l WHERE a <> b),
         |wdeg$l AS MATERIALIZED (
         |  SELECT coalesce(u.node, s.node) AS node,
         |         CAST(coalesce(u.ud, 0) + coalesce(s.sw, 0) AS BIGINT) AS d
         |  FROM (SELECT node, sum(w) AS ud FROM wund$l GROUP BY 1) u
         |  FULL JOIN (SELECT a AS node, 2 * w AS sw FROM cg$l WHERE a = b) s
         |    ON u.node = s.node),
         |m$l AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM cg$l)""".stripMargin
  private def mlStateStats(l: Int, r: Int): String =
      s"""e${l}_$r AS (
         |  SELECT CAST(sum(CASE WHEN la.label = lb.label THEN cg.w ELSE 0 END) AS BIGINT) AS intra
         |  FROM cg$l cg JOIN l${l}_$r la ON cg.a = la.node
         |               JOIN l${l}_$r lb ON cg.b = lb.node),
         |s${l}_$r AS (
         |  SELECT CAST(sum(dc * dc) AS BIGINT) AS sds FROM
         |  (SELECT l.label, sum(d.d) AS dc
         |   FROM wdeg$l d JOIN l${l}_$r l ON d.node = l.node GROUP BY 1))""".stripMargin
  private def mlMoveCtes(l: Int, r: Int): String =
      s"""cd${l}_$r AS MATERIALIZED (
         |  SELECT l.label, sum(d.d) AS dc
         |  FROM wdeg$l d JOIN l${l}_${r - 1} l ON d.node = l.node GROUP BY 1),
         |kic${l}_$r AS MATERIALIZED (
         |  SELECT u.node, l.label AS c, sum(u.w) AS k
         |  FROM wund$l u JOIN l${l}_${r - 1} l ON u.nbr = l.node GROUP BY 1, 2),
         |best${l}_$r AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT kic.node, o.label AS a_label, kic.c,
         |           CAST(4 * m$l.m * (kic.k - coalesce(ka.k, 0))
         |                - 2 * d.d * (cdb.dc - (cda.dc - d.d)) AS BIGINT) AS gain
         |    FROM kic${l}_$r kic
         |    JOIN l${l}_${r - 1} o ON kic.node = o.node AND kic.c <> o.label
         |    LEFT JOIN kic${l}_$r ka ON ka.node = kic.node AND ka.c = o.label
         |    JOIN wdeg$l d ON d.node = kic.node
         |    JOIN cd${l}_$r cda ON cda.label = o.label
         |    JOIN cd${l}_$r cdb ON cdb.label = kic.c
         |    CROSS JOIN m$l)
         |  WHERE gain > 0
         |  ORDER BY gain DESC, node ASC, c ASC LIMIT 1),
         |l${l}_$r AS MATERIALIZED (
         |  SELECT l.node, CASE WHEN b.node IS NOT NULL THEN b.c ELSE l.label END AS label
         |  FROM l${l}_${r - 1} l LEFT JOIN best${l}_$r b ON l.node = b.node)""".stripMargin
  private def mlLevelRow(l: Int): String = {
      val applied = (1 to mlMoves)
        .map(r => s"(SELECT count(*) FROM best${l}_$r)").mkString(" + ")
      s"""SELECT CAST($l AS INT) AS level,
         |       (SELECT CAST(count(*) AS BIGINT) FROM wdeg$l) AS n_nodes,
         |       (SELECT CAST(count(*) AS BIGINT) FROM cg$l) AS n_pairs,
         |       m$l.m AS total_weight,
         |       CAST($applied AS INT) AS moves_applied,
         |       e${l}_0.intra AS intra_before, s${l}_0.sds AS sum_deg_sq_before,
         |       CAST(e${l}_0.intra AS DOUBLE) / m$l.m
         |       - CAST(s${l}_0.sds AS DOUBLE) / (4.0 * m$l.m * m$l.m) AS modularity_before,
         |       e${l}_$mlMoves.intra AS intra_after, s${l}_$mlMoves.sds AS sum_deg_sq_after,
         |       CAST(e${l}_$mlMoves.intra AS DOUBLE) / m$l.m
         |       - CAST(s${l}_$mlMoves.sds AS DOUBLE) / (4.0 * m$l.m * m$l.m) AS modularity_after
         |FROM m$l CROSS JOIN e${l}_0 CROSS JOIN s${l}_0
         |CROSS JOIN e${l}_$mlMoves CROSS JOIN s${l}_$mlMoves""".stripMargin
    }
  private def mlLevelCtes(l: Int): String =
    (Seq(mlLevelStatics(l), mlStateStats(l, 0)) ++
      (1 to mlMoves).map(r => mlMoveCtes(l, r)) :+
      mlStateStats(l, mlMoves)).mkString(",\n")
  // the q_g13 density lesson: the gates run on the l_quantity >= 40
  // slice's co-order graph — the full graph makes a 2-level × 2-move
  // unroll a 16 s gate with no extra semantics exercised
  private lazy val mlWithBody: String =
    s"""items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |       FROM lineitem WHERE l_quantity >= 40),
       |ce AS MATERIALIZED (SELECT DISTINCT a.p AS a, b.p AS b
       |       FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
       |cg1 AS MATERIALIZED (SELECT a, b, CAST(1 AS BIGINT) AS w FROM ce),
       |l1_0 AS MATERIALIZED (
       |  SELECT node, node % 2 AS label FROM
       |  (SELECT a AS node FROM ce UNION SELECT b FROM ce)),
       |${mlLevelCtes(1)},
       |cg2 AS MATERIALIZED (
       |  SELECT least(la.label, lb.label) AS a, greatest(la.label, lb.label) AS b,
       |         CAST(sum(cg.w) AS BIGINT) AS w
       |  FROM cg1 cg JOIN l1_$mlMoves la ON cg.a = la.node
       |              JOIN l1_$mlMoves lb ON cg.b = lb.node
       |  GROUP BY 1, 2),
       |l2_0 AS MATERIALIZED (
       |  SELECT node, node AS label FROM
       |  (SELECT a AS node FROM cg2 UNION SELECT b FROM cg2)),
       |${mlLevelCtes(2)}""".stripMargin

  private val qG19: Q = {
    val sql =
      s"""WITH $mlWithBody
         |${mlLevelRow(1)}
         |UNION ALL
         |${mlLevelRow(2)}
         |ORDER BY level""".stripMargin
    Q("q_g19_louvain_full", sql) { (s, dir) =>
      val edges = coOrderEdges(s, dir, minQuantity = Some(40))
      val labels = edges.select(col("a").as("node"))
        .unionAll(edges.select(col("b").as("node")))
        .distinct()
        .select(col("node"), (col("node") % 2).as("community"))
      val out = graft.operators.Louvain.multilevel(
        edges, "a", "b", labels, "node", "community",
        levels = 2, maxMovesPerLevel = mlMoves, assumeCanonical = true)
      val rows = out.orderBy("level").collect()
      require(rows.length == 2, s"q_g19: expected 2 levels, got ${rows.length}")
      require(rows(0).getAs[Int]("moves_applied") >= 1,
        "q_g19: the coarse node%2 assignment must admit a level-1 move")
      rows.foreach { r =>
        require(r.getAs[Double]("modularity_after") >=
          r.getAs[Double]("modularity_before"),
          "q_g19: Q must not decrease within a level")
      }
      // contraction conserves the integers across the level change, so
      // the FINAL Q bounds every earlier state from above
      val finalQ = rows.last.getAs[Double]("modularity_after")
      rows.foreach { r =>
        require(finalQ >= r.getAs[Double]("modularity_before") &&
          finalQ >= r.getAs[Double]("modularity_after"),
          "q_g19: final Q must be >= every level's Q")
      }
      out.orderBy("level")
    }
  }

  // The multi-level driver's PRODUCT: the final per-node assignment
  // (Louvain.multilevelWithAssignments) — the initial labels composed
  // through every level's moves and contractions, i.e. what a user
  // feeds downstream after q_g19 graded the run. The oracle reuses the
  // identical two-level unroll and projects each original node through
  // its level-1 label to that super-node's level-2 label — one map join
  // per level on both sides.
  private val qG20: Q = Q(
    "q_g20_louvain_assignments",
    s"""WITH $mlWithBody
       |SELECT n.node AS node, CAST(l2.label AS BIGINT) AS community
       |FROM l1_$mlMoves n JOIN l2_$mlMoves l2 ON n.label = l2.node
       |ORDER BY n.node""".stripMargin) { (s, dir) =>
    val edges = coOrderEdges(s, dir, minQuantity = Some(40))
    val labels = edges.select(col("a").as("node"))
      .unionAll(edges.select(col("b").as("node")))
      .distinct()
      .select(col("node"), (col("node") % 2).as("community"))
    // the oracle unrolls BOTH levels unconditionally, which is only the
    // trace the engine ran if level 1 actually moved (a 0-move level
    // stops the driver before contracting) — guard the assumption so a
    // break fails loudly instead of as an opaque hash mismatch (same
    // contract as q_g19's moves_applied require)
    val (stats, out) = graft.operators.Louvain.multilevelWithAssignments(
      edges, "a", "b", labels, "node", "community",
      levels = 2, maxMovesPerLevel = mlMoves, assumeCanonical = true)
    val l1 = stats.orderBy("level").collect()
    require(l1.nonEmpty && l1(0).getAs[Int]("moves_applied") >= 1,
      "q_g20: the oracle's two-level unroll assumes a level-1 move; " +
        "the engine stopped at a local-move-optimal level 1")
    out.orderBy("node")
  }

  // Pivot-sampled betweenness centrality (Betweenness.pivotBetweenness —
  // Brandes 2001 dependency accumulation over the Brandes–Pich 2007
  // pivot subset, depth-bounded): the PATH-based centrality next to
  // PageRank (q_g1) and HITS (q_g18). 8 smallest-id pivots, depth 3, on
  // the sliced co-order graph. Exact BIGINT path counts; every
  // per-successor dependency contribution is rounded to 12 decimals and
  // cast to DECIMAL(28,12) BEFORE the per-node sum, so the accumulation
  // is shuffle-order-proof and engine-exact. The oracle replays the
  // multi-source BFS level by level (keyed by pivot, seen-set
  // anti-joins) and the backward sweep with the identical quantization.
  // Shared generated-CTE vocabulary for the pivot-centrality gates
  // (q_g21 betweenness, q_g22 harmonic): the multi-source BFS levels —
  // 8 smallest-id pivots, depth bfsDepth — over the sliced co-order
  // graph. (`pivot` is a DuckDB reserved word; the column is `pv`.)
  private val bfsDepth = 3
  private lazy val bfsWithBody: String = {
    val fwd = (1 to bfsDepth).map { l =>
      s"""f$l AS MATERIALIZED (
         |  SELECT f.pv, u.nbr AS node, CAST(sum(f.sigma) AS BIGINT) AS sigma
         |  FROM f${l - 1} f JOIN und u ON u.node = f.node
         |  LEFT JOIN s${l - 1} s ON s.pv = f.pv AND s.node = u.nbr
         |  WHERE s.node IS NULL GROUP BY 1, 2),
         |s$l AS MATERIALIZED (
         |  SELECT * FROM s${l - 1} UNION ALL SELECT pv, node FROM f$l)""".stripMargin
    }.mkString(",\n")
    s"""items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |       FROM lineitem WHERE l_quantity >= 40),
       |ce AS MATERIALIZED (SELECT DISTINCT a.p AS a, b.p AS b
       |       FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
       |und AS MATERIALIZED (SELECT a AS node, b AS nbr FROM ce
       |       UNION ALL SELECT b, a FROM ce),
       |nodes AS MATERIALIZED (SELECT DISTINCT node FROM und),
       |f0 AS MATERIALIZED (
       |  SELECT node AS pv, node, CAST(1 AS BIGINT) AS sigma
       |  FROM (SELECT node FROM nodes ORDER BY node LIMIT 8)),
       |s0 AS (SELECT pv, node FROM f0),
       |$fwd""".stripMargin
  }

  private val qG21: Q = {
    val depth = bfsDepth
    val bwd = (depth - 1 to 0 by -1).map { l =>
      s"""d$l AS MATERIALIZED (
         |  SELECT f.pv, f.node, f.sigma,
         |         coalesce(sum(CAST(round(CAST(f.sigma AS DOUBLE)
         |             * (1 + CAST(w.delta AS DOUBLE))
         |             / CAST(w.sigma AS DOUBLE), 12) AS DECIMAL(28,12))),
         |           CAST(0 AS DECIMAL(28,12))) AS delta
         |  FROM f$l f
         |  LEFT JOIN und u ON u.node = f.node
         |  LEFT JOIN d${l + 1} w ON w.pv = f.pv AND w.node = u.nbr
         |  GROUP BY 1, 2, 3)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to depth)
      .map(l => s"SELECT node, delta FROM d$l").mkString("\n       UNION ALL ")
    val sql =
      s"""WITH $bfsWithBody,
         |d$depth AS (SELECT pv, node, sigma, CAST(0 AS DECIMAL(28,12)) AS delta FROM f$depth),
         |$bwd,
         |bc AS (SELECT node, sum(delta) AS b FROM
         |       ($unions) GROUP BY 1)
         |SELECT n.node AS node,
         |       round(CAST(coalesce(bc.b, 0) AS DOUBLE), 6) AS betweenness
         |FROM nodes n LEFT JOIN bc ON bc.node = n.node
         |ORDER BY n.node""".stripMargin
    Q("q_g21_betweenness", sql) { (s, dir) =>
      val edges = coOrderEdges(s, dir, minQuantity = Some(40))
      val out = graft.operators.Betweenness.pivotBetweenness(
        edges, "a", "b", numPivots = 8, maxDepth = depth, assumeCanonical = true)
      out.orderBy("node")
    }
  }

  // Pivot-sampled HARMONIC centrality (Betweenness.harmonicCentrality —
  // Boldi–Vigna 2014): H(v) = Σ_pivots 1/d(s,v), unreachable pairs
  // contributing exactly 0 — the closeness that survives disconnected
  // graphs. Rides the SAME multi-source BFS as q_g21 (shared CTE
  // vocabulary on both sides); each 1/ℓ term quantized to 12 decimals
  // as DECIMAL(28,12) before the exact per-node sum.
  private val qG22: Q = {
    val terms = (1 to bfsDepth).map { l =>
      s"""SELECT node, CAST(round(CAST(1 AS DOUBLE) / $l, 12) AS DECIMAL(28,12)) AS h FROM f$l"""
    }.mkString("\n       UNION ALL ")
    val sql =
      s"""WITH $bfsWithBody,
         |hc AS (SELECT node, sum(h) AS h FROM
         |       ($terms) GROUP BY 1)
         |SELECT n.node AS node,
         |       round(CAST(coalesce(hc.h, 0) AS DOUBLE), 6) AS harmonic
         |FROM nodes n LEFT JOIN hc ON hc.node = n.node
         |ORDER BY n.node""".stripMargin
    Q("q_g22_harmonic_centrality", sql) { (s, dir) =>
      val edges = coOrderEdges(s, dir, minQuantity = Some(40))
      val out = graft.operators.Betweenness.harmonicCentrality(
        edges, "a", "b", numPivots = 8, maxDepth = bfsDepth, assumeCanonical = true)
      out.orderBy("node")
    }
  }

  // Per-pivot eccentricity + the max-over-pivots diameter LOWER bound
  // (Betweenness.pivotEccentricity — Magnien–Latapy–Habib 2009's cheap
  // bound): the forward BFS alone, integers only — the horizon evidence
  // that says whether bfsDepth truncated q_g21/q_g22. Shared CTE
  // vocabulary; the oracle tags each level and takes one GROUP BY.
  private val qG23: Q = {
    val tags = (0 to bfsDepth).map { l =>
      s"SELECT pv, CAST($l AS BIGINT) AS lev FROM f$l"
    }.mkString("\n       UNION ALL ")
    val sql =
      s"""WITH $bfsWithBody,
         |t AS ($tags),
         |pp AS (SELECT pv, max(lev) AS eccentricity,
         |              CAST(count(*) AS BIGINT) AS n_reached
         |       FROM t GROUP BY 1)
         |SELECT pv, eccentricity, n_reached,
         |       (SELECT max(eccentricity) FROM pp) AS diameter_lb
         |FROM pp ORDER BY pv""".stripMargin
    Q("q_g23_eccentricity", sql) { (s, dir) =>
      val edges = coOrderEdges(s, dir, minQuantity = Some(40))
      val out = graft.operators.Betweenness.pivotEccentricity(
        edges, "a", "b", numPivots = 8, maxDepth = bfsDepth, assumeCanonical = true)
      // pivot is a DuckDB reserved word: the gate projects it as pv
      out.select(col("pivot").as("pv"), col("eccentricity"),
        col("n_reached"), col("diameter_lb")).orderBy("pv")
    }
  }

  // DeepWalk walk-corpus generation (RandomWalks.deepWalk, Perozzi et
  // al. 2014): 2 walks per node, 4 steps, on the sliced co-order graph
  // — the graph→embedding-corpus bridge. The neighbor pick is the
  // portable arithmetic hash mod degree over row_number-ranked
  // adjacency, so the oracle replays every step verbatim: four chained
  // join CTEs, each picking rank ((w%P)·2654435761 + k·40503 + 42) % P
  // % deg. An off-by-one in ranks, a wrong hash constant, or any
  // nondeterminism in the adjacency order diverges every downstream
  // step — the gate is self-amplifying.
  // Oracle fragment of the walk gates (margin text, interpolated before
  // stripMargin): the rest of `items` — the l_quantity >= 40 slice — then
  // its co-order graph `ce`/`und`, the ranked adjacency `adj` and degrees `dg`.
  private val sliceAdjacencySql =
    """       FROM lineitem WHERE l_quantity >= 40),
      |ce AS MATERIALIZED (SELECT DISTINCT a.p AS a, b.p AS b
      |       FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
      |und AS MATERIALIZED (SELECT a AS node, b AS nbr FROM ce
      |       UNION ALL SELECT b, a FROM ce),
      |adj AS MATERIALIZED (
      |  SELECT node, nbr,
      |         row_number() OVER (PARTITION BY node ORDER BY nbr) - 1 AS r
      |  FROM und),
      |dg AS MATERIALIZED (
      |  SELECT node, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY 1),"""

  // shared by q_g24 and q_g26 (walk-context PMI): the uniform-walk CTE
  // chain — adjacency, degrees, gamma=2 starts, four chained pick steps
  private def dwStepCte(k: Int): String =
      s"""s$k AS MATERIALIZED (
         |  SELECT s.walk_id, s.start, a.nbr AS cur
         |  FROM s${k - 1} s
         |  JOIN dg d ON d.node = s.cur
         |  JOIN adj a ON a.node = s.cur
         |   AND a.r = ((((s.walk_id % 1000000007) * 2654435761
         |               + $k * 40503 + 42) % 1000000007) % d.d))""".stripMargin
  private lazy val dwWithBody: String =
    s"""items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |$sliceAdjacencySql
       |s0 AS MATERIALIZED (
       |  SELECT node * 2 + g.g AS walk_id, node AS start, node AS cur
       |  FROM dg, unnest(range(2)) AS g(g)),
       |${(1 to 4).map(dwStepCte).mkString(",\n")},
       |dwsteps AS (
       |  SELECT walk_id, start, 0 AS step, cur AS node FROM s0
       |  UNION ALL SELECT walk_id, start, 1, cur FROM s1
       |  UNION ALL SELECT walk_id, start, 2, cur FROM s2
       |  UNION ALL SELECT walk_id, start, 3, cur FROM s3
       |  UNION ALL SELECT walk_id, start, 4, cur FROM s4)""".stripMargin

  private val qG24: Q = {
    val sql =
      s"""WITH $dwWithBody
         |SELECT walk_id, start, step, node FROM dwsteps
         |ORDER BY walk_id, step""".stripMargin
    Q("q_g24_deepwalk", sql) { (s, dir) =>
      val edges = coOrderEdges(s, dir, minQuantity = Some(40))
      val out = graft.operators.RandomWalks.deepWalk(
        edges, "a", "b", walksPerNode = 2, walkLength = 4, seed = 42L)
      out.orderBy("walk_id", "step")
    }
  }

  // node2vec biased walks (RandomWalks.node2vec, Grover–Leskovec 2016):
  // the SECOND-ORDER companion to q_g24 — integer bias weights
  // (return, near, far) = (4, 2, 1), cumulative-weight pick
  // r = H(w,k) mod ΣW, step 1 uniform (deepWalk's exact rule). The
  // oracle replays the expand join, the LEFT-JOIN distance-1 classing,
  // the walk-partitioned cumsum window, and the modular pick for both
  // biased steps — any divergence in weight classing or window order
  // diverges every downstream step.
  private val qG25: Q = {
    def hashSql(k: Int): String =
      s"((((walk_id % 1000000007) * 2654435761 + $k * 40503 + 7) % 1000000007))"
    def biasedStep(k: Int): String =
      s"""c$k AS (
         |  SELECT s.walk_id, s.start, s.prev, s.cur, a.nbr AS x, a.r,
         |         CASE WHEN a.nbr = s.prev THEN 4
         |              WHEN u.node IS NOT NULL THEN 2
         |              ELSE 1 END AS wt
         |  FROM s${k - 1} s
         |  JOIN adj a ON a.node = s.cur
         |  LEFT JOIN und u ON u.node = s.prev AND u.nbr = a.nbr),
         |w$k AS (
         |  SELECT walk_id, start, cur, x, wt,
         |         sum(wt) OVER (PARTITION BY walk_id ORDER BY r
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |         sum(wt) OVER (PARTITION BY walk_id) AS tot
         |  FROM c$k),
         |s$k AS MATERIALIZED (
         |  SELECT walk_id, start, cur AS prev, x AS cur
         |  FROM w$k
         |  WHERE ${hashSql(k)} % tot >= cum - wt
         |    AND ${hashSql(k)} % tot < cum)""".stripMargin
    val sql =
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |$sliceAdjacencySql
         |s0 AS (SELECT node AS walk_id, node AS start,
         |              CAST(NULL AS BIGINT) AS prev, node AS cur FROM dg),
         |s1 AS MATERIALIZED (
         |  SELECT s.walk_id, s.start, s.cur AS prev, a.nbr AS cur
         |  FROM s0 s JOIN dg d ON d.node = s.cur
         |  JOIN adj a ON a.node = s.cur
         |   AND a.r = (${hashSql(1).replace("walk_id", "s.walk_id")} % d.d)),
         |${biasedStep(2)},
         |${biasedStep(3)}
         |SELECT walk_id, start, step, node FROM (
         |  SELECT walk_id, start, 0 AS step, cur AS node FROM s0
         |  UNION ALL SELECT walk_id, start, 1, cur FROM s1
         |  UNION ALL SELECT walk_id, start, 2, cur FROM s2
         |  UNION ALL SELECT walk_id, start, 3, cur FROM s3)
         |ORDER BY walk_id, step""".stripMargin
    Q("q_g25_node2vec", sql) { (s, dir) =>
      val edges = coOrderEdges(s, dir, minQuantity = Some(40))
      val out = graft.operators.RandomWalks.node2vec(
        edges, "a", "b", walksPerNode = 1, walkLength = 3, seed = 7L,
        wReturn = 4L, wNear = 2L, wFar = 1L)
      out.orderBy("walk_id", "step")
    }
  }

  // Walk-context PMI (Cooccurrence.pmiPairsOfArrays over the q_g24 walk
  // corpus): the node-context co-occurrence statistics DeepWalk/node2vec
  // training actually consumes — window-2 skip-gram pairs over walk
  // sequences, exact counts, 6-decimal PMI. The graph and text sides
  // share ONE operator; the oracle composes the verbatim q_g24 walk
  // chain with the q_t30 pair/PMI chain, so a regression in EITHER
  // family flips this row.
  private val qG26: Q = Q(
    "q_g26_walk_context_pmi",
    s"""WITH $dwWithBody,
       |pr AS (
       |  SELECT least(CAST(a.node AS VARCHAR), CAST(b.node AS VARCHAR)) AS tok_a,
       |         greatest(CAST(a.node AS VARCHAR), CAST(b.node AS VARCHAR)) AS tok_b
       |  FROM dwsteps a JOIN dwsteps b
       |    ON a.walk_id = b.walk_id AND b.step - a.step BETWEEN 1 AND 2),
       |pc AS (
       |  SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS c_ab
       |  FROM pr GROUP BY 1, 2 HAVING count(*) >= 2),
       |ug AS (
       |  SELECT CAST(node AS VARCHAR) AS tok, CAST(count(*) AS BIGINT) AS c
       |  FROM dwsteps GROUP BY 1),
       |$pmiScoresSql""".stripMargin) { (s, dir) =>
    val edges = coOrderEdges(s, dir, minQuantity = Some(40))
    val walks = graft.operators.RandomWalks.deepWalk(
      edges, "a", "b", walksPerNode = 2, walkLength = 4, seed = 42L)
    val seqs = walks.groupBy("walk_id")
      .agg(transform(
        array_sort(collect_list(struct(col("step"), col("node")))),
        e => e.getField("node").cast("string")).as("seq"))
    graft.operators.Cooccurrence
      .pmiPairsOfArrays(seqs, "seq", window = 2, minPairCount = 2L)
      .orderBy("tok_a", "tok_b")
      .pin()
  }

  // k-TRUSS decomposition (operators.KTruss, Cohen 2008): the edge-
  // analog of q_g8's k-core and the stricter cohesion screen — every
  // surviving edge must sit in >= k-2 triangles WITHIN the survivors, so
  // hub stars (high core, no triangles) are out. Iterative support peel
  // with the degree-ordered compact-forward triangle join per round; the
  // oracle unrolls 5 generated rounds (the graph converges in <= 3
  // changing rounds at every SF — probed — and peeling is idempotent at
  // the fixpoint, the q_g8/KCore unroll-soundness contract) and the
  // engine passes maxRounds=5, whose cap throws, so a slice that
  // suddenly needed more rounds fails loudly instead of hash-drifting.
  private val qG27: Q = {
    def roundCte(r: Int): String =
      s"""d$r AS (SELECT n, count(*) AS dg FROM (SELECT a AS n FROM e$r UNION ALL SELECT b FROM e$r) GROUP BY 1),
         |o$r AS MATERIALIZED (
         |  SELECT CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.a < e.b) THEN e.a ELSE e.b END AS u,
         |         CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.a < e.b) THEN e.b ELSE e.a END AS v
         |  FROM e$r e JOIN d$r da ON e.a = da.n JOIN d$r db ON e.b = db.n),
         |t$r AS (SELECT x.u, x.v, y.v AS w FROM o$r x JOIN o$r y ON x.u = y.u AND x.v < y.v
         |        WHERE EXISTS (SELECT 1 FROM e$r z WHERE z.a = x.v AND z.b = y.v)),
         |s$r AS (SELECT a, b, count(*) AS sup FROM (
         |          SELECT least(u, v) AS a, greatest(u, v) AS b FROM t$r
         |          UNION ALL SELECT least(u, w), greatest(u, w) FROM t$r
         |          UNION ALL SELECT least(v, w), greatest(v, w) FROM t$r) GROUP BY 1, 2),
         |e${r + 1} AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e$r e JOIN s$r s ON e.a = s.a AND e.b = s.b WHERE s.sup >= 2)""".stripMargin
    val rounds = 5
    val sql =
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |       FROM lineitem WHERE l_quantity >= 40),
         |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS a, b.p AS b
         |       FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
         |${(0 until rounds).map(roundCte).mkString(",\n")}
         |SELECT e.a AS a, e.b AS b, CAST(s.sup AS BIGINT) AS support
         |FROM e$rounds e JOIN s${rounds - 1} s ON e.a = s.a AND e.b = s.b
         |ORDER BY e.a, e.b""".stripMargin
    Q("q_g27_ktruss", sql) { (s, dir) =>
      val edges = coOrderPairs(s, dir, minQuantity = Some(40), a = "x", b = "y")
        .select("x", "y").distinct()
      graft.operators.KTruss.trussEdges(edges, "x", "y", k = 4, maxRounds = 5)
        .orderBy("a", "b")
    }
  }

  override val all: Seq[Q] =
    Seq(qG1, qG2, qG3, qG4, qG5, qG6, qG7, qG8, qG9, qG10, qG11, qG12, qG13, qG14,
      qG15, qG16, qG17, qG18, qG19, qG20, qG21, qG22, qG23, qG24, qG25, qG26, qG27)
}
