package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition (Seidman 1983) of an undirected edge list: the
  * maximal subgraph in which every node has degree >= k *within the
  * subgraph*. The standard "dense kernel" extractor — spam/bot rings in
  * interaction graphs, the load-bearing hub set of a near-dup cluster
  * graph, the part of a co-occurrence graph worth mining for
  * associations — and the natural next member of the graph family after
  * PageRank (influence), triangles (local density), BFS (reach), and
  * connected components / label propagation (partition).
  *
  * Beyond-reference surface: the reference syncs rows and never walks a
  * graph.
  *
  * Algorithm: iterative peel. Each round computes every surviving
  * node's degree over the surviving edge frame, drops nodes under k,
  * and restricts the edge frame to edges whose BOTH endpoints survive.
  * Peeling is monotone (the edge frame only shrinks) and idempotent at
  * the fixpoint — extra rounds cannot change a converged result, which
  * is exactly what makes a fixed-round SQL unroll a sound oracle for
  * the run-to-fixpoint engine: the gate passes `maxRounds` = the
  * oracle's unroll depth, so a graph that needs MORE rounds than the
  * oracle replays fails loudly in the engine instead of silently
  * hash-mismatching.
  *
  * Shape at scale: per round ONE hash aggregate over the surviving
  * edges (degree) + two node-keyed semi-joins (endpoint survival) — all
  * keyed on the node id, so AQE coalesces as the frame shrinks. The
  * round loop is [[FixedPoint]]'s; its signal is the surviving edge
  * count, and the peel has converged when a round removes nothing or
  * nothing is left. Real-world graphs converge in a handful of rounds
  * (each round must delete at least one node to continue, and deletions
  * cascade in waves, not one at a time).
  *
  * Determinism: pure set arithmetic on integer keys — no floats, no
  * visit order, no tie-breaks. The k-core is unique (union of all
  * subgraphs with min-degree >= k), so engine and oracle cannot
  * legitimately disagree.
  */
object KCore {

  /** Nodes of the k-core with their within-core degree, as
    * `(node, core_degree)`. Edges are undirected; duplicate and
    * self-loop rows must be cleaned by the caller (a self-loop would
    * count 2 toward its node's degree after symmetrization). Nodes
    * whose core membership fails are absent. Empty result = no k-core.
    *
    * @param maxRounds peel-round cap: the contract that a fixed-depth
    *   oracle unroll replays the same fixpoint — the run throws instead
    *   of returning an under-peeled frame.
    */
  def coreNodes(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      k: Int,
      maxRounds: Int = 30): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val sym = edges.select(col(aCol).as("s"), col(bCol).as("d"))
      .unionByName(edges.select(col(bCol).as("s"), col(aCol).as("d")))
    FixedPoint.run[Long]("KCore", sym, maxRounds,
      step = (cur, _) => {
        val keep = cur.groupBy(col("s")).agg(count(lit(1)).as("__deg"))
          .where(col("__deg") >= k)
          .select(col("s").as("node"))
        cur
          .join(keep, cur("s") === keep("node"), "left_semi")
          .join(keep, cur("d") === keep("node"), "left_semi")
      },
      signal = (cur, _) => cur.count(),
      converged = (last, edgeCount) => edgeCount == 0L || last.contains(edgeCount),
      pinInit = true,
      finish = Some(_.groupBy(col("s").as("node"))
        .agg(count(lit(1)).cast("int").as("core_degree"))))
  }
}
