package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.RunScope
import graft.RunScope.Pinning

/** Single-source shortest paths (Bellman-Ford relaxation) over a
  * weighted undirected edge list — the weighted companion to
  * [[Bfs.hops]]: BFS answers "how many links away", this answers "how
  * far along the cheapest route" (supply-chain cost radius, weighted
  * influence distance through a co-occurrence graph, cheapest-path
  * blast radius where edge weights price the hop). Completes the graph
  * family's distance axis next to PageRank (influence), triangles
  * (density), k-core (kernel), LPA/CC (partition), and BFS (hops).
  *
  * Beyond-reference surface: the reference syncs rows and never walks a
  * graph.
  *
  * Algorithm: frontier-delta Bellman-Ford. Classic per-round
  * Bellman-Ford relaxes EVERY edge each round; here only edges leaving
  * nodes whose distance improved last round are relaxed (the delta —
  * identical fixpoint, since a relaxation can only produce a new best
  * distance through a node whose own distance just changed). Relaxation
  * is monotone (distances only shrink, the reached set only grows) and
  * idempotent at the fixpoint, so a fixed-depth SQL unroll of the
  * NON-delta form is a sound oracle for the run-to-fixpoint engine —
  * the [[KCore]] contract: the gate passes `maxRounds` >= the oracle's
  * unroll depth, and a graph needing more rounds fails loudly instead
  * of silently hash-mismatching.
  *
  * Shape at scale: per round ONE join of the (symmetrized,
  * pinned-once) edge frame against the improved-node frontier,
  * broadcast so the edge frame never re-shuffles after its one-time
  * materialization, then a FULL-OUTER merge of the candidate frame into
  * the distance frame that carries an `__imp` (improved) flag per row;
  * the improved-row count is the round's [[FixedPoint]] signal. Rounds
  * = length (in hops) of the longest shortest weighted path, which
  * exceeds the BFS diameter when many cheap hops beat one expensive
  * one; small-world graphs still finish in tens of rounds. Each round
  * broadcasts the improved-node frontier and nothing else, bounded by
  * the widest relaxation wave. Duplicate edge rows are tolerated (the
  * min-fold absorbs them), so no dedup pass is spent on the edge list.
  *
  * Determinism: distances are exact integer sums folded by `min` — no
  * floats, no visit order, no tie-breaks (two equal-cost routes yield
  * the same min). The shortest-distance map is unique, so engine and
  * oracle cannot legitimately disagree.
  */
object Sssp {

  /** `(node, dist)` for every node reachable from `source`, the source
    * itself at distance 0. Unreachable nodes are ABSENT — the
    * disconnected-component probe is the row count itself. Edges are
    * treated as undirected; weights must be non-negative integers
    * (LongType after cast) — Bellman-Ford tolerates zero weights, and
    * integer sums keep the result bit-exact across engines. `source`
    * need not appear in the edge list (it then maps to itself alone).
    *
    * @param maxRounds relaxation-round cap: the contract that a
    *   fixed-depth oracle unroll replays the same fixpoint — the run
    *   throws instead of returning under-relaxed distances.
    */
  def distances(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      weightCol: String,
      source: Long,
      maxRounds: Int = 30): DataFrame = RunScope.scope("Sssp.distances") {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges
      .select(col(aCol).as("s"), col(bCol).as("d"), col(weightCol).cast("long").as("w"))
      .unionByName(
        edges.select(col(bCol).as("s"), col(aCol).as("d"), col(weightCol).cast("long").as("w")))
      .pin() // probed every round (raw-row blocks: the
    // persisted-InMemoryRelation variant pays a columnar decode per
    // round-read)
    val imp = col("__cd").isNotNull && (col("dist").isNull || col("__cd") < col("dist"))
    FixedPoint.run[Long]("Sssp", Seq((source, 0L, true)).toDF("node", "dist", "__imp"),
        maxRounds,
        step = (cur, _) => {
          val f = broadcast(cur.where(col("__imp")).select(col("node"), col("dist")))
          // best candidate distance per node reachable from the frontier
          val cand = e.join(f, f("node") === e("s"))
            .select(col("d").as("node"), (col("dist") + col("w")).as("__cd"))
            .groupBy("node").agg(min("__cd").as("__cd"))
          // fold candidates that beat (or first reach) the known map,
          // flagging the improved rows: the next frontier
          cur.select(col("node"), col("dist")).join(cand, Seq("node"), "full_outer")
            .select(
              col("node"),
              when(imp, col("__cd")).otherwise(col("dist")).as("dist"),
              imp.as("__imp"))
        },
        signal = (cur, _) => cur.where(col("__imp")).count(),
        converged = (_, improved) => improved == 0L)
      .select(col("node"), col("dist"))
  }
}
