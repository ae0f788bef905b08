package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.RunScope
import graft.RunScope.Pinning

/** Weighted PageRank with uniform dangling-mass redistribution, fixed
  * iteration count — the centrality pass over relationship graphs the
  * engine's dup-cluster and trade-flow analyses produce.
  *
  * Execution shape: each iteration is one equi-join of the transition
  * frame against the current ranks (shuffle keyed on src) plus one hash
  * aggregate onto dst — the same alternating join/agg discipline as
  * [[ConnectedComponents]]. The driver loop only BUILDS the plan; no
  * action runs per iteration. Node count and dangling mass ride along as
  * broadcast one-row frames, so there is no driver collect anywhere. At
  * real scale, checkpoint ranks every ~10 iterations to cut lineage, and
  * pre-partition `edges` by src so every iteration reuses one exchange.
  */
object PageRank {

  /** `(outW, trans)`: each source's total out-weight and the
    * row-normalized transition probabilities `(src, dst, p)`.
    */
  private def transitions(e: DataFrame): (DataFrame, DataFrame) = {
    val outW = e.groupBy("src").agg(sum("weight").as("out_w"))
    val trans = e
      .join(outW, "src")
      .select(col("src"), col("dst"), (col("weight") / col("out_w")).as("p"))
    (outW, trans)
  }

  /** One power step's inputs: `(inSum, dangling)` — each node's
    * probability inflow `in_sum` under `rank`, and the one-row rank mass
    * `dm` on nodes without out-edges.
    */
  private def inflow(trans: DataFrame, outW: DataFrame, rank: DataFrame): (DataFrame, DataFrame) = {
    val inSum = trans
      .join(rank.select(col("node").as("src"), col("rank")), "src")
      .groupBy(col("dst").as("node"))
      .agg(sum(col("p") * col("rank")).as("in_sum"))
    val dangling = rank
      .join(outW.select(col("src").as("node")), Seq("node"), "left_anti")
      .agg(coalesce(sum("rank"), lit(0.0)).as("dm"))
    (inSum, dangling)
  }

  /** `edges`: (src, dst, weight). Nodes are the union of endpoints.
    * Output: node, rank (ranks sum to 1).
    *
    * The edge frame is local-checkpointed before iterating: every
    * iteration's lineage re-executes the edge derivation otherwise (a
    * 4-way join upstream runs `iterations` times — measured 3× cost on
    * the trade-graph gate). The aggregated edge frame is |V|²-bounded,
    * far smaller than its inputs.
    */
  def run(
      edges: DataFrame,
      iterations: Int,
      damping: Double = 0.85): DataFrame = RunScope.scope("PageRank.run") {
    require(iterations >= 0, "iterations must be non-negative")
    val e = edges.pin()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    val nn = nodes.agg(count(lit(1)).cast("double").as("n"))
    val (outW, trans) = transitions(e)

    val rank0 = nodes.crossJoin(broadcast(nn))
      .select(col("node"), (lit(1.0) / col("n")).as("rank"))
    val rank = FixedPoint.unrolled(rank0, iterations) { rank =>
      val (inSum, dangling) = inflow(trans, outW, rank)
      nodes
        .crossJoin(broadcast(nn))
        .join(inSum, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(
          col("node"),
          (lit(1 - damping) / col("n") +
            lit(damping) * (coalesce(col("in_sum"), lit(0.0)) + col("dm") / col("n")))
            .as("rank"))
    }
    // pinned, so the edge frame and the last intermediate free on return
    rank.pin()
  }

  /** Personalized PageRank: teleport (and dangling) mass returns to the
    * `seeds` uniformly instead of to all nodes — relevance RELATIVE TO a
    * seed set (the graph-feature primitive behind "similar entities to
    * these" retrieval), where global PageRank is seed-blind. Same fixed-
    * iteration, plan-only loop as [[run]]; the teleport vector is a
    * scan-side `isin` expression on the literal seed list (no extra join,
    * seeds are a query parameter, not data). Ranks sum to 1; nodes
    * unreachable from the seeds converge to 0.
    */
  def personalized(
      edges: DataFrame,
      seeds: Seq[Long],
      iterations: Int,
      damping: Double = 0.85): DataFrame = RunScope.scope("PageRank.personalized") {
    require(iterations >= 0, "iterations must be non-negative")
    require(seeds.nonEmpty, "need at least one seed node")
    val e = edges.pin()
    // Union the seeds into the node frame: a seed with no incident edges
    // would otherwise vanish from `nodes`, silently dropping its
    // 1/|seeds| teleport share and breaking the ranks-sum-to-1 contract.
    val __sp = edges.sparkSession
    import __sp.implicits._
    val seedNodes = seeds.toDF("node")
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .union(seedNodes)
      .distinct()
    def tele = when(col("node").isin(seeds: _*), lit(1.0 / seeds.size))
      .otherwise(lit(0.0))
    val (outW, trans) = transitions(e)

    FixedPoint.unrolled(nodes.select(col("node"), tele.as("rank")), iterations) { rank =>
      val (inSum, dangling) = inflow(trans, outW, rank)
      nodes
        .join(inSum, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(
          col("node"),
          (lit(1 - damping) * tele +
            lit(damping) * (coalesce(col("in_sum"), lit(0.0)) + col("dm") * tele))
            .as("rank"))
    }.pin()
  }
}
