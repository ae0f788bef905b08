package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.RunScope
import graft.RunScope.Pinning

/** Synchronous label propagation (LPA, Raghavan et al. 2007): community
  * detection by iterated majority vote — every node adopts the label
  * most frequent among its neighbors, ties to the SMALLEST label, for a
  * FIXED number of rounds. Fixed-round synchronous update is the
  * deterministic variant: the async/random-order forms converge faster
  * but their output depends on visit order, which would make a
  * cross-engine gate impossible. Complements the graph family: CC gives
  * reachability components, LPA gives density communities inside them.
  *
  * Scale shape: one round = one equi-join of the undirected edge list
  * against the current (node, label) frame (shuffle keyed on the
  * neighbor id) + two hash aggregates ((node, label) counts, then the
  * per-node argmax) — the alternating join/agg discipline of
  * [[ConnectedComponents]] and [[PageRank]]. The driver loop only
  * builds the plan. The edge frame is pinned once; labels pin every 10
  * rounds with the superseded pin freed.
  *
  * Determinism across engines: the argmax compares (count, label) with
  * count descending and label ascending — all-integer comparisons, no
  * floats anywhere, so the DuckDB oracle replays rounds exactly.
  */
object LabelPropagation {

  /** The per-round majority vote as ONE aggregate —
    * [[graft.expressions.MajorityLabel]] (count DESC, label ASC), exact
    * integer counts, bit-identical to the classic two-aggregate form
    * (spec-pinned both ways).
    */
  private def majorityLabel(label: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.bridge.column(
      graft.expressions.MajorityLabel(
        org.apache.spark.sql.graft.bridge.expression(label))
        .toAggregateExpression())

  /** `edges`: any (src, dst) frame with numeric node ids; direction,
    * duplicates, and self-loops canonicalized away — UNLESS
    * `assumeCanonical`, which skips the canonicalizing distinct (one
    * full shuffle of the edge frame, the largest frame in the chain)
    * when the caller already guarantees a < b, deduped, no self-loops
    * (the multi-level gates build exactly that). Labels start as the
    * node's own id. Output: (node, community) — `community` is the
    * surviving label after `iterations` rounds.
    *
    * Per-round shape (the q_g17 scheduling-floor fix): one equi-join of
    * the undirected edge frame against the |V|-row labels frame
    * (broadcast / AQE-build side), then ONE hash aggregate keyed on
    * node — [[majorityLabel]] accumulates the degree-bounded label
    * histogram map-side, so only partial histograms cross the single
    * per-round Exchange. The classic form's second Exchange (count per
    * (node,label), then argmax per node) is gone; the vote arithmetic
    * is identical.
    */
  def run(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
      assumeCanonical: Boolean = false): DataFrame = RunScope.scope("LabelPropagation.run") {
    require(iterations >= 1, "iterations must be >= 1")
    val canon =
      if (assumeCanonical) edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      else GraphStats.canonicalEdges(edges, srcCol, dstCol)
    // The per-round join builds its hash table from the |V|-row labels
    // frame (broadcast at gate scale; at cluster scale AQE picks the
    // labels side as the build side since |V| << |E|), so the
    // checkpointed edge frame is never re-shuffled per round — measured:
    // an explicit pre-repartition(nbr) added an exchange and cost 30%.
    val und = canon.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(canon.select(col("b").as("node"), col("a").as("nbr")))
      .pin()

    val labels0 = und.select(col("node")).distinct()
      .select(col("node"), col("node").as("label"))
    FixedPoint.unrolled(labels0, iterations) { labels =>
      und
        .join(labels.select(col("node").as("nbr"), col("label")), "nbr")
        .groupBy(col("node"))
        .agg(majorityLabel(col("label").cast("bigint")).as("label"))
    }.select(col("node"), col("label").as("community")).pin()
  }
}
