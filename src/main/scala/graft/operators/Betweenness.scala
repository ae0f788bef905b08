package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.RunScope
import graft.RunScope.Pinning

/** Pivot-sampled betweenness centrality (Brandes 2001's dependency
  * accumulation, over the pivot subset of Brandes & Pich 2007) — the
  * path-based centrality missing between PageRank's stationary mass and
  * HITS' mutual reinforcement: which nodes sit ON the shortest paths.
  * Exact single-source Brandes is O(|V|·|E|) — a non-starter at graph
  * scale — so the standard estimator sums the dependency δ_s(v) over a
  * small deterministic pivot set s, here additionally depth-bounded
  * (paths longer than `maxDepth` contribute nothing; on the small-world
  * graphs this engine mines, diameter ≈ 3–4 makes the bound vacuous).
  *
  * Algorithm, Spark-first — ALL pivots advance together as one keyed
  * frame (never a per-pivot driver loop):
  *  - FORWARD: multi-source BFS keyed by pivot; level ℓ+1 is one
  *    join+agg (sum of predecessor path counts σ — exact BIGINTs) with
  *    an anti-join against the seen set. Each level is checkpointed and
  *    every superseded frame freed (the PageRank discipline).
  *  - BACKWARD: from the deepest level up, δ(v) = Σ over successors w
  *    (edge v–w, d(w) = d(v)+1) of σ_v·(1+δ_w)/σ_w. Each per-successor
  *    contribution is rounded to 12 decimals as a DOUBLE and cast to
  *    DECIMAL(28,12) BEFORE the per-node sum (the q_f11 EM discipline):
  *    both engines land on the identical decimal, and the sum is then
  *    exact and shuffle-order-proof, so betweenness cannot drift with
  *    partitioning or engine.
  *
  * Output: `(node, betweenness)` for EVERY node of the graph (round 6;
  * zero for nodes on no counted path), betweenness = Σ_pivots δ_s(v)
  * with v = s excluded (the classic convention).
  */
object Betweenness {

  /** The shared multi-source forward pass: canonical edge frame, its
    * undirected view, the node set, and one `(pivot, node, sigma)` frame
    * per BFS level (index = distance), all pivots advancing together.
    */
  private def forwardLevels(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      numPivots: Int,
      maxDepth: Int,
      assumeCanonical: Boolean)
      : (DataFrame, DataFrame, DataFrame, scala.collection.mutable.ArrayBuffer[DataFrame]) =
      RunScope.scope("Betweenness.forwardLevels") {
    require(numPivots >= 1, "need at least one pivot")
    require(maxDepth >= 1 && maxDepth <= 12,
      "maxDepth in [1, 12] (levels are materialized frames)")
    val canon =
      (if (assumeCanonical)
        edges.select(col(srcCol).cast("bigint").as("a"), col(dstCol).cast("bigint").as("b"))
      else edges
        .filter(col(srcCol) =!= col(dstCol))
        .select(
          least(col(srcCol), col(dstCol)).cast("bigint").as("a"),
          greatest(col(srcCol), col(dstCol)).cast("bigint").as("b"))
        .distinct())
        .pin()
    val und = canon.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(canon.select(col("b").as("node"), col("a").as("nbr")))
    val nodes = und.select(col("node")).distinct()

    // pivots: the numPivots smallest node ids — deterministic and
    // SF-invariant in count (a modular rule's pivot count drifts with
    // the key range and can go empty at small scale)
    val pivots = nodes.orderBy(col("node")).limit(numPivots)
      .select(col("node").as("pivot"))

    // FORWARD: levels(ℓ) = (pivot, node, sigma) at distance ℓ
    val level0 = pivots.select(col("pivot"), col("pivot").as("node"),
      lit(1L).as("sigma")).pin()
    val levels = scala.collection.mutable.ArrayBuffer(level0)
    var seen = level0.select(col("pivot"), col("node")).pin()
    var l = 0
    var exhausted = false
    while (l < maxDepth && !exhausted) {
      val expanded = levels(l)
        .join(und, Seq("node"))
        .groupBy(col("pivot"), col("nbr").as("node"))
        .agg(sum(col("sigma")).cast("bigint").as("sigma"))
      val next = expanded
        .join(seen, Seq("pivot", "node"), "left_anti")
        .pin()
      if (next.isEmpty) exhausted = true
      else {
        levels += next
        val s2 = seen.unionByName(next.select(col("pivot"), col("node")))
          .pin()
        RunScope.free(seen)
        seen = s2
        l += 1
      }
    }
    (canon, und, nodes, levels)
  }

  /** Pivot-sampled HARMONIC centrality (Boldi & Vigna 2014's
    * infinite-distance-proof closeness): H(v) = Σ_pivots 1/d(s, v),
    * unreachable (or beyond `maxDepth`) pairs contributing exactly 0 —
    * the reason harmonic replaces classic closeness on disconnected
    * graphs. Rides the SAME multi-source BFS as [[pivotBetweenness]];
    * each 1/ℓ term is quantized to 12 decimals as DECIMAL(28,12) before
    * the per-node sum (exact, shuffle-order-proof), output rounded to 6.
    */
  def harmonicCentrality(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      numPivots: Int,
      maxDepth: Int,
      assumeCanonical: Boolean = false): DataFrame =
      RunScope.scope("Betweenness.harmonicCentrality") {
    val (canon, _, nodes, levels) = forwardLevels(
      edges, srcCol, dstCol, numPivots, maxDepth, assumeCanonical)
    val zeroD = lit(0).cast("decimal(28,12)")
    val terms =
      if (levels.length <= 1)
        levels(0).select(col("node"), zeroD.as("__h")).limit(0)
      else levels.zipWithIndex.drop(1).map { case (f, lev) =>
        f.select(col("node"),
          round(lit(1.0) / lit(lev.toDouble), 12)
            .cast("decimal(28,12)").as("__h"))
      }.reduceLeft(_ unionByName _)
    nodes
      .join(terms.groupBy(col("node")).agg(sum(col("__h")).as("__hc")),
        Seq("node"), "left")
      .select(col("node"),
        round(coalesce(col("__hc"), zeroD).cast("double"), 6).as("harmonic"))
      .pin()
  }

  /** Per-pivot ECCENTRICITY and reach (and with them the classic
    * max-over-pivots diameter LOWER bound — Magnien–Latapy–Habib 2009's
    * cheap side of the sandwich): ecc(s) = the deepest BFS level s
    * reaches within `maxDepth`, `n_reached` the nodes within that
    * horizon (the pivot itself included). One row per pivot
    * `(pivot, eccentricity, n_reached, diameter_lb)` — the same
    * forward pass as [[pivotBetweenness]], no backward sweep at all,
    * so this is the cheapest member of the family and the one to run
    * FIRST (its horizon evidence says whether `maxDepth` truncated the
    * others). Integers only; nothing to quantize.
    */
  def pivotEccentricity(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      numPivots: Int,
      maxDepth: Int,
      assumeCanonical: Boolean = false): DataFrame =
      RunScope.scope("Betweenness.pivotEccentricity") {
    val (canon, _, _, levels) = forwardLevels(
      edges, srcCol, dstCol, numPivots, maxDepth, assumeCanonical)
    val tagged = levels.zipWithIndex.map { case (f, lev) =>
      f.select(col("pivot"), lit(lev.toLong).as("__lev"))
    }.reduceLeft(_ unionByName _)
    val perPivot = tagged.groupBy(col("pivot"))
      .agg(
        max(col("__lev")).cast("bigint").as("eccentricity"),
        count(lit(1)).cast("bigint").as("n_reached"))
    perPivot
      .crossJoin(broadcast(
        perPivot.agg(max(col("eccentricity")).cast("bigint").as("diameter_lb"))))
      .select(col("pivot"), col("eccentricity"), col("n_reached"),
        col("diameter_lb"))
      .pin()
  }

  def pivotBetweenness(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      numPivots: Int,
      maxDepth: Int,
      assumeCanonical: Boolean = false): DataFrame =
      RunScope.scope("Betweenness.pivotBetweenness") {
    val (canon, und, nodes, levels) = forwardLevels(
      edges, srcCol, dstCol, numPivots, maxDepth, assumeCanonical)
    val deepest = levels.length - 1

    // BACKWARD: δ at the deepest level is 0; walk up accumulating the
    // per-successor contributions, each quantized BEFORE the exact sum
    val zeroD = lit(0).cast("decimal(28,12)")
    var delta = levels(deepest)
      .select(col("pivot"), col("node"), col("sigma"), zeroD.as("delta"))
      .pin()
    // running Σ δ per (node) over all pivots and levels ≥ 1 — built as
    // we go so superseded per-level delta frames free
    var acc = (if (deepest >= 1) delta.select(col("node"), col("delta"))
      else delta.select(col("node"), col("delta")).limit(0))
      .pin()
    var lev = deepest - 1
    while (lev >= 0) {
      val succ = levels(lev)
        .join(und, Seq("node"))
        .join(
          delta.select(col("pivot"), col("node").as("nbr"),
            col("sigma").as("__ws"), col("delta").as("__wd")),
          Seq("pivot", "nbr"))
        .select(col("pivot"), col("node"), col("sigma"),
          round((col("sigma").cast("double") *
            (lit(1.0) + col("__wd").cast("double"))) / col("__ws").cast("double"), 12)
            .cast("decimal(28,12)").as("__c"))
        .groupBy(col("pivot"), col("node"))
        .agg(sum(col("__c")).cast("decimal(28,12)").as("delta"))
      val nextDelta = levels(lev)
        .join(succ.select(col("pivot"), col("node"), col("delta")),
          Seq("pivot", "node"), "left")
        .select(col("pivot"), col("node"), col("sigma"),
          coalesce(col("delta"), zeroD).as("delta"))
        .pin()
      RunScope.free(delta)
      delta = nextDelta
      if (lev >= 1) {
        val a2 = acc.unionByName(delta.select(col("node"), col("delta")))
          .pin()
        RunScope.free(acc)
        acc = a2
      }
      lev -= 1
    }

    nodes
      .join(acc.groupBy(col("node"))
        .agg(sum(col("delta")).as("__bc")), Seq("node"), "left")
      .select(col("node"),
        round(coalesce(col("__bc"), zeroD).cast("double"), 6).as("betweenness"))
      .pin()
  }
}
