package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.RunScope
import graft.RunScope.Pinning

/** DeepWalk walk-corpus generation (Perozzi–Al-Rfou–Skiena, KDD 2014
  * §4.1): `walksPerNode` fixed-length uniform random walks started from
  * every node of an undirected graph, emitted as one row per visited
  * position — the corpus a skip-gram embedding trains on, and the graph
  * analog of the text-side token pipeline (node2vec's p=q=1 case).
  *
  * Beyond-reference surface: the reference syncs rows and never walks a
  * graph; this feeds graph-structure signal into the same embedding
  * machinery the ANN/near-dup operators consume.
  *
  * Determinism contract: the "random" neighbor choice at step k of walk
  * w is `((w mod P)·2654435761 + k·40503 + seed) mod P mod deg(cur)`
  * with P = 1e9+7 — a portable arithmetic hash, overflow-proof for any
  * id range ((P−1)·2654435761 < 2^63), shuffle-order-independent, and
  * replayable by any engine with 64-bit integers (the q_g24 oracle
  * replays it verbatim). Neighbor ranks are `row_number() − 1` over
  * (node, ORDER BY nbr) — a total deterministic order.
  *
  * Shape at scale: the ranked adjacency and the degree frame are built
  * ONCE (one window family over the symmetrized edge list) and
  * checkpointed; each of the `walkLength` steps is two node-keyed hash
  * joins — state⋈degree (compute the pick) then state⋈adjacency on
  * (node, rank) (an O(1) lookup per walk, NOT a degree-sized probe —
  * power-law hubs cost the same as leaves). Walk state is |V|·γ rows,
  * superseded checkpoints freed per step (the PageRank discipline); at
  * cluster scale, bucketing the adjacency by node makes every step's
  * join co-located.
  */
object RandomWalks {

  private val P = 1000000007L

  /** The undirected graph of `edges` (self-loops dropped) as pinned
    * `adj` `(node, nbr, r)` — `r` the neighbour's 0-based rank in nbr
    * order, probed every walk step — and `deg` `(node, deg)`.
    */
  private def adjacency(edges: DataFrame, aCol: String, bCol: String): (DataFrame, DataFrame) = {
    val und = edges
      .filter(col(aCol) =!= col(bCol))
      .select(col(aCol).cast("bigint").as("node"), col(bCol).cast("bigint").as("nbr"))
      .unionByName(edges
        .filter(col(aCol) =!= col(bCol))
        .select(col(bCol).cast("bigint").as("node"), col(aCol).cast("bigint").as("nbr")))
      .distinct()
    val adj = und
      .select(col("node"), col("nbr"),
        (row_number().over(Window.partitionBy("node").orderBy("nbr")) - 1)
          .cast("bigint").as("r"))
      .pin()
    val deg = adj.groupBy("node").agg(count(lit(1)).cast("bigint").as("deg"))
      .pin()
    (adj, deg)
  }

  /** One row per visited position: `(walk_id, start, step, node)` with
    * step 0 = the start node itself, `walk_id = start·walksPerNode + g`.
    * Isolated nodes cannot occur (nodes derive from the edge list);
    * every walk therefore always has a neighbor to move to.
    */
  def deepWalk(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      walksPerNode: Int,
      walkLength: Int,
      seed: Long): DataFrame = RunScope.scope("RandomWalks.deepWalk") {
    require(walksPerNode >= 1, "need at least one walk per node")
    require(walkLength >= 1, "need at least one step")
    val (adj, deg) = adjacency(edges, aCol, bCol)

    var st = deg
      .select(col("node").as("start"),
        explode(sequence(lit(0L), lit(walksPerNode - 1L))).as("g"))
      .select(
        (col("start") * walksPerNode + col("g")).as("walk_id"),
        col("start"), col("start").as("cur"))
      .pin()
    val parts = Seq.newBuilder[DataFrame]
    parts += st.select(
      col("walk_id"), col("start"), lit(0).as("step"), col("cur").as("node"))
    // uniquely-named join sides: every step re-joins the same two build
    // frames, and df("col") disambiguation trips Spark's self-join check
    val degR = deg.select(col("node").as("__dn"), col("deg").as("__deg"))
    val adjR = adj.select(
      col("node").as("__an"), col("nbr").as("__anbr"), col("r").as("__ar"))
    var k = 1
    while (k <= walkLength) {
      val idx = pmod(
        pmod(pmod(col("walk_id"), lit(P)) * lit(2654435761L) +
          lit(k.toLong * 40503L + seed), lit(P)),
        col("__deg"))
      val picked = st.join(degR, col("cur") === col("__dn"))
        .select(col("walk_id"), col("start"), col("cur"), idx.as("idx"))
      val next = picked
        .join(adjR, col("cur") === col("__an") && col("idx") === col("__ar"))
        .select(col("walk_id"), col("start"), col("__anbr").as("cur"))
        .pin()
      // kept: every step's state frame IS an output slice (parts
      // references it); total pinned residency is the walk corpus itself,
      // (walkLength+1)·|V|·γ rows
      st = next
      parts += st.select(
        col("walk_id"), col("start"), lit(k).as("step"), col("cur").as("node"))
      k += 1
    }
    // the per-step frames are checkpointed slices of walk state — the
    // union is a metadata concat, no recompute
    parts.result().reduce(_ unionByName _)
  }

  /** node2vec biased walks (Grover–Leskovec, KDD 2016 §3.2): the
    * SECOND-ORDER variant of [[deepWalk]] — from state (prev, cur) the
    * next node x is drawn over cur's neighbors with INTEGER weights
    * `wReturn` (x = prev), `wNear` (x adjacent to prev), `wFar`
    * (otherwise) — the integer form of the 1/p, 1, 1/q bias (scale all
    * three by a common denominator; (wReturn,wNear,wFar) = (wNear·q,
    * wNear, wNear/q·…) etc.), kept integral so the cumulative-weight
    * pick `r = H(w,k) mod ΣW` is exact and engine-replayable. Step 1
    * has no predecessor and picks uniformly — exactly [[deepWalk]]'s
    * rule with the same hash, so the two operators agree on their
    * shared prefix (spec-pinned).
    *
    * Shape at scale: a second-order step is inherently Σ deg(cur) work
    * (the bias depends on (prev, cur), so every neighbor's class must
    * be resolved — the same cost the reference alias-table approach
    * pays at precompute): per step, one node-keyed expand join into the
    * ranked adjacency, one (prev, x)-keyed edge-membership join for the
    * distance-1 class, and one walk-partitioned window pair (cumsum +
    * total) selecting the unique row with cum−wt ≤ r < cum. All
    * integers; no floats anywhere in the pick.
    */
  def node2vec(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      walksPerNode: Int,
      walkLength: Int,
      seed: Long,
      wReturn: Long,
      wNear: Long,
      wFar: Long): DataFrame = RunScope.scope("RandomWalks.node2vec") {
    require(walksPerNode >= 1 && walkLength >= 1, "positive walk geometry")
    // wFar >= 1 guarantees every candidate set has positive total mass
    // (a zero-mass set would leave the modular pick undefined)
    require(wReturn >= 0 && wNear >= 0 && wFar >= 1,
      "need wReturn, wNear >= 0 and wFar >= 1")
    val (adj, deg) = adjacency(edges, aCol, bCol)
    val degR = deg.select(col("node").as("__dn"), col("deg").as("__deg"))
    val adjR = adj.select(
      col("node").as("__an"), col("nbr").as("__anbr"), col("r").as("__ar"))
    val undR = adj.select(col("node").as("__en"), col("nbr").as("__enbr"))

    var st = deg
      .select(col("node").as("start"),
        explode(sequence(lit(0L), lit(walksPerNode - 1L))).as("g"))
      .select(
        (col("start") * walksPerNode + col("g")).as("walk_id"),
        col("start"), lit(null).cast("bigint").as("prev"),
        col("start").as("cur"))
      .pin()
    val parts = Seq.newBuilder[DataFrame]
    def slice(k: Int) = st.select(
      col("walk_id"), col("start"), lit(k).as("step"), col("cur").as("node"))
    parts += slice(0)
    def hashOf(k: Int) =
      pmod(pmod(col("walk_id"), lit(P)) * lit(2654435761L) +
        lit(k.toLong * 40503L + seed), lit(P))
    var k = 1
    while (k <= walkLength) {
      val next = if (k == 1) {
        // no predecessor: uniform — deepWalk's exact rule
        st.join(degR, col("cur") === col("__dn"))
          .select(col("walk_id"), col("start"), col("cur"),
            pmod(hashOf(k), col("__deg")).as("idx"))
          .join(adjR, col("cur") === col("__an") && col("idx") === col("__ar"))
          .select(col("walk_id"), col("start"),
            col("cur").as("prev"), col("__anbr").as("cur"))
          .pin()
      } else {
        val cand = st
          .join(adjR, col("cur") === col("__an")) // expand: all neighbors x
          .join(undR,
            col("prev") === col("__en") && col("__anbr") === col("__enbr"),
            "left_outer")
          .select(
            col("walk_id"), col("start"), col("prev"), col("cur"),
            col("__anbr").as("x"), col("__ar"),
            when(col("__anbr") === col("prev"), lit(wReturn))
              .when(col("__en").isNotNull, lit(wNear))
              .otherwise(lit(wFar)).as("wt"))
        val w = Window.partitionBy("walk_id")
        val cum = sum(col("wt")).over(w.orderBy("__ar")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        val tot = sum(col("wt")).over(w)
        val picked = cand
          .select(col("walk_id"), col("start"), col("cur"), col("x"),
            col("wt"), cum.as("cum"), tot.as("tot"))
          .withColumn("r", pmod(hashOf(k), col("tot")))
          .filter(col("r") >= col("cum") - col("wt") && col("r") < col("cum"))
        picked
          .select(col("walk_id"), col("start"),
            col("cur").as("prev"), col("x").as("cur"))
          .pin()
      }
      st = next
      parts += slice(k)
      k += 1
    }
    parts.result().reduce(_ unionByName _)
  }
}
