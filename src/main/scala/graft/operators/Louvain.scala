package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.bridge

import graft.RunScope
import graft.RunScope.Pinning

/** Louvain-style modularity-greedy refinement (the local-move phase of
  * Blondel et al. 2008) over an existing community assignment — grades
  * and improves detection QUALITY where [[LabelPropagation]] only
  * grades agreement: LPA converges on majority labels, not on maximal
  * modularity, so a positive-gain local move almost always exists, and
  * applying the single globally best one strictly increases Q.
  *
  * Determinism is the whole design: parallel Louvain accepts many
  * simultaneous moves whose interactions can DECREASE Q and whose
  * outcome depends on visit order — ungateable. Here the candidate
  * gains are pure INTEGER arithmetic, the one applied move is the
  * global argmax under a total order (gain DESC, node ASC, target
  * ASC), and the refined score derives EXACTLY from the move's integer
  * sufficient statistics while the ORACLE recomputes it from the
  * updated assignment from scratch — the gate therefore confirms the
  * gain algebra against an independent computation, and REQUIREs the
  * strict increase.
  *
  * One core serves every entry point: a canonical WEIGHTED frame
  * `(a, b, wt)` with `a <= b` (`a = b` rows are self-loops —
  * [[contractGraph]]'s output shape). An unweighted graph enters as its
  * canonical unit-weight frame (`wt = 1`, no self-loops). The
  * exact-integer gain for moving node i from community A to B:
  *   ΔQ · 4m² = 4m·(w_iB − w_iA) − 2·d_i·(D_B − D_A + d_i)
  * with w_iC = weight from i into C (i's own self-loop excluded — it
  * moves WITH i and cancels out of ΔQ), d_i = strength (self-loops
  * twice), D_C = Σ strength over C (i counted in D_A), m = Σ weight.
  * All integers — engine and oracle cannot drift; Q itself forms from
  * integers in the projection, the [[GraphStats.modularity]] discipline.
  *
  * Shape at scale: one (node, community) hash-agg over the symmetrized
  * edge frame builds every w_iC (the candidate set is every node ×
  * its NEIGHBORING communities — degree-bounded, never |V|×|C|);
  * strength and community-strength frames are |V|- and |C|-row
  * aggregates; the argmax is a TakeOrderedAndProject(1). The canonical
  * edge frame is checkpointed ONCE and feeds every consumer (the
  * [[GraphStats]] lesson — its absence was round 9's top bench defect).
  */
object Louvain {

  /** The most moves one sweep or multilevel level may apply: the
    * `typedlit` overlay map ([[overlaid]]) is rebuilt in the plan on
    * every move, so the plan grows with the move count.
    */
  private[operators] val MoveCeiling = 64

  private val moveOrder = Seq(col("gain").desc, col("node").asc, col("c").asc)

  /** The canonical unit-weight frame `(a, b, wt = 1)` of an unweighted
    * edge list, node ids as bigint (the move loop reads the argmax row
    * back with getLong). `assumeCanonical`: the [[GraphStats.modularity]]
    * contract — the caller vouches the frame is already canonical
    * (`a < b`, distinct, no self-loops), skipping the distinct shuffle.
    */
  private def unitWeights(
      edges: DataFrame, srcCol: String, dstCol: String, assumeCanonical: Boolean): DataFrame = {
    val canon =
      if (assumeCanonical) edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      else GraphStats.canonicalEdges(edges, srcCol, dstCol)
    canon.select(col("a").cast("bigint").as("a"), col("b").cast("bigint").as("b"), lit(1L).as("wt"))
  }

  /** A caller's already-canonical weighted frame as `(a, b, wt)`, bigint. */
  private def weighted(
      wedges: DataFrame, srcCol: String, dstCol: String, weightCol: String): DataFrame =
    wedges.select(
      col(srcCol).cast("bigint").as("a"), col(dstCol).cast("bigint").as("b"),
      col(weightCol).cast("bigint").as("wt"))

  private def labelFrame(labels: DataFrame, nodeCol: String, labelCol: String): DataFrame =
    labels.select(col(nodeCol).cast("bigint").as("__n"), col(labelCol).cast("bigint").as("__l"))

  /** The symmetrized cross-edge frame `(node, nbr, wt)`; self-loops drop
    * out (they move with their node and cancel out of every gain).
    */
  private def undirected(w: DataFrame): DataFrame = {
    val cross = w.filter(col("a") =!= col("b"))
    cross.select(col("a").as("node"), col("b").as("nbr"), col("wt"))
      .unionAll(cross.select(col("b").as("node"), col("a").as("nbr"), col("wt")))
  }

  /** The strength frame `(node, d)`: Σ weight over both endpoints of
    * every row, so a self-loop counts twice — the convention that makes
    * modularity invariant under [[contractGraph]].
    */
  private def strengths(w: DataFrame): DataFrame =
    w.select(col("a").as("node"), col("wt"))
      .unionAll(w.select(col("b").as("node"), col("wt")))
      .groupBy(col("node")).agg(sum(col("wt")).cast("bigint").as("d"))

  /** The one computation of the integer modularity statistics of `lab`
    * (`__n`, `__l`) over `w` with strength frame `deg`: one row
    * `(m, intra, sum_deg_sq, n_pairs, n_nodes)` — m = Σ weight, intra =
    * Σ weight of same-label pairs (every self-loop), ΣD² over per-label
    * strength sums, n_pairs = rows of `w`, n_nodes = labelled nodes with
    * a strength. Contraction conserves (m, intra, ΣD²) exactly.
    * PRECONDITION: `lab` covers every node of `w`.
    */
  private def stats(w: DataFrame, deg: DataFrame, lab: DataFrame): DataFrame = {
    val pairs = w
      .join(lab.select(col("__n").as("a"), col("__l").as("__la")), Seq("a"))
      .join(lab.select(col("__n").as("b"), col("__l").as("__lb")), Seq("b"))
      .agg(
        sum(col("wt")).cast("bigint").as("m"),
        sum(when(col("__la") === col("__lb"), col("wt")).otherwise(0L)).cast("bigint").as("intra"),
        count(lit(1)).cast("bigint").as("n_pairs"))
    val sds = deg.join(lab, deg("node") === lab("__n"))
      .groupBy(col("__l")).agg(sum(col("d")).as("__dc"), count(lit(1)).as("__nc"))
      .agg(
        sum(col("__dc") * col("__dc")).cast("bigint").as("sum_deg_sq"),
        coalesce(sum(col("__nc")), lit(0L)).cast("bigint").as("n_nodes"))
    pairs.crossJoin(broadcast(sds))
  }

  private def modularity(m: Column, intra: Column, sds: Column): Column =
    intra.cast("double") / m - sds.cast("double") / (lit(4.0) * m * m)

  private def modularity(m: Long, intra: Long, sds: Long): Double =
    intra.toDouble / m - sds.toDouble / (4.0 * m * m)

  /** Apply the single globally best positive-gain move and report the
    * before/after evidence as ONE row: `(moved_node, from_label,
    * to_label, gain_x4m2, n_edges, intra_before, sum_deg_sq_before,
    * modularity_before, intra_after, sum_deg_sq_after,
    * modularity_after)`. Empty when no node has a neighboring
    * community with strictly positive gain (the assignment is
    * local-move optimal). This is [[weightedBestMoveRefinement]] on the
    * graph's unit-weight frame. PRECONDITION: `labels` covers every node
    * in `edges` (detection output always does).
    */
  def bestMoveRefinement(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      labels: DataFrame,
      nodeCol: String,
      labelCol: String,
      assumeCanonical: Boolean = false): DataFrame = RunScope.scope("Louvain.bestMoveRefinement") {
    val w = unitWeights(edges, srcCol, dstCol, assumeCanonical)
    bestMove(if (assumeCanonical) w else w.pin(), labelFrame(labels, nodeCol, labelCol))
  }

  /** [[bestMoveRefinement]] on a WEIGHTED canonical graph — the local
    * move step of the NEXT Louvain level, run on [[contractGraph]]'s
    * output. Same evidence-row contract and total order; `n_edges` is
    * the total weight mass m = Σ weight. With identity labels (each
    * super-node its own community) the gain reduces to 4m·w_ij −
    * 2·d_i·d_j — the community-MERGE criterion, which is exactly what
    * running this on a contracted detection output asks: should two
    * detected communities fuse? PRECONDITION: `labels` covers every
    * node of the graph.
    */
  def weightedBestMoveRefinement(
      wedges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      labels: DataFrame,
      nodeCol: String,
      labelCol: String): DataFrame = RunScope.scope("Louvain.weightedBestMoveRefinement") {
    bestMove(weighted(wedges, srcCol, dstCol, weightCol).pin(), labelFrame(labels, nodeCol, labelCol))
  }

  /** The best-move report over a materialized weighted frame. The 1-row
    * argmax runs inside the pinned output plan's job, so it needs no
    * checkpoint of its own. The after state derives exactly from the
    * move's own integers — intra' = intra + (w_iB − w_iA), ΣD²' = ΣD² −
    * D_A² − D_B² + (D_A−d)² + (D_B+d)², the update [[localMoves]]
    * require-verifies — and the oracle recomputes it from the updated
    * labels independently.
    */
  private def bestMove(w: DataFrame, labels: DataFrame): DataFrame = {
    val lab = labels.pin()
    val deg = strengths(w)
    // total weight as a bounded 1-value driver artifact → plan literal
    val m = w.agg(sum(col("wt")).cast("bigint")).head().getLong(0)
    val sa = col("sum_deg_sq") - col("dca") * col("dca") - col("dcb") * col("dcb") +
      (col("dca") - col("d")) * (col("dca") - col("d")) +
      (col("dcb") + col("d")) * (col("dcb") + col("d"))
    weightedGains(undirected(w), deg, lab, m)
      .where(col("gain") > 0)
      .orderBy(moveOrder: _*)
      .limit(1)
      .crossJoin(broadcast(stats(w, deg, lab)))
      .withColumn("__ia", (col("intra") + (col("k") - col("ka"))).cast("bigint"))
      .withColumn("__sa", sa.cast("bigint"))
      .select(
        col("node").as("moved_node"), col("a_label").as("from_label"),
        col("c").as("to_label"), col("gain").as("gain_x4m2"),
        col("m").as("n_edges"),
        col("intra").as("intra_before"),
        col("sum_deg_sq").as("sum_deg_sq_before"),
        modularity(col("m"), col("intra"), col("sum_deg_sq")).as("modularity_before"),
        col("__ia").as("intra_after"),
        col("__sa").as("sum_deg_sq_after"),
        modularity(col("m"), col("__ia"), col("__sa")).as("modularity_after"))
      .pin()
  }

  /** Current labels = the checkpointed base frame with the applied moves
    * overlaid as ONE literal-map lookup (r18): a move loop that
    * re-checkpointed the |V|-row label frame per move paid one
    * materialization job per move for a one-row change; the overlay keeps
    * the loop's only per-move action the argmax collect itself. Lookup is
    * O(|moves|) per row scan-side — moves are bounded by [[MoveCeiling]],
    * and the map is keyed by node so a node moved twice resolves to its
    * LATEST label, exactly the sequential-update semantics.
    */
  private def overlaid(lab0: DataFrame, moves: Seq[Move]): DataFrame =
    if (moves.isEmpty) lab0
    else lab0.select(
      col("__n"),
      coalesce(
        try_element_at(typedlit(moves.map(mv => mv.node -> mv.to).toMap), col("__n")),
        col("__l")).as("__l"))

  /** One applied move with the running statistics before and after it. */
  private final case class Move(
      node: Long, from: Long, to: Long, gain: Long,
      intraBefore: Long, sdsBefore: Long, intraAfter: Long, sdsAfter: Long)

  /** Rejects a move budget outside 1..[[MoveCeiling]]; callers run it
    * before their first Spark job.
    */
  private def requireMoves(maxMoves: Int): Unit =
    require(maxMoves >= 1 && maxMoves <= MoveCeiling,
      s"moves per sweep or level must be in 1..$MoveCeiling, got $maxMoves")

  /** The phase-1 move loop (Blondel et al.'s local-move phase, one move
    * at a time): read the start statistics of `lab` over `w` (strength
    * frame `deg`), then apply the globally best positive-gain move up to
    * `maxMoves` times or until the assignment is local-move optimal.
    * Each move is one degree-bounded [[weightedGains]] plan + a 1-row
    * argmax collect; (intra, ΣD²) update on the driver from the move's
    * own integers:
    *
    *   intra' = intra + (w_iB − w_iA)
    *   ΣD²'   = ΣD² − D_A² − D_B² + (D_A−d_i)² + (D_B+d_i)²
    *
    * and the final pair is REQUIREd to equal a from-scratch recompute
    * over the final labels — one self-check pass instead of one per move.
    * Returns the start statistics row ([[stats]]) and the applied moves.
    */
  private def localMoves(
      w: DataFrame, deg: DataFrame, lab: DataFrame, maxMoves: Int, what: String): (Row, Seq[Move]) = {
    val start = stats(w, deg, lab).head()
    val m = start.getAs[Long]("m")
    val und = undirected(w)
    var moves = Vector.empty[Move]
    var intra = start.getAs[Long]("intra")
    var sds = start.getAs[Long]("sum_deg_sq")
    var optimal = false
    while (moves.size < maxMoves && !optimal) {
      val best = weightedGains(und, deg, overlaid(lab, moves), m)
        .where(col("gain") > 0)
        .orderBy(moveOrder: _*)
        .limit(1)
        .collect() // bounded: one row per move — the move ships as literals
      if (best.isEmpty) optimal = true
      else {
        val r = best(0)
        val (k, ka, d) = (r.getLong(3), r.getLong(4), r.getLong(5))
        val (dca, dcb) = (r.getLong(6), r.getLong(7))
        val mv = Move(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(8), intra, sds,
          intra + (k - ka),
          sds - dca * dca - dcb * dcb + (dca - d) * (dca - d) + (dcb + d) * (dcb + d))
        moves :+= mv
        intra = mv.intraAfter
        sds = mv.sdsAfter
      }
    }
    val fin = stats(w, deg, overlaid(lab, moves)).head()
    require(fin.getAs[Long]("intra") == intra && fin.getAs[Long]("sum_deg_sq") == sds,
      s"$what: derived (intra=$intra, sds=$sds) != " +
        s"recomputed (${fin.getAs[Long]("intra")}, ${fin.getAs[Long]("sum_deg_sq")})")
    (start, moves)
  }

  /** Louvain PHASE-1 SWEEP: apply the globally best positive-gain move
    * repeatedly — up to `maxMoves` (at most [[MoveCeiling]]) times or
    * until the assignment is local-move optimal — and report one row PER
    * APPLIED MOVE: `(move_no, moved_node, from_label, to_label,
    * gain_x4m2, n_edges, intra_before, sum_deg_sq_before,
    * modularity_before, intra_after, sum_deg_sq_after,
    * modularity_after)`, modularity STRICTLY increasing down the rows
    * (each applied gain is positive and exact). Empty when the input is
    * already local-move optimal. This is [[bestMoveRefinement]] iterated
    * to Blondel et al.'s phase-1 local optimum on the [[localMoves]] loop
    * (determinism and gateability keep the one-move-at-a-time argmax;
    * parallel multi-move acceptance is visit-order-dependent and can
    * decrease Q). Per move the label state is the pinned start labels
    * with the applied moves overlaid ([[overlaid]]).
    */
  def sweepRefinement(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      labels: DataFrame,
      nodeCol: String,
      labelCol: String,
      maxMoves: Int,
      assumeCanonical: Boolean = false): DataFrame = RunScope.scope("Louvain.sweepRefinement") {
    requireMoves(maxMoves)
    val spark = edges.sparkSession
    import spark.implicits._
    val w0 = unitWeights(edges, srcCol, dstCol, assumeCanonical)
    val w = if (assumeCanonical) w0 else w0.pin()
    val (start, moves) = localMoves(w, strengths(w), labelFrame(labels, nodeCol, labelCol).pin(),
      maxMoves, "sweepRefinement drift")
    val m = start.getAs[Long]("m")
    moves.zipWithIndex.map { case (mv, i) =>
      (i + 1, mv.node, mv.from, mv.to, mv.gain, m,
        mv.intraBefore, mv.sdsBefore, modularity(m, mv.intraBefore, mv.sdsBefore),
        mv.intraAfter, mv.sdsAfter, modularity(m, mv.intraAfter, mv.sdsAfter))
    }.toDF(
      "move_no", "moved_node", "from_label", "to_label", "gain_x4m2", "n_edges",
      "intra_before", "sum_deg_sq_before", "modularity_before",
      "intra_after", "sum_deg_sq_after", "modularity_after")
  }

  /** Louvain PHASE-2 community CONTRACTION (Blondel et al. §2): collapse
    * each community to a super-node and aggregate parallel edges into
    * integer weights — the graph the next Louvain level runs on. Returns
    * `(a, b, weight)` with `a <= b`: rows with `a = b` carry the
    * community's INTRA-edge count (the contracted self-loop), `a < b`
    * rows the cross-community edge count. Σ weight = |E| exactly — the
    * invariant the gate REQUIREs — so modularity computed on the
    * contracted graph (with self-loops counted into degree twice, the
    * standard convention) equals modularity of the assignment on the
    * original graph.
    *
    * Shape at scale: two label joins decorate the edge frame (the
    * |V|-row label frame AQE-broadcasts for small graphs, degrades to a
    * shuffled join otherwise) and ONE hash aggregate keyed by the
    * community pair produces the super-graph — |C|²-bounded but
    * community-structure-sparse in practice. PRECONDITION: `labels`
    * covers every node in `edges` (detection output always does).
    */
  def contractGraph(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      labels: DataFrame,
      nodeCol: String,
      labelCol: String,
      assumeCanonical: Boolean = false): DataFrame =
    contract(unitWeights(edges, srcCol, dstCol, assumeCanonical), labelFrame(labels, nodeCol, labelCol))
      .withColumnRenamed("wt", "weight")

  /** Contract weighted `w` by `lab`: intra edges and existing self-loops
    * fold into the community self-loop.
    */
  private def contract(w: DataFrame, lab: DataFrame): DataFrame =
    w.join(lab.select(col("__n").as("a"), col("__l").as("__la")), Seq("a"))
      .join(lab.select(col("__n").as("b"), col("__l").as("__lb")), Seq("b"))
      .select(
        least(col("__la"), col("__lb")).as("a"),
        greatest(col("__la"), col("__lb")).as("b"),
        col("wt"))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("wt")).cast("bigint").as("wt"))

  /** WEIGHTED modularity of a labeling over a canonical weighted graph
    * (`a <= b`, one row per pair, `a = b` rows are self-loops —
    * [[contractGraph]]'s output shape). One row: `(m, intra,
    * sum_deg_sq, modularity)` — [[stats]] projected, under which
    * Q(contracted graph, identity labels) EQUALS Q(original graph,
    * detection labels) exactly, the invariant the multi-level gate
    * REQUIREs. All sufficient statistics are integers.
    */
  def weightedModularity(
      wedges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      labels: DataFrame,
      nodeCol: String,
      labelCol: String): DataFrame = {
    val w = weighted(wedges, srcCol, dstCol, weightCol)
    stats(w, strengths(w), labelFrame(labels, nodeCol, labelCol)).select(
      col("m"), col("intra"), col("sum_deg_sq"),
      modularity(col("m"), col("intra"), col("sum_deg_sq")).as("modularity"))
  }

  /** Move-phase candidate generation, AGGREGATE-FIRST and fused: w_iC
    * collapses the symmetrized edge frame to (node, neighboring
    * community) BEFORE any decoration, so the dcb/a_label/d joins touch
    * the degree-bounded candidate frame instead of the 2|E|-row edge
    * frame, and one [[graft.expressions.BestMoveCandidate]] aggregate
    * reduces each node's pre-summed histogram to its best candidate. The
    * r16 q_g14 A/B retired the decorate-then-aggregate form (10.9 s vs
    * 7.4 s on dense graphs — PERF.md §"louvain move-phase A/B (r16)");
    * the old two-aggregate + self-join + five-join chain is kept as
    * [[weightedGainsAll]] purely as the spec's equivalence reference.
    *
    * Output: one row per node with a candidate —
    * `(node, a_label, c, k, ka, d, dca, dcb, gain)` under the per-node
    * (gain DESC, c ASC) rule, which preserves the global
    * (gain DESC, node ASC, c ASC) argmax every consumer takes.
    */
  private[graft] def weightedGains(
      und: DataFrame, deg: DataFrame, lab: DataFrame, m: Long): DataFrame = {
    val cd = deg.join(lab, deg("node") === lab("__n"))
      .groupBy(col("__l")).agg(sum(col("d")).cast("bigint").as("dc"))
    val bm = bridge.column(
      graft.expressions.BestMoveCandidate(
        bridge.expression(col("c").cast("bigint")),
        bridge.expression(col("wt").cast("bigint")),
        bridge.expression(col("dcb")),
        bridge.expression(col("a_label").cast("bigint")),
        bridge.expression(col("d")),
        m).toAggregateExpression())
    und
      .join(lab.select(col("__n").as("nbr"), col("__l").as("c")), Seq("nbr"))
      .groupBy(col("node"), col("c"))
      .agg(sum(col("wt")).cast("bigint").as("wt"))
      .join(cd.select(col("__l").as("c"), col("dc").as("dcb")), Seq("c"))
      .join(lab.select(col("__n").as("node"), col("__l").as("a_label")), Seq("node"))
      .join(deg.select(col("node"), col("d").cast("bigint").as("d")), Seq("node"))
      .groupBy(col("node"))
      .agg(bm.as("__bm"))
      .where(col("__bm").isNotNull)
      .join(cd.select(col("__l").as("__al"), col("dc").as("dca")),
        col("__bm.a_label") === col("__al"))
      .select(
        col("node"),
        col("__bm.a_label").as("a_label"),
        col("__bm.c").as("c"),
        col("__bm.k").as("k"),
        col("__bm.ka").as("ka"),
        col("__bm.d").as("d"),
        col("dca").cast("bigint").as("dca"),
        col("__bm.dcb").as("dcb"),
        (lit(4L) * m * (col("__bm.k") - col("__bm.ka")) -
          lit(2L) * col("__bm.d") *
            (col("__bm.dcb") - (col("dca") - col("__bm.d"))))
          .cast("bigint").as("gain"))
  }

  /** The UNFUSED all-candidates frame (two hash aggregates + the k_iA
    * self-join + the five-join decoration): one row per (node,
    * neighboring community ≠ own). Retained ONLY as the equivalence
    * reference BestMoveCandidateSpec pins [[weightedGains]] against —
    * no production path calls it.
    */
  private[graft] def weightedGainsAll(
      und: DataFrame, deg: DataFrame, lab: DataFrame, m: Long): DataFrame = {
    val cd = deg.join(lab, deg("node") === lab("__n"))
      .groupBy(col("__l")).agg(sum(col("d")).as("dc"))
    val kic = und.join(lab, und("nbr") === lab("__n"))
      .groupBy(col("node"), col("__l").as("c")).agg(sum(col("wt")).as("k"))
    val own = lab.select(col("__n").as("node"), col("__l").as("a_label"))
    val kOwn = kic.join(own, Seq("node"))
      .where(col("c") === col("a_label"))
      .select(col("node"), col("k").as("ka"))
    kic.join(own, Seq("node")).where(col("c") =!= col("a_label"))
      .join(kOwn, Seq("node"), "left_outer")
      .join(deg.select(col("node"), col("d")), Seq("node"))
      .join(cd.select(col("__l").as("a_label"), col("dc").as("dca")), Seq("a_label"))
      .join(cd.select(col("__l").as("c"), col("dc").as("dcb")), Seq("c"))
      .select(
        col("node"), col("a_label"), col("c"),
        col("k").cast("bigint").as("k"),
        coalesce(col("ka"), lit(0L)).cast("bigint").as("ka"),
        col("d").cast("bigint").as("d"),
        col("dca").cast("bigint").as("dca"),
        col("dcb").cast("bigint").as("dcb"),
        (lit(4L) * m * (col("k") - coalesce(col("ka"), lit(0L))) -
          lit(2L) * col("d") * (col("dcb") - (col("dca") - col("d"))))
          .cast("bigint").as("gain"))
  }

  /** The FULL multi-level Louvain driver (Blondel et al. §2, both
    * phases iterated): per level, apply up to `maxMovesPerLevel` (at
    * most [[MoveCeiling]]) globally-best positive-gain WEIGHTED local
    * moves on the [[localMoves]] loop (level 1 runs on the unit-weight
    * frame — exactly the [[sweepRefinement]] semantics), then CONTRACT
    * communities to super-nodes with identity labels and repeat one
    * level up, until `levels` levels ran or a level is already
    * local-move optimal (its 0-move row is still emitted — the fixpoint
    * evidence). This is the operator a user actually calls;
    * q_g14/q_g15/q_g16 gate its composed parts.
    *
    * One row PER LEVEL: `(level, n_nodes, n_pairs, total_weight,
    * moves_applied, intra_before, sum_deg_sq_before, modularity_before,
    * intra_after, sum_deg_sq_after, modularity_after)` — all sufficient
    * statistics exact integers in the self-loops-count-twice strength
    * convention, under which contraction conserves (m, intra, ΣD²)
    * EXACTLY, so modularity is comparable across levels and
    * Q_before(level+1) = Q_after(level) — REQUIREd at every level
    * change, along with the per-level self-check that the driver's
    * incremental (intra, ΣD²) updates equal a from-scratch recompute.
    * Q is therefore non-decreasing down the output (each applied gain
    * is strictly positive).
    *
    * Shape at scale, per level: the strength frame derives from ONE
    * checkpointed weighted edge frame and is itself checkpointed for the
    * level; contraction is two label joins + one hash aggregate, and
    * every superseded checkpoint is freed as soon as its successor lands
    * (the PageRank iterative discipline). Level ℓ+1 runs at |C_ℓ| cost —
    * the whole point of the multi-level scheme.
    */
  def multilevel(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      labels: DataFrame,
      nodeCol: String,
      labelCol: String,
      levels: Int,
      maxMovesPerLevel: Int,
      assumeCanonical: Boolean = false): DataFrame = RunScope.scope("Louvain.multilevel") {
    multilevelWithAssignments(
      edges, srcCol, dstCol, labels, nodeCol, labelCol, levels,
      maxMovesPerLevel, assumeCanonical)._1
  }

  /** [[multilevel]]'s per-level stats AND its FINAL per-node assignment
    * from the same single run — `(stats, assignments)`. The assignment is
    * the map a user feeds downstream (the per-level rows grade the run;
    * this is its product): every ORIGINAL node with its community after
    * all levels, i.e. the initial labels composed through every level's
    * moves and contractions — one |V|-row map join per level (original
    * node → super-node → its new label), checkpointed and freed per level
    * like everything else in the driver. Assignments are `(node,
    * community)` as bigint, pinned.
    */
  def multilevelWithAssignments(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      labels: DataFrame,
      nodeCol: String,
      labelCol: String,
      levels: Int,
      maxMovesPerLevel: Int,
      assumeCanonical: Boolean = false): (DataFrame, DataFrame) = RunScope.scope("Louvain.multilevelWithAssignments") {
    require(levels >= 1, "need at least one level")
    requireMoves(maxMovesPerLevel)
    val spark = edges.sparkSession
    import spark.implicits._
    var w = unitWeights(edges, srcCol, dstCol, assumeCanonical).pin()
    var lab = labelFrame(labels, nodeCol, labelCol).pin()
    val rows = Seq.newBuilder[
      (Int, Long, Long, Long, Int, Long, Long, Double, Long, Long, Double)]
    // original node → current community, composed through the levels
    var assign: DataFrame = null
    var carried: Option[(Long, Long)] = None
    var level = 1
    var stop = false
    while (level <= levels && !stop) {
      val deg = strengths(w).pin() // static per level, read per move
      val (start, moves) = localMoves(w, deg, lab, maxMovesPerLevel, s"multilevel level $level")
      val m = start.getAs[Long]("m")
      val (intra0, sds0) = (start.getAs[Long]("intra"), start.getAs[Long]("sum_deg_sq"))
      // the level-change invariant: contraction conserved the integers
      carried.foreach { case (pi, ps) =>
        require(pi == intra0 && ps == sds0,
          s"multilevel level $level: contraction drift — carried " +
            s"(intra=$pi, sds=$ps) != recomputed ($intra0, $sds0)")
      }
      val (intra, sds) = moves.lastOption.fold((intra0, sds0))(mv => (mv.intraAfter, mv.sdsAfter))
      rows += ((level, start.getAs[Long]("n_nodes"), start.getAs[Long]("n_pairs"), m, moves.size,
        intra0, sds0, modularity(m, intra0, sds0), intra, sds, modularity(m, intra, sds)))
      RunScope.free(deg)
      if (moves.nonEmpty) {
        // materialize the level's final labels ONCE (contraction and the
        // assignment compose both read them)
        val labF = overlaid(lab, moves).pin()
        RunScope.free(lab)
        lab = labF
      }
      // compose the original-node assignment through this level's labels
      val nextAssign =
        (if (level == 1)
          lab.select(col("__n").as("node"), col("__l").as("community"))
        else assign
          .join(lab, assign("community") === lab("__n"))
          .select(assign("node"), col("__l").as("community")))
          .pin()
      if (assign != null) RunScope.free(assign)
      assign = nextAssign
      if (moves.isEmpty) stop = true
      else if (level < levels) {
        // PHASE 2: contract communities to super-nodes
        val nextW = contract(w, lab).pin()
        val nextLab = nextW.select(col("a").as("__n"))
          .unionAll(nextW.select(col("b").as("__n")))
          .distinct()
          .select(col("__n"), col("__n").as("__l"))
          .pin()
        RunScope.free(w)
        RunScope.free(lab)
        w = nextW
        lab = nextLab
        carried = Some((intra, sds))
      }
      level += 1
    }
    (rows.result().toDF(
      "level", "n_nodes", "n_pairs", "total_weight", "moves_applied",
      "intra_before", "sum_deg_sq_before", "modularity_before",
      "intra_after", "sum_deg_sq_after", "modularity_after"),
      assign)
  }
}
