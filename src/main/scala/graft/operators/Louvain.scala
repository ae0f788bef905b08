package graft.operators

import org.apache.spark.sql.DataFrame
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
  * The exact-integer gain for moving node i from community A to B:
  *   ΔQ · 4m² = 4m·(k_iB − k_iA) − 2·d_i·(D_B − D_A + d_i)
  * with k_iC = edges from i into C, d_i = degree of i, D_C = degree sum
  * of C (i counted in D_A), m = edge count. All integers — engine and
  * oracle cannot drift; Q itself forms from integers in the projection,
  * the [[GraphStats.modularity]] discipline.
  *
  * Shape at scale: one (node, community) hash-agg over the symmetrized
  * edge frame builds every k_iC (the candidate set is every node ×
  * its NEIGHBORING communities — degree-bounded, never |V|×|C|);
  * degree and community-degree frames are |V|- and |C|-row aggregates;
  * the argmax is a TakeOrderedAndProject(1); the applied move is a
  * 1-row broadcast folded into the label frame scan-side. The
  * canonical edge frame is checkpointed ONCE and feeds every consumer
  * (the [[GraphStats]] lesson — its absence was round 9's top bench
  * defect).
  */
object Louvain {

  /** Integer modularity sufficient statistics of `lab` over `canon`
    * (already-canonical a < b distinct edges): one row
    * `(m, intra, sds)` = edge count, intra-community edges,
    * Σ per-community degree².
    */
  private def qInts(canon: DataFrame, lab: DataFrame): DataFrame = {
    val edgeAgg = canon
      .join(lab.select(col("__n").as("a"), col("__l").as("__la")), Seq("a"))
      .join(lab.select(col("__n").as("b"), col("__l").as("__lb")), Seq("b"))
      .agg(
        count(lit(1)).cast("bigint").as("m"),
        sum(when(col("__la") === col("__lb"), 1L).otherwise(0L))
          .cast("bigint").as("intra"))
    val sds = canon.select(col("a").as("__n")).unionAll(canon.select(col("b").as("__n")))
      .groupBy("__n").agg(count(lit(1)).as("__d"))
      .join(lab, Seq("__n"))
      .groupBy(col("__l")).agg(sum(col("__d")).as("__dc"))
      .agg(sum(col("__dc") * col("__dc")).cast("bigint").as("sds"))
    edgeAgg.crossJoin(broadcast(sds))
  }

  /** Per-node BEST local move with its exact-integer gain over a
    * canonical edge frame and a label frame: one row per node that HAS
    * a positive-able candidate — `(node, a_label, c, k, ka, d, dca,
    * dcb, gain)`, c the node's best neighboring community under
    * (gain DESC, c ASC). Shared by [[bestMoveRefinement]] and
    * [[sweepRefinement]]; `m` arrives as a plan literal (the caller
    * holds it as a bounded driver artifact anyway). Every consumer
    * takes the global argmax under (gain DESC, node ASC, c ASC), and
    * the per-node reduction preserves exactly that row — the
    * equivalence the BestMoveCandidateSpec pins against the unfused
    * all-candidates frame.
    *
    * The unweighted case is the weighted algebra at wt = 1 with
    * count-degrees (canon is self-loop-free, so strength = degree).
    */
  private def candidateGains(canon: DataFrame, lab: DataFrame, m: Long): DataFrame = {
    val und = canon
      .select(col("a").as("node"), col("b").as("nbr"), lit(1L).as("wt"))
      .unionAll(
        canon.select(col("b").as("node"), col("a").as("nbr"), lit(1L).as("wt")))
    val deg = und.groupBy(col("node")).agg(count(lit(1)).cast("bigint").as("d"))
    weightedGains(und, deg, lab, m)
  }

  /** Apply the single globally best positive-gain move and report the
    * before/after evidence as ONE row: `(moved_node, from_label,
    * to_label, gain_x4m2, n_edges, intra_before, sum_deg_sq_before,
    * modularity_before, intra_after, sum_deg_sq_after,
    * modularity_after)`. Empty when no node has a neighboring
    * community with strictly positive gain (the assignment is
    * local-move optimal). PRECONDITION: `labels` covers every node in
    * `edges` (detection output always does).
    */
  def bestMoveRefinement(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      labels: DataFrame,
      nodeCol: String,
      labelCol: String,
      assumeCanonical: Boolean = false): DataFrame = RunScope.scope("Louvain.bestMoveRefinement") {
    // assumeCanonical: the [[GraphStats.modularity]] contract — caller
    // vouches the frame is canonical AND materialized, skipping the
    // redundant |E|-row second residency + distinct shuffle.
    val canon =
      if (assumeCanonical) edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      else GraphStats.canonicalEdges(edges, srcCol, dstCol).pin()
    val lab = labels.select(col(nodeCol).as("__n"), col(labelCol).as("__l"))
      .pin()
    // edge count as a bounded 1-value driver artifact → plan literal
    val mVal = canon.agg(count(lit(1)).cast("bigint")).head().getLong(0)
    // r18: the 1-row argmax is consumed exactly once by the output plan —
    // its former localCheckpoint was a whole extra action per gate; the
    // TakeOrderedAndProject now runs inside the single output job.
    val cand = candidateGains(canon, lab, mVal)
    // after-stats DERIVE exactly from the move's own integer sufficient
    // statistics (the sweepRefinement/mlCore update, require-verified
    // there on every path): intra' = intra + (k − k_A),
    // ΣD²' = ΣD² − D_A² − D_B² + (D_A−d)² + (D_B+d)². One O(E) stats
    // pass instead of two — the oracle recomputes the after state from
    // the updated labels independently, so the gate still confirms the
    // derivation against a from-scratch computation.
    bestMoveReport(cand, qInts(canon, lab))
  }

  /** The best positive-gain move of `cand` (gain desc, node asc, c asc)
    * reported with the before/after modularity statistics: the one-row
    * `stats` `(m, intra, sds)` plus the after state derived exactly from
    * the move's own integers.
    */
  private def bestMoveReport(cand: DataFrame, stats: DataFrame): DataFrame =
    cand.where(col("gain") > 0)
      .orderBy(col("gain").desc, col("node").asc, col("c").asc)
      .limit(1)
      .crossJoin(broadcast(stats))
      .withColumn("__ia", (col("intra") + (col("k") - col("ka"))).cast("bigint"))
      .withColumn("__sa",
        (col("sds") - col("dca") * col("dca") - col("dcb") * col("dcb") +
          (col("dca") - col("d")) * (col("dca") - col("d")) +
          (col("dcb") + col("d")) * (col("dcb") + col("d"))).cast("bigint"))
      .select(
        col("node").as("moved_node"), col("a_label").as("from_label"),
        col("c").as("to_label"), col("gain").as("gain_x4m2"),
        col("m").as("n_edges"),
        col("intra").as("intra_before"),
        col("sds").as("sum_deg_sq_before"),
        (col("intra").cast("double") / col("m") -
          col("sds").cast("double") / (lit(4.0) * col("m") * col("m")))
          .as("modularity_before"),
        col("__ia").as("intra_after"),
        col("__sa").as("sum_deg_sq_after"),
        (col("__ia").cast("double") / col("m") -
          col("__sa").cast("double") / (lit(4.0) * col("m") * col("m")))
          .as("modularity_after"))
      .pin()

  /** Current labels = the checkpointed base frame with the applied moves
    * overlaid as ONE literal-map lookup (r18): a move loop that
    * re-checkpointed the |V|-row label frame per move paid one
    * materialization job per move for a one-row change; the overlay keeps
    * the loop's only per-move action the argmax collect itself. Lookup is
    * O(|moves|) per row scan-side — moves are bounded by the gate's
    * maxMoves, and the map is keyed by node so a node moved twice
    * resolves to its LATEST label, exactly the sequential-update
    * semantics. The overlay is rebuilt per move from the driver's map, so
    * every argmax sees precisely the labels the checkpoint chain used to.
    */
  private def overlaid(lab0: DataFrame, overrides: Map[Long, Long]): DataFrame =
    if (overrides.isEmpty) lab0
    else lab0.select(
      col("__n"),
      coalesce(
        try_element_at(typedlit(overrides), col("__n")),
        col("__l")).as("__l"))

  /** Louvain PHASE-1 SWEEP: apply the globally best positive-gain move
    * repeatedly — up to `maxMoves` times or until the assignment is
    * local-move optimal — and report one row PER APPLIED MOVE:
    * `(move_no, moved_node, from_label, to_label, gain_x4m2, n_edges,
    * intra_before, sum_deg_sq_before, modularity_before, intra_after,
    * sum_deg_sq_after, modularity_after)`, modularity STRICTLY
    * increasing down the rows (each applied gain is positive and exact).
    * Empty when the input is already local-move optimal. This is
    * [[bestMoveRefinement]] iterated to Blondel et al.'s phase-1 local
    * optimum (bounded by `maxMoves` — determinism and gateability keep
    * the one-move-at-a-time argmax; parallel multi-move acceptance is
    * visit-order-dependent and can decrease Q).
    *
    * Shape at scale, per move: the [[candidateGains]] join family
    * (degree-bounded candidate set, AQE-adaptive community-degree
    * joins) + a 1-row argmax collect; the label update is a scan-side
    * literal comparison, checkpointed and freed per move (the PageRank
    * iterative discipline). Modularity is NOT recomputed per move —
    * the applied move's own sufficient statistics update (m, intra,
    * Σ D_C²) EXACTLY on the driver:
    *
    *   intra' = intra + (k_iB − k_iA)
    *   ΣD²'   = ΣD² − D_A² − D_B² + (D_A−d_i)² + (D_B+d_i)²
    *
    * all integers, and the final (intra, ΣD²) is REQUIREd to equal an
    * independent from-scratch recompute over the final labels — one
    * self-check pass instead of one per move, with the oracle
    * recomputing every intermediate state independently anyway.
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
    require(maxMoves >= 1, "apply at least one move")
    val spark = edges.sparkSession
    import spark.implicits._
    // node/label columns go through bigint here: the per-move argmax row
    // is read back with getLong, which would ClassCastException on an
    // IntegerType input graph (the toDF output schema is bigint anyway)
    val canon =
      if (assumeCanonical) edges.select(
        col(srcCol).cast("bigint").as("a"), col(dstCol).cast("bigint").as("b"))
      else edges
        .filter(col(srcCol) =!= col(dstCol))
        .select(
          least(col(srcCol), col(dstCol)).cast("bigint").as("a"),
          greatest(col(srcCol), col(dstCol)).cast("bigint").as("b"))
        .distinct()
        .pin()
    val lab0 = labels.select(
      col(nodeCol).cast("bigint").as("__n"), col(labelCol).cast("bigint").as("__l"))
      .pin()
    var overrides = Map.empty[Long, Long]
    val q0 = qInts(canon, lab0).head()
    val m = q0.getLong(0)
    var intra = q0.getLong(1)
    var sds = q0.getLong(2)
    def q(i: Long, s: Long): Double = i.toDouble / m - s.toDouble / (4.0 * m * m)
    val moves = Seq.newBuilder[(Int, Long, Long, Long, Long, Long, Long, Long,
      Double, Long, Long, Double)]
    var moveNo = 1
    var done = false
    while (moveNo <= maxMoves && !done) {
      val best = candidateGains(canon, overlaid(lab0, overrides), m)
        .where(col("gain") > 0)
        .orderBy(col("gain").desc, col("node").asc, col("c").asc)
        .limit(1)
        .collect() // bounded: one row per move — the move ships as literals
      if (best.isEmpty) done = true
      else {
        val r = best(0)
        val (node, aLab, bLab) = (r.getLong(0), r.getLong(1), r.getLong(2))
        val (k, ka, d) = (r.getLong(3), r.getLong(4), r.getLong(5))
        val (dca, dcb, gain) = (r.getLong(6), r.getLong(7), r.getLong(8))
        val intraAfter = intra + (k - ka)
        val sdsAfter = sds - dca * dca - dcb * dcb +
          (dca - d) * (dca - d) + (dcb + d) * (dcb + d)
        moves += ((moveNo, node, aLab, bLab, gain, m,
          intra, sds, q(intra, sds), intraAfter, sdsAfter, q(intraAfter, sdsAfter)))
        intra = intraAfter
        sds = sdsAfter
        overrides += (node -> bLab)
      }
      moveNo += 1
    }
    // the one self-check recompute: derived running stats must equal the
    // from-scratch integers over the final assignment
    val fin = qInts(canon, overlaid(lab0, overrides)).head()
    require(fin.getLong(1) == intra && fin.getLong(2) == sds,
      s"sweepRefinement drift: derived (intra=$intra, sds=$sds) != " +
        s"recomputed (${fin.getLong(1)}, ${fin.getLong(2)})")
    moves.result().toDF(
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
      assumeCanonical: Boolean = false): DataFrame = {
    val canon =
      if (assumeCanonical) edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      else GraphStats.canonicalEdges(edges, srcCol, dstCol)
    val lab = labels.select(col(nodeCol).as("__n"), col(labelCol).as("__l"))
    canon
      .join(lab.select(col("__n").as("a"), col("__l").as("__la")), Seq("a"))
      .join(lab.select(col("__n").as("b"), col("__l").as("__lb")), Seq("b"))
      .select(
        least(col("__la"), col("__lb")).as("a"),
        greatest(col("__la"), col("__lb")).as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).cast("bigint").as("weight"))
  }

  /** Split a canonical weighted frame into its cross-edge and self-loop
    * views plus the strength (weighted degree) frame: self-loops count
    * TWICE into strength (the standard convention that makes modularity
    * invariant under [[contractGraph]]). A node with only a self-loop
    * still gets a strength row (full outer join).
    */
  private def weightedParts(w: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val cross = w.filter(col("a") =!= col("b"))
    val selfw = w.filter(col("a") === col("b"))
      .select(col("a").as("__sn"), (col("wt") * 2L).as("__sw"))
    val und = cross.select(col("a").as("node"), col("b").as("nbr"), col("wt"))
      .unionAll(cross.select(col("b").as("node"), col("a").as("nbr"), col("wt")))
    val undDeg = und.groupBy(col("node")).agg(sum(col("wt")).as("__ud"))
    val deg = undDeg
      .join(selfw, undDeg("node") === selfw("__sn"), "full_outer")
      .select(
        coalesce(col("node"), col("__sn")).as("node"),
        (coalesce(col("__ud"), lit(0L)) + coalesce(col("__sw"), lit(0L)))
          .cast("bigint").as("d"))
    (cross, und, deg)
  }

  /** WEIGHTED modularity of a labeling over a canonical weighted graph
    * (`a <= b`, one row per pair, `a = b` rows are self-loops —
    * [[contractGraph]]'s output shape). One row: `(m, intra,
    * sum_deg_sq, modularity)` with m = Σ weight, intra = Σ same-label
    * cross weight + Σ self-loop weight, and strength counting
    * self-loops twice — the convention under which
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
    val w = wedges.select(
      col(srcCol).as("a"), col(dstCol).as("b"),
      col(weightCol).cast("bigint").as("wt"))
    val lab = labels.select(col(nodeCol).as("__n"), col(labelCol).as("__l"))
    val (cross, _, deg) = weightedParts(w)
    val intraCross = cross
      .join(lab.select(col("__n").as("a"), col("__l").as("__la")), Seq("a"))
      .join(lab.select(col("__n").as("b"), col("__l").as("__lb")), Seq("b"))
      .agg(sum(when(col("__la") === col("__lb"), col("wt")).otherwise(0L))
        .as("__ic"))
    val massAndSelf = w.agg(
      sum(col("wt")).cast("bigint").as("m"),
      sum(when(col("a") === col("b"), col("wt")).otherwise(0L)).as("__is"))
    val sds = deg.join(lab, deg("node") === lab("__n"))
      .groupBy(col("__l")).agg(sum(col("d")).as("__dc"))
      .agg(sum(col("__dc") * col("__dc")).cast("bigint").as("sum_deg_sq"))
    massAndSelf
      .crossJoin(broadcast(intraCross))
      .crossJoin(broadcast(sds))
      .select(
        col("m"),
        (coalesce(col("__ic"), lit(0L)) + coalesce(col("__is"), lit(0L)))
          .cast("bigint").as("intra"),
        col("sum_deg_sq"),
        ((coalesce(col("__ic"), lit(0L)) + coalesce(col("__is"), lit(0L)))
          .cast("double") / col("m") -
          col("sum_deg_sq").cast("double") / (lit(4.0) * col("m") * col("m")))
          .as("modularity"))
  }

  /** [[bestMoveRefinement]] on a WEIGHTED canonical graph — the local
    * move step of the NEXT Louvain level, run on [[contractGraph]]'s
    * output (`a <= b`, one row per pair, `a = b` self-loops). Same
    * evidence-row contract and total order as the unweighted form;
    * `n_edges` is the total weight mass m = Σ weight. The exact-integer
    * gain generalizes verbatim with weighted quantities:
    *
    *   ΔQ · 4m² = 4m·(w_iB − w_iA) − 2·d_i·(D_B − D_A + d_i)
    *
    * where w_iC = Σ weight from i into C (i's own self-loop excluded —
    * it moves WITH i and cancels out of ΔQ), d_i = strength (self-loops
    * twice), D_C = Σ strength over C. With an all-ones weight column
    * and no self-loops this is bit-identical to [[bestMoveRefinement]]
    * (spec-pinned). With identity labels (each super-node its own
    * community) the gain reduces to 4m·w_ij − 2·d_i·d_j — the
    * community-MERGE criterion, which is exactly what running this on a
    * contracted detection output asks: should two detected communities
    * fuse? PRECONDITION: `labels` covers every node of the graph.
    */
  def weightedBestMoveRefinement(
      wedges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      labels: DataFrame,
      nodeCol: String,
      labelCol: String): DataFrame = RunScope.scope("Louvain.weightedBestMoveRefinement") {
    val w = wedges.select(
      col(srcCol).as("a"), col(dstCol).as("b"),
      col(weightCol).cast("bigint").as("wt"))
      .pin()
    val lab = labels.select(col(nodeCol).as("__n"), col(labelCol).as("__l"))
      .pin()
    val (cross, und, deg) = weightedParts(w)
    val mVal = w.agg(sum(col("wt")).cast("bigint")).head().getLong(0)
    // r18: argmax consumed once — no checkpoint action (see
    // [[bestMoveRefinement]])
    val cand = weightedGains(und, deg, lab, mVal)
    // after-stats derive exactly from the move's integers (identical
    // update to the unweighted form — the self-loop moves with the node
    // and cancels; mlCore require-verifies this algebra every level);
    // the oracle recomputes the after state independently.
    bestMoveReport(cand,
      weightedModularity(w, "a", "b", "wt", lab, "__n", "__l")
        .select(col("m"), col("intra"), col("sum_deg_sq").as("sds")))
  }

  /** Move-phase candidate generation — the AGGREGATE-FIRST fused shape
    * ([[weightedGainsAggFirst]]; the r16 q_g14 A/B retired the
    * decorate-then-aggregate r15 form, which paid its dcb/a_label/d
    * joins on the 2|E|-row edge frame and regressed dense graphs
    * 10.9 s vs 6.4 s — PERF.md §"louvain move-phase A/B (r16)"). The
    * old two-aggregate + self-join + five-join chain is kept as
    * [[weightedGainsAll]] purely as the spec's equivalence reference.
    *
    * Output: one row per node with a candidate —
    * `(node, a_label, c, k, ka, d, dca, dcb, gain)` under the per-node
    * (gain DESC, c ASC) rule, which preserves the global
    * (gain DESC, node ASC, c ASC) argmax every consumer takes.
    */
  private[graft] def weightedGains(
      und: DataFrame, deg: DataFrame, lab: DataFrame, m: Long): DataFrame =
    weightedGainsAggFirst(und, deg, lab, m)

  /** Shared tail of the fused paths: BestMoveCandidate argmax over a
    * decorated (node, c, wt, dcb, a_label, d) frame + the dca/gain
    * attach projection.
    */
  private def fusedArgmaxTail(
      rows: DataFrame, cd: DataFrame, m: Long): DataFrame = {
    val bm = bridge.column(
      graft.expressions.BestMoveCandidate(
        bridge.expression(col("c").cast("bigint")),
        bridge.expression(col("wt").cast("bigint")),
        bridge.expression(col("dcb")),
        bridge.expression(col("a_label").cast("bigint")),
        bridge.expression(col("d")),
        m).toAggregateExpression())
    rows.groupBy(col("node"))
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

  /** AGGREGATE-FIRST fused variant: k_iC collapses the symmetrized edge
    * frame to (node, neighboring community) BEFORE any decoration, so
    * the dcb/a_label/d joins touch the degree-bounded candidate frame
    * instead of the 2|E|-row edge frame; the same
    * [[graft.expressions.BestMoveCandidate]] argmax then reduces each
    * node's PRE-SUMMED histogram (feeding one (c, k) row per community
    * is histogram-equivalent to feeding the raw edges). Two Exchanges
    * instead of one, but both carry candidate-sized rows — the winning
    * shape on DENSE graphs (q_g14's co-order graph: the r16 A/B
    * measured fused-direct 10.9 s vs this 7.4 s; on the sparser q_g12/
    * q_g15 frames the two shapes tie within noise, so this is the
    * production path everywhere).
    */
  private def weightedGainsAggFirst(
      und: DataFrame, deg: DataFrame, lab: DataFrame, m: Long): DataFrame = {
    val cd = deg.join(lab, deg("node") === lab("__n"))
      .groupBy(col("__l")).agg(sum(col("d")).cast("bigint").as("dc"))
    val kic = und
      .join(lab.select(col("__n").as("nbr"), col("__l").as("c")), Seq("nbr"))
      .groupBy(col("node"), col("c"))
      .agg(sum(col("wt")).cast("bigint").as("wt"))
    val rows = kic
      .join(cd.select(col("__l").as("c"), col("dc").as("dcb")), Seq("c"))
      .join(lab.select(col("__n").as("node"), col("__l").as("a_label")),
        Seq("node"))
      .join(deg.select(col("node"), col("d").cast("bigint").as("d")),
        Seq("node"))
    fusedArgmaxTail(rows, cd, m)
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

  /** [[weightedModularity]]'s integer statistics with the strength frame
    * supplied by the caller (multilevel holds it checkpointed per level —
    * rebuilding the full-outer strength join for every before/after stats
    * pass was round-12's first profile finding): one row
    * `(m, intra, sum_deg_sq)`.
    */
  private def weightedQInts(w: DataFrame, deg: DataFrame, lab: DataFrame): DataFrame = {
    val cross = w.filter(col("a") =!= col("b"))
    val intraCross = cross
      .join(lab.select(col("__n").as("a"), col("__l").as("__la")), Seq("a"))
      .join(lab.select(col("__n").as("b"), col("__l").as("__lb")), Seq("b"))
      .agg(sum(when(col("__la") === col("__lb"), col("wt")).otherwise(0L)).as("__ic"))
    // n_pairs/n_nodes ride along on aggregates this pass runs anyway
    // (r18 — they were separate count() jobs per multilevel level)
    val massAndSelf = w.agg(
      sum(col("wt")).cast("bigint").as("m"),
      sum(when(col("a") === col("b"), col("wt")).otherwise(0L)).as("__is"),
      count(lit(1)).cast("bigint").as("n_pairs"))
    val sds = deg.join(lab, deg("node") === lab("__n"))
      .groupBy(col("__l")).agg(
        sum(col("d")).as("__dc"), count(lit(1)).as("__nc"))
      .agg(
        sum(col("__dc") * col("__dc")).cast("bigint").as("sum_deg_sq"),
        coalesce(sum(col("__nc")), lit(0L)).cast("bigint").as("n_nodes"))
    massAndSelf
      .crossJoin(broadcast(intraCross))
      .crossJoin(broadcast(sds))
      .select(
        col("m"),
        (coalesce(col("__ic"), lit(0L)) + coalesce(col("__is"), lit(0L)))
          .cast("bigint").as("intra"),
        col("sum_deg_sq"),
        col("n_pairs"),
        col("n_nodes"))
  }

  /** The FULL multi-level Louvain driver (Blondel et al. §2, both
    * phases iterated): per level, apply up to `maxMovesPerLevel`
    * globally-best positive-gain WEIGHTED local moves (level 1 runs on
    * the original graph with unit weights — exactly the
    * [[sweepRefinement]] semantics), then CONTRACT communities to
    * super-nodes with identity labels and repeat one level up, until
    * `levels` levels ran or a level is already local-move optimal
    * (its 0-move row is still emitted — the fixpoint evidence). This
    * is the operator a user actually calls; q_g14/q_g15/q_g16 gate its
    * composed parts.
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
    * Shape at scale, per level: the static per-level frames (cross-edge
    * view, strength frame) derive from ONE checkpointed weighted edge
    * frame; each move is the degree-bounded [[weightedGains]] join
    * family + a 1-row argmax; contraction is two label joins + one hash
    * aggregate, and every superseded checkpoint is freed as soon as its
    * successor lands (the PageRank iterative discipline). Level ℓ+1
    * runs at |C_ℓ| cost — the whole point of the multi-level scheme.
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
    mlCore(
      edges, srcCol, dstCol, None, labels, nodeCol, labelCol, levels,
      maxMovesPerLevel, assumeCanonical)._1
  }

  /** [[multilevel]] over an ALREADY-WEIGHTED canonical graph (`a <= b`,
    * one row per pair, `a = b` rows are self-loops — the
    * [[contractGraph]] output shape): the entry point for a user whose
    * input graph carries integer edge weights, e.g. resuming the
    * multi-level scheme from a persisted contraction. With an all-ones
    * weight column and no self-loops this is row-identical to
    * [[multilevel]] (spec-pinned).
    */
  def multilevelWeighted(
      wedges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      labels: DataFrame,
      nodeCol: String,
      labelCol: String,
      levels: Int,
      maxMovesPerLevel: Int): DataFrame = RunScope.scope("Louvain.multilevelWeighted") {
    mlCore(
      wedges, srcCol, dstCol, Some(weightCol), labels, nodeCol, labelCol,
      levels, maxMovesPerLevel, assumeCanonical = true)._1
  }

  /** [[multilevel]]'s FINAL per-node assignment — the map a user feeds
    * downstream (the per-level evidence rows grade the run; this is its
    * product): every ORIGINAL node with its community after all levels,
    * i.e. the initial labels composed through every level's moves and
    * contractions. Composition is one |V|-row map join per level
    * (original node → super-node → its new label), checkpointed and
    * freed per level like everything else in the driver. Returns
    * `(node, community)` as bigint, pinned.
    */
  def multilevelAssignments(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      labels: DataFrame,
      nodeCol: String,
      labelCol: String,
      levels: Int,
      maxMovesPerLevel: Int,
      assumeCanonical: Boolean = false): DataFrame = {
    val (_, assign) = mlCore(
      edges, srcCol, dstCol, None, labels, nodeCol, labelCol, levels,
      maxMovesPerLevel, assumeCanonical)
    assign
  }

  /** [[multilevelAssignments]] AND [[multilevel]]'s per-level stats from
    * the same single run — `(stats, assignments)`. The driver computes
    * both anyway; a caller that wants to gate the assignment map on the
    * run's evidence (e.g. "level 1 actually moved", the q_g20 trace
    * guard) gets it for free instead of paying a second full run. The
    * assignments frame is pinned.
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
      assumeCanonical: Boolean = false): (DataFrame, DataFrame) =
    mlCore(
      edges, srcCol, dstCol, None, labels, nodeCol, labelCol, levels,
      maxMovesPerLevel, assumeCanonical)

  private def mlCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: Option[String],
      labels: DataFrame,
      nodeCol: String,
      labelCol: String,
      levels: Int,
      maxMovesPerLevel: Int,
      assumeCanonical: Boolean): (DataFrame, DataFrame) = RunScope.scope("Louvain.mlCore") {
    require(levels >= 1, "need at least one level")
    require(maxMovesPerLevel >= 1, "apply at least one move per level")
    val spark = edges.sparkSession
    import spark.implicits._
    // bigint discipline: argmax rows are read back with getLong
    var w = (weightCol match {
      case Some(wc) =>
        // caller vouches canonical (a <= b, one row per pair): weights
        // carry the multiplicity a distinct would destroy
        edges.select(
          col(srcCol).cast("bigint").as("a"), col(dstCol).cast("bigint").as("b"),
          col(wc).cast("bigint").as("wt"))
      case None =>
        (if (assumeCanonical)
          edges.select(
            col(srcCol).cast("bigint").as("a"), col(dstCol).cast("bigint").as("b"))
        else edges
          .filter(col(srcCol) =!= col(dstCol))
          .select(
            least(col(srcCol), col(dstCol)).cast("bigint").as("a"),
            greatest(col(srcCol), col(dstCol)).cast("bigint").as("b"))
          .distinct())
          .select(col("a"), col("b"), lit(1L).as("wt"))
    }).pin()
    var lab = labels.select(
      col(nodeCol).cast("bigint").as("__n"), col(labelCol).cast("bigint").as("__l"))
      .pin()
    def q(m: Long, i: Long, s: Long): Double =
      i.toDouble / m - s.toDouble / (4.0 * m * m)
    val rows = Seq.newBuilder[
      (Int, Long, Long, Long, Int, Long, Long, Double, Long, Long, Double)]
    // original node → current community, composed through the levels
    var assign: DataFrame = null
    var carried: Option[(Long, Long)] = None
    var level = 1
    var stop = false
    while (level <= levels && !stop) {
      val (_, und, deg0) = weightedParts(w)
      val deg = deg0.pin() // static per level, read per move
      val q0 = weightedQInts(w, deg, lab).head()
      val m = q0.getAs[Long]("m")
      val intra0 = q0.getAs[Long]("intra")
      val sds0 = q0.getAs[Long]("sum_deg_sq")
      // the level-change invariant: contraction conserved the integers
      carried.foreach { case (pi, ps) =>
        require(pi == intra0 && ps == sds0,
          s"multilevel level $level: contraction drift — carried " +
            s"(intra=$pi, sds=$ps) != recomputed ($intra0, $sds0)")
      }
      val nPairs = q0.getAs[Long]("n_pairs")
      val nNodes = q0.getAs[Long]("n_nodes")
      var overrides = Map.empty[Long, Long]
      var intra = intra0
      var sds = sds0
      var moves = 0
      var optimal = false
      while (moves < maxMovesPerLevel && !optimal) {
        val best = weightedGains(und, deg, overlaid(lab, overrides), m)
          .where(col("gain") > 0)
          .orderBy(col("gain").desc, col("node").asc, col("c").asc)
          .limit(1)
          .collect() // bounded: one row per move — the move ships as literals
        if (best.isEmpty) optimal = true
        else {
          val r = best(0)
          val (node, bLab) = (r.getLong(0), r.getLong(2))
          val (k, ka, d) = (r.getLong(3), r.getLong(4), r.getLong(5))
          val (dca, dcb) = (r.getLong(6), r.getLong(7))
          intra += (k - ka)
          sds += -dca * dca - dcb * dcb +
            (dca - d) * (dca - d) + (dcb + d) * (dcb + d)
          overrides += (node -> bLab)
          moves += 1
        }
      }
      if (overrides.nonEmpty) {
        // materialize the level's final labels ONCE (contraction, the
        // assignment compose, and the self-check all read them)
        val labF = overlaid(lab, overrides).pin()
        RunScope.free(lab)
        lab = labF
      }
      // one self-check recompute per level: running integers must equal
      // the from-scratch stats over the final assignment
      val fin = weightedQInts(w, deg, lab).head()
      require(fin.getAs[Long]("intra") == intra && fin.getAs[Long]("sum_deg_sq") == sds,
        s"multilevel level $level: derived (intra=$intra, sds=$sds) != " +
          s"recomputed (${fin.getAs[Long]("intra")}, ${fin.getAs[Long]("sum_deg_sq")})")
      rows += ((level, nNodes, nPairs, m, moves,
        intra0, sds0, q(m, intra0, sds0), intra, sds, q(m, intra, sds)))
      RunScope.free(deg)
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
      if (moves == 0) stop = true
      else if (level < levels) {
        // PHASE 2: contract communities to super-nodes (intra edges and
        // existing self-loops fold into the community self-loop)
        val nextW = w
          .join(lab.select(col("__n").as("a"), col("__l").as("__la")), Seq("a"))
          .join(lab.select(col("__n").as("b"), col("__l").as("__lb")), Seq("b"))
          .select(
            least(col("__la"), col("__lb")).as("a"),
            greatest(col("__la"), col("__lb")).as("b"),
            col("wt"))
          .groupBy(col("a"), col("b"))
          .agg(sum(col("wt")).cast("bigint").as("wt"))
          .pin()
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
