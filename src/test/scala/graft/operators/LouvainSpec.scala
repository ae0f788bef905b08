package graft.operators

import org.apache.spark.sql.functions.col

import graft.SparkSpec

class LouvainSpec extends SparkSpec {
  import spark.implicits._

  // Two triangles {1,2,3} and {4,5,6} joined by the bridge 3-4 (m = 7).
  private val edges = Seq(
    (1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    .toDF("a", "b")

  // Four triangles A{1,2,3} B{4,5,6} C{7,8,9} D{10,11,12}; A and B bridged
  // by three cross edges, node 3 starting misassigned to C's label.
  private val fourTriangles = Seq(
    (1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L),
    (7L, 8L), (7L, 9L), (8L, 9L), (10L, 11L), (10L, 12L), (11L, 12L),
    (3L, 4L), (2L, 5L), (1L, 6L)).toDF("a", "b")
  private val fourAssign = Seq(
    1L -> 10L, 2L -> 10L, 3L -> 30L, 4L -> 20L, 5L -> 20L, 6L -> 20L,
    7L -> 30L, 8L -> 30L, 9L -> 30L, 10L -> 40L, 11L -> 40L, 12L -> 40L)
    .toDF("node", "community")

  private def refine(assign: Seq[(Long, Long)]) =
    Louvain.bestMoveRefinement(
      edges, "a", "b", assign.toDF("node", "community"), "node", "community")

  test("misassigned node moves home with the hand-computed integer gain") {
    // node 3 wrongly in the right community: ΔQ·4m² = 4·7·(2−1) − 2·3·(4−10+3) = 46
    val rows = refine(Seq(
      1L -> 10L, 2L -> 10L, 3L -> 20L, 4L -> 20L, 5L -> 20L, 6L -> 20L)).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[Long]("moved_node") === 3L)
    assert(r.getAs[Long]("from_label") === 20L)
    assert(r.getAs[Long]("to_label") === 10L)
    assert(r.getAs[Long]("gain_x4m2") === 46L)
    assert(r.getAs[Long]("n_edges") === 7L)
    assert(r.getAs[Long]("intra_before") === 5L)
    assert(r.getAs[Long]("sum_deg_sq_before") === 116L)
    assert(r.getAs[Long]("intra_after") === 6L)
    assert(r.getAs[Long]("sum_deg_sq_after") === 98L)
    val qb = r.getAs[Double]("modularity_before")
    val qa = r.getAs[Double]("modularity_after")
    assert(math.abs(qb - (5.0 / 7 - 116.0 / 196)) < 1e-12)
    assert(math.abs(qa - (6.0 / 7 - 98.0 / 196)) < 1e-12)
    // the recomputed delta equals the predicted gain / 4m²
    assert(math.abs((qa - qb) - 46.0 / 196) < 1e-12)
  }

  test("a local-move-optimal assignment yields no move (empty result)") {
    val rows = refine(Seq(
      1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 20L, 5L -> 20L, 6L -> 20L)).collect()
    assert(rows.isEmpty)
  }

  test("gain ties break on (node, target): smallest node wins") {
    // one edge, two singleton communities: either endpoint moving to the
    // other side gains exactly 2 — the argmax must pick node 1 → 20
    val e = Seq((1L, 2L)).toDF("a", "b")
    val out = Louvain.bestMoveRefinement(
      e, "a", "b",
      Seq(1L -> 10L, 2L -> 20L).toDF("node", "community"),
      "node", "community").collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("moved_node") === 1L)
    assert(out.head.getAs[Long]("to_label") === 20L)
    assert(out.head.getAs[Long]("gain_x4m2") === 2L)
    assert(out.head.getAs[Double]("modularity_before") === -0.5)
    assert(out.head.getAs[Double]("modularity_after") === 0.0)
  }

  test("sweep: two misassigned nodes fixed in two moves, Q strictly increasing, then optimal") {
    val assign = Seq(1L -> 10L, 2L -> 20L, 3L -> 10L, 4L -> 20L, 5L -> 10L, 6L -> 20L)
    val rows = Louvain.sweepRefinement(
      edges, "a", "b", assign.toDF("node", "community"), "node", "community",
      maxMoves = 5).orderBy("move_no").collect()
    assert(rows.length === 2, s"expected exactly two moves, got ${rows.length}")
    assert(rows.map(_.getAs[Int]("move_no")).toSeq === Seq(1, 2))
    assert(rows.map(_.getAs[Long]("moved_node")).toSet === Set(2L, 5L))
    rows.foreach { r =>
      assert(r.getAs[Double]("modularity_after") >
        r.getAs[Double]("modularity_before"), "each move strictly improves Q")
      assert(r.getAs[Long]("gain_x4m2") > 0L)
    }
    // the chain is consistent: move 2 starts where move 1 ended
    assert(rows(1).getAs[Long]("intra_before") === rows(0).getAs[Long]("intra_after"))
    assert(rows(1).getAs[Long]("sum_deg_sq_before") ===
      rows(0).getAs[Long]("sum_deg_sq_after"))
    // end state is the two clean triangles: intra 6, ΣD² = 2·(3+3+4)² ... per community
    assert(rows(1).getAs[Long]("intra_after") === 6L)
    // local optimum reached before the cap — a 3rd call finds nothing
    val after = Seq(1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 20L, 5L -> 20L, 6L -> 20L)
    assert(Louvain.sweepRefinement(
      edges, "a", "b", after.toDF("node", "community"), "node", "community",
      maxMoves = 5).collect().isEmpty)
  }

  test("contractGraph: intra self-loops + cross weights, edge mass conserved") {
    // triangles {1,2,3}/{4,5,6} + bridge 3-4: contract by the clean
    // assignment → self-loops (10,10,w=3), (20,20,w=3), cross (10,20,w=1)
    val lab = Seq(1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 20L, 5L -> 20L, 6L -> 20L)
      .toDF("node", "community")
    val got = Louvain.contractGraph(edges, "a", "b", lab, "node", "community")
      .orderBy("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((10L, 10L, 3L), (10L, 20L, 1L), (20L, 20L, 3L)))
    assert(got.map(_._3).sum === 7L, "Σ weight = |E|")
    // duplicate/reversed raw edges canonicalize before contraction
    val messy = edges.unionAll(edges.select(col("b").as("a"), col("a").as("b")))
    val got2 = Louvain.contractGraph(messy, "a", "b", lab, "node", "community")
      .orderBy("a", "b").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got2.toSeq === got.toSeq)
    // singleton communities: every edge crosses, no self-loops
    val single = Seq(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L, 6L -> 6L)
      .toDF("node", "community")
    val got3 = Louvain.contractGraph(edges, "a", "b", single, "node", "community")
      .collect()
    assert(got3.length === 7 && got3.forall(_.getLong(2) === 1L))
  }

  test("weightedModularity: contraction preserves Q exactly (integer stats)") {
    // contract the two-triangle graph by the clean assignment, then
    // weighted Q with identity labels must equal unweighted Q of the
    // assignment on the original graph — the multi-level invariant
    val lab = Seq(1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 20L, 5L -> 20L, 6L -> 20L)
      .toDF("node", "community")
    val orig = GraphStats.modularity(edges, "a", "b", lab, "node", "community").head()
    val cg = Louvain.contractGraph(edges, "a", "b", lab, "node", "community")
    val idn = Seq(10L -> 10L, 20L -> 20L).toDF("node", "community")
    val wq = Louvain.weightedModularity(cg, "a", "b", "weight", idn, "node", "community").head()
    assert(wq.getAs[Long]("m") === orig.getAs[Long]("n_edges"))
    assert(wq.getAs[Long]("intra") === orig.getAs[Long]("intra_edges"))
    assert(wq.getAs[Long]("sum_deg_sq") === orig.getAs[Long]("sum_deg_sq"))
    assert(wq.getAs[Double]("modularity") === orig.getAs[Double]("modularity"))
  }

  test("weightedBestMove: hand-computed merge; heavy cross weight fuses communities") {
    // two self-loops (1,1,w=1) (2,2,w=1) + heavy cross (1,2,w=6): m = 8,
    // strengths d1 = d2 = 6 + 2 = 8; merging 1 into {2}:
    // gain·4m² = 4·8·6 − 2·8·8 = 64 > 0; Q −0.25 → 0.0
    val wedges = Seq((1L, 1L, 1L), (2L, 2L, 1L), (1L, 2L, 6L)).toDF("a", "b", "weight")
    val idn = Seq(1L -> 1L, 2L -> 2L).toDF("node", "community")
    val rows = Louvain.weightedBestMoveRefinement(
      wedges, "a", "b", "weight", idn, "node", "community").collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[Long]("moved_node") === 1L && r.getAs[Long]("to_label") === 2L)
    assert(r.getAs[Long]("gain_x4m2") === 64L)
    assert(r.getAs[Long]("n_edges") === 8L)
    assert(r.getAs[Long]("intra_before") === 2L)
    assert(r.getAs[Long]("sum_deg_sq_before") === 128L)
    assert(r.getAs[Long]("intra_after") === 8L)
    assert(r.getAs[Long]("sum_deg_sq_after") === 256L)
    assert(math.abs(r.getAs[Double]("modularity_before") - (-0.25)) < 1e-12)
    assert(math.abs(r.getAs[Double]("modularity_after") - 0.0) < 1e-12)
    // weak cross weight: merging two well-separated communities LOSES Q
    // (the contracted two-triangle graph: selfs 3,3 + bridge 1 →
    // gain = 4·7·1 − 2·7·7 < 0 — no move)
    val tri = Seq((10L, 10L, 3L), (20L, 20L, 3L), (10L, 20L, 1L)).toDF("a", "b", "weight")
    val idn2 = Seq(10L -> 10L, 20L -> 20L).toDF("node", "community")
    assert(Louvain.weightedBestMoveRefinement(
      tri, "a", "b", "weight", idn2, "node", "community").collect().isEmpty)
  }

  test("weightedBestMove with unit weights and no self-loops ≡ bestMoveRefinement") {
    val assign = Seq(1L -> 10L, 2L -> 10L, 3L -> 20L, 4L -> 20L, 5L -> 20L, 6L -> 20L)
    val unw = refine(assign).collect()
    val w1 = edges.withColumn("weight", org.apache.spark.sql.functions.lit(1L))
    val got = Louvain.weightedBestMoveRefinement(
      w1, "a", "b", "weight", assign.toDF("node", "community"), "node", "community")
      .collect()
    assert(got.map(_.toSeq).toSeq === unw.map(_.toSeq).toSeq)
  }

  test("sweep: maxMoves=1 equals bestMoveRefinement's single move") {
    val assign = Seq(1L -> 10L, 2L -> 10L, 3L -> 20L, 4L -> 20L, 5L -> 20L, 6L -> 20L)
    val sweep = Louvain.sweepRefinement(
      edges, "a", "b", assign.toDF("node", "community"), "node", "community",
      maxMoves = 1).collect()
    val single = refine(assign).collect()
    assert(sweep.length === 1 && single.length === 1)
    val (s, b) = (sweep.head, single.head)
    assert(s.getAs[Long]("moved_node") === b.getAs[Long]("moved_node"))
    assert(s.getAs[Long]("gain_x4m2") === b.getAs[Long]("gain_x4m2"))
    assert(s.getAs[Long]("intra_after") === b.getAs[Long]("intra_after"))
    assert(s.getAs[Long]("sum_deg_sq_after") === b.getAs[Long]("sum_deg_sq_after"))
    assert(s.getAs[Double]("modularity_after") === b.getAs[Double]("modularity_after"))
  }

  test("multilevel: single level degenerates to the unweighted sweep endpoint") {
    val assign = Seq(1L -> 10L, 2L -> 10L, 3L -> 20L, 4L -> 20L, 5L -> 20L, 6L -> 20L)
    val got = Louvain.multilevel(
      edges, "a", "b", assign.toDF("node", "community"), "node", "community",
      levels = 1, maxMovesPerLevel = 3).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getAs[Int]("level") === 1)
    assert(r.getAs[Long]("n_nodes") === 6L)
    assert(r.getAs[Long]("n_pairs") === 7L)
    assert(r.getAs[Long]("total_weight") === 7L)
    // one positive move exists (node 3 home), then local-move optimal
    assert(r.getAs[Int]("moves_applied") === 1)
    assert(r.getAs[Long]("intra_before") === 5L)
    assert(r.getAs[Long]("sum_deg_sq_before") === 116L)
    assert(r.getAs[Long]("intra_after") === 6L)
    assert(r.getAs[Long]("sum_deg_sq_after") === 98L)
  }

  test("multilevel: level-2 merge on the contracted graph, integers conserved") {
    // four triangles; A{1,2,3} and B{4,5,6} bridged by THREE cross edges
    // (no single level-1 node move is positive, but the LEVEL-2 community
    // merge is: gain = 4·15·3 − 2·9·9 = 18); node 3 starts misassigned to
    // C's label so level 1 provably applies exactly one move (gain 120)
    val got = Louvain.multilevel(
      fourTriangles, "a", "b", fourAssign, "node", "community",
      levels = 2, maxMovesPerLevel = 2).collect().sortBy(_.getAs[Int]("level"))
    assert(got.length === 2)
    val l1 = got(0)
    assert(l1.getAs[Long]("n_nodes") === 12L)
    assert(l1.getAs[Long]("n_pairs") === 15L)
    assert(l1.getAs[Int]("moves_applied") === 1)
    assert(l1.getAs[Long]("intra_before") === 10L)
    assert(l1.getAs[Long]("intra_after") === 12L)
    assert(l1.getAs[Long]("sum_deg_sq_before") === 234L)
    assert(l1.getAs[Long]("sum_deg_sq_after") === 234L)
    val l2 = got(1)
    assert(l2.getAs[Long]("n_nodes") === 4L)
    assert(l2.getAs[Long]("n_pairs") === 5L) // 4 self-loops + the A-B cross edge
    assert(l2.getAs[Long]("total_weight") === 15L)
    assert(l2.getAs[Int]("moves_applied") === 1) // the A∪B merge
    // level change conserves the integers exactly
    assert(l2.getAs[Long]("intra_before") === l1.getAs[Long]("intra_after"))
    assert(l2.getAs[Long]("sum_deg_sq_before") === l1.getAs[Long]("sum_deg_sq_after"))
    assert(l2.getAs[Long]("intra_after") === 15L)
    assert(l2.getAs[Long]("sum_deg_sq_after") === 396L)
    assert(l2.getAs[Double]("modularity_after") >
      l2.getAs[Double]("modularity_before"))
  }

  test("multilevelWithAssignments: composition through the level-2 merge") {
    // same 4-triangle corpus: level 1 sends node 3 home (label 10), level 2
    // merges super-node 10 into 20 (tie broken node-asc), so A∪B end at 20
    val got = Louvain.multilevelWithAssignments(
      fourTriangles, "a", "b", fourAssign, "node", "community",
      levels = 2, maxMovesPerLevel = 2)._2
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = ((1L to 6L).map(_ -> 20L) ++ (7L to 9L).map(_ -> 30L) ++
      (10L to 12L).map(_ -> 40L)).toMap
    assert(got === want)
  }

  test("a move budget above the ceiling fails before any Spark job") {
    val assign = Seq(1L -> 10L, 2L -> 10L, 3L -> 20L, 4L -> 20L, 5L -> 20L, 6L -> 20L)
      .toDF("node", "community")
    val over = Louvain.MoveCeiling + 1
    val (_, sweepJobs) = jobSites(spark)(intercept[IllegalArgumentException](
      Louvain.sweepRefinement(edges, "a", "b", assign, "node", "community", maxMoves = over)))
    assert(sweepJobs.isEmpty, sweepJobs)
    val (_, levelJobs) = jobSites(spark)(intercept[IllegalArgumentException](
      Louvain.multilevel(edges, "a", "b", assign, "node", "community",
        levels = 2, maxMovesPerLevel = over)))
    assert(levelJobs.isEmpty, levelJobs)
  }

  test("job budget: no entry point runs more jobs per call than before the shared move loop") {
    // jobs per call (the call and a collect of its result) measured before
    // the unweighted and weighted paths shared one core; an upper bound
    def jobs(call: => Unit): Int = jobSites(spark)(call)._2.size
    val one = Seq(1L -> 10L, 2L -> 10L, 3L -> 20L, 4L -> 20L, 5L -> 20L, 6L -> 20L)
      .toDF("node", "community")
    val optimal = Seq(1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 20L, 5L -> 20L, 6L -> 20L)
      .toDF("node", "community")
    val two = Seq(1L -> 10L, 2L -> 20L, 3L -> 10L, 4L -> 20L, 5L -> 10L, 6L -> 20L)
      .toDF("node", "community")
    val wedges = Seq((1L, 1L, 1L), (2L, 2L, 1L), (1L, 2L, 6L)).toDF("a", "b", "weight")
    val idn = Seq(1L -> 1L, 2L -> 2L).toDF("node", "community")
    val budgets = Seq(
      ("bestMoveRefinement, one move", 20, () =>
        Louvain.bestMoveRefinement(edges, "a", "b", one, "node", "community").collect()),
      ("bestMoveRefinement, optimal", 20, () =>
        Louvain.bestMoveRefinement(edges, "a", "b", optimal, "node", "community").collect()),
      ("sweepRefinement, two moves", 49, () =>
        Louvain.sweepRefinement(edges, "a", "b", two, "node", "community", maxMoves = 5)
          .collect()),
      ("sweepRefinement, optimal", 29, () =>
        Louvain.sweepRefinement(edges, "a", "b", optimal, "node", "community", maxMoves = 5)
          .collect()),
      ("weightedBestMoveRefinement", 24, () =>
        Louvain.weightedBestMoveRefinement(
          wedges, "a", "b", "weight", idn, "node", "community").collect()),
      ("multilevel, two levels", 91, () =>
        Louvain.multilevel(fourTriangles, "a", "b", fourAssign, "node", "community",
          levels = 2, maxMovesPerLevel = 2).collect()),
      ("multilevelWithAssignments, two levels", 92, () => {
        val (stats, assign) = Louvain.multilevelWithAssignments(
          fourTriangles, "a", "b", fourAssign, "node", "community",
          levels = 2, maxMovesPerLevel = 2)
        stats.collect()
        assign.collect()
      }))
    budgets.foreach { case (call, parentJobs, run) =>
      val n = jobs(run())
      assert(n <= parentJobs, s"$call ran $n jobs, budget $parentJobs")
    }
  }

  test("multilevel: integer node/label input types do not fault the argmax reads") {
    val e = Seq((1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)).toDF("a", "b")
    val assign = Seq(1 -> 10, 2 -> 10, 3 -> 20, 4 -> 20, 5 -> 20, 6 -> 20)
      .toDF("node", "community")
    val got = Louvain.multilevel(
      e, "a", "b", assign, "node", "community", levels = 1, maxMovesPerLevel = 1)
      .collect()
    assert(got.head.getAs[Int]("moves_applied") === 1)
  }
}
