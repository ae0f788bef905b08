package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.RunScope
import graft.RunScope.Pinning

/** One-pass structural graph statistics that need no iteration — the
  * cheap companions to [[Triangles]]/[[PageRank]]: is the graph
  * hub-attached or hub-avoiding (degree assortativity, Newman 2002),
  * and how skewed is its degree distribution. Used to pick the right
  * downstream algorithm variant (a disassortative hub graph is what
  * makes naive wedge counting blow up).
  */
object GraphStats {

  /** The undirected edge set of `edges` as canonical `(a, b)` pairs:
    * self-loops dropped, each edge once with `a < b`.
    */
  private[operators] def canonicalEdges(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .filter(col(srcCol) =!= col(dstCol))
      .select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()

  /** Degree assortativity: Pearson correlation of endpoint degrees over
    * all edges (each undirected edge contributes BOTH orientations, the
    * standard symmetrization). Output one row:
    * `(n_nodes, n_edges, assortativity)`; the coefficient is NULL when a
    * side has zero degree variance (regular graphs — every star is the
    * degenerate case that breaks naive `corr` under ANSI).
    *
    * Shape: canonicalize + distinct (one shuffle), degree count (one
    * hash agg), two equi-joins keyed on the endpoint to decorate each
    * edge with its endpoint degrees, then ONE global aggregate of the
    * moments; Pearson r forms in the projection under a variance guard —
    * the [[TimeSeries.autocorrelation]] discipline, never `corr` inside
    * the aggregate.
    */
  def degreeAssortativity(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = RunScope.scope("GraphStats.degreeAssortativity") {
    // The canonical edge frame feeds the degree union (×2), two decorate
    // joins, and both orientations of the moments input — six consumers.
    // Pin it ONCE so the (possibly expensive) upstream edge derivation
    // never re-runs per consumer; the one-row result is pinned too (the
    // [[KCore]]/[[Triangles]] discipline).
    val canon = canonicalEdges(edges, srcCol, dstCol).pin()
    val deg = canon.select(col("a").as("n")).unionAll(canon.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val decorated = canon
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
    // both orientations: (da, db) and (db, da)
    val pairs = decorated.select(col("da").cast("double").as("x"), col("db").cast("double").as("y"))
      .unionAll(decorated.select(col("db").cast("double").as("x"), col("da").cast("double").as("y")))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    pairs
      .agg(
        (count(lit(1)) / 2).cast("bigint").as("n_edges"),
        covar_samp(col("x"), col("y")).as("__cov"),
        var_samp(col("x")).as("__vx"),
        var_samp(col("y")).as("__vy"))
      .crossJoin(broadcast(nNodes))
      .select(
        col("n_nodes"),
        col("n_edges"),
        when(col("__vx") > 0 && col("__vy") > 0,
          col("__cov") / sqrt(col("__vx") * col("__vy"))).as("assortativity"))
      .pin()
  }

  /** Newman modularity of a node partition (Newman & Girvan 2004): the
    * community-QUALITY score the detection algorithms themselves don't
    * give — how much denser the communities are than a degree-preserving
    * random rewiring. Q = Σ_c [ e_c/m − (d_c/2m)² ] with e_c the
    * intra-community edge count, d_c the community degree sum, m the
    * undirected edge count.
    *
    * Everything up to the final expression is INTEGER arithmetic
    * (Σe_c, Σd_c², m — no per-community float sums whose addition order
    * could drift between engines); modularity forms once, in the
    * projection, from three integers — bit-identical across engines.
    * Output one row:
    * `(n_nodes, n_edges, n_communities, intra_edges, sum_deg_sq,
    * modularity)`.
    *
    * Shape: canonicalize + distinct (one shuffle), two broadcastable
    * equi-joins against the |V|-row label frame to decorate edge
    * endpoints, one degree hash-agg, one per-community hash-agg, then
    * two single-row aggregates crossed with the broadcast-scalar idiom.
    * PRECONDITION: `labels` covers every node in `edges` (detection
    * output always does; an uncovered node would null its edges out of
    * both numerators).
    */
  /** @param assumeCanonical the caller vouches `edges` is ALREADY the
    *   canonical frame (a < b, distinct, no self-loops) AND materialized
    *   (checkpointed/cached): skip the re-canonicalize + second
    *   checkpoint, which would otherwise hold a redundant |E|-row copy
    *   and pay a redundant distinct shuffle — at 10× scale that double
    *   residency is what tips a shared-JVM heap.
    */
  def modularity(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      labels: DataFrame,
      nodeCol: String,
      labelCol: String,
      assumeCanonical: Boolean = false): DataFrame = RunScope.scope("GraphStats.modularity") {
    // Same consumer fan-out as [[degreeAssortativity]]: the canonical
    // edge frame feeds the decorate joins, the degree union (×2), and
    // the edge aggregate — pinned once, as is the one-row result.
    val canon =
      if (assumeCanonical) edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      else canonicalEdges(edges, srcCol, dstCol).pin()
    val lab = labels.select(col(nodeCol).as("__n"), col(labelCol).as("__l"))
    val decorated = canon
      .join(lab.select(col("__n").as("a"), col("__l").as("__la")), Seq("a"))
      .join(lab.select(col("__n").as("b"), col("__l").as("__lb")), Seq("b"))
    val edgeAgg = decorated.agg(
      count(lit(1)).cast("bigint").as("n_edges"),
      sum(when(col("__la") === col("__lb"), 1L).otherwise(0L))
        .cast("bigint").as("intra_edges"))
    val deg = canon.select(col("a").as("__n")).unionAll(canon.select(col("b").as("__n")))
      .groupBy("__n").agg(count(lit(1)).as("__d"))
    val commAgg = deg.join(lab, Seq("__n"))
      .groupBy(col("__l"))
      .agg(sum(col("__d")).as("__dc"), count(lit(1)).as("__nc"))
      .agg(
        sum(col("__nc")).cast("bigint").as("n_nodes"),
        count(lit(1)).cast("bigint").as("n_communities"),
        sum(col("__dc") * col("__dc")).cast("bigint").as("sum_deg_sq"))
    edgeAgg
      .crossJoin(broadcast(commAgg))
      .select(
        col("n_nodes"), col("n_edges"), col("n_communities"),
        col("intra_edges"), col("sum_deg_sq"),
        (col("intra_edges").cast("double") / col("n_edges") -
          col("sum_deg_sq").cast("double") /
            (lit(4.0) * col("n_edges") * col("n_edges"))).as("modularity"))
      .pin()
  }
}
