package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-truss decomposition (Cohen 2008) of an undirected edge list: the
  * maximal subgraph in which every EDGE participates in at least k−2
  * triangles within the subgraph. The edge-analog of [[KCore]] and the
  * stricter cohesion screen — a k-truss is always inside the
  * (k−1)-core, but demands the cohesion be made of actual triangles,
  * which is what separates a genuine community kernel from a hub star
  * (a star has arbitrarily high core numbers around its hub and no
  * truss at all). Curation uses: the co-occurrence kernels worth
  * promoting to entities, spam/bot rings (mutual-interaction
  * triangles), the load-bearing seed of a near-dup cluster.
  *
  * Algorithm: iterative support peel. Each round counts every
  * surviving edge's triangle support with the degree-ordered
  * compact-forward join (the [[Triangles]] orientation: every triangle
  * found exactly once, wedge work bounded by the SMALLER endpoint's
  * forward degree), unions the three per-edge contributions of each
  * triangle, drops edges under k−2, and repeats. Peeling is monotone
  * and idempotent at the fixpoint — the same contract that makes a
  * fixed-depth oracle unroll sound for the run-to-fixpoint engine
  * (the [[KCore]] contract, applied verbatim).
  *
  * Shape at scale: per round one self-join on the oriented edge frame
  * (wedges) + one edge-keyed semi-join (closure) + one hash aggregate
  * (support) + one semi-join (survival). Wedge cost is the q_g13
  * lesson — quadratic in degree — so gates run on density-controlled
  * slices. The round loop is [[FixedPoint]]'s, with the surviving edge
  * count as its signal.
  *
  * Determinism: pure integer set arithmetic; the k-truss is unique, so
  * engine and oracle cannot legitimately disagree.
  */
object KTruss {

  /** Surviving edges of the k-truss with their within-truss support,
    * as `(a, b, support)` with a < b canonical. Input edges are
    * undirected; duplicates/self-loops must be cleaned by the caller.
    * Empty result = no k-truss.
    */
  def trussEdges(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      k: Int,
      maxRounds: Int = 20): DataFrame = {
    require(k >= 3, "k must be >= 3 (k-2 >= 1 triangle per edge)")
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val minSupport = (k - 2).toLong
    val canon = edges.select(
      least(col(aCol), col(bCol)).as("a"),
      greatest(col(aCol), col(bCol)).as("b"))
    FixedPoint.run[Long]("KTruss", canon, maxRounds,
      step = (cur, _) => cur.join(
        support(cur).where(col("support") >= minSupport).select("a", "b"),
        Seq("a", "b"), "left_semi"),
      signal = (cur, _) => cur.count(),
      converged = (last, edgeCount) => edgeCount == 0L || last.contains(edgeCount),
      pinInit = true,
      finish = Some(cur => cur.join(support(cur), Seq("a", "b"))))
  }

  /** `(a, b, support)`: the triangles of `cur` (canonical a < b edges)
    * each edge sits in; edges in no triangle are absent.
    */
  private def support(cur: DataFrame): DataFrame = {
    // orient each canonical edge from its lower-forward-degree
    // endpoint (degree-ordered, ties by id) — the Triangles shape
    val deg = cur.select(col("a").as("n"))
      .unionByName(cur.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg"))
    val withDeg = cur
      .join(deg.withColumnRenamed("n", "a").withColumnRenamed("dg", "da"), "a")
      .join(deg.withColumnRenamed("n", "b").withColumnRenamed("dg", "db"), "b")
    val lowFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(lowFirst, col("a")).otherwise(col("b")).as("u"),
      when(lowFirst, col("b")).otherwise(col("a")).as("v"))
    // wedges at u: (u,v),(u,w) → closed iff edge {v,w} survives
    val wedges = oriented.select(col("u"), col("v"))
      .join(oriented.select(col("u"), col("v").as("w")), Seq("u"))
      .filter(col("v") < col("w"))
    val tris = wedges.join(
      cur.select(col("a").as("v"), col("b").as("w")),
      Seq("v", "w"), "left_semi")
    // each triangle {u,v,w} supports its three canonical edges
    def ce(x: String, y: String) = struct(
      least(col(x), col(y)).as("a"), greatest(col(x), col(y)).as("b"))
    tris.select(ce("u", "v").as("e"))
      .unionByName(tris.select(ce("u", "w").as("e")))
      .unionByName(tris.select(ce("v", "w").as("e")))
      .groupBy(col("e.a").as("a"), col("e.b").as("b"))
      .agg(count(lit(1)).as("support"))
  }
}
