package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.RunScope
import graft.RunScope.Pinning

/** Neighborhood-overlap link prediction — the classic missing-edge
  * ranker (Liben-Nowell & Kleinberg 2003): for every NON-edge pair with
  * at least one common neighbor, the common-neighbor count, the
  * Adamic–Adar score Σ_w 1/ln(deg w) (rare shared neighbors weigh
  * more), and the neighborhood Jaccard cn/(du + dv − cn).
  *
  * Determinism discipline: the top-k CUT and the output order use the
  * INTEGER common-neighbor count under the total order
  * (cn DESC, u ASC, v ASC) — never the float AA score, whose
  * sum-over-neighbors order differs across engines at the last ulp; AA
  * and Jaccard ride along as value columns (1/ln(deg w) is safe:
  * a common neighbor touches both endpoints, so deg w ≥ 2 and
  * ln(deg w) > 0).
  *
  * Shape at scale: the 2-path join keyed by the MIDDLE node emits
  * Σ deg(w)² wedge rows — the triangle-counting shape, inherent to
  * common-neighbor semantics; degrees join in before the wedge
  * aggregate so the middle node's weight is scan-side. Hub skew is the
  * known hazard (same as [[Triangles]]): at corpus scale cap or salt
  * the top-degree nodes. The candidate aggregate keys by (u, v); the
  * existing-edge exclusion is one anti-join against the canonical edge
  * frame; the k-cut is a TakeOrderedAndProject, never a full sort.
  */
object LinkPrediction {

  def topCandidates(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      assumeCanonical: Boolean = false): DataFrame =
      RunScope.scope("LinkPrediction.topCandidates") {
    require(k >= 1, "k must be >= 1")
    val canon =
      if (assumeCanonical) edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      else GraphStats.canonicalEdges(edges, srcCol, dstCol).pin()
    val und = canon.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(canon.select(col("b").as("node"), col("a").as("nbr")))
    val deg = und.groupBy(col("node")).agg(count(lit(1)).as("d"))
    val p1 = und.select(col("node").as("u"), col("nbr").as("w"))
    // the middle node's 1/ln(deg) weight attaches to the 2|E|-row side
    // BEFORE the wedge join (AQE broadcasts the |V|-row degree frame) —
    // joined after, it would ride every one of the Σ deg² wedge rows
    val p2 = und.select(col("node").as("v"), col("nbr").as("w"))
      .join(deg.select(col("node").as("w"), col("d").as("__dw")), Seq("w"))
    val cand = p1.join(p2, Seq("w")).where(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(
        count(lit(1)).cast("bigint").as("common_neighbors"),
        sum(lit(1.0) / log(col("__dw").cast("double"))).as("aa_score"))
    // k-cut straight after the anti-join: the endpoint-degree joins for
    // Jaccard touch k rows, not the (possibly ~|V|²-scale) candidate set
    val cut = cand
      .join(canon, cand("u") === canon("a") && cand("v") === canon("b"),
        "left_anti")
      .orderBy(col("common_neighbors").desc, col("u"), col("v"))
      .limit(k)
    val out = cut
      .join(deg.select(col("node").as("u"), col("d").as("__du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("d").as("__dv")), Seq("v"))
      .select(
        col("u"), col("v"), col("common_neighbors"), col("aa_score"),
        (col("common_neighbors").cast("double") /
          (col("__du") + col("__dv") - col("common_neighbors"))).as("jaccard"))
      .orderBy(col("common_neighbors").desc, col("u"), col("v"))
    // the k-row result pins (trivial) so the internal canonical-edge
    // checkpoint frees now
    if (assumeCanonical) out else out.pin()
  }
}
