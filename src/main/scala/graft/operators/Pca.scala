package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.RunScope
import graft.RunScope.Pinning

/** Distributed top-component PCA (uncentered) via the Gram matrix and
  * FIXED-count power iteration — the embedding-space structure pass
  * (dominant direction, spectral mass) without MLlib's randomized SVD,
  * which cannot be oracle-gated.
  *
  * Shape: ONE distributed pass builds G = Σ x xᵀ as a (i, j, g) frame —
  * a per-row self-join on the exploded dimensions, so the shuffle is
  * n·d² rows reduced to d² — then every power step is a d²-frame ⋈
  * d-frame join + hash agg, driver building plans only. d is the
  * contract: fine to ~10³ dims (d² ≤ 10⁶ cells); past that you want a
  * BLAS gemm per partition, not a join.
  *
  * Determinism: init v₀ = 1/√d (all-positive, generically
  * non-orthogonal to the top eigenvector; G is PSD so no sign
  * oscillation — both engines converge to the SAME signed direction),
  * fixed iteration count, and each normalization is one sqrt of a sum
  * of squares. The eigenvalue estimate is the Rayleigh quotient of the
  * LAST un-normalized step (= ‖G v‖ since ‖v‖ = 1).
  */
object Pca {

  /** Top principal direction after `iterations` power steps:
    * `(dim, loading, eigenvalue)` — d rows, `loading` the unit
    * eigenvector component, `eigenvalue` the top-eigenvalue estimate
    * repeated on every row (broadcast-scalar idiom).
    */
  def topComponent(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      iterations: Int = 3): DataFrame = RunScope.scope("Pca.topComponent") {
    require(iterations >= 1, "iterations must be >= 1")
    val vd = vecs.select(
      col(idCol).as("__id"),
      posexplode(transform(col(vecCol), x => x.cast("double"))).as(Seq("__p", "__x")))
    val gram = vd.select(col("__id"), col("__p").as("__i"), col("__x").as("__xi"))
      .join(
        vd.select(col("__id"), col("__p").as("__j"), col("__x").as("__xj")),
        Seq("__id"))
      .groupBy(col("__i"), col("__j"))
      .agg(sum(col("__xi") * col("__xj")).as("__g"))
      .pin()

    // Dimensionality from the first row — bounded driver read (one int).
    // PRECONDITION: every vector shares this dimensionality; mixed-width
    // rows would silently truncate/extend the Gram matrix.
    val d = vecs.select(size(col(vecCol))).limit(1).collect() match {
      case Array(r) => r.getInt(0)
      case _ => throw new IllegalArgumentException(
        "Pca.topComponent: input frame is empty — need at least one vector")
    }
    var v = gram.sparkSession.range(d)
      .select(col("id").cast("int").as("__p"), lit(1.0 / math.sqrt(d.toDouble)).as("__v"))
    var lastNorm: DataFrame = null
    for (_ <- 1 to iterations) {
      val w = gram
        .join(broadcast(v.select(col("__p").as("__j"), col("__v"))), Seq("__j"))
        .groupBy(col("__i").as("__p"))
        .agg(sum(col("__g") * col("__v")).as("__w"))
      lastNorm = w.agg(sqrt(sum(col("__w") * col("__w"))).as("__n"))
      v = w.crossJoin(broadcast(lastNorm))
        .select(col("__p"), (col("__w") / col("__n")).as("__v"))
    }
    v
      .crossJoin(broadcast(lastNorm.select(col("__n").as("eigenvalue"))))
      .select(col("__p").as("dim"), col("__v").as("loading"), col("eigenvalue"))
      .orderBy("dim")
      .pin()
  }
}
