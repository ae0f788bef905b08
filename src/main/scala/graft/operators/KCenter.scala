package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.RunScope
import graft.RunScope.Pinning

/** k-center greedy / farthest-point traversal (Gonzalez 1985) — the
  * DIVERSITY selector of the embedding family: pick the point farthest
  * from everything picked so far, k times. The classic 2-approximation
  * to the k-center cover and the standard coreset/active-learning
  * seed-set builder ("core-set" selection, Sener–Savarese 2018) — the
  * complement of [[SimilaritySearch]]'s near-dup REMOVAL: near-dup
  * trims redundancy, k-center BUILDS a maximally spread subset.
  *
  * Determinism (the q_e19/q_v19 discipline): the first center is the
  * SMALLEST id; every round's argmax ranks on the distance ROUNDED to
  * 6 with the smaller id breaking ties, and the running
  * nearest-center distance is CARRIED in rounded form — `least` of
  * rounded values — so the trajectory is engine-replayable.
  *
  * Scale shape: per round ONE scan of the (id, vec, dist) frame with
  * the newest center as a PLAN-LITERAL vector (the model-as-literal
  * discipline — no join), one TakeOrdered(1) for the argmax, frames
  * pinned and freed per round. Work is O(n·d·k) scan-side
  * compute; the selected vector collected per round is the bounded
  * O(d) artifact read.
  *
  * Degenerate inputs fail loud or stop clean: an empty frame raises a
  * clear requirement error, and when every remaining point coincides
  * with a chosen center (k exceeds the number of distinct points) the
  * traversal STOPS instead of re-selecting duplicates, so fewer than k
  * rows may come back. The id column is cast to bigint internally.
  *
  * Returns k rows `(center_rank, idCol, sel_dist2)` — `sel_dist2` the
  * rounded distance that made the point the argmax (NULL for rank 1;
  * non-increasing thereafter — the 2-approx coverage certificate: all
  * points sit within sel_dist2(k) of a center... by the classic
  * argument, within the LAST selection radius).
  */
object KCenter {

  private def dist2(v: Column, center: Seq[Double]): Column =
    round(
      aggregate(
        zip_with(v, array(center.map(lit): _*), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x),
      6)

  def greedyCenters(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = RunScope.scope("KCenter.greedyCenters") {
    require(k >= 1, "k must be >= 1")
    val spark = vecs.sparkSession
    // id is carried as bigint so the collected argmax row has one
    // physical type regardless of the caller's int/long id column
    val v = vecs.select(
      col(idCol).cast("long").as("__id"),
      transform(col(vecCol), x => x.cast("double")).as("__v"))
    val firstRows = v.orderBy("__id").limit(1).collect()
    require(firstRows.nonEmpty, "greedyCenters: input frame is empty")
    val first = firstRows(0)
    var centers = List[(Int, Long, Option[Double])](
      (1, first.getLong(0), None))
    var cv: Seq[Double] = first.getSeq[Double](1)
    var cur = v.select(col("__id"), col("__v"),
      dist2(col("__v"), cv).as("__d")).pin()
    var exhausted = false
    for (r <- 2 to k if !exhausted) {
      val best = cur
        .orderBy(col("__d").desc, col("__id").asc)
        .limit(1).collect()(0)
      // all remaining points coincide with a chosen center: selecting
      // further would emit duplicate centers with sel_dist2=0 — stop
      if (best.getDouble(2) <= 0.0) { exhausted = true }
      else {
        centers ::= ((r, best.getLong(0), Some(best.getDouble(2))))
        cv = best.getSeq[Double](1)
        val next = cur.select(col("__id"), col("__v"),
          least(col("__d"), dist2(col("__v"), cv)).as("__d"))
          .pin()
        RunScope.free(cur)
        cur = next
      }
    }
    import spark.implicits._
    centers.reverse
      .map { case (r, id, d) => (r, id, d) }
      .toDF("center_rank", idCol, "sel_dist2")
      .select(col("center_rank").cast("int"), col(idCol),
        col("sel_dist2").cast("double"))
  }
}
