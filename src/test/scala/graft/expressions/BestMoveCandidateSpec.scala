package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the move-phase fusion: the per-node best candidate from the
  * single [[BestMoveCandidate]] aggregate must agree with the best row
  * of the unfused all-candidates frame (`Louvain.weightedGainsAll`)
  * under the global (gain DESC, node ASC, c ASC) total order — on a
  * community-structured graph, a weighted contracted graph with
  * self-loops, and a labeling where some nodes have no cross-community
  * neighbor.
  */
class BestMoveCandidateSpec extends SparkSpec {
  import spark.implicits._

  private def parts(w: DataFrame): (DataFrame, DataFrame) = {
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
    (und, deg)
  }

  private def viaAll(und: DataFrame, deg: DataFrame, lab: DataFrame, m: Long) =
    graft.operators.Louvain.weightedGainsAll(und, deg, lab, m)
      .orderBy(col("gain").desc, col("node").asc, col("c").asc)
      .select("node", "a_label", "c", "k", "ka", "d", "dca", "dcb", "gain")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq

  private def viaFused(w: DataFrame, lab: DataFrame, m: Long) = {
    val (und, deg) = parts(w)
    graft.operators.Louvain
      .weightedGains(und, deg, lab, m)
      .orderBy(col("gain").desc, col("node").asc, col("c").asc)
      .select("node", "a_label", "c", "k", "ka", "d", "dca", "dcb", "gain")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
  }

  private def check(wRows: Seq[(Long, Long, Long)], labRows: Seq[(Long, Long)]): Unit = {
    val w = wRows.toDF("a", "b", "wt")
    val lab = labRows.toDF("__n", "__l")
    val m = wRows.map(_._3).sum
    val (und, deg) = parts(w)
    val all = viaAll(und, deg, lab, m)
    val fused = viaFused(w, lab, m)
    // fused = per-node best; the unfused frame reduced per node under
    // the same order must match row for row
    val allPerNodeBest = all.groupBy(_._1).values
      .map(_.minBy(r => (-r._9, r._3))).toSeq
      .sortBy(r => (-r._9, r._1, r._3))
    assert(fused === allPerNodeBest)
    // and in particular the GLOBAL argmax — what every consumer takes
    assert(fused.headOption === all.headOption)
  }

  test("unweighted community graph: fused == unfused per-node best") {
    // two triangles bridged by one edge; labels deliberately suboptimal
    val edges = Seq((0L, 1L, 1L), (1L, 2L, 1L), (0L, 2L, 1L),
      (3L, 4L, 1L), (4L, 5L, 1L), (3L, 5L, 1L), (2L, 3L, 1L))
    val lab = Seq(0L -> 0L, 1L -> 0L, 2L -> 10L, 3L -> 10L, 4L -> 10L, 5L -> 0L)
    check(edges, lab)
  }

  test("weighted contracted graph with self-loops") {
    val edges = Seq((0L, 0L, 5L), (1L, 1L, 3L), (0L, 1L, 2L),
      (1L, 2L, 4L), (0L, 2L, 1L), (2L, 2L, 2L))
    check(edges, Seq(0L -> 0L, 1L -> 1L, 2L -> 2L))
    check(edges, Seq(0L -> 0L, 1L -> 0L, 2L -> 2L))
  }

  test("nodes without cross-community neighbors produce no row") {
    // isolated clique, all one community: zero candidates anywhere
    val edges = Seq((0L, 1L, 1L), (1L, 2L, 1L), (0L, 2L, 1L))
    val lab = Seq(0L -> 7L, 1L -> 7L, 2L -> 7L)
    val w = edges.toDF("a", "b", "wt")
    assert(viaFused(w, lab.toDF("__n", "__l"), 3L).isEmpty)
  }
}
