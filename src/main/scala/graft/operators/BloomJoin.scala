package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

import graft.RunScope.Pinning
import graft.expressions.BloomMightContainLong

/** Bloom-pruned equi-join: build a Bloom filter over the (already
  * filtered) dimension side's keys, probe it scan-side on the fact side,
  * then run the exact join on the survivors.
  *
  * Why at 100 TB: when a selective dimension predicate survives only a
  * few percent of keys, the join itself still shuffles (or at least
  * buffers) EVERY fact row before discarding the misses. The Bloom probe
  * moves that discard to the fact scan — the pruned rows never enter the
  * exchange. This is exactly Spark's own runtime-filter rewrite
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`), exposed as an
  * explicit operator for when the optimizer's creation heuristics
  * (stats thresholds, broadcast-only triggers) don't fire.
  *
  * The filter build is one aggregate pass over the dimension side (the
  * sketch is megabytes for tens of millions of keys — a model artifact
  * like the IVF centroids, not data); `mightContain` has no false
  * negatives, so the composed result equals the plain join exactly.
  */
object BloomJoin {

  /** Inner equi-join of `fact` to `dim` on BIGINT keys with a Bloom
    * pre-filter on the fact side.
    *
    * @param expectedDimKeys sizing for the sketch (overestimate is safe:
    *                        bits scale linearly). Pass it at scale: with a
    *                        size the dim subtree is evaluated exactly once
    *                        before the join (the sketch build). When
    *                        omitted, the dim slice is pinned
    *                        and counted from the materialized blocks, so
    *                        the sizing pass re-reads the checkpoint, not
    *                        the source — still one source evaluation, at
    *                        the cost of pinning the slice in executor
    *                        storage for the join's lifetime.
    * @param fpp             false-positive probability — tune the
    *                        bits-per-key vs pruning-precision trade.
    */
  def prunedEquiJoin(
      fact: DataFrame,
      dim: DataFrame,
      factKey: String,
      dimKey: String,
      expectedDimKeys: Long = -1L,
      fpp: Double = 0.01): DataFrame = {
    val (dimSide, expected) =
      if (expectedDimKeys > 0) (dim, expectedDimKeys)
      else {
        val pinned = dim.pin()
        (pinned, math.max(pinned.count(), 1L))
      }
    val bf = dimSide.stat.bloomFilter(dimKey, expected, fpp)
    val pruned = fact.filter(bridge.column(
      BloomMightContainLong(bridge.expression(col(factKey)), bf)))
    pruned.join(dimSide, pruned(factKey) === dimSide(dimKey))
  }
}
