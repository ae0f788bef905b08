package graft.operators

import org.apache.spark.sql.DataFrame

/** Diff-sync: the reference upserts every assembled source entity, then
  * deletes target records whose key never appeared in the source
  * (remove-as-you-go map at SisConnectorService.java:153,188; final sweep
  * :463-470). Equivalent set semantics, one distributed plan:
  *
  *   upserts = source                      (POST-as-upsert, retry-safe)
  *   deletes = target ⟕̸ source  (left_anti on the natural key)
  *
  * The anti-join broadcastable when the upsert key set is small; otherwise a
  * shuffled hash join — either way no driver-side key map, so the target
  * snapshot is not bounded by driver heap (the reference silently truncated
  * the snapshot at 100 rows — SisConnectorService.java:694).
  */
object SyncDiff {

  final case class SyncPlan(upserts: DataFrame, deletes: DataFrame)

  /** Invariant: delete keys ∪ source keys ⊇ target keys, and delete keys
    * ∩ source keys = ∅ (checked by the `SyncDiffSpec` property "delete∩source=∅
    * and target ⊆ source∪deletes (key-space partition)" in DedupSpec.scala).
    */
  def plan(source: DataFrame, target: DataFrame, keyCols: Seq[String]): SyncPlan = {
    val deletes = target.join(source.select(keyCols.head, keyCols.tail: _*), keyCols, "left_anti")
    SyncPlan(upserts = source, deletes = deletes)
  }

  /** Apply a CDC change batch to a snapshot — the MERGE INTO shape:
    * rows of `changes` with `opCol` = "D" delete their key from the
    * target; any other op is an upsert (replace-or-insert of the whole
    * row). `changes` must carry exactly the target's columns plus
    * `opCol`, and at most one change per key (dedup upstream with
    * [[graft.operators.Dedup.lastRowWins]] — two changes to one key in
    * one batch have no defined winner here).
    *
    * One anti-join (target minus touched keys) + one union: the anti
    * side broadcasts when the batch is small — work ∝ target scan +
    * change batch, never a full-outer of the two.
    */
  def applyCdc(
      target: DataFrame,
      changes: DataFrame,
      keyCols: Seq[String],
      opCol: String = "op"): DataFrame = {
    val untouched = target.join(
      changes.select(keyCols.head, keyCols.tail: _*), keyCols, "left_anti")
    val upserts = changes
      .filter(org.apache.spark.sql.functions.col(opCol) =!= "D")
      .drop(opCol)
      .select(target.columns.head, target.columns.tail: _*)
    untouched.unionByName(upserts)
  }
}
