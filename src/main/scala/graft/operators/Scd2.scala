package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD2 (slowly-changing-dimension type 2) history build: turn a change
  * feed of keyed rows into validity intervals — each change is in force
  * from its own timestamp until the key's next change; the last change
  * per key is current.
  *
  * This is the history-preserving counterpart of the reference's
  * last-write-wins upsert sync (`SisConnectorService.java` keeps only the
  * final state of each row; `banner-connector` has no temporal tracking):
  * warehouse-side consumers usually want both the current row AND when
  * each prior version was live.
  *
  * Shape at scale: one window pass partitioned by the natural key —
  * shuffle on the key (the same partitioning the downstream merge would
  * need anyway), per-key sort bounded by that key's change count, no
  * global ordering anywhere. Ties on the timestamp are broken by
  * `tieBreak` (a unique id), making intervals deterministic under replay.
  */
object Scd2 {

  /** Adds `valid_from`, `valid_to` (null = still current) and
    * `is_current` to `changes`. `tsCol` is the change time, `tieBreak`
    * totalizes the per-key order for equal timestamps; zero-length
    * intervals (two changes at the same instant) are kept — the earlier
    * one by tie-break closes at its own timestamp.
    */
  def history(
      changes: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      tieBreak: String): DataFrame = {
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(tieBreak))
    changes
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Incrementally fold a new change batch into an existing [[history]]
    * frame: keys untouched by the batch pass through unchanged; affected
    * keys are rebuilt from (their prior changes ∪ the batch) with the
    * same window pass. Work ∝ batch size + affected keys' history — never
    * the full dimension (the incremental-sync principle applied to SCD2
    * maintenance). Late and out-of-order changes are correct by
    * construction: the rebuild re-sorts each affected key's complete
    * change set, re-closing whatever intervals the late row lands inside.
    *
    * Invariant (oracle- and spec-gated):
    * `applyChanges(history(A), B) == history(A ∪ B)`.
    */
  def applyChanges(
      hist: DataFrame,
      changes: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      tieBreak: String): DataFrame = {
    val affected = changes.select(keyCols.map(col): _*).distinct()
    val untouched = hist.join(affected, keyCols, "left_anti")
    val replay = hist.join(affected, keyCols, "left_semi")
      .drop("valid_from", "valid_to", "is_current")
    history(replay.unionByName(changes), keyCols, tsCol, tieBreak)
      .unionByName(untouched)
  }
}
