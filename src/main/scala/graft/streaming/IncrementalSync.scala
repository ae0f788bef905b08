package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Tables
import graft.operators.Dedup
import graft.plans.SyncRun
import graft.sources.Http

/** Continuous form of [[graft.plans.SyncRun]]: a STREAM of changed source
  * rows drives per-micro-batch incremental sync — the streaming twin of
  * the reference's cron-triggered full resync (SisConnectorApp), with work
  * proportional to the CHANGE SET instead of the snapshot.
  *
  * Design choice (SURVEY.md §7.3 "sync-diff is the incremental story"):
  * `foreachBatch`, not chained streaming aggregations. The assembly plan
  * has two keyed collect aggregations whose pure-streaming form needs
  * unbounded per-key state and restricted chained-stateful support;
  * scoping each micro-batch to its changed keys runs the PROVEN batch
  * assembly on a delta-sized input — at 100 TB you process the change
  * stream, never re-shuffle the corpus. Sink idempotence (POST-as-upsert,
  * 404-tolerant DELETE) makes micro-batch replay after failure safe, so
  * end-to-end semantics are effectively exactly-once on the target.
  *
  * Per micro-batch of updated customer rows:
  *   1. rows now IN the segment → re-assemble their entities (batch join
  *      against the warehouse detail/dimension tables) → upsert;
  *   2. rows now OUT of the segment → delete by key (the incremental form
  *      of the batch anti-diff: a key's disappearance from the segment
  *      arrives as its updated out-of-segment row).
  */
object IncrementalSync {

  final case class BatchCounts(upserts: Long, deletes: Long)

  /** Apply one change-batch of customer rows. Exposed for testing and for
    * callers with their own streaming driver. It runs [[SyncRun]]'s stage
    * list with the [[SyncRun.LeftSegment]] diff, so the upsert and the
    * delete run at the same time.
    *
    * Three invariants the naive "assemble the batch, delete the rest" form
    * violates:
    *   - ONE FINAL STATE PER KEY: several changes to one key can land in a
    *     single micro-batch (a restart folds pending waves into one
    *     AvailableNow batch). The batch is collapsed per key FIRST —
    *     ordered by `versionCols` when the feed carries a version, else by
    *     a deterministic total order — so a key that flipped into the
    *     segment is never upserted from its new row and then deleted from
    *     its stale one.
    *   - VALID ROWS ONLY: the collapsed rows pass [[SyncRun]]'s
    *     coercions and rules; an invalid row is neither upserted nor
    *     deleted this batch, as [[SyncRun.run]] withholds quarantined
    *     keys.
    *   - CHANGE-SET-BOUND WORK: [[graft.plans.EntityAssembly.assembleFrom]]
    *     prunes the detail tables to the batch's keys (orders semi-joined
    *     on custkey, then lineitem joined to the surviving orders) BEFORE
    *     the two collect aggregations, so a 1-row change batch aggregates
    *     a handful of detail rows, not the corpus.
    */
  def applyBatch(
      spark: SparkSession,
      sfDir: String,
      batch: DataFrame,
      transport: Http.Transport,
      tokens: Http.TokenSource,
      entityPath: String,
      versionCols: Seq[String] = Seq.empty): BatchCounts = {
    val wave = SyncRun.plan(
      Dedup.lastRowWinsTotal(batch, Seq("c_custkey"), versionCols),
      Tables.load(spark, sfDir, _), SyncRun.LeftSegment)
    val done = SyncRun.sink(wave, transport, tokens, entityPath)
    // a failed batch fails its stream, which replays it on restart; the
    // sinks are idempotent, so the replay converges
    if (done.errors.nonEmpty) throw new RuntimeException(done.errors.mkString("; "))
    BatchCounts(done.upsert.succeeded, done.delete.succeeded)
  }

  /** Run the change stream from a parquet directory (file source) until
    * current data is drained (AvailableNow — same restart-to-catch-up
    * contract as the event twins in [[EventStreams]]).
    */
  def run(
      spark: SparkSession,
      sfDir: String,
      updatesDir: String,
      transport: Http.Transport,
      tokens: Http.TokenSource,
      entityPath: String,
      checkpointDir: String): StreamingQuery = {
    spark.readStream
      .schema(Tables.schema(spark, sfDir, "customer"))
      .parquet(updatesDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        applyBatch(spark, sfDir, batch.toDF(), transport, tokens, entityPath)
        ()
      }
      .start()
  }
}
