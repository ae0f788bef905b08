package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.LongType

import graft.{RunScope, Tables}

/** Structured Streaming operators over the events table.
  *
  * The reference is a single batch run (SURVEY.md §2.5 — re-runs give
  * incremental sync via the upsert/anti-delete diff), so streaming here is
  * the engine's forward extension: the same event analytics as the batch
  * queries q_e1/q_e2, expressed as streaming plans that run to completion
  * with `Trigger.AvailableNow` — micro-batch per sync run, which is exactly
  * how a 100 TB pipeline would consume a landing zone incrementally
  * (checkpointed offsets + exactly-once file listing, no reprocessing).
  *
  * Scale notes: the windowed aggregation carries watermarked state bounded
  * by (#open windows × #event types); the sessionizer's state is one small
  * struct per active user key, dropped on event-time timeout — both are the
  * canonical bounded-state shapes for unbounded inputs.
  */
object EventStreams {

  /** Event row with microsecond epoch timestamp (keeps stateful-op state
    * flat and encodable).
    */
  final case class Event(user_id: Long, event_id: Long, ts_us: Long)

  final case class SessionState(lastTsUs: Long, nEvents: Int, nSessions: Int)

  final case class SessionAgg(user_id: Long, n_events: Int, n_sessions: Int)

  /** 30-minute session gap, as microseconds. */
  val sessionGapUs: Long = 1800L * 1000 * 1000

  /** Streaming twin of q_e1: tumbling 1-hour windows per event type with a
    * 2-hour watermark. Decimal-exact value sums (partial-aggregation-order
    * independent), projected back to the batch query's column shape.
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).cast("int").as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_bucket"),
        col("event_type"), col("n"), col("total_value"))

  /** Per-user session/event counters via mapGroupsWithState: a session
    * starts at any event ≥30 min after the previous one. Within a batch the
    * group's events are sorted by (ts, event_id) — same total order as the
    * batch twin q_e2.
    */
  private def updateSession(
      userId: Long,
      events: Iterator[Event],
      state: GroupState[SessionState]): SessionAgg = {
    val sorted = events.toSeq.sortBy(e => (e.ts_us, e.event_id))
    var s = state.getOption.getOrElse(SessionState(Long.MinValue, 0, 0))
    sorted.foreach { e =>
      val newSession = s.lastTsUs == Long.MinValue || e.ts_us - s.lastTsUs > sessionGapUs
      s = SessionState(e.ts_us, s.nEvents + 1, s.nSessions + (if (newSession) 1 else 0))
    }
    state.update(s)
    SessionAgg(userId, s.nEvents, s.nSessions)
  }

  def sessionCounts(events: DataFrame)(implicit spark: SparkSession): Dataset[SessionAgg] = {
    import spark.implicits._
    events
      .select(
        col("user_id").cast("long"),
        col("event_id").cast("long"),
        unix_micros(col("ts")).as("ts_us"))
      .as[Event]
      .groupByKey(_.user_id)
      // NoTimeout: an AvailableNow run is bounded, so state never needs
      // eviction; an unbounded deployment would switch to EventTimeTimeout
      // and drop users idle past the gap — same update function.
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(updateSession _)
  }

  /** Streaming exact dedup on key columns. Unbounded state (one entry per
    * distinct key) — exact forever, the right tool when the key space is
    * bounded (entity ids). For unbounded key spaces switch to
    * [[dedupKeysWithinWatermark]].
    */
  def dedupKeys(events: DataFrame, keys: Seq[String]): DataFrame =
    events.select(keys.head, keys.tail: _*).dropDuplicates(keys)

  /** Streaming dedup with watermark-bounded state: duplicates arriving
    * within the watermark horizon are suppressed, state for expired keys
    * is dropped — the 100 TB posture for unbounded key spaces (late
    * duplicates beyond the horizon re-emit, by declared contract).
    */
  def dedupKeysWithinWatermark(events: DataFrame, keys: Seq[String]): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
      .select(keys.head, keys.tail: _*)

  /** Stream-stream interval join: every purchase matched to every click
    * by the same user in the preceding hour. Both sides are watermarked
    * and the join condition bounds event-time distance, so the state
    * store only ever holds one watermark horizon of each side — Spark
    * drops a buffered click once no future purchase can reach back to it.
    * That bounded buffer is what distinguishes a scalable stream-stream
    * join from an unbounded one: without the time bound the state grows
    * with the stream.
    */
  def clickAttributionJoin(events: DataFrame): DataFrame =
    clickAttributionJoin(events, "inner")

  /** `joinType` "inner" emits matches as they form; "left_outer" ALSO
    * emits a null-extended row for a purchase once the watermark proves
    * no click can ever match it — i.e. when the global watermark
    * (min of both sides' max event time, minus the 2 h delay) passes the
    * purchase's timestamp. Purchases younger than the final watermark
    * horizon never null-emit, BY DESIGN: the stream cannot know a late
    * click won't still arrive. The q_st9 oracle replays exactly that
    * horizon rule in SQL, so the semantics are pinned, not hand-waved.
    */
  def clickAttributionJoin(events: DataFrame, joinType: String): DataFrame = {
    // One shared narrowed pass: the two join branches below are separate
    // leaves in the micro-batch physical plan (stream-stream self-joins
    // re-scan the source per side — Spark has no streaming subtree reuse),
    // so narrow the pass both sides share: the isin filter + 4-column
    // projection push down into BOTH parquet scans, keeping the double
    // read to the few relevant columns/rows instead of the whole table.
    val narrowed = events
      .filter(col("event_type").isin("click", "purchase"))
      .select("event_id", "user_id", "event_type", "ts")
    val clicks = narrowed
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val purchases = narrowed
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    purchases
      .join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
        joinType)
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
  }

  /** Stream-static enrichment: the event stream joined to a warehouse
    * dimension (a STATIC batch frame — re-planned each micro-batch, so at
    * broadcastable size it never shuffles the stream side), aggregated
    * per dimension attribute. The canonical "enrich the landing zone
    * against reference data" shape: the stream carries ids, the warehouse
    * carries attributes, and state is one row per group — no watermark
    * needed for a keyed running aggregate in Complete/Update mode.
    */
  def segmentTotals(events: DataFrame, customer: DataFrame): DataFrame =
    events
      .join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).cast("int").as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))

  /** Default state-store partition count for the AvailableNow runners.
    *
    * Stateful streaming parallelism is NOT batch parallelism: the number
    * of state-store instances is frozen from `spark.sql.shuffle.partitions`
    * at first query start (checkpoint-locked thereafter), AQE never
    * coalesces stateful shuffles, and every instance pays a fixed
    * per-micro-batch cost (store load + delta write + commit) even in the
    * no-data finalization batch. Profiled at sf0.1/local[32]: the
    * stream-stream join at 32 partitions spends ~4 s/batch on that fixed
    * overhead (128 store instances) vs ~1 s at 8 — a 4× end-to-end win
    * with identical results. Size this to state volume ÷ target
    * per-instance state (hundreds on a real cluster with TBs of state),
    * never blindly to core count.
    */
  val defaultStatePartitions: Int = 8

  /** Session clone whose shuffle (= state-store) partitioning is sized for
    * streaming state rather than inherited from the batch session. Cloning
    * shares the SparkContext and catalog-read path; conf changes stay local
    * to the clone.
    */
  def streamSession(spark: SparkSession, statePartitions: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    s
  }

  /** Run a streaming frame to completion (AvailableNow) into a named
    * in-memory table and return it as a batch DataFrame — the bridge that
    * lets the driver's batch oracle verify streaming operators.
    */
  def runToTable(
      spark: SparkSession,
      streaming: DataFrame,
      name: String,
      mode: OutputMode): DataFrame = {
    val q = streaming.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  /** q_e1's streaming twin, run to completion — oracle-identical output. */
  def windowedAggAvailableNow(
      spark: SparkSession,
      sfDir: String,
      statePartitions: Int = defaultStatePartitions): DataFrame = {
    val s = streamSession(spark, statePartitions)
    runToTable(
      s,
      windowedAgg(Tables.readStream(s, sfDir, "events")),
      s"stream_window_agg_${System.nanoTime()}",
      OutputMode.Complete())
      .orderBy("hour_bucket", "event_type")
  }

  /** Streaming per-hour distinct users via the built-in DataSketches HLL
    * aggregate — the cardinality question ("unique users this hour")
    * asked ON the stream, where exact `count_distinct` is unsupported
    * (unbounded per-group value state) and the sketch is the production
    * answer: fixed-size register state per window, merge-associative
    * across micro-batches. HLL sketches are DETERMINISTIC on the value
    * SET (order-independent merges), so the streamed estimate must equal
    * the batch twin's estimate exactly — which this gate asserts,
    * alongside the q_a11 ±5% accuracy bound against the batch exact
    * count. Complete mode under AvailableNow, the [[windowedAggAvailableNow]]
    * posture; an unbounded deployment adds a watermark and Append.
    *
    * @return (hour_bucket, exact_n, est_eq, est_ok)
    */
  def hllDistinctUsersAvailableNow(
      spark: SparkSession,
      sfDir: String,
      statePartitions: Int = defaultStatePartitions): DataFrame = {
    val s = streamSession(spark, statePartitions)
    val hourOf = (c: org.apache.spark.sql.Column) =>
      date_format(date_trunc("hour", c), "yyyy-MM-dd HH:mm:ss")
    val streamed = runToTable(
      s,
      Tables.readStream(s, sfDir, "events")
        .groupBy(hourOf(col("ts")).as("hour_bucket"))
        .agg(hll_sketch_agg(col("user_id")).as("__sk")),
      s"stream_hll_${System.nanoTime()}",
      OutputMode.Complete())
      .select(col("hour_bucket"),
        hll_sketch_estimate(col("__sk")).as("__est_stream"))
    val batch = graft.Tables.load(spark, sfDir, "events")
      .groupBy(hourOf(col("ts")).as("hour_bucket"))
      .agg(
        hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("__est_batch"),
        count_distinct(col("user_id")).as("exact_n"))
    streamed.join(batch, Seq("hour_bucket"))
      .select(
        col("hour_bucket"),
        col("exact_n").cast("bigint").as("exact_n"),
        (col("__est_stream") === col("__est_batch")).as("est_eq"),
        (abs(col("__est_batch") - col("exact_n")) <= col("exact_n") * 0.05)
          .as("est_ok"))
      .orderBy("hour_bucket")
  }

  /** NATIVE streaming session windows (q_e2b's streaming twin): the
    * built-in `session_window` aggregation — Spark's state store does the
    * window-merging that [[sessionCounts]] hand-rolls in
    * `mapGroupsWithState` — then one batch rollup to per-user
    * (n_events, n_sessions). Complete mode: an AvailableNow run is
    * bounded, so holding every open session in state is the same
    * retention [[sessionCounts]] already accepts (NoTimeout); an
    * unbounded deployment switches to watermark + append and emits each
    * session once it is watermark-closed. Session identity follows the
    * batch operator exactly — events merge while gaps are < 30 min — so
    * the q_e2b lag-SQL oracle transfers verbatim.
    */
  def sessionWindowAvailableNow(
      spark: SparkSession,
      sfDir: String,
      statePartitions: Int = defaultStatePartitions): DataFrame = {
    val s = streamSession(spark, statePartitions)
    val perSession = Tables.readStream(s, sfDir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("__n"))
    runToTable(
      s,
      perSession,
      s"stream_session_window_${System.nanoTime()}",
      OutputMode.Complete())
      .groupBy("user_id")
      .agg(
        sum(col("__n")).cast("int").as("n_events"),
        count(lit(1)).cast("int").as("n_sessions"))
      .orderBy("user_id")
  }

  /** Streaming dedup run to completion: the distinct (user, event_type)
    * key set — batch-oracle-verifiable (first-arrival payloads would be
    * arrival-order-dependent; the key set is not).
    */
  def dedupKeysAvailableNow(
      spark: SparkSession,
      sfDir: String,
      statePartitions: Int = defaultStatePartitions): DataFrame = {
    val s = streamSession(spark, statePartitions)
    runToTable(
      s,
      dedupKeys(Tables.readStream(s, sfDir, "events"), Seq("user_id", "event_type")),
      s"stream_dedup_${System.nanoTime()}",
      OutputMode.Append())
      .orderBy("user_id", "event_type")
  }

  /** The interval join run to completion — batch-oracle-verifiable. */
  def clickAttributionAvailableNow(
      spark: SparkSession,
      sfDir: String,
      statePartitions: Int = defaultStatePartitions): DataFrame = {
    val s = streamSession(spark, statePartitions)
    runToTable(
      s,
      clickAttributionJoin(Tables.readStream(s, sfDir, "events")),
      s"stream_attribution_${System.nanoTime()}",
      OutputMode.Append())
      .orderBy("purchase_id", "click_id")
  }

  /** The left-outer interval join run to completion: matched rows plus
    * watermark-proven-unmatched purchases with null click columns.
    */
  def clickAttributionLeftOuterAvailableNow(
      spark: SparkSession,
      sfDir: String,
      statePartitions: Int = defaultStatePartitions): DataFrame = {
    val s = streamSession(spark, statePartitions)
    runToTable(
      s,
      clickAttributionJoin(Tables.readStream(s, sfDir, "events"), "left_outer"),
      s"stream_attribution_outer_${System.nanoTime()}",
      OutputMode.Append())
      .orderBy(col("purchase_id"), col("click_id").asc_nulls_first)
  }

  /** The stream-static enrichment aggregate run to completion. */
  def segmentTotalsAvailableNow(
      spark: SparkSession,
      sfDir: String,
      statePartitions: Int = defaultStatePartitions): DataFrame = {
    val s = streamSession(spark, statePartitions)
    runToTable(
      s,
      segmentTotals(
        Tables.readStream(s, sfDir, "events"),
        graft.Tables.load(s, sfDir, "customer")),
      s"stream_segment_totals_${System.nanoTime()}",
      OutputMode.Complete())
      .orderBy("c_mktsegment")
  }

  /** Event row carrying its type, for the transition stream. */
  final case class TypedEvent(
      user_id: Long, event_id: Long, ts_us: Long, event_type: String)

  /** Per-user cursor: the latest event seen so far (by (ts, id)). */
  final case class LastEvent(ts_us: Long, event_id: Long, event_type: String)

  final case class Transition(cur: String, next: String)

  /** Streaming successor pairing for the Markov transition model
    * ([[graft.operators.Markov]]): per user, each arriving event pairs
    * with the remembered previous one — state is ONE small cursor struct
    * per user, so a year-long stream holds exactly |users| rows of state
    * no matter how many events flow through. Within a batch the group's
    * events sort by (ts, event_id) — the same total order as the batch
    * twin q_e9; across batches the cursor carries the chain over the
    * boundary.
    */
  private def updateTransitions(
      userId: Long,
      events: Iterator[TypedEvent],
      state: GroupState[LastEvent]): Iterator[Transition] = {
    val sorted = events.toSeq.sortBy(e => (e.ts_us, e.event_id))
    var prev = state.getOption
    val out = Seq.newBuilder[Transition]
    sorted.foreach { e =>
      prev.foreach(p => out += Transition(p.event_type, e.event_type))
      prev = Some(LastEvent(e.ts_us, e.event_id, e.event_type))
    }
    prev.foreach(state.update)
    out.result().iterator
  }

  def eventTransitions(events: DataFrame)(implicit spark: SparkSession): Dataset[Transition] = {
    import spark.implicits._
    events
      .select(
        col("user_id").cast("long"),
        col("event_id").cast("long"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_type"))
      .as[TypedEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(updateTransitions _)
  }

  /** q_e9's streaming twin, run to completion: the transition stream is
    * folded into the (cur, next, n, p) matrix by the same reduced-matrix
    * tail the batch operator uses.
    */
  def markovTransitionsAvailableNow(
      spark: SparkSession,
      sfDir: String,
      statePartitions: Int = defaultStatePartitions): DataFrame = {
    implicit val s: SparkSession = streamSession(spark, statePartitions)
    val trans = runToTable(
      s,
      eventTransitions(Tables.readStream(s, sfDir, "events")).toDF(),
      s"stream_transitions_${System.nanoTime()}",
      OutputMode.Append())
    val counts = trans.groupBy("cur", "next").agg(count(lit(1)).as("n"))
    // both branches read the same memory-sink table, whose attributes have
    // fixed ids — rename the ctx side so the self-join resolves
    val ctx = counts.groupBy("cur").agg(sum(col("n")).as("__c")).toDF("__cur2", "__c")
    counts
      .join(broadcast(ctx), col("cur") === col("__cur2"))
      .select(col("cur"), col("next"), col("n"),
        (col("n").cast("double") / col("__c")).as("p"))
      .orderBy("cur", "next")
  }

  /** Streaming materialized-view maintenance: the per-customer order
    * count/total view starts from a base build, then a CHANGE STREAM of
    * signed delta rows folds in via [[graft.operators.MvMaintain]] per
    * micro-batch — each batch costs work ∝ its own key set, and the view
    * version on disk is always the exact aggregate of all rows seen.
    * Same foreachBatch posture as [[IncrementalSync]]: the stream drives
    * WHICH keys change; the fold itself is the batch operator, so batch
    * and streaming can never drift apart semantically.
    */
  def mvMaintainAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.MvMaintain
    val mvDir = RunScope.scratchDir("graft_stream_mv")
    val orders = Tables.load(spark, sfDir, "orders")
    MvMaintain.buildMv(orders.where(col("o_orderkey") % 5 =!= 0), "o_custkey", "o_totalprice")
      .write.parquet(s"$mvDir/v0")
    var version = 0
    // the change stream: inserts are the %5==0 rows, retractions the
    // base rows divisible by 11 — derived per-row, arriving as a stream
    val deltas = Tables.readStream(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("sign",
        when(col("o_orderkey") % 5 === 0, 1)
          .when(col("o_orderkey") % 11 === 0, -1))
      .where(col("sign").isNotNull)
    val q = deltas.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val cur = spark.read.parquet(s"$mvDir/v$version")
        MvMaintain.applyDelta(cur, batch, "o_custkey", "sign", "o_totalprice")
          .write.parquet(s"$mvDir/v${version + 1}")
        version += 1
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$mvDir/v$version")
      .select(col("o_custkey"), col("n_rows"), col("sum_v").cast("double").as("sum_v"))
      .orderBy("o_custkey")
  }

  /** Streaming CDC merge: the customer snapshot starts on disk, then a
    * change stream (updates, deletes, inserts — q_f6's deterministic
    * batch, derived scan-side in ONE pass via an exploded struct array,
    * no stream self-union) folds in per micro-batch through
    * [[graft.operators.SyncDiff.applyCdc]] — the batch MERGE operator,
    * so batch and streaming cannot drift semantically (the q_st11
    * posture). Each key is changed by at most one stream row, so the
    * sequential per-batch application converges to the one-shot batch
    * merge regardless of how the source splits into micro-batches.
    */
  def cdcMergeAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.SyncDiff
    val snapDir = RunScope.scratchDir("graft_stream_cdc")
    Tables.load(spark, sfDir, "customer").write.parquet(s"$snapDir/v0")
    var version = 0
    val cust = Tables.readStream(spark, sfDir, "customer")
    val isDel = col("c_custkey") % 7 === 3
    val isMod = isDel || col("c_custkey") % 10 === 0
    val isIns = col("c_custkey") % 97 === 0
    val changeStruct = struct(
      col("c_custkey"),
      when(isDel, col("c_name"))
        .otherwise(concat(col("c_name"), lit(" (updated)"))).as("c_name"),
      col("c_nationkey"),
      when(isDel, col("c_acctbal")).otherwise(col("c_acctbal") + 100).as("c_acctbal"),
      col("c_mktsegment"),
      when(isDel, lit("D")).otherwise(lit("U")).as("op"))
    val insertStruct = struct(
      (col("c_custkey") + 1000000L).as("c_custkey"),
      concat(lit("New Customer "), col("c_custkey").cast("string")).as("c_name"),
      col("c_nationkey"),
      lit(0.0).as("c_acctbal"),
      lit("BUILDING").as("c_mktsegment"),
      lit("U").as("op"))
    val changes = cust
      .select(explode(filter(
        array(when(isMod, changeStruct), when(isIns, insertStruct)),
        c => c.isNotNull)).as("c"))
      .select("c.*")
    val q = changes.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val cur = spark.read.parquet(s"$snapDir/v$version")
        SyncDiff.applyCdc(cur, batch, Seq("c_custkey"))
          .write.parquet(s"$snapDir/v${version + 1}")
        version += 1
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$snapDir/v$version").orderBy("c_custkey")
  }

  /** q_e2's streaming twin, run to completion. Update mode re-emits a
    * user's counters every batch it appears in; counters are monotone, so
    * the final value per user is the row with max n_events.
    */
  def sessionCountsAvailableNow(
      spark: SparkSession,
      sfDir: String,
      statePartitions: Int = defaultStatePartitions): DataFrame = {
    implicit val s: SparkSession = streamSession(spark, statePartitions)
    val updates = runToTable(
      s,
      sessionCounts(Tables.readStream(s, sfDir, "events")).toDF(),
      s"stream_sessions_${System.nanoTime()}",
      OutputMode.Update())
    updates
      .groupBy("user_id")
      .agg(
        max(col("n_events")).as("n_events"),
        max_by(col("n_sessions"), col("n_events")).as("n_sessions"))
      .orderBy("user_id")
  }
}
