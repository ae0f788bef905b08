package graft.streaming

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{RunScope, SparkSpec, Tables}

class EventStreamsSpec extends SparkSpec {

  test("streaming windowed agg (AvailableNow) equals the batch twin") {
    val streamed = EventStreams.windowedAggAvailableNow(spark, sf())
    val batch = Tables.load(spark, sf(), "events")
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_bucket"),
        col("event_type"))
      .agg(
        count(lit(1)).cast("int").as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("Tables.readStream serves events directly (normalized ts, batch-equal counts)") {
    // the NANOS-era refusal is gone: the catalog's own file stream must
    // yield the same per-type counts and epoch-micros bounds as the
    // batch read, with ts arriving as a proper TimestampType
    val s = EventStreams.streamSession(spark, 8)
    val streamed = EventStreams.runToTable(
      s,
      Tables.readStream(s, sf(), "events")
        .groupBy("event_type")
        .agg(
          count(lit(1)).cast("long").as("n"),
          min(unix_micros(col("ts"))).as("min_us"),
          max(unix_micros(col("ts"))).as("max_us")),
      s"stream_events_direct_${System.nanoTime()}",
      org.apache.spark.sql.streaming.OutputMode.Complete())
    val batch = Tables.load(spark, sf(), "events")
      .groupBy("event_type")
      .agg(
        count(lit(1)).cast("long").as("n"),
        min(unix_micros(col("ts"))).as("min_us"),
        max(unix_micros(col("ts"))).as("max_us"))
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("streaming sessionizer (AvailableNow) equals the batch lag-window twin") {
    val streamed = EventStreams.sessionCountsAvailableNow(spark, sf())
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val batch = Tables.load(spark, sf(), "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .groupBy("user_id")
      .agg(
        count(lit(1)).cast("int").as("n_events"),
        sum(
          when(
            col("prev_ts").isNull ||
              (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > EventStreams.sessionGapUs,
            1).otherwise(0)).cast("int").as("n_sessions"))
      .select(col("user_id").cast("long"), col("n_events"), col("n_sessions"))
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("stream-stream interval join (AvailableNow) equals the batch interval join") {
    import org.apache.spark.sql.functions._
    val streamed = EventStreams.clickAttributionAvailableNow(spark, sf())
    val ev = graft.Tables.load(spark, sf(), "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
    val batch = purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
    assert(streamed.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("stream-static enrichment join (AvailableNow) equals the batch join-aggregate") {
    val streamed = EventStreams.segmentTotalsAvailableNow(spark, sf())
    val batch = Tables.load(spark, sf(), "events")
      .join(Tables.load(spark, sf(), "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).cast("int").as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
    assert(streamed.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("streaming corpus filter (AvailableNow) equals the batch quality filter") {
    val streamed = CorpusStream.filteredAvailableNow(spark, sf())
    val batch = CorpusStream
      .qualityFilter(Tables.load(spark, sf(), "documents"))
      .select("doc_id", "lang", "n_chars")
    assert(streamed.count() > 0)
    assert(streamed.count() < Tables.load(spark, sf(), "documents").count()) // rules bite
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("bounded-state corpus dedup equals the unbounded variant within the horizon") {
    // deterministic synthetic ingest time (the synthetic corpus ships no
    // landing timestamp): all docs land within one hour, so within-horizon
    // dedup must agree exactly with corpus-lifetime dedup — while holding
    // only watermark-young hashes in state (the contract that makes an
    // infinite landing zone safe to run).
    val ingestTs = timestamp_micros(lit(1700000000000000L) + col("doc_id") % 3600 * 1000000L)
    val bounded = CorpusStream.filteredBoundedStateAvailableNow(
      spark, sf(), ingestTs, horizon = "2 hours")
    val unbounded = CorpusStream.filteredAvailableNow(spark, sf())
    assert(bounded.count() > 0)
    assert(bounded.except(unbounded).isEmpty && unbounded.except(bounded).isEmpty)
  }

  test("streaming Markov transitions (AvailableNow) equal the batch operator") {
    val batch = graft.operators.Markov
      .transitionMatrix(graft.Tables.load(spark, sf(), "events"),
        "user_id", "ts", "event_type", "event_id")
      .orderBy("cur", "next")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val streamed = EventStreams.markovTransitionsAvailableNow(spark, sf())
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(streamed === batch)
  }

  test("streaming CDC merge (AvailableNow) equals the one-shot batch MERGE") {
    val streamed = EventStreams.cdcMergeAvailableNow(spark, sf())
    val cust = Tables.load(spark, sf(), "customer")
    val isDel = col("c_custkey") % 7 === 3
    val mods = cust
      .filter(isDel || col("c_custkey") % 10 === 0)
      .select(
        col("c_custkey"),
        when(isDel, col("c_name"))
          .otherwise(concat(col("c_name"), lit(" (updated)"))).as("c_name"),
        col("c_nationkey"),
        when(isDel, col("c_acctbal")).otherwise(col("c_acctbal") + 100).as("c_acctbal"),
        col("c_mktsegment"),
        when(isDel, lit("D")).otherwise(lit("U")).as("op"))
    val inserts = cust
      .filter(col("c_custkey") % 97 === 0)
      .select(
        (col("c_custkey") + 1000000L).as("c_custkey"),
        concat(lit("New Customer "), col("c_custkey").cast("string")).as("c_name"),
        col("c_nationkey"),
        lit(0.0).as("c_acctbal"),
        lit("BUILDING").as("c_mktsegment"),
        lit("U").as("op"))
    val batch = graft.operators.SyncDiff
      .applyCdc(cust, mods.unionByName(inserts), Seq("c_custkey"))
    assert(streamed.count() > 0)
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("sequential per-batch CDC application converges to the one-shot merge") {
    // the property the streaming path relies on: with at most one change
    // per key, folding the change set in arbitrary micro-batch splits
    // through applyCdc equals applying it once
    import graft.operators.SyncDiff
    import spark.implicits._
    val target = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("k", "v")
    val changes = Seq(
      (2L, "b2", "U"), (3L, "c", "D"), (9L, "i", "U"), (1L, "a2", "U"))
      .toDF("k", "v", "op")
    val oneShot = SyncDiff.applyCdc(target, changes, Seq("k"))
    Seq(col("k") % 2 === 0, col("k") < 3).foreach { split =>
      val seq2 = SyncDiff.applyCdc(
        SyncDiff.applyCdc(target, changes.filter(split), Seq("k")),
        changes.filter(!split), Seq("k"))
      assert(seq2.except(oneShot).isEmpty && oneShot.except(seq2).isEmpty)
    }
  }

  test("sessionizer state update is incremental: splitting a group across calls is equivalent") {
    // pure-function check of the update semantics the stream relies on:
    // folding events in two chunks == folding once (monotone counters)
    import EventStreams._
    val evs = Seq(
      Event(1, 1, 0L), Event(1, 2, 60L * 1000000),
      Event(1, 3, 4000L * 1000000), Event(1, 4, 4100L * 1000000))
    def fold(chunks: Seq[Seq[Event]]): (Int, Int) = {
      var s = SessionState(Long.MinValue, 0, 0)
      chunks.foreach { ch =>
        ch.foreach { e =>
          val ns = s.lastTsUs == Long.MinValue || e.ts_us - s.lastTsUs > sessionGapUs
          s = SessionState(e.ts_us, s.nEvents + 1, s.nSessions + (if (ns) 1 else 0))
        }
      }
      (s.nEvents, s.nSessions)
    }
    assert(fold(Seq(evs)) === ((4, 2)))
    assert(fold(Seq(evs.take(2), evs.drop(2))) === ((4, 2)))
  }

  test("streaming incremental components equal the batch corpus closure") {
    val streamed = graft.streaming.CorpusStream
      .componentsAvailableNow(spark, sf(), shards = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = Tables.load(spark, sf(), "documents")
    val pairs = graft.operators.NearDup.minHashLshPairs(docs, "doc_id", "text",
      k = 3, numPerm = 64, bands = 16, threshold = 0.8)
    val batch = graft.operators.ConnectedComponents
      .assignClusters(docs, "doc_id", pairs)
      .select("doc_id", "cluster_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
    assert(streamed.exists { case (id, c) => id != c },
      "the corpus's planted near-dups must form at least one real cluster")
  }

  test("streaming run report: per-batch folds sum to the rendered RunReport totals") {
    val reportDir = RunScope.scratchDir("graft_report_spec")
    val perBatch = CorpusStream
      .ingestWithReportAvailableNow(spark, sf(), reportDir, shards = 3)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(perBatch.length === 3, "one report row per shard micro-batch")
    assert(perBatch.map(_._1).toSeq === Seq(0, 1, 2), "deterministic shard keys")
    perBatch.foreach { case (_, nIn, nKept, nQ) =>
      assert(nIn === nKept + nQ, "every batch row is internally consistent")
    }
    // the per-batch folds must equal a batch-mode recount
    val docs = graft.Tables.load(spark, sf(), "documents")
    val want = docs
      .groupBy(pmod(col("doc_id"), lit(3)).cast("int").as("s"))
      .agg(
        count(lit(1)).as("n_in"),
        sum(when(col("n_chars") >= 50 && trim(col("text")) =!= "", 1L)
          .otherwise(0L)).as("n_kept"))
      .orderBy("s").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(perBatch.map(t => (t._1, t._2, t._3)).toSeq === want.toSeq)
    // the rendered report carries the stream totals in the batch format
    val rendered = java.nio.file.Files.readString(
      java.nio.file.Paths.get(reportDir, "stream_ingest.report"))
    assert(rendered.contains(s"upserts:  ${perBatch.map(_._3).sum}"))
    assert(rendered.contains(s"quarantined: ${perBatch.map(_._4).sum}"))
    assert(rendered.contains("deletes:  0") && rendered.contains("errors:   none"))
  }
}
