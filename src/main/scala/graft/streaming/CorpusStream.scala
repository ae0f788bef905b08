package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.{RunPool, RunScope, Tables}
import graft.RunScope.Pinning
import graft.functions.TextAnalysis

/** Streaming ingest of the DOCUMENT corpus: the landing zone consumed as
  * a file stream, quality/repetition filters applied scan-side per
  * micro-batch, and exact content dedup across batches — the streaming
  * form of the batch curation pass, for pipelines that ingest crawl
  * drops incrementally instead of re-scanning the corpus per run.
  *
  * The filters are pure per-row expressions (zero state). For the dedup,
  * two state-bound contracts are offered — pick by what "duplicate"
  * means for the feed:
  *
  *  - [[filteredAvailableNow]] (`dropDuplicates`): corpus-LIFETIME
  *    identity. State holds one entry per distinct content hash forever;
  *    the bound is the corpus's distinct-content count (one 16-byte md5 +
  *    store overhead per distinct document — ~tens of GB per billion
  *    distinct docs, spread over the state-store partitions). Right when
  *    the corpus is finite (a crawl snapshot landing incrementally);
  *    NOT safe over an infinite feed, where distinct content grows
  *    without bound.
  *  - [[filteredBoundedStateAvailableNow]]
  *    (`dropDuplicatesWithinWatermark`): redelivery suppression within a
  *    `horizon`. State holds only hashes younger than the watermark, so
  *    state size is bounded by arrival rate × horizon REGARDLESS of feed
  *    lifetime — the variant an infinite landing zone must run. The
  *    trade: a duplicate arriving later than `horizon` after the
  *    original re-emits (retries/re-deliveries cluster in time, so that
  *    is the contract they need).
  */
object CorpusStream {

  def readDocumentStream(spark: SparkSession, sfDir: String): DataFrame =
    Tables.readStream(spark, sfDir, "documents")

  /** The scan-side keep rules: length floor + Gopher repetition caps. */
  def qualityFilter(docs: DataFrame): DataFrame = docs
    .filter(
      col("n_chars") >= 50 &&
        TextAnalysis.topTokenShare(col("text")) < 0.3 &&
        TextAnalysis.dupBigramFraction(col("text")) < 0.2)

  /** Filter + content-dedup run to completion (AvailableNow), emitting the
    * surviving documents' scalars — batch-oracle-verifiable.
    */
  def filteredAvailableNow(
      spark: SparkSession,
      sfDir: String,
      statePartitions: Int = EventStreams.defaultStatePartitions): DataFrame = {
    val s = EventStreams.streamSession(spark, statePartitions)
    EventStreams.runToTable(
      s,
      qualityFilter(readDocumentStream(s, sfDir))
        .withColumn("__h", md5(col("text")))
        .dropDuplicates("__h")
        .select("doc_id", "lang", "n_chars"),
      s"stream_corpus_filter_${System.nanoTime()}",
      OutputMode.Append())
      .orderBy("doc_id")
  }

  /** DSIR-scored STREAMING ingest: fit the B-row bucket-log-ratio model
    * on the static corpora (target = src1), collect it to a plan-literal
    * map (bounded, the IVF-centroid discipline), and score every
    * streamed document STATELESSLY inside the micro-batch via
    * [[graft.operators.Dsir.scoreWithRatios]] — a scan-side fold over
    * the row's own tokens, no state store, Append mode. This is the 100
    * TB ingest shape: the model is a broadcast artifact, scoring rides
    * the stream, and a threshold filter (not applied here — the gate
    * compares VALUES) would make it a quality gate at the landing zone.
    */
  def dsirScoredAvailableNow(
      spark: SparkSession,
      sfDir: String,
      statePartitions: Int = EventStreams.defaultStatePartitions): DataFrame = {
    import graft.operators.Dsir
    val numBuckets = 256
    val docs = Tables.load(spark, sfDir, "documents")
    val raw = docs.where(col("source") =!= "src1")
    val target = docs.where(col("source") === "src1")
    val ratios = Dsir
      .bucketLogRatios(raw, target, "doc_id", "text", numBuckets)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def totalTokens(df: DataFrame): Long =
      df.agg(coalesce(sum(size(TextAnalysis.tokens(col("text")))), lit(0L)))
        .head().getLong(0)
    val defaultLogRatio =
      math.log((totalTokens(raw) + numBuckets.toDouble) / (totalTokens(target) + numBuckets))
    val s = EventStreams.streamSession(spark, statePartitions)
    EventStreams.runToTable(
      s,
      Dsir.scoreWithRatios(
        readDocumentStream(s, sfDir), "doc_id", "text",
        ratios, defaultLogRatio, numBuckets),
      s"stream_dsir_score_${System.nanoTime()}",
      OutputMode.Append())
      .orderBy("doc_id")
  }

  /** TRAINED-classifier-scored STREAMING ingest: the online half of
    * model-based quality filtering. The logistic model is batch-fitted
    * on the static corpus ([[graft.operators.QualityClassifier.fit]] —
    * 3 deterministic GD steps, the q_c13 gate's exact arithmetic) and
    * its B+2 weights ship into the stream as plan literals; every
    * arriving document is scored STATELESSLY inside the micro-batch —
    * features fold over the row's own token array (HOF filter+size, the
    * [[graft.operators.QualityClassifier.featuresScanSide]] twin whose
    * integer counts equal the batch explode+groupBy form exactly), so
    * there is no state store, no watermark, and no shuffle. This is the
    * landing-zone quality gate production curation runs: model offline,
    * scoring on the stream, online scores provably equal to the batch
    * pass (the q_st15 centroid discipline brought to a TRAINED model).
    */
  def qualityScoredAvailableNow(
      spark: SparkSession,
      sfDir: String,
      statePartitions: Int = EventStreams.defaultStatePartitions): DataFrame =
      RunScope.scope("CorpusStream.qualityScoredAvailableNow") {
    import graft.operators.QualityClassifier
    val numBuckets = 8
    val docs = Tables.load(spark, sfDir, "documents")
    val feats = QualityClassifier.features(
      docs, "doc_id", "text", col("lang") === "en", numBuckets)
      .pin() // scanned once per GD step
    val model = QualityClassifier.fit(feats, numBuckets, steps = 3, learningRate = 0.5)
    val s = EventStreams.streamSession(spark, statePartitions)
    EventStreams.runToTable(
      s,
      QualityClassifier.score(
        QualityClassifier.featuresScanSide(
          readDocumentStream(s, sfDir), "doc_id", "text", numBuckets),
        "doc_id", model),
      s"stream_quality_score_${System.nanoTime()}",
      OutputMode.Append())
      .orderBy("doc_id")
  }

  /** STREAMING CONFORMAL scoring — the uncertainty layer ON the landing
    * zone: classifier weights AND the conformal threshold q̂ are fitted
    * in batch ([[graft.operators.MlEval.splitConformal]] over the
    * doc_id % 5 calibration split), ship as plan literals, and every
    * arriving document gets its score plus its PREDICTION SET
    * membership statelessly: `(doc_id, score, in_set_1, in_set_0,
    * set_size)`. A vacuous batch threshold (NULL q̂) streams full sets
    * {0,1} — the conformal contract, preserved online. No state store;
    * work ∝ batch.
    */
  def conformalScoredAvailableNow(
      spark: SparkSession,
      sfDir: String,
      alpha: Double = 0.1,
      statePartitions: Int = EventStreams.defaultStatePartitions): DataFrame =
      RunScope.scope("CorpusStream.conformalScoredAvailableNow") {
    import graft.operators.QualityClassifier
    val numBuckets = 8
    val docs = Tables.load(spark, sfDir, "documents")
    val feats = QualityClassifier.features(
      docs, "doc_id", "text", col("lang") === "en", numBuckets)
      .pin()
    val model = QualityClassifier.fit(feats, numBuckets, steps = 3, learningRate = 0.5)
    val scored = QualityClassifier.score(feats, "doc_id", model)
      .join(feats.select(col("doc_id"), col("y")), "doc_id")
    val conf = graft.operators.MlEval.splitConformal(
      scored, "y", "score", col("doc_id") % 5 === 0, alpha).head()
    val qhatCol =
      if (conf.isNullAt(2)) lit(null).cast("double")
      else lit(conf.getDouble(2))
    val s = EventStreams.streamSession(spark, statePartitions)
    val withSets = QualityClassifier.score(
      QualityClassifier.featuresScanSide(
        readDocumentStream(s, sfDir), "doc_id", "text", numBuckets),
      "doc_id", model)
      .select(
        col("doc_id"), col("score"),
        (qhatCol.isNull || (lit(1.0) - col("score")) <= qhatCol).as("in_set_1"),
        (qhatCol.isNull || col("score") <= qhatCol).as("in_set_0"))
      .withColumn("set_size",
        (col("in_set_1").cast("int") + col("in_set_0").cast("int")).cast("int"))
    EventStreams.runToTable(
      s, withSets,
      s"stream_conformal_${System.nanoTime()}",
      OutputMode.Append())
      .orderBy("doc_id")
  }

  /** STREAMING BPE tokenization — the tokenizer's landing-zone shape:
    * the merge table is LEARNED IN BATCH (the reference corpus), ships
    * into the stream as plan literals (the q_st16 classifier-weights
    * posture), and every arriving document tokenizes STATELESSLY via
    * [[graft.operators.Bpe.applyMerges]] — no state store, no
    * vocabulary join, work ∝ batch characters. Emits the per-document
    * summary `(doc_id, n_words, n_tokens, tok_digest)`; the gate's
    * oracle replays the batch tokenization of the full corpus, so
    * streamed ≡ batch on every document.
    */
  def bpeTokenizedAvailableNow(
      spark: SparkSession,
      sfDir: String,
      rounds: Int = 3): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val merges = graft.operators.Bpe.learnMerges(docs, "text", rounds)
      .orderBy("round")
      .collect() // bounded: `rounds` rows — the merge table is the model
      .map(r => (r.getAs[String]("merge_left"), r.getAs[String]("merge_right")))
      .toSeq
    // foreachBatch, not a chained streaming plan: the per-batch
    // VOCABULARY dedup (tokenize each distinct word once, join back —
    // Bpe.tokenizationSummaryByVocab) needs a groupBy+join per drop,
    // which append-mode streaming plans disallow. Measured 10× cheaper
    // than the per-occurrence scan-side fold on the 10×-corpus run;
    // results land in a parquet sink, driver state stays O(1).
    val outDir = RunScope.scratchDir("graft_stream_bpe_out")
    val q = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1") // one micro-batch per drop
      .parquet(writeLandingZone(docs, shards = 2))
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Bpe
          .tokenizationSummaryByVocab(batch.toDF(), "doc_id", "text", merges)
          .write.mode("append").parquet(outDir)
        ()
      }
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir).orderBy("doc_id")
  }

  /** Generic per-micro-batch BATCH-PLAN transform over the document
    * landing zone, run to completion: each drop arrives as ONE
    * micro-batch, `f` maps it with a full batch plan (joins, groupBys,
    * pins — everything append-mode streaming plans disallow), results
    * append to a parquet sink (driver state O(1)), and the folded table
    * reads back at the end. `f` must be PER-DOCUMENT (row-local or
    * batch-local with deterministic per-doc output) for the result to be
    * replayable by a batch oracle regardless of sharding. Each batch
    * runs in its own [[graft.RunScope]], so pins `f` makes free after
    * the batch's write — the landing zone runs forever, residency must
    * not.
    */
  /** Streaming Naive Bayes scoring: the [[graft.operators.NaiveBayes]]
    * model trains in BATCH over the reference corpus (the q_st16
    * classifier posture — fit offline, serve online), then every
    * arriving micro-batch is scored by joining the vocabulary-bounded
    * model frame. Scoring is per-document given the model, so streamed
    * ≡ batch exactly and the q_c22 oracle replays it verbatim.
    *
    * The model ships via a temp-parquet round trip and is RE-READ per
    * batch rather than held as a pin: checkpoint blocks do
    * not survive interleaved micro-batch executions (the q_st23
    * lesson, CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), and the
    * vocabulary-bounded scan is cheaper than the residency. DECIMAL
    * log-likelihoods round-trip parquet exactly, so the served scores
    * are bit-identical to the batch pass.
    */
  def nbScoredAvailableNow(
      spark: SparkSession,
      sfDir: String,
      shards: Int = 2): DataFrame = RunScope.scope("CorpusStream.nbScoredAvailableNow") {
    import graft.operators.NaiveBayes
    val docs = Tables.load(spark, sfDir, "documents")
      .withColumn("__y", (col("lang") === "en").cast("int"))
    val (model, stats) = NaiveBayes.train(docs, "doc_id", "text", "__y")
    val dir = RunScope.scratchDir("graft_nb_model")
    model.write.parquet(s"$dir/model")
    stats.write.parquet(s"$dir/stats")
    val modelR = spark.read.parquet(s"$dir/model")
    val statsR = spark.read.parquet(s"$dir/stats")
    transformAvailableNow(spark, sfDir, shards) { batch =>
      NaiveBayes.score(batch, "doc_id", "text", modelR, statsR)
    }.orderBy("doc_id")
  }

  def transformAvailableNow(
      spark: SparkSession,
      sfDir: String,
      shards: Int = 2)(f: DataFrame => DataFrame): DataFrame = {
    require(shards >= 1)
    val docs = Tables.load(spark, sfDir, "documents")
    val outDir = RunScope.scratchDir("graft_stream_transform")
    val q = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(writeLandingZone(docs, shards))
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        RunScope.scope("CorpusStream.transformAvailableNow") {
          f(batch.toDF()).write.mode("append").parquet(outDir)
        }
      }
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir)
  }

  /** Shard a corpus into one parquet file per shard under a temp landing
    * zone (`pmod(doc_id, shards)`) — the multi-drop stream-source shape
    * the foreachBatch gates read with `maxFilesPerTrigger = 1`.
    *
    * r18: the per-shard single-file writes are independent jobs, so they
    * run CONCURRENTLY from a small thread pool (guide §2.6 — actions are
    * only sequential because the driver calls them sequentially; the
    * previous shape paid `shards` sequential scan+write jobs per gate).
    * Each shard writes into its own staging dir (concurrent appends into
    * ONE dir would race on the committer's shared `_temporary`), then the
    * part file moves into place under a shard-ordered NAME and a strictly
    * increasing MTIME — so the file stream's arrival order is shard order
    * by construction under either tie-break, where before it leaned on
    * millisecond mtime ordering of sequential commits. Arrival order is a
    * declared contract downstream: q_st39's oracle replays first-arrival
    * as `(doc_id % shards), doc_id, idx`.
    */
  private def writeLandingZone(docs: DataFrame, shards: Int): String = {
    val landing = RunScope.scratchDir("graft_landing")
    writeShardFiles(docs, shards, landing)
    landing
  }

  /** The concurrent shard writer behind [[writeLandingZone]] (shared by
    * the gates that inline their own landing dirs). Leaves `dir` holding
    * exactly `shards` parquet files named `shard-NNNNN.parquet` with
    * mtimes ascending in shard order; per-shard file CONTENT is
    * byte-identical to the sequential form (same single plan per shard).
    */
  private[streaming] def writeShardFiles(
      docs: DataFrame, shards: Int, dir: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val staged = new Array[java.nio.file.Path](shards)
    RunPool.runAll(docs.sparkSession, (0 until shards).map(i => s"shard $i" -> (() => {
      val tmp = s"$dir/.stage-$i"
      docs.where(pmod(col("doc_id"), lit(shards)) === i)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val parts = listDir(Paths.get(tmp))
        .filter(_.getFileName.toString.endsWith(".parquet"))
      require(parts.length == 1,
        s"shard $i wrote ${parts.length} part files, expected 1")
      staged(i) = parts.head
    })))
    val base = System.currentTimeMillis()
    staged.zipWithIndex.foreach { case (part, i) =>
      val dest = Paths.get(dir, f"shard-$i%05d.parquet")
      Files.move(part, dest, StandardCopyOption.ATOMIC_MOVE)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 2000L))
      deleteRecursively(Paths.get(s"$dir/.stage-$i"))
    }
  }

  private def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.list(p)
    try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
    finally s.close()
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    java.nio.file.Files.deleteIfExists(p)
    ()
  }

  /** Filter + content-dedup with WATERMARK-BOUNDED state, run to
    * completion: duplicates are suppressed only within `horizon` of the
    * first delivery (`dropDuplicatesWithinWatermark`), so the state store
    * retains only content hashes younger than the watermark and its size
    * is bounded by arrival rate × horizon — safe over an infinite landing
    * zone (see the object scaladoc for the contract trade-off).
    *
    * `ingestTs` supplies the event-time column the watermark advances on
    * (a real feed has a landing timestamp; the synthetic corpus derives a
    * deterministic one in the spec).
    */
  def filteredBoundedStateAvailableNow(
      spark: SparkSession,
      sfDir: String,
      ingestTs: Column,
      horizon: String = "1 hour",
      statePartitions: Int = EventStreams.defaultStatePartitions): DataFrame = {
    val s = EventStreams.streamSession(spark, statePartitions)
    EventStreams.runToTable(
      s,
      qualityFilter(readDocumentStream(s, sfDir))
        .withColumn("__ingest_ts", ingestTs)
        .withWatermark("__ingest_ts", horizon)
        .withColumn("__h", md5(col("text")))
        .dropDuplicatesWithinWatermark("__h")
        .select("doc_id", "lang", "n_chars"),
      s"stream_corpus_filter_bounded_${System.nanoTime()}",
      OutputMode.Append())
      .orderBy("doc_id")
  }

  /** STREAMING RUN REPORT (S11's streaming twin — the last
    * reference-surface asymmetry in streaming mode): the reference's
    * per-run text report (`SisConnectorResponse.java:96-138`) assumes
    * one batch run; a landing zone ingests forever, so the report
    * becomes a PER-MICRO-BATCH FOLD — each `foreachBatch` computes its
    * batch's (rows in, rows kept, rows quarantined) as one bounded
    * aggregate row, the driver accumulates them (shards-bounded state),
    * and stream end renders the same [[graft.sources.FileSinks.RunReport]]
    * the batch pipeline writes (upserts = kept, quarantined = filtered,
    * started/finished stamps) plus returns the per-batch rows keyed by
    * the batch's deterministic shard id (`doc_id % shards` — constant
    * within a one-file micro-batch, so the gate is file-order-proof).
    *
    * The keep rule here is the minimal scan-side gate (non-blank text,
    * ≥50 chars) — the REPORT plumbing is the unit under test; the full
    * Gopher filter family is oracled by its own gates.
    */
  def ingestWithReportAvailableNow(
      spark: SparkSession,
      sfDir: String,
      reportDir: String,
      shards: Int = 2): DataFrame = {
    import spark.implicits._
    require(shards >= 1)
    val docs = Tables.load(spark, sfDir, "documents")
    val landing = RunScope.scratchDir("graft_stream_report")
    writeShardFiles(docs, shards, landing)
    val startedAt = java.time.Instant.now().toString
    val batches =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
    val q = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(landing)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val keep = col("n_chars") >= 50 && trim(col("text")) =!= ""
        val r = batch.toDF().agg(
          count(lit(1)).as("n_in"),
          sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
          min(pmod(col("doc_id"), lit(shards))).cast("int").as("shard")).head()
        if (r.getLong(0) > 0) // AvailableNow can fire a final empty batch
          batches += ((r.getInt(2), r.getLong(0), r.getLong(1),
            r.getLong(0) - r.getLong(1)))
        ()
      }
      .start()
    q.awaitTermination()
    val report = graft.sources.FileSinks.RunReport(
      startedAt = startedAt,
      finishedAt = java.time.Instant.now().toString,
      upsertCount = batches.map(_._3).sum,
      deleteCount = 0L,
      errors = Seq.empty,
      quarantineCount = batches.map(_._4).sum)
    graft.sources.FileSinks.writeReport(report, reportDir, "stream_ingest")
    batches.sortBy(_._1).toSeq
      .toDF("batch_shard", "n_in", "n_kept", "n_quarantined")
  }

  /** STREAMING transitive near-dup components: the full incremental
    * pipeline composed — crawl drops land as files, each micro-batch
    * probes the persisted MinHash index for its pairs
    * ([[graft.operators.DedupIndex.probe]], work ∝ batch), folds them
    * into the running component labeling
    * ([[graft.operators.ConnectedComponents.appendEdges]], closure over
    * the CONTRACTED batch graph only), and appends itself to the index —
    * so after N drops the labels are exactly what a from-scratch corpus
    * closure would produce, which is precisely what the gate's oracle
    * (the full recursive closure) asserts. No step ever re-scans the
    * corpus: this is the 100 TB landing-zone dedup shape.
    *
    * Batch-ORDER independence is inherited from the algebra: min-id
    * component labels are associative/commutative over edge arrival, so
    * the file listing order of the landing zone cannot change the
    * result.
    *
    * The corpus is sharded by `pmod(doc_id, shards)` into one file per
    * shard; `maxFilesPerTrigger = 1` + AvailableNow delivers them as
    * separate micro-batches through `foreachBatch` (the
    * [[IncrementalSync]] posture — per-batch work is a BATCH plan, not a
    * chained streaming aggregation).
    */
  def componentsAvailableNow(
      spark: SparkSession,
      sfDir: String,
      shards: Int = 3): DataFrame = {
    import graft.operators.{ConnectedComponents, DedupIndex}
    require(shards >= 1)
    val docs = Tables.load(spark, sfDir, "documents")
    val landing = RunScope.scratchDir("graft_stream_cc")
    writeShardFiles(docs, shards, landing)
    val idx = RunScope.scratchDir("graft_stream_cc_idx")
    var indexed = false
    var labeling: DataFrame = null
    val q = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(landing)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF()
        val superseded = labeling
        // the batch's pair pin frees as the scope exits: holding one per
        // micro-batch would leak executor storage across a long-running
        // landing zone
        labeling = RunScope.scope("CorpusStream.componentsAvailableNow") {
          val pairs =
            if (!indexed) {
              // first drop: no index to probe yet — fused in-batch pairs +
              // index seed (the batch is shingled/hashed ONCE, same as the
              // probeAndAppend path below; the unfused form hashed it twice)
              val p = DedupIndex.writeAndPairs(b, "doc_id", "text", idx)
              indexed = true
              p
            } else
              // fused probe+append: the batch is shingled/hashed ONCE
              DedupIndex.probeAndAppend(spark, b, "doc_id", "text", idx)
          // both branches return a frame ALREADY pinned by the operator
          // (alternatingStar/appendEdges materialize internally so their
          // own pins free deterministically) — no second residency
          if (superseded == null)
            ConnectedComponents.alternatingStar(pairs.select("id_a", "id_b"))
          else
            ConnectedComponents.appendEdges(superseded, pairs.select("id_a", "id_b"))
        }
        if (superseded != null) RunScope.free(superseded)
      }
      .start()
    q.awaitTermination()
    docs
      .join(labeling.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Exact-substring screening AT THE LANDING ZONE — the strongest dedup
    * (Lee et al. 2022 verbatim-span detection) run where data arrives,
    * per micro-batch against the persisted
    * [[graft.operators.SubstringIndex]]: the first drop seeds the
    * postings and reports its in-batch duplicate windows; every later
    * drop probes (partition-pruned, work ∝ batch) then appends. The
    * cumulative union of per-batch outputs equals the batch full-rebuild
    * duplicate-window set over the whole corpus — a duplicate pair
    * surfaces exactly when its LATER side arrives, emitting both sides
    * (the probe returns matched index positions too), so streamed ≡
    * batch after a final distinct (an early position can be re-reported
    * by several later batches).
    */
  def substringScreenAvailableNow(
      spark: SparkSession,
      sfDir: String,
      shards: Int = 2,
      L: Int = 40): DataFrame = {
    import graft.operators.SubstringIndex
    val idx = RunScope.scratchDir("graft_stream_ssi")
    var seeded = false
    transformAvailableNow(spark, sfDir, shards) { b =>
      if (!seeded) {
        seeded = true
        SubstringIndex.writeAndDuplicates(b, "doc_id", "text", idx, L)
      } else
        SubstringIndex.probeAndAppend(b.sparkSession, b, "doc_id", "text",
          idx, L)
    }.distinct()
  }

  /** Streaming CORPUS-GLOBAL line dedup — the cross-document C4 rule
    * run where data arrives ([[graft.operators.DocRepetition]]
    * `dedupLinesGlobal`'s landing-zone posture): each micro-batch
    * dedups internally (smallest (doc, idx) within the batch), drops
    * every substantial line already in the persisted SEEN-LINE store,
    * then appends its survivors' lines to the store. The cumulative
    * output is global first-occurrence dedup under ARRIVAL order —
    * batches first, (doc, idx) within a batch — which is the streaming
    * contract (a landing zone cannot keep a line that has not arrived
    * yet); the gate's oracle replays exactly that order. Store growth
    * is one row per DISTINCT substantial line — Heaps-bounded like the
    * vocabulary frames, and the per-batch anti-join is the standard
    * persisted-index probe shape.
    */
  def globalLineDedupAvailableNow(
      spark: SparkSession,
      sfDir: String,
      buildCorpus: DataFrame => DataFrame,
      shards: Int = 2): DataFrame = {
    import org.apache.spark.sql.functions._
    val store = RunScope.scratchDir("graft_stream_lines")
    var seeded = false
    transformAvailableNow(spark, sfDir, shards) { b =>
      val corpus = buildCorpus(b)
      val seen =
        if (seeded) Some(spark.read.parquet(store)) else None
      val kept = graft.operators.DocRepetition
        .dedupLinesGlobal(corpus, "doc_id", "text", seenLines = seen)
        .pin()
      // append this batch's surviving substantial lines to the store
      kept
        .select(posexplode(split(col("text_clean"), "\n"))
          .as(Seq("__i", "__line")))
        // store filter MUST be the dedup rule's own threshold: a
        // shorter line is exempt from dedup so must never enter the
        // seen-line store (shared constant per r16 ADVICE)
        .filter(length(trim(col("__line"))) >=
          graft.operators.DocRepetition.defaultMinLineChars)
        .select("__line").distinct()
        .write.mode("append").parquet(store)
      seeded = true
      kept
    }
  }

  /** Streaming `.warc.gz` export — the landing zone's ARCHIVE write
    * path: each non-empty drop serializes its own captures (via `mk`:
    * batch docs → (idCol, url, date, payload) frame) into a FRESH
    * `segment-NNN/` directory of warc.gz shards + manifest
    * ([[graft.operators.WarcExport.write]]). Segment-per-drop is the
    * Common Crawl convention: segments are immutable once written, a
    * later drop never reopens an earlier one, and work is ∝ the batch.
    * Returns the unioned manifests with their segment ids.
    */
  def warcExportAvailableNow(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      shards: Int = 2,
      budget: Int = 1000)(
      mk: DataFrame => DataFrame): DataFrame = {
    import graft.operators.WarcExport
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val q = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(writeLandingZone(docs, shards))
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            batchId: Long) =>
          if (!batch.isEmpty) RunScope.scope("CorpusStream.warcExportAvailableNow") {
            val seg = f"$outDir/segment-$batchId%03d"
            WarcExport.write(mk(batch.toDF()), "doc_id", "url",
              "date", "payload", budget, seg)
            ()
          }
      }
      .start()
    q.awaitTermination()
    spark.read
      .option("basePath", outDir)
      .parquet(s"$outDir/segment-*/_manifest")
      .withColumn("segment",
        regexp_extract(input_file_name(), "segment-([0-9]+)", 1)
          .cast("int"))
  }
}
