package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run: `perfbench.Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --data <dir> --run-dir <dir>
  * --out <result.json> [--spans <spans.jsonl>]`, with `--data` holding the
  * base tables ([[Workload.tables]]), which the run only reads.
  *
  * Set-up creates the session, reads the base tables, generates the
  * seeded inputs [[setupReps]] times (each into a fresh directory; the
  * median counts), pre-populates the target and runs the warm-up passes,
  * which are neither measured nor checked. The expected outputs are
  * computed once, after pre-population, and count neither as set-up nor
  * as measurement. The measurement then runs `--seconds` worth of whole
  * passes of the workload's ops at their nominal length, closed loop with
  * one caller. Every op's output is checked outside its timed window.
  *
  * With `--trace 1` the run attaches the listeners and REST wrappers on
  * every other pass, records spans and reports the per-layer metrics,
  * plus the tracing overhead as traced against untraced pass time.
  */
object Main {

  /** Input generation is the repeatable part of set-up; `setup_s` counts
    * the median of its repetitions.
    */
  val setupReps = 3

  private def now(): Long = System.nanoTime()
  private def secs(from: Long): Double = (now() - from) / 1e9

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val runDir = Paths.get(a("run-dir")).toAbsolutePath
    val out = Paths.get(a("out"))
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

    // ---- set-up ---------------------------------------------------------
    val t0 = now()
    val spark = GraftSession.local("perfbench")
    val sessionS = secs(t0)
    val tracer = new Tracer(spark, enabled = false)
    val ctx = new Ctx(spark, tracer, seed, Paths.get(a("data")).toAbsolutePath)
    val w = Workload.byName(workload, ctx)
    val tb = now()
    w.loadBase()
    val baseS = secs(tb)
    val prepareS = (0 until setupReps).map { r =>
      val t = now()
      w.prepare(runDir.resolve(s"inputs-$r"))
      secs(t)
    }
    val tp = now()
    w.populate(runDir.resolve("presync"))
    val populateS = secs(tp)
    val te = now()
    val populateErrs = w.expect()
    val expectS = secs(te)
    val errors = mutable.ArrayBuffer.empty[String] ++ populateErrs
    var attempted, failed = 0L
    var op = 0

    def dropLeakedState(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
    }

    final case class OpRun(seconds: Double, records: Long, leaked: Int,
        startNs: Long, endNs: Long, startMs: Long, endMs: Long, gcMs: Long)

    def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

    def runOp(): OpRun = {
      val i = op
      op += 1
      attempted += 1
      w.beforeOp(i)
      val g0 = gcMs()
      val sMs = System.currentTimeMillis()
      val s = now()
      val result =
        try Right(tracer.span(w.opLabel(i), "op")(w.run(i)))
        catch { case e: Exception => Left(e) }
      val e = now()
      val eMs = System.currentTimeMillis()
      val g1 = gcMs()
      val leaked = spark.sparkContext.getPersistentRDDs.size
      val (records, errs) = result match {
        case Right(v) =>
          try w.verify(i, v)
          catch { case x: Exception => (0L, Seq(s"check failed: $x")) }
        case Left(x) => (0L, Seq(s"${x.getClass.getSimpleName}: ${x.getMessage}"))
      }
      if (errs.nonEmpty) {
        failed += 1
        errors ++= errs.map(m => s"op $i ${w.opLabel(i)}: $m")
      }
      w.afterOp(i)
      dropLeakedState()
      OpRun((e - s) / 1e9, records, leaked, s, e, sMs, eMs, g1 - g0)
    }

    /** A warm-up op is set-up work, neither counted nor checked on its
      * own (a change batch it applied is still part of the final check);
      * if it throws, the run fails without a result.
      */
    def warmOp(): Unit = {
      val i = op
      op += 1
      w.beforeOp(i)
      w.run(i)
      w.afterOp(i)
      dropLeakedState()
    }

    val tw = now()
    (0 until w.warmupPasses * w.opsPerPass).foreach(_ => warmOp())
    val warmupS = secs(tw)
    val setupS = sessionS + baseS + Stats.median(prepareS) + populateS + warmupS
    def tmpEntries(): Long = if (Files.isDirectory(tmp)) Workload.walk(tmp).size - 1L else 0L
    val tmpBefore = tmpEntries()

    // ---- measurement ----------------------------------------------------
    val jobs = new JobProbe(tracer)
    val plans = new PlanProbe
    val ops = mutable.ArrayBuffer.empty[(OpRun, Boolean)]
    val passes = mutable.ArrayBuffer.empty[(Double, Boolean)]
    // The pass count follows from `--seconds` alone, so every run of a
    // workload does the same work however fast the box is. A traced run
    // alternates traced and untraced passes, traced first, and has at
    // least one of each.
    val plannedPasses =
      math.max(if (traced) 2 else 1, math.round(seconds / w.nominalPassS).toInt)
    for (pass <- 0 until plannedPasses) {
      val tracedPass = traced && pass % 2 == 0
      if (tracedPass) {
        spark.sparkContext.addSparkListener(jobs)
        spark.listenerManager.register(plans)
        tracer.enabled = true
      }
      val runs = (0 until w.opsPerPass).map(_ => runOp())
      if (tracedPass) {
        org.apache.spark.sql.graft.bridge.waitUntilListenerBusEmpty(spark)
        tracer.enabled = false
        spark.listenerManager.unregister(plans)
        spark.sparkContext.removeSparkListener(jobs)
      }
      runs.foreach(r => ops += (r -> tracedPass))
      passes += (runs.map(_.seconds).sum -> tracedPass)
    }
    val finalErrs = w.finalCheck()
    if (finalErrs.nonEmpty || populateErrs.nonEmpty) {
      failed = math.min(attempted, failed + 1)
      errors ++= finalErrs
    }
    val tmpResidue = tmpEntries() - tmpBefore

    // ---- end-to-end metrics ---------------------------------------------
    val opSecs = ops.map(_._1.seconds).toSeq
    val passSecs = passes.map(_._1).toSeq
    val (tailS, tailPct) = Stats.tail(opSecs)
    val records = ops.map(_._1.records).sum
    val peakRssMb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
    val untracedPasses = passes.filterNot(_._2).map(_._1).toSeq
    val e2e = scala.collection.immutable.ListMap(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (Stats.median(untracedPasses), "s"),
      "op_p50_s" -> (Stats.median(opSecs), "s"),
      "op_tail_s" -> (tailS, "s"),
      "entities_per_s" -> (records / opSecs.sum, "1/s"))

    val failedRatio = failed.toDouble / attempted
    val leakedPerOp = ops.map(_._1.leaked).sum.toDouble / ops.size
    val details = scala.collection.immutable.ListMap[String, Any](
      "op_tail_percentile" -> tailPct,
      "op_n" -> opSecs.size,
      "op_seconds" -> opSecs,
      "peak_rss_mb" -> peakRssMb,
      "passes" -> passSecs.size,
      "pass_seconds" -> passSecs,
      "failed_ratio" -> failedRatio,
      "leaked_rdds_per_op" -> leakedPerOp,
      "tmp_residue" -> tmpResidue,
      "session_s" -> sessionS,
      "base_s" -> baseS,
      "prepare_s" -> prepareS,
      "expect_s" -> expectS,
      "populate_s" -> populateS,
      "warmup_s" -> warmupS,
      "errors" -> errors.take(20).toSeq)

    // ---- per-layer metrics (traced passes only) --------------------------
    val layer: Map[String, (Double, String)] =
      if (!traced) Map.empty
      else {
        val tPasses = passes.count(_._2).max(1).toDouble
        val tOps = ops.filter(_._2).map(_._1).toSeq
        val spans = tracer.spans.asScala.toSeq
        val wallNs = tOps.map(r => r.endNs - r.startNs).sum
        val cores = spark.sparkContext.defaultParallelism
        val taskS = jobs.taskNs.sum / 1e9
        def spansOf(p: String => Boolean) =
          spans.filter(s => s.layer != "exec" && s.layer != "op" && p(s.name))
        def groups(ss: Seq[Span]) = ss.map(_.id.toString).toSet
        def spanS(ss: Seq[Span]) = ss.map(s => (s.endNs - s.startNs) / 1e9).sum
        val construct = spansOf(_.startsWith("construct "))
        val saves = spansOf(_.startsWith("save "))
        val batches = spansOf(_ == "IncrementalSync.applyBatch")
        val compiles = spansOf(_ == "QueryRegistry.compileAll")
        val lat = RestStats.latencyNs.asScala.toSeq.map(_ / 1000.0)
        val restJobS = jobs.jobSeconds("RestSink.scala")
        val csvS = jobs.jobSeconds("FileSinks.scala")
        val selfS = Stats.selfSeconds(spans)
        val plansIn = plans.records.asScala.toSeq
          .filter(p => tOps.exists(o => p.startMs >= o.startMs && p.startMs <= o.endMs))
        val base = scala.collection.immutable.ListMap(
          "queries.construct_s" -> (spanS(construct) / tPasses, "s"),
          "queries.construct_jobs" -> (jobs.jobsInGroups(groups(construct)) / tPasses, "count"),
          "plans.analysis_ms" -> (plansIn.map(_.analysisMs).sum / tPasses, "ms"),
          "plans.optimization_ms" -> (plansIn.map(_.optimizationMs).sum / tPasses, "ms"),
          "plans.planning_ms" -> (plansIn.map(_.planningMs).sum / tPasses, "ms"),
          "plans.sql_executions" -> (plansIn.size / tPasses, "count"),
          "exec.jobs" -> (jobs.jobs.size / tPasses, "count"),
          "exec.stages" -> (jobs.stages.sum / tPasses, "count"),
          "exec.tasks" -> (jobs.tasks.sum / tPasses, "count"),
          "exec.task_s" -> (taskS / tPasses, "s"),
          "exec.core_util" -> (if (wallNs > 0) taskS / (wallNs / 1e9 * cores) else 0.0, "ratio"),
          "exec.skew" -> (jobs.skew, "ratio"),
          "exec.idle_s" -> (tOps.map(r => jobs.idleNs(r.startNs, r.endNs)).sum / 1e9 / tPasses, "s"),
          "shuffle.write_bytes" -> (jobs.shuffleWrite.sum / tPasses, "bytes"),
          "shuffle.read_bytes" -> (jobs.shuffleRead.sum / tPasses, "bytes"),
          "shuffle.spill_bytes" -> (jobs.spill.sum / tPasses, "bytes"),
          "sources.write_s" -> ((spanS(saves) + restJobS + csvS) / tPasses, "s"),
          "sources.rest_requests" -> (RestStats.requests.sum / tPasses, "count"),
          "sources.rest_p50_us" -> (Stats.median(lat), "us"),
          "sources.rest_p99_us" -> (Stats.quantile(lat, 0.99), "us"),
          "sources.rest_errors" -> (RestStats.errors.sum / tPasses, "count"),
          "sources.token_refreshes" -> (RestStats.refreshes.sum / tPasses, "count"),
          "sources.rest_job_s" -> (restJobS / tPasses, "s"),
          "sources.csv_s" -> (csvS / tPasses, "s"),
          "core.compile_s" -> (spanS(compiles) / tPasses, "s"),
          "streaming.batch_jobs" -> (
            if (batches.isEmpty) 0.0 else jobs.jobsInGroups(groups(batches)).toDouble / batches.size,
            "count"),
          "jvm.gc_s" -> (tOps.map(_.gcMs).sum / 1000.0 / tPasses, "s"),
          "jvm.peak_rss_mb" -> (peakRssMb, "MB"))
        val perQuery = Workload.scanQueries.flatMap { q =>
          val qSpans = spansOf(n => n == s"construct $q" || n == s"save $q")
          Seq(s"query.$q.s" -> (spanS(qSpans) / tPasses, "s"),
            s"query.$q.jobs" -> (jobs.jobsInGroups(groups(qSpans)) / tPasses, "count"))
        }
        val self = Seq("op", "plans", "streaming", "queries", "sources", "core", "exec")
          .map(l => s"self.${l}_s" -> (selfS.getOrElse(l, 0.0) / tPasses, "s"))
        val tracedMed = Stats.median(passes.filter(_._2).map(_._1).toSeq)
        val untracedMed = Stats.median(untracedPasses)
        val overhead = Seq(
          "trace.overhead_ratio" -> (if (untracedMed > 0) tracedMed / untracedMed - 1 else 0.0, "ratio"),
          "trace.spans" -> (spans.size.toDouble, "count"),
          "run.failed_ratio" -> (failedRatio, "ratio"),
          "run.leaked_rdds" -> (leakedPerOp, "count"),
          "run.tmp_residue" -> (tmpResidue.toDouble, "count"))
        (base ++ perQuery ++ self ++ overhead).toMap
      }

    a.get("spans").filter(_ => traced).foreach { p =>
      val runId = s"$workload-$seed-${ProcessHandle.current().pid()}"
      val lines = tracer.spans.asScala.toSeq.sortBy(_.startNs).map(s => Json.render(
        scala.collection.immutable.ListMap("run" -> runId, "id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      Files.write(Paths.get(p), lines.asJava)
    }

    val metrics = (if (traced) layer.toSeq.sortBy(_._1) else e2e.toSeq).map { case (k, (v, u)) =>
      k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u)
    }
    val env = scala.collection.immutable.ListMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "spark_graft_cpus" -> GraftSession.cpus,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version)
    val result = scala.collection.immutable.ListMap[String, Any](
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*),
      "details" -> details,
      "env" -> env)
    Files.writeString(out, Json.render(result) + "\n")
    spark.stop()
  }
}
