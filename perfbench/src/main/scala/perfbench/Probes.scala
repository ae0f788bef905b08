package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.Http

/** One traced interval: a call into a layer, or a Spark job. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. A span is opened around each call the
  * benchmark makes into a layer; Spark jobs started inside it inherit its
  * id through the job group and become its children (see [[JobProbe]]).
  * Nothing is written until the run ends.
  */
final class Tracer(spark: SparkSession, @volatile var enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val stack = mutable.Stack[Long]()
  val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId()
      val parent = stack.headOption.getOrElse(0L)
      val sc = spark.sparkContext
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      sc.setJobGroup(id.toString, name)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, layer, t0, System.nanoTime()))
        stack.pop()
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, "")
      }
    }

  def add(s: Span): Unit = if (enabled) spans.add(s)
}

/** A Spark job as the listener bus reported it. */
final case class JobRec(id: Int, group: String, callSite: String, startNs: Long,
    var endNs: Long = -1L)

/** Job, stage and task counters from the public listener bus. Jobs carry
  * the job group the [[Tracer]] set, which makes each job a child span of
  * the call that started it, and their `callSite` attributes sink jobs.
  * Only jobs started inside a span count: the benchmark's own output
  * checks run outside every span.
  */
final class JobProbe(tracer: Tracer) extends SparkListener {
  // listener-bus time (ms, wall clock) → monotonic ns, fixed at creation
  private val wallToNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(ms: Long): Long = ms * 1000000L + wallToNs

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val tracedStages = ConcurrentHashMap.newKeySet[Int]()
  val stages = new LongAdder
  val tasks = new LongAdder
  val taskNs = new LongAdder
  val shuffleWrite = new LongAdder
  val shuffleRead = new LongAdder
  val spill = new LongAdder
  /** (launch, finish) of every task, ns — for idle time. */
  val taskIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  /** per stage: task run times (ms) — for skew of the largest stage */
  val stageTaskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (group.nonEmpty) {
      // a stage is named after its job's call site, e.g. "csv at FileSinks.scala:23"
      val site = e.stageInfos.map(_.name).distinct.mkString(" | ")
      jobs.put(e.jobId, JobRec(e.jobId, group, site, ns(e.time)))
      e.stageIds.foreach(tracedStages.add)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endNs = ns(e.time)
      // a group some other code set is not a span id: the job has no parent
      tracer.add(Span(tracer.nextId(), j.group.toLongOption.getOrElse(0L),
        s"job ${j.id} ${j.callSite}", "exec", j.startNs, j.endNs))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (tracedStages.contains(e.stageInfo.stageId)) stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (tracedStages.contains(e.stageId)) {
      tasks.increment()
      val info = e.taskInfo
      taskIntervals.add((ns(info.launchTime), ns(info.finishTime)))
      stageTaskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(info.duration)
      Option(e.taskMetrics).foreach { m =>
        taskNs.add(m.executorRunTime * 1000000L)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

  /** Wall time inside [from, to] with no task running. */
  def idleNs(from: Long, to: Long): Long =
    (to - from) - Stats.coveredNs(taskIntervals.asScala.toSeq, from, to)

  /** max / median task time of the stage with the most task time. */
  def skew: Double = {
    val st = stageTaskMs.asScala.values.map(_.asScala.toSeq).filter(_.nonEmpty)
    if (st.isEmpty) 0.0
    else {
      val big = st.maxBy(_.sum)
      val med = Stats.median(big.map(_.toDouble))
      if (med <= 0) 0.0 else big.max / med
    }
  }

  /** Summed wall time of finished jobs whose call site matches. */
  def jobSeconds(callSiteContains: String): Double =
    jobs.values.asScala.filter(j => j.endNs > 0 && j.callSite.contains(callSiteContains))
      .map(j => (j.endNs - j.startNs) / 1e9).sum

  def jobsInGroups(groups: Set[String]): Int =
    jobs.values.asScala.count(j => groups.contains(j.group))
}

/** Catalyst phase times of one query execution. */
final case class PlanRec(startMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** Catalyst phase times of every action, read from `qe.tracker.phases`;
  * the caller keeps those that started inside a measured op.
  */
final class PlanProbe extends QueryExecutionListener {
  val records = new ConcurrentLinkedQueue[PlanRec]()

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) Long.MaxValue else ph.values.map(_.startTimeMs).min
    records.add(PlanRec(start, ms("analysis"), ms("optimization"), ms("planning")))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** JVM-wide REST counters. Transports are serialized into sink tasks, so
  * the wrappers below carry no state of their own and record here.
  */
object RestStats {
  val requests = new LongAdder
  val errors = new LongAdder
  val refreshes = new LongAdder
  val latencyNs = new ConcurrentLinkedQueue[Long]()
}

/** Timing and counting wrapper over the public [[Http.Transport]] seam.
  * A non-2xx reply counts as an error, except the 404 a DELETE of an
  * absent id gets, which the sinks treat as success.
  */
final class TimedTransport(inner: Http.Transport) extends Http.Transport {
  def send(req: Http.Request): Http.Response = {
    val t0 = System.nanoTime()
    val resp = inner.send(req)
    RestStats.latencyNs.add(System.nanoTime() - t0)
    RestStats.requests.increment()
    val ok = resp.status / 100 == 2 || (req.method == "DELETE" && resp.status == 404)
    if (!ok) RestStats.errors.increment()
    resp
  }
}

final class CountingTokens(inner: Http.TokenSource) extends Http.TokenSource {
  def current(): String = inner.current()
  def refresh(): String = { RestStats.refreshes.increment(); inner.refresh() }
}
