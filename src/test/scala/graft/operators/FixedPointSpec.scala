package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

import graft.SparkSpec

/** The shared round loop: pins, job descriptions and job counts of the
  * driver itself and of the six operators that run on it.
  */
class FixedPointSpec extends SparkSpec {
  import spark.implicits._

  private val descKey = "spark.job.description"

  private case class Observed(
      out: Either[Throwable, DataFrame], jobDescriptions: Seq[String], newPins: Set[Int]) {
    /** Distinct `"<name> round <n>"` descriptions among the call's jobs. */
    def rounds(name: String): Int =
      jobDescriptions.filter(_.matches(s"\\Q$name\\E round \\d+")).distinct.size
    /** RDD ids behind the returned frame (none after a throw). */
    def returnedPins: Set[Int] = out.toOption.toSet[DataFrame].flatMap(
      _.queryExecution.analyzed.collectLeaves().collect { case r: LogicalRDD => r.rdd.id })
  }

  /** Runs `call` under a caller job description and records the jobs it
    * started (under that description or the loop `name`'s; other
    * threads' jobs are ignored) and the RDDs it left persisted.
    */
  private def observe(name: String)(call: => DataFrame): Observed = {
    val sc = spark.sparkContext
    val caller = s"FixedPointSpec ${System.nanoTime()}"
    val seen = ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        seen += Option(e.properties).map(_.getProperty(descKey)).orNull
      }
    }
    bridge.waitUntilListenerBusEmpty(spark)
    val before = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    sc.setJobDescription(caller)
    val out = try Right(call) catch { case t: Throwable => Left(t) }
    try {
      assert(sc.getLocalProperty(descKey) == caller, "caller's job description not restored")
      bridge.waitUntilListenerBusEmpty(spark)
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
    }
    val mine = seen.synchronized(seen.toList)
      .filter(d => d == caller || d != null && d.startsWith(s"$name "))
    Observed(out, mine, (sc.getPersistentRDDs.keySet -- before).toSet)
  }

  private def assertNoConvergence(o: Observed, name: String, cap: Int): Unit = {
    val e = o.out.left.getOrElse(fail(s"$name returned at its cap"))
    assert(e.isInstanceOf[IllegalStateException], e)
    assert(e.getMessage == s"$name did not converge within $cap rounds")
    assert(o.newPins.isEmpty, s"$name left pins after throwing")
  }

  test("a step that throws in round 2 leaves no pins and restores the description") {
    val o = observe("boom")(FixedPoint.run[Long]("boom", spark.range(10).toDF("id"), 5,
      step = (cur, round) =>
        if (round == 2) throw new IllegalArgumentException("step failed")
        else cur.select((col("id") + 1).as("id")),
      signal = (cur, _) => cur.count(),
      converged = (_, _) => false,
      pinInit = true))
    assert(o.out.left.toOption.map(_.getMessage) === Some("step failed"))
    assert(o.newPins.isEmpty)
    assert(o.rounds("boom") === 1) // round 2 failed before its first job
  }

  test("a run that hits the cap throws the one error and leaves no pins") {
    val o = observe("capped")(FixedPoint.run[Long]("capped", spark.range(10).toDF("id"), 3,
      step = (cur, _) => cur.select((col("id") + 1).as("id")),
      signal = (cur, _) => cur.count(),
      converged = (_, _) => false,
      pinInit = true))
    assertNoConvergence(o, "capped", 3)
    assert(o.rounds("capped") === 3)
  }

  test("a converged run keeps only the returned round's pin; finish swaps it for its own") {
    def run(finish: Option[DataFrame => DataFrame]) =
      observe("halving")(FixedPoint.run[Long]("halving", spark.range(16).toDF("id"), 10,
        step = (cur, _) => cur.select((col("id") / 2).cast("long").as("id")).distinct(),
        signal = (cur, _) => cur.count(),
        converged = (last, n) => last.contains(n),
        pinInit = true,
        finish = finish))
    // 16 ids → 8 → 4 → 2 → 1 → 1: five rounds
    val plain = run(None)
    assert(plain.out.toOption.get.as[Long].collect().toSeq === Seq(0L))
    assert(plain.rounds("halving") === 5)
    assert(plain.newPins.size === 1 && plain.newPins === plain.returnedPins)
    val finished = run(Some(_.select((col("id") + 7).as("id"))))
    assert(finished.out.toOption.get.as[Long].collect().toSeq === Seq(7L))
    assert(finished.newPins.size === 1 && finished.newPins === finished.returnedPins)
  }

  test("unrolled pins every 10th round and frees the pin it supersedes") {
    val o = observe("unrolled")(FixedPoint.unrolled(spark.range(4).toDF("id"), 25)(
      _.select((col("id") + 1).as("id"))))
    assert(o.out.toOption.get.as[Long].collect().sorted.toSeq === (25L to 28L))
    // round 20's pin is under the returned state; round 10's is gone
    assert(o.newPins.size === 1 && o.newPins === o.returnedPins)
  }

  // Per operator: rounds run, and the job count of the same call before
  // the operators moved onto the shared loop (an upper bound).
  private val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
  private val clique4PlusPendant = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
    (3L, 4L), (1L, 9L), (2L, 9L))
  private val chain63 = (0L until 63L).map(i => (i, i + 1))

  private def converges(name: String, rounds: Int, parentJobs: Int)(call: => DataFrame) = {
    val o = observe(name)(call)
    assert(o.out.isRight, o.out)
    assert(o.rounds(name) === rounds)
    assert(o.jobDescriptions.size <= parentJobs, o.jobDescriptions)
    assert(o.newPins === o.returnedPins, s"$name left pins beyond its result")
    o.out.toOption.get
  }

  private def throwsAtCap(name: String, cap: Int, parentJobs: Int)(call: => DataFrame) = {
    val o = observe(name)(call)
    assertNoConvergence(o, name, cap)
    assert(o.rounds(name) === cap)
    assert(o.jobDescriptions.size <= parentJobs, o.jobDescriptions)
  }

  test("Sssp: rounds, jobs and pins") {
    val g = Seq((1L, 2L, 5L), (3L, 2L, 5L), (1L, 3L, 20L), (3L, 4L, 1L)).toDF("a", "b", "w")
    converges("Sssp", rounds = 4, parentJobs = 21)(Sssp.distances(g, "a", "b", "w", 1L))
    val chain = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L)).toDF("a", "b", "w")
    throwsAtCap("Sssp", 2, parentJobs = 11)(
      Sssp.distances(chain, "a", "b", "w", 1L, maxRounds = 2))
  }

  test("Bfs: rounds, jobs and pins; the hop cap returns what it reached") {
    converges("Bfs", rounds = 4, parentJobs = 26)(
      Bfs.hops(Seq((1L, 2L), (3L, 2L), (3L, 4L)).toDF("a", "b"), "a", "b", 1L))
    val capped = converges("Bfs", rounds = 2, parentJobs = 15)(
      Bfs.hops(Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b"), "a", "b", 1L, maxHops = 2))
    assert(capped.as[(Long, Int)].collect().toMap === Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("KCore: rounds, jobs and pins") {
    converges("KCore", rounds = 2, parentJobs = 14)(KCore.coreNodes(path.toDF("a", "b"), "a", "b", 2))
    throwsAtCap("KCore", 1, parentJobs = 8)(
      KCore.coreNodes(path.toDF("a", "b"), "a", "b", 2, maxRounds = 1))
  }

  test("KTruss: rounds, jobs and pins") {
    converges("KTruss", rounds = 2, parentJobs = 33)(
      KTruss.trussEdges(clique4PlusPendant.toDF("x", "y"), "x", "y", 4))
    throwsAtCap("KTruss", 1, parentJobs = 14)(
      KTruss.trussEdges(clique4PlusPendant.toDF("x", "y"), "x", "y", 4, maxRounds = 1))
  }

  test("alternatingStar: rounds, jobs and pins") {
    val name = "ConnectedComponents.alternatingStar"
    converges(name, rounds = 7, parentJobs = 75)(
      ConnectedComponents.alternatingStar(chain63.toDF("id_a", "id_b"), 15))
    throwsAtCap(name, 2, parentJobs = 23)(
      ConnectedComponents.alternatingStar(chain63.toDF("id_a", "id_b"), 2))
  }

  test("minLabelPropagation: rounds, jobs and pins; its throw frees its labels") {
    val name = "ConnectedComponents.minLabelPropagation"
    converges(name, rounds = 5, parentJobs = 37)(
      ConnectedComponents.minLabelPropagation(path.toDF("id_a", "id_b")))
    throwsAtCap(name, 2, parentJobs = 17)(
      ConnectedComponents.minLabelPropagation(path.toDF("id_a", "id_b"), 2))
  }
}
