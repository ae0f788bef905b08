package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.bridge
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites: the engine's own factory session
  * (one JVM across the forked test run; getOrCreate reuses it). A suite
  * that needs other settings runs on a `spark.newSession()` clone.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("graft-test")

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Runs `body` and returns its result with the call site (the stage
    * names, e.g. "parquet at Tables.scala:80") of every Spark job it
    * started.
    */
  def jobSites[T](s: SparkSession)(body: => T): (T, List[String]) =
    jobsSeen(s)(_.stageInfos.map(_.name).distinct.mkString(" | "))(body)

  /** Runs `body` and returns its result with the description of every
    * Spark job it started (null for a job without one).
    */
  def jobDescriptions[T](s: SparkSession)(body: => T): (T, List[String]) =
    jobsSeen(s)(e => Option(e.properties).map(_.getProperty("spark.job.description")).orNull)(body)

  private def jobsSeen[T](s: SparkSession)(show: SparkListenerJobStart => String)(
      body: => T): (T, List[String]) = {
    val seen = ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        seen += show(e)
      }
    }
    bridge.waitUntilListenerBusEmpty(s)
    s.sparkContext.addSparkListener(listener)
    try {
      val out = body
      bridge.waitUntilListenerBusEmpty(s)
      (out, seen.synchronized(seen.toList))
    } finally s.sparkContext.removeSparkListener(listener)
  }
}
