package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites: the engine's own factory session
  * (one JVM across the forked test run; getOrCreate reuses it). A suite
  * that needs other settings runs on a `spark.newSession()` clone.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("graft-test")

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}
