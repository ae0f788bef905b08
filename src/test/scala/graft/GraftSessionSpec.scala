package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.SparkSession

import graft.plans.{AsOfJoinStrategy, OptimizeJaroWinklerThreshold, OptimizeLevenshteinThreshold}

/** The one session factory: [[GraftSession.local]] installs every graft
  * SQL function, optimizer rule and planner strategy at construction,
  * clones inherit them, and building a query never changes the session.
  */
class GraftSessionSpec extends SparkSpec {

  private def assertInstalled(s: SparkSession): Unit = {
    GraftExtensions.functions.foreach { case (id, _, _) =>
      assert(s.catalog.functionExists(id.funcName), id.funcName)
    }
    val rules = s.sessionState.optimizer.extendedOperatorOptimizationRules
    assert(rules.contains(OptimizeLevenshteinThreshold))
    assert(rules.contains(OptimizeJaroWinklerThreshold))
    assert(s.sessionState.planner.strategies.contains(AsOfJoinStrategy))
  }

  test("the factory session carries every function, rule and strategy") {
    assertInstalled(spark)
    // installed at construction, never through the experimental hooks
    assert(spark.experimental.extraOptimizations.isEmpty)
    assert(spark.experimental.extraStrategies.isEmpty)
  }

  test("a newSession() clone inherits every function, rule and strategy") {
    assertInstalled(spark.newSession())
  }

  test("building queries leaves conf and experimental hooks unchanged") {
    val s = spark.newSession()
    def snapshot = (s.conf.getAll, s.experimental.extraOptimizations,
      s.experimental.extraStrategies)
    val before = snapshot
    val queries = SparkEntry.queries
    Seq("q_r2_levenshtein_rule", "q_r3_jaro_winkler_rule", "q_e15_asof_native",
      "q_e1_event_window_agg").foreach(q => queries(q)(s, sf()))
    assert(snapshot === before)
  }

  test("GraftSession.scala is the only source file that builds a session") {
    val builder = """SparkSession\s*\.builder""".r
    val hits = Using.resource(Files.walk(Paths.get("src")))(_.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        builder.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString).toSet)
    assert(hits === Set("GraftSession.scala"))
  }
}
