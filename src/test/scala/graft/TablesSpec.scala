package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.lit

/** `Tables` is the one parquet table-read boundary, and it infers a
  * table's schema once per session and file state.
  */
class TablesSpec extends SparkSpec {

  /** A fresh sf dir holding a copy of the sf0.001 nation table. */
  private def freshDir(): String = {
    val dir = RunScope.scratchDir("graft_tables_spec")
    Tables.load(spark, sf(), "nation").write.parquet(Tables.path(dir, "nation"))
    dir
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).sorted.toSeq

  test("a second load of an unchanged table runs no job and reads the same") {
    val dir = freshDir()
    val (first, firstJobs) = jobSites(spark)(Tables.load(spark, dir, "nation"))
    assert(firstJobs.size === 1, firstJobs)
    assert(firstJobs.head.contains("Tables.scala"), firstJobs)
    val (second, secondJobs) = jobSites(spark)(Tables.load(spark, dir, "nation"))
    assert(secondJobs.isEmpty, secondJobs)
    assert(second.schema === first.schema)
    assert(rows(second) === rows(first))
  }

  test("a table rewritten at the same path with an extra column is re-inferred") {
    val dir = freshDir()
    val before = Tables.load(spark, dir, "nation")
    assert(!before.columns.contains("extra"))
    val n = before.count()
    Tables.load(spark, sf(), "nation").withColumn("extra", lit(7))
      .write.mode("overwrite").parquet(Tables.path(dir, "nation"))
    val (after, jobs) = jobSites(spark)(Tables.load(spark, dir, "nation"))
    assert(jobs.size === 1, jobs)
    assert(after.columns.toSeq === before.columns.toSeq :+ "extra")
    assert(after.where("extra = 7").count() === n)
  }

  test("a missing table still raises Spark's own AnalysisException") {
    val dir = RunScope.scratchDir("graft_tables_spec")
    val e = intercept[AnalysisException](Tables.load(spark, dir, "nation"))
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
  }

  test("a newSession() clone runs its own first inference") {
    val dir = freshDir()
    Tables.load(spark, dir, "nation")
    val clone = spark.newSession()
    val (_, first) = jobSites(clone)(Tables.load(clone, dir, "nation"))
    assert(first.size === 1, first)
    val (_, again) = jobSites(clone)(Tables.load(clone, dir, "nation"))
    assert(again.isEmpty, again)
    val (_, parent) = jobSites(spark)(Tables.load(spark, dir, "nation"))
    assert(parent.isEmpty, parent)
  }

  test("only Tables.scala reads a harness table with spark.read.parquet") {
    val direct = """\.read(\s*\.\w+\([^)]*\))*\s*\.parquet\(\s*(graft\.)?Tables\.path\(""".r
    val hits = Using.resource(Files.walk(Paths.get("src/main")))(_.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot((p: Path) => p.getFileName.toString == "Tables.scala")
      .filter(p => direct.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString).toList)
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
