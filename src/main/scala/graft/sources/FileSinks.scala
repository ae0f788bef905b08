package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** File sinks from the reference's runtime surface:
  *   - S12: full query results as RFC 4180 CSV (the opencsv RFC4180Parser
  *     path at SisConnectorService.java:756-795) — Spark's CSV writer with
  *     quoteAll is RFC-4180 output, written distributed instead of via a
  *     driver loop;
  *   - S11: the plain-text run report (SisConnectorResponse.java:96-138).
  */
object FileSinks {

  def csv(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      .option("quoteAll", "true")
      .csv(dir)

  final case class RunReport(
      startedAt: String,
      finishedAt: String,
      upsertCount: Long,
      deleteCount: Long,
      errors: Seq[String],
      quarantineCount: Long = 0L) {
    def render: String =
      s"""Sync run report
         |===============
         |started:  $startedAt
         |finished: $finishedAt
         |upserts:  $upsertCount
         |deletes:  $deleteCount
         |quarantined: $quarantineCount
         |errors:   ${if (errors.isEmpty) "none" else errors.mkString("\n  - ", "\n  - ", "")}
         |""".stripMargin
  }

  /** Writes `<dir>/<name>.report` and returns its path. */
  def writeReport(report: RunReport, dir: String, name: String): String = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, s"$name.report"), report.render).toString
  }
}
