package graft.core

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Named-query registry: a directory of `.sql` files, filename (minus
  * extension) = query name (reference: SisConnectorService.java:710-721,
  * 797-812 — lines joined with single spaces). Paired with an optional
  * directory of `.map` column-map files sharing the same basenames
  * (SisConnectorService.java:723-733).
  *
  * This is the engine's "config compiler": user-authored SQL + rename specs
  * become named DataFrame plans executed natively by Catalyst instead of
  * being shipped to an RDBMS as opaque text.
  */
final case class QueryRegistry(
    sql: Map[String, String],
    columnMaps: Map[String, ColumnMap]) {

  def names: Seq[String] = sql.keys.toSeq.sorted

  /** Compile one named query into a DataFrame plan against whatever tables
    * are registered in `spark`'s catalog, applying the query's column map
    * (if any) as the outer projection.
    */
  def compile(spark: SparkSession, name: String): DataFrame = {
    val df = spark.sql(sql(name))
    columnMaps.get(name).map(_.project(df)).getOrElse(df)
  }

  def compileAll(spark: SparkSession): Map[String, DataFrame] =
    names.map(n => n -> compile(spark, n)).toMap
}

object QueryRegistry {

  private def filesWithExt(dir: Path, ext: String): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else Using.resource(Files.list(dir))(_.iterator.asScala
      .filter(p => p.getFileName.toString.endsWith(ext))
      .toSeq.sortBy(_.getFileName.toString))

  private def baseName(p: Path): String = {
    val f = p.getFileName.toString
    f.substring(0, f.lastIndexOf('.'))
  }

  /** Reference joins file lines with single spaces; we do the same so
    * line-comment-free SQL behaves identically.
    */
  def loadSqlDir(dir: Path): Map[String, String] =
    filesWithExt(dir, ".sql").map { p =>
      baseName(p) -> Files.readAllLines(p).asScala.mkString(" ").trim
    }.toMap

  def loadMapDir(dir: Path): Map[String, ColumnMap] =
    filesWithExt(dir, ".map").map(p => baseName(p) -> ColumnMap.load(p)).toMap

  def load(sqlDir: Path, mapDir: Path): QueryRegistry =
    QueryRegistry(loadSqlDir(sqlDir), loadMapDir(mapDir))
}
