package graft.core

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** Logical→physical column mapping (reference: `.map` files of
  * `logicalName=PHYSICAL_COLUMN` lines, one file per query —
  * SisConnectorService.java:723-733,814-828).
  *
  * Semantics preserved from the reference:
  *   - physical names resolve against the input **case-insensitively**
  *     (reference matches headers via `StringUtils.equalsAnyIgnoreCase`,
  *     SisConnectorService.java:244-273);
  *   - an unmapped / unresolvable physical column yields a NULL logical
  *     field rather than an error (header index -1 → null,
  *     SisConnectorService.java:226-235,830-836).
  *
  * Divergence (documented per SURVEY.md §1.3): we keep real SQL NULLs —
  * no `"[null]"` sentinel. [[graft.functions.Compat]] provides the
  * sentinel encode/decode for byte-exact compatibility runs.
  */
final case class ColumnMap(entries: Seq[(String, String)]) {

  /** Apply as a projection: one `select`, fully column-pruned by Catalyst,
    * so only mapped physical columns are read from the scan.
    */
  def project(df: DataFrame): DataFrame = {
    val byLower = df.columns.map(c => c.toLowerCase -> c).toMap
    val cols = entries.map { case (logical, physical) =>
      byLower.get(physical.toLowerCase) match {
        case Some(actual) => col(actual).as(logical)
        case None         => lit(null).cast("string").as(logical)
      }
    }
    df.select(cols: _*)
  }
}

object ColumnMap {

  /** Parse `logical=PHYSICAL` lines; blank lines and `#` comments skipped.
    * Later duplicates of a logical name win (Properties semantics of the
    * reference loader).
    */
  def parse(lines: Iterator[String]): ColumnMap = {
    val raw = lines
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#") && l.contains("="))
      .map { l =>
        val i = l.indexOf('=')
        l.substring(0, i).trim -> l.substring(i + 1).trim
      }
      .toSeq
    // last-wins per logical name, preserving first-seen order
    val lastVal = raw.toMap
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    raw.foreach { case (k, _) => seen += k }
    ColumnMap(seen.toSeq.map(k => k -> lastVal(k)))
  }

  def load(path: Path): ColumnMap =
    parse(Files.readAllLines(path).asScala.iterator)
}
