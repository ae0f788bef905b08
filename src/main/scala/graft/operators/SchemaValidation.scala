package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Contract validation with row-level quarantine — the "schema
  * enforcement" half of the reference's ingestion loop made explicit.
  * The reference trusts its source schemas and lets bad rows fail the
  * POST one at a time (`SisConnectorService.java:147-158` logs and moves
  * on); at warehouse scale the engine must instead classify every row up
  * front: valid rows flow to the sink, violating rows land in a
  * quarantine frame carrying machine-readable reasons.
  *
  * All checks are scan-side column expressions — validation of 100 TB is
  * a free rider on the ingest scan, no shuffle, no UDFs. Error tags are
  * stable strings (`field:check`) so quarantine consumers can aggregate
  * on them.
  */
object SchemaValidation {

  /** Declarative per-field contract: checks run in (required, allowed,
    * min, max) order; `allowed`/range checks pass on null (nullability is
    * `required`'s job — one violation, one tag).
    */
  final case class FieldRule(
      name: String,
      required: Boolean = false,
      allowed: Option[Seq[String]] = None,
      min: Option[Double] = None,
      max: Option[Double] = None)

  private def ruleChecks(r: FieldRule): Seq[Column] = {
    val c = col(r.name)
    val required = if (r.required)
      Seq(when(c.isNull, lit(s"${r.name}:required_null"))) else Nil
    val allowed = r.allowed.toSeq.map(vs =>
      when(c.isNotNull && !c.isin(vs: _*), lit(s"${r.name}:not_allowed")))
    val lo = r.min.toSeq.map(m =>
      when(c.isNotNull && c < lit(m), lit(s"${r.name}:below_min")))
    val hi = r.max.toSeq.map(m =>
      when(c.isNotNull && c > lit(m), lit(s"${r.name}:above_max")))
    required ++ allowed ++ lo ++ hi
  }

  /** Adds `errors` (array of violation tags, rule order) and `is_valid`. */
  def validate(df: DataFrame, rules: Seq[FieldRule]): DataFrame = {
    require(rules.nonEmpty, "at least one rule")
    val checks = rules.flatMap(ruleChecks)
    // is_valid reads the computed column: an expression with a lambda is
    // not common-subexpression-eliminated, so inlining it would run every
    // check twice per row
    df.withColumn("errors",
        filter(array(checks: _*), e => e.isNotNull))
      .withColumn("is_valid", size(col("errors")) === 0)
  }

  /** Valid / quarantine split of a [[validate]]d frame. One pass each —
    * at scale the two sinks consume the same validated scan.
    */
  def split(validated: DataFrame): (DataFrame, DataFrame) = (
    validated.filter(col("is_valid")).drop("errors", "is_valid"),
    validated.filter(!col("is_valid")))

  /** Best-effort type coercion: `try_cast` each listed column to its
    * target type — unparseable values become nulls for [[validate]]'s
    * `required` check to catch, instead of killing the job mid-scan (the
    * ANSI-cast failure mode). One projection, however many columns.
    */
  def coerce(df: DataFrame, types: Map[String, String]): DataFrame =
    df.withColumns(types.map { case (c, t) => c -> col(c).try_cast(t) })
}
