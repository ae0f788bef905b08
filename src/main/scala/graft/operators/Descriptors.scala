package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Descriptor (code → URI) resolution: the reference's driver-side
  * `Map[codeValue → descriptor]` lookups with passthrough fallback
  * (SisConnectorService.java:489-688; getter pattern at :510-516 — an
  * unmatched code resolves to the raw code, never an error).
  *
  * Spark-first restatement: a **broadcast left join** against the (small)
  * descriptor dimension plus `coalesce(resolved, raw_code)`. At 100 TB the
  * fact side streams through map-side hash lookups — zero shuffle, exactly
  * the plan the driver-side HashMap was approximating single-threaded.
  *
  * The dimension is deduplicated on ONE partition (`coalesce(1)` before
  * `dropDuplicates`): a side small enough to broadcast is small enough for
  * one task, and a hash shuffle to dedupe it would cost a whole extra
  * stage (a Spark job under AQE) before the broadcast.
  */
object Descriptors {

  /** Resolve `df(codeCol)` against dimension `dim` and append `outCol`.
    *
    * @param dimCode  dimension column holding the code value
    * @param dimValue dimension column holding the resolved value (e.g.
    *                 descriptor name); the output is
    *                 `namespacePrefix + dimValue` on match, else the raw
    *                 code cast to string (passthrough fallback).
    */
  def resolve(
      df: DataFrame,
      dim: DataFrame,
      codeCol: String,
      dimCode: String,
      dimValue: String,
      outCol: String,
      namespacePrefix: String): DataFrame = {
    val d = dim
      .select(col(dimCode).as("__graft_code"), col(dimValue).as("__graft_value"))
      .coalesce(1)
      .dropDuplicates("__graft_code")
    df.join(broadcast(d), df(codeCol) === col("__graft_code"), "left")
      .withColumn(outCol, uriOrPassthrough(col("__graft_value"), df(codeCol), namespacePrefix))
      .drop("__graft_code", "__graft_value")
  }

  /** Column-level form, for use inside an existing joined plan. */
  def uriOrPassthrough(resolved: Column, rawCode: Column, namespacePrefix: String): Column =
    coalesce(concat(lit(namespacePrefix), resolved), rawCode.cast("string"))
}
