package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column↔Expression converters (Spark 4
  * moved Column onto ColumnNode; `ExpressionUtils` is the sanctioned
  * conversion point, spark/sql/classic/columnNodeSupport.scala). This is
  * the ONLY file outside the `graft` namespace: it exists solely to give
  * graft's native Catalyst expressions a public `Column` surface.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a logical plan as a DataFrame (`Dataset.ofRows` is
    * private[sql]) — the entry point for graft's custom logical
    * operators (e.g. the native as-of join node).
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Free the executor blocks behind a `localCheckpoint`ed frame; pin
    * lifetimes are [[graft.RunScope]]'s, which frees through here.
    * `SparkContext.unpersistRDD` removes the same blocks as
    * `RDD.unpersist`, without its "lineage has been truncated" WARN for
    * every locally checkpointed RDD.
    */
  def freeLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.sparkContext.unpersistRDD(r.rdd.id, blocking = false)
      case _ => ()
    }

  /** The id of the block RDD behind a persisted frame, once a job has
    * built it.
    */
  def cachedRddId(df: org.apache.spark.sql.DataFrame): Option[Int] =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder)
      .filter(_.isCachedColumnBuffersLoaded)
      .map(_.cachedColumnBuffers.id)

  /** A fresh directory under `java.io.tmpdir` that Spark's shutdown hook
    * deletes when the JVM exits.
    */
  def createTempDir(prefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix)

  /** Partition counts of a frame's in-memory RDD leaves (checkpointed
    * frames, micro-batch frames), available WITHOUT running a job —
    * `None` when any leaf is something else (file scans, local
    * relations), where the caller has better signals (`inputFiles`) or
    * no cheap one at all. `rdd.getNumPartitions` on the full frame is
    * not an alternative: under AQE it materializes every upstream
    * shuffle stage just to learn a count.
    */
  def leafRddPartitionCounts(df: org.apache.spark.sql.DataFrame): Option[Seq[Int]] = {
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val rdds = leaves.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.getNumPartitions
    }
    if (rdds.nonEmpty && rdds.length == leaves.length) Some(rdds) else None
  }

  /** Block until every queued listener-bus event has been delivered.
    * `SparkContext.listenerBus` is `private[spark]`; specs that count
    * query executions (e.g. "the sketch build is the only eager action")
    * need a deterministic drain instead of sleeps.
    */
  def waitUntilListenerBusEmpty(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** JSON-text → InternalRow parser for a fixed schema (the machinery
    * behind `from_json`; JacksonParser and JSONOptions are private[sql]).
    * PERMISSIVE like `from_json`: a malformed record yields one all-null
    * row instead of crashing the task with an internal BadRecordException.
    * Construct INSIDE the executor task — the returned closure holds a
    * non-serializable Jackson parser.
    */
  def jsonRowParser(schema: org.apache.spark.sql.types.StructType)
      : String => Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val parser = new org.apache.spark.sql.catalyst.json.JacksonParser(
      schema,
      new org.apache.spark.sql.catalyst.json.JSONOptions(Map.empty[String, String], "UTC"),
      allowArrayAsStructs = false,
      Seq.empty)
    val safe = new org.apache.spark.sql.catalyst.util.FailureSafeParser[String](
      s => parser.parse(
        s,
        org.apache.spark.sql.catalyst.json.CreateJacksonParser.string,
        org.apache.spark.unsafe.types.UTF8String.fromString),
      org.apache.spark.sql.catalyst.util.PermissiveMode,
      schema,
      "_corrupt_record")
    safe.parse(_)
  }
}
