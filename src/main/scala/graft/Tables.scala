package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Catalog over the harness parquet tables (TESTDATA.md), and the one
  * place that reads them.
  *
  * One parquet file per table under `sfDir`. Every read is a
  * `spark.read.parquet` scan, so Catalyst's pushdown/pruning reach it —
  * every query should show `PushedFilters`/pruned `ReadSchema` in explain.
  *
  * Schema inference is a Spark job (a footer read per call), so each
  * table's schema is inferred once per session and file state: the memo
  * is keyed by (session, path) and holds the sorted (path, length,
  * modification time) of every leaf file under the path with the schema
  * inferred from them. A read whose listing matches passes that schema to
  * `spark.read.schema(..)`: Spark still lists the files and builds the
  * same plan, but runs no inference job. Any change to the files means a
  * fresh inference; only the latest state per path is kept. Sessions are
  * held weakly, and a `newSession()` clone (which may set a parquet
  * inference conf differently) infers for itself.
  */
object Tables {

  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  val extra: Seq[String] = Seq("events", "documents", "embeddings")

  val all: Seq[String] = tpch ++ extra

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped under several parquet encodings; normalize all
      // of them to a session-zone TimestampType so downstream event-time code
      // (`unix_micros`, watermarks, range predicates) sees ONE type:
      //  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; the legacy
      //    nanosAsLong flag (set by GraftSession) surfaces raw int64 nanos,
      //    converted with integer `div` (nanos since epoch exceed double's
      //    53-bit mantissa).
      //  - timestamp[us] isAdjustedToUTC=false → TIMESTAMP_NTZ: cast to
      //    TimestampType. Lossless under the session's fixed UTC zone
      //    (GraftSession sets spark.sql.session.timeZone=UTC): the wall-clock
      //    fields are reinterpreted as UTC instants, byte-identical
      //    epoch-micros to what DuckDB reads from the same file.
      //  - timestamp[us] UTC-adjusted → already TimestampType: passthrough.
      normalizeEventTs(read(spark, path(sfDir, name)))
    } else read(spark, path(sfDir, name))

  /** The table's schema as its parquet file declares it (`events.ts`
    * NOT normalized) — what a stream over the table is read with.
    */
  def schema(spark: SparkSession, sfDir: String, name: String): StructType =
    read(spark, path(sfDir, name)).schema

  private type FileState = Seq[(String, Long, Long)]

  private val inferred =
    new java.util.WeakHashMap[SparkSession, mutable.Map[String, (FileState, StructType)]]()

  /** `spark.read.parquet(path)`, inferring the schema only when this
    * session has not yet read the path in its current file state. An
    * unlistable path (e.g. a missing one) is left to Spark's own read and
    * its own error.
    */
  private def read(spark: SparkSession, path: String): DataFrame = {
    val state = fileState(spark, path)
    val known = inferred.synchronized(Option(inferred.get(spark)).flatMap(_.get(path)))
      .collect { case (seen, schema) if state.contains(seen) => schema }
    known match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        state.foreach(s => inferred.synchronized(
          inferred.computeIfAbsent(spark, _ => mutable.Map.empty).update(path, (s, df.schema))))
        df
    }
  }

  /** Sorted (path, length, modification time) of every leaf file under
    * `path`, listed through the session's Hadoop file system so any URI
    * Spark reads works here too; `None` when the listing fails.
    */
  private def fileState(spark: SparkSession, path: String): Option[FileState] =
    try {
      val p = new Path(path)
      val files = p.getFileSystem(spark.sessionState.newHadoopConf()).listFiles(p, true)
      val state = Vector.newBuilder[(String, Long, Long)]
      while (files.hasNext) {
        val f = files.next()
        state += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(state.result().sorted)
    } catch { case NonFatal(_) => None }

  /** Normalize whatever encoding `ts` arrived in (int64 nanos, NTZ, or
    * session-zone timestamp) to TimestampType. See [[load]].
    */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }

  /** The same table as a file STREAM (micro-batch source): the file's
    * [[schema]], `pathGlobFilter` isolating the table's file in the
    * shared sf directory. For events, the stream is read with the file's
    * native schema and `ts` normalized per-batch exactly as in [[load]]
    * (the µs encodings stream fine; only the legacy NANOS files could
    * not, and those are gone from the harness data).
    */
  def readStream(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val raw = spark.readStream
      .schema(schema(spark, sfDir, name))
      .option("pathGlobFilter", s"$name.parquet")
      .parquet(sfDir)
    if (name == "events") normalizeEventTs(raw) else raw
  }

  /** Ensure at least the cluster's default parallelism before heavy per-row
    * compute (signature passes, per-doc hashing). A small corpus arriving
    * as one parquet row group is ONE input split — without this, a 32-core
    * machine runs the whole MinHash/SimHash pass on a single task. No-op
    * when the input already has enough files (the 100 TB case: thousands),
    * so no shuffle is added at scale.
    *
    * The gate reads `inputFiles` (a listing, no job) rather than
    * `rdd.getNumPartitions` — under AQE the latter materializes every
    * upstream shuffle stage just to learn a partition count. File count
    * under-estimates splits for multi-row-group files (large files split
    * further by maxPartitionBytes), erring toward a harmless repartition
    * of inputs that are small anyway.
    *
    * Non-file plans report ZERO files; for those whose leaves are all
    * in-memory RDDs (checkpointed frames, foreachBatch micro-batch
    * frames) the leaf partition counts are known without running a job
    * (r18 — previously such frames paid an unconditional exchange even
    * when already wide, e.g. an already-spread-then-checkpointed corpus
    * re-entering a shared constructor). Other non-file plans (local test
    * relations, post-join frames) still spread unconditionally.
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.inputFiles.length >= target) df
    else if (org.apache.spark.sql.graft.bridge.leafRddPartitionCounts(df)
        .exists(ps => ps.min >= target)) df
    else df.repartition(target)
  }
}
