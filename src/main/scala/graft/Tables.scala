package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Catalog over the harness parquet tables (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. Reads are plain
  * `spark.read.parquet` so Catalyst's pushdown/pruning reach the scan —
  * every query should show `PushedFilters`/pruned `ReadSchema` in explain.
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
      normalizeEventTs(spark.read.parquet(path(sfDir, name)))
    } else spark.read.parquet(path(sfDir, name))

  /** Normalize whatever encoding `ts` arrived in (int64 nanos, NTZ, or
    * session-zone timestamp) to TimestampType. See [[load]].
    */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }

  /** The same table as a file STREAM (micro-batch source): schema taken
    * from a batch read, `pathGlobFilter` isolating the table's file in
    * the shared sf directory. For events, the stream is read with the
    * file's native schema and `ts` normalized per-batch exactly as in
    * [[load]] (the µs encodings stream fine; only the legacy NANOS files
    * could not, and those are gone from the harness data).
    */
  def readStream(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val schema: StructType = spark.read.parquet(path(sfDir, name)).schema
    val raw = spark.readStream
      .schema(schema)
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
