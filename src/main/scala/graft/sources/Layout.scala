package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Physical-layout helpers for the 100 TB posture: bucketing co-locates
  * join/aggregation keys at WRITE time so repeated joins on the key are
  * shuffle-free reads (Exchange elided on both sides when bucket specs
  * match), and partitioned layouts give coarse pruning on the partition
  * column.
  *
  * The reference has no storage layer at all (everything driver-heap,
  * Dao.java:40-75); this is where the engine's sync tables (target
  * snapshots keyed by entity id, detail tables keyed by student id)
  * would live between runs.
  */
object Layout {

  /** Write `df` bucketed by `keyCols` as a managed table; joins between
    * tables bucketed the same way on the same keys skip the shuffle.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      keyCols: Seq[String],
      numBuckets: Int): Unit = {
    val spark = df.sparkSession
    val catalog = spark.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    // If the catalog knows the table, DROP TABLE is the whole cleanup:
    // for a MANAGED table it deletes the data directory too, and for an
    // EXTERNAL table the data dir is NOT ours to delete.
    val existed = catalog.tableExists(ident)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    if (!existed) {
      // A previous JVM's warehouse directory is invisible to this
      // session's in-memory catalog, and saveAsTable refuses a managed
      // table whose location already exists. Clear ONLY the catalog's
      // own default managed location for this exact identifier (never a
      // string-concatenated guess — custom locations and name collisions
      // must not be swept up), and only when no live table claims the
      // name.
      val loc = new org.apache.hadoop.fs.Path(catalog.defaultTablePath(ident))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    df.write
      .mode("overwrite")
      .bucketBy(numBuckets, keyCols.head, keyCols.tail: _*)
      .sortBy(keyCols.head, keyCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Write partitioned-by-column layout (coarse pruning; e.g. run date). */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String]): Unit =
    df.write
      .mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Compact a fragmented parquet directory into ~`targetBytes` files —
    * the small-files maintenance pass every long-lived 100 TB table
    * needs (streaming sinks and per-run dumps fragment; thousands of
    * tiny files turn scans into listing storms and starve row-group
    * pruning). File count is sized from the input's actual bytes via a
    * driver-side listing (no job), then one repartition writes evenly
    * sized outputs. Returns the target file count.
    */
  def compact(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      targetBytes: Long): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val in = new org.apache.hadoop.fs.Path(inDir)
    val fs = in.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.listStatus(in)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    spark.read.parquet(inDir)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(outDir)
    nFiles
  }

  /** Per-file min/max/count manifest ("zone maps") over `cols` — the
    * external data-skipping index for predicates on columns that are NOT
    * the partition key. Parquet footers carry the same stats per
    * row-group, but at 100 TB reading a million footers per query is the
    * listing storm; a manifest TABLE is one small scan, and is what
    * table formats maintain transactionally. Build it once per
    * write/compaction; pair with a range-partitioned or z-ordered layout
    * so per-file ranges are tight enough to skip.
    */
  def statsManifest(spark: SparkSession, dir: String, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty, "manifest needs at least one column")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) :+
      count(lit(1)).as("n_rows")
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Read only the files whose [min, max] zone overlaps [lo, hi] on
    * `rangeCol`, per `manifest`. The overlapping file list is collected
    * driver-side — bounded by FILE COUNT (what any manifest-driven
    * planner does), never by rows. The residual predicate must still be
    * applied by the caller; skipping is an over-approximation exactly
    * like partition pruning.
    */
  def readSkipping(
      spark: SparkSession,
      manifest: DataFrame,
      rangeCol: String,
      lo: Any,
      hi: Any): DataFrame = {
    import org.apache.spark.sql.functions._
    val files = manifest
      .where(col(s"max_$rangeCol") >= lit(lo) && col(s"min_$rangeCol") <= lit(hi))
      .select("file")
      .collect()
      .map(_.getString(0))
    require(files.nonEmpty, "zone-map skip selected no files — empty result short-circuit")
    spark.read.parquet(files.toIndexedSeq: _*)
  }

  /** True when the physical plan of `df` contains a shuffle exchange —
    * used by specs to prove bucketed joins are exchange-free.
    */
  def hasShuffle(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning")

  /** True when some file scan in `df`'s plan carries a PartitionFilters
    * entry mentioning `colName` — the plan-level proof that a predicate
    * reached DIRECTORY pruning (hive-layout partition elimination)
    * instead of running as a post-scan filter. A predicate on a
    * non-partition column never appears there, so this cannot pass by
    * accident.
    */
  def hasPartitionFilter(df: DataFrame, colName: String): Boolean = {
    val s = df.queryExecution.executedPlan.toString
    val tag = "PartitionFilters: ["
    Iterator
      .iterate(s.indexOf(tag))(i => s.indexOf(tag, i + 1))
      .takeWhile(_ >= 0)
      .exists { i =>
        val end = s.indexOf(']', i)
        end > i && s.substring(i + tag.length, end).contains(colName)
      }
  }
}
