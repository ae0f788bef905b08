package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session factory: every entry point, test and benchmark
  * runs the session built here, and nothing changes it mid-run.
  *
  * Local-mode testing uses `local[N]`, but every knob here is chosen for the
  * 1000-executor / 100 TB target: AQE is on by Spark's default (runtime
  * re-plan, skew-join splitting, partition coalescing), the broadcast
  * threshold is generous enough that dimension tables (region/nation/
  * descriptor lookups — see SURVEY.md §2.3 J3) never shuffle, and session
  * time is UTC for oracle parity. [[GraftExtensions]] installs the SQL
  * functions, optimizer rules and planner strategy at construction, and
  * `nanosAsLong` lets [[Tables.load]] read int64-NANOS event timestamps.
  */
object GraftSession {

  /** Number of local cores: SPARK_GRAFT_CPUS, else every available one. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** The local session (created once per JVM, reused after). */
  def local(appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
