package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {

  /** One verifiable operator demo: a Spark plan builder over an sf
    * directory plus (optionally) the equivalent ANSI SQL the driver runs in
    * DuckDB over the same parquet tables.
    *
    * Conventions for oracle stability (the driver hash-compares values after
    * sorting columns by name):
    *   - every query is fully deterministically ordered (total ORDER BY);
    *   - money/double aggregations go through DECIMAL so the result is
    *     exact and engine-order-independent, then cast back to double;
    *   - aggregate/computed columns carry the same alias on both sides.
    */
  final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  object Q {
    def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
      Q(name, fn, Some(oracle))
  }

  trait QueryGroup {
    def all: Seq[Q]
    /** Each builder runs in a [[graft.RunScope]] named after its query. */
    final def queries: Map[String, (SparkSession, String) => DataFrame] =
      all.map(q => q.name -> ((s: SparkSession, dir: String) =>
        RunScope.scope(q.name)(q.fn(s, dir)))).toMap
    final def oracles: Map[String, String] =
      all.flatMap(q => q.oracle.map(q.name -> _)).toMap
  }
}
