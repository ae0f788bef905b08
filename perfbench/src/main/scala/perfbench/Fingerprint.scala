package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.{GraftSession, SparkEntry}

/** Row count plus an order-insensitive hash of a query result: the sum of
  * per-row xxhash64 values over all columns. Doubles are narrowed to
  * float first, so last-ulp differences of aggregation order do not
  * change the hash.
  */
final case class Fingerprint(rows: Long, hash: String)

object Fingerprint {

  def of(df: DataFrame): Fingerprint = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => col(f.name).cast("float")
        case _                      => col(f.name)
      }
    }
    val r = named.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    Fingerprint(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** The committed fingerprints, from the file named by the
    * `perfbench.fingerprints` system property.
    */
  lazy val committed: Map[String, Fingerprint] = {
    import org.json4s._
    val path = Paths.get(sys.props("perfbench.fingerprints"))
    val js = org.json4s.jackson.JsonMethods.parse(Files.readString(path))
    (js \ "queries") match {
      case JObject(fields) => fields.map { case (q, v) =>
        val JInt(rows) = v \ "rows": @unchecked
        val JString(hash) = v \ "hash": @unchecked
        q -> Fingerprint(rows.toLong, hash)
      }.toMap
      case _ => Map.empty
    }
  }

  /** Regenerates the fingerprints: `perfbench.Fingerprint <data dir>
    * <work dir> <fingerprints.json>`. Writes each query's full result over
    * the base tables as parquet under `<work dir>/results/<query>` and its
    * oracle SQL beside it, so `validate_fingerprints.py` can compare every
    * result with DuckDB before the file is committed.
    */
  def main(args: Array[String]): Unit = {
    val Array(data, work, out) = args
    val spark = GraftSession.local("perfbench-fingerprint")
    try {
      val fps = Workload.scanQueries.map { q =>
        val df = SparkEntry.queries(q)(spark, data)
        df.write.mode("overwrite").parquet(s"$work/results/$q")
        SparkEntry.oracleSql.get(q).foreach(sql =>
          Files.writeString(Paths.get(s"$work/results/$q.sql"), sql))
        val fp = of(df)
        System.err.println(s"[fingerprint] $q $fp")
        q -> Map("rows" -> fp.rows, "hash" -> fp.hash)
      }
      Files.writeString(Paths.get(out), Json.render(Map(
        "queries" -> scala.collection.immutable.ListMap(fps: _*))) + "\n")
    } finally spark.stop()
  }
}
