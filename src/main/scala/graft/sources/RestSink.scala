package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct, to_json}

import Http._

/** REST write sinks: POST-as-upsert and DELETE-by-id, the reference's
  * S8/S9 (TeacherCandidatesApi POST :615-627, DELETE :126-141, driven one
  * record at a time on a single thread — SisConnectorService.java:184-198,
  * 472-487).
  *
  * Spark-first restatement: `foreachPartition` — every partition opens its
  * own authed session and streams its rows through the transport, so write
  * throughput scales with executors instead of being a driver loop.
  * Idempotency makes task retries safe: Ed-Fi POST is upsert-by-natural-key
  * (re-POST converges), and DELETE treats 404 as success (already gone —
  * exactly what a retried delete sees). A refused record does not stop
  * the sink: it is counted, its partition goes on, and the report says how
  * many rows were accepted and how many were refused.
  */
object RestSink {

  /** What a sink did: rows it attempted, rows the server accepted, rows it
    * refused, and the first few refusals (`"<METHOD> <path>: HTTP <status>"`).
    */
  final case class SinkReport(
      attempted: Long,
      succeeded: Long,
      failed: Long = 0L,
      errors: Seq[String] = Nil)

  /** Refusals kept per sink call (and per partition) in [[SinkReport.errors]]. */
  val MaxErrors = 5

  /** POST every row of `df` as a JSON document to `path`. Returns counts
    * from accumulators (the run-report plumbing, S11/A5).
    */
  def upsert(
      df: DataFrame,
      transport: Transport,
      tokens: TokenSource,
      path: String): SinkReport =
    send(df.select(to_json(struct(df.columns.map(col): _*))), "upsert", transport, tokens,
      body => Request("POST", path, body = body), _ / 100 == 2)

  /** DELETE each id in `df(idCol)`; 404 counts as success (idempotent
    * delete under task retry — the reference's delete-after-reauth path
    * would crash on it).
    */
  def delete(
      df: DataFrame,
      idCol: String,
      transport: Transport,
      tokens: TokenSource,
      path: String): SinkReport =
    send(df.select(col(idCol).cast("string")), "delete", transport, tokens,
      id => Request("DELETE", s"$path/$id"), status => status / 100 == 2 || status == 404)

  /** One request per row of the single string column of `df`. A refused
    * row is counted and logged, and the partition keeps going, as the
    * reference logs a failed record and moves on: one bad record never
    * hides how many others the server accepted.
    */
  private def send(
      df: DataFrame,
      name: String,
      transport: Transport,
      tokens: TokenSource,
      request: String => Request,
      accepted: Int => Boolean): SinkReport = {
    val sc = df.sparkSession.sparkContext
    val attempted = sc.longAccumulator(s"graft.$name.attempted")
    val succeeded = sc.longAccumulator(s"graft.$name.succeeded")
    val failed = sc.longAccumulator(s"graft.$name.failed")
    val errors = sc.collectionAccumulator[String](s"graft.$name.errors")
    df.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      val authed = new Authed(transport, tokens)
      var refused = 0
      it.foreach { row =>
        attempted.add(1)
        val req = request(row.getString(0))
        val status = authed.call(req).status
        if (accepted(status)) succeeded.add(1)
        else {
          if (refused < MaxErrors) errors.add(s"${req.method} ${req.path}: HTTP $status")
          refused += 1
          failed.add(1)
        }
      }
    }
    SinkReport(attempted.value, succeeded.value, failed.value,
      errors.value.asScala.take(MaxErrors).toSeq)
  }
}
