package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.GzipMembers

/** `.warc.gz` record walk — Common Crawl's ACTUAL landing format: a
  * WARC file compressed with ONE GZIP MEMBER PER RECORD (the layout the
  * WARC ecosystem standardized precisely so a reader can split on
  * member boundaries without inflating the whole file). The walk is:
  *
  *   1. [[graft.expressions.GzipMembers]] splits + inflates the member
  *      chain natively (CRC32 + ISIZE verified per member, output
  *      bounded before allocation);
  *   2. each member decodes ISO-8859-1 — a LOSSLESS byte↔char bijection,
  *      so header offsets are byte-exact and the payload slice
  *      re-encodes to the ORIGINAL bytes (md5 over true payload bytes,
  *      which the text-plane [[Warc]] walk cannot promise past ASCII);
  *   3. one record parses per member — version line, headers to the
  *      first `\r\n\r\n` (case-insensitive names, optional whitespace),
  *      `Content-Length` payload bytes, terminating `\r\n\r\n`, and the
  *      member must END there (the one-record-per-member layout is the
  *      contract, not a heuristic).
  *
  * A file is VALID iff the member chain is well-formed AND every member
  * parses as exactly one record; otherwise the whole file quarantines
  * (contributes no record rows — the [[Warc]]/tar-meta contract).
  *
  * Scale shape: everything through validity is SCAN-SIDE — the member
  * walk is one codegen kernel call, the per-member record parse runs
  * inside a `transform` lambda over the members array (each multiply-
  * read subtree `hof.bind`-let-bound — the q_m15/q_m28 lesson), and
  * validity is a `forall` over the parsed array. No join, no window,
  * no shuffle until the consumer aggregates; `maxMembers` bounds the
  * group one landing-zone cell holds.
  */
object WarcGz {

  private val CRLF2 = "\r\n\r\n"

  /** struct(ok, warc_type, record_id, target_uri, warc_date,
    * content_length, payload_md5) for ONE inflated member.
    */
  private def parseMember(m: Column): Column =
    graft.functions.hof.bind(decode(m, "ISO-8859-1")) { s =>
      graft.functions.hof.bind(
        call_function("locate", lit(CRLF2), s).cast("long")) { hEnd =>
        graft.functions.hof.bind(
          s.substr(lit(1L), greatest(hEnd - 1, lit(0L)))) { headers =>
          def h(key: String): Column =
            regexp_extract(headers,
              "(?i)(?:^|\r\n)" + key + ":[ \t]*([^\r\n]*)", 1)
          val clStr = h("Content-Length")
          graft.functions.hof.bind(
            when(clStr.rlike("^[0-9]{1,15}$"), clStr.cast("long"))) { cl =>
            val verOk = s.substr(lit(1L), lit(10L)) === lit("WARC/1.0\r\n")
            // the member must END at the record terminator: headers +
            // CRLF2 + payload + CRLF2 and nothing after
            val exactLen = length(s) === hEnd + lit(7L) + cl
            val trailerOk =
              s.substr(hEnd + lit(4L) + cl, lit(4L)) === lit(CRLF2)
            val ok = verOk && hEnd > 0 && cl.isNotNull && cl >= 0 &&
              exactLen && trailerOk
            struct(
              ok.as("ok"),
              h("WARC-Type").as("warc_type"),
              h("WARC-Record-ID").as("record_id"),
              h("WARC-Target-URI").as("target_uri"),
              h("WARC-Date").as("warc_date"),
              cl.as("content_length"),
              md5(encode(s.substr(hEnd + lit(4L), greatest(cl, lit(0L))),
                "ISO-8859-1")).as("payload_md5"),
              s.substr(hEnd + lit(4L), greatest(cl, lit(0L)))
                .as("payload_text"))
          }
        }
      }
    }

  /** struct(valid, recs: array<record>) for one `.warc.gz` cell. */
  def walk(gz: Column, maxMembers: Int, maxRecordBytes: Int): Column =
    graft.functions.hof.bind(
      transform(
        org.apache.spark.sql.graft.bridge.column(GzipMembers(
          org.apache.spark.sql.graft.bridge.expression(gz),
          maxMembers, maxRecordBytes)),
        parseMember(_))) { parsed =>
      struct(
        (parsed.isNotNull && size(parsed) >= 1 &&
          forall(parsed, p => p.getField("ok"))).as("valid"),
        parsed.as("recs"))
    }

  /** `(file_id, w)`: each file's [[walk]] result. */
  private def walked(
      df: DataFrame, idCol: String, gzCol: String, maxMembers: Int,
      maxRecordBytes: Int): DataFrame =
    df.select(col(idCol).as("file_id"),
      walk(col(gzCol), maxMembers, maxRecordBytes).as("w"))

  /** One row per record of each valid file with the [[records]] columns,
    * then `extra` (projections of the record struct `r`).
    */
  private def recordRows(
      df: DataFrame, idCol: String, gzCol: String, maxMembers: Int,
      maxRecordBytes: Int, extra: Column*): DataFrame =
    walked(df, idCol, gzCol, maxMembers, maxRecordBytes)
      .filter(col("w.valid"))
      .select(col("file_id"), posexplode(col("w.recs")).as(Seq("rec_idx", "r")))
      .select(Seq(col("file_id"), col("rec_idx").cast("int").as("rec_idx"),
        col("r.warc_type").as("warc_type"),
        col("r.record_id").as("record_id"),
        col("r.target_uri").as("target_uri"),
        col("r.warc_date").as("warc_date"),
        col("r.content_length").as("content_length"),
        col("r.payload_md5").as("payload_md5")) ++ extra: _*)

  /** One row per record of each VALID file: (file_id, rec_idx,
    * warc_type, record_id, target_uri, warc_date, content_length,
    * payload_md5). Invalid files contribute no rows — read
    * [[fileSummary]] for the quarantine ledger.
    */
  def records(
      df: DataFrame,
      idCol: String,
      gzCol: String,
      maxMembers: Int = 16,
      maxRecordBytes: Int = 1 << 24): DataFrame =
    recordRows(df, idCol, gzCol, maxMembers, maxRecordBytes)

  /** [[records]] plus the PAYLOAD TEXT itself (`payload_text`, the
    * lossless ISO-8859-1 view of the payload bytes) — the column the
    * downstream text pipeline consumes directly (warc.gz → boilerplate
    * extraction without a second container pass). Meaningful for
    * text-plane payloads; binary payloads keep their byte-exact md5
    * and route to the [[Multimodal]] kernels via re-encode.
    */
  def recordsWithText(
      df: DataFrame,
      idCol: String,
      gzCol: String,
      maxMembers: Int = 16,
      maxRecordBytes: Int = 1 << 24): DataFrame =
    recordRows(df, idCol, gzCol, maxMembers, maxRecordBytes,
      col("r.payload_text").as("payload_text"))

  /** Per-file ledger: (file_id, valid, n_records, total_payload). */
  def fileSummary(
      df: DataFrame,
      idCol: String,
      gzCol: String,
      maxMembers: Int = 16,
      maxRecordBytes: Int = 1 << 24): DataFrame =
    walked(df, idCol, gzCol, maxMembers, maxRecordBytes)
      .select(
        col("file_id"),
        col("w.valid").as("valid"),
        when(col("w.valid"), size(col("w.recs"))).otherwise(lit(0))
          .cast("int").as("n_records"),
        when(col("w.valid"),
          coalesce(aggregate(col("w.recs"), lit(0L),
            (a, r) => a + r.getField("content_length")), lit(0L)))
          .otherwise(lit(0L)).as("total_payload"))
}
