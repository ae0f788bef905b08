package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.RunScope
import graft.RunScope.Pinning

/** `.warc.gz` EXPORT — the write path of the landing format the engine
  * reads ([[WarcGz]]): captures serialize as one gzip member per WARC
  * `response` record (the Common Crawl convention — a reader can seek
  * to any record boundary), `budget` records per shard in id order.
  *
  * Members are real RFC 1952 gzip: a STORED-deflate block carrying the
  * record bytes plus a true CRC-32 and ISIZE trailer — any gzip tool
  * inflates them, and [[WarcGz.records]] round-trips every field
  * (spec-pinned). STORED framing bounds one block at 65535 bytes, so
  * records are capped at one block and the writer REFUSES loudly on
  * oversize payloads rather than silently truncating (the tar-meta
  * quarantine posture, write-side).
  *
  * The payload column is the ISO-8859-1 byte-view string ([[WarcGz]]'s
  * lossless bridge): `length()` IS the byte count and the re-encode
  * reproduces the exact bytes, so binary payloads survive the round
  * trip.
  *
  * Scale shape: record/member construction is scan-side; sharding is
  * the [[Curation.packSequences]] two-level prefix sum (NO corpus-wide
  * single-partition window); each shard concatenates its members in
  * one per-shard aggregate and writes one file (the [[ShardExport]]
  * writer discipline).
  */
object WarcExport {

  /** Largest record (headers + payload + terminator) one STORED block
    * carries.
    */
  val maxRecordBytes = 65535

  private def le16(c: org.apache.spark.sql.Column) = {
    val h = lpad(hex(c), 4, "0")
    concat(substring(h, 3, 2), substring(h, 1, 2))
  }

  private def le32(c: org.apache.spark.sql.Column) = {
    val h = lpad(hex(c), 8, "0")
    concat(substring(h, 7, 2), substring(h, 5, 2),
      substring(h, 3, 2), substring(h, 1, 2))
  }

  /** Write `captures` (idCol numeric, urlCol, dateCol, payloadCol =
    * ISO-8859-1 byte-view) as `shard-NNNNN.warc.gz` files under
    * `outDir` plus a `_manifest` parquet; returns the manifest frame
    * (shard_id, n_records, total_payload, content_md5).
    */
  def write(
      captures: DataFrame,
      idCol: String,
      urlCol: String,
      dateCol: String,
      payloadCol: String,
      budget: Int,
      outDir: String): DataFrame = RunScope.scope("WarcExport.write") {
    require(budget >= 1, "budget must be positive")
    val rc = graft.functions.hof.bind(
      coalesce(col(payloadCol), lit(""))) { pl =>
      concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:uuid:"),
        col(idCol).cast("string"), lit(">\r\nWARC-Date: "), col(dateCol),
        lit("\r\nWARC-Target-URI: "), col(urlCol),
        lit("\r\nContent-Length: "), length(pl).cast("string"),
        lit("\r\n\r\n"), pl, lit("\r\n\r\n"))
    }
    val base = captures
      .select(col(idCol), col(urlCol), col(dateCol), rc.as("__rc"),
        length(coalesce(col(payloadCol), lit(""))).as("__np"))
      .pin()
    val oversize = base.where(length(col("__rc")) > maxRecordBytes)
      .limit(1).collect()
    require(oversize.isEmpty,
      s"record exceeds $maxRecordBytes bytes (STORED one-block cap) " +
        s"at ${idCol}=${if (oversize.nonEmpty) oversize.head.get(0) else ""}")
    val assigned = Curation
      .packSequences(
        base.withColumn("__w", lit(1)), idCol, "__w", budget)
      .withColumnRenamed("pack_id", "shard_id")
      .withColumn("seq_in_shard",
        row_number().over(
          Window.partitionBy("shard_id").orderBy(idCol)).cast("int"))
    val bytesCol = graft.functions.hof.bind(
      encode(col("__rc"), "ISO-8859-1")) { b =>
      unhex(concat(
        lit("1F8B0800000000000003"),
        lit("01"), le16(length(col("__rc"))),
        le16(lit(65535) - length(col("__rc"))),
        hex(b), le32(crc32(b)), le32(length(col("__rc")))))
    }
    val emptyBin = unhex(lit(""))
    val shards = assigned
      .select(col("shard_id"), col("seq_in_shard"), col(idCol),
        col("__rc"), col("__np"), bytesCol.as("__gz"))
      .groupBy("shard_id")
      .agg(
        aggregate(
          array_sort(collect_list(struct(col("seq_in_shard").as("__s"),
            col("__gz").as("__b")))),
          emptyBin,
          (a, m) => concat(a, m.getField("__b"))).as("gz"),
        count(lit(1)).as("n_records"),
        sum(col("__np")).as("total_payload"),
        md5(concat_ws("",
          transform(
            array_sort(collect_list(struct(col(idCol).as("__id"),
              md5(encode(col("__rc"), "ISO-8859-1")).as("__h")))),
            s => s.getField("__h"))).cast("binary")).as("content_md5"))
      .pin()
    val hconf = captures.sparkSession.sparkContext.hadoopConfiguration
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val fs0 = outPath.getFileSystem(hconf)
    if (fs0.exists(outPath)) {
      fs0.globStatus(
        new org.apache.hadoop.fs.Path(outDir, "shard-*.warc.gz"))
        .foreach(st => fs0.delete(st.getPath, false))
    }
    val dir = outDir
    shards
      .select(col("shard_id"), col("gz"))
      .repartition(col("shard_id"))
      .foreachPartition {
        (rows: Iterator[org.apache.spark.sql.Row]) =>
          if (rows.hasNext) {
            val conf = new org.apache.hadoop.conf.Configuration()
            rows.foreach { r =>
              val p = new org.apache.hadoop.fs.Path(
                f"$dir/shard-${r.getLong(0)}%05d.warc.gz")
              val fs = p.getFileSystem(conf)
              val out = fs.create(p, true)
              try out.write(r.getAs[Array[Byte]](1))
              finally out.close()
            }
          }
      }
    val manifest = shards
      .select("shard_id", "n_records", "total_payload", "content_md5")
      .orderBy("shard_id")
    manifest.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/_manifest")
    manifest.pin()
  }
}
