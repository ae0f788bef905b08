package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{RunScope, SparkSpec}
import graft.operators.WarcGz

/** [[CorpusStream.warcExportAvailableNow]] — segment-per-drop warc.gz
  * export: every drop lands in its own immutable segment, the union of
  * segments covers the corpus exactly once, and each written shard
  * round-trips through the engine's own reader.
  */
class WarcStreamExportSpec extends SparkSpec {
  import spark.implicits._

  test("segments cover the corpus exactly once and round-trip") {
    val out = RunScope.scratchDir("warc_stream")
    val manifests = CorpusStream.warcExportAvailableNow(
      spark, sf(), out, shards = 2, budget = 200) { batch =>
      batch.select(col("doc_id"),
        concat(lit("https://e.io/p/"), col("doc_id").cast("string"))
          .as("url"),
        lit("2024-06-01T00:00:00Z").as("date"),
        substring(coalesce(col("text"), lit("")), 1, 500).as("payload"))
    }
    val nDocs = graft.Tables.load(spark, sf(), "documents").count()
    val segs = manifests.select("segment").distinct().count()
    assert(segs === 2)
    assert(manifests.agg(sum("n_records")).as[Long].head === nDocs)
    // round-trip every written shard of every segment
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("segment-"))
      .flatMap(_.listFiles().filter(_.getName.endsWith(".warc.gz")))
    assert(files.nonEmpty)
    val gz = files.zipWithIndex
      .map { case (f, i) => (i.toLong, Files.readAllBytes(f.toPath)) }
      .toSeq.toDF("fid", "gz")
    val recs = WarcGz.records(gz, "fid", "gz", maxMembers = 256)
    assert(recs.count() === nDocs)
    assert(recs.select("target_uri").distinct().count() === nDocs)
  }
}
