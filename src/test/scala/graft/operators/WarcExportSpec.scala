package graft.operators

import java.io.ByteArrayInputStream
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.functions._

import graft.{RunScope, SparkSpec}

/** [[WarcExport]] — the write path round-trips through the engine's
  * own reader AND a stock gzip decoder, shards respect the record
  * budget, and oversize records refuse loudly.
  */
class WarcExportSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    RunScope.scratchDir("warc_export")

  private def captures(n: Int) = {
    // payload with the full byte range via the ISO-8859-1 bridge
    val rows = (0 until n).map { i =>
      val bytes = Array.tabulate[Byte](40 + i)(j => ((i * 7 + j) % 256).toByte)
      (i.toLong, s"https://e.io/p/$i", "2024-06-01T00:00:00Z",
        new String(bytes, "ISO-8859-1"))
    }
    rows.toDF("id", "url", "date", "payload")
  }

  test("round trip: engine reader recovers every record byte-exactly") {
    val dir = tmp()
    val in = captures(7)
    WarcExport.write(in, "id", "url", "date", "payload", 3, dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).sortBy(_.getName)
    assert(files.length === 3) // 7 records, budget 3 -> 3, 3, 1
    val gz = files.flatMap(f => Seq(Files.readAllBytes(f.toPath)))
      .zipWithIndex.map { case (b, i) => (i.toLong, b) }.toSeq
      .toDF("fid", "gz")
    val got = WarcGz.records(gz, "fid", "gz", maxMembers = 8)
      .orderBy("target_uri")
      .select("target_uri", "warc_date", "payload_md5")
      .as[(String, String, String)].collect().toSeq
    val expected = captures(7)
      .select(col("url"), lit("2024-06-01T00:00:00Z"),
        md5(encode(col("payload"), "ISO-8859-1")))
      .as[(String, String, String)].collect().toSeq.sortBy(_._1)
    assert(got === expected)
  }

  test("a stock gzip decoder inflates every written shard fully") {
    val dir = tmp()
    WarcExport.write(captures(4), "id", "url", "date", "payload", 2, dir)
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".warc.gz")).foreach { f =>
        val g = new GZIPInputStream(
          new ByteArrayInputStream(Files.readAllBytes(f.toPath)))
        val buf = new Array[Byte](8192)
        var total = 0
        var n = g.read(buf)
        while (n > 0) { total += n; n = g.read(buf) }
        assert(total > 0)
      }
  }

  test("manifest counts + parquet copy agree") {
    val dir = tmp()
    val m = WarcExport.write(captures(5), "id", "url", "date", "payload",
      2, dir)
      .select("shard_id", "n_records").as[(Long, Long)].collect().toSeq
    assert(m.map(_._2).sum === 5L)
    assert(m.forall(_._2 <= 2L))
    val onDisk = spark.read.parquet(s"$dir/_manifest")
      .select("shard_id", "n_records").as[(Long, Long)].collect().toSeq
    assert(onDisk.sortBy(_._1) === m.sortBy(_._1))
  }

  test("oversize record refuses loudly") {
    val dir = tmp()
    val big = Seq((1L, "https://e.io/big", "2024-06-01T00:00:00Z",
      "x" * 70000)).toDF("id", "url", "date", "payload")
    val e = intercept[IllegalArgumentException] {
      WarcExport.write(big, "id", "url", "date", "payload", 2, dir)
    }
    assert(e.getMessage.contains("STORED one-block cap"))
  }
}
