package graft.streaming

import org.apache.spark.sql.functions._

import graft.{RunScope, SparkSpec}

/** The concurrent landing-zone shard writer (r18): per-shard files must
  * carry exactly the shard's rows, and arrival order — the contract
  * q_st39's first-occurrence dedup is declared against — must be shard
  * order under BOTH tie-breaks a file stream can use (name, mtime).
  */
class LandingZoneSpec extends SparkSpec {

  test("writeShardFiles: value-exact shards, shard-ordered names and mtimes") {
    import spark.implicits._
    val docs = (0L until 97L).map(i => (i, s"text-$i")).toDF("doc_id", "text")
    val shards = 3
    val dir = RunScope.scratchDir("landing_spec")
    CorpusStream.writeShardFiles(docs, shards, dir)

    val files = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      finally s.close()
    }.sortBy(_.getFileName.toString)
    assert(files.length == shards, s"expected $shards files, got $files")
    assert(files.map(_.getFileName.toString) ==
      (0 until shards).map(i => f"shard-$i%05d.parquet"))
    // strictly increasing mtimes in shard order
    val mtimes = files.map(f => java.nio.file.Files.getLastModifiedTime(f).toMillis)
    assert(mtimes == mtimes.sorted && mtimes.distinct == mtimes,
      s"mtimes must strictly ascend in shard order: $mtimes")
    // each file holds exactly its pmod slice
    files.zipWithIndex.foreach { case (f, i) =>
      val got = spark.read.parquet(f.toString)
        .select("doc_id").as[Long].collect().toSet
      val want = (0L until 97L).filter(_ % shards == i).toSet
      assert(got == want, s"shard $i content mismatch")
    }
    // the stream delivers one shard per micro-batch, in shard order
    val seen = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val ids = b.select("doc_id").collect().map(_.getLong(0)).toSet
          if (ids.nonEmpty) seen += ids
          ()
      }
      .start()
    q.awaitTermination()
    assert(seen.length == shards)
    seen.zipWithIndex.foreach { case (ids, i) =>
      assert(ids == (0L until 97L).filter(_ % shards == i).toSet,
        s"micro-batch $i must be shard $i")
    }
  }
}
