package graft.operators

import java.nio.file.Files

import graft.{RunScope, SparkSpec}
import org.apache.spark.sql.functions.col

class ShardExportSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "web", "alpha beta gamma delta"),     // 4 tokens
    (2L, "web", "one two three"),              // 3
    (3L, "books", "lorem ipsum dolor sit amet"), // 5
    (4L, "web", "x y"),                        // 2
    (5L, "code", "def f a b c"),               // 5
    (6L, "books", ""),                         // 0
    (7L, "web", "tail doc tokens here")        // 4
  ).toDF("doc_id", "source", "text")

  test("budget boundaries: whole docs, overshoot bounded by one doc") {
    // budget 6: cum-before = 0,4,7,12,14,19,19
    // shards:   0,0,1,2,2,3,3
    val a = ShardExport.assign(docs, "doc_id", "text", "source", budget = 6)
      .select("doc_id", "shard_id", "seq_in_shard", "token_count")
      .as[(Long, Long, Int, Int)].collect().sortBy(_._1)
    assert(a.map(r => (r._1, r._2)).toSeq === Seq(
      (1L, 0L), (2L, 0L), (3L, 1L), (4L, 2L), (5L, 2L), (6L, 3L), (7L, 3L)))
    assert(a.map(r => (r._1, r._3)).toSeq === Seq(
      (1L, 1), (2L, 2), (3L, 1), (4L, 1), (5L, 2), (6L, 1), (7L, 2)))
    // per-shard token totals never exceed budget + max single doc
    val totals = a.groupBy(_._2).map { case (_, rs) => rs.map(_._4).sum }
    assert(totals.forall(_ <= 6 + 5))
  }

  test("manifest: counts, sorted source mix, order-stable digest") {
    val assigned = ShardExport.assign(docs, "doc_id", "text", "source", 6)
    val m = ShardExport.manifest(assigned, "doc_id", "text", "source")
      .orderBy("shard_id")
      .as[(Long, Long, Long, String, String)].collect().toSeq
    assert(m.map(r => (r._1, r._2, r._3)) === Seq(
      (0L, 2L, 7L), (1L, 1L, 5L), (2L, 2L, 7L), (3L, 2L, 4L)))
    assert(m.map(_._4) === Seq("web:2", "books:1", "code:1,web:1", "books:1,web:1"))
    // the digest is a pure function of member texts in id order:
    // shuffling input row order must not change it
    val m2 = ShardExport.manifest(
      ShardExport.assign(docs.orderBy(col("text")), "doc_id", "text",
        "source", 6), "doc_id", "text", "source")
      .orderBy("shard_id")
      .as[(Long, Long, Long, String, String)].collect().toSeq
    assert(m2 === m)
  }

  test("write is idempotent: two runs, identical members and manifests") {
    val d1 = RunScope.scratchDir("shards1")
    val d2 = RunScope.scratchDir("shards2")
    ShardExport.write(docs, "doc_id", "text", "source", 6, d1)
    ShardExport.write(docs, "doc_id", "text", "source", 6, d2)
    def members(d: String) = spark.read.parquet(s"$d/shards")
      .select("shard_id", "seq_in_shard", "doc_id", "source", "token_count")
      .as[(Long, Int, Long, String, Int)].collect().toSeq.sorted
    def mani(d: String) = spark.read.parquet(s"$d/_manifest")
      .as[(Long, Long, Long, String, String)].collect().toSeq.sortBy(_._1)
    assert(members(d1) === members(d2))
    assert(mani(d1) === mani(d2))
    assert(mani(d1).map(_._1) === Seq(0L, 1L, 2L, 3L))
    // one data file per shard directory (no sliver files)
    val shard0 = new java.io.File(s"$d1/shards/shard_id=0")
    assert(shard0.listFiles().count(_.getName.endsWith(".parquet")) === 1)
  }

  test("append: new docs land in fresh shards, old files untouched") {
    val d = RunScope.scratchDir("shards3")
    ShardExport.write(docs, "doc_id", "text", "source", 6, d)
    def fileState(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$d/shards"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = fileState()
    val batch = Seq(
      (10L, "web", "late arriving doc one two"),    // 5 tokens
      (11L, "code", "late two")                     // 2 tokens
    ).toDF("doc_id", "source", "text")
    ShardExport.append(spark, batch, "doc_id", "text", "source", 6, d)
    // old shard data files byte-untouched (same paths, same mtimes)
    assert(fileState().view.filterKeys(before.contains).toMap === before)
    // new docs start at max existing shard + 1 with a fresh budget
    val got = spark.read.parquet(s"$d/shards")
      .select("doc_id", "shard_id", "seq_in_shard")
      .as[(Long, Long, Int)].collect().toSeq.sortBy(_._1)
    assert(got.map(_._1) === Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 10L, 11L))
    // both fit the fresh budget (5 + 2 with the boundary at cum-before)
    assert(got.filter(_._1 >= 10L).map(r => (r._1, r._2)) ===
      Seq((10L, 4L), (11L, 4L)))
    // manifest: old rows unchanged, new rows appended
    val mani = spark.read.parquet(s"$d/_manifest")
      .as[(Long, Long, Long, String, String)].collect().toSeq.sortBy(_._1)
    assert(mani.map(_._1) === Seq(0L, 1L, 2L, 3L, 4L))
    assert(mani.filter(_._1 >= 4L).map(r => (r._1, r._2, r._3, r._4)) ===
      Seq((4L, 2L, 7L, "code:1,web:1")))
  }

  /** Hand-parse one ustar header field (NUL/space-terminated). */
  private def tarField(b: Array[Byte], off: Int, len: Int): String =
    new String(b.slice(off, off + len), "ISO-8859-1")
      .takeWhile(c => c != '\u0000' && c != ' ')

  test("writeTar: decodeTarMeta round-trips every shard; members exact") {
    val out = RunScope.scratchDir("shards_tar")
    ShardExport.writeTar(docs, "doc_id", "text", "source", budget = 6, out)
    val mani = spark.read.parquet(s"$out/_manifest")
      .orderBy("shard_id")
      .as[(Long, Long, Long, String, String)].collect().toSeq
    // manifest PARITY with the parquet writer
    val outP = RunScope.scratchDir("shards_parq")
    ShardExport.write(docs, "doc_id", "text", "source", budget = 6, outP)
    val maniP = spark.read.parquet(s"$outP/_manifest")
      .orderBy("shard_id")
      .as[(Long, Long, Long, String, String)].collect().toSeq
    assert(mani === maniP)
    // every shard file: the engine's own tar walk must verify it
    val files = mani.map(m =>
      (m._1, java.nio.file.Paths.get(out, f"shard-${m._1}%05d.tar")))
    files.foreach { case (_, p) => assert(Files.exists(p), s"$p missing") }
    val blobs = files.map { case (sid, p) => (sid, Files.readAllBytes(p)) }
    val metas = blobs.toDF("shard_id", "tar")
      .select(col("shard_id"),
        Multimodal.decodeTarMeta(col("tar"), maxEntries = 8).as("m"))
      .select("shard_id", "m.n_entries", "m.n_files", "m.total_size")
      .as[(Long, Option[Int], Option[Int], Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val docBytes = docs.select("doc_id", "text").as[(Long, String)]
      .collect().map { case (id, t) =>
        id -> Option(t).getOrElse("").getBytes("UTF-8") }.toMap
    val assigned = ShardExport
      .assign(docs, "doc_id", "text", "source", 6)
      .select("doc_id", "shard_id", "seq_in_shard")
      .as[(Long, Long, Int)].collect()
      .groupBy(_._2).map { case (s, rs) =>
        s -> rs.sortBy(_._3).map(_._1).toSeq }
    for ((sid, ids) <- assigned) {
      val expectBytes = ids.map(docBytes(_).length.toLong).sum
      assert(metas(sid) ===
        ((Some(ids.size), Some(ids.size), Some(expectBytes))),
        s"shard $sid meta")
      // hand-walk the members: names in id order, sizes + data exact
      val b = blobs.toMap.apply(sid)
      var pos = 0
      for (id <- ids) {
        assert(tarField(b, pos, 100) === s"$id.txt")
        assert(tarField(b, pos + 257, 6) === "ustar")
        val size = java.lang.Long.parseLong(tarField(b, pos + 124, 12), 8)
        assert(size === docBytes(id).length.toLong)
        val data = b.slice(pos + 512, pos + 512 + size.toInt)
        assert(data.toSeq === docBytes(id).toSeq, s"member $id data")
        pos += 512 + ((size.toInt + 511) / 512) * 512
      }
      // archive closes with two zero blocks
      assert(b.length === pos + 1024)
      assert(b.slice(pos, pos + 1024).forall(_ === 0))
    }
  }

  test("writeTar is byte-idempotent and clears stale shard files") {
    val out = RunScope.scratchDir("shards_tar2")
    ShardExport.writeTar(docs, "doc_id", "text", "source", 6, out)
    val first = java.nio.file.Paths.get(out).toFile.listFiles()
      .filter(_.getName.endsWith(".tar")).sortBy(_.getName)
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toSeq
    ShardExport.writeTar(docs, "doc_id", "text", "source", 6, out)
    val second = java.nio.file.Paths.get(out).toFile.listFiles()
      .filter(_.getName.endsWith(".tar")).sortBy(_.getName)
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toSeq
    assert(first === second)
    // a bigger-budget re-run has FEWER shards: stale files must go
    ShardExport.writeTar(docs, "doc_id", "text", "source", 1000, out)
    val third = java.nio.file.Paths.get(out).toFile.listFiles()
      .filter(_.getName.endsWith(".tar")).map(_.getName).toSeq
    assert(third === Seq("shard-00000.tar"))
  }
}
