package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.RunScope
import graft.RunScope.Pinning

/** Terminal TRAINING-SHARD export — the curation pipeline's last mile
  * (r15 VERDICT task #5/#6 family): after filtering/mixing/packing, a
  * training run mounts fixed-token-budget shard files plus a MANIFEST
  * (per shard: doc count, token count, source mix, content digest) that
  * lets the run verify what it is reading and lets two exports be
  * compared without reading data files.
  *
  * Shard rule (deterministic, replayable in SQL): documents in `idCol`
  * order form one token stream; a document lands in shard
  * `floor(exclusive_prefix_tokens / budget)`. Whole documents are never
  * split, so a shard can overshoot `budget` by at most one document —
  * the standard landing-zone tradeoff (WebDataset-style shards do the
  * same); boundaries depend only on (order, token counts), never on
  * partitioning or arrival order, which is what makes re-runs
  * IDEMPOTENT.
  *
  * Manifest digest: `content_md5` = md5 of the concatenation of each
  * member document's text-md5 in id order — verifiable per shard
  * without re-reading other shards, and exactly replayable in any
  * engine with md5 + ordered string_agg.
  *
  * Scale shape: shard assignment reuses [[Curation.packSequences]]'s
  * TWO-LEVEL prefix sum (no corpus-sized single-partition window); the
  * manifest is one groupBy per shard whose collected state is bounded
  * by docs-per-shard (≈ budget / typical doc tokens — a knob, not the
  * corpus); the writer repartitions BY shard before `partitionBy` so
  * each shard directory gets one file, not tasks×dirs slivers (the r15
  * SubstringIndex layout lesson).
  */
object ShardExport {

  /** Per-document shard assignment: input columns +
    * (token_count, shard_id, seq_in_shard).
    */
  def assign(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      budget: Int): DataFrame = {
    require(budget >= 1, "budget must be positive")
    val withTc = docs.select(
      col(idCol), col(sourceCol), col(textCol),
      graft.functions.TextAnalysis.tokenCount(col(textCol)).as("token_count"))
    Curation.packSequences(withTc, idCol, "token_count", budget)
      .withColumnRenamed("pack_id", "shard_id")
      .withColumn("seq_in_shard",
        row_number().over(
          Window.partitionBy("shard_id").orderBy(idCol)).cast("int"))
      .drop("pack_offset")
  }

  /** Per-shard manifest: (shard_id, n_docs, n_tokens, source_mix,
    * content_md5) — `source_mix` renders as `src:count` pairs sorted by
    * source name, comma-joined (deterministic and string-comparable
    * across engines).
    */
  def manifest(assigned: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame = {
    val mix = assigned
      .groupBy(col("shard_id"), col(sourceCol).as("__src"))
      .agg(count(lit(1)).as("__n"))
      .groupBy("shard_id")
      .agg(concat_ws(",",
        transform(
          array_sort(collect_list(struct(col("__src"), col("__n")))),
          s => concat(s.getField("__src"), lit(":"), s.getField("__n"))))
        .as("source_mix"))
    val digest = assigned
      .groupBy("shard_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("token_count")).as("n_tokens"),
        md5(concat_ws("",
          transform(
            array_sort(collect_list(struct(col(idCol).as("__id"),
              md5(coalesce(col(textCol), lit("")).cast("binary"))
                .as("__h")))),
            s => s.getField("__h"))).cast("binary")).as("content_md5"))
    digest.join(mix, Seq("shard_id"))
      .select("shard_id", "n_docs", "n_tokens", "source_mix", "content_md5")
  }

  /** INCREMENTAL append — the landing-zone posture of the index
    * families (DedupIndex / SubstringIndex / AnnIndex) applied to the
    * terminal artifact: new documents pack into FRESH shards starting
    * after the existing maximum (each drop starts its own token
    * budget — the WebDataset convention: shards are immutable once
    * written, so a drop never rewrites or reopens an old shard, and a
    * training run can mount old + new manifests unioned). Work ∝ the
    * batch: one `_manifest` read for the max shard id, the batch's own
    * two-level prefix sum, one partitioned append. Existing shard
    * files and manifest rows are byte-untouched (spec-pinned).
    */
  def append(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      budget: Int,
      outDir: String): Unit = RunScope.scope("ShardExport.append") {
    val maxRow = spark.read.parquet(s"$outDir/_manifest")
      .agg(max(col("shard_id"))).head()
    require(!maxRow.isNullAt(0),
      s"append target has an EMPTY manifest ($outDir/_manifest): refuse " +
        "to guess shard numbering — write() the first drop instead")
    val maxShard = maxRow.getLong(0)
    val assigned = assign(docs, idCol, textCol, sourceCol, budget)
      .withColumn("shard_id", col("shard_id") + (maxShard + 1L))
      .pin()
    assigned
      .repartition(col("shard_id"))
      .sortWithinPartitions("shard_id", "seq_in_shard")
      .write.mode(SaveMode.Append)
      .partitionBy("shard_id")
      .parquet(s"$outDir/shards")
    manifest(assigned, idCol, textCol, sourceCol)
      .coalesce(1)
      .write.mode(SaveMode.Append)
      .parquet(s"$outDir/_manifest")
  }

  /** Write the mountable artifact: shard member files partitioned by
    * shard_id (one file per shard directory) plus `_manifest` parquet.
    * Overwrites `outDir` — re-running the same input yields the same
    * shards, members and digests (idempotence is spec-pinned).
    */
  def write(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      budget: Int,
      outDir: String): Unit = RunScope.scope("ShardExport.write") {
    val assigned = assign(docs, idCol, textCol, sourceCol, budget)
      .pin()
    assigned
      .repartition(col("shard_id"))
      .sortWithinPartitions("shard_id", "seq_in_shard")
      .write.mode(SaveMode.Overwrite)
      .partitionBy("shard_id")
      .parquet(s"$outDir/shards")
    manifest(assigned, idCol, textCol, sourceCol)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/_manifest")
  }

  /** One member's ustar bytes (POSIX.1-1988, the [[Multimodal]]
    * `decodeTarMeta` header math in REVERSE): 512-byte header —
    * NUL-padded name, octal mode/uid/gid/size/mtime, the checksum over
    * header-bytes-with-checksum-as-spaces (NUL bytes contribute 0, so
    * it reduces to an ascii fold over the printable fields), typeflag
    * '0', `ustar\0` magic + "00" version — then the data, zero-padded
    * to a whole 512-byte block. mtime is pinned to 0: shard bytes must
    * be a pure function of content (idempotent re-runs).
    */
  private def tarMember(name: org.apache.spark.sql.Column,
      data: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def hexOf(s: org.apache.spark.sql.Column) = hex(encode(s, "UTF-8"))
    def zeros(n: org.apache.spark.sql.Column) =
      call_function("repeat", lit("00"), n)
    def pad(s: org.apache.spark.sql.Column, fieldLen: Int) =
      concat(hexOf(s), zeros(lit(fieldLen) - length(s)))
    graft.functions.hof.bind(length(data).cast("bigint")) { size =>
      graft.functions.hof.bind(
        lpad(conv(size, 10, 8), 11, "0")) { sizeOct =>
        // checksum = Σ ascii of the printable header chars (NULs are 0,
        // the checksum field itself reads as 8 spaces)
        val printable = concat(
          name, lit("0000644"), lit("0000000"), lit("0000000"),
          sizeOct, lit("00000000000"), lit("        "), lit("0"),
          lit("ustar"), lit("00"))
        val ck = graft.functions.hof.bind(printable) { p =>
          aggregate(sequence(lit(1), length(p)), lit(0L),
            (a, i) => a + ascii(p.substr(i, lit(1))))
        }
        val headerHex = concat(
          pad(name, 100),                       // name
          hexOf(lit("0000644")), lit("00"),     // mode
          hexOf(lit("0000000")), lit("00"),     // uid
          hexOf(lit("0000000")), lit("00"),     // gid
          hexOf(sizeOct), lit("00"),            // size
          hexOf(lit("00000000000")), lit("00"), // mtime = 0
          hexOf(lpad(conv(ck, 10, 8), 6, "0")), lit("0020"), // chksum\0' '
          hexOf(lit("0")),                      // typeflag: regular file
          zeros(lit(100)),                      // linkname
          hexOf(lit("ustar")), lit("00"),       // magic
          hexOf(lit("00")),                     // version
          zeros(lit(247)))                      // uname..prefix+pad
        concat(unhex(headerHex), data,
          unhex(zeros(pmod(lit(512L) - pmod(size, lit(512L)),
            lit(512L)))))
      }
    }
  }

  /** WebDataset-style TAR export (r16 VERDICT task #5): the [[write]]
    * artifact re-expressed as one mountable `shard-NNNNN.tar` per
    * shard — each document a `<id>.txt` ustar member in id order, the
    * archive closed by two zero blocks — plus the IDENTICAL
    * `_manifest` parquet (spec-pinned parity with [[write]]). Shard
    * bytes are a pure function of (order, content): mtime 0, fixed
    * uid/gid/mode, so re-running the same input yields byte-identical
    * files.
    *
    * Scale shape: member bytes assemble SCAN-SIDE (hex column algebra,
    * one bounded ascii fold for the header checksum); each shard
    * concatenates its members in one per-shard aggregate (state
    * bounded by budget, the docs-per-shard knob) and each task writes
    * only its own shards through the Hadoop filesystem API — nothing
    * is ever collected to the driver.
    */
  def writeTar(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      budget: Int,
      outDir: String): Unit = RunScope.scope("ShardExport.writeTar") {
    val assigned = assign(docs, idCol, textCol, sourceCol, budget)
      .pin()
    val member = tarMember(
      concat(col(idCol).cast("string"), lit(".txt")),
      encode(coalesce(col(textCol), lit("")), "UTF-8"))
    val emptyBin = unhex(lit(""))
    val tars = assigned
      .select(col("shard_id"), col("seq_in_shard"), member.as("__m"))
      .groupBy("shard_id")
      .agg(concat(
        aggregate(
          array_sort(collect_list(struct(col("seq_in_shard").as("__s"),
            col("__m").as("__b")))),
          emptyBin,
          (a, m) => concat(a, m.getField("__b"))),
        unhex(call_function("repeat", lit("00"), lit(1024))))
        .as("tar"))
    // clear stale shard files first: a re-run with fewer shards must
    // not leave phantom members of the previous export behind
    val hconf = docs.sparkSession.sparkContext.hadoopConfiguration
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val fs0 = outPath.getFileSystem(hconf)
    if (fs0.exists(outPath)) {
      fs0.globStatus(new org.apache.hadoop.fs.Path(outDir, "shard-*.tar"))
        .foreach(st => fs0.delete(st.getPath, false))
    }
    val dir = outDir
    tars
      .repartition(col("shard_id"))
      .foreachPartition {
        (rows: Iterator[org.apache.spark.sql.Row]) =>
          if (rows.hasNext) {
            val conf = new org.apache.hadoop.conf.Configuration()
            rows.foreach { r =>
              val p = new org.apache.hadoop.fs.Path(
                f"$dir/shard-${r.getLong(0)}%05d.tar")
              val fs = p.getFileSystem(conf)
              val out = fs.create(p, true)
              try out.write(r.getAs[Array[Byte]](1))
              finally out.close()
            }
          }
      }
    manifest(assigned, idCol, textCol, sourceCol)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$outDir/_manifest")
  }
}
