package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.RunScope
import graft.RunScope.Pinning
import graft.functions.Hashing

/** Persisted EXACT-SUBSTRING dedup index — the incremental form of the
  * [[SuffixArray]] duplicate-window family (Lee et al. 2022), built on
  * the [[DedupIndex]] probe/append discipline: at 100 TB a landing zone
  * does NOT re-rank the whole corpus per ingest batch. The index stores
  * one table:
  *
  *   - `postings/`: (doc, off, fp) — an engine-portable 60-bit md5
  *     fingerprint of the L-char window at every eligible corpus
  *     position, written PARTITIONED BY `kp` (fingerprint mod
  *     `nBuckets`), the key prefix that makes probes prune.
  *
  * Probing a new batch costs work ∝ BATCH + matches: fingerprint the
  * batch (not the corpus), broadcast its ≤ `nBuckets` distinct key
  * prefixes against the postings scan (a broadcast equi-join on the
  * partition column — dynamic partition pruning, the [[AnnIndex]]
  * probe shape), then join candidates by full fingerprint. The batch's
  * per-fingerprint occurrence stats fold with the matched index stats,
  * so duplicate classification (count ≥ 2; cross-document via
  * min-doc ≠ max-doc, the [[SuffixArray.duplicateWindows]] rule) is
  * decided over index ∪ batch without reading unmatched postings.
  *
  * Equality contract (spec- and oracle-gated):
  * {{{
  *   probe(index, batch) ∪ duplicateWindows(index)
  *     ≡ full-rebuild duplicate windows over corpus ∪ batch
  * }}}
  * — an index position that a batch window newly duplicates surfaces in
  * the probe (its fingerprint matches a batch gram); index-internal
  * duplicates were already in `duplicateWindows(index)`; batch-internal
  * duplicates fold through the batch-side stats. Requires batch doc ids
  * disjoint from indexed ids (probe BEFORE append — the [[DedupIndex]]
  * contract).
  *
  * Fingerprints vs ranks: the batch-incremental setting needs a
  * position-independent window key (a rank from one doubling build is
  * meaningless against another build), so windows key by CONTENT hash.
  * 60-bit md5 keeps the false-positive odds at ~n²/2⁶¹ per bucket pair
  * (negligible at any real corpus size, and the portable-hash discipline
  * every oracle-gated hash path here uses); the [[SuffixArray]] path
  * stays the exact-no-hashing batch rebuild.
  */
object SubstringIndex {

  private def postingsPath(path: String) = s"$path/postings"

  /** One row per eligible position: (doc, off 1-based, fp, kp). */
  def grams(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      L: Int,
      nBuckets: Int): DataFrame = {
    require(L >= 1, "window length must be positive")
    require(nBuckets >= 1, "nBuckets must be positive")
    // r17 opt: spread — a one-row-group corpus otherwise fingerprints on
    // a single input split. (A char-array split + slice/array_join window
    // was A/B'd against substr here and LOST: at L=40 the per-position
    // 40-element slice+join allocations cost more than substr's
    // offset re-scan on these document lengths.)
    graft.Tables.spread(docs)
      .select(col(idCol).cast("long").as("doc"),
        coalesce(col(textCol).cast("string"), lit("")).as("txt"))
      .select(col("doc"), col("txt"), length(col("txt")).cast("long").as("len"))
      .filter(col("len") >= L)
      .select(col("doc"), col("txt"),
        explode(sequence(lit(1L), col("len") - lit(L.toLong - 1))).as("off"))
      .select(col("doc"), col("off"),
        Hashing.md5Hash60(
          expr(s"substr(txt, CAST(off AS INT), $L)")).as("fp"))
      .withColumn("kp", pmod(col("fp"), lit(nBuckets.toLong)))
  }

  /** Build the index from a corpus: one fingerprint pass, postings land
    * partitioned by key prefix.
    */
  def write(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      L: Int,
      nBuckets: Int = 64): Unit =
    layoutByKp(grams(docs, idCol, textCol, L, nBuckets), nBuckets)
      .write.mode("overwrite").partitionBy("kp").parquet(postingsPath(path))

  /** One shuffle partition per key prefix before the partitioned write —
    * without it every upstream task writes a sliver into every kp
    * directory (tasks x nBuckets small files; the small-file explosion
    * is also what made the first probe benchmark slow).
    */
  private def layoutByKp(g: DataFrame, nBuckets: Int): DataFrame =
    g.repartition(nBuckets, col("kp"))

  /** Fold a probed batch into the index. */
  def appendBatch(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      L: Int,
      nBuckets: Int = 64): Unit =
    layoutByKp(grams(docs, idCol, textCol, L, nBuckets), nBuckets)
      .write.mode("append").partitionBy("kp").parquet(postingsPath(path))

  /** Index-internal duplicate windows — the full-index twin of
    * [[SuffixArray.duplicateWindows]]: (doc, off) of every indexed
    * position whose window recurs (across distinct documents when
    * `crossDocOnly`). One window pass over the postings, grouped by
    * fingerprint within each `kp` partition.
    */
  def duplicateWindows(
      spark: SparkSession,
      path: String,
      crossDocOnly: Boolean = true): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("kp", "fp")
    spark.read.parquet(postingsPath(path))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__mn", min(col("doc")).over(w))
      .withColumn("__mx", max(col("doc")).over(w))
      .filter(col("__n") >= 2 &&
        (if (crossDocOnly) col("__mn") =!= col("__mx") else lit(true)))
      .select("doc", "off")
  }

  /** Duplicate windows INVOLVING the batch, decided over index ∪ batch:
    * every batch position whose window recurs anywhere in the union,
    * plus every INDEX position a batch window collides with (they are
    * duplicates by that very collision, cross-doc by id-disjointness).
    * Work ∝ batch + matches; the postings scan is partition-pruned to
    * the batch's key prefixes. Output (doc, off) across both sides.
    */
  def probe(
      spark: SparkSession,
      path: String,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      L: Int,
      nBuckets: Int = 64,
      crossDocOnly: Boolean = true): DataFrame =
    // r18 opt: persist — [[probeFrom]] consumes the batch grams THREE
    // times (key-prefix set, batch stats, output join), and unpinned the
    // per-position fingerprint explode re-ran per consumer. Lazy persist
    // (not localCheckpoint): zero extra jobs — the cache fills during the
    // one plan that reads all three branches — and lineage stays intact
    // for fault tolerance (the streaming twin [[probeAndAppend]] pins
    // eagerly instead because its probe must materialize BEFORE the
    // append mutates the postings).
    probeFrom(spark, path,
      grams(newDocs, idCol, textCol, L, nBuckets).pin(RunScope.Persist),
      crossDocOnly)

  private def probeFrom(
      spark: SparkSession,
      path: String,
      bg: DataFrame,
      crossDocOnly: Boolean): DataFrame = {
    val kps = bg.select("kp").distinct() // bounded: ≤ nBuckets rows
    val pruned = spark.read.parquet(postingsPath(path))
      .join(broadcast(kps), Seq("kp")) // DPP on the partition column
    val idxStats = pruned.groupBy("kp", "fp")
      .agg(count(lit(1)).as("__ci"),
        min(col("doc")).as("__mni"), max(col("doc")).as("__mxi"))
    val bStats = bg.groupBy("kp", "fp")
      .agg(count(lit(1)).as("__cb"),
        min(col("doc")).as("__mnb"), max(col("doc")).as("__mxb"))
    val qual = bStats
      .join(idxStats, Seq("kp", "fp"), "left")
      .filter(
        (col("__cb") + coalesce(col("__ci"), lit(0L)) >= 2) && (
          if (crossDocOnly)
            least(col("__mnb"), coalesce(col("__mni"), col("__mnb"))) =!=
              greatest(col("__mxb"), coalesce(col("__mxi"), col("__mxb")))
          else lit(true)))
      .select("kp", "fp")
    bg.join(qual, Seq("kp", "fp")).select("doc", "off")
      .unionByName(
        pruned.join(qual, Seq("kp", "fp")).select("doc", "off"))
  }

  /** [[write]] fused with the seed drop's IN-BATCH duplicate windows —
    * the first-drop twin of [[probeAndAppend]] (the [[DedupIndex]]
    * `writeAndPairs` shape): the seed corpus is fingerprinted ONCE
    * (checkpointed), its internal duplicates come straight off that
    * frame (no index re-read), and the same frame seeds the postings.
    * Returns the PINNED (doc, off) frame.
    */
  def writeAndDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      L: Int,
      nBuckets: Int = 64,
      crossDocOnly: Boolean = true): DataFrame =
      RunScope.scope("SubstringIndex.writeAndDuplicates") {
    val g = layoutByKp(grams(docs, idCol, textCol, L, nBuckets), nBuckets).pin()
    g.write.mode("overwrite").partitionBy("kp").parquet(postingsPath(path))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("kp", "fp")
    g
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__mn", min(col("doc")).over(w))
      .withColumn("__mx", max(col("doc")).over(w))
      .filter(col("__n") >= 2 &&
        (if (crossDocOnly) col("__mn") =!= col("__mx") else lit(true)))
      .select("doc", "off")
      .pin()
  }

  /** [[probe]] + [[appendBatch]] fused: the batch is fingerprinted ONCE
    * (checkpointed), the probe output is MATERIALIZED before the append
    * mutates the postings (a lazy probe evaluated after the append would
    * see the batch in the index and match it against itself), then the
    * same frame appends. Returns the PINNED (doc, off) frame — the
    * per-micro-batch shape of streaming landing-zone screening.
    */
  def probeAndAppend(
      spark: SparkSession,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      L: Int,
      nBuckets: Int = 64,
      crossDocOnly: Boolean = true): DataFrame = RunScope.scope("SubstringIndex.probeAndAppend") {
    val bg = layoutByKp(grams(newDocs, idCol, textCol, L, nBuckets), nBuckets).pin()
    val out = probeFrom(spark, path, bg, crossDocOnly).pin()
    bg.write.mode("append").partitionBy("kp").parquet(postingsPath(path))
    out
  }
}
