package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.RunScope
import graft.RunScope.Pinning
import graft.functions.{Hashing, TextAnalysis}

/** Persisted MinHash-LSH dedup index — the near-dup analog of
  * [[AnnIndex]]: at 100 TB a corpus is NOT re-shingled and re-hashed
  * every ingest batch. The index stores two tables:
  *
  *   - `bands/`: (id, band, key) — the LSH posting lists, written
  *     PARTITIONED BY band so a probe's band-key join prunes to the
  *     band directories it touches;
  *   - `shingles/`: (id, shingle set) — what the exact-Jaccard verify
  *     step needs, so verification never re-reads corpus text.
  *
  * Probing a new batch costs: shingle+hash the BATCH (not the corpus),
  * one equi-join of batch band keys against the posting lists, and the
  * verify joins on the (small) candidate set — work ∝ batch + matches.
  * [[appendBatch]] then folds the batch into the index with the same
  * two writes, keeping the index current without any global rebuild.
  *
  * Guarantees match [[NearDup.minHashLshPairs]]: candidates from band
  * collisions (same probabilistic recall), exact thresholded Jaccard on
  * the survivors — new↔old AND new↔new pairs both surface.
  */
object DedupIndex {

  private def bandsPath(path: String) = s"$path/bands"
  private def shinglesPath(path: String) = s"$path/shingles"

  private def shingled(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    graft.Tables.spread(docs).select(
      col(idCol).as("id"),
      array_distinct(TextAnalysis.tokenShingles(col(textCol), k)).as("sh"))

  private def banded(sh: DataFrame, numPerm: Int, bands: Int): DataFrame =
    sh.withColumn("__sig", Hashing.minHashSignature(col("sh"), numPerm))
      .select(col("id"), explode(Hashing.bandKeys(col("__sig"), bands, numPerm / bands)).as("__bk"))
      .select(col("id"), col("__bk.band").as("band"), col("__bk.key").as("key"))

  /** Build the index from a corpus. One shingle pass, one signature
    * pass; band postings land partitioned by band.
    */
  def write(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      k: Int = 3,
      numPerm: Int = 64,
      bands: Int = 16): Unit = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val sh = shingled(docs, idCol, textCol, k)
    sh.write.mode("overwrite").parquet(shinglesPath(path))
    banded(sh, numPerm, bands)
      .write.mode("overwrite").partitionBy("band").parquet(bandsPath(path))
  }

  /** Near-dup pairs of `newDocs` against the indexed corpus AND within
    * the batch itself. Output is (id_a, id_b, jaccard), id_a < id_b,
    * exact Jaccard ≥ threshold — the corpus side is never re-hashed.
    */
  def probe(
      spark: SparkSession,
      path: String,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      numPerm: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val newSh = shingled(newDocs, idCol, textCol, k)
    probeFrom(spark, path, newSh, banded(newSh, numPerm, bands), threshold)
  }

  private def probeFrom(
      spark: SparkSession,
      path: String,
      newSh: DataFrame,
      newBands: DataFrame,
      threshold: Double): DataFrame = {
    // select by NAME: partitionBy("band") reorders the read-back schema
    // (partition column last), so a positional rename would mislabel
    val idxBands = spark.read.parquet(bandsPath(path))
      .select(col("id").as("id_o"), col("band"), col("key"))
    // candidates: batch vs index (either orientation) + batch vs batch
    val vsIndex = newBands.toDF("id_n", "band", "key")
      .join(idxBands, Seq("band", "key"))
      .select(
        least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"))
      .where(col("id_a") < col("id_b"))
    val nA = newBands.toDF("id_a", "band", "key")
    val nB = newBands.toDF("id_b", "band2", "key2")
    val vsBatch = nA
      .join(nB, nA("band") === nB("band2") && nA("key") === nB("key2") &&
        nA("id_a") < nB("id_b"))
      .select("id_a", "id_b")
    val cand = vsIndex.unionByName(vsBatch).distinct()
    // verify from stored + batch shingle sets (text never re-read);
    // batch ids must be disjoint from indexed ids (probe BEFORE append)
    val sets = spark.read.parquet(shinglesPath(path)).unionByName(newSh)
    cand
      .join(sets.toDF("id_a", "__sha"), "id_a")
      .join(sets.toDF("id_b", "__shb"), "id_b")
      .withColumn("jaccard", Hashing.jaccard(col("__sha"), col("__shb")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Fold a probed batch into the index (append both tables). */
  def appendBatch(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      k: Int = 3,
      numPerm: Int = 64,
      bands: Int = 16): Unit = {
    val sh = shingled(docs, idCol, textCol, k)
    sh.write.mode("append").parquet(shinglesPath(path))
    banded(sh, numPerm, bands)
      .write.mode("append").partitionBy("band").parquet(bandsPath(path))
  }

  /** [[write]] fused with the in-batch pair computation — the FIRST-drop
    * twin of [[probeAndAppend]]: the seed corpus is shingled/hashed ONCE
    * (checkpointed), its in-batch near-dup pairs are materialized from
    * those frames (band-collision candidates + exact thresholded
    * Jaccard, identical to [[NearDup.minHashLshPairs]]), and the SAME
    * frames seed the index. Calling `minHashLshPairs` and [[write]]
    * separately tokenizes and MinHashes the seed drop twice — at landing
    * -zone scale the seed drop is the biggest batch the pipeline ever
    * sees, so the double hash is the pipeline's single largest avoidable
    * cost. Returns the PINNED pair frame.
    */
  def writeAndPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      k: Int = 3,
      numPerm: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8): DataFrame = RunScope.scope("DedupIndex.writeAndPairs") {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val sh = shingled(docs, idCol, textCol, k).pin()
    val bd = banded(sh, numPerm, bands).pin()
    val bA = bd.toDF("id_a", "band", "key")
    val bB = bd.toDF("id_b", "band2", "key2")
    val cand = bA
      .join(bB, bA("band") === bB("band2") && bA("key") === bB("key2") &&
        bA("id_a") < bB("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val pairs = cand
      .join(sh.toDF("id_a", "__sha"), "id_a")
      .join(sh.toDF("id_b", "__shb"), "id_b")
      .withColumn("jaccard", Hashing.jaccard(col("__sha"), col("__shb")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      .pin()
    sh.write.mode("overwrite").parquet(shinglesPath(path))
    bd.write.mode("overwrite").partitionBy("band").parquet(bandsPath(path))
    pairs
  }

  /** [[probe]] + [[appendBatch]] fused: the batch is shingled/hashed
    * ONCE (checkpointed), the probe pairs are materialized from it, and
    * the same frames append into the index — the per-micro-batch shape
    * of the streaming dedup pipeline, where calling probe and append
    * separately would tokenize and MinHash every batch twice. Returns
    * the PINNED pair frame.
    */
  def probeAndAppend(
      spark: SparkSession,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      k: Int = 3,
      numPerm: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8): DataFrame = RunScope.scope("DedupIndex.probeAndAppend") {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val newSh = shingled(newDocs, idCol, textCol, k).pin()
    val newBands = banded(newSh, numPerm, bands).pin()
    val pairs = probeFrom(spark, path, newSh, newBands, threshold).pin()
    newSh.write.mode("append").parquet(shinglesPath(path))
    newBands.write.mode("append").partitionBy("band").parquet(bandsPath(path))
    pairs
  }
}
