package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** Persistence + reuse for fitted ANN index structures (IVF): at
  * 100 TB the index must OUTLIVE the job. Fit once, assign/encode the
  * corpus once, persist both, then serve every subsequent query job from
  * the artifact — no driver re-fit, no re-scan of raw vectors for
  * candidate generation.
  *
  * On-disk layout under an index root `path`:
  * {{{
  *   path/centroids/    IVF: numCentroids rows (cell int, centroid array<float>)
  *   path/assignments/  IVF: every corpus row + its cell, PARTITIONED BY cell
  * }}}
  *
  * Scale shape: the model side (centroids) is a bounded
  * artifact — numCentroids rows regardless of corpus size — so
  * reloading it is a tiny driver read (the same class of bounded collect
  * as the fit's sample). The data side is executor-parallel parquet. IVF
  * assignments are `partitionBy(cell)`, so a probe of `nprobe` cells
  * prunes to those cells' files at the scan: the broadcast equi-join on
  * the `cell` partition column gives Spark dynamic partition pruning,
  * and a 1000-executor query job reads nprobe/numCentroids of the index
  * instead of the whole corpus.
  *
  * Determinism contract (spec-gated): querying a persisted index returns
  * BIT-IDENTICAL results to the fresh-fit operators — centroids round-trip
  * as float arrays, and the reload path feeds them through the exact
  * expression ([[SimilaritySearch.bestCellsOf]]) the fresh fit uses.
  *
  * Reference scope ends at full-snapshot sync (SURVEY.md §2); index
  * persistence is part of the beyond-reference LLM-pipeline surface.
  */
object AnnIndex {

  private def centroidsPath(path: String) = s"$path/centroids"
  private def assignmentsPath(path: String) = s"$path/assignments"

  /** Fit an IVF index over `corpus` and persist it: the centroid table
    * (tiny) plus every corpus row tagged with its nearest-centroid cell,
    * written partitioned by cell for probe-time pruning.
    */
  def writeIvf(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      numCentroids: Int = 16,
      kmeansIters: Int = 3,
      fitOn: Option[DataFrame] = None): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // fitOn: fit the centroid model on a different frame than the one
    // being indexed — the reference arm of the append-≡-rebuild gate
    // (append-grown indexes carry the SEED corpus's centroids by
    // construction, so the rebuild they must equal does too)
    val centroids = SimilaritySearch.kmeansCentroids(
      fitOn.getOrElse(corpus), idCol, vecCol, numCentroids,
      iters = kmeansIters)
    centroids.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1) // numCentroids rows — one tiny file
      .write.mode("overwrite").parquet(centroidsPath(path))
    val cLits = centroids.map(c => typedlit(c))
    graft.Tables.spread(corpus)
      .withColumn("cell",
        element_at(SimilaritySearch.bestCellsOf(cLits)(col(vecCol), 1), 1)
          .getField("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(assignmentsPath(path))
  }

  /** Fold an ingest batch into a persisted IVF index — the
    * [[DedupIndex]]/[[SubstringIndex]] append discipline for ANN: the
    * batch assigns against the PERSISTED centroid model (a bounded
    * artifact read, no re-fit, no corpus re-scan) and appends into the
    * cell-partitioned assignments, so probe-time pruning keeps working
    * and the index state equals a rebuild that indexes the grown corpus
    * under the SEED corpus's centroids (the q_v22 equality gate).
    * Append work ∝ batch. Centroid drift under heavy growth is a
    * re-fit decision for the caller — the model is versioned by the
    * index path, the standard IVF operational posture.
    */
  def appendIvf(
      newCorpus: DataFrame,
      idCol: String,
      vecCol: String,
      path: String): Unit = {
    val spark = newCorpus.sparkSession
    val cLits = loadIvfCentroids(spark, path).map(c => typedlit(c))
    graft.Tables.spread(newCorpus)
      .withColumn("cell",
        element_at(SimilaritySearch.bestCellsOf(cLits)(col(vecCol), 1), 1)
          .getField("cell"))
      .write.mode("append").partitionBy("cell").parquet(assignmentsPath(path))
  }

  /** The persisted centroid set, cell-ordered — a bounded model-artifact
    * read (numCentroids rows), NOT a corpus collect.
    */
  def loadIvfCentroids(spark: SparkSession, path: String): Array[Seq[Float]] =
    spark.read.parquet(centroidsPath(path))
      .select("cell", "centroid")
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1))
      .sortBy(_._1)
      .map(_._2)

  /** Approximate top-k served ENTIRELY from a persisted IVF index — note
    * the signature: no corpus frame and no fit parameters, so a re-fit is
    * structurally impossible. Queries assign to their `nprobe` best cells
    * via the reloaded centroid literals (scan-side arithmetic), then the
    * broadcast equi-join on the `cell` partition column lets the
    * assignments scan prune to the probed cells' files.
    */
  def ivfTopKPersisted(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 4): DataFrame = {
    val cLits = loadIvfCentroids(spark, path).map(c => typedlit(c))
    require(nprobe <= cLits.length, "nprobe exceeds persisted centroid count")
    val assignments = spark.read.parquet(assignmentsPath(path))
    val q = queries.select(
      col(idCol).as("query_id"),
      col(vecCol).as("__qv"),
      explode(transform(
        SimilaritySearch.bestCellsOf(cLits)(col(vecCol), nprobe),
        e => e.getField("cell"))).as("cell"))
    val scored = assignments
      .join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col(idCol))
      .withColumn("cosine", Vectors.cosine(col("__qv"), col(vecCol)))
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("cosine"))
    SimilaritySearch.topKPerKey(scored, "query_id", k)
  }
}
