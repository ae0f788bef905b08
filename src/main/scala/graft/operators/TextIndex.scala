package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.RunScope
import graft.RunScope.Pinning
import graft.functions.{Hashing, TextAnalysis}

/** Persisted BM25 text index — the retrieval twin of the persisted
  * dedup/ANN indexes ([[DedupIndex]], [[AnnIndex]]): tokenize the corpus
  * ONCE, write postings + corpus stats, and serve keyword queries from
  * the index with no corpus scan and no fit parameters in scope.
  *
  * Layout: `postings/` is `(doc_id, dl, term, tf)` partitioned by
  * `bucket = md5Hash60(term) mod numBuckets` — query terms map to
  * buckets DRIVER-SIDE (the literal-model discipline), so the read
  * prunes to the query's partitions via directory elimination before
  * any row is touched; `stats/` is the one-row (n_docs, avgdl) frame.
  * The bucket hash is the engine-portable md5 prefix ([[Hashing]]), so
  * build and probe agree forever — a JVM re-implementation is
  * spec-pinned against the Spark column form.
  *
  * Scale shape: the build is q_t11's one tokenize scan + one (doc, term)
  * hash agg, written once; a query reads |query-term postings| rows,
  * computes df from them (complete: a term's postings live wholly in its
  * bucket), and scores with the exact [[Bm25]] expressions.
  */
object TextIndex {

  /** Tokenizes `docs` once (persisted, returned as `(doc_id, __tk)`) and
    * writes its postings `(doc_id, dl, term, tf)` partitioned by term
    * bucket under `path/postings` in save `mode`.
    */
  private def writePostings(
      docs: DataFrame, idCol: String, textCol: String, path: String, numBuckets: Int,
      mode: String): DataFrame = {
    val toks = graft.Tables.spread(docs).select(
      col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("__tk"))
      .pin(RunScope.Persist)
    toks
      .select(
        col("doc_id"), size(col("__tk")).cast("double").as("dl"),
        explode(col("__tk")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .withColumn("bucket", pmod(Hashing.md5Hash60(col("term")), lit(numBuckets.toLong)))
      .write.mode(mode).partitionBy("bucket").parquet(s"$path/postings")
    toks
  }

  /** JVM twin of [[Hashing.md5Hash60]] for driver-side bucket routing of
    * literal query terms (first 15 hex chars of md5, parsed base-16).
    */
  def jvmMd5Hash60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.parseLong(
      d.take(8).map(b => f"$b%02x").mkString.substring(0, 15), 16)
  }

  def build(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      numBuckets: Int = 64): Unit = RunScope.scope("TextIndex.build") {
    require(numBuckets >= 1, "numBuckets must be >= 1")
    // The postings and stats writes both consume the tokenized frame;
    // persist the per-doc (doc_id, dl) + token arrays across the two
    // jobs so the corpus really is tokenized ONCE (stats can't come from
    // postings: an empty doc has no postings rows but still counts
    // toward n_docs/avgdl). MEMORY_AND_DISK so a 100 TB build spills
    // rather than OOMs.
    val toks = writePostings(docs, idCol, textCol, path, numBuckets, "overwrite")
    // sum_dl rides along for exact incremental folds ([[appendBatch]]):
    // dl is an integer-valued double, so sums are exact in IEEE double
    // and fold associatively; reconstructing the sum from n·avgdl
    // would NOT be bit-exact (division roundtrip).
    toks
      .select(size(col("__tk")).cast("double").as("dl"))
      .agg(
        count(lit(1)).cast("double").as("n_docs"),
        (sum("dl") / count(lit(1))).as("avgdl"),
        coalesce(sum("dl"), lit(0.0)).as("sum_dl"))
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Fold a document batch into an existing index WITHOUT a corpus
    * rescan — the [[DedupIndex.appendBatch]] discipline brought to
    * retrieval: postings for the batch append into their term-hash
    * bucket directories (existing files untouched), and the one-row
    * stats fold by the exact sufficient statistics
    * (n_docs' = n_docs + Δn; sum_dl' = sum_dl + Δdl; avgdl' formed by
    * ONE division from the folded sums), so appended-then-scored ≡
    * rebuilt-from-scratch bit-for-bit: df is complete because a term's
    * postings still live wholly in its bucket, and sum_dl folds exactly
    * because doc lengths are integer-valued doubles (exact, associative
    * IEEE addition below 2^53).
    *
    * Batch doc ids must be disjoint from indexed ids (the same
    * probe-before-append contract as the dedup index). The old stats row
    * is a bounded driver read (one row, two doubles); the new stats row
    * overwrites AFTER the old one is already in driver memory, so the
    * read-then-overwrite race of lazy plans cannot occur.
    */
  def appendBatch(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      numBuckets: Int = 64): Unit = RunScope.scope("TextIndex.appendBatch") {
    require(numBuckets >= 1, "numBuckets must be >= 1")
    val spark = docs.sparkSession
    val old = spark.read.parquet(s"$path/stats")
      .select(col("n_docs").cast("double"), col("sum_dl").cast("double"))
      .collect() match {
      case Array(r) => (r.getDouble(0), r.getDouble(1))
      case other => throw new IllegalStateException(
        s"TextIndex.appendBatch: stats at $path/stats must be one row, got ${other.length}")
    }
    val toks = writePostings(docs, idCol, textCol, path, numBuckets, "append")
    val delta = toks
      .select(size(col("__tk")).cast("double").as("dl"))
      .agg(count(lit(1)).cast("double"), coalesce(sum("dl"), lit(0.0)))
      .collect() match { case Array(r) => (r.getDouble(0), r.getDouble(1)) }
    val nDocs = old._1 + delta._1
    val sumDl = old._2 + delta._2
    val __sp = spark
    import __sp.implicits._
    Seq((nDocs, sumDl / nDocs, sumDl)).toDF("n_docs", "avgdl", "sum_dl")
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** BM25 scores for `queryTerms` served from the index at `path` —
    * same output contract as [[Bm25.score]]. The returned plan's scan
    * carries the bucket list as a PartitionFilter (callers can gate on
    * [[graft.sources.Layout.hasPartitionFilter]]).
    */
  def scoreFromIndex(
      spark: SparkSession,
      path: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      numBuckets: Int = 64): DataFrame = {
    require(queryTerms.nonEmpty, "BM25 needs at least one query term")
    val buckets = queryTerms
      .map(t => java.lang.Math.floorMod(jvmMd5Hash60(t), numBuckets.toLong))
      .distinct
    val stats = spark.read.parquet(s"$path/stats")
    // select BY NAME before use: partitionBy moves `bucket` to the end of
    // the read-back schema (the DedupIndex lesson, PERF.md)
    val postings = spark.read.parquet(s"$path/postings")
      .where(col("bucket").isin(buckets: _*))
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
      .where(col("term").isin(queryTerms: _*))
    val df = postings.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val idf = log(lit(1) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm = col("tf") * lit(k1 + 1) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
    postings
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("int").as("n_terms_matched"),
        sum(idf * tfNorm).as("bm25"))
  }
}
