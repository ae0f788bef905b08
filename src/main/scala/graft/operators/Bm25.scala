package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** BM25 keyword retrieval over a document corpus (Robertson/Okapi with
  * the Lucene-style `ln(1 + (N − df + 0.5)/(df + 0.5))` idf, which keeps
  * every idf positive).
  *
  * Scale shape: the corpus-sized work is ONE tokenize+filter scan (only
  * query-term postings survive — the filter is pushed into the exploded
  * projection, so the shuffled tf frame is |matching (doc, term)| rows,
  * not the corpus) and one hash aggregate per (doc, term). The df and
  * corpus-stats frames are term-count- and one-row-sized, broadcast to
  * the postings. Nothing global is sorted; the result is per-doc scores,
  * compose with q_c4-style top-k for ranked retrieval.
  */
object Bm25 {

  /** Corpus stats over token arrays `__tk`: one scan-side aggregate to a
    * single broadcast row `(n_docs, avgdl)`.
    */
  private[operators] def corpusStats(toks: DataFrame): DataFrame =
    toks
      .select(size(col("__tk")).cast("double").as("dl"))
      .agg(
        count(lit(1)).cast("double").as("n_docs"),
        (sum("dl") / count(lit(1))).as("avgdl"))

  /** Postings `tf` decorated with their term's `df` and the corpus `stats`. */
  private[operators] def withStats(tf: DataFrame, stats: DataFrame): DataFrame =
    tf.join(broadcast(tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))), "term")
      .crossJoin(broadcast(stats))

  /** The positive idf `ln(1 + (N − df + 0.5)/(df + 0.5))`. */
  private[operators] val idf: Column =
    log(lit(1) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))

  /** The length-normalized term frequency. */
  private[operators] def tfNorm(k1: Double, b: Double): Column =
    col("tf") * lit(k1 + 1) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))

  /** Per-document BM25 score for `queryTerms` (docs with ≥1 matching
    * term). Output: idCol, n_terms_matched, bm25.
    */
  def score(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "BM25 needs at least one query term")
    // r17 opt: spread — tokenization is consumed twice (stats + tf) and
    // a one-row-group corpus otherwise tokenizes on one input split
    val toks = graft.Tables.spread(docs).select(
      col(idCol), TextAnalysis.tokens(col(textCol)).as("__tk"))
    val stats = corpusStats(toks)
    // postings: doc length rides along the explode, so tf never needs a
    // corpus-sized join back to a doc-length table
    val tf = toks
      .select(col(idCol), size(col("__tk")).cast("double").as("dl"),
        explode(col("__tk")).as("term"))
      .where(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    withStats(tf, stats)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_terms_matched"),
        sum(idf * tfNorm(k1, b)).as("bm25"))
  }
}
