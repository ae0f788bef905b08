package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Rocchio pseudo-relevance feedback (Rocchio 1971, the PRF form of
  * Salton's SMART system; the classical query-expansion baseline):
  * run the keyword query, ASSUME the top-R results are relevant, mine
  * their strongest terms, and re-run with the expanded weighted query
  * — the retrieval quality lever that needs no labels, embeddings, or
  * second corpus pass beyond the rescore.
  *
  * Determinism contract (what makes it gateable): the top-R cut ranks
  * by (bm25 ROUNDED to 6, doc id) — the q_e19 rounded-argmax rule, so
  * last-ulp float drift can never flip the pseudo-relevant set; the
  * E expansion terms rank by (exact tf count in the R docs DESC, term
  * ASC), integers only. Re-scoring weights original terms α and
  * expansion terms β, each term's contribution the identical BM25
  * idf·tfNorm expression.
  *
  * Scale shape: one BM25 pass (corpus scan, postings-only shuffle),
  * one R-doc-bounded term mine (semi-join against a broadcast R-row
  * frame), one rescore pass whose postings filter is a BROADCAST join
  * against the ≤ |Q|+E-row weighted term frame (the term set is
  * runtime-derived, so the isin-literal path is unavailable — the
  * broadcast join is its plan-shape equal). Nothing corpus-sized is
  * ever collected or sorted.
  */
object Rocchio {

  /** PRF-rescored retrieval: `(idCol, n_terms_matched, rocchio)`,
    * docs matching ≥1 weighted term.
    */
  def prfScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      topR: Int = 10,
      expandE: Int = 5,
      alpha: Double = 1.0,
      beta: Double = 0.5,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    require(topR >= 1 && expandE >= 0, "topR >= 1, expandE >= 0")

    val base = Bm25.score(docs, idCol, textCol, queryTerms, k1, b)
    val topDocs = base
      .orderBy(round(col("bm25"), 6).desc, col(idCol).asc)
      .limit(topR)
      .select(col(idCol))
    val toks = docs.select(
      col(idCol), TextAnalysis.tokens(col(textCol)).as("__tk"))
    val expansion = toks
      .join(broadcast(topDocs), Seq(idCol), "left_semi")
      .select(explode(col("__tk")).as("term"))
      .where(!col("term").isin(queryTerms: _*))
      .groupBy("term").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("term").asc)
      .limit(expandE)
      .select(col("term"), lit(beta).as("__w"))
    val weights = expansion.unionByName(
      queryTerms.toDF_(docs).select(col("term"), lit(alpha).as("__w")))

    // rescore: the Bm25.score shape with the isin literal replaced by a
    // broadcast join against the weighted term frame
    val stats = Bm25.corpusStats(toks)
    val tf = toks
      .select(col(idCol), size(col("__tk")).cast("double").as("dl"),
        explode(col("__tk")).as("term"))
      .join(broadcast(weights), Seq("term"))
      .groupBy(col(idCol), col("dl"), col("term"), col("__w"))
      .agg(count(lit(1)).cast("double").as("tf"))
    Bm25.withStats(tf, stats)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_terms_matched"),
        round(sum(col("__w") * Bm25.idf * Bm25.tfNorm(k1, b)), 6).as("rocchio"))
  }

  /** Literal query-term frame builder (spark-session-derived so the
    * union stays plan-local).
    */
  private implicit class TermSeq(val terms: Seq[String]) {
    def toDF_(anchor: DataFrame): DataFrame = {
      val spark = anchor.sparkSession
      import spark.implicits._
      terms.toDF("term")
    }
  }
}
