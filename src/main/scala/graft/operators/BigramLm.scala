package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Corpus-fit bigram language model + per-document mean conditional
  * log-probability — one order up from [[UnigramLm]] on the
  * perplexity-filtering ladder (the CCNet recipe): p(w2 | w1) rewards
  * locally coherent word order, so shuffled/boilerplate text separates
  * from natural text in a way unigram frequencies cannot see.
  *
  * Laplace-smoothed conditional: p(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V)
  * with c(w1,w2) the corpus bigram count, c(w1) the count of w1 AS A
  * BIGRAM CONTEXT (sum of its outgoing bigrams — not its unigram count,
  * so the distribution sums to ≤ 1 exactly), and V the unigram
  * vocabulary. Integer counts + ln only — exactly reproducible in SQL,
  * like [[UnigramLm.meanLogProb]].
  *
  * Shape at scale: bigrams are a scan-side `zip_with` of each token array
  * with its own tail (no self-join to form pairs); bigram counts are one
  * hash aggregate on (w1, w2); context counts fold FROM the bigram counts
  * (a second aggregate over the already-reduced model, not the corpus);
  * V is a one-row aggregate broadcast into the scorer. Scoring equi-joins
  * each bigram occurrence to the model — hot heads ("the", stopword
  * pairs) are skewed keys, which AQE's skew split handles.
  */
object BigramLm {

  /** `(base, bigrams, counts, ctx)`: each doc's tokens `__tk`, one row per
    * bigram occurrence `(idCol, w1, w2)`, the bigram counts `__c12` and
    * their per-context totals `__c1`.
    */
  private def bigramCounts(docs: DataFrame, idCol: String, textCol: String) = {
    val base = graft.Tables.spread(docs)
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__tk"))
    val bigrams = base
      .filter(size(col("__tk")) >= 2)
      .select(
        col(idCol),
        explode(zip_with(
          slice(col("__tk"), lit(1), size(col("__tk")) - 1),
          slice(col("__tk"), lit(2), size(col("__tk")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"))
      .select(col(idCol), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
    val counts = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("__c12"))
    val ctx = counts.groupBy("w1").agg(sum(col("__c12")).as("__c1"))
    (base, bigrams, counts, ctx)
  }

  /** (doc_id, n_bigrams, mean_logprob) per document; documents with
    * fewer than two tokens are absent (no bigram to score).
    */
  def meanLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (base, bigrams, counts, ctx) = bigramCounts(docs, idCol, textCol)
    val vocab = base
      .select(explode(col("__tk")).as("__term"))
      .agg(count_distinct(col("__term")).as("__v"))
    bigrams
      .join(counts, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("__lp",
        log((col("__c12") + 1).cast("double") / (col("__c1") + col("__v"))))
      .groupBy(idCol)
      .agg(
        count(lit(1)).cast("int").as("n_bigrams"),
        avg(col("__lp")).as("mean_logprob"))
  }

  /** Jelinek-Mercer interpolated bigram/unigram LM — the smoothing
    * production perplexity filters actually use: score each bigram as
    * `ln(λ·P_ML(w2|w1) + (1−λ)·P_uni(w2))`, where the maximum-likelihood
    * bigram term captures local order and the Laplace unigram backoff
    * keeps rare continuations finite. With λ = 0 this degenerates to
    * [[UnigramLm]] on the second token; with λ → 1 to the pure
    * conditional. Same join shape as [[meanLogProb]] plus one unigram
    * count join; every term is a ratio of the same integers in both
    * engines, so the score replays exactly in SQL.
    */
  def interpolatedMeanLogProb(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      lambda: Double): DataFrame = {
    require(lambda >= 0 && lambda <= 1, "lambda must be in [0, 1]")
    val (base, bigrams, counts, ctx) = bigramCounts(docs, idCol, textCol)
    val terms = base.select(explode(col("__tk")).as("__term"))
    val uni = terms.groupBy("__term").agg(count(lit(1)).as("__cu"))
      .select(col("__term").as("w2"), col("__cu"))
    val totals = terms.agg(
      count(lit(1)).as("__t"),
      count_distinct(col("__term")).as("__v"))
    bigrams
      .join(counts, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .join(uni, Seq("w2"))
      .crossJoin(broadcast(totals))
      .withColumn("__lp", log(
        lit(lambda) * (col("__c12").cast("double") / col("__c1")) +
          lit(1.0 - lambda) * ((col("__cu") + 1).cast("double") / (col("__t") + col("__v")))))
      .groupBy(idCol)
      .agg(
        count(lit(1)).cast("int").as("n_bigrams"),
        avg(col("__lp")).as("mean_logprob"))
  }
}
