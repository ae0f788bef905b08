package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.RunScope
import graft.RunScope.Pinning
import graft.functions.TextAnalysis

/** Multinomial Naive Bayes text classifier (the McCallum & Nigam 1998
  * event model) with add-one (Laplace) smoothing — the COUNT-based
  * companion to the gradient-trained [[QualityClassifier]]: training is
  * pure integer counting (no iterations, no learning rate), which makes
  * it the classifier you can retrain per-partition-cheaply at corpus
  * scale and replay exactly in any engine.
  *
  * Scale shape:
  *  - TRAIN: one explode + one (token)-keyed hash aggregate pivoting
  *    the two class counts → the vocabulary-bounded model frame
  *    (token, ll0, ll1); class totals / vocab size / priors reduce to
  *    ONE one-row frame. Heaps' law bounds the model, not the corpus.
  *  - SCORE: explode + one token-keyed join against the model (the
  *    model side is vocabulary-bounded — broadcast at moderate vocab,
  *    shuffle join beyond) + one per-doc hash aggregate. Nothing is
  *    ever collected to the driver.
  *
  * Cross-engine determinism: per-token log-likelihoods are quantized
  * to 9 decimals and carried as DECIMAL(18,9) (the classifier family's
  * DECIMAL discipline, QualityClassifier.scala gradient sums), so the
  * per-doc sums are EXACT and shuffle-order-proof, and the argmax
  * decision compares exact decimals — a prediction can never flip with
  * partitioning. `ln` is the one libm call; at 9 decimals both
  * engines' sub-ulp log differences vanish.
  */
object NaiveBayes {

  /** Train on `labelCol` ∈ {0, 1}: returns (model, stats) — the
    * vocabulary-sized model frame (token, ll0, ll1) and a ONE-ROW stats
    * frame (prior0, prior1, def0, def1) where def_y is the smoothed
    * log-likelihood of an UNSEEN token under class y. All log values
    * quantized to DECIMAL(18,9).
    *
    * Both frames are returned pinned (the model is the
    * vocabulary-bounded trained artifact, reused across scoring calls).
    */
  def train(
      df: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String): (DataFrame, DataFrame) = RunScope.scope("NaiveBayes.train") {
    // fail loudly on a degenerate corpus: a single-class input makes one
    // prior log(0) = -Inf, which the DECIMAL cast then ANSI-faults with
    // an unhelpful message (or silently poisons the model off-ANSI)
    val dc = df.agg(
      sum(when(col(labelCol).cast("int") === 1, lit(1L)).otherwise(lit(0L))),
      count(lit(1))).head()
    val (n1Chk, nChk) = (dc.getLong(0), dc.getLong(1))
    require(n1Chk > 0 && n1Chk < nChk,
      s"NaiveBayes.train needs BOTH classes present: got $n1Chk of $nChk docs labeled 1")
    val toks = df.select(
      col(labelCol).cast("int").as("__y"),
      explode(TextAnalysis.tokens(col(textCol))).as("token"))
    val classTok = toks.groupBy(col("token"))
      .agg(
        sum(when(col("__y") === 1, lit(1L)).otherwise(lit(0L))).as("__c1"),
        sum(when(col("__y") === 0, lit(1L)).otherwise(lit(0L))).as("__c0"))
      .pin()
    val stats0 = classTok.agg(
      sum(col("__c0")).as("__t0"),
      sum(col("__c1")).as("__t1"),
      count(lit(1)).as("__v"))
    val docCounts = df.agg(
      sum(when(col(labelCol).cast("int") === 1, lit(1L)).otherwise(lit(0L))).as("__n1"),
      count(lit(1)).as("__n"))
    def q9(c: org.apache.spark.sql.Column) =
      round(c, 9).cast("decimal(18,9)")
    val stats = stats0.crossJoin(docCounts).select(
      q9(log((col("__n") - col("__n1")).cast("double") / col("__n").cast("double")))
        .as("prior0"),
      q9(log(col("__n1").cast("double") / col("__n").cast("double"))).as("prior1"),
      q9(log(lit(1.0) / (col("__t0") + col("__v")).cast("double"))).as("def0"),
      q9(log(lit(1.0) / (col("__t1") + col("__v")).cast("double"))).as("def1"),
      col("__t0"), col("__t1"), col("__v"))
    // pin the bounded artifacts so the classTok pin frees
    val model = classTok.crossJoin(broadcast(stats)).select(
      col("token"),
      q9(log((col("__c0") + lit(1)).cast("double") /
        (col("__t0") + col("__v")).cast("double"))).as("ll0"),
      q9(log((col("__c1") + lit(1)).cast("double") /
        (col("__t1") + col("__v")).cast("double"))).as("ll1"))
      .pin()
    (model, stats.select("prior0", "prior1", "def0", "def1").pin())
  }

  /** Score `df`: (idCol…, s0, s1, margin, pred) — s_y the exact decimal
    * class log-posterior, `margin` = s1 − s0 as a 6-decimal double,
    * `pred` = 1 iff s1 ≥ s0 (deterministic tie-break toward 1). Tokens
    * unseen in training fall back to the smoothed default; empty docs
    * score on the priors alone.
    */
  def score(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: DataFrame,
      stats: DataFrame): DataFrame = {
    val toks = df.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("token"))
    val zero = lit(0).cast("decimal(18,9)")
    val docSums = toks
      .join(model, Seq("token"), "left")
      .crossJoin(broadcast(stats))
      .groupBy(col(idCol))
      .agg(
        sum(coalesce(col("ll0"), col("def0"))).as("__s0"),
        sum(coalesce(col("ll1"), col("def1"))).as("__s1"))
    df.select(col(idCol))
      .join(docSums, Seq(idCol), "left")
      .crossJoin(broadcast(stats))
      .select(
        col(idCol),
        (coalesce(col("__s0"), zero) + col("prior0")).as("s0"),
        (coalesce(col("__s1"), zero) + col("prior1")).as("s1"))
      .select(
        col(idCol),
        col("s0").cast("double").as("s0"),
        col("s1").cast("double").as("s1"),
        round((col("s1") - col("s0")).cast("double"), 6).as("margin"),
        (col("s1") >= col("s0")).cast("int").as("pred"))
  }
}
