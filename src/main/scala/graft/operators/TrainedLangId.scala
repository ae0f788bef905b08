package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.RunScope
import graft.RunScope.Pinning
import graft.functions.Hashing

/** TRAINED language identification — a hashed char-n-gram MULTICLASS
  * multinomial Naive Bayes (the [[NaiveBayes]] McCallum-&-Nigam event
  * model generalized past two classes), the learned successor to the
  * stopword-evidence heuristic (`TextAnalysis.langId` / q_t3): char
  * n-grams carry orthography (accents, digraphs, CJK codepoints), so a
  * counted model beats any fixed stopword list, and HASHED features
  * (md5-bucket, the engine-portable [[graft.expressions.Md5Hash60]])
  * bound the model at `buckets`·|labels| rows regardless of corpus
  * vocabulary — the fastText-style hashing trick that makes per-corpus
  * retraining cheap at 100 TB.
  *
  * Scale shape:
  *  - FEATURES: one scan-side transform (lowercase → positions →
  *    n-gram slices → hash → bucket), exploded once;
  *  - TRAIN: one (label, bucket)-keyed hash aggregate + one label
  *    aggregate; the model is the COMPLETE labels × buckets grid
  *    (unseen cells get the Laplace floor), so scoring never needs an
  *    unseen-feature fallback path — grid size is `buckets`·|labels|,
  *    a broadcastable constant, never corpus-bounded;
  *  - SCORE: per-doc bucket HISTOGRAM first (≤ `buckets` rows/doc, the
  *    map-side collapse), then one broadcast join against the grid and
  *    one (doc, label) aggregate; argmax by a per-doc window over
  *    |labels| rows.
  *
  * Cross-engine determinism (the classifier family's DECIMAL
  * discipline): per-cell log-likelihoods and priors quantize to
  * DECIMAL(18,9), per-doc sums are exact decimal, and the argmax
  * orders (score DESC, label ASC) — a prediction can never flip with
  * partitioning. Docs shorter than `n` chars score on priors alone.
  */
object TrainedLangId {

  private def q9(c: Column): Column = round(c, 9).cast("decimal(18,9)")

  /** Exploded (row-per-gram) hashed feature buckets: lowercased char
    * n-grams → md5-bucket ∈ [0, buckets).
    *
    * Grams are assembled from a per-CHAR split array with O(1)
    * `element_at` picks, NOT `substr(i, n)`: `substringSQL` re-scans
    * the string from byte 0 to find codepoint i on every call, which
    * makes the per-document gram pass QUADRATIC in document length —
    * measured 13.2× on 10× data (scaledata's ~15% longer docs squared)
    * before the fix, 10×-linear after.
    */
  private def gramBuckets(
      text: Column, n: Int, buckets: Int): Column = {
    val t = lower(coalesce(text, lit("")))
    graft.functions.hof.bind(t) { s =>
      graft.functions.hof.bind(split(s, "")) { cs =>
        // sequence(1, 0) is DESCENDING [1, 0] (the r14 suffix-array
        // lesson) — docs shorter than n must yield an EMPTY gram array
        when(length(s) >= n,
          transform(
            sequence(lit(1), length(s) - (n - 1)),
            i => pmod(
              Hashing.md5Hash60(
                concat((0 until n).map(k => element_at(cs, i + k)): _*)),
              lit(buckets.toLong)).cast("int")))
          .otherwise(array().cast("array<int>"))
      }
    }
  }

  /** Train: (model, priors) — the complete (label, bucket, ll) grid
    * and the (label, prior) frame, both DECIMAL(18,9)-quantized and
    * pinned.
    */
  def train(
      df: DataFrame,
      textCol: String,
      labelCol: String,
      n: Int = 3,
      buckets: Int = 256): (DataFrame, DataFrame) = {
    require(n >= 1 && n <= 8, "n-gram order must be in [1, 8]")
    require(buckets >= 2 && buckets <= (1 << 20),
      "buckets must be in [2, 2^20]")
    val spark = df.sparkSession
    // the gram pass is the train phase's per-row hot path — without
    // spread a one-row-group corpus runs it on a single input split
    // (r17 opt: profiled 2× ~1.9 s single-task stages at sf0.1)
    val grams = graft.Tables.spread(df).select(
      col(labelCol).as("label"),
      explode(gramBuckets(col(textCol), n, buckets)).as("bucket"))
    val counts = grams.groupBy("label", "bucket")
      .agg(count(lit(1)).as("__c"))
    val totals = counts.groupBy("label").agg(sum(col("__c")).as("__t"))
    val grid = df.select(col(labelCol).as("label")).distinct()
      .crossJoin(spark.range(buckets).select(col("id").cast("int")
        .as("bucket")))
    val model = grid
      .join(counts, Seq("label", "bucket"), "left")
      .join(totals, Seq("label"), "left")
      .select(col("label"), col("bucket"),
        q9(log((coalesce(col("__c"), lit(0L)) + lit(1)).cast("double") /
          (coalesce(col("__t"), lit(0L)) + lit(buckets)).cast("double")))
          .as("ll"))
      .pin()
    val nDocs = df.count()
    val priors = df.groupBy(col(labelCol).as("label"))
      .agg(q9(log(count(lit(1)).cast("double") / lit(nDocs.toDouble)))
        .as("prior"))
      .pin()
    (model, priors)
  }

  /** Score: (id, lang_predicted, score) — argmax class log-posterior,
    * `score` the winning EXACT-decimal posterior cast once to double
    * (no re-rounding: the decimal is already engine-exact, and a
    * 6-decimal round of a near-half double ties differently per
    * engine), tie-break (score DESC, label ASC).
    */
  def predict(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: DataFrame,
      priors: DataFrame,
      n: Int = 3,
      buckets: Int = 256): DataFrame = {
    // same spread rationale as train: the scoring gram pass re-reads
    // the corpus (profiled 3.4 s single-task at sf0.1 unspread)
    val hist = graft.Tables.spread(df).select(col(idCol),
      explode(gramBuckets(col(textCol), n, buckets)).as("bucket"))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val docLabel = hist
      .join(broadcast(model), Seq("bucket"))
      .groupBy(col(idCol), col("label"))
      // cnt as DECIMAL(10,0), NOT bigint: a bigint operand types the
      // product at precision 39 > 38, and Spark silently TRUNCATES the
      // scale to fit (9 → 8 decimals) — the sums must stay exact
      .agg(sum(col("cnt").cast("decimal(10,0)") * col("ll")).as("__s"))
    val zero = lit(0).cast("decimal(18,9)")
    val scored = df.select(col(idCol))
      .crossJoin(broadcast(priors))
      .join(docLabel, Seq(idCol, "label"), "left")
      // narrow the exact sum before the prior add: decimal(38,9) +
      // decimal(18,9) types at precision 39 and Spark again drops the
      // scale to fit; (30,9) bounds |sum| at 10^21 — far past any
      // real posterior — and keeps the addition exact
      .select(col(idCol), col("label"),
        (col("prior") +
          coalesce(col("__s").cast("decimal(30,9)"), zero)).as("score"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("label").asc)
    scored
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("label").as("lang_predicted"),
        col("score").cast("double").as("score"))
  }

  /** Train on the corpus' declared labels and predict every document:
    * (id, lang_declared, lang_predicted, score) — the self-evaluation
    * frame the q_t25 confusion readout grades.
    */
  def trainAndPredict(
      df: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      n: Int = 3,
      buckets: Int = 256): DataFrame = RunScope.scope("TrainedLangId.trainAndPredict") {
    val (model, priors) = train(df, textCol, labelCol, n, buckets)
    predict(df, idCol, textCol, model, priors, n, buckets)
      .join(df.select(col(idCol), col(labelCol).as("lang_declared")),
        Seq(idCol))
      .select(col(idCol), col("lang_declared"), col("lang_predicted"),
        col("score"))
      .pin()
  }
}
