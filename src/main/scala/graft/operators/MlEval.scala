package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.RunScope
import graft.RunScope.Pinning

/** Binary-classifier evaluation over a scored frame — the model-quality
  * readout that closes the train (QualityClassifier.fit) → score →
  * EVALUATE loop of a production corpus-quality gate.
  *
  * AUC is computed EXACTLY via the Mann–Whitney pair-count identity in
  * pure integers — no average-rank doubles, no pair join:
  *
  *   2U = Σ_v pc(v)·(2·negBelow(v) + nc(v)),  AUC = 2U / (2·P·N)
  *
  * where v ranges over DISTINCT scores, pc/nc are the positive/negative
  * counts at v and negBelow the negatives strictly below — ties
  * contribute their conventional half credit through the nc(v) term.
  * Every quantity up to the single final division is an exact integer,
  * so the statistic is engine-reproducible to the bit.
  *
  * Shape at scale: ONE hash aggregate reduces the corpus to its distinct
  * scores — bounded at ≤10⁶+1 values because every entry point QUANTIZES
  * the score to 6 decimals itself (idempotent for QualityClassifier's
  * pre-rounded output) — one single-partition window over
  * that tiny frame, one closing aggregate. Thresholded counts (tp/fp/
  * fn/tn → accuracy, precision, recall, F1) and the Brier score come out
  * of the same per-score frame; divisions are guarded (no positives →
  * precision NULL, one class absent → AUC NULL).
  */
object MlEval {

  /** Rows whose label is not exactly 0.0 or 1.0 (NULL, NaN, multiclass)
    * are EXCLUDED, never silently counted as negatives — a malformed
    * label column shrinks `n`, it does not distort AUC.
    */
  private def wellFormed(df: DataFrame, labelCol: String, scoreCol: String): DataFrame =
    df.filter(col(scoreCol).isNotNull && !isnan(col(scoreCol).cast("double")) &&
      col(labelCol).cast("double").isin(0.0, 1.0))

  /** Positive (`pc`) and negative (`nc`) counts per distinct score `s`
    * (quantized to 6 decimals) of the well-formed rows, grouped under
    * `keys` first.
    */
  private def perScoreCounts(
      scored: DataFrame, labelCol: String, scoreCol: String, keys: Column*): DataFrame =
    wellFormed(scored, labelCol, scoreCol)
      .groupBy(keys :+ round(col(scoreCol).cast("double"), 6).as("s"): _*)
      .agg(
        sum(when(col(labelCol).cast("double") === 1.0, 1L).otherwise(0L)).as("pc"),
        sum(when(col(labelCol).cast("double") === 1.0, 0L).otherwise(1L)).as("nc"))

  /** @param scored  frame with a 0/1 label column and a numeric score
    * @return one row: (n, n_pos, n_neg, auc, tp, fp, fn, tn, accuracy,
    *         precision, recall, f1, brier)
    */
  def binaryMetrics(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      threshold: Double = 0.5): DataFrame = {
    // unscorable/malformed rows are excluded via [[wellFormed]]; the 2U
    // accumulator goes through DECIMAL(38,0) — a LongType sum of 2·P·N
    // wraps past ~4.6e18 positive·negative pairs, squarely inside the
    // 100 TB regime (the edgeStats discipline). The score QUANTIZES to 6
    // decimals INSIDE the operator (idempotent for QualityClassifier
    // output, which arrives pre-rounded), so the single-partition window
    // below is bounded at ≤10⁶+1 rows by construction — a caller passing
    // raw sigmoids no longer gets a corpus-sized window.
    val perScore = perScoreCounts(scored, labelCol, scoreCol)
    // single-partition window over the DISTINCT-SCORE frame only
    val below = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = perScore.withColumn(
      "neg_below", coalesce(sum(col("nc")).over(below), lit(0L)))
    val one = cum.agg(
      sum(col("pc")).as("__p"),
      sum(col("nc")).as("__n"),
      sum(col("pc").cast("decimal(38,0)") *
        (lit(2L) * col("neg_below") + col("nc"))).as("__u2"),
      sum(when(col("s") >= threshold, col("pc")).otherwise(0L)).as("tp"),
      sum(when(col("s") >= threshold, col("nc")).otherwise(0L)).as("fp"),
      sum(when(col("s") < threshold, col("pc")).otherwise(0L)).as("fn"),
      sum(when(col("s") < threshold, col("nc")).otherwise(0L)).as("tn"),
      sum(col("pc") * (col("s") - 1) * (col("s") - 1) +
        col("nc") * col("s") * col("s")).as("__sqerr"))
    one.select(
      (col("__p") + col("__n")).cast("bigint").as("n"),
      col("__p").cast("bigint").as("n_pos"),
      col("__n").cast("bigint").as("n_neg"),
      when(col("__p") > 0 && col("__n") > 0,
        col("__u2").cast("double") / (lit(2.0) * col("__p") * col("__n"))).as("auc"),
      col("tp").cast("bigint").as("tp"), col("fp").cast("bigint").as("fp"),
      col("fn").cast("bigint").as("fn"), col("tn").cast("bigint").as("tn"),
      ((col("tp") + col("tn")).cast("double") / (col("__p") + col("__n")))
        .as("accuracy"),
      when(col("tp") + col("fp") > 0,
        col("tp").cast("double") / (col("tp") + col("fp"))).as("precision"),
      when(col("__p") > 0, col("tp").cast("double") / col("__p")).as("recall"),
      when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
        lit(2.0) * col("tp") / (lit(2L) * col("tp") + col("fp") + col("fn")))
        .as("f1"),
      (col("__sqerr") / (col("__p") + col("__n"))).as("brier"))
  }

  /** Per-slice [[binaryMetrics]] — the model-monitoring view: one row
    * PER VALUE of `sliceCol` (a language, a source, a time bucket), so a
    * score that works globally but fails on one slice is visible. Same
    * exact integer Mann–Whitney identity, with the per-score aggregate
    * keyed by (slice, score) and the cumulative window partitioned by
    * slice — still one corpus pass + tiny-frame windows; a slice with
    * one class gets AUC NULL, not an error.
    */
  def binaryMetricsBy(
      scored: DataFrame,
      sliceCol: String,
      labelCol: String,
      scoreCol: String,
      threshold: Double = 0.5): DataFrame = {
    val perScore = perScoreCounts(scored, labelCol, scoreCol, col(sliceCol).as("slice"))
    val below = Window.partitionBy("slice").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = perScore.withColumn(
      "neg_below", coalesce(sum(col("nc")).over(below), lit(0L)))
    cum.groupBy(col("slice"))
      .agg(
        sum(col("pc")).as("__p"),
        sum(col("nc")).as("__n"),
        sum(col("pc").cast("decimal(38,0)") *
          (lit(2L) * col("neg_below") + col("nc"))).as("__u2"),
        sum(when(col("s") >= threshold, col("pc")).otherwise(0L)).as("tp"),
        sum(when(col("s") >= threshold, col("nc")).otherwise(0L)).as("fp"),
        sum(when(col("s") < threshold, col("pc")).otherwise(0L)).as("fn"),
        sum(when(col("s") < threshold, col("nc")).otherwise(0L)).as("tn"))
      .select(
        col("slice"),
        (col("__p") + col("__n")).cast("bigint").as("n"),
        col("__p").cast("bigint").as("n_pos"),
        col("__n").cast("bigint").as("n_neg"),
        when(col("__p") > 0 && col("__n") > 0,
          col("__u2").cast("double") / (lit(2.0) * col("__p") * col("__n")))
          .as("auc"),
        ((col("tp") + col("tn")).cast("double") / (col("__p") + col("__n")))
          .as("accuracy"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
          lit(2.0) * col("tp") / (lit(2L) * col("tp") + col("fp") + col("fn")))
          .as("f1"))
  }

  /** ROC / PR CURVE points — the threshold-sweep view [[binaryMetrics]]'s
    * single-threshold row summarizes: one row per DISTINCT (6-decimal
    * quantized) score `s`, carrying the confusion counts of the
    * "predict positive when score ≥ s" classifier and the derived
    * rates: `(s, tp, fp, tpr, fpr, precision)`, ordered by `s`
    * DESCENDING so the rows trace the ROC curve from (0,0)⁺ toward
    * (1,1). All counts are exact integers (cumulative sums over the
    * distinct-score frame); rates are single divisions, so both curve
    * coordinates are engine-replayable to the bit. AUC integrated from
    * these points by trapezoid equals [[binaryMetrics]]'s exact
    * Mann–Whitney value — the spec asserts it.
    *
    * Shape at scale: the same ONE corpus-reducing hash aggregate as
    * [[binaryMetrics]] (≤10⁶+1 rows by the internal quantization), then
    * windows over that tiny frame only. One class absent → tpr or fpr
    * NULL (guarded divisions), rows still emitted.
    */
  def rocPoints(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String): DataFrame = {
    val perScore = perScoreCounts(scored, labelCol, scoreCol)
    val fromTop = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    perScore
      .withColumn("tp", sum(col("pc")).over(fromTop))
      .withColumn("fp", sum(col("nc")).over(fromTop))
      .withColumn("__p", sum(col("pc")).over(all))
      .withColumn("__n", sum(col("nc")).over(all))
      .select(
        col("s"),
        col("tp").cast("bigint").as("tp"),
        col("fp").cast("bigint").as("fp"),
        when(col("__p") > 0, col("tp").cast("double") / col("__p")).as("tpr"),
        when(col("__n") > 0, col("fp").cast("double") / col("__n")).as("fpr"),
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp"))).as("precision"))
      .orderBy(col("s").desc)
  }

  /** AVERAGE PRECISION (the PR-curve summary, a.k.a. PR-AUC in its
    * step-wise form): AP = Σ_i (ΔR_i)·P_i over distinct scores
    * descending — each distinct score contributes its positive count's
    * recall increment times the precision AT that threshold, the
    * step-interpolation (NOT trapezoid: linear PR interpolation is
    * known-biased, Davis & Goadrich 2006). One row: `(n_pos, n_neg,
    * average_precision)`; NULL when no positives. Since
    * ΔR_i = pc_i / P and P_i = tp_i / (tp_i + fp_i) with tp_i + fp_i ≥ 1
    * on every emitted row, every term is a ratio of exact integers —
    * engine-replayable.
    *
    * Shape at scale: identical to [[rocPoints]] — one corpus-reducing
    * hash aggregate (≤10⁶+1 rows by internal quantization), windows over
    * the tiny frame, one closing aggregate.
    */
  def averagePrecision(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String): DataFrame = {
    val perScore = perScoreCounts(scored, labelCol, scoreCol)
    val fromTop = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perScore
      .withColumn("tp", sum(col("pc")).over(fromTop))
      .withColumn("fp", sum(col("nc")).over(fromTop))
      .agg(
        sum(col("pc")).cast("bigint").as("n_pos"),
        sum(col("nc")).cast("bigint").as("n_neg"),
        sum(col("pc").cast("double") * col("tp") / (col("tp") + col("fp")))
          .as("__apn"))
      .select(
        col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0, col("__apn") / col("n_pos"))
          .as("average_precision"))
  }

  /** SPLIT-CONFORMAL prediction sets (Vovk et al.; Papadopoulos et al.
    * 2002) — the distribution-free uncertainty layer over a scored
    * binary frame: rows matching `calPred` form the CALIBRATION split,
    * whose true-class nonconformity r = (1 − s if y=1 else s) is ranked
    * under the total order (r, then score, then label) and the
    * ⌈(n_cal+1)(1−α)⌉-th smallest becomes the threshold q̂; every other
    * row's prediction set then contains class 1 iff 1−s ≤ q̂ and class
    * 0 iff s ≤ q̂. One row: `(n_cal, k, qhat, n_eval, n_covered,
    * coverage, avg_set_size)` — the conformal guarantee says coverage
    * ≈ 1−α marginally; this measures it on the split. When
    * ⌈(n_cal+1)(1−α)⌉ > n_cal (including an empty calibration) the
    * threshold is VACUOUS: q̂ is NULL, every prediction set is {0,1},
    * coverage 1, avg set size 2 — the honest conformal answer when the
    * calibration sample cannot certify the level.
    *
    * Shape at scale: scores quantize internally (the [[binaryMetrics]]
    * contract) so the rank window runs over the ≤2·(10⁶+1)-row distinct
    * (r, s, y) calibration frame, never the corpus; q̂ broadcasts back
    * as a 1-row frame and the eval pass is one scan-side aggregate.
    */
  def splitConformal(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      calPred: org.apache.spark.sql.Column,
      alpha: Double = 0.1): DataFrame = RunScope.scope("MlEval.splitConformal") {
    require(alpha > 0 && alpha < 1, "alpha must be in (0,1)")
    val base = wellFormed(scored, labelCol, scoreCol)
      .select(
        round(col(scoreCol).cast("double"), 6).as("s"),
        col(labelCol).cast("double").as("y"),
        calPred.as("__cal"))
    // distinct-(r,s,y) calibration frame with multiplicities: the rank
    // of the k-th smallest over the corpus equals a cumulative-count
    // scan over the tiny distinct frame
    val cal = base.filter(col("__cal"))
      .select(
        when(col("y") === 1.0, lit(1.0) - col("s")).otherwise(col("s")).as("r"),
        col("s"), col("y"))
      .groupBy("r", "s", "y").agg(count(lit(1)).as("c"))
    val upTo = Window.orderBy(col("r").asc, col("s").asc, col("y").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val calCum = cal.withColumn("__cum", sum(col("c")).over(upTo))
      .pin() // distinct-score-bounded; scanned twice below
    val nk = calCum
      .agg(coalesce(sum(col("c")), lit(0L)).cast("bigint").as("n_cal"))
      .select(
        col("n_cal"),
        ceil((col("n_cal") + 1L).cast("double") * lit(1.0 - alpha)).cast("bigint")
          .as("k"))
    // q̂ = smallest r whose cumulative count reaches k; min over an empty
    // filter (k > n_cal — the vacuous case — or empty calibration) → NULL
    val resolved = calCum
      .crossJoin(broadcast(nk))
      .filter(col("__cum") >= col("k"))
      .agg(min(col("r")).as("qhat"))
      .crossJoin(broadcast(nk))
      .select(col("n_cal"), col("k"), col("qhat"))
      .pin() // 1 row — frees calCum on return
    val evalAgg = base.filter(!col("__cal"))
      .crossJoin(broadcast(resolved))
      .agg(
        first(col("n_cal")).as("n_cal"),
        first(col("k")).as("k"),
        first(col("qhat")).as("qhat"),
        count(lit(1)).cast("bigint").as("n_eval"),
        sum(when(
          coalesce(
            when(col("y") === 1.0, lit(1.0) - col("s")).otherwise(col("s"))
              <= col("qhat"),
            lit(true)), // NULL qhat → vacuous threshold → always covered
          1L).otherwise(0L)).cast("bigint").as("n_covered"),
        sum(
          when(col("qhat").isNull, 1L) // vacuous threshold: class always in
            .when(lit(1.0) - col("s") <= col("qhat"), 1L).otherwise(0L)
            + when(col("qhat").isNull, 1L)
            .when(col("s") <= col("qhat"), 1L).otherwise(0L))
          .cast("bigint").as("__sets"))
      .select(
        col("n_cal"), col("k"), col("qhat"), col("n_eval"), col("n_covered"),
        when(col("n_eval") > 0,
          col("n_covered").cast("double") / col("n_eval")).as("coverage"),
        when(col("n_eval") > 0,
          col("__sets").cast("double") / col("n_eval")).as("avg_set_size"))
    evalAgg
  }

  /** Post-hoc TEMPERATURE SCALING (Guo et al. 2017) — the fix companion
    * to [[calibration]]'s measurement: fit the single scalar T that
    * recalibrates scores as σ(logit(s)/T) by fixed-count gradient
    * descent on the NLL, with the [[QualityClassifier.fit]] determinism
    * discipline so the TRAINING itself is oracle-replayable — per-step
    * gradient terms (p − y)·z round to 9 decimals and sum as
    * DECIMAL(38,9) (addition-order-independent), the updated T rounds to
    * 10 decimals engine-side before becoming the next step's literal,
    * and each step is ONE all-reduce row (the bounded driver-artifact
    * discipline). Logits clamp scores into [1e-6, 1−1e-6] first — a
    * round(·,6) score of exactly 0 or 1 would blow up ln(s/(1−s)).
    *
    * Returns one row `(t_fitted, n, nll_before, nll_after, improved)` —
    * NLLs at T = 1 and at the fitted T, `improved` reported (not
    * asserted: fixed-step GD may overshoot on an already-calibrated
    * model; both engines compute the identical recursion either way).
    */
  def temperatureScale(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      steps: Int = 3,
      learningRate: Double = 0.5): DataFrame = RunScope.scope("MlEval.temperatureScale") {
    require(steps >= 1, "steps must be >= 1")
    val sc = least(greatest(col(scoreCol).cast("double"), lit(1e-6)),
      lit(1.0 - 1e-6))
    // NaN scores must be excluded BEFORE the clamp: least/greatest treat
    // NaN as the largest double, so an unfiltered NaN would silently
    // clamp to 1-1e-6 (logit ≈ 13.8) and pollute the fitted T and both
    // NLLs; malformed labels are excluded for the same reason as in
    // [[wellFormed]] (they would enter the gradient as arbitrary y).
    val zf = wellFormed(scored, labelCol, scoreCol)
      .select(col(labelCol).cast("double").as("y"),
        log(sc / (lit(1.0) - sc)).as("z"))
      .pin() // scanned once per GD step + once for NLLs
    var t = 1.0
    (1 to steps).foreach { _ =>
      val p = lit(1.0) / (lit(1.0) + exp(-(col("z") / lit(t))))
      t = zf
        .agg(
          sum(round((p - col("y")) * col("z"), 9)
            .cast("decimal(38,9)")).as("__g"),
          count(lit(1)).cast("double").as("__n"))
        .select(round(
          lit(t) + lit(learningRate) *
            (col("__g").cast("double") / col("__n")) / lit(t * t), 10))
        .head().getDouble(0) // one all-reduce row per step
    }
    def nll(tv: Double) = {
      val p = lit(1.0) / (lit(1.0) + exp(-(col("z") / lit(tv))))
      -sum(col("y") * log(p) + (lit(1.0) - col("y")) * log(lit(1.0) - p))
    }
    zf.agg(
      count(lit(1)).cast("bigint").as("n"),
      nll(1.0).as("nll_before"),
      nll(t).as("nll_after"))
      .select(
        lit(t).as("t_fitted"), col("n"), col("nll_before"), col("nll_after"),
        (col("nll_after") <= col("nll_before")).as("improved"))
      .pin()
  }

  /** Reliability diagram + Expected Calibration Error over fixed-width
    * score bins — does a score of 0.8 mean 80% positives? Per bin:
    * count, mean score (confidence), empirical positive rate, |gap|;
    * every row also carries the single ECE = Σ n_b/n · |gap_b|.
    *
    * FIXED-WIDTH bins (bin = min(⌊s·nBins⌋, nBins−1)), not ntile —
    * deterministic under ties by construction. Mean scores stay
    * engine-exact: scores arrive rounded (round(·,6)), so the per-bin
    * sum goes through DECIMAL(38,6) — exact and order-independent — with
    * one division at the end; positive rates are integer ratios. One
    * hash aggregate reduces the corpus to ≤ nBins rows; the ECE window
    * runs over that tiny frame only.
    */
  /** ISOTONIC calibration over the score-decile bins — the
    * nonparametric companion to [[temperatureScale]]: fit the monotone
    * step function minimizing squared error to the per-bin positive
    * rates via the MINIMAX identity (Barlow et al. 1972),
    *
    *   iso_i = max_{j ≤ i} min_{k ≥ i} (Σ pos over bins j..k)/(Σ n),
    *
    * which equals the pool-adjacent-violators solution EXACTLY but
    * needs no sequential pooling loop: with B bins it is one B³-row
    * self-join over the prefix-sum frame — B ≤ nBins makes that a
    * few-hundred-row cross product, scan-side, fully oracle-replayable
    * (every segment mean is a ratio of exact integers). One row per
    * NON-EMPTY bin: `(bin, n_docs, mean_score, pos_rate, iso_fitted)`,
    * `iso_fitted` nondecreasing in bin (the gate REQUIREs it).
    *
    * Shape at scale: the same ONE corpus-reducing hash aggregate as
    * [[calibration]]; everything after runs on the ≤nBins-row frame.
    */
  def isotonicCalibration(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 1, "need at least one bin")
    val s6 = round(col(scoreCol).cast("double"), 6)
    val bin = least(floor(s6 * nBins).cast("int"), lit(nBins - 1))
    val bins = wellFormed(scored, labelCol, scoreCol)
      .groupBy(bin.as("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(s6.cast("decimal(38,6)")).as("__ss"),
        sum(when(col(labelCol).cast("double") === 1.0, 1L).otherwise(0L))
          .as("pos"))
    val byBin = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // prefix sums over the ≤nBins-row frame: segment (j..k) totals are
    // prefix differences, so the B³ triple join below carries integers
    val pre = bins
      .withColumn("cn", sum(col("n")).over(byBin))
      .withColumn("cp", sum(col("pos")).over(byBin))
      .select(col("bin"), col("n"), col("pos"), col("__ss"), col("cn"), col("cp"))
    val segs = pre.select(col("bin").as("__j"), (col("cn") - col("n")).as("__cnj"),
        (col("cp") - col("pos")).as("__cpj"))
      .join(pre.select(col("bin").as("__k"), col("cn").as("__cnk"),
        col("cp").as("__cpk")), col("__j") <= col("__k"))
      .select(col("__j"), col("__k"),
        ((col("__cpk") - col("__cpj")).cast("double") /
          (col("__cnk") - col("__cnj")).cast("double")).as("__m"))
    val fitted = pre.select(col("bin").as("__i"))
      .join(segs, col("__j") <= col("__i") && col("__i") <= col("__k"))
      .groupBy(col("__i"), col("__j"))
      .agg(min(col("__m")).as("__innermin"))
      .groupBy(col("__i"))
      .agg(max(col("__innermin")).as("iso_fitted"))
    pre
      .join(fitted, pre("bin") === fitted("__i"))
      .select(
        col("bin"),
        col("n").cast("bigint").as("n_docs"),
        (col("__ss").cast("double") / col("n")).as("mean_score"),
        (col("pos").cast("double") / col("n")).as("pos_rate"),
        col("iso_fitted"))
  }

  def calibration(
      scored: DataFrame,
      labelCol: String,
      scoreCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 1, "need at least one bin")
    // the 6-decimal quantization makes the DECIMAL(38,6) confidence sum
    // exact BY CONSTRUCTION (not by caller convention), and binning on
    // the quantized score keeps bin membership consistent with the other
    // metrics' distinct-score frame
    val s6 = round(col(scoreCol).cast("double"), 6)
    val bin = least(floor(s6 * nBins).cast("int"), lit(nBins - 1))
    // a NULL score would otherwise land in the top bin (least() skips
    // nulls) and corrupt its confidence — unscorable rows are excluded
    val bins = wellFormed(scored, labelCol, scoreCol)
      .groupBy(bin.as("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(s6.cast("decimal(38,6)")).as("__ss"),
        sum(when(col(labelCol).cast("double") === 1.0, 1L).otherwise(0L))
          .as("__pos"))
      .select(
        col("bin"), col("n_docs").cast("bigint").as("n_docs"),
        (col("__ss").cast("double") / col("n_docs")).as("mean_score"),
        (col("__pos").cast("double") / col("n_docs")).as("pos_rate"))
      .withColumn("abs_gap", abs(col("pos_rate") - col("mean_score")))
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    bins.withColumn("ece",
      sum(col("abs_gap") * col("n_docs")).over(all) /
        sum(col("n_docs")).over(all))
  }

  /** Ranking-quality metrics per query — the retrieval-eval staple
    * (Järvelin & Kekäläinen 2002 for nDCG; classic MRR/P@k): given a run
    * (query, doc, score) with graded relevance, report per query
    *
    *   - mrr     — 1/rank of the first relevant doc (0 when none),
    *   - dcg_k   — Σ_{rank ≤ k} (2^rel − 1) / log2(rank + 1),
    *   - idcg_k  — the same sum under the ideal (rel-descending) order,
    *   - ndcg_k  — dcg_k / idcg_k (0 when the query has no relevance),
    *   - p_k     — relevant-in-top-k / k.
    *
    * Ranking ties break by doc id ascending (deterministic, and exactly
    * replayable by an ORDER BY score DESC, doc); the ideal order's ties
    * are between EQUAL relevance grades, so tie placement never changes
    * idcg. dcg/idcg/ndcg ship ROUNDED to 6 decimals (sums of ≤k irrational
    * log2 discounts — the q_t30 rounded-ln rule); mrr and p_k are single
    * divisions, bit-identical across engines unrounded.
    *
    * Shape at scale: two windows partitioned by query (rank + ideal rank)
    * and one aggregate — per-query partition width is the run's depth per
    * query, never the corpus.
    */
  def rankingMetrics(
      runs: DataFrame,
      queryCol: String,
      docCol: String,
      scoreCol: String,
      relCol: String,
      k: Int = 10): DataFrame = {
    require(k >= 1, "k must be positive")
    val byScore = Window.partitionBy(queryCol)
      .orderBy(col(scoreCol).desc, col(docCol).asc)
    val byRel = Window.partitionBy(queryCol)
      .orderBy(col(relCol).desc, col(docCol).asc)
    val gain = pow(lit(2.0), col(relCol).cast("double")) - lit(1.0)
    runs
      .withColumn("__rk", row_number().over(byScore))
      .withColumn("__irk", row_number().over(byRel))
      .groupBy(col(queryCol))
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(
          max(when(col(relCol) > 0, lit(1.0)) / // 1/min rank via max of 1/rank
            when(col(relCol) > 0, col("__rk").cast("double"))),
          lit(0.0)).as("mrr"),
        round(sum(when(col("__rk") <= k, gain / log2(col("__rk") + 1))
          .otherwise(lit(0.0))), 6).as(s"dcg_$k"),
        round(sum(when(col("__irk") <= k, gain / log2(col("__irk") + 1))
          .otherwise(lit(0.0))), 6).as(s"idcg_$k"),
        (sum(when(col("__rk") <= k && col(relCol) > 0, 1L).otherwise(0L))
          .cast("double") / k).as(s"p_$k"))
      .withColumn(s"ndcg_$k",
        when(col(s"idcg_$k") > 0, round(col(s"dcg_$k") / col(s"idcg_$k"), 6))
          .otherwise(lit(0.0)))
  }
}
