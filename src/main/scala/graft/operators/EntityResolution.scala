package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.RunScope
import graft.RunScope.Pinning

/** End-to-end entity resolution: fuzzy-blocked candidate pairs →
  * Fellegi–Sunter-style additive log-odds scoring → threshold →
  * transitive closure into entity ids. This is the reference's actual
  * identity problem (student/staff records from a SIS matched across
  * extracts, `SisConnectorService.java:142-160` keyed syncs) composed
  * from the engine's own parts: [[FuzzyJoin]] (provably complete q-gram
  * blocking), literal agreement weights, and [[ConnectedComponents]]
  * (alternating-star closure).
  *
  * Scoring is the FIXED-weights Fellegi–Sunter form: each field
  * contributes a literal agree/disagree log-odds (the EM-fitted
  * variant estimates these from data; fixed weights keep the operator
  * deterministic and cross-engine exact — every score is a sum of plan
  * literals in a fixed order, so the threshold cannot flip between
  * engines). The name field's weight steps down with edit distance.
  *
  * Scale shape: candidates come from the gram-blocked fuzzy join (never
  * O(n²)); scoring is scan-side arithmetic on the pair frame; the
  * closure is the polylog-round alternating-star. PRECONDITION: the
  * compared fields are non-null (SQL `=` null semantics would silently
  * drop a pair's score; coalesce upstream if needed).
  */
object EntityResolution {

  /** Per-record entity assignment over `records`. `nameCol` is compared
    * fuzzily (edit distance ≤ `maxNameDist`, weight =
    * `nameWeights(dist)`); each `(col, agree, disagree)` in
    * `fieldWeights` adds its literal log-odds on exact (in)equality.
    * Pairs scoring ≥ `minScore` are linked; output is `records` plus
    * `entity_id` (the component's minimum record id — unmatched records
    * are their own entity).
    */
  def resolve(
      records: DataFrame,
      idCol: String,
      nameCol: String,
      nameWeights: Seq[Double],
      fieldWeights: Seq[(String, Double, Double)],
      maxNameDist: Int,
      minScore: Double,
      blockCol: Option[String] = None,
      segmentBlocking: Boolean = true): DataFrame = {
    val pairs = matchedPairs(
      records, idCol, nameCol, nameWeights, fieldWeights, maxNameDist, minScore, blockCol,
      segmentBlocking)
      .select(col("id_a"), col("id_b"))
    ConnectedComponents.assignClusters(records, idCol, pairs)
      .withColumnRenamed("cluster_id", "entity_id")
  }

  /** The scored pair frame (id_a < id_b, score) at or above `minScore` —
    * exposed separately so callers can audit the match evidence.
    */
  /** @param segmentBlocking candidate generation via the PassJoin
    *   segment scheme ([[FuzzyJoin.segmentSelfPairsBlocked]], the
    *   default) instead of the q-gram count filter — identical output
    *   by construction (both are complete blockings over the same
    *   verify), but segment keys stay selective on low-entropy name
    *   alphabets (hex ids, digit runs) where the gram equi-join
    *   degenerates toward a within-block cross join (q_f7's 37x
    *   blowup at 10x scale).
    */
  def matchedPairs(
      records: DataFrame,
      idCol: String,
      nameCol: String,
      nameWeights: Seq[Double],
      fieldWeights: Seq[(String, Double, Double)],
      maxNameDist: Int,
      minScore: Double,
      blockCol: Option[String] = None,
      segmentBlocking: Boolean = true): DataFrame = {
    require(nameWeights.length == maxNameDist + 1,
      s"need one name weight per distance 0..$maxNameDist")
    // Blocking is only legal when NO cross-block pair can reach
    // minScore: the best any such pair can do is the max name weight,
    // the block field's DISAGREE weight, and every other field's best
    // case. Asserted, not assumed — a lossy block would silently drop
    // true matches.
    blockCol.foreach { bf =>
      val bw = fieldWeights.find(_._1 == bf).getOrElse(
        throw new IllegalArgumentException(
          s"blockCol $bf must be one of the scored fields"))
      val bestCross = nameWeights.max + bw._3 +
        fieldWeights.filterNot(_._1 == bf).map(f => math.max(f._2, f._3)).sum
      require(bestCross < minScore,
        f"blocking on $bf is LOSSY: a cross-block pair could score $bestCross%.2f >= $minScore%.2f")
    }
    val candidates = candidateFrame(
      records, idCol, nameCol, fieldWeights.map(_._1), maxNameDist, blockCol,
      segmentBlocking)

    val score = fieldWeights.foldLeft(nameDistScore(nameWeights)) {
      case (acc, (f, agree, disagree)) =>
        acc + when(col(s"${f}_a2") === col(s"${f}_b2"), agree).otherwise(disagree)
    }
    candidates
      .withColumn("score", score)
      .where(col("score") >= minScore)
      .select("id_a", "id_b", "dist", "score")
  }

  /** Value-frequency Fellegi–Sunter scoring (Fellegi & Sunter 1969 §3;
    * the term-frequency refinement of Winkler 1988 used by fastLink and
    * Splink): a field agreeing on a RARE value is stronger evidence than
    * agreeing on a common one, so the agreement weight is not a literal
    * but log2(m_f / p_v) — m-probability over the value's relative
    * frequency in the record frame — capped at `cap` (the standard
    * guard against singleton values dominating the score). Disagreement
    * stays the literal `disagree` log-odds; the name field keeps the
    * distance-stepped literal weights.
    *
    * Each `freqFields` entry is (col, mProb, disagree, cap).
    *
    * Scale shape: candidates come from the same complete blocking as
    * [[matchedPairs]]; each field adds ONE vocabulary-bounded frequency
    * frame (groupBy(value) + a broadcast one-row total) broadcast-joined
    * onto the pair frame — frequency scoring is only meaningful for
    * moderate-cardinality fields (a near-unique field has p_v ≈ 1/n and
    * the cap always binds), so the broadcast is the right default.
    * Scores are rounded to 6 decimals BEFORE the threshold compare:
    * log2 is the one non-literal float op in the sum, and the rounding
    * makes the threshold decision engine-portable (the q_v19/q_e19
    * rounded-compare rule).
    *
    * Blocking losslessness is asserted against the CAPS (the static
    * upper bound on any agreement weight), so the guarantee holds for
    * every data distribution, not just the observed one.
    */
  def frequencyScoredPairs(
      records: DataFrame,
      idCol: String,
      nameCol: String,
      nameWeights: Seq[Double],
      freqFields: Seq[(String, Double, Double, Double)],
      maxNameDist: Int,
      minScore: Double,
      blockCol: Option[String] = None,
      segmentBlocking: Boolean = true): DataFrame = {
    require(nameWeights.length == maxNameDist + 1,
      s"need one name weight per distance 0..$maxNameDist")
    freqFields.foreach { case (f, m, _, cap) =>
      require(m > 0 && m <= 1, s"field $f: mProb must be in (0, 1], got $m")
      require(!cap.isNaN, s"field $f: cap must be a number")
    }
    blockCol.foreach { bf =>
      val bw = freqFields.find(_._1 == bf).getOrElse(
        throw new IllegalArgumentException(
          s"blockCol $bf must be one of the scored fields"))
      val bestCross = nameWeights.max + bw._3 +
        freqFields.filterNot(_._1 == bf).map(f => math.max(f._4, f._3)).sum
      require(bestCross < minScore,
        f"blocking on $bf is LOSSY: a cross-block pair could score $bestCross%.2f >= $minScore%.2f")
    }
    val n = records.agg(count(lit(1)).cast("double").as("__n"))
    val candidates = candidateFrame(
      records, idCol, nameCol, freqFields.map(_._1), maxNameDist, blockCol,
      segmentBlocking)
    val joined = freqFields.foldLeft(candidates) { case (df, (f, _, _, _)) =>
      val freq = records.groupBy(col(f).as(s"__v_$f"))
        .agg(count(lit(1)).cast("double").as(s"__c_$f"))
        .crossJoin(broadcast(n))
        .select(col(s"__v_$f"), (col(s"__c_$f") / col("__n")).as(s"__p_$f"))
      df.join(broadcast(freq), col(s"${f}_a2") === col(s"__v_$f"), "left")
    }
    val score = freqFields.foldLeft(nameDistScore(nameWeights)) {
      case (acc, (f, m, disagree, cap)) =>
        acc + when(col(s"${f}_a2") === col(s"${f}_b2"),
          least(log2(lit(m) / col(s"__p_$f")), lit(cap))).otherwise(disagree)
    }
    joined
      .withColumn("score", round(score, 6))
      .where(col("score") >= minScore)
      .select("id_a", "id_b", "dist", "score")
  }

  /** The distance-stepped name weight: `nameWeights(dist)` as one CASE
    * chain (dist is bounded by maxNameDist upstream, so the terminal
    * otherwise only ever sees the last step).
    */
  private def nameDistScore(nameWeights: Seq[Double]): Column =
    nameWeights.zipWithIndex.tail.foldLeft(
      when(col("dist") === 0, nameWeights.head)) { case (acc, (w, d)) =>
      acc.when(col("dist") === d, w)
    }.otherwise(nameWeights.last)

  /** EM-fitted Fellegi–Sunter match/unmatch probabilities (Fellegi &
    * Sunter 1969 §5; the unsupervised fit of Winkler 1988 as used by
    * fastLink, Enamorado–Fifield–Imai 2019): instead of hand-set
    * agreement weights, estimate λ (match prevalence), m_f = P(agree_f |
    * match) and u_f = P(agree_f | unmatch) from the candidate pairs
    * themselves under conditional independence, by `iterations` rounds
    * of EM over the AGREEMENT-PATTERN frame.
    *
    * The pattern frame is the whole trick for scale: a pair's evidence
    * is its binary agreement vector γ = (name exact?, field_1 =?, …),
    * so the corpus-sized candidate set reduces to ≤ 2^(k+1) pattern
    * rows (pattern, count) in ONE hash aggregate, and every EM round is
    * arithmetic on that bounded frame — the E-step posterior
    * w_p = λ·Π m^γ(1−m)^(1−γ) / (that + (1−λ)·Π u^γ(1−u)^(1−γ)),
    * the M-step three count-weighted ratios. Rounds are UNROLLED into
    * the plan (params flow as broadcast one-row frames); the driver
    * never collects.
    *
    * Cross-engine determinism: each round's sums run over the pattern
    * frame in engine-chosen order, so the posterior is QUANTIZED to 12
    * decimals and cast to DECIMAL(14,12) first — 12 decimals is coarse
    * enough that the double→decimal cast lands on the identical decimal
    * in every engine (double shortest-repr vs exact-binary casts differ
    * only at the ~17th digit), and fine enough that EM absorbs the
    * quantization — then every count-weighted sum accumulates in exact
    * decimal (shuffle-order-proof) and the M-step ratios divide the
    * exact sums as doubles. Output: one row per pattern —
    * γ columns (int 0/1), `cnt`, posterior `w` — plus the fitted
    * `lambda` and per-field `m_<f>`/`u_<f>` (constant across rows),
    * every probability rounded to 6 decimals.
    *
    * Name agreement is binary here (dist == 0): EM's γ must be
    * categorical, and the candidate frame already caps dist at
    * `maxNameDist` (the complete PassJoin blocking — which is also why
    * u_f is fit on the BLOCKED pair population, the standard fastLink
    * caveat).
    */
  def emPatternWeights(
      records: DataFrame,
      idCol: String,
      nameCol: String,
      fieldCols: Seq[String],
      maxNameDist: Int,
      iterations: Int = 3,
      lambda0: Double = 0.5,
      m0: Double = 0.9,
      u0: Double = 0.1,
      segmentBlocking: Boolean = true): DataFrame = {
    val candidates = candidateFrame(
      records, idCol, nameCol, fieldCols, maxNameDist, None, segmentBlocking)
    emFit(candidates, fieldCols, iterations, lambda0, m0, u0)
  }

  /** The pair-level agreement vector γ over a [[candidateFrame]] row —
    * the SAME definition the fit and the scoring join must share, or a
    * fitted posterior would be looked up under a different key than it
    * was estimated under.
    */
  private def gammaCols(fieldCols: Seq[String]): Seq[Column] =
    (col("dist") === 0).cast("int").as("g_name") +:
      fieldCols.map(f =>
        (col(s"${f}_a2") === col(s"${f}_b2")).cast("int").as(s"g_$f"))

  /** The EM core of [[emPatternWeights]] over an already-built candidate
    * frame (shared with [[resolveWithEmWeights]], which needs the same
    * candidates again for scoring and must not rebuild the blocked fuzzy
    * join twice).
    */
  private def emFit(
      candidates: DataFrame,
      fieldCols: Seq[String],
      iterations: Int,
      lambda0: Double,
      m0: Double,
      u0: Double): DataFrame = RunScope.scope("EntityResolution.emFit") {
    require(iterations >= 1 && iterations <= 10,
      "iterations must be in [1, 10] (rounds are plan-unrolled)")
    require(fieldCols.size <= 10, "pattern frame is 2^(k+1) — cap fields at 10")
    val gammaNames = "name" +: fieldCols
    val patterns = candidates
      .select(gammaCols(fieldCols): _*)
      .groupBy(gammaNames.map(g => col(s"g_$g")): _*)
      .agg(count(lit(1)).as("cnt"))
      .pin()

    val spark = candidates.sparkSession
    var params = spark.range(1).select(
      (lit(lambda0).as("lambda") +:
        gammaNames.flatMap(g =>
          Seq(lit(m0).as(s"m_$g"), lit(u0).as(s"u_$g")))): _*)

    // posterior under CURRENT params — the identical expression tree
    // both engines evaluate, left-to-right product in gammaNames order
    def posterior: Column = {
      val pm = gammaNames.foldLeft(col("lambda")) { (acc, g) =>
        acc * when(col(s"g_$g") === 1, col(s"m_$g")).otherwise(lit(1.0) - col(s"m_$g"))
      }
      val pu = gammaNames.foldLeft(lit(1.0) - col("lambda")) { (acc, g) =>
        acc * when(col(s"g_$g") === 1, col(s"u_$g")).otherwise(lit(1.0) - col(s"u_$g"))
      }
      pm / (pm + pu)
    }
    // quantized posterior and its complement as EXACT decimals: the
    // 12-decimal round keeps both engines on the identical value, the
    // decimal arithmetic keeps every sum order-independent
    val wd = round(col("__w"), 12).cast("decimal(14,12)")
    val cwd = lit(1).cast("decimal(14,12)") - wd
    val cntd = col("cnt").cast("decimal(18,0)")
    def gated(g: String, term: Column): Column =
      sum(when(col(s"g_$g") === 1, term * cntd)
        .otherwise(lit(0).cast("decimal(32,12)")))
    for (_ <- 1 to iterations) {
      val e = patterns.crossJoin(broadcast(params)).withColumn("__w", posterior)
      val aggCols =
        sum(wd * cntd).as("__sw") +:
          gammaNames.flatMap(g => Seq(
            gated(g, wd).as(s"__swg_$g"),
            gated(g, cwd).as(s"__sug_$g"))) :+
          sum(cwd * cntd).as("__su") :+
          sum(col("cnt")).as("__n")
      params = e.agg(aggCols.head, aggCols.tail: _*)
        .select(
          ((col("__sw").cast("double") / col("__n").cast("double")).as("lambda") +:
            gammaNames.flatMap(g => Seq(
              (col(s"__swg_$g").cast("double") / col("__sw").cast("double")).as(s"m_$g"),
              (col(s"__sug_$g").cast("double") / col("__su").cast("double")).as(s"u_$g")))): _*)
    }
    // pin the ≤2^(k+1)-row result so the pattern pin frees: a returned
    // plan over it would keep its blocks
    patterns.crossJoin(broadcast(params))
      .select(
        (gammaNames.map(g => col(s"g_$g")) :+ col("cnt") :+
          round(posterior, 6).as("w") :+
          round(col("lambda"), 6).as("lambda")) ++
          gammaNames.flatMap(g => Seq(
            round(col(s"m_$g"), 6).as(s"m_$g"),
            round(col(s"u_$g"), 6).as(s"u_$g"))): _*)
      .pin()
  }

  /** END-TO-END entity resolution with EM-FITTED weights — the actual
    * fastLink workflow (Enamorado–Fifield–Imai 2019: fit → score with
    * the fitted parameters → transitive closure) as ONE user-callable
    * path, where [[resolve]] takes hand-fixed weights:
    *
    *  1. build the blocked candidate-pair frame ONCE (the complete
    *     PassJoin name blocking — never O(n²)) and pin it;
    *  2. fit λ/m/u unsupervised with [[emPatternWeights]]' EM rounds
    *     over the ≤ 2^(k+1)-row agreement-pattern frame;
    *  3. a pair matches iff its pattern's fitted posterior
    *     w = P(match | γ) ≥ `minPosterior` — scoring is ONE broadcast
    *     join from the pair frame to the pattern frame (the posterior
    *     is a per-PATTERN quantity, so no per-pair arithmetic at all);
    *  4. the existing alternating-star closure assigns `entity_id`
    *     (component minimum; unmatched records are their own entity).
    *
    * The posterior compared is the PUBLISHED 6-decimal-rounded `w`
    * (the q_f11 cross-engine discipline), so the threshold decision is
    * engine-portable.
    *
    * `blockCol` is a SCORING restriction here (cross-block pairs never
    * match), and its losslessness is REQUIREd from the FITTED model
    * itself — the q_f7 static-weights proof re-derived from data, and
    * EXACT: every OBSERVED candidate pattern with γ_block = 0 must score
    * below `minPosterior`, else the block conjunct would drop pairs the
    * model itself calls matches. The fit always runs UNBLOCKED (u of the
    * block field is inestimable from same-block pairs alone — the
    * standard fastLink caveat), which the complete name blocking keeps
    * affordable; at corpus scale the fit side can be a sample, the
    * scoring side never is.
    */
  def resolveWithEmWeights(
      records: DataFrame,
      idCol: String,
      nameCol: String,
      fieldCols: Seq[String],
      maxNameDist: Int,
      minPosterior: Double,
      iterations: Int = 3,
      lambda0: Double = 0.5,
      m0: Double = 0.9,
      u0: Double = 0.1,
      blockCol: Option[String] = None,
      segmentBlocking: Boolean = true): DataFrame =
      RunScope.scope("EntityResolution.resolveWithEmWeights") {
    val matched = emMatchedPairs(
      records, idCol, nameCol, fieldCols, maxNameDist, minPosterior,
      iterations, lambda0, m0, u0, blockCol, segmentBlocking)
    ConnectedComponents.assignClusters(records, idCol, matched)
      .withColumnRenamed("cluster_id", "entity_id")
  }

  /** [[resolveWithEmWeights]]'s matched-pair frame `(id_a < id_b)` —
    * exposed so callers that need a DIFFERENT clustering policy (e.g.
    * [[graft.plans.SyncRun]]'s richest-record representative pick) can
    * consume the same fit → threshold evidence. Returned pinned.
    */
  def emMatchedPairs(
      records: DataFrame,
      idCol: String,
      nameCol: String,
      fieldCols: Seq[String],
      maxNameDist: Int,
      minPosterior: Double,
      iterations: Int = 3,
      lambda0: Double = 0.5,
      m0: Double = 0.9,
      u0: Double = 0.1,
      blockCol: Option[String] = None,
      segmentBlocking: Boolean = true): DataFrame =
      RunScope.scope("EntityResolution.emMatchedPairs") {
    require(minPosterior > 0 && minPosterior < 1,
      s"minPosterior must be in (0, 1), got $minPosterior")
    blockCol.foreach { bf =>
      require(fieldCols.contains(bf),
        s"blockCol $bf must be one of the compared fields")
    }
    val candidates = candidateFrame(
      records, idCol, nameCol, fieldCols, maxNameDist, None, segmentBlocking)
      .pin()
    val fitted = emFit(candidates, fieldCols, iterations, lambda0, m0, u0)
    val gammaNames = "name" +: fieldCols

    // the lossy-block REQUIRE, re-derived from the FITTED model — and
    // EXACT, not extrapolated: scoring is an inner join against the
    // OBSERVED pattern frame, so the block conjunct can only ever drop
    // observed candidates whose pattern has γ_block = 0. Blocking is
    // lossless iff no such pattern's fitted posterior reaches the
    // threshold. (An extrapolated "most favorable unobserved pattern"
    // check is both too strong — it fails on degenerate fits where an
    // unmatched field's u rounds to 0 and the hypothetical posterior
    // divides 0/0 — and unnecessary: a pattern with no observed pairs
    // has nothing to drop.) One bounded aggregate over ≤ 2^(k+1) rows.
    blockCol.foreach { bf =>
      val worst = fitted.where(col(s"g_$bf") === 0)
        .agg(max(col("w"))).head().get(0)
      worst match {
        case w: java.lang.Double =>
          require(w < minPosterior,
            f"blocking on $bf is LOSSY under the FITTED model: an observed " +
              f"cross-block pattern scores $w%.6f >= $minPosterior%.6f")
        case _ => () // no cross-block candidate patterns at all
      }
    }

    // scoring: pair γ → broadcast pattern-posterior lookup → threshold
    val keyCols = gammaNames.map(g => s"g_$g")
    val pairCols: Seq[Column] =
      Seq(col("id_a"), col("id_b")) ++
        blockCol.map(bf =>
          (col(s"${bf}_a2") === col(s"${bf}_b2")).as("__same_block")).toSeq ++
        gammaCols(fieldCols)
    val pairGamma = candidates.select(pairCols: _*)
    pairGamma
      .join(broadcast(fitted.select((keyCols.map(col) :+ col("w")): _*)),
        keyCols, "inner")
      .where(col("w") >= minPosterior &&
        blockCol.map(_ => col("__same_block")).getOrElse(lit(true)))
      .select("id_a", "id_b")
      .pin()
  }

  /** The blocked candidate-pair frame shared by the scoring variants:
    * (id_a < id_b, dist, `<f>_a2`/`<f>_b2` per compared field) — fuzzy
    * pairs over DISTINCT (block,) names (complete blocking) plus the
    * identical-name record pairs the name-level join cannot emit.
    */
  private def candidateFrame(
      records: DataFrame,
      idCol: String,
      nameCol: String,
      fieldCols: Seq[String],
      maxNameDist: Int,
      blockCol: Option[String],
      segmentBlocking: Boolean): DataFrame = {
    val sideCols = (idCol +: nameCol +: fieldCols).distinct
    def side(tag: String): DataFrame =
      records.select(sideCols.map(c => col(c).as(s"${c}_$tag")): _*)

    // candidates: fuzzy pairs over DISTINCT (block,) names (complete
    // blocking) + identical-name record pairs the name-level join
    // cannot emit
    val namePairs = blockCol match {
      case Some(bf) =>
        val p =
          if (segmentBlocking)
            FuzzyJoin.segmentSelfPairsBlocked(
              records.select(col(nameCol), col(bf)), nameCol, bf, maxNameDist)
          else
            FuzzyJoin.fuzzySelfPairsBlocked(
              records.select(col(nameCol), col(bf)), nameCol, bf, maxNameDist)
        p.select(col(bf).as("__fblk"),
          col("name_a").as("__fn_a"), col("name_b").as("__fn_b"), col("dist"))
      case None =>
        val p =
          if (segmentBlocking)
            FuzzyJoin.segmentSelfPairs(records.select(col(nameCol)), nameCol, maxNameDist)
          else
            FuzzyJoin.fuzzySelfPairs(records.select(col(nameCol)), nameCol, maxNameDist)
        p.select(col("name_a").as("__fn_a"), col("name_b").as("__fn_b"), col("dist"))
    }
    val crossName = blockCol match {
      case Some(bf) =>
        side("a")
          .join(namePairs,
            col(s"${nameCol}_a") === col("__fn_a") && col(s"${bf}_a") === col("__fblk"))
          .join(side("b"),
            col(s"${nameCol}_b") === col("__fn_b") && col(s"${bf}_b") === col("__fblk"))
      case None =>
        side("a")
          .join(namePairs, col(s"${nameCol}_a") === col("__fn_a"))
          .join(side("b"), col(s"${nameCol}_b") === col("__fn_b"))
    }
    val sameNameCond =
      col(s"${nameCol}_a") === col(s"${nameCol}_b") &&
        col(s"${idCol}_a") < col(s"${idCol}_b") &&
        blockCol.map(bf => col(s"${bf}_a") === col(s"${bf}_b")).getOrElse(lit(true))
    val sameName = side("a")
      .join(side("b"), sameNameCond)
      .withColumn("dist", lit(0))
    // id_a < id_b canonicalization for the cross-name pairs (name order
    // and id order can disagree)
    val crossCols: Seq[Column] =
      Seq(
        least(col(s"${idCol}_a"), col(s"${idCol}_b")).as("id_a"),
        greatest(col(s"${idCol}_a"), col(s"${idCol}_b")).as("id_b"),
        col("dist")) ++
        fieldCols.map { f =>
          when(col(s"${idCol}_a") < col(s"${idCol}_b"), col(s"${f}_a"))
            .otherwise(col(s"${f}_b")).as(s"${f}_a2")
        } ++ fieldCols.map { f =>
          when(col(s"${idCol}_a") < col(s"${idCol}_b"), col(s"${f}_b"))
            .otherwise(col(s"${f}_a")).as(s"${f}_b2")
        }
    val sameCols: Seq[Column] =
      Seq(
        col(s"${idCol}_a").as("id_a"),
        col(s"${idCol}_b").as("id_b"),
        col("dist")) ++
        fieldCols.map(f => col(s"${f}_a").as(s"${f}_a2")) ++
        fieldCols.map(f => col(s"${f}_b").as(s"${f}_b2"))
    crossName.select(crossCols: _*)
      .unionByName(sameName.select(sameCols: _*))
  }
}
