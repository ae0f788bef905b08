package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{RunScope, Tables}
import graft.operators.Curation
import graft.functions.TextAnalysis
import graft.RunScope.Pinning

/** Corpus-curation operators over the documents table: deterministic
  * (hash-threshold) sampling, weighted source mixing, sequence packing,
  * per-domain top-k. The sampling decision is the first 32 bits of a
  * salted md5 — reproducible in any engine, so every query here has a
  * value-exact DuckDB oracle replaying the identical arithmetic.
  */
object CurationQueries extends QueryGroup {

  /** The DuckDB twin of [[Curation.hashUnit]] for key column `k`. */
  private[queries] def hashUnitSql(k: String, seed: String): String =
    s"(('0x' || substring(md5(CAST($k AS VARCHAR) || ':$seed'), 1, 8))::BIGINT / 4294967296.0)"

  // Stratified deterministic sampling: per-language rates with a default.
  private val qC1 = Q(
    "q_c1_sample_stratified",
    s"""SELECT doc_id, lang
       |FROM documents
       |WHERE ${hashUnitSql("doc_id", "c1")} <
       |      (CASE lang WHEN 'en' THEN 1.0 WHEN 'fr' THEN 0.5
       |                 WHEN 'de' THEN 0.25 ELSE 0.1 END)
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Curation.stratifiedSample(
      Tables.load(s, dir, "documents"),
      keyCol = "doc_id", stratumCol = "lang",
      rates = Map("en" -> 1.0, "fr" -> 0.5, "de" -> 0.25),
      defaultRate = 0.1, seed = "c1")
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  // Weighted mixture: downsample to a 40/30/30 en/zh/de mix (no
  // upsampling — the scarcest stratum per its weight sets the scale; es
  // and fr carry no weight and are dropped). The oracle recomputes the
  // stratum counts, the binding scale and the per-stratum keep rates in
  // SQL, then applies the identical hash-threshold filter.
  private val qC2 = Q(
    "q_c2_mixture",
    s"""WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
       |w AS (SELECT * FROM (VALUES ('en', 0.4), ('zh', 0.3), ('de', 0.3)) AS t(lang, wt)),
       |sc AS (SELECT min(n / wt) AS scale FROM cnt JOIN w USING (lang)),
       |rates AS (
       |  SELECT lang, least(1.0, wt * scale / n) AS rate
       |  FROM cnt JOIN w USING (lang) CROSS JOIN sc)
       |SELECT d.doc_id, d.lang
       |FROM documents d JOIN rates r USING (lang)
       |WHERE ${hashUnitSql("d.doc_id", "mix")} < r.rate
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    Curation.mixture(
      Tables.load(s, dir, "documents"),
      keyCol = "doc_id", stratumCol = "lang",
      weights = Map("en" -> 0.4, "zh" -> 0.3, "de" -> 0.3), seed = "mix")
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  // Sequence packing (concat-then-chunk): documents in doc_id order form
  // one token stream cut into 1024-token packs; each doc reports the pack
  // it starts in and its offset there. The oracle is the naive global
  // window cumsum; the engine computes the same prefix sums two-level
  // (bucketed) so no single task ever holds the corpus.
  private val qC3 = Q(
    "q_c3_pack_sequences",
    """WITH t AS (
      |  SELECT doc_id,
      |         CASE WHEN trim(text) = '' THEN 0
      |              ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS tc
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, tc,
      |         coalesce(sum(tc) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      |  FROM t)
      |SELECT doc_id, CAST(tc AS INT) AS token_count,
      |       CAST(floor(cum / 1024) AS BIGINT) AS pack_id,
      |       CAST(cum % 1024 AS BIGINT) AS pack_offset
      |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("token_count"))
    Curation.packSequences(docs, "doc_id", "token_count", budget = 1024)
      .select("doc_id", "token_count", "pack_id", "pack_offset")
      .orderBy("doc_id")
  }

  // Per-domain top-k curation: the 3 highest-token-count docs per source
  // via the bounded-heap aggregate (map-side O(log k)); oracle is the
  // window-ranked form with the same (score desc, id asc) tie-break.
  private val qC4 = Q(
    "q_c4_domain_topk",
    """WITH scored AS (
      |  SELECT source, doc_id,
      |         CAST(len(regexp_extract_all(text,
      |           '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]+')) AS DOUBLE) AS score
      |  FROM documents),
      |ranked AS (
      |  SELECT source, doc_id, score,
      |         CAST(row_number() OVER (PARTITION BY source
      |           ORDER BY score DESC, doc_id) AS INT) AS rank
      |  FROM scored)
      |SELECT source, doc_id, score, rank FROM ranked
      |WHERE rank <= 3 ORDER BY source, rank""".stripMargin) { (s, dir) =>
    val scored = Tables.load(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        TextAnalysis.bpeIshTokenCount(col("text")).as("score"))
    Curation.topKPerGroup(scored, "source", "score", "doc_id", k = 3)
      .select("source", "doc_id", "score", "rank")
      .orderBy("source", "rank")
  }

  // Exact-k deterministic sample: the 100 hash-smallest documents, found
  // with the bounded-heap aggregate (map-side k-entry partials + a
  // broadcast semi join back) — the oracle states the equivalent
  // ORDER BY hash LIMIT form the engine avoids executing.
  private val qC5 = Q(
    "q_c5_sample_exact_k",
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang FROM documents
       |  ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':c5'), 1, 8))::BIGINT,
       |           doc_id
       |  LIMIT 100)
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Curation.sampleExactK(Tables.load(s, dir, "documents"), "doc_id", 100, "c5")
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  // Weighted exact-k sampling (Efraimidis-Spirakis A-ES): 150 docs drawn
  // with probability rising in n_chars, deterministically — the oracle
  // replays u^(1/w) and the (score desc, id asc) tie-break verbatim.
  //
  // pow() is not correctly rounded in either JVM libm or DuckDB's, so this
  // gate would be fragile if the rank-150 selection boundary sat within a
  // few ulps: a 1-ulp divergence between engines could flip membership.
  // The query therefore asserts IN-PLAN that the 150th and 151st scores
  // differ by more than 1e-12 — orders of magnitude above any libm
  // divergence (~1e-16 relative on (0,1) scores) and far below genuine
  // adjacent-rank gaps. If a reseed/data change ever lands the boundary
  // inside the margin, the query fails loudly instead of the oracle
  // silently flipping on another platform. The assertion lives in a
  // Filter (not a pruned-away projection) over a broadcast one-row frame.
  private val qC6 = Q(
    "q_c6_weighted_sample",
    s"""WITH s AS (
       |  SELECT doc_id, pow(${hashUnitSql("doc_id", "wsk")}, 1.0 / n_chars) AS score
       |  FROM documents WHERE n_chars > 0),
       |pick AS (SELECT doc_id FROM s ORDER BY score DESC, doc_id LIMIT 150)
       |SELECT d.doc_id, d.lang, d.n_chars
       |FROM documents d JOIN pick USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    val picked = Curation.weightedSampleK(
      docs, keyCol = "doc_id", weightCol = "n_chars", k = 150, seed = "wsk")
      .select("doc_id", "lang", "n_chars")
    val score = pow(
      Curation.hashUnit(col("doc_id"), "wsk"),
      lit(1.0) / col("n_chars").cast("double"))
    val boundary = docs
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), score.as("__score"))
      .orderBy(col("__score").desc, col("doc_id"))
      .limit(151)
      .withColumn("__rn",
        row_number().over(Window.orderBy(col("__score").desc, col("doc_id"))))
      .filter(col("__rn") >= 150)                     // rows ranked 150 and 151
      .agg((max("__score") - min("__score")).as("__margin"))
    picked
      .crossJoin(broadcast(boundary))
      .filter(assert_true(col("__margin") > 1e-12,
        lit("q_c6: rank-150 boundary within libm pow() divergence — reseed")).isNull)
      .drop("__margin")
      .orderBy("doc_id")
  }

  // Deterministic train/val/test split assignment. 0.75/0.125/0.125 are
  // exact binary fractions, so the cumulative boundaries (0.75, 0.875)
  // are bit-identical doubles in any engine — the oracle's CASE chain is
  // the same comparison on the same hash.
  private val qC7 = Q(
    "q_c7_split_assign",
    s"""SELECT doc_id,
       |       CASE WHEN ${hashUnitSql("doc_id", "split")} < 0.75 THEN 'train'
       |            WHEN ${hashUnitSql("doc_id", "split")} < 0.875 THEN 'val'
       |            ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Curation.assignSplit(
      Tables.load(s, dir, "documents"),
      keyCol = "doc_id",
      splits = Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125),
      seed = "split")
      .select("doc_id", "split")
      .orderBy("doc_id")
  }

  // Leakage-safe split: the split hash keys on the near-dup CLUSTER id,
  // so near-duplicates can never straddle train/test (doc-id keying leaks
  // near-copies of test docs into train). Oracle recomputes the clusters
  // with the recursive CTE and applies the identical hash CASE to the
  // cluster id.
  private val qC8 = Q(
    "q_c8_leakage_safe_split",
    s"""WITH RECURSIVE pairs AS (${DedupQueries.pairsOracle}),
       |${DedupQueries.pairsClosureSql},
       |clustered AS (
       |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN comp c ON c.u = d.doc_id)
       |SELECT doc_id, cluster_id,
       |       CASE WHEN ${hashUnitSql("cluster_id", "lsplit")} < 0.75 THEN 'train'
       |            WHEN ${hashUnitSql("cluster_id", "lsplit")} < 0.875 THEN 'val'
       |            ELSE 'test' END AS split
       |FROM clustered ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    val pairs = graft.operators.NearDup.minHashLshPairs(docs, "doc_id", "text",
      k = 3, numPerm = 64, bands = 16, threshold = 0.8)
    Curation.leakageSafeSplit(
      docs, "doc_id", pairs,
      splits = Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125),
      seed = "lsplit")
      .select("doc_id", "cluster_id", "split")
      .orderBy("doc_id")
  }

  // Per-group exact-k: the 10 hash-smallest documents of EACH source —
  // fixed per-stratum quotas (q_c1's per-group RATES can't promise a
  // count) via the same bounded-heap + broadcast-semi-join shape as
  // q_c5; the oracle states the per-partition row_number form the
  // engine avoids running.
  private val qC9 = Q(
    "q_c9_group_exact_k",
    s"""SELECT doc_id, source, lang FROM (
       |  SELECT doc_id, source, lang,
       |         row_number() OVER (PARTITION BY source
       |           ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':c9'), 1, 8))::BIGINT,
       |                    doc_id) AS rn
       |  FROM documents)
       |WHERE rn <= 10 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Curation.sampleExactKPerGroup(
      Tables.load(s, dir, "documents"), "source", "doc_id", k = 10, seed = "c9")
      .select("doc_id", "source", "lang")
      .orderBy("doc_id")
  }

  // CCNet-style perplexity bucketing (Curation.perplexityBuckets):
  // every doc scored by the corpus unigram LM (q_t8's exact Laplace
  // form), then cut into 3 equal-count quality tiers by rank — bucket 1
  // = most fluent, the head/middle/tail split CCNet trains on. The rank
  // compares round(score, 6) with doc_id ties so a boundary doc cannot
  // flip buckets on last-bit float noise; every doc's tier is on the
  // gate, not just the counts.
  private val qC12 = Q(
    "q_c12_perplexity_buckets",
    s"""WITH t AS (
      |${TextQueries.docTokensSql}
      |terms AS (SELECT doc_id, unnest(tk) AS term FROM t),
      |counts AS (SELECT term, count(*) AS c FROM terms GROUP BY term),
      |totals AS (SELECT sum(c) AS tt, count(*) AS v FROM counts),
      |s AS (SELECT doc_id,
      |             CAST(count(*) AS INT) AS n_tokens,
      |             avg(ln(CAST(c + 1 AS DOUBLE) / (tt + v))) AS mean_logprob
      |      FROM terms JOIN counts USING (term) CROSS JOIN totals
      |      GROUP BY doc_id)
      |SELECT doc_id, n_tokens, mean_logprob,
      |       CAST(ntile(3) OVER (
      |         ORDER BY round(mean_logprob, 6) DESC, doc_id) AS INT) AS bucket
      |FROM s ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Curation.perplexityBuckets(
      Tables.load(s, dir, "documents"), "doc_id", "text", nBuckets = 3)
      .select(col("doc_id"), col("n_tokens"), col("mean_logprob"),
        col("bucket").cast("int").as("bucket"))
      .orderBy("doc_id")
  }

  // DSIR importance resampling (Xie et al. 2023): keep the 50 raw docs
  // whose hashed-unigram features are most target-like, target = src1.
  // Both corpus histograms reduce to 256 broadcastable rows fit on the
  // FULL corpora (no driver sample); each bucket's log-ratio is ONE ln
  // over an exact-integer-ratio argument so both engines hand the same
  // double to libm; the cut ranks round(log_w, 6) with doc_id ties —
  // the q_e19 argmax discipline.
  private val qC10 = Q(
    "q_c10_dsir_select",
    """WITH tok AS (
      |  SELECT doc_id, source, unnest(
      |    CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |         ELSE string_split_regex(lower(trim(text)), '\s+') END) AS tok
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, source,
      |         ('0x' || substring(md5(tok), 1, 15))::BIGINT % 256 AS bucket
      |  FROM tok),
      |dc AS (SELECT doc_id, bucket, count(*) AS c FROM b WHERE source <> 'src1' GROUP BY 1, 2),
      |th AS (SELECT bucket, count(*) AS ct FROM b WHERE source = 'src1' GROUP BY 1),
      |rh AS (SELECT bucket, sum(c) AS cr FROM dc GROUP BY 1),
      |nt AS (SELECT coalesce(sum(ct), 0) AS nt FROM th),
      |nr AS (SELECT coalesce(sum(cr), 0) AS nr FROM rh),
      |rat AS (
      |  SELECT coalesce(rh.bucket, th.bucket) AS bucket,
      |         ln((CAST(coalesce(th.ct, 0) + 1 AS DOUBLE) * (nr.nr + 256)) /
      |            (CAST(coalesce(rh.cr, 0) + 1 AS DOUBLE) * (nt.nt + 256))) AS log_ratio
      |  FROM rh FULL OUTER JOIN th ON rh.bucket = th.bucket, nt, nr),
      |w AS (
      |  SELECT dc.doc_id, CAST(sum(dc.c) AS INT) AS n_tokens,
      |         sum(dc.c * rat.log_ratio) AS log_w
      |  FROM dc JOIN rat USING (bucket) GROUP BY 1)
      |SELECT doc_id, n_tokens, log_w
      |FROM w ORDER BY round(log_w, 6) DESC, doc_id LIMIT 50""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    graft.operators.Dsir.selectTopK(
      raw = docs.where(col("source") =!= "src1"),
      target = docs.where(col("source") === "src1"),
      docIdCol = "doc_id", textCol = "text", numBuckets = 256, k = 50)
  }

  // Temperature-scaled mixture (α = 0.5): per-source integer quotas
  // floor(300·√n_s / Σ√n_t) filled with each source's hash-smallest
  // docs. √ is IEEE-correctly-rounded and the normalizer is rounded to
  // 6 decimals before use, so the quota INTEGERS are engine-exact; the
  // oracle replays quota arithmetic + the rank cut verbatim.
  private val qC11 = Q(
    "q_c11_temperature_mixture",
    s"""WITH sizes AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
       |z AS (SELECT round(sum(sqrt(CAST(n AS DOUBLE))), 6) AS z FROM sizes),
       |q AS (SELECT source,
       |             least(n, CAST(floor(300 * sqrt(CAST(n AS DOUBLE)) / z.z) AS BIGINT)) AS quota
       |      FROM sizes, z),
       |r AS (SELECT doc_id, source,
       |             row_number() OVER (PARTITION BY source
       |               ORDER BY ${hashUnitSql("doc_id", "c11")}, doc_id) AS rn
       |      FROM documents)
       |SELECT r.doc_id, r.source FROM r JOIN q USING (source)
       |WHERE rn <= q.quota ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Curation.temperatureMixture(
      Tables.load(s, dir, "documents"), "source", "doc_id",
      totalTarget = 300L, seed = "c11")
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  // Trained model-based quality filtering (QualityClassifier): 3
  // full-batch gradient-descent steps of logistic regression from the
  // zero model — label "is English", features = 8 md5-bucket hashed-
  // unigram ratios + ln(1 + token count) — then scan-side scoring with
  // the weights as plan literals. The oracle replays TRAINING, not just
  // scoring: each step's gradient sums are exact DECIMAL(38,9) folds of
  // 9-decimal-rounded per-doc terms (addition-order-independent, so
  // shuffle order can't drift the update) and each new weight rounds to
  // 10 decimals before entering the next step's CTE — the q_v14 Lloyd
  // unroll brought to gradient descent.
  private val qcB = 8
  private[queries] def qcZ(w: String): String =
    s"$w.b + " + (0 until qcB).map(j => s"$w.w$j * x$j").mkString(" + ") +
      s" + $w.wl * xl"
  private val qcSteps = (1 to 3).map { s =>
    val gsums = (0 until qcB).map(j =>
      s"sum(CAST(round(x$j * (y - p), 9) AS DECIMAL(38,9))) AS g$j").mkString(",\n       |       ")
    val wupds = (0 until qcB).map(j =>
      s"round(w.w$j + 0.5 * (CAST(g.g$j AS DOUBLE) / g.n), 10) AS w$j").mkString(",\n       |       ")
    s"""p$s AS (SELECT f.*, 1.0 / (1.0 + exp(-(${qcZ(s"wt${s - 1}")}))) AS p
       |        FROM f CROSS JOIN wt${s - 1}),
       |g$s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |       $gsums,
       |       sum(CAST(round(xl * (y - p), 9) AS DECIMAL(38,9))) AS gl,
       |       sum(CAST(round(y - p, 9) AS DECIMAL(38,9))) AS gb
       |       FROM p$s),
       |wt$s AS (SELECT
       |       $wupds,
       |       round(w.wl + 0.5 * (CAST(g.gl AS DOUBLE) / g.n), 10) AS wl,
       |       round(w.b + 0.5 * (CAST(g.gb AS DOUBLE) / g.n), 10) AS b
       |       FROM wt${s - 1} w CROSS JOIN g$s g)""".stripMargin
  }.mkString(",\n")

  /** The shared training unroll: feature CTEs (t/n/tok/bc/f/wt0) + the
    * three GD steps. Every classifier gate (q_c13 train+score, q_c14
    * eval, q_c15 calibration, q_c16 slices, q_st16's oracle) prefixes
    * this SAME string, so a tokenizer/bucket/label change edits ONE
    * place — a divergent copy would silently train a different model
    * per gate.
    */
  private[queries] val qcTrainCtes: String =
    s"""t AS (
       |  SELECT doc_id, lang,
       |         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
       |              ELSE string_split_regex(lower(trim(text)), '\\s+') END AS tk
       |  FROM documents),
       |n AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
       |             CAST(len(tk) AS DOUBLE) AS nt
       |      FROM t),
       |tok AS (SELECT doc_id, unnest(tk) AS tok FROM t),
       |bc AS (SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT % $qcB AS b,
       |              count(*) AS c
       |       FROM tok GROUP BY 1, 2),
       |f AS (SELECT n.doc_id, n.y,
       |        ${(0 until qcB).map(j =>
                  s"CAST(coalesce(sum(CASE WHEN b = $j THEN c END), 0) AS DOUBLE) / greatest(n.nt, 1.0) AS x$j")
                  .mkString(",\n       |        ")},
       |        ln(1.0 + n.nt) AS xl
       |      FROM n LEFT JOIN bc ON n.doc_id = bc.doc_id
       |      GROUP BY n.doc_id, n.y, n.nt),
       |wt0 AS (SELECT ${(0 until qcB).map(j => s"0.0 AS w$j").mkString(", ")},
       |               0.0 AS wl, 0.0 AS b),
       |$qcSteps""".stripMargin

  /** Oracle fragment (margin text, after [[qcTrainCtes]]): the trained
    * scores `sc`, the calibration split `cal` (doc_id % 5 = 0) and its
    * split-conformal threshold `q.qhat` at coverage 0.9.
    */
  private[queries] val conformalThresholdSql =
    s"""sc AS (SELECT f.doc_id, f.y,
       |              round(1.0 / (1.0 + exp(-(${qcZ("wt3")}))), 6) AS score
       |       FROM f CROSS JOIN wt3),
       |cal AS (SELECT CASE WHEN y = 1.0 THEN 1.0 - score ELSE score END AS r,
       |               score AS s, y
       |        FROM sc WHERE doc_id % 5 = 0),
       |nk AS (SELECT CAST(count(*) AS BIGINT) AS n_cal,
       |              CAST(ceil((count(*) + 1) * 0.9) AS BIGINT) AS k FROM cal),
       |cum AS (SELECT r, sum(c) OVER (ORDER BY r, s, y
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
       |        FROM (SELECT r, s, y, count(*) AS c FROM cal GROUP BY 1, 2, 3)),
       |q AS (SELECT min(r) AS qhat FROM cum CROSS JOIN nk WHERE cm >= nk.k)"""

  /** Scala twin of [[qcTrainCtes]]: train on the corpus and return the
    * PINNED scored frame (doc_id, y, score, pred).
    */
  private[queries] def qcScoredPinned(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
      RunScope.scope("qcScoredPinned") {
    val docs = Tables.load(s, dir, "documents")
    val feats = graft.operators.QualityClassifier.features(
      docs, "doc_id", "text", col("lang") === "en", numBuckets = qcB)
      .pin() // scanned once per GD step + once to score
    val model = graft.operators.QualityClassifier.fit(
      feats, numBuckets = qcB, steps = 3, learningRate = 0.5)
    val scored = graft.operators.QualityClassifier.score(feats, "doc_id", model)
      .join(feats.select(col("doc_id"), col("y")), "doc_id")
    scored.pin()
  }

  private[queries] val qC13 = Q(
    "q_c13_quality_classifier",
    s"""WITH $qcTrainCtes
       |SELECT doc_id, score,
       |       CAST(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS INT) AS pred
       |FROM (SELECT f.doc_id,
       |             round(1.0 / (1.0 + exp(-(${qcZ("wt3")}))), 6) AS score
       |      FROM f CROSS JOIN wt3)
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    qcScoredPinned(s, dir).select("doc_id", "score", "pred").orderBy("doc_id")
  }

  // Classifier EVALUATION (operators.MlEval.binaryMetrics) over q_c13's
  // trained model: exact Mann–Whitney AUC via the integer pair-count
  // identity 2U = Σ pc·(2·negBelow + nc) — no rank doubles, no pair
  // join — plus thresholded tp/fp/fn/tn → accuracy/precision/recall/F1
  // and the Brier score. The oracle replays the FULL training unroll
  // (the q_c13 CTEs verbatim) and then the identical integer identity,
  // so train → score → evaluate is gated end to end.
  private val qC14 = Q(
    "q_c14_classifier_eval",
    s"""WITH $qcTrainCtes,
       |sc AS (SELECT f.doc_id, f.y,
       |              round(1.0 / (1.0 + exp(-(${qcZ("wt3")}))), 6) AS score
       |       FROM f CROSS JOIN wt3),
       |ps AS (SELECT score AS s,
       |              sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS pc,
       |              sum(CASE WHEN y = 1.0 THEN 0 ELSE 1 END) AS nc
       |       FROM sc GROUP BY 1),
       |cum AS (SELECT s, pc, nc,
       |               coalesce(sum(nc) OVER (ORDER BY s
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
       |        FROM ps),
       |a AS (SELECT sum(pc) AS p, sum(nc) AS nn,
       |             sum(pc * (2 * neg_below + nc)) AS u2,
       |             sum(CASE WHEN s >= 0.5 THEN pc ELSE 0 END) AS tp,
       |             sum(CASE WHEN s >= 0.5 THEN nc ELSE 0 END) AS fp,
       |             sum(CASE WHEN s < 0.5 THEN pc ELSE 0 END) AS fn,
       |             sum(CASE WHEN s < 0.5 THEN nc ELSE 0 END) AS tn,
       |             sum(pc * (s - 1) * (s - 1) + nc * s * s) AS sqerr
       |      FROM cum)
       |SELECT CAST(p + nn AS BIGINT) AS n, CAST(p AS BIGINT) AS n_pos,
       |       CAST(nn AS BIGINT) AS n_neg,
       |       CASE WHEN p > 0 AND nn > 0
       |            THEN CAST(u2 AS DOUBLE) / (2.0 * p * nn) END AS auc,
       |       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       |       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
       |       CAST(tp + tn AS DOUBLE) / (p + nn) AS accuracy,
       |       CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
       |       CASE WHEN p > 0 THEN CAST(tp AS DOUBLE) / p END AS recall,
       |       CASE WHEN 2 * tp + fp + fn > 0
       |            THEN 2.0 * tp / (2 * tp + fp + fn) END AS f1,
       |       sqerr / (p + nn) AS brier
       |FROM a""".stripMargin) { (s, dir) =>
    graft.operators.MlEval.binaryMetrics(qcScoredPinned(s, dir), "y", "score")
  }

  // Reliability diagram + ECE (operators.MlEval.calibration) over the
  // q_c13 model: fixed-width score bins (deterministic under ties,
  // unlike ntile), per-bin confidence vs empirical positive rate, and
  // the single ECE on every row. Mean scores sum through DECIMAL(38,6)
  // — exact on the round(·,6) scores — so both engines bin and average
  // identically; the oracle replays the full training unroll first.
  private val qC15 = Q(
    "q_c15_calibration",
    s"""WITH $qcTrainCtes,
       |sc AS (SELECT f.doc_id, f.y,
       |              round(1.0 / (1.0 + exp(-(${qcZ("wt3")}))), 6) AS score
       |       FROM f CROSS JOIN wt3),
       |bins AS (
       |  SELECT least(CAST(floor(score * 10) AS INT), 9) AS bin,
       |         CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(CAST(score AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS mean_score,
       |         CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS pos_rate
       |  FROM sc GROUP BY 1),
       |g AS (SELECT bin, n_docs, mean_score, pos_rate,
       |             abs(pos_rate - mean_score) AS abs_gap
       |      FROM bins)
       |SELECT bin, n_docs, mean_score, pos_rate, abs_gap,
       |       sum(abs_gap * n_docs) OVER () / sum(n_docs) OVER () AS ece
       |FROM g ORDER BY bin""".stripMargin) { (s, dir) =>
    graft.operators.MlEval.calibration(qcScoredPinned(s, dir), "y", "score",
      nBins = 10).orderBy("bin")
  }

  // Per-slice model monitoring (operators.MlEval.binaryMetricsBy): the
  // q_c14 metrics PARTITIONED BY document source — a score that works
  // globally but fails on one slice is the classic silent model defect.
  // Same exact integer Mann–Whitney identity, per-score aggregate keyed
  // by (slice, score), cumulative window partitioned by slice.
  private val qC16 = Q(
    "q_c16_sliced_eval",
    s"""WITH $qcTrainCtes,
       |sc AS (SELECT f.doc_id, f.y, d.source,
       |              round(1.0 / (1.0 + exp(-(${qcZ("wt3")}))), 6) AS score
       |       FROM f CROSS JOIN wt3 JOIN documents d ON d.doc_id = f.doc_id),
       |ps AS (SELECT source AS slice, score AS s,
       |              sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS pc,
       |              sum(CASE WHEN y = 1.0 THEN 0 ELSE 1 END) AS nc
       |       FROM sc GROUP BY 1, 2),
       |cum AS (SELECT slice, s, pc, nc,
       |               coalesce(sum(nc) OVER (PARTITION BY slice ORDER BY s
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
       |        FROM ps),
       |a AS (SELECT slice, sum(pc) AS p, sum(nc) AS nn,
       |             sum(pc * (2 * neg_below + nc)) AS u2,
       |             sum(CASE WHEN s >= 0.5 THEN pc ELSE 0 END) AS tp,
       |             sum(CASE WHEN s >= 0.5 THEN nc ELSE 0 END) AS fp,
       |             sum(CASE WHEN s < 0.5 THEN pc ELSE 0 END) AS fn,
       |             sum(CASE WHEN s < 0.5 THEN nc ELSE 0 END) AS tn
       |      FROM cum GROUP BY slice)
       |SELECT slice, CAST(p + nn AS BIGINT) AS n, CAST(p AS BIGINT) AS n_pos,
       |       CAST(nn AS BIGINT) AS n_neg,
       |       CASE WHEN p > 0 AND nn > 0
       |            THEN CAST(u2 AS DOUBLE) / (2.0 * p * nn) END AS auc,
       |       CAST(tp + tn AS DOUBLE) / (p + nn) AS accuracy,
       |       CASE WHEN 2 * tp + fp + fn > 0
       |            THEN 2.0 * tp / (2 * tp + fp + fn) END AS f1
       |FROM a ORDER BY slice""".stripMargin) { (s, dir) =>
    val scored = qcScoredPinned(s, dir).join(
      Tables.load(s, dir, "documents").select(col("doc_id"), col("source")),
      "doc_id")
    graft.operators.MlEval.binaryMetricsBy(scored, "source", "y", "score")
      .orderBy("slice")
  }

  // Post-hoc temperature scaling (MlEval.temperatureScale): the fix
  // companion to q_c15's calibration measurement — fit the scalar T
  // recalibrating scores as σ(logit(s)/T) by 3 GD steps on the NLL,
  // with the q_c13 training-determinism discipline (9-decimal rounded
  // gradient terms summed as DECIMAL(38,9), T rounded to 10 decimals
  // engine-side per step). The oracle replays model training AND the
  // temperature fit as chained CTEs; `improved` is reported, not
  // asserted (fixed-step GD may overshoot on a calibrated model).
  private val qC17 = Q(
    "q_c17_temperature_scaling",
    s"""WITH $qcTrainCtes,
       |sc AS (SELECT f.doc_id, f.y,
       |              round(1.0 / (1.0 + exp(-(${qcZ("wt3")}))), 6) AS score
       |       FROM f CROSS JOIN wt3),
       |zz AS (SELECT y, ln(scc / (1 - scc)) AS z
       |       FROM (SELECT y, least(greatest(score, 1e-6), 1 - 1e-6) AS scc
       |             FROM sc)),
       |ts0 AS (SELECT 1.0 AS t),
       |${(1 to 3).map { k =>
           s"""tp$k AS (SELECT y, z, 1.0 / (1.0 + exp(-(z / t))) AS p
              |        FROM zz CROSS JOIN ts${k - 1}),
              |tg$k AS (SELECT sum(CAST(round((p - y) * z, 9) AS DECIMAL(38,9))) AS g,
              |               CAST(count(*) AS DOUBLE) AS n
              |        FROM tp$k),
              |ts$k AS (SELECT round(t + 0.5 * (CAST(g AS DOUBLE) / n) / (t * t), 10) AS t
              |        FROM ts${k - 1} CROSS JOIN tg$k)""".stripMargin
         }.mkString(",\n")},
       |nb AS (SELECT -sum(y * ln(p) + (1 - y) * ln(1 - p)) AS nll
       |       FROM (SELECT y, 1.0 / (1.0 + exp(-(z / 1.0))) AS p FROM zz)),
       |na AS (SELECT -sum(y * ln(p) + (1 - y) * ln(1 - p)) AS nll
       |       FROM (SELECT y, 1.0 / (1.0 + exp(-(z / t))) AS p
       |             FROM zz CROSS JOIN ts3))
       |SELECT ts3.t AS t_fitted,
       |       (SELECT CAST(count(*) AS BIGINT) FROM zz) AS n,
       |       nb.nll AS nll_before, na.nll AS nll_after,
       |       na.nll <= nb.nll AS improved
       |FROM ts3 CROSS JOIN nb CROSS JOIN na""".stripMargin) { (s, dir) =>
    graft.operators.MlEval.temperatureScale(qcScoredPinned(s, dir), "y", "score")
  }

  // ROC / PR curve points (operators.MlEval.rocPoints): the threshold
  // sweep q_c14's single row summarizes — one row per distinct
  // (6-decimal) score with the "positive when score ≥ s" confusion
  // counts and tpr/fpr/precision, ordered score-descending so the rows
  // trace the ROC curve. Exact cumulative integers over the
  // distinct-score frame; the oracle replays the full q_c13 training
  // unroll plus the identical window arithmetic. Trapezoid integration
  // of these points equals q_c14's exact Mann–Whitney AUC (spec-pinned).
  private val qC18 = Q(
    "q_c18_roc_points",
    s"""WITH $qcTrainCtes,
       |sc AS (SELECT f.doc_id, f.y,
       |              round(1.0 / (1.0 + exp(-(${qcZ("wt3")}))), 6) AS score
       |       FROM f CROSS JOIN wt3),
       |ps AS (SELECT score AS s,
       |              sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS pc,
       |              sum(CASE WHEN y = 1.0 THEN 0 ELSE 1 END) AS nc
       |       FROM sc GROUP BY 1),
       |c AS (SELECT s,
       |             sum(pc) OVER (ORDER BY s DESC
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
       |             sum(nc) OVER (ORDER BY s DESC
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
       |             sum(pc) OVER () AS p, sum(nc) OVER () AS n
       |      FROM ps)
       |SELECT s, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       |       CASE WHEN p > 0 THEN CAST(tp AS DOUBLE) / p END AS tpr,
       |       CASE WHEN n > 0 THEN CAST(fp AS DOUBLE) / n END AS fpr,
       |       CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END AS precision
       |FROM c ORDER BY s DESC""".stripMargin) { (s, dir) =>
    val scored = qcScoredPinned(s, dir)
    graft.operators.MlEval.rocPoints(scored, "y", "score")
      .pin()
  }

  // Average precision (operators.MlEval.averagePrecision): the PR-curve
  // summary in the step-wise form AP = Σ ΔR·P (Davis & Goadrich 2006 —
  // linear PR interpolation is biased, so no trapezoid), every term a
  // ratio of exact integers over the same distinct-score frame as
  // q_c18. Oracle = the full q_c13 training unroll + identical window
  // arithmetic; the hand-case and one-class NULL live in MlEvalSpec.
  private val qC19 = Q(
    "q_c19_average_precision",
    s"""WITH $qcTrainCtes,
       |sc AS (SELECT f.doc_id, f.y,
       |              round(1.0 / (1.0 + exp(-(${qcZ("wt3")}))), 6) AS score
       |       FROM f CROSS JOIN wt3),
       |ps AS (SELECT score AS s,
       |              sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS pc,
       |              sum(CASE WHEN y = 1.0 THEN 0 ELSE 1 END) AS nc
       |       FROM sc GROUP BY 1),
       |c AS (SELECT s, pc, nc,
       |             sum(pc) OVER (ORDER BY s DESC
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
       |             sum(nc) OVER (ORDER BY s DESC
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
       |      FROM ps)
       |SELECT CAST(sum(pc) AS BIGINT) AS n_pos,
       |       CAST(sum(nc) AS BIGINT) AS n_neg,
       |       CASE WHEN sum(pc) > 0
       |            THEN sum(CAST(pc AS DOUBLE) * tp / (tp + fp)) / sum(pc)
       |       END AS average_precision
       |FROM c""".stripMargin) { (s, dir) =>
    val scored = qcScoredPinned(s, dir)
    graft.operators.MlEval.averagePrecision(scored, "y", "score")
      .pin()
  }

  // Split-conformal prediction sets (operators.MlEval.splitConformal):
  // the distribution-free uncertainty layer over the trained classifier
  // — calibration split doc_id % 5 = 0, true-class nonconformity ranked
  // under (r, s, y), threshold q̂ at ⌈(n+1)·0.9⌉, prediction-set
  // membership and coverage measured on the rest. The oracle replays
  // the full training unroll + the identical rank/threshold/coverage
  // arithmetic; the hand-computed threshold and the vacuous small-n
  // case live in MlEvalSpec.
  private val qC20 = Q(
    "q_c20_conformal_sets",
    s"""WITH $qcTrainCtes,
       |$conformalThresholdSql,
       |ev AS (SELECT y, score AS s FROM sc WHERE doc_id % 5 <> 0)
       |SELECT nk.n_cal, nk.k, q.qhat,
       |       CAST(count(*) AS BIGINT) AS n_eval,
       |       CAST(sum(CASE WHEN q.qhat IS NULL THEN 1
       |                WHEN (CASE WHEN ev.y = 1.0 THEN 1.0 - ev.s ELSE ev.s END)
       |                     <= q.qhat THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
       |       CAST(sum(CASE WHEN q.qhat IS NULL THEN 1
       |                WHEN (CASE WHEN ev.y = 1.0 THEN 1.0 - ev.s ELSE ev.s END)
       |                     <= q.qhat THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
       |         AS coverage,
       |       CAST(sum((CASE WHEN q.qhat IS NULL THEN 1
       |                  WHEN 1.0 - ev.s <= q.qhat THEN 1 ELSE 0 END)
       |               + (CASE WHEN q.qhat IS NULL THEN 1
       |                  WHEN ev.s <= q.qhat THEN 1 ELSE 0 END)) AS DOUBLE)
       |         / count(*) AS avg_set_size
       |FROM ev CROSS JOIN nk CROSS JOIN q
       |GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
    val scored = qcScoredPinned(s, dir)
    graft.operators.MlEval.splitConformal(
      scored, "y", "score", col("doc_id") % 5 === 0, alpha = 0.1)
      .pin()
  }

  // Isotonic calibration (operators.MlEval.isotonicCalibration): the
  // nonparametric companion to q_c17's temperature scaling — the
  // monotone step fit to the per-bin positive rates via the MINIMAX
  // identity (≡ pool-adjacent-violators exactly, Barlow et al. 1972),
  // computed as one B³ self-join over the prefix-sum bin frame instead
  // of a sequential pooling loop. Every segment mean is a ratio of
  // exact integers, so the oracle replays the identical triple join;
  // the in-engine REQUIRE pins monotonicity, the spec pins equality
  // with an independent driver-side PAV on random profiles.
  private val qC21 = Q(
    "q_c21_isotonic_calibration",
    s"""WITH $qcTrainCtes,
       |sc AS (SELECT f.doc_id, f.y,
       |              round(1.0 / (1.0 + exp(-(${qcZ("wt3")}))), 6) AS score
       |       FROM f CROSS JOIN wt3),
       |bins AS (
       |  SELECT least(CAST(floor(score * 10) AS INT), 9) AS bin,
       |         count(*) AS n,
       |         sum(CAST(score AS DECIMAL(38,6))) AS ss,
       |         sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS pos
       |  FROM sc GROUP BY 1),
       |pre AS (
       |  SELECT bin, n, pos, ss,
       |         sum(n) OVER (ORDER BY bin
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
       |         sum(pos) OVER (ORDER BY bin
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
       |  FROM bins),
       |segs AS (
       |  SELECT j.bin AS bj, k.bin AS bk,
       |         CAST(k.cp - (j.cp - j.pos) AS DOUBLE)
       |           / (k.cn - (j.cn - j.n)) AS m
       |  FROM pre j JOIN pre k ON j.bin <= k.bin),
       |inner_ AS (
       |  SELECT i.bin, s.bj, min(s.m) AS innermin
       |  FROM pre i JOIN segs s ON s.bj <= i.bin AND i.bin <= s.bk
       |  GROUP BY 1, 2),
       |fit AS (SELECT bin, max(innermin) AS iso FROM inner_ GROUP BY 1)
       |SELECT pre.bin, CAST(pre.n AS BIGINT) AS n_docs,
       |       CAST(pre.ss AS DOUBLE) / pre.n AS mean_score,
       |       CAST(pre.pos AS DOUBLE) / pre.n AS pos_rate,
       |       fit.iso AS iso_fitted
       |FROM pre JOIN fit ON fit.bin = pre.bin
       |ORDER BY pre.bin""".stripMargin) { (s, dir) =>
    val scored = qcScoredPinned(s, dir)
    val out = graft.operators.MlEval
      .isotonicCalibration(scored, "y", "score", nBins = 10)
      .orderBy("bin")
      .pin()
    val fits = out.select("iso_fitted").collect().map(_.getDouble(0))
    fits.sliding(2).foreach {
      case Array(a, b) => require(a <= b,
        s"q_c21: isotonic fit must be nondecreasing, got $a then $b")
      case _ => ()
    }
    out
  }

  /** The q_c22 Naive-Bayes oracle CTE chain (tokens → counts →
    * smoothed DECIMAL(18,9) model → per-doc decimal sums) — shared with
    * q_c24, which extends it with the confident-learning counting.
    */
  private val nbWithBody: String =
    """WITH t AS (
      |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
      |         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |              ELSE string_split_regex(lower(trim(text)), '\s+') END AS tk
      |  FROM documents),
      |tok AS (SELECT doc_id, y, unnest(tk) AS token FROM t),
      |ct AS (SELECT token,
      |              sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS c0,
      |              sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS c1
      |       FROM tok GROUP BY 1),
      |st AS (SELECT sum(c0) AS t0, sum(c1) AS t1, count(*) AS v FROM ct),
      |dc AS (SELECT sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS n1,
      |              count(*) AS n FROM t),
      |pr AS (SELECT
      |    CAST(round(ln(CAST(n - n1 AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS DECIMAL(18,9)) AS prior0,
      |    CAST(round(ln(CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS DECIMAL(18,9)) AS prior1,
      |    CAST(round(ln(1.0 / CAST(t0 + v AS DOUBLE)), 9) AS DECIMAL(18,9)) AS def0,
      |    CAST(round(ln(1.0 / CAST(t1 + v AS DOUBLE)), 9) AS DECIMAL(18,9)) AS def1
      |  FROM st CROSS JOIN dc),
      |m AS (SELECT token,
      |    CAST(round(ln(CAST(c0 + 1 AS DOUBLE) / CAST(t0 + v AS DOUBLE)), 9) AS DECIMAL(18,9)) AS ll0,
      |    CAST(round(ln(CAST(c1 + 1 AS DOUBLE) / CAST(t1 + v AS DOUBLE)), 9) AS DECIMAL(18,9)) AS ll1
      |  FROM ct CROSS JOIN st),
      |ds AS (SELECT tok.doc_id,
      |              sum(coalesce(m.ll0, pr.def0)) AS s0a,
      |              sum(coalesce(m.ll1, pr.def1)) AS s1a
      |       FROM tok LEFT JOIN m USING (token) CROSS JOIN pr
      |       GROUP BY 1)""".stripMargin

  // Multinomial Naive Bayes (NaiveBayes.train/score, McCallum & Nigam
  // 1998): the COUNT-based classifier next to q_c13's gradient-trained
  // logistic — training is one explode + one token-keyed pivot
  // aggregate (no iterations), the model is vocabulary-bounded, and
  // every log-likelihood ships quantized to DECIMAL(18,9) so per-doc
  // score sums are exact and a prediction can never flip with
  // partitioning. The oracle replays counts, smoothing, priors, the
  // unseen-token default, and every per-doc decimal sum; same
  // lang='en' label rule as the q_c13 family.
  private[queries] val qC22 = Q(
    "q_c22_naive_bayes",
    s"""$nbWithBody
      |SELECT t.doc_id,
      |       CAST(coalesce(ds.s0a, CAST(0 AS DECIMAL(18,9))) + pr.prior0 AS DOUBLE) AS s0,
      |       CAST(coalesce(ds.s1a, CAST(0 AS DECIMAL(18,9))) + pr.prior1 AS DOUBLE) AS s1,
      |       round(CAST((coalesce(ds.s1a, CAST(0 AS DECIMAL(18,9))) + pr.prior1)
      |           - (coalesce(ds.s0a, CAST(0 AS DECIMAL(18,9))) + pr.prior0) AS DOUBLE), 6) AS margin,
      |       CAST(CASE WHEN coalesce(ds.s1a, CAST(0 AS DECIMAL(18,9))) + pr.prior1
      |                   >= coalesce(ds.s0a, CAST(0 AS DECIMAL(18,9))) + pr.prior0
      |            THEN 1 ELSE 0 END AS INT) AS pred
      |FROM t LEFT JOIN ds ON t.doc_id = ds.doc_id CROSS JOIN pr
      |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
      .withColumn("y", (col("lang") === "en").cast("int"))
    val (model, stats) = graft.operators.NaiveBayes.train(docs, "doc_id", "text", "y")
    // pin the scored frame so the model artifacts free with the query
    graft.operators.NaiveBayes.score(docs, "doc_id", "text", model, stats)
      .orderBy("doc_id")
      .pin()
  }

  // χ² feature selection (FeatureSelection.chiSquareTokens, Yang &
  // Pedersen 1997): rank vocabulary by presence-vs-label association —
  // the pre-training feature cut before q_c13/q_c22 ever run. One
  // explode+distinct to doc-token presence, ONE token-keyed aggregate
  // to the vocabulary-bounded contingency frame; (ad−bc) stays exact
  // BIGINT, the one division runs on identically-ordered double
  // products; degenerate tokens (denominator 0) excluded, top-50 under
  // the deterministic (χ² desc, token asc) order.
  private val qC23 = Q(
    "q_c23_chi2_features",
    """WITH t AS (
      |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
      |         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |              ELSE string_split_regex(lower(trim(text)), '\s+') END AS tk
      |  FROM documents),
      |pres AS (SELECT DISTINCT doc_id, y, unnest(tk) AS token FROM t),
      |ct AS (SELECT token,
      |              sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS a,
      |              sum(CASE WHEN y = 1 THEN 0 ELSE 1 END) AS b
      |       FROM pres GROUP BY 1),
      |tot AS (SELECT sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS n1,
      |               count(*) AS n FROM t),
      |x AS (SELECT token, a, b,
      |             n1 - a AS c, (n - n1) - b AS d, n
      |      FROM ct CROSS JOIN tot)
      |SELECT token, CAST(a AS BIGINT) AS df1, CAST(b AS BIGINT) AS df0,
      |       round(CAST(n AS DOUBLE)
      |               * (CAST(a * d - b * c AS DOUBLE) * CAST(a * d - b * c AS DOUBLE))
      |             / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
      |                * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)), 6) AS chi2
      |FROM x
      |WHERE CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
      |      * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE) > 0
      |ORDER BY chi2 DESC, token LIMIT 50""".stripMargin) { (s, dir) =>
    graft.operators.FeatureSelection.chiSquareTokens(
      Tables.load(s, dir, "documents")
        .withColumn("y", (col("lang") === "en").cast("int")),
      "doc_id", "text", "y", topK = 50)
  }

  // Confident-learning label-noise estimation (LabelNoise.confidentJoint,
  // Northcutt et al. 2021 count form) on the q_c22 Naive-Bayes scorer:
  // per-class mean-posterior thresholds, confident-joint counting, the
  // off-diagonal cells = estimated labeling errors. The thresholds are
  // never divided — the confidence test cross-multiplies (p_j·n_j ≥
  // Σp_j) in exact DECIMAL, so counts cannot flip with partitioning.
  // The oracle extends the shared NB chain with sigmoid(margin) rounded
  // to 6 decimals (libm-ulp rule) and the identical decimal counting.
  private val qC24 = Q(
    "q_c24_label_noise",
    s"""$nbWithBody,
       |mg AS (SELECT t.doc_id, t.y,
       |         round(CAST((coalesce(ds.s1a, CAST(0 AS DECIMAL(18,9))) + pr.prior1)
       |             - (coalesce(ds.s0a, CAST(0 AS DECIMAL(18,9))) + pr.prior0) AS DOUBLE), 6) AS margin
       |       FROM t LEFT JOIN ds ON t.doc_id = ds.doc_id CROSS JOIN pr),
       |p2 AS (SELECT doc_id, y,
       |         CAST(round(1.0 / (1.0 + exp(-margin)), 6) AS DECIMAL(9,6)) AS p1,
       |         CAST(1.0 AS DECIMAL(9,6))
       |           - CAST(round(1.0 / (1.0 + exp(-margin)), 6) AS DECIMAL(9,6)) AS p0
       |       FROM mg),
       |th AS (SELECT sum(CASE WHEN y = 1 THEN p1 END) AS s1,
       |              CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |              sum(CASE WHEN y = 0 THEN p0 END) AS s0,
       |              CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
       |       FROM p2),
       |cj AS (SELECT p.y AS given_label,
       |         CASE WHEN p.p1 * t2.n1 >= t2.s1 AND p.p0 * t2.n0 >= t2.s0
       |                THEN CASE WHEN p.p1 >= p.p0 THEN 1 ELSE 0 END
       |              WHEN p.p1 * t2.n1 >= t2.s1 THEN 1
       |              WHEN p.p0 * t2.n0 >= t2.s0 THEN 0 END AS confident_label
       |       FROM p2 p CROSS JOIN th t2),
       |cc AS (SELECT given_label, confident_label, CAST(count(*) AS BIGINT) AS n_docs
       |       FROM cj WHERE confident_label IS NOT NULL GROUP BY 1, 2),
       |ctot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tn FROM cc)
       |SELECT given_label, confident_label, n_docs,
       |       CAST(n_docs AS DOUBLE) / ctot.tn AS cell_rate
       |FROM cc CROSS JOIN ctot
       |ORDER BY given_label, confident_label""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
      .withColumn("y", (col("lang") === "en").cast("int"))
    val (model, stats) = graft.operators.NaiveBayes.train(docs, "doc_id", "text", "y")
    val scored = graft.operators.NaiveBayes.score(docs, "doc_id", "text", model, stats)
      .join(docs.select(col("doc_id"), col("y")), Seq("doc_id"))
      .pin()
    val out = graft.operators.LabelNoise.confidentJoint(scored, "y", "margin")
      .orderBy("given_label", "confident_label")
      .pin()
    val cells = out.collect()
    require(cells.nonEmpty && cells.map(_.getAs[Long]("n_docs")).sum >= 1,
      "q_c24: the confident joint must count at least one example")
    out
  }

  // Closed-form ridge regression (operators.RidgeRegression, Hoerl–
  // Kennard 1970): the LINEAR model next to the logistic-GD and NB
  // classifiers — one pass of EXACT-DECIMAL moment sums (the q_q19
  // Welch discipline) to a broadcast row, then determinant/adjugate/
  // coefficients/R² in ONE fixed IEEE expression tree both engines
  // write identically; λ on the feature diagonal only. No gradient
  // loop, no driver linear algebra — the 100 TB regression is exactly
  // one aggregate.
  private val qC25 = Q(
    "q_c25_ridge_regression",
    """WITH m AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |         CAST(sum(CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS s1,
      |         CAST(sum(CAST(l_discount AS DECIMAL(19,6))) AS DOUBLE) AS s2,
      |         CAST(sum(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS s11,
      |         CAST(sum(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_discount AS DECIMAL(19,6))) AS DOUBLE) AS s12,
      |         CAST(sum(CAST(l_discount AS DECIMAL(19,6)) * CAST(l_discount AS DECIMAL(19,6))) AS DOUBLE) AS s22,
      |         CAST(sum(CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS sy,
      |         CAST(sum(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS syy,
      |         CAST(sum(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS s1y,
      |         CAST(sum(CAST(l_discount AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS s2y
      |  FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL AND l_discount IS NOT NULL),
      |c AS (SELECT *, s11 + 0.5 AS a11, s22 + 0.5 AS a22 FROM m),
      |d AS (SELECT *,
      |        n * (a11 * a22 - s12 * s12) - s1 * (s1 * a22 - s12 * s2) + s2 * (s1 * s12 - a11 * s2) AS det,
      |        a11 * a22 - s12 * s12 AS c00,
      |        -(s1 * a22 - s12 * s2) AS c01,
      |        s1 * s12 - a11 * s2 AS c02,
      |        n * a22 - s2 * s2 AS c11,
      |        -(n * s12 - s1 * s2) AS c12,
      |        n * a11 - s1 * s1 AS c22
      |      FROM c),
      |b AS (SELECT *,
      |        CASE WHEN det <> 0 THEN (c00 * sy + c01 * s1y + c02 * s2y) / det END AS b0,
      |        CASE WHEN det <> 0 THEN (c01 * sy + c11 * s1y + c12 * s2y) / det END AS b1,
      |        CASE WHEN det <> 0 THEN (c02 * sy + c12 * s1y + c22 * s2y) / det END AS b2
      |      FROM d),
      |e AS (SELECT *,
      |        syy - 2.0 * (b0 * sy + b1 * s1y + b2 * s2y)
      |            + (b0 * b0 * n + b1 * b1 * s11 + b2 * b2 * s22
      |               + 2.0 * b0 * b1 * s1 + 2.0 * b0 * b2 * s2 + 2.0 * b1 * b2 * s12) AS sse,
      |        syy - sy * sy / n AS sst
      |      FROM b)
      |SELECT CAST(n AS BIGINT) AS n_rows,
      |       round(b0, 6) AS b0, round(b1, 6) AS b1, round(b2, 6) AS b2,
      |       CASE WHEN b0 IS NOT NULL AND sst > 0 THEN round(1.0 - sse / sst, 6) END AS r2
      |FROM e""".stripMargin) { (s, dir) =>
    graft.operators.RidgeRegression.ridge2(
      Tables.load(s, dir, "lineitem"),
      "l_extendedprice", "l_quantity", "l_discount", lambda = 0.5)
  }

  // Inter-annotator agreement (Agreement.cohenKappa): did two labelers
  // agree beyond chance — the audit a labeling pipeline runs before
  // trusting its labels. Two deterministic "raters" derived from
  // independent document features (length bucket vs a shifted bucket)
  // give a chance-corrected table with real off-diagonal mass; po/pe
  // from exact integer contingency counts, κ as one IEEE expression —
  // the oracle replays the identical cells/marginals.
  private val qC26 = Q(
    "q_c26_cohen_kappa",
    """WITH r AS (
      |  SELECT n_chars % 4 AS la, (n_chars + doc_id % 3) % 4 AS lb
      |  FROM documents),
      |cells AS (SELECT la, lb, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1, 2),
      |ag AS (SELECT CAST(sum(c) AS BIGINT) AS n,
      |              CAST(sum(CASE WHEN la = lb THEN c ELSE 0 END) AS BIGINT) AS diag
      |       FROM cells),
      |ma AS (SELECT la, sum(c) AS ra FROM cells GROUP BY 1),
      |mb AS (SELECT lb, sum(c) AS rb FROM cells GROUP BY 1),
      |pe AS (SELECT coalesce(sum(ra * rb), 0) AS pe_num
      |       FROM ma JOIN mb ON ma.la = mb.lb)
      |SELECT ag.n AS n_items,
      |       round(CAST(ag.diag AS DOUBLE) / ag.n, 6) AS po,
      |       round(CAST(pe.pe_num AS DOUBLE) / (CAST(ag.n AS DOUBLE) * ag.n), 6) AS pe,
      |       CASE WHEN CAST(pe.pe_num AS DOUBLE) / (CAST(ag.n AS DOUBLE) * ag.n) < 1.0
      |            THEN round((CAST(ag.diag AS DOUBLE) / ag.n
      |                        - CAST(pe.pe_num AS DOUBLE) / (CAST(ag.n AS DOUBLE) * ag.n))
      |                       / (1.0 - CAST(pe.pe_num AS DOUBLE) / (CAST(ag.n AS DOUBLE) * ag.n)), 6)
      |       END AS kappa
      |FROM ag CROSS JOIN pe""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents").select(
      (col("n_chars") % 4).as("ra"),
      ((col("n_chars") + col("doc_id") % 3) % 4).as("rb"))
    graft.operators.Agreement.cohenKappa(docs, "ra", "rb")
  }

  // Multi-rater agreement (Agreement.fleissKappa): a 3-rater pool per
  // document, each rater a different deterministic labeling function —
  // Pᵢ/pⱼ/κ from exact integer per-item and per-label counts; the
  // equal-raters-per-item REQUIREment is the operator's contract.
  private val qC27 = Q(
    "q_c27_fleiss_kappa",
    """WITH ratings AS (
      |  SELECT doc_id AS item, r.r AS rater,
      |         (doc_id * (r.r + 1) + n_chars) % 3 AS label
      |  FROM documents, (VALUES (0), (1), (2)) AS r(r)),
      |cells AS (SELECT item, label, CAST(count(*) AS BIGINT) AS c
      |          FROM ratings GROUP BY 1, 2),
      |per_item AS (SELECT item, sum(c) AS n, sum(c * c) AS sq FROM cells GROUP BY 1),
      |ia AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
      |              CAST(max(n) AS BIGINT) AS n_raters,
      |              sum(sq) AS sq_sum FROM per_item),
      |la AS (SELECT coalesce(sum(tot * tot), 0) AS lbl_sq
      |       FROM (SELECT label, sum(c) AS tot FROM cells GROUP BY 1)),
      |f AS (SELECT ia.n_items, ia.n_raters,
      |             (CAST(ia.sq_sum AS DOUBLE) - CAST(ia.n_items AS DOUBLE) * ia.n_raters)
      |               / (CAST(ia.n_items AS DOUBLE) * ia.n_raters * (ia.n_raters - 1.0)) AS p_bar,
      |             CAST(la.lbl_sq AS DOUBLE)
      |               / (CAST(ia.n_items AS DOUBLE) * ia.n_raters
      |                  * CAST(ia.n_items AS DOUBLE) * ia.n_raters) AS pe_bar
      |      FROM ia CROSS JOIN la)
      |SELECT n_items, n_raters, round(p_bar, 6) AS p_bar, round(pe_bar, 6) AS pe_bar,
      |       CASE WHEN n_raters >= 2 AND pe_bar < 1.0
      |            THEN round((p_bar - pe_bar) / (1.0 - pe_bar), 6) END AS kappa
      |FROM f""".stripMargin) { (s, dir) =>
    val ratings = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        explode(array(lit(0), lit(1), lit(2))).as("rater"))
      .select(
        col("doc_id").as("item"),
        col("rater"),
        ((col("doc_id") * (col("rater") + 1) + col("n_chars")) % 3).as("label"))
    graft.operators.Agreement.fleissKappa(ratings, "item", "rater", "label")
  }

  // Ranking-quality evaluation (MlEval.rankingMetrics): MRR / DCG@10 /
  // nDCG@10 / P@10 per query over a deterministic graded run derived
  // from the corpus (5 queries, 100 docs each at sf0.01; relevance
  // grades 0-3, score ties broken by doc id on both engines). DCG sums
  // mix irrational log2 discounts, so dcg/idcg/ndcg ship rounded to 6
  // decimals (the q_t30 rule); mrr and p@k are single divisions,
  // bit-identical unrounded.
  private val qC28 = Q(
    "q_c28_ranking_eval",
    """WITH runs AS (
      |  SELECT CAST(doc_id % 5 AS BIGINT) AS query_id, doc_id,
      |         CAST((doc_id * 137) % 1000 AS DOUBLE) AS score,
      |         greatest(0, 3 - CAST(doc_id % 7 AS INT)) AS rel
      |  FROM documents),
      |rk AS (
      |  SELECT *,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY score DESC, doc_id) AS r,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY rel DESC, doc_id) AS ir
      |  FROM runs),
      |agg AS (
      |  SELECT query_id,
      |         CAST(count(*) AS BIGINT) AS n_docs,
      |         coalesce(max(CASE WHEN rel > 0
      |                           THEN CAST(1 AS DOUBLE) / r END),
      |                  CAST(0 AS DOUBLE)) AS mrr,
      |         round(sum(CASE WHEN r <= 10
      |                        THEN (pow(2, rel) - 1) / log2(r + 1)
      |                        ELSE CAST(0 AS DOUBLE) END), 6) AS dcg_10,
      |         round(sum(CASE WHEN ir <= 10
      |                        THEN (pow(2, rel) - 1) / log2(ir + 1)
      |                        ELSE CAST(0 AS DOUBLE) END), 6) AS idcg_10,
      |         CAST(sum(CASE WHEN r <= 10 AND rel > 0 THEN 1 ELSE 0 END)
      |              AS DOUBLE) / 10 AS p_10
      |  FROM rk GROUP BY query_id)
      |SELECT query_id, n_docs, mrr, dcg_10, idcg_10, p_10,
      |       CASE WHEN idcg_10 > 0 THEN round(dcg_10 / idcg_10, 6)
      |            ELSE CAST(0 AS DOUBLE) END AS ndcg_10
      |FROM agg ORDER BY query_id""".stripMargin) { (s, dir) =>
    val runs = Tables.load(s, dir, "documents").select(
      (col("doc_id") % 5).cast("bigint").as("query_id"),
      col("doc_id"),
      ((col("doc_id") * 137) % 1000).cast("double").as("score"),
      greatest(lit(0), lit(3) - (col("doc_id") % 7).cast("int")).as("rel"))
    graft.operators.MlEval
      .rankingMetrics(runs, "query_id", "doc_id", "score", "rel", k = 10)
      .orderBy("query_id")
  }

  // URL canonicalization + registrable-domain cap (UrlOps — the crawl
  // curation stage): in-plan URL corpus with mixed-case scheme/host,
  // default and non-default ports, tracking params in every position,
  // duplicate slashes, fragments, and PSL suffix classes spanning the
  // pinned snapshot's rule forms (r15 VERDICT task #4): one/two-label
  // normal suffixes, THREE-label (act.gov.au, pref.aichi.jp), a
  // wildcard *.ck host (domain varies per site label), and a !www.ck
  // exception host (every site collapses to the one registrable
  // domain). The oracle replays the full canonicalization RE2 chain
  // and computes each expected domain arithmetically from the
  // construction (the engine must DECIDE it from the snapshot), then
  // replays the md5-ranked per-domain cap.
  private val qC29 = Q(
    "q_c29_url_domain_cap",
    """WITH u0 AS (
      |  SELECT doc_id,
      |    'HTTPS://WWW.Site' || CAST(doc_id % 37 AS VARCHAR) || '.Example.' ||
      |    CASE CAST(doc_id % 8 AS INT) WHEN 0 THEN 'COM' WHEN 1 THEN 'CO.UK'
      |         WHEN 2 THEN 'com.au' WHEN 3 THEN 'org'
      |         WHEN 4 THEN 'ACT.GOV.AU' WHEN 5 THEN 'pref.AICHI.jp'
      |         WHEN 6 THEN 'ck' ELSE 'WwW.Ck' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN ':443'
      |         WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END ||
      |    '//Articles//' || CAST(doc_id AS VARCHAR) || '/' ||
      |    '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) || '&utm_medium=x' ||
      |    CASE WHEN doc_id % 3 = 0 THEN '&ref=tw' ELSE '' END ||
      |    '#section' || CAST(doc_id AS VARCHAR) AS u
      |  FROM documents),
      |c1 AS (SELECT doc_id,
      |         lower(regexp_extract(trim(u), '^([^:/?#]+://[^/?#]*)', 1)) ||
      |         regexp_replace(trim(u), '^[^:/?#]+://[^/?#]*', '') AS s FROM u0),
      |c2 AS (SELECT doc_id, regexp_replace(s, '#.*$', '', 'g') AS s FROM c1),
      |c3 AS (SELECT doc_id,
      |         regexp_replace(regexp_replace(s,
      |           '^(http://[^/?#:]*):80(/|\?|$)', '\1\2'),
      |           '^(https://[^/?#:]*):443(/|\?|$)', '\1\2') AS s FROM c2),
      |c4 AS (SELECT doc_id,
      |         regexp_replace(regexp_replace(regexp_replace(s,
      |           '&(?:utm_[A-Za-z0-9_]*|gclid|fbclid|ref)=[^&#]*', '', 'g'),
      |           '\?(?:utm_[A-Za-z0-9_]*|gclid|fbclid|ref)=[^&#]*&', '?', 'g'),
      |           '\?(?:utm_[A-Za-z0-9_]*|gclid|fbclid|ref)=[^&#]*$', '', 'g')
      |         AS s FROM c3),
      |c5 AS (SELECT doc_id,
      |         regexp_replace(regexp_replace(s, '([^:/])//+', '\1/', 'g'),
      |           '([^:/?#])/(\?|$)', '\1\2', 'g') AS url_canon FROM c4),
      |hd AS (SELECT doc_id, url_canon,
      |         regexp_extract(url_canon,
      |           '^[^:/?#]+://(?:[^/?#@]*@)?([^/?#:@]*)', 1) AS host
      |       FROM c5),
      |dm AS (SELECT doc_id, url_canon, host,
      |         CASE CAST(doc_id % 8 AS INT)
      |           WHEN 0 THEN 'example.com'
      |           WHEN 1 THEN 'example.co.uk'
      |           WHEN 2 THEN 'example.com.au'
      |           WHEN 3 THEN 'example.org'
      |           WHEN 4 THEN 'example.act.gov.au'
      |           WHEN 5 THEN 'example.pref.aichi.jp'
      |           WHEN 6 THEN 'site' || CAST(doc_id % 37 AS VARCHAR) ||
      |                       '.example.ck'
      |           ELSE 'www.ck' END AS domain
      |       FROM hd),
      |rk AS (SELECT doc_id, url_canon, host, domain,
      |         CAST(row_number() OVER (PARTITION BY domain
      |           ORDER BY md5(url_canon), url_canon) AS BIGINT) AS domain_rank,
      |         CAST(count(*) OVER (PARTITION BY domain) AS BIGINT) AS n_in_domain
      |       FROM dm)
      |SELECT doc_id, url_canon, host, domain, domain_rank, n_in_domain,
      |       CAST(CASE WHEN domain_rank <= 3 THEN 1 ELSE 0 END AS INT) AS kept
      |FROM rk ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val did = col("doc_id").cast("string")
    val urls = Tables.load(s, dir, "documents").select(
      col("doc_id"),
      concat(
        lit("HTTPS://WWW.Site"), (col("doc_id") % 37).cast("string"),
        lit(".Example."),
        when(col("doc_id") % 8 === 0, "COM")
          .when(col("doc_id") % 8 === 1, "CO.UK")
          .when(col("doc_id") % 8 === 2, "com.au")
          .when(col("doc_id") % 8 === 3, "org")
          .when(col("doc_id") % 8 === 4, "ACT.GOV.AU")
          .when(col("doc_id") % 8 === 5, "pref.AICHI.jp")
          .when(col("doc_id") % 8 === 6, "ck").otherwise("WwW.Ck"),
        when(col("doc_id") % 5 === 0, ":443")
          .when(col("doc_id") % 7 === 0, ":8080").otherwise(""),
        lit("//Articles//"), did, lit("/"),
        lit("?utm_source=feed&id="), did, lit("&utm_medium=x"),
        when(col("doc_id") % 3 === 0, "&ref=tw").otherwise(""),
        lit("#section"), did).as("url"))
    graft.operators.UrlOps.domainCap(urls, "doc_id", "url", cap = 3)
      .select(
        col("doc_id"), col("url_canon"), col("host"), col("domain"),
        col("domain_rank").cast("bigint").as("domain_rank"),
        col("n_in_domain").cast("bigint").as("n_in_domain"),
        col("kept").cast("int").as("kept"))
      .orderBy("doc_id")
  }

  // robots.txt exclusion decisions (Robots.decide, RFC 9309 subset):
  // three host classes of in-plan robots bodies (exact-agent group
  // shadowing a catch-all star group / star-only with an Allow carve-out
  // and an empty vacuous Disallow / allow-all), five path families. The
  // ENGINE must parse group structure and apply longest-match + Allow-
  // wins-ties + exact-beats-star; the oracle computes the expected
  // decision arithmetically from the construction (the q_m25/q_m28
  // pattern).
  private val qC30 = Q(
    "q_c30_robots_decisions",
    """WITH u AS (
      |  SELECT doc_id,
      |         'site' || CAST(doc_id % 23 AS VARCHAR) || '.example.com'
      |           AS host,
      |         CAST((doc_id % 23) % 3 AS INT) AS hc,
      |         CAST(doc_id % 5 AS INT) AS pc,
      |         CASE CAST(doc_id % 5 AS INT)
      |           WHEN 0 THEN '/private/ok/p' || CAST(doc_id AS VARCHAR)
      |           WHEN 1 THEN '/private/p' || CAST(doc_id AS VARCHAR)
      |           WHEN 2 THEN '/blocked/except/e' || CAST(doc_id AS VARCHAR)
      |           WHEN 3 THEN '/blocked/b' || CAST(doc_id AS VARCHAR)
      |           ELSE '/open/o' || CAST(doc_id AS VARCHAR) END AS path
      |  FROM documents),
      |d AS (
      |  SELECT host, path,
      |    CASE WHEN hc = 0 AND pc = 0 THEN '/private/ok/'
      |         WHEN hc = 0 AND pc = 1 THEN '/private/'
      |         WHEN hc = 1 AND pc = 2 THEN '/blocked/except/'
      |         WHEN hc = 1 AND pc = 3 THEN '/blocked/' END AS matched_pattern,
      |    CASE WHEN hc = 0 AND pc = 0 THEN 1
      |         WHEN hc = 0 AND pc = 1 THEN 0
      |         WHEN hc = 1 AND pc = 2 THEN 1
      |         WHEN hc = 1 AND pc = 3 THEN 0 END AS matched_allow
      |  FROM u)
      |SELECT host, path,
      |       CAST(CASE WHEN matched_pattern IS NULL THEN 1
      |                 ELSE matched_allow END AS INT) AS allowed,
      |       matched_pattern,
      |       CAST(matched_allow AS INT) AS matched_allow
      |FROM d ORDER BY host, path""".stripMargin) { (s, dir) =>
    val docs = Tables.load(s, dir, "documents")
    val host = concat(lit("site"), (col("doc_id") % 23).cast("string"),
      lit(".example.com"))
    val urls = docs.select(
      host.as("host"),
      concat(
        when(col("doc_id") % 5 === 0, "/private/ok/p")
          .when(col("doc_id") % 5 === 1, "/private/p")
          .when(col("doc_id") % 5 === 2, "/blocked/except/e")
          .when(col("doc_id") % 5 === 3, "/blocked/b")
          .otherwise("/open/o"),
        col("doc_id").cast("string")).as("path"))
    val bodyExact = "User-agent: graftbot\nDisallow: /private/\n" +
      "Allow: /private/ok/\n\nUser-agent: *\nDisallow: /\n"
    val bodyStar = "# star only\nUser-agent: alpha\nUser-agent: *\n" +
      "Disallow: /blocked/\nAllow: /blocked/except/\nDisallow:\n"
    val bodyOpen = "User-agent: *\nDisallow:\n"
    val robots = docs.select((col("doc_id") % 23).as("h")).distinct()
      .select(
        concat(lit("site"), col("h").cast("string"), lit(".example.com"))
          .as("host"),
        when(col("h") % 3 === 0, bodyExact)
          .when(col("h") % 3 === 1, bodyStar)
          .otherwise(bodyOpen).as("robots"))
    graft.operators.Robots
      .decide(robots, "host", "robots", urls, "host", "path", "graftbot")
      .select(
        col("host"), col("path"),
        col("allowed").cast("int").as("allowed"),
        col("matched_pattern"),
        col("matched_allow").cast("int").as("matched_allow"))
      .orderBy("host", "path")
  }

  // robots.txt RFC 9309 WILDCARD matching (Robots.decide with in-plan
  // regex-compiled rules — r15 VERDICT task #2): two host classes —
  // a wildcard-only body (`/*.pdf$` end-anchor, mid-pattern
  // `/dl*secret` vs a longer `/dl/pub*secret` Allow, a `$`-anchored
  // exact path) and a mixed body with an equal-length wildcard
  // PRECEDENCE TIE (`/t/a*` Disallow vs `/t/*a` Allow, both length 5 —
  // Allow wins per the RFC) plus a literal-prefix rule riding the
  // wildcard-free fast path. Shared `/exact` paths across doc_ids also
  // exercise the decide() multiplicity contract (decisions join back to
  // every input row). The oracle computes each decision arithmetically
  // from the construction (the q_c30/q_m28 pattern) — the ENGINE must
  // compile and rank the wildcard rules.
  private[queries] val qC31 = Q(
    "q_c31_robots_wildcards",
    """WITH u AS (
      |  SELECT doc_id,
      |         'w' || CAST(doc_id % 11 AS VARCHAR) || '.example.net' AS host,
      |         CAST((doc_id % 11) % 2 AS INT) AS hc,
      |         CAST(doc_id % 6 AS INT) AS pc,
      |         CASE CAST(doc_id % 6 AS INT)
      |           WHEN 0 THEN '/files/f' || CAST(doc_id AS VARCHAR) || '.pdf'
      |           WHEN 1 THEN '/files/f' || CAST(doc_id AS VARCHAR) || '.pdfx'
      |           WHEN 2 THEN '/dl/x' || CAST(doc_id AS VARCHAR) || '/secret/s'
      |           WHEN 3 THEN '/dl/pub/x' || CAST(doc_id AS VARCHAR) || '/secret/s'
      |           WHEN 4 THEN '/t/a' || CAST(doc_id AS VARCHAR) || 'a'
      |           ELSE '/exact' END AS path
      |  FROM documents),
      |d AS (
      |  SELECT doc_id, host, path,
      |    CASE WHEN hc = 0 AND pc = 0 THEN '/*.pdf$'
      |         WHEN hc = 0 AND pc = 2 THEN '/dl*secret'
      |         WHEN hc = 0 AND pc = 3 THEN '/dl/pub*secret'
      |         WHEN hc = 0 AND pc = 5 THEN '/exact$'
      |         WHEN hc = 1 AND pc = 0 THEN '/files/'
      |         WHEN hc = 1 AND pc = 1 THEN '/files/'
      |         WHEN hc = 1 AND pc = 4 THEN '/t/*a' END AS matched_pattern,
      |    CASE WHEN hc = 0 AND pc = 0 THEN 0
      |         WHEN hc = 0 AND pc = 2 THEN 0
      |         WHEN hc = 0 AND pc = 3 THEN 1
      |         WHEN hc = 0 AND pc = 5 THEN 0
      |         WHEN hc = 1 AND pc = 0 THEN 0
      |         WHEN hc = 1 AND pc = 1 THEN 0
      |         WHEN hc = 1 AND pc = 4 THEN 1 END AS matched_allow
      |  FROM u)
      |SELECT doc_id, host, path,
      |       CAST(CASE WHEN matched_pattern IS NULL THEN 1
      |                 ELSE matched_allow END AS INT) AS allowed,
      |       matched_pattern,
      |       CAST(matched_allow AS INT) AS matched_allow
      |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
    robotsWildDecisionsOf(Tables.load(s, dir, "documents"))
      .orderBy("doc_id")
  }

  /** The q_c31 wildcard-robots decision frame, shared with its
    * streaming twin: per-batch rows depend only on their own
    * (host, path) plus that host's FIXED body class, so the
    * micro-batched union equals the batch run row for row.
    */
  private[queries] def robotsWildDecisionsOf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val did = col("doc_id").cast("string")
    val urls = graft.Tables.spread(docs).select(
      col("doc_id"),
      concat(lit("w"), (col("doc_id") % 11).cast("string"),
        lit(".example.net")).as("host"),
      when(col("doc_id") % 6 === 0, concat(lit("/files/f"), did, lit(".pdf")))
        .when(col("doc_id") % 6 === 1, concat(lit("/files/f"), did, lit(".pdfx")))
        .when(col("doc_id") % 6 === 2, concat(lit("/dl/x"), did, lit("/secret/s")))
        .when(col("doc_id") % 6 === 3,
          concat(lit("/dl/pub/x"), did, lit("/secret/s")))
        .when(col("doc_id") % 6 === 4, concat(lit("/t/a"), did, lit("a")))
        .otherwise(lit("/exact")).as("path"))
    val bodyWild = "User-agent: *\nDisallow: /*.pdf$\nDisallow: /dl*secret\n" +
      "Allow: /dl/pub*secret\nDisallow: /exact$\n"
    val bodyMixed = "User-agent: graftbot\nDisallow: /t/a*\nAllow: /t/*a\n" +
      "Disallow: /files/\n\nUser-agent: *\nDisallow: /\n"
    val robots = docs.select((col("doc_id") % 11).as("h")).distinct()
      .select(
        concat(lit("w"), col("h").cast("string"), lit(".example.net"))
          .as("host"),
        when(col("h") % 2 === 0, bodyWild).otherwise(bodyMixed).as("robots"))
    graft.operators.Robots
      .decide(robots, "host", "robots", urls, "host", "path", "graftbot")
      .select(
        col("doc_id"), col("host"), col("path"),
        col("allowed").cast("int").as("allowed"),
        col("matched_pattern"),
        col("matched_allow").cast("int").as("matched_allow"))
  }

  // robots.txt crawl METADATA (Robots.meta): Crawl-delay resolved
  // against the same exact-beats-star group choice as the rules (MIN
  // across valid values; a non-numeric delay stays NULL rather than
  // silently zero) and host-GLOBAL Sitemap lines in file order —
  // including a groupless leading line, per the RFC — with the
  // documented '#'-comment boundary exercised by a fragment-bearing
  // URL. Four host classes; the oracle computes every field
  // arithmetically from the construction.
  private val qC32 = Q(
    "q_c32_robots_meta",
    """WITH hh AS (SELECT DISTINCT CAST(doc_id % 19 AS INT) AS h
      |           FROM documents),
      |m AS (SELECT h, 'm' || CAST(h AS VARCHAR) || '.example.io' AS host,
      |             CAST(h % 4 AS INT) AS hc
      |      FROM hh)
      |SELECT host,
      |  CAST(CASE WHEN hc = 0 THEN h + 1
      |            WHEN hc = 1 THEN least(7, h + 2) END AS INT)
      |    AS crawl_delay,
      |  CAST(CASE hc WHEN 0 THEN 2 WHEN 1 THEN 0 ELSE 1 END AS INT)
      |    AS n_sitemaps,
      |  CASE hc
      |    WHEN 0 THEN 'https://m' || CAST(h AS VARCHAR) ||
      |                '.example.io/sm-lead.xml,https://m' ||
      |                CAST(h AS VARCHAR) || '.example.io/sm2.xml'
      |    WHEN 1 THEN ''
      |    WHEN 2 THEN 'https://m' || CAST(h AS VARCHAR) ||
      |                '.example.io/s.xml'
      |    ELSE 'https://m' || CAST(h AS VARCHAR) || '.example.io/a.xml'
      |  END AS sitemaps
      |FROM m ORDER BY host""".stripMargin) { (s, dir) =>
    val hosts = Tables.load(s, dir, "documents")
      .select((col("doc_id") % 19).cast("int").as("h")).distinct()
    val hs = col("h").cast("string")
    val base = concat(lit("https://m"), hs, lit(".example.io/"))
    val body =
      when(col("h") % 4 === 0, concat(
        lit("Sitemap: "), base, lit("sm-lead.xml\n"),
        lit("User-agent: graftbot\nCrawl-delay: "),
        (col("h") + 1).cast("string"),
        lit("\nDisallow: /x/\n\nUser-agent: *\nCrawl-delay: 99\n" +
          "Disallow: /\nSitemap: "), base, lit("sm2.xml\n")))
        .when(col("h") % 4 === 1, concat(
          lit("User-agent: *\nCrawl-delay: 7\nCrawl-delay: "),
          (col("h") + 2).cast("string"), lit("\nDisallow: /y/\n")))
        .when(col("h") % 4 === 2, concat(
          lit("User-agent: *\nCrawl-delay: fast\nDisallow: /z/\nSitemap: "),
          base, lit("s.xml\n")))
        .otherwise(concat(
          lit("User-agent: graftbot\nDisallow: /w/\nSitemap: "),
          base, lit("a.xml#frag\n")))
    val robots = hosts.select(
      concat(lit("m"), hs, lit(".example.io")).as("host"),
      body.as("robots"))
    graft.operators.Robots
      .meta(robots, "host", "robots", "graftbot")
      .orderBy("host")
  }

  // Sitemap XML frontier (Sitemap.governedFrontier — r16 VERDICT task
  // #4): per host, an in-plan <sitemapindex> delegating to two child
  // sitemaps (the protocol's one bounded nesting level, resolved as a
  // self-join — never recursion), a urlset child with 1-3 dated locs,
  // a /private/ child (MALFORMED for every 7th host — must classify
  // invalid and contribute nothing), and a direct urlset the index
  // never references (via_index must read false). The frontier then
  // runs through Robots.decide: even hosts disallow /private/, so the
  // emitted frame is GOVERNED. The engine parses real XML through
  // Spark's native from_xml; the oracle computes every expected row
  // arithmetically from the construction (the q_c30 pattern).
  private val qC33 = Q(
    "q_c33_sitemap_frontier",
    """WITH hs AS (SELECT DISTINCT CAST(doc_id % 29 AS INT) AS h
      |           FROM documents),
      |hosts AS (
      |  SELECT h, 'crawl' || CAST(h AS VARCHAR) || '.example.net' AS host
      |  FROM hs),
      |a AS (
      |  SELECT host,
      |         'https://' || host || '/sm/a.xml' AS sitemap_url,
      |         1 AS via_index,
      |         'https://' || host || '/p/' || CAST(h AS VARCHAR) || '/' ||
      |           CAST(j AS VARCHAR) AS loc,
      |         '2024-05-0' || CAST(j + 1 AS VARCHAR) AS lastmod,
      |         1 AS allowed,
      |         CAST(NULL AS VARCHAR) AS matched_pattern,
      |         CAST(NULL AS INT) AS matched_allow
      |  FROM (SELECT h, host, unnest(range(0, h % 3 + 1)) AS j FROM hosts)),
      |b AS (
      |  SELECT host,
      |         'https://' || host || '/sm/b.xml' AS sitemap_url,
      |         1 AS via_index,
      |         'https://' || host || '/private/' || CAST(h AS VARCHAR) ||
      |           '/' || CAST(j AS VARCHAR) AS loc,
      |         CAST(NULL AS VARCHAR) AS lastmod,
      |         CASE WHEN h % 2 = 0 THEN 0 ELSE 1 END AS allowed,
      |         CASE WHEN h % 2 = 0 THEN '/private/' END AS matched_pattern,
      |         CAST(CASE WHEN h % 2 = 0 THEN 0 END AS INT) AS matched_allow
      |  FROM (SELECT h, host, unnest(range(0, 2)) AS j
      |        FROM hosts WHERE h % 7 <> 0)),
      |x AS (
      |  SELECT host,
      |         'https://' || host || '/extra.xml' AS sitemap_url,
      |         0 AS via_index,
      |         'https://' || host || '/open/' || CAST(h AS VARCHAR) AS loc,
      |         '2024-06-01' AS lastmod,
      |         1 AS allowed,
      |         CAST(NULL AS VARCHAR) AS matched_pattern,
      |         CAST(NULL AS INT) AS matched_allow
      |  FROM hosts)
      |SELECT host, sitemap_url, CAST(via_index AS INT) AS via_index,
      |       loc, lastmod, CAST(allowed AS INT) AS allowed,
      |       matched_pattern, matched_allow
      |FROM (SELECT * FROM a UNION ALL SELECT * FROM b
      |      UNION ALL SELECT * FROM x)
      |ORDER BY host, sitemap_url, loc""".stripMargin) { (s, dir) =>
    val hosts = Tables.load(s, dir, "documents")
      .select((col("doc_id") % 29).cast("int").as("h")).distinct()
      .select(col("h"),
        concat(lit("crawl"), col("h").cast("string"), lit(".example.net"))
          .as("host"))
    val base = concat(lit("https://"), col("host"))
    def entry(loc: org.apache.spark.sql.Column,
        lastmod: Option[org.apache.spark.sql.Column]) = concat(
      lit("<url><loc>"), loc, lit("</loc>"),
      lastmod.map(lm => concat(lit("<lastmod>"), lm, lit("</lastmod>")))
        .getOrElse(lit("")),
      lit("</url>"))
    def aLoc(j: Int) = concat(base, lit("/p/"), col("h").cast("string"),
      lit(s"/$j"))
    def bLoc(j: Int) = concat(base, lit("/private/"),
      col("h").cast("string"), lit(s"/$j"))
    val aBody = concat(
      lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
        "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
      entry(aLoc(0), Some(lit("2024-05-01"))),
      when(col("h") % 3 >= 1, entry(aLoc(1), Some(lit("2024-05-02"))))
        .otherwise(""),
      when(col("h") % 3 >= 2, entry(aLoc(2), Some(lit("2024-05-03"))))
        .otherwise(""),
      lit("</urlset>"))
    val bBody = when(col("h") % 7 === 0,
      lit("<urlset><url><loc>https://broken"))
      .otherwise(concat(lit("<urlset>"),
        entry(bLoc(0), None), entry(bLoc(1), None), lit("</urlset>")))
    val idxBody = concat(
      lit("<sitemapindex><sitemap><loc>"), base, lit("/sm/a.xml</loc>"),
      lit("<lastmod>2024-04-01</lastmod></sitemap><sitemap><loc>"),
      base, lit("/sm/b.xml</loc></sitemap></sitemapindex>"))
    val xBody = concat(lit("<urlset>"),
      entry(concat(base, lit("/open/"), col("h").cast("string")),
        Some(lit("2024-06-01"))),
      lit("</urlset>"))
    val sitemaps = hosts.select(col("h"), col("host"),
      explode(array(
        struct(concat(base, lit("/sitemap.xml")).as("url"),
          idxBody.as("body")),
        struct(concat(base, lit("/sm/a.xml")).as("url"),
          aBody.as("body")),
        struct(concat(base, lit("/sm/b.xml")).as("url"),
          bBody.as("body")),
        struct(concat(base, lit("/extra.xml")).as("url"),
          xBody.as("body")))).as("sm"))
      .select(col("host"), col("sm.url").as("url"),
        col("sm.body").as("body"))
      .pin()
    val robots = hosts.select(col("host"),
      when(col("h") % 2 === 0, "User-agent: *\nDisallow: /private/\n")
        .otherwise("User-agent: *\nDisallow:\n").as("robots"))
      .pin()
    graft.operators.Sitemap
      .governedFrontier(sitemaps, "host", "url", "body",
        robots, "host", "robots", "graftbot")
      .select(col("host"), col("sitemap_url"),
        col("via_index").cast("int").as("via_index"),
        col("loc"), col("lastmod"),
        col("allowed").cast("int").as("allowed"),
        col("matched_pattern"),
        col("matched_allow").cast("int").as("matched_allow"))
      .orderBy("host", "sitemap_url", "loc")
      .pin()
  }

  // Outlink extraction + RFC 3986 resolution (LinkExtract.outlinks):
  // per doc, an in-plan page at https://www.site{k}.example.org/a/b/
  // page{id}.html carrying eight anchor forms — absolute, protocol-
  // relative, bare-attribute root-relative, dot-segment relative,
  // query-only, fragment-only (self-link, must drop), javascript:
  // (non-fetchable, must drop), and a tracking-param duplicate that
  // must CANONICALIZE into the root-relative row (one surviving row,
  // min raw) — and every 5th doc a <base href="/based/"> that
  // re-bases the relative forms. The oracle computes all five expected
  // outlinks per doc arithmetically from the construction; the engine
  // must extract, resolve, canonicalize and dedup its way to them.
  /** The q_c34 outlink frame over a documents batch — construction +
    * extraction + resolution are per-row (dedup is per (doc, url),
    * within one document), so streamed ≡ batch (q_st41 reuses this and
    * the q_c34 oracle verbatim).
    */
  private[queries] def outlinkResolveOf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val d = graft.Tables.spread(docs.where(col("doc_id") < 400))
      .select(col("doc_id"),
        (col("doc_id") % 13).cast("string").as("k"),
        (col("doc_id") % 7).cast("string").as("m"),
        (col("doc_id") % 3).cast("string").as("j"),
        col("doc_id").cast("string").as("i"),
        (col("doc_id") % 5 === 0).as("hb"))
    val pages = d.select(
      col("doc_id"),
      concat(lit("https://www.site"), col("k"),
        lit(".example.org/a/b/page"), col("i"), lit(".html")).as("url"),
      concat(
        when(col("hb"), lit("<base href=\"/based/\">")).otherwise(""),
        lit("<html><body><a href=\"https://ext"), col("m"),
        lit(".example.com/abs/"), col("i"), lit("\">e</a>"),
        lit("<a href='//cdn.example.net/lib"), col("j"),
        lit(".js'>c</a><a href=/root/"), col("i"), lit(">r</a>"),
        lit("<a href=\"../up/"), col("i"), lit("\">u</a>"),
        lit("<a href=\"?page=2\">q</a><a href=\"#top\">t</a>"),
        lit("<a href=\"javascript:void(0)\">x</a>"),
        lit("<a href=\"/root/"), col("i"),
        lit("?utm_source=x&gclid=9\">dup</a></body></html>")).as("html"))
      .pin()
    // pages stays pinned inside the returned plan
    graft.operators.LinkExtract
      .outlinks(pages, "doc_id", "url", "html")
  }

  private[queries] val qC34 = Q(
    "q_c34_outlink_resolve",
    """WITH d AS (
      |  SELECT doc_id,
      |         CAST(doc_id % 13 AS VARCHAR) AS k,
      |         CAST(doc_id % 7 AS VARCHAR) AS m,
      |         CAST(doc_id % 3 AS VARCHAR) AS j,
      |         CAST(doc_id AS VARCHAR) AS i,
      |         (doc_id % 5 = 0) AS hb
      |  FROM documents WHERE doc_id < 400),
      |rws AS (
      |  SELECT doc_id, '//cdn.example.net/lib' || j || '.js' AS url_raw,
      |         'https://cdn.example.net/lib' || j || '.js' AS url FROM d
      |  UNION ALL
      |  SELECT doc_id, 'https://ext' || m || '.example.com/abs/' || i,
      |         'https://ext' || m || '.example.com/abs/' || i FROM d
      |  UNION ALL
      |  SELECT doc_id, '/root/' || i,
      |         'https://www.site' || k || '.example.org/root/' || i FROM d
      |  UNION ALL
      |  SELECT doc_id, '../up/' || i,
      |         'https://www.site' || k || '.example.org' ||
      |         CASE WHEN hb THEN '/up/' ELSE '/a/up/' END || i FROM d
      |  UNION ALL
      |  SELECT doc_id, '?page=2',
      |         'https://www.site' || k || '.example.org' ||
      |         CASE WHEN hb THEN '/based?page=2'
      |              ELSE '/a/b/page' || i || '.html?page=2' END FROM d)
      |SELECT doc_id, url_raw, url FROM rws
      |ORDER BY doc_id, url""".stripMargin) { (s, dir) =>
    val pre = outlinkResolveOf(Tables.load(s, dir, "documents"))
    pre.orderBy("doc_id", "url").pin()
  }

  // Per-host politeness scheduling (CrawlSchedule.schedule): 23 hosts
  // share a ~2000-URL frontier, every 4th URL arrives DUPLICATED (must
  // burn one slot), crawl delays come per host with every 4th host
  // NULL (must fall back to the default of 2 s). Slot order within a
  // host is the md5 of the URL — engine and oracle compute the same
  // hash over the same string, so fetch_seq and fetch_at_sec pin
  // value-exactly.
  private val qC35 = Q(
    "q_c35_politeness_schedule",
    """WITH d AS (
      |  SELECT doc_id, CAST(doc_id % 23 AS INT) AS k
      |  FROM documents WHERE doc_id < 2000),
      |f AS (
      |  SELECT DISTINCT
      |    'h' || CAST(k AS VARCHAR) || '.example.net' AS host,
      |    'https://h' || CAST(k AS VARCHAR) || '.example.net/p/' ||
      |      CAST(doc_id AS VARCHAR) AS url,
      |    k
      |  FROM d),
      |del AS (
      |  SELECT k, CASE WHEN k % 4 = 3 THEN NULL ELSE k % 5 + 1 END AS delay
      |  FROM (SELECT DISTINCT k FROM d)),
      |s AS (
      |  SELECT f.host, f.url,
      |    CAST(coalesce(del.delay, 2) AS BIGINT) AS delay_sec,
      |    CAST(row_number() OVER (PARTITION BY f.host
      |           ORDER BY md5(f.url), f.url) - 1 AS INT) AS fetch_seq
      |  FROM f JOIN del ON f.k = del.k)
      |SELECT host, url, delay_sec, fetch_seq,
      |       CAST(fetch_seq * delay_sec AS BIGINT) AS fetch_at_sec
      |FROM s ORDER BY host, fetch_seq""".stripMargin) { (s, dir) =>
    val d = Tables.load(s, dir, "documents")
      .where(col("doc_id") < 2000)
      .select(col("doc_id"), (col("doc_id") % 23).cast("int").as("k"))
    val base = d.select(col("doc_id"), col("k"),
      concat(lit("h"), col("k").cast("string"), lit(".example.net"))
        .as("host"),
      concat(lit("https://h"), col("k").cast("string"),
        lit(".example.net/p/"), col("doc_id").cast("string")).as("url"))
    val frontier = base.select("host", "url")
      .unionByName(base.where(col("doc_id") % 4 === 0)
        .select("host", "url"))
    val delays = d.select(col("k")).distinct()
      .select(
        concat(lit("h"), col("k").cast("string"), lit(".example.net"))
          .as("host"),
        when(col("k") % 4 === 3, lit(null).cast("long"))
          .otherwise((col("k") % 5 + 1).cast("long")).as("delay"))
    graft.operators.CrawlSchedule
      .schedule(frontier, "host", "url", delays, "host", "delay",
        defaultDelaySec = 2)
      .select(col("host"), col("url"),
        col("delay_sec").cast("long").as("delay_sec"),
        col("fetch_seq").cast("int").as("fetch_seq"),
        col("fetch_at_sec").cast("long").as("fetch_at_sec"))
      .orderBy("host", "fetch_seq")
  }

  // Redirect chain resolution (Redirects.finalTargets): six capture
  // classes per doc — direct hit, one-hop with a RELATIVE Location
  // (must resolve against the redirecting capture), two-hop, dangling
  // onto an unfetched URL, a two-cycle that must classify LOOP (exact
  // visited-list detection, not a budget heuristic), and a 3xx without
  // Location that danglings in place. Every chain member resolves (not
  // just the head), and the oracle computes all outcomes
  // arithmetically.
  private val qC36 = Q(
    "q_c36_redirect_chains",
    """WITH d AS (
      |  SELECT doc_id, CAST(doc_id % 6 AS INT) AS c,
      |         CAST(doc_id % 19 AS INT) AS k, CAST(doc_id AS VARCHAR) AS i
      |  FROM documents WHERE doc_id < 600),
      |b AS (
      |  SELECT doc_id, c,
      |         'https://r' || CAST(k AS VARCHAR) || '.example.net/d/' ||
      |           i || '/' AS p
      |  FROM d),
      |rws AS (
      |  SELECT doc_id, p || '0' AS url,
      |    CASE c WHEN 0 THEN p || '0' WHEN 1 THEN p || '1'
      |           WHEN 2 THEN p || '2' WHEN 3 THEN p || 'x'
      |           WHEN 4 THEN p || '1' ELSE p || '0' END AS final_url,
      |    CASE c WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2
      |           WHEN 3 THEN 1 WHEN 4 THEN 1 ELSE 0 END AS n_hops,
      |    CASE c WHEN 3 THEN 'dangling' WHEN 4 THEN 'loop'
      |           WHEN 5 THEN 'dangling' ELSE 'ok' END AS status
      |  FROM b
      |  UNION ALL
      |  SELECT doc_id, p || '1',
      |    CASE c WHEN 1 THEN p || '1' WHEN 2 THEN p || '2'
      |           ELSE p || '0' END,
      |    CASE c WHEN 1 THEN 0 ELSE 1 END,
      |    CASE c WHEN 4 THEN 'loop' ELSE 'ok' END
      |  FROM b WHERE c IN (1, 2, 4)
      |  UNION ALL
      |  SELECT doc_id, p || '2', p || '2', 0, 'ok' FROM b WHERE c = 2)
      |SELECT doc_id, url, final_url, CAST(n_hops AS INT) AS n_hops,
      |       status
      |FROM rws ORDER BY doc_id, url""".stripMargin) { (s, dir) =>
    val c = (col("doc_id") % 6).cast("int")
    val i = col("doc_id").cast("string")
    val p = concat(lit("https://r"), (col("doc_id") % 19).cast("string"),
      lit(".example.net/d/"), i, lit("/"))
    val nullStr = lit(null).cast("string")
    val m0 = struct(
      concat(p, lit("0")).as("url"),
      when(c === 0, 200).when(c === 5, 308).when(c === 2, 302)
        .otherwise(301).as("status"),
      when(c === 1, concat(lit("/d/"), i, lit("/1"))) // relative Location
        .when(c === 2, concat(p, lit("1")))
        .when(c === 3, concat(p, lit("x")))
        .when(c === 4, concat(p, lit("1")))
        .otherwise(nullStr).as("location"))
    val m1 = when(c.isin(1, 2, 4), struct(
      concat(p, lit("1")).as("url"),
      when(c === 1, 200).when(c === 2, 301).otherwise(302).as("status"),
      when(c === 2, concat(p, lit("2")))
        .when(c === 4, concat(p, lit("0")))
        .otherwise(nullStr).as("location")))
    val m2 = when(c === 2, struct(
      concat(p, lit("2")).as("url"), lit(200).as("status"),
      nullStr.as("location")))
    val captures = Tables.load(s, dir, "documents")
      .where(col("doc_id") < 600)
      .select(col("doc_id"),
        explode(filter(array(m0, m1, m2), x => x.isNotNull)).as("cap"))
      .select(col("doc_id"), col("cap.url").as("url"),
        col("cap.status").as("status"),
        col("cap.location").as("location"))
      .pin()
    graft.operators.Redirects
      .finalTargets(captures, "url", "status", "location", maxHops = 5)
      .select(col("doc_id"), col("url"), col("final_url"),
        col("n_hops").cast("int").as("n_hops"), col("status"))
      .orderBy("doc_id", "url")
      .pin()
  }

  // Crawl-trap detection (TrapDetect.report): 12 hosts in three
  // classes — calendar-trap hosts whose every URL collapses to ONE
  // template (must flag), diverse hosts spread over four templates
  // (must not), and sparse hosts that are fully concentrated but under
  // the minUrls floor (must not flag at the small scale — and the
  // SAME oracle arithmetic flips them at a scale where they cross the
  // floor, because the verdict is derived, not hardcoded). Tie-breaks
  // and the threshold are exact integer arithmetic on both sides.
  private val qC37 = Q(
    "q_c37_trap_detection",
    """WITH d AS (
      |  SELECT doc_id, CAST(doc_id % 12 AS INT) AS j,
      |         CAST(doc_id AS VARCHAR) AS i
      |  FROM documents WHERE doc_id < 2000),
      |u AS (
      |  SELECT j, '/cal/2024/' || i || '/' ||
      |           CAST(doc_id % 28 AS VARCHAR) AS path,
      |         '/cal/N/N/N' AS tmpl
      |  FROM d WHERE j % 3 = 0
      |  UNION ALL
      |  SELECT j,
      |    CASE CAST(doc_id % 4 AS INT)
      |      WHEN 0 THEN '/p/' || i WHEN 1 THEN '/tag/' || i || '/x'
      |      WHEN 2 THEN '/u-' || i ELSE '/d/' || i || '/' || i END,
      |    CASE CAST(doc_id % 4 AS INT)
      |      WHEN 0 THEN '/p/N' WHEN 1 THEN '/tag/N/x'
      |      WHEN 2 THEN '/u-N' ELSE '/d/N/N' END
      |  FROM d WHERE j % 3 = 1
      |  UNION ALL
      |  SELECT j, '/cal/2024/' || i, '/cal/N/N'
      |  FROM d WHERE j % 3 = 2 AND doc_id % 25 = 0),
      |g AS (SELECT j, tmpl, count(*) AS c FROM u GROUP BY 1, 2),
      |r AS (
      |  SELECT j, tmpl, c,
      |    row_number() OVER (PARTITION BY j ORDER BY c DESC, tmpl DESC)
      |      AS rn,
      |    CAST(sum(c) OVER (PARTITION BY j) AS BIGINT) AS n_urls,
      |    CAST(count(*) OVER (PARTITION BY j) AS BIGINT) AS n_templates
      |  FROM g)
      |SELECT 't' || CAST(j AS VARCHAR) || '.example.com' AS host,
      |       n_urls, n_templates, tmpl AS top_template,
      |       CAST(c AS BIGINT) AS top_count,
      |       CAST(CASE WHEN n_urls >= 10 AND c * 100 >= n_urls * 50
      |            THEN 1 ELSE 0 END AS INT) AS is_trap
      |FROM r WHERE rn = 1 ORDER BY host""".stripMargin) { (s, dir) =>
    val j = (col("doc_id") % 12).cast("int")
    val i = col("doc_id").cast("string")
    val host = concat(lit("t"), j.cast("string"), lit(".example.com"))
    val path =
      when(j % 3 === 0, concat(lit("/cal/2024/"), i, lit("/"),
        (col("doc_id") % 28).cast("string")))
        .when(j % 3 === 1,
          when(col("doc_id") % 4 === 0, concat(lit("/p/"), i))
            .when(col("doc_id") % 4 === 1, concat(lit("/tag/"), i, lit("/x")))
            .when(col("doc_id") % 4 === 2, concat(lit("/u-"), i))
            .otherwise(concat(lit("/d/"), i, lit("/"), i)))
        .otherwise(concat(lit("/cal/2024/"), i))
    val frontier = Tables.load(s, dir, "documents")
      .where(col("doc_id") < 2000 &&
        (j % 3 =!= 2 || col("doc_id") % 25 === 0))
      .select(host.as("host"),
        concat(lit("https://"), host, path).as("url"))
      .pin()
    graft.operators.TrapDetect
      .report(frontier, "host", "url", minUrls = 10, thresholdPct = 50)
      .select(col("host"),
        col("n_urls").cast("long").as("n_urls"),
        col("n_templates").cast("long").as("n_templates"),
        col("top_template"),
        col("top_count").cast("long").as("top_count"),
        col("is_trap").cast("int").as("is_trap"))
      .orderBy("host")
      .pin()
  }

  override val all: Seq[Q] =
    Seq(qC1, qC2, qC3, qC4, qC5, qC6, qC7, qC8, qC9, qC10, qC11, qC12, qC13, qC14,
      qC15, qC16, qC17, qC18, qC19, qC20, qC21, qC22, qC23, qC24, qC25, qC26, qC27,
      qC28, qC29, qC30, qC31, qC32, qC33, qC34, qC35, qC36, qC37)
}
