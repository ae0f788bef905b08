package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{DataProfile, SchemaValidation}
import graft.operators.SchemaValidation.FieldRule
import graft.RunScope.Pinning

/** Data-quality operators: contract validation with quarantine reasons
  * and one-pass column profiling — the schema-enforcement surface of the
  * ingestion pipeline, oracle-verified row by row.
  */
object QualityQueries extends QueryGroup {

  // Oracle fragment of q_q22 and q_st30 (margin text, interpolated before
  // stripMargin): HLL registers at p = 9 from the 60-bit hashes `hk` of
  // each group `g` in `h`, up to `fin`, the raw estimate `e_raw`.
  private[queries] val hllEstimateSql =
    """reg AS (
      |  SELECT g, hk & 511 AS bucket,
      |         max(51 - length(ltrim(bin(hk >> 9), '0')) + 1) AS r
      |  FROM h GROUP BY 1, 2),
      |ag AS (
      |  SELECT g, CAST(count(*) AS BIGINT) AS nb,
      |         CAST(sum(1::BIGINT << CAST(52 - r AS INTEGER)) AS BIGINT) AS sp
      |  FROM reg GROUP BY 1),
      |est AS (
      |  SELECT g, CAST(512 - nb AS BIGINT) AS n_zero,
      |         CAST(sp + (512 - nb) * (1::BIGINT << 52) AS BIGINT) AS s_scaled
      |  FROM ag),
      |fin AS (
      |  SELECT g, n_zero, s_scaled,
      |         (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(512 AS DOUBLE)))
      |           * CAST(512 AS DOUBLE) * CAST(512 AS DOUBLE)
      |           * CAST(1::BIGINT << 52 AS DOUBLE) / CAST(s_scaled AS DOUBLE) AS e_raw
      |  FROM est)"""

  // Row-level contract validation over orders: status must be a known
  // open/finished code ('P' rows quarantine), totals must sit in
  // [0, 450k] (a few exceed), custkey is required (none missing — the
  // passing check is part of the contract too). Error tags and their
  // order are replayed verbatim in the oracle.
  private[queries] val qQ1 = Q(
    "q_q1_validate_orders",
    """WITH v AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_custkey IS NULL THEN 'o_custkey:required_null' END AS e1,
      |    CASE WHEN o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O', 'F')
      |         THEN 'o_orderstatus:not_allowed' END AS e2,
      |    CASE WHEN o_totalprice IS NOT NULL AND o_totalprice < 0
      |         THEN 'o_totalprice:below_min' END AS e3,
      |    CASE WHEN o_totalprice IS NOT NULL AND o_totalprice > 450000
      |         THEN 'o_totalprice:above_max' END AS e4
      |  FROM orders)
      |SELECT o_orderkey,
      |       (e1 IS NULL AND e2 IS NULL AND e3 IS NULL AND e4 IS NULL) AS is_valid,
      |       CAST(len(list_filter([e1, e2, e3, e4], x -> x IS NOT NULL)) AS INT) AS n_errors,
      |       concat_ws(',', e1, e2, e3, e4) AS errors_str
      |FROM v ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    SchemaValidation.validate(
      Tables.load(s, dir, "orders"),
      Seq(
        FieldRule("o_custkey", required = true),
        FieldRule("o_orderstatus", allowed = Some(Seq("O", "F"))),
        FieldRule("o_totalprice", min = Some(0.0), max = Some(450000.0))))
      .select(
        col("o_orderkey"),
        col("is_valid"),
        size(col("errors")).as("n_errors"),
        concat_ws(",", col("errors")).as("errors_str"))
      .orderBy("o_orderkey")
  }

  // One-pass completeness profile of the customer table.
  private val qQ2 = Q(
    "q_q2_profile_customer",
    """SELECT col_name, n_rows, n_null, n_distinct,
      |       CAST(n_null AS DOUBLE) / n_rows AS null_rate
      |FROM (
      |  SELECT 'c_custkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
      |         CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |         CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_distinct FROM customer
      |  UNION ALL
      |  SELECT 'c_name', CAST(count(*) AS BIGINT),
      |         CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |         CAST(count(DISTINCT c_name) AS BIGINT) FROM customer
      |  UNION ALL
      |  SELECT 'c_nationkey', CAST(count(*) AS BIGINT),
      |         CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |         CAST(count(DISTINCT c_nationkey) AS BIGINT) FROM customer
      |  UNION ALL
      |  SELECT 'c_acctbal', CAST(count(*) AS BIGINT),
      |         CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |         CAST(count(DISTINCT c_acctbal) AS BIGINT) FROM customer
      |  UNION ALL
      |  SELECT 'c_mktsegment', CAST(count(*) AS BIGINT),
      |         CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |         CAST(count(DISTINCT c_mktsegment) AS BIGINT) FROM customer)
      |ORDER BY col_name""".stripMargin) { (s, dir) =>
    DataProfile.profile(
      Tables.load(s, dir, "customer"),
      Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
      .orderBy("col_name")
  }

  // Per-group Pearson correlation / covariance / stddev, computed from
  // EXACT DECIMAL moment sums (one hash aggregate) with the double math
  // applied once at the end. Using built-in corr() directly would hash-
  // mismatch: its streaming-update float accumulation is order-dependent
  // and engine-specific, while exact integer moments + one fixed IEEE
  // expression tree are bit-stable on both engines. Same single-pass
  // moment-sketch shape a 100 TB column profiler uses.
  private val qA8 = Q(
    "q_a8_corr_profile",
    """WITH m AS (
      |  SELECT l_returnflag,
      |         CAST(count(*) AS DOUBLE) AS n,
      |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
      |         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
      |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag,
      |       CAST(n AS INT) AS n_rows,
      |       (n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr_qty_price,
      |       (n * sxy - sx * sy) / (n * n) AS cov_pop_qty_price,
      |       sqrt(n * sxx - sx * sx) / n AS std_pop_qty
      |FROM m ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val q = col("l_quantity").cast("decimal(18,2)")
    val p = col("l_extendedprice").cast("decimal(18,2)")
    val m = Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(q).cast("double").as("sx"),
        sum(p).cast("double").as("sy"),
        sum(q * q).cast("double").as("sxx"),
        sum(p * p).cast("double").as("syy"),
        sum(q * p).cast("double").as("sxy"))
    val n = col("n"); val sx = col("sx"); val sy = col("sy")
    val sxx = col("sxx"); val syy = col("syy"); val sxy = col("sxy")
    m.select(
        col("l_returnflag"),
        n.cast("int").as("n_rows"),
        ((n * sxy - sx * sy) /
          sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))).as("corr_qty_price"),
        ((n * sxy - sx * sy) / (n * n)).as("cov_pop_qty_price"),
        (sqrt(n * sxx - sx * sx) / n).as("std_pop_qty"))
      .orderBy("l_returnflag")
  }

  // Winsorized (clipped-at-percentile) aggregate: the standard outlier
  // treatment before training-data statistics. Thresholds are the exact
  // interpolated p05/p95 (one tiny one-row aggregate, broadcast to the
  // scan); at 100 TB the same shape runs on approx_percentile thresholds
  // (gated separately by q_a6b) — the clip pass itself is unchanged.
  private val qQ3 = Q(
    "q_q3_winsorize",
    """WITH b AS (
      |  SELECT quantile_cont(l_extendedprice, 0.05) AS lo,
      |         quantile_cont(l_extendedprice, 0.95) AS hi
      |  FROM lineitem)
      |SELECT l_returnflag,
      |       CAST(count(*) AS INT) AS n_rows,
      |       CAST(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END) AS INT) AS n_low,
      |       CAST(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END) AS INT) AS n_high,
      |       CAST(sum(CAST(least(greatest(l_extendedprice, lo), hi) AS DECIMAL(18,6))) AS DOUBLE) AS sum_winsorized
      |FROM lineitem CROSS JOIN b
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val li = Tables.load(s, dir, "lineitem")
    // histogram-based exact percentiles: the built-in `percentile` agg
    // merges a row-count-sized value map in one task (6.5 s at sf0.1 on
    // the 583k-distinct price column); the histogram shape is ~5× faster
    // here and domain-bounded at scale — see DataProfile.exactPercentiles
    val bounds = DataProfile
      .exactPercentiles(li, "l_extendedprice", Seq("lo" -> 0.05, "hi" -> 0.95))
      .select("lo", "hi")
    val clipped = least(greatest(col("l_extendedprice"), col("lo")), col("hi"))
    li.crossJoin(broadcast(bounds))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).cast("int").as("n_rows"),
        sum(when(col("l_extendedprice") < col("lo"), 1).otherwise(0)).cast("int").as("n_low"),
        sum(when(col("l_extendedprice") > col("hi"), 1).otherwise(0)).cast("int").as("n_high"),
        sum(clipped.cast("decimal(18,6)")).cast("double").as("sum_winsorized"))
      .orderBy("l_returnflag")
  }

  // Z-score feature normalization from EXACT DECIMAL moments (same
  // bit-stability rationale as q_a8): one tiny aggregate broadcast back
  // to the scan, one double expression per row. The per-row pass is
  // scan-side — at 100 TB this is a map-only job after a 1-row exchange.
  private val qQ4 = Q(
    "q_q4_zscore_normalize",
    """WITH m AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sxx
      |  FROM orders)
      |SELECT o_orderkey,
      |       (o_totalprice - sx / n) / sqrt((n * sxx - sx * sx) / (n * n)) AS z_totalprice
      |FROM orders CROSS JOIN m
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val p = col("o_totalprice").cast("decimal(18,2)")
    val orders = Tables.load(s, dir, "orders")
    val m = orders.agg(
      count(lit(1)).cast("double").as("n"),
      sum(p).cast("double").as("sx"),
      sum(p * p).cast("double").as("sxx"))
    val n = col("n"); val sx = col("sx"); val sxx = col("sxx")
    orders
      .crossJoin(broadcast(m))
      .select(
        col("o_orderkey"),
        ((col("o_totalprice") - sx / n) /
          sqrt((n * sxx - sx * sx) / (n * n))).as("z_totalprice"))
      .orderBy("o_orderkey")
  }

  // Grouped exact percentiles via the per-group histogram (window
  // partitioned by group — distinct values per group, partition-
  // parallel, no row-count-sized aggregation state; the grouped form of
  // q_q3's threshold machinery).
  private val qA9 = Q(
    "q_a9_grouped_percentiles",
    """SELECT l_returnflag,
      |       CAST(count(l_extendedprice) AS BIGINT) AS n,
      |       quantile_cont(l_extendedprice, 0.25) AS p25,
      |       quantile_cont(l_extendedprice, 0.50) AS p50,
      |       quantile_cont(l_extendedprice, 0.75) AS p75
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    DataProfile
      .groupedExactPercentiles(
        Tables.load(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
        Seq("p25" -> 0.25, "p50" -> 0.50, "p75" -> 0.75))
      .orderBy("l_returnflag")
  }

  // Heavy hitters via the lossy-counting sketch (`stat.freqItems`,
  // single pass, bounded state — the 100 TB shape) gated on its
  // guarantee: every item with support ≥ s MUST appear in the sketch
  // result (false positives allowed, never false negatives). Exact
  // counts come from the same frame; the oracle recomputes them and
  // pins in_sketch = true for every true heavy hitter.
  private val qA10 = Q(
    "q_a10_freq_items",
    """WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
      |t AS (SELECT sum(n) AS tot FROM c)
      |SELECT event_type, CAST(n AS INT) AS n_exact, true AS in_sketch
      |FROM c CROSS JOIN t
      |WHERE n >= 0.15 * tot
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    val ev = Tables.load(s, dir, "events")
    val sketch = ev.stat.freqItems(Seq("event_type"), 0.15)
      .collect()(0).getSeq[String](0).toSet // one row — bounded driver read
    val counts = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum("n").as("tot"))
    counts
      .crossJoin(broadcast(tot))
      .where(col("n") >= lit(0.15) * col("tot"))
      .select(
        col("event_type"),
        col("n").cast("int").as("n_exact"),
        col("event_type").isin(sketch.toSeq: _*).as("in_sketch"))
      .orderBy("event_type")
  }

  // Robust (median/MAD) z-score — the outlier score that survives the
  // outliers themselves, unlike q_q4's mean/stddev form. Two histogram-
  // percentile passes (median, then median of absolute deviations — each
  // domain-bounded, see exactPercentiles) broadcast to a map-only scoring
  // pass. Scores are emitted raw (no thresholding), so there is no
  // boundary membership to flip — downstream filters pick their own cut.
  private val qQ5 = Q(
    "q_q5_robust_zscore",
    """WITH med AS (SELECT quantile_cont(o_totalprice, 0.5) AS m FROM orders),
      |mad AS (SELECT quantile_cont(abs(o_totalprice - m), 0.5) AS d
      |        FROM orders CROSS JOIN med)
      |SELECT o_orderkey,
      |       (o_totalprice - m) / (1.4826 * d) AS robust_z
      |FROM orders CROSS JOIN med CROSS JOIN mad
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val orders = Tables.load(s, dir, "orders")
    val med = DataProfile.exactPercentiles(orders, "o_totalprice", Seq("m" -> 0.5))
      .select("m")
    val deviations = orders.crossJoin(broadcast(med))
      .select(abs(col("o_totalprice") - col("m")).as("__dev"), col("m"))
    val mad = DataProfile.exactPercentiles(deviations, "__dev", Seq("d" -> 0.5))
      .select("d")
    orders
      .crossJoin(broadcast(med))
      .crossJoin(broadcast(mad))
      .select(
        col("o_orderkey"),
        ((col("o_totalprice") - col("m")) / (lit(1.4826) * col("d"))).as("robust_z"))
      .orderBy("o_orderkey")
  }

  // Equi-depth decile binning: boundaries from the histogram-based exact
  // percentiles (the scan-side, two-pass alternative to ntile()'s global
  // sort), assignment as a broadcast boundary-array filter. Ties sit
  // with the lower bin in both engines (strict <).
  private val qQ6 = Q(
    "q_q6_equidepth_bins",
    """WITH b AS (
      |  SELECT quantile_cont(l_extendedprice,
      |           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bnds
      |  FROM lineitem),
      |binned AS (
      |  SELECT l_extendedprice AS v,
      |         1 + len(list_filter(bnds, x -> x < l_extendedprice)) AS bin
      |  FROM lineitem CROSS JOIN b)
      |SELECT CAST(bin AS INT) AS bin, CAST(count(*) AS INT) AS n_rows,
      |       min(v) AS min_v, max(v) AS max_v,
      |       CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      |FROM binned GROUP BY bin ORDER BY bin""".stripMargin) { (s, dir) =>
    DataProfile.equiDepthBins(Tables.load(s, dir, "lineitem"), "l_extendedprice", nBins = 10)
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).cast("int").as("n_rows"),
        min(col("l_extendedprice")).as("min_v"),
        max(col("l_extendedprice")).as("max_v"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_v"))
      .orderBy("bin")
  }

  // Population-stability drift between the first and second half of the
  // event month: bins from the BASELINE's deciles, shares clamped at
  // 1e-6, PSI = Σ (pa−pe)·ln(pa/pe) — the standard feature/corpus drift
  // monitor, value-exact across engines because every share is a ratio
  // of the same two integers.
  private val qQ7 = Q(
    "q_q7_psi_drift",
    """WITH base AS (SELECT value FROM events
      |              WHERE ts < TIMESTAMP '2024-01-16' AND value IS NOT NULL),
      |act AS (SELECT value FROM events
      |        WHERE ts >= TIMESTAMP '2024-01-16' AND value IS NOT NULL),
      |b AS (SELECT quantile_cont(value,
      |        [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bnds FROM base),
      |eb AS (SELECT 1 + len(list_filter(bnds, x -> x < value)) AS bin, count(*) AS c
      |       FROM base CROSS JOIN b GROUP BY 1),
      |ab AS (SELECT 1 + len(list_filter(bnds, x -> x < value)) AS bin, count(*) AS c
      |       FROM act CROSS JOIN b GROUP BY 1),
      |et AS (SELECT sum(c) AS n FROM eb),
      |at2 AS (SELECT sum(c) AS n FROM ab),
      |j AS (SELECT coalesce(greatest(eb.c / et.n, 1e-6), 1e-6) AS pe,
      |             coalesce(greatest(ab.c / at2.n, 1e-6), 1e-6) AS pa,
      |             et.n AS nb, at2.n AS na
      |      FROM eb FULL OUTER JOIN ab USING (bin) CROSS JOIN et CROSS JOIN at2)
      |SELECT sum((pa - pe) * ln(pa / pe)) AS psi, CAST(count(*) AS INT) AS n_bins,
      |       CAST(max(nb) AS BIGINT) AS n_baseline, CAST(max(na) AS BIGINT) AS n_actual
      |FROM j""".stripMargin) { (s, dir) =>
    val events = Tables.load(s, dir, "events")
    val cut = to_timestamp(lit("2024-01-16 00:00:00"))
    DataProfile.populationStabilityIndex(
      events.where(col("ts") < cut),
      events.where(col("ts") >= cut),
      "value", nBins = 10)
  }

  // Percentile-rank normalization from the cumulative value histogram —
  // exactly cume_dist's (# rows ≤ v)/n semantics, with the global sort
  // replaced by a distinct-value cumsum + equi-join back. The oracle IS
  // the window form, so the histogram path must match it row-for-row.
  private val qQ8 = Q(
    "q_q8_percentile_rank",
    """SELECT o_orderkey,
      |       cume_dist() OVER (ORDER BY o_totalprice) AS pct_rank
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    DataProfile.percentileRank(Tables.load(s, dir, "orders"), "o_totalprice")
      .select("o_orderkey", "pct_rank")
      .orderBy("o_orderkey")
  }

  // HLL sketch MERGE — the re-aggregation property approx_count_distinct
  // (q_a5b) lacks: per-priority customer sketches union into a global
  // estimate WITHOUT touching raw data again. Customers ordering under
  // several priorities make Σ per-group exact > global exact, so a
  // union that failed to dedup across groups would blow the 5% gate.
  // Oracle pattern follows q_a5b: exact counts verbatim + invariant
  // booleans that must be true.
  private val qA11 = Q(
    "q_a11_hll_merge",
    """WITH per AS (SELECT o_orderpriority AS grp,
      |                    count(DISTINCT o_custkey) AS exact_n
      |             FROM orders GROUP BY 1),
      |gl AS (SELECT count(DISTINCT o_custkey) AS exact_n FROM orders)
      |SELECT grp, CAST(exact_n AS BIGINT) AS exact_n, true AS est_ok FROM per
      |UNION ALL
      |SELECT '_ALL_' AS grp, CAST(exact_n AS BIGINT) AS exact_n, true AS est_ok
      |FROM gl
      |ORDER BY grp""".stripMargin) { (s, dir) =>
    val orders = Tables.load(s, dir, "orders")
    val sketches = orders
      .groupBy(col("o_orderpriority").as("grp"))
      .agg(
        hll_sketch_agg(col("o_custkey")).as("__sk"),
        count_distinct(col("o_custkey")).as("exact_n"))
    val per = sketches.select(
      col("grp"), col("exact_n"),
      (abs(hll_sketch_estimate(col("__sk")) - col("exact_n"))
        <= col("exact_n") * 0.05).as("est_ok"))
    val globalExact = orders.agg(count_distinct(col("o_custkey")).as("exact_n"))
    val merged = sketches
      .agg(hll_sketch_estimate(hll_union_agg(col("__sk"))).as("__est"))
      .crossJoin(broadcast(globalExact))
      .select(
        lit("_ALL_").as("grp"), col("exact_n"),
        (abs(col("__est") - col("exact_n")) <= col("exact_n") * 0.05).as("est_ok"))
    per.unionByName(merged).orderBy("grp")
  }

  // Per-group equi-depth bins: quartiles of n_chars WITHIN each source —
  // per-stratum normalization on the partition-parallel grouped
  // percentile machinery (q_a9 gates the boundary math itself).
  private val qQ9 = Q(
    "q_q9_grouped_bins",
    """WITH b AS (SELECT source, quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS bnds
      |           FROM documents GROUP BY source),
      |binned AS (
      |  SELECT d.source, n_chars,
      |         1 + len(list_filter(bnds, x -> x < n_chars)) AS bin
      |  FROM documents d JOIN b USING (source))
      |SELECT source, CAST(bin AS INT) AS bin, CAST(count(*) AS INT) AS n_rows,
      |       min(n_chars) AS min_v, max(n_chars) AS max_v
      |FROM binned GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    DataProfile
      .groupedEquiDepthBins(Tables.load(s, dir, "documents"), "source", "n_chars", nBins = 4)
      .groupBy(col("source"), col("bin"))
      .agg(
        count(lit(1)).cast("int").as("n_rows"),
        min(col("n_chars")).as("min_v"),
        max(col("n_chars")).as("max_v"))
      .orderBy("source", "bin")
  }

  // Incremental MV maintenance: per-customer order count/total built on
  // a base slice, then a signed delta (inserts: orderkey % 5 = 0;
  // retractions: base rows with orderkey % 11 = 0) folded in with work
  // ∝ delta keys. The oracle recomputes the final state DIRECTLY from
  // the surviving row set, so any maintenance drift (a lingering
  // zero-count group, a float-smeared retraction) breaks the hash.
  private[queries] val qA12 = Q(
    "q_a12_mv_incremental",
    """SELECT o_custkey,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
      |FROM orders
      |WHERE o_orderkey % 5 = 0 OR o_orderkey % 11 <> 0
      |GROUP BY 1 ORDER BY o_custkey""".stripMargin) { (s, dir) =>
    import graft.operators.MvMaintain
    val orders = Tables.load(s, dir, "orders")
    val base = orders.where(col("o_orderkey") % 5 =!= 0)
    val mv0 = MvMaintain.buildMv(base, "o_custkey", "o_totalprice")
    val delta = orders.where(col("o_orderkey") % 5 === 0)
      .select(col("o_custkey"), lit(1).as("sign"), col("o_totalprice"))
      .unionByName(
        base.where(col("o_orderkey") % 11 === 0)
          .select(col("o_custkey"), lit(-1).as("sign"), col("o_totalprice")))
    MvMaintain.applyDelta(mv0, delta, "o_custkey", "sign", "o_totalprice")
      .select(col("o_custkey"), col("n_rows"),
        col("sum_v").cast("double").as("sum_v"))
      .orderBy("o_custkey")
  }

  // Benford first-digit audit of order totals: observed vs log10(1+1/d)
  // with per-digit chi-square contributions — the distributional
  // plausibility check under the row-level contracts. Identical
  // left-to-right double expressions on both engines.
  private val qQ10 = Q(
    "q_q10_benford",
    """WITH d AS (
      |  SELECT CAST(substring(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM orders
      |  WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
      |c AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY 1),
      |t AS (SELECT sum(n_obs) AS n FROM c)
      |SELECT digit, n_obs,
      |       CAST(n_obs AS DOUBLE) / n AS obs_share,
      |       log10(1.0 + 1.0 / digit) AS exp_share,
      |       pow(CAST(n_obs AS DOUBLE) - n * log10(1.0 + 1.0 / digit), 2)
      |         / (n * log10(1.0 + 1.0 / digit)) AS chi2_term
      |FROM c CROSS JOIN t ORDER BY digit""".stripMargin) { (s, dir) =>
    graft.operators.Audits
      .benfordFirstDigit(Tables.load(s, dir, "orders"), "o_totalprice")
      .orderBy("digit")
  }

  // Referential-integrity audit across the star schema plus the
  // DELIBERATELY broken events.user_id → customer edge (user ids start
  // at 0, custkeys at 1, so orphans exist and the check is proven to
  // actually count).
  private val qQ11 = Q(
    "q_q11_ref_integrity",
    """WITH li_o AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_child,
      |         CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
      |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |o_c AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_child,
      |         CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
      |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
      |e_c AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_child,
      |         CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
      |  FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey)
      |SELECT 'events.user_id->customer' AS fk, * FROM e_c
      |UNION ALL SELECT 'lineitem.l_orderkey->orders', * FROM li_o
      |UNION ALL SELECT 'orders.o_custkey->customer', * FROM o_c
      |ORDER BY fk""".stripMargin) { (s, dir) =>
    import graft.operators.Audits.fkOrphans
    val li = Tables.load(s, dir, "lineitem")
    val orders = Tables.load(s, dir, "orders")
    val customer = Tables.load(s, dir, "customer")
    val events = Tables.load(s, dir, "events")
    fkOrphans(events, "user_id", customer, "c_custkey")
      .select(lit("events.user_id->customer").as("fk"), col("n_child"), col("n_orphans"))
      .unionByName(
        fkOrphans(li, "l_orderkey", orders, "o_orderkey")
          .select(lit("lineitem.l_orderkey->orders").as("fk"), col("n_child"), col("n_orphans")))
      .unionByName(
        fkOrphans(orders, "o_custkey", customer, "c_custkey")
          .select(lit("orders.o_custkey->customer").as("fk"), col("n_child"), col("n_orphans")))
      .orderBy("fk")
  }

  // Rolling 7-day distinct users: ONE sketch per day, then
  // hll_union_agg over a 7-row window frame — the production shape for
  // rolling uniques (the exact form re-joins a week of raw events per
  // day; the sketch form touches each event once, ever). The exact
  // rolling count rides along for the gate via the day×day range join
  // both engines replay; the estimate must sit within 5% of it.
  private val qA13 = Q(
    "q_a13_rolling_distinct",
    """WITH days AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM events),
      |exact AS (
      |  SELECT d.day, count(DISTINCT e.user_id) AS exact_rolling
      |  FROM days d JOIN events e
      |    ON date_trunc('day', e.ts) BETWEEN d.day - INTERVAL 6 DAY AND d.day
      |  GROUP BY d.day)
      |SELECT day, CAST(exact_rolling AS BIGINT) AS exact_rolling, true AS est_ok
      |FROM exact ORDER BY day""".stripMargin) { (s, dir) =>
    val events = Tables.load(s, dir, "events")
    val daily = events
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("__sk"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("day").rowsBetween(-6, org.apache.spark.sql.expressions.Window.currentRow)
    val est = daily
      .withColumn("__est", hll_sketch_estimate(hll_union_agg(col("__sk")).over(w)))
      .select("day", "__est")
    val exact = events
      .select(date_trunc("day", col("ts")).as("__ed"), col("user_id"))
      .join(daily.select(col("day")),
        col("__ed") >= col("day") - expr("INTERVAL 6 DAYS") && col("__ed") <= col("day"))
      .groupBy("day")
      .agg(count_distinct(col("user_id")).as("exact_rolling"))
    exact.join(est, Seq("day"))
      .select(
        col("day"), col("exact_rolling"),
        (abs(col("__est") - col("exact_rolling"))
          <= col("exact_rolling") * 0.05).as("est_ok"))
      .orderBy("day")
  }

  /** q_q12/q_q14's table: event_type × value band as `(x, y)`. */
  private def valueBands(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "events").select(
      col("event_type").as("x"),
      when(col("value") < 50, "v0").when(col("value") < 100, "v1")
        .when(col("value") < 200, "v2").otherwise("v3").as("y"))

  /** Its oracle twin (margin text): the body of CTE `b`, then the cell
    * counts `c` and their margins `m`.
    */
  private val valueBandCountsSql =
    """  SELECT event_type AS x,
      |         CASE WHEN value < 50 THEN 'v0' WHEN value < 100 THEN 'v1'
      |              WHEN value < 200 THEN 'v2' ELSE 'v3' END AS y
      |  FROM events),
      |c AS (SELECT x, y, count(*) AS obs FROM b GROUP BY 1, 2),
      |m AS (SELECT x, y, obs,
      |             sum(obs) OVER (PARTITION BY x) AS nx,
      |             sum(obs) OVER (PARTITION BY y) AS ny,
      |             sum(obs) OVER () AS n
      |      FROM c)"""

  // Contingency-table dependence audit (DataProfile.contingencyStats):
  // event_type × value band, per cell the observed count, the
  // independence-expected count, the chi-square term, and the
  // mutual-information term — Σ over the respective column is the χ²
  // statistic / the MI in nats. Marginal products go through
  // DECIMAL(38,0) (BIGINT would overflow past ~3e9 rows per margin);
  // every term is the identical left-to-right IEEE expression in both
  // engines.
  private val qQ12 = Q(
    "q_q12_contingency",
    s"""WITH b AS (
      |$valueBandCountsSql
      |SELECT x, y, CAST(obs AS BIGINT) AS obs,
      |       CAST(nx * ny AS DOUBLE) / n AS expected,
      |       (obs - CAST(nx * ny AS DOUBLE) / n) * (obs - CAST(nx * ny AS DOUBLE) / n)
      |         / (CAST(nx * ny AS DOUBLE) / n) AS chi2_term,
      |       (CAST(obs AS DOUBLE) / n) *
      |         ln(CAST(obs AS DOUBLE) * n / (CAST(nx AS DOUBLE) * ny)) AS mi_term
      |FROM m ORDER BY x, y""".stripMargin) { (s, dir) =>
    DataProfile.contingencyStats(valueBands(s, dir), "x", "y").orderBy("x", "y")
  }

  // Cramér's V (DataProfile.cramersV): the [0,1] effect size over
  // q_q12's χ² — raw χ² grows with n, V normalizes by n·min(r−1,c−1)
  // so drift monitors can threshold it. Summed from the identical
  // per-cell chi2_term expressions both engines already hash-match on
  // q_q12; the degenerate-table NULL (either dimension constant) is
  // spec-covered.
  private val qQ14 = Q(
    "q_q14_cramers_v",
    s"""WITH b AS (
      |$valueBandCountsSql,
      |t AS (SELECT x, y, obs,
      |             CAST(nx * ny AS DOUBLE) / n AS expected,
      |             (obs - CAST(nx * ny AS DOUBLE) / n) * (obs - CAST(nx * ny AS DOUBLE) / n)
      |               / (CAST(nx * ny AS DOUBLE) / n) AS chi2_term
      |      FROM m),
      |a AS (SELECT CAST(sum(obs) AS BIGINT) AS n,
      |             CAST(count(DISTINCT x) AS BIGINT) AS x_cats,
      |             CAST(count(DISTINCT y) AS BIGINT) AS y_cats,
      |             sum(chi2_term) AS chi2_obs,
      |             sum(expected) AS e_obs
      |      FROM t)
      |SELECT n, x_cats, y_cats,
      |       CAST((x_cats - 1) * (y_cats - 1) AS BIGINT) AS dof,
      |       chi2_obs + (CAST(n AS DOUBLE) - e_obs) AS chi2,
      |       CASE WHEN least(x_cats, y_cats) - 1 > 0
      |            THEN sqrt(greatest(0.0, chi2_obs + (CAST(n AS DOUBLE) - e_obs))
      |                      / (CAST(n AS DOUBLE) * (least(x_cats, y_cats) - 1))) END
      |         AS cramers_v
      |FROM a""".stripMargin) { (s, dir) =>
    DataProfile.cramersV(valueBands(s, dir), "x", "y")
  }

  // Count-min sketch: the fixed-memory frequency structure — depth×width
  // salted-md5 counter matrix, point estimate = min over depth cells,
  // never below the true count. 1500 distinct custkeys into width 256
  // means real collisions, and that's the point: the hashes are
  // engine-reproducible, so the oracle replays the EXACT counter matrix
  // (collisions included) and the gate is value-exact, not epsilon. The
  // in-query assert pins the sketch's one-sided error contract.
  private val qA15 = Q(
    "q_a15_countmin",
    """WITH js AS (SELECT unnest([0, 1, 2, 3]) AS j),
      |cells AS (
      |  SELECT j,
      |         ('0x' || substring(md5(CAST(o_custkey AS VARCHAR) || ':cm' || CAST(j AS VARCHAR)), 1, 8))::BIGINT % 256 AS bucket,
      |         count(*) AS cnt
      |  FROM orders CROSS JOIN js GROUP BY 1, 2),
      |truth AS (SELECT o_custkey AS key, count(*) AS true_cnt FROM orders GROUP BY 1),
      |probes AS (SELECT key, true_cnt FROM truth
      |           ORDER BY true_cnt DESC, key LIMIT 20),
      |pc AS (SELECT p.key, p.true_cnt, js.j,
      |              ('0x' || substring(md5(CAST(p.key AS VARCHAR) || ':cm' || CAST(js.j AS VARCHAR)), 1, 8))::BIGINT % 256 AS bucket
      |       FROM probes p CROSS JOIN js),
      |est AS (SELECT pc.key, pc.true_cnt, min(cells.cnt) AS est_cnt
      |        FROM pc JOIN cells USING (j, bucket) GROUP BY 1, 2)
      |SELECT key, CAST(true_cnt AS BIGINT) AS true_cnt,
      |       CAST(est_cnt AS BIGINT) AS est_cnt
      |FROM est ORDER BY key""".stripMargin) { (s, dir) =>
    import graft.operators.CountMin
    val keys = Tables.load(s, dir, "orders").select(col("o_custkey").as("key"))
    val sk = CountMin.sketch(keys, "key", depth = 4, width = 256)
    val truth = keys.groupBy("key").agg(count(lit(1)).as("true_cnt"))
    val probes = truth.orderBy(col("true_cnt").desc, col("key")).limit(20)
    probes
      .join(CountMin.estimate(probes.select("key"), "key", sk, depth = 4, width = 256), Seq("key"))
      .select(
        col("key"), col("true_cnt").cast("bigint").as("true_cnt"),
        col("est_cnt").cast("bigint").as("est_cnt"))
      .filter(assert_true(col("est_cnt") >= col("true_cnt"),
        lit("q_a15: count-min estimate below true count — one-sided bound broken")).isNull)
      .orderBy("key")
  }

  // Exact two-sample Kolmogorov–Smirnov drift (DataProfile.ksTwoSample):
  // D = sup |F_click − F_purchase| over the value column, plus the
  // smallest value attaining it — the binless shape-drift audit next to
  // the PSI's binned mass-shift (q_q7 family). Both CDFs are exact
  // integer-cumulative-count ratios (one division each, one subtraction,
  // abs), so D is bit-identical across engines with NO tolerance; the
  // argmax tie rule (smaller value) is total for the same reason. The
  // input reduces scan-side to the distinct-value frame before the one
  // cumulative window.
  private val qQ13 = Q(
    "q_q13_ks_drift",
    """WITH pv AS (
      |  SELECT CAST(value AS DOUBLE) AS v,
      |         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
      |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
      |  FROM events
      |  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
      |  GROUP BY 1),
      |tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM pv),
      |cdf AS (
      |  SELECT v, na, nb,
      |         abs(CAST(sum(ca) OVER w AS DOUBLE) / na -
      |             CAST(sum(cb) OVER w AS DOUBLE) / nb) AS d
      |  FROM pv CROSS JOIN tot
      |  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |sup AS (SELECT max(d) AS md FROM cdf)
      |SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b, max(d) AS d_stat,
      |       min(CASE WHEN d = (SELECT md FROM sup) THEN v END) AS d_at_value
      |FROM cdf""".stripMargin) { (s, dir) =>
    DataProfile.ksTwoSample(
      Tables.load(s, dir, "events"), "value", "event_type", "click", "purchase")
  }

  // Entropy / mutual information between the documents corpus's two
  // labelings (language × source) — the information-theoretic companion
  // to q_q14's Cramér's V: how much knowing the source tells you about
  // the language (H(lang|source)), and the [0,1] NMI a mixture designer
  // thresholds before stratifying one by the other. Both engines compute
  // the identical −Σ p·ln(marginal/n) cell terms over the same exact
  // integer counts (the q_q12 discipline); I = H(X)+H(Y)−H(X,Y).
  private val qQ15 = Q(
    "q_q15_mutual_information",
    """WITH c AS (SELECT lang AS x, source AS y, count(*) AS obs
      |           FROM documents GROUP BY 1, 2),
      |m AS (SELECT x, y, obs,
      |             sum(obs) OVER (PARTITION BY x) AS nx,
      |             sum(obs) OVER (PARTITION BY y) AS ny,
      |             sum(obs) OVER () AS n
      |      FROM c),
      |a AS (SELECT CAST(max(n) AS BIGINT) AS n,
      |             CAST(count(DISTINCT x) AS BIGINT) AS x_cats,
      |             CAST(count(DISTINCT y) AS BIGINT) AS y_cats,
      |             -sum((CAST(obs AS DOUBLE) / n) * ln(CAST(nx AS DOUBLE) / n)) AS h_x,
      |             -sum((CAST(obs AS DOUBLE) / n) * ln(CAST(ny AS DOUBLE) / n)) AS h_y,
      |             -sum((CAST(obs AS DOUBLE) / n) * ln(CAST(obs AS DOUBLE) / n)) AS h_xy
      |      FROM m)
      |SELECT n, x_cats, y_cats, h_x, h_y, h_xy,
      |       h_x + h_y - h_xy AS mi,
      |       h_xy - h_x AS h_y_given_x,
      |       CASE WHEN h_x > 0 AND h_y > 0
      |            THEN (h_x + h_y - h_xy) / sqrt(h_x * h_y) END AS nmi
      |FROM a""".stripMargin) { (s, dir) =>
    DataProfile.mutualInformation(
      Tables.load(s, dir, "documents"), "lang", "source")
  }

  // Sketch-based distinct-set overlap (Audits.hllIntersection): how many
  // distinct customers the URGENT and HIGH order segments share,
  // answered by inclusion–exclusion over MERGEABLE per-slice HLL
  // sketches — est(A∩B) = est(A) + est(B) − est(A∪B) with the union as
  // a sketch merge, never a re-scan. The oracle pins the exact counts
  // and the accuracy flag (bounded vs the UNION cardinality, whose
  // magnitude the three estimates' errors actually track).
  private val qA16 = Q(
    "q_a16_hll_intersection",
    """WITH f AS (SELECT o_custkey,
      |                  max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS ina,
      |                  max(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS inb
      |           FROM orders
      |           WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      |           GROUP BY 1)
      |SELECT '1-URGENT' AS slice_a, '2-HIGH' AS slice_b,
      |       CAST(sum(ina) AS BIGINT) AS exact_a,
      |       CAST(sum(inb) AS BIGINT) AS exact_b,
      |       CAST(count(*) AS BIGINT) AS exact_union,
      |       CAST(sum(ina * inb) AS BIGINT) AS exact_intersection,
      |       true AS est_ok
      |FROM f""".stripMargin) { (s, dir) =>
    graft.operators.Audits.hllIntersection(
      Tables.load(s, dir, "orders"), "o_orderpriority", "o_custkey",
      "1-URGENT", "2-HIGH")
  }

  // Delete-group jackknife CI (DataProfile.jackknifeMeanCI): a
  // DETERMINISTIC uncertainty band for a corpus profile statistic — no
  // bootstrap RNG, folds by doc_id % 10, leave-one-out means from exact
  // per-fold decimal sums, centered squares re-summed through DECIMAL
  // so every aggregate is shuffle-order-proof. The oracle replays the
  // identical fold/θ/SE arithmetic.
  private val qQ16 = Q(
    "q_q16_jackknife_ci",
    """WITH pf AS (
      |  SELECT doc_id % 10 AS g, count(*) AS n,
      |         sum(CAST(n_chars AS DECIMAL(38,6))) AS s
      |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n,
      |               CAST(sum(s) AS DECIMAL(38,6)) AS st,
      |               CAST(count(*) AS BIGINT) AS gp FROM pf),
      |loo AS (
      |  SELECT tot.n, tot.gp,
      |         CAST(tot.st AS DOUBLE) / tot.n AS mean,
      |         CAST(tot.st - pf.s AS DOUBLE) / (tot.n - pf.n) AS theta
      |  FROM pf CROSS JOIN tot),
      |tb AS (
      |  SELECT n, gp, mean,
      |         CAST(sum(CAST(theta AS DECIMAL(38,18))) AS DOUBLE) / gp AS tbar
      |  FROM loo GROUP BY 1, 2, 3),
      |ssq AS (
      |  SELECT l.n, l.gp, l.mean,
      |         CAST(sum(CAST((l.theta - tb.tbar) * (l.theta - tb.tbar)
      |                  AS DECIMAL(38,18))) AS DOUBLE) AS v
      |  FROM loo l JOIN tb ON l.n = tb.n GROUP BY 1, 2, 3)
      |SELECT n, mean,
      |       sqrt(CAST(gp - 1 AS DOUBLE) / gp * v) AS jackknife_se,
      |       mean - 1.96 * sqrt(CAST(gp - 1 AS DOUBLE) / gp * v) AS ci_lo,
      |       mean + 1.96 * sqrt(CAST(gp - 1 AS DOUBLE) / gp * v) AS ci_hi
      |FROM ssq""".stripMargin) { (s, dir) =>
    graft.operators.DataProfile.jackknifeMeanCI(
      Tables.load(s, dir, "documents"), "n_chars", "doc_id", folds = 10)
  }

  // Benford's-law first-digit audit (DataProfile.benfordReport, Nigrini
  // 2012): the forensic screen for fabricated/truncated numeric columns
  // over l_extendedprice. Digit extraction is BOUNDARY-PROOF — the
  // symmetric clamp (d≥10→1, d=0→9) resolves to the same digit
  // whichever side of a power-of-ten boundary each engine's log10
  // lands on — so the 9 per-digit counts are exact integers in both
  // engines; shares and χ² contributions are ratios of those integers.
  private val qQ17 = Q(
    "q_q17_benford_audit",
    """WITH v AS (
      |  SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL AND CAST(l_extendedprice AS DOUBLE) > 0
      |    AND NOT isnan(CAST(l_extendedprice AS DOUBLE))),
      |dg AS (
      |  SELECT CASE WHEN d0 >= 10 THEN 1 WHEN d0 = 0 THEN 9 ELSE d0 END AS digit
      |  FROM (SELECT CAST(floor(x / pow(10.0, floor(log10(x)))) AS INT) AS d0
      |        FROM v)),
      |ct AS (SELECT digit, count(*) AS n FROM dg GROUP BY 1),
      |tt AS (SELECT sum(n) AS t FROM ct)
      |SELECT digit, CAST(n AS BIGINT) AS n,
      |       round(CAST(n AS DOUBLE) / CAST(t AS DOUBLE), 6) AS observed_share,
      |       round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 6) AS expected_share,
      |       round((CAST(n AS DOUBLE) - CAST(t AS DOUBLE)
      |                * (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)))
      |             * (CAST(n AS DOUBLE) - CAST(t AS DOUBLE)
      |                * (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)))
      |             / (CAST(t AS DOUBLE)
      |                * (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0))), 6)
      |         AS chi2_contrib
      |FROM ct CROSS JOIN tt
      |ORDER BY digit""".stripMargin) { (s, dir) =>
    graft.operators.DataProfile.benfordReport(
      Tables.load(s, dir, "lineitem"), "l_extendedprice")
  }

  // Exact percentile profile (p50/p90/p99 per return flag): Spark's
  // `percentile` and DuckDB's `quantile_cont` implement the identical
  // (n−1)·p linear interpolation — probed bit-identical on this data —
  // so the profile is value-exact, not approximate. The per-group
  // sort happens inside ONE hash-aggregate percentile (no global
  // sort); at scale the groups partition the work.
  private val qQ18 = Q(
    "q_q18_percentile_profile",
    """WITH g AS (
      |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |         quantile_cont(CAST(l_extendedprice AS DOUBLE), [0.5, 0.9, 0.99]) AS q
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, n, p, round(v, 6) AS value
      |FROM (
      |  SELECT l_returnflag, n, 0.5 AS p, q[1] AS v FROM g
      |  UNION ALL SELECT l_returnflag, n, 0.9, q[2] FROM g
      |  UNION ALL SELECT l_returnflag, n, 0.99, q[3] FROM g)
      |ORDER BY l_returnflag, p""".stripMargin) { (s, dir) =>
    // r17 opt: materialize the 3-row percentile aggregate ONCE — the
    // three union branches below otherwise each re-run the final
    // percentile merge of the (reused) partial-agg exchange, profiled
    // as 3 × ~1.3 s stages for one 3-row answer
    val g = Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        expr("percentile(CAST(l_extendedprice AS DOUBLE), array(0.5, 0.9, 0.99))")
          .as("q"))
      .pin()
    g.select(col("l_returnflag"), col("n"), lit(0.5).as("p"),
        round(element_at(col("q"), 1), 6).as("value"))
      .unionByName(g.select(col("l_returnflag"), col("n"), lit(0.9).as("p"),
        round(element_at(col("q"), 2), 6).as("value")))
      .unionByName(g.select(col("l_returnflag"), col("n"), lit(0.99).as("p"),
        round(element_at(col("q"), 3), 6).as("value")))
      .orderBy("l_returnflag", "p")
  }

  // Welch's unequal-variance t-test (Welch 1947) between the TRAINED
  // q_c13 classifier's scores on en vs non-en documents — the
  // significance readout next to the q_q7 drift family: "is the score
  // distribution actually different across this slice". Scores are
  // 6-decimal-rounded doubles, so Σs and Σs² accumulate as EXACT
  // decimals and the t statistic and Welch–Satterthwaite df derive
  // from order-free sums (sample variance via the n·Σs²−(Σs)²
  // numerator, the heaps-fit discipline).
  private val qQ19 = Q(
    "q_q19_welch_ttest",
    s"""WITH ${CurationQueries.qcTrainCtes},
      |qs AS (SELECT f.doc_id, f.y,
      |              round(1.0 / (1.0 + exp(-(${CurationQueries.qcZ("wt3")}))), 6) AS score
      |       FROM f CROSS JOIN wt3),
      |m AS (SELECT y, CAST(count(*) AS BIGINT) AS n,
      |             sum(CAST(score AS DECIMAL(18,6))) AS s,
      |             sum(CAST(score AS DECIMAL(18,6)) * CAST(score AS DECIMAL(18,6))) AS ss
      |      FROM qs GROUP BY y),
      |w AS (SELECT
      |   max(CASE WHEN y = 1.0 THEN n END) AS n1,
      |   max(CASE WHEN y = 0.0 THEN n END) AS n0,
      |   CAST(max(CASE WHEN y = 1.0 THEN s END) AS DOUBLE) AS s1,
      |   CAST(max(CASE WHEN y = 0.0 THEN s END) AS DOUBLE) AS s0,
      |   CAST(CAST(max(CASE WHEN y = 1.0 THEN n END) AS DECIMAL(9,0))
      |        * CAST(max(CASE WHEN y = 1.0 THEN ss END) AS DECIMAL(25,12))
      |        - CAST(max(CASE WHEN y = 1.0 THEN s END) AS DECIMAL(18,6))
      |          * CAST(max(CASE WHEN y = 1.0 THEN s END) AS DECIMAL(18,6))
      |        AS DOUBLE) AS nv1,
      |   CAST(CAST(max(CASE WHEN y = 0.0 THEN n END) AS DECIMAL(9,0))
      |        * CAST(max(CASE WHEN y = 0.0 THEN ss END) AS DECIMAL(25,12))
      |        - CAST(max(CASE WHEN y = 0.0 THEN s END) AS DECIMAL(18,6))
      |          * CAST(max(CASE WHEN y = 0.0 THEN s END) AS DECIMAL(18,6))
      |        AS DOUBLE) AS nv0
      |  FROM m),
      |d AS (SELECT n1, n0,
      |        s1 / CAST(n1 AS DOUBLE) AS m1, s0 / CAST(n0 AS DOUBLE) AS m0,
      |        nv1 / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)) AS v1,
      |        nv0 / (CAST(n0 AS DOUBLE) * (CAST(n0 AS DOUBLE) - 1.0)) AS v0
      |      FROM w)
      |SELECT n1, n0, round(m1, 6) AS mean1, round(m0, 6) AS mean0,
      |       round((m1 - m0) / sqrt(v1 / CAST(n1 AS DOUBLE) + v0 / CAST(n0 AS DOUBLE)), 6) AS t,
      |       round((v1 / CAST(n1 AS DOUBLE) + v0 / CAST(n0 AS DOUBLE))
      |               * (v1 / CAST(n1 AS DOUBLE) + v0 / CAST(n0 AS DOUBLE))
      |             / ((v1 / CAST(n1 AS DOUBLE)) * (v1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)
      |                + (v0 / CAST(n0 AS DOUBLE)) * (v0 / CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1.0)), 6)
      |         AS welch_df
      |FROM d""".stripMargin) { (s, dir) =>
    val scored = CurationQueries.qcScoredPinned(s, dir)
    val sd = col("score").cast("decimal(18,6)")
    val m = scored.groupBy(col("y")).agg(
      count(lit(1)).as("n"), sum(sd).as("s"), sum(sd * sd).as("ss"))
    def pick(yv: Double, c: String) = max(when(col("y") === yv, col(c)))
    val w = m.agg(
      pick(1.0, "n").as("n1"), pick(0.0, "n").as("n0"),
      pick(1.0, "s").cast("double").as("s1"), pick(0.0, "s").cast("double").as("s0"),
      (pick(1.0, "n").cast("decimal(9,0)") * pick(1.0, "ss").cast("decimal(25,12)") -
        pick(1.0, "s").cast("decimal(18,6)") * pick(1.0, "s").cast("decimal(18,6)"))
        .cast("double").as("nv1"),
      (pick(0.0, "n").cast("decimal(9,0)") * pick(0.0, "ss").cast("decimal(25,12)") -
        pick(0.0, "s").cast("decimal(18,6)") * pick(0.0, "s").cast("decimal(18,6)"))
        .cast("double").as("nv0"))
    def dd(c: String) = col(c).cast("double")
    val d = w.select(col("n1"), col("n0"),
      (col("s1") / dd("n1")).as("m1"), (col("s0") / dd("n0")).as("m0"),
      (col("nv1") / (dd("n1") * (dd("n1") - lit(1.0)))).as("v1"),
      (col("nv0") / (dd("n0") * (dd("n0") - lit(1.0)))).as("v0"))
    val se1 = col("v1") / dd("n1")
    val se0 = col("v0") / dd("n0")
    d.select(
      col("n1"), col("n0"),
      round(col("m1"), 6).as("mean1"), round(col("m0"), 6).as("mean0"),
      round((col("m1") - col("m0")) / sqrt(se1 + se0), 6).as("t"),
      round((se1 + se0) * (se1 + se0) /
        (se1 * se1 / (dd("n1") - lit(1.0)) + se0 * se0 / (dd("n0") - lit(1.0))), 6)
        .as("welch_df"))
      .pin()
  }

  // Mergeable bottom-k-by-hash quantile sketch (QuantileSketch
  // .bottomKQuantiles over expressions.BottomKSample, the Cohen–Kaplan
  // KMV scheme): the SCALE PATH next to the exact percentile profile —
  // O(k) state per group, map-side combine, no full-group sort. The kept
  // sample is a pure function of the input multiset (not of partition
  // order, unlike KLL/t-digest), so with the portable md5-60 ranking
  // hash the oracle reproduces the sample EXACTLY even at 240× capacity
  // and replays the quantiles with quantile_cont (bit-identical to
  // Spark's percentile, the round-11 probe).
  private val qQ20 = Q(
    "q_q20_bottomk_quantiles",
    """WITH h AS (
      |  SELECT l_returnflag AS flag, CAST(l_quantity AS DOUBLE) AS v,
      |         ('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || ':'
      |            || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT AS hk
      |  FROM lineitem),
      |r AS (
      |  SELECT flag, v,
      |         row_number() OVER (PARTITION BY flag ORDER BY hk, v) AS rn,
      |         count(*) OVER (PARTITION BY flag) AS n
      |  FROM h)
      |SELECT flag AS l_returnflag,
      |       CAST(max(n) AS BIGINT) AS n_rows,
      |       CAST(count(*) AS BIGINT) AS sample_size,
      |       quantile_cont(v, 0.25) AS q_25,
      |       quantile_cont(v, 0.5) AS q_50,
      |       quantile_cont(v, 0.75) AS q_75,
      |       quantile_cont(v, 0.95) AS q_95
      |FROM r WHERE rn <= 256
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val li = Tables.load(s, dir, "lineitem")
    graft.operators.QuantileSketch.bottomKQuantiles(
      li, Seq("l_returnflag"),
      graft.functions.Hashing.md5Hash60(
        concat_ws(":", col("l_orderkey"), col("l_linenumber"))),
      col("l_quantity"), k = 256,
      quantiles = Seq(0.25, 0.5, 0.75, 0.95))
      .orderBy("l_returnflag")
  }

  // Hill tail-index estimator (DataProfile.hillTailIndex, Hill 1975):
  // the extreme-value audit next to Benford — is the column's upper
  // tail Pareto-heavy enough that means are unstable? Order statistics
  // via the bounded-heap TopKScoreId (map-side, no per-group sort);
  // each ln term rounded to 9 decimals and summed as exact DECIMAL so
  // H and α are partition-order-proof; the oracle replays the rank
  // window, the identical term rounding, and the same two IEEE
  // divisions of the exact sum.
  private val qQ21 = Q(
    "q_q21_hill_tail",
    """WITH pos AS (
      |  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v,
      |         l_orderkey * 8 + l_linenumber AS id
      |  FROM lineitem WHERE l_extendedprice > 0),
      |r AS (
      |  SELECT g, v,
      |         row_number() OVER (PARTITION BY g ORDER BY v DESC, id ASC) AS rn,
      |         count(*) OVER (PARTITION BY g) AS np
      |  FROM pos),
      |k1 AS (SELECT g, v AS xk1, np FROM r WHERE rn = 101),
      |t AS (
      |  SELECT r.g, CAST(round(ln(r.v / k1.xk1), 9) AS DECIMAL(18,9)) AS term
      |  FROM r JOIN k1 USING (g) WHERE r.rn <= 100),
      |ag AS (SELECT g, sum(term) AS s FROM t GROUP BY 1)
      |SELECT ag.g AS l_returnflag, CAST(k1.np AS BIGINT) AS n_pos,
      |       k1.xk1 AS x_k1,
      |       round(CAST(ag.s AS DOUBLE) / 100, 6) AS hill_h,
      |       round(100.0 / CAST(ag.s AS DOUBLE), 6) AS tail_alpha
      |FROM ag JOIN k1 USING (g)
      |ORDER BY 1""".stripMargin) { (s, dir) =>
    graft.operators.DataProfile.hillTailIndex(
      Tables.load(s, dir, "lineitem"),
      Seq("l_returnflag"), "l_extendedprice",
      col("l_orderkey") * 8 + col("l_linenumber"), k = 100)
      .orderBy("l_returnflag")
  }

  // HyperLogLog distinct sketch (operators.HyperLogLog, Flajolet et al.
  // 2007): the CARDINALITY sketch next to the bottom-k quantile sketch —
  // per-group register frames of 2^p integers that combine map-side and
  // merge by bucket-wise max. Engine-exact replay: the portable md5-60
  // hash reproduces every register in DuckDB; the harmonic sum is the
  // EXACT scaled integer Σ 2^(r0−M_j) (every term an integer, m·2^r0 =
  // 2^61 fits BIGINT), so the estimate is one double division of exact
  // integers + the fixed small-range branch. bin()-string bit length is
  // used on both sides because floor(log2)+1 mis-rounds just below
  // large powers of two. The gate also joins the EXACT distinct count
  // (affordable at gate scale) so the row itself shows the error the
  // spec bounds at 3σ = 3·1.04/√512.
  private val qQ22 = Q(
    "q_q22_hll_distinct",
    s"""WITH h AS (
      |  SELECT l_returnflag AS g,
      |         ('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS hk
      |  FROM lineitem),
      |$hllEstimateSql,
      |ex AS (SELECT l_returnflag AS g, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nd_exact
      |       FROM lineitem GROUP BY 1)
      |SELECT fin.g AS l_returnflag, CAST(512 AS INTEGER) AS m, fin.n_zero, fin.s_scaled,
      |       round(CASE WHEN e_raw <= CAST(2.5 AS DOUBLE) * CAST(512 AS DOUBLE) AND fin.n_zero > 0
      |                  THEN CAST(512 AS DOUBLE) * ln(CAST(512 AS DOUBLE) / CAST(fin.n_zero AS DOUBLE))
      |                  ELSE e_raw END, 6) AS nd_estimate,
      |       ex.nd_exact
      |FROM fin JOIN ex ON fin.g = ex.g
      |ORDER BY 1""".stripMargin) { (s, dir) =>
    val li = Tables.load(s, dir, "lineitem")
    val sketch = graft.operators.HyperLogLog.distinctSketch(
      li.select(col("l_returnflag"), col("l_orderkey")),
      Seq("l_returnflag"),
      graft.functions.Hashing.md5Hash60(col("l_orderkey").cast("string")),
      p = 9)
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct("l_orderkey").cast("bigint").as("nd_exact"))
    sketch.join(exact, "l_returnflag").orderBy("l_returnflag")
  }

  // Mann–Whitney U (operators.MannWhitney, 1947): the NONPARAMETRIC
  // two-sample test next to q_q19's Welch t — the readout that survives
  // the heavy tails q_q21 flags. Exact to the end: per-DISTINCT-VALUE
  // counts, the DOUBLED rank sum r1x2 = Σ tₐ(2·below+t+1) as a BIGINT
  // (midranks are halves — doubling keeps every intermediate integral,
  // no decimal-division semantics to match), exact tie correction
  // Σ(t³−t); only z forms in IEEE, rounded to 6. l_discount between
  // returnflags R and A is tie-saturated (11 distinct values over
  // ~30k rows) — the tie machinery is the thing under test.
  private val qQ23 = Q(
    "q_q23_mann_whitney",
    """WITH t AS (
      |  SELECT l_returnflag = 'R' AS isa, l_discount AS v
      |  FROM lineitem WHERE l_returnflag IN ('R', 'A') AND l_discount IS NOT NULL),
      |pv AS (
      |  SELECT v, sum(CASE WHEN isa THEN 1 ELSE 0 END) AS ta,
      |         sum(CASE WHEN isa THEN 0 ELSE 1 END) AS tb
      |  FROM t GROUP BY v),
      |r AS (
      |  SELECT ta, tb, ta + tb AS tt,
      |         COALESCE(sum(ta + tb) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      |  FROM pv),
      |ag AS (
      |  SELECT CAST(sum(ta) AS BIGINT) AS na, CAST(sum(tb) AS BIGINT) AS nb,
      |         CAST(sum(ta * (below * 2 + tt + 1)) AS BIGINT) AS r1x2,
      |         CAST(sum(tt * tt * tt - tt) AS BIGINT) AS tcorr
      |  FROM r)
      |SELECT na AS n_a, nb AS n_b,
      |       CAST(r1x2 - na * (na + 1) AS DOUBLE) / 2.0 AS u_a,
      |       CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
      |         - CAST(r1x2 - na * (na + 1) AS DOUBLE) / 2.0 AS u_b,
      |       CASE WHEN na > 0 AND nb > 0 AND
      |                 CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0 *
      |                 ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0)
      |                  - CAST(tcorr AS DOUBLE) / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
      |                      * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1.0))) > 0
      |            THEN round((CAST(r1x2 - na * (na + 1) AS DOUBLE) / 2.0
      |                        - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0)
      |                       / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0 *
      |                              ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0)
      |                               - CAST(tcorr AS DOUBLE) /
      |                                 ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
      |                                  * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1.0)))), 6)
      |       END AS z
      |FROM ag""".stripMargin) { (s, dir) =>
    graft.operators.MannWhitney.uTest(
      Tables.load(s, dir, "lineitem"),
      "l_returnflag", "l_discount", "R", "A")
  }

  // Spearman's ρ between two tie-heavy measures (Agreement.spearmanRho):
  // "do two scorers rank the corpus the same way" — l_discount vs l_tax
  // have 11 and 9 distinct values over the whole table, the exact
  // tie-saturated regime where midrank arithmetic must be EXACT
  // (doubled ranks, decimal moment sums — the q_q23 discipline) or the
  // estimate drifts with partition order. Oracle replays the doubled
  // midranks from per-distinct-value counts and the one-expression ρ.
  private val qQ24 = Q(
    "q_q24_spearman_scorers",
    """WITH pts AS (
      |  SELECT l_discount AS x, l_tax AS y FROM lineitem
      |  WHERE l_discount IS NOT NULL AND l_tax IS NOT NULL),
      |rx AS (
      |  SELECT x, 2 * coalesce(sum(t) OVER (ORDER BY x
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS x_r2
      |  FROM (SELECT x, CAST(count(*) AS BIGINT) AS t FROM pts GROUP BY 1)),
      |ry AS (
      |  SELECT y, 2 * coalesce(sum(t) OVER (ORDER BY y
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS y_r2
      |  FROM (SELECT y, CAST(count(*) AS BIGINT) AS t FROM pts GROUP BY 1)),
      |ranked AS (SELECT rx.x_r2, ry.y_r2 FROM pts JOIN rx USING (x) JOIN ry USING (y)),
      |ag AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         sum(CAST(x_r2 AS DECIMAL(38,0))) AS sx,
      |         sum(CAST(y_r2 AS DECIMAL(38,0))) AS sy,
      |         sum(CAST(x_r2 AS DECIMAL(38,0)) * x_r2) AS sxx,
      |         sum(CAST(y_r2 AS DECIMAL(38,0)) * y_r2) AS syy,
      |         sum(CAST(x_r2 AS DECIMAL(38,0)) * y_r2) AS sxy
      |  FROM ranked)
      |SELECT n AS n_obs,
      |       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
      |             AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
      |            THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |                       / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |                              * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
      |       END AS rho
      |FROM ag""".stripMargin) { (s, dir) =>
    graft.operators.Agreement.spearmanRho(
      Tables.load(s, dir, "lineitem"), "l_discount", "l_tax")
  }

  override val all: Seq[Q] =
    Seq(qQ1, qQ2, qA8, qQ3, qQ4, qA9, qA10, qQ5, qQ6, qQ7, qQ8, qA11, qQ9, qA12,
      qQ10, qQ11, qA13, qQ12, qA15, qQ13, qQ14, qQ15, qA16, qQ16, qQ17, qQ18, qQ19,
      qQ20, qQ21, qQ22, qQ23, qQ24)
}
