package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.ColumnMap
import graft.operators.{Dedup, Descriptors, SyncDiff}

/** SURVEY.md §2 relational operator inventory, one verifiable query per
  * operator family, executed natively over the harness parquet tables.
  * Each cites the reference behavior it re-expresses.
  */
object RelationalQueries extends QueryGroup {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // S1-ish native scan + projection + filter pushdown (Dao.java:40-75 made
  // columnar: filter + pruning reach the parquet scan).
  private val qScan = Q(
    "q_s1_scan_project",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
      |FROM lineitem WHERE l_quantity > 45
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_quantity") > 45)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")
  }

  // P1: column-map projection — case-insensitive physical resolution,
  // unmapped → NULL (SisConnectorService.java:226-235,830-836).
  private val qP1 = Q(
    "q_p1_columnmap_projection",
    """SELECT c_custkey AS studentUniqueId, c_name AS fullName,
      |       c_mktsegment AS segment, CAST(NULL AS VARCHAR) AS unmappedField
      |FROM customer ORDER BY studentUniqueId""".stripMargin) { (s, dir) =>
    val m = ColumnMap(Seq(
      "studentUniqueId" -> "C_CUSTKEY",    // case-insensitive on purpose
      "fullName"        -> "c_NAME",
      "segment"         -> "c_mktsegment",
      "unmappedField"   -> "NO_SUCH_COLUMN"))
    m.project(t(s, dir, "customer")).orderBy("studentUniqueId")
  }

  // P2: equality filter (teacherCandidateIds.sql:4-6).
  private val qP2 = Q(
    "q_p2_filter_eq",
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  // P3: IN-list predicate (teacherCandidateIds.sql:7).
  private val qP3 = Q(
    "q_p3_in_list",
    """SELECT o_orderkey, o_orderpriority FROM orders
      |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select("o_orderkey", "o_orderpriority")
      .orderBy("o_orderkey")
  }

  // P4 + P8: IS NULL predicate (teacherCandidateAddresses.sql:22) and the
  // null-sentinel compat surface (Dao.java:64-67) — we keep real NULLs and
  // provide the "[null]" encode as an expression.
  private val qP4 = Q(
    "q_p4_null_predicate",
    """SELECT o_orderkey,
      |       nullif(o_orderstatus, 'O') AS closed_status,
      |       coalesce(nullif(o_orderstatus, 'O'), '[null]') AS sentinel_compat
      |FROM orders WHERE nullif(o_orderstatus, 'O') IS NULL
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val closed = nullif(col("o_orderstatus"), lit("O"))
    t(s, dir, "orders")
      .withColumn("closed_status", closed)
      .withColumn("sentinel_compat", graft.functions.Compat.encodeNullSentinel(closed))
      .filter(closed.isNull)
      .select("o_orderkey", "closed_status", "sentinel_compat")
      .orderBy("o_orderkey")
  }

  // P5: CASE WHEN code mapping (teacherCandidateAddresses.sql:9-15 maps
  // MA/PR/else → Mailing/Permanent/Other).
  private val qP5 = Q(
    "q_p5_case_when",
    """SELECT o_orderkey,
      |       CASE WHEN o_orderpriority = '1-URGENT' THEN 'Urgent'
      |            WHEN o_orderpriority = '2-HIGH'   THEN 'High'
      |            ELSE 'Other' END AS priority_class
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        when(col("o_orderpriority") === "1-URGENT", "Urgent")
          .when(col("o_orderpriority") === "2-HIGH", "High")
          .otherwise("Other")
          .as("priority_class"))
      .orderBy("o_orderkey")
  }

  // P6 + P7 + P9: literal columns, scalar functions, casts
  // (teacherCandidate.sql:3-10 — constants, TO_DATE; assembly casts).
  private val qP6 = Q(
    "q_p6_scalar_exprs",
    """SELECT l_orderkey, l_linenumber,
      |       'uri://ed-fi.org' AS namespace,
      |       upper(l_returnflag) AS rf_upper,
      |       substring(l_linestatus, 1, 1) AS ls_initial,
      |       CAST(l_shipdate AS DATE) AS ship_date,
      |       CAST(year(l_shipdate) AS INT) AS ship_year,
      |       CAST(l_quantity AS INT) AS qty_int,
      |       DATE '1950-04-01' AS fixed_date
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        lit("uri://ed-fi.org").as("namespace"),
        upper(col("l_returnflag")).as("rf_upper"),
        substring(col("l_linestatus"), 1, 1).as("ls_initial"),
        col("l_shipdate").cast("date").as("ship_date"),
        year(col("l_shipdate")).as("ship_year"),
        col("l_quantity").cast("int").as("qty_int"),
        to_date(lit("1950-04-01")).as("fixed_date"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // J1: inner equi-join (teacherCandidateIds.sql:2-3) — Catalyst picks the
  // strategy; at sf-large this is a shuffled hash/SMJ on the key.
  private val qJ1 = Q(
    "q_j1_inner_join",
    """SELECT c_custkey, c_name, o_orderkey, o_totalprice
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  // J2: the N+1 per-key loop (Dao.java:78-114, SisConnectorService.java:
  // 147-158) replaced by ONE scan + hash join — the reference's biggest
  // scalability rewrite.
  private val qJ2 = Q(
    "q_j2_keyset_join",
    """SELECT c_custkey, o_orderkey, o_orderstatus
      |FROM (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') ids
      |JOIN orders ON o_custkey = c_custkey
      |ORDER BY c_custkey, o_orderkey""".stripMargin) { (s, dir) =>
    val ids = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    ids
      .join(t(s, dir, "orders"), col("o_custkey") === col("c_custkey"))
      .select("c_custkey", "o_orderkey", "o_orderstatus")
      .orderBy("c_custkey", "o_orderkey")
  }

  // J3: broadcast descriptor lookup with passthrough fallback
  // (SisConnectorService.java:510-516): dimension deliberately partial so
  // both branches of the coalesce are exercised.
  private val qJ3 = Q(
    "q_j3_descriptor_lookup",
    """SELECT c_custkey,
      |       coalesce('uri://ed-fi.org/' || n_name, CAST(c_nationkey AS VARCHAR)) AS nation_uri
      |FROM customer
      |LEFT JOIN (SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 13) dim
      |  ON c_nationkey = n_nationkey
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val dim = t(s, dir, "nation").filter(col("n_nationkey") < 13)
    Descriptors
      .resolve(t(s, dir, "customer"), dim,
        codeCol = "c_nationkey", dimCode = "n_nationkey", dimValue = "n_name",
        outCol = "nation_uri", namespacePrefix = "uri://ed-fi.org/")
      .select("c_custkey", "nation_uri")
      .orderBy("c_custkey")
  }

  // J4/O3: anti-join sync diff (SisConnectorService.java:463-470) — target
  // records with no source key → delete set.
  private val qJ4 = Q(
    "q_j4_anti_diff",
    """SELECT c_custkey FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    SyncDiff
      .plan(
        source = t(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
        target = t(s, dir, "customer"),
        keyCols = Seq("c_custkey"))
      .deletes
      .select("c_custkey")
      .orderBy("c_custkey")
  }

  // Semi join (EXISTS): the keep-side complement of J4.
  private val qJ6 = Q(
    "q_j6_semi_join",
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  // J5 + A2: left join for re-nesting, verified flat via deterministic
  // string aggregation (arrays sorted so collect order can't leak in).
  private val qJ5 = Q(
    "q_j5_nest_join",
    """SELECT c_custkey,
      |       coalesce(string_agg(CAST(o_orderkey AS VARCHAR), ','
      |                           ORDER BY CAST(o_orderkey AS VARCHAR)), '') AS order_ids
      |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("o_custkey") === col("c_custkey"), "left")
      .groupBy("c_custkey")
      .agg(
        coalesce(
          array_join(sort_array(collect_list(col("o_orderkey").cast("string"))), ","),
          lit("")).as("order_ids"))
      .orderBy("c_custkey")
  }

  // A1: group + collect distinct nested set (addTeacherAddress,
  // SisConnectorService.java:392-408), flattened as count(distinct pair)
  // for the oracle; the true nested form feeds the flagship pipeline.
  private val qA1 = Q(
    "q_a1_dedup_groups",
    """SELECT l_orderkey,
      |       CAST(count(DISTINCT (l_returnflag, l_linestatus)) AS INT) AS n_distinct_pairs,
      |       CAST(count(*) AS INT) AS n_rows
      |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(
        countDistinct(col("l_returnflag"), col("l_linestatus")).cast("int").as("n_distinct_pairs"),
        count(lit(1)).cast("int").as("n_rows"))
      .orderBy("l_orderkey")
  }

  // A3: last-row-wins collapse (SisConnectorService.java:240-293) made
  // explicit and deterministic — l_linenumber is non-unique per order in
  // the testdata, so the total-order variant breaks ties by value columns.
  private val qA3 = Q(
    "q_a3_last_row_wins",
    """SELECT l_orderkey, l_quantity, l_returnflag,
      |       CAST(l_linenumber AS INT) AS l_linenumber
      |FROM (SELECT l_orderkey, l_quantity, l_returnflag, l_linenumber,
      |             row_number() OVER (PARTITION BY l_orderkey
      |                                ORDER BY l_linenumber DESC, l_quantity DESC, l_returnflag DESC) AS rn
      |      FROM lineitem) t
      |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin) { (s, dir) =>
    Dedup
      .lastRowWinsTotal(
        t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"),
        keyCols = Seq("l_orderkey"),
        orderCols = Seq("l_linenumber"))
      .select(
        col("l_orderkey"), col("l_quantity"), col("l_returnflag"),
        col("l_linenumber").cast("int").as("l_linenumber"))
      .orderBy("l_orderkey")
  }

  // DISTINCT (A1's degenerate exact form).
  private val qDistinct = Q(
    "q_a1_distinct",
    """SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
      |ORDER BY c_nationkey, c_mktsegment""".stripMargin) { (s, dir) =>
    Dedup
      .distinctRows(t(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"))
      .orderBy("c_nationkey", "c_mktsegment")
  }

  // O1: ORDER BY + top-k (teacherCandidateIds.sql:8) — ties fully broken.
  private val qO1 = Q(
    "q_o1_sort_limit",
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  // O2: limit/offset pagination (REST paging params,
  // TeacherCandidatesApi.java:186-191).
  private val qO2 = Q(
    "q_o2_limit_offset",
    """SELECT o_orderkey, o_orderpriority FROM orders
      |ORDER BY o_orderkey LIMIT 50 OFFSET 100""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .select("o_orderkey", "o_orderpriority")
      .orderBy("o_orderkey")
      .offset(100)
      .limit(50)
  }

  // O3: set difference (the behavioral target EXCEPT source of the sync).
  private val qO3 = Q(
    "q_o3_except",
    """SELECT c_custkey FROM customer
      |EXCEPT SELECT o_custkey FROM orders
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer").select("c_custkey")
      .except(t(s, dir, "orders").select(col("o_custkey").as("c_custkey")))
      .orderBy("c_custkey")
  }

  // Set ops beyond the reference (engine completeness): UNION / INTERSECT.
  private val qUnion = Q(
    "q_set_union",
    """SELECT c_nationkey AS nk FROM customer
      |UNION SELECT s_nationkey FROM supplier ORDER BY nk""".stripMargin) { (s, dir) =>
    t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      .union(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
      .distinct()
      .orderBy("nk")
  }

  private val qIntersect = Q(
    "q_set_intersect",
    """SELECT c_nationkey AS nk FROM customer
      |INTERSECT SELECT s_nationkey FROM supplier ORDER BY nk""".stripMargin) { (s, dir) =>
    t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
      .orderBy("nk")
  }

  // Window functions (engine completeness; absent from the reference —
  // SURVEY.md §2.5): ranking + running aggregate in one pass. The window
  // order is a TOTAL order ((orderkey, linenumber, qty, price, discount,
  // shipdate) is unique in the testdata) so ranks and running sums are
  // engine-independent.
  private val qWindow = Q(
    "q_w_window_funcs",
    """SELECT l_orderkey, l_linenumber,
      |       CAST(row_number() OVER (PARTITION BY l_orderkey
      |              ORDER BY l_linenumber, l_quantity, l_extendedprice, l_discount, l_shipdate) AS INT) AS rn,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
      |            OVER (PARTITION BY l_orderkey
      |                  ORDER BY l_linenumber, l_quantity, l_extendedprice, l_discount, l_shipdate
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
      |FROM lineitem ORDER BY l_orderkey, rn""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("l_orderkey")).orderBy(
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_shipdate"))
    t(s, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        row_number().over(w).as("rn"),
        sum(col("l_quantity").cast("decimal(18,2)"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_qty"))
      .orderBy("l_orderkey", "rn")
  }

  // Outer joins (beyond the reference's left-ish shapes): full outer with
  // both-null-side rows exercised.
  private val qJ7 = Q(
    "q_j7_full_outer",
    """SELECT n_nationkey, n_name, s_suppkey
      |FROM (SELECT * FROM nation WHERE n_nationkey < 20) n
      |FULL OUTER JOIN supplier ON s_nationkey = n_nationkey
      |ORDER BY n_nationkey NULLS FIRST, s_suppkey NULLS FIRST""".stripMargin) { (s, dir) =>
    t(s, dir, "nation").filter(col("n_nationkey") < 20)
      .join(t(s, dir, "supplier"), col("s_nationkey") === col("n_nationkey"), "full_outer")
      .select("n_nationkey", "n_name", "s_suppkey")
      .orderBy(col("n_nationkey").asc_nulls_first, col("s_suppkey").asc_nulls_first)
  }

  // Cross join (the join lattice's degenerate case; tiny inputs only).
  private val qJ8 = Q(
    "q_j8_cross_join",
    """SELECT r_name, n_name FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
    t(s, dir, "region").select("r_name")
      .crossJoin(t(s, dir, "nation").select("n_name"))
      .orderBy("r_name", "n_name")
  }

  // ROLLUP: subtotal lattice over two grouping columns; grouping() columns
  // disambiguate real NULLs from subtotal rows.
  private val qRollup = Q(
    "q_a4_rollup",
    """SELECT l_returnflag, l_linestatus,
      |       CAST(grouping(l_returnflag) AS INT) AS g_rf,
      |       CAST(grouping(l_linestatus) AS INT) AS g_ls,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .select("l_returnflag", "l_linestatus", "g_rf", "g_ls", "sum_qty")
      .orderBy(col("g_rf"), col("g_ls"), col("l_returnflag"), col("l_linestatus"))
  }

  // Distinct-count: exact (oracle) alongside the HLL sketch the scale path
  // uses (approx is engine-specific → sanity-bounded here, not hashed).
  private val qA5 = Q(
    "q_a5_count_distinct",
    """SELECT l_returnflag,
      |       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
      .orderBy("l_returnflag")
  }

  // The headline aggregation (TPC-H Q1 shape): decimal-exact money math so
  // the result is independent of partial-aggregation order.
  private val qAgg = Q(
    "q1_agg",
    """SELECT l_returnflag, l_linestatus,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
      |       CAST(count(*) AS INT) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    val qty   = col("l_quantity").cast("decimal(18,2)")
    val price = col("l_extendedprice").cast("decimal(18,2)")
    val disc  = col("l_discount").cast("decimal(4,2)")
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(qty).cast("double").as("sum_qty"),
        sum(price).cast("double").as("sum_base_price"),
        sum(price * (lit(1) - disc)).cast("double").as("sum_disc_price"),
        (sum(qty).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).cast("int").as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // Events: tumbling-window style aggregation (batch form; the streaming
  // twin lives in graft.streaming).
  private[queries] val qEvents = Q(
    "q_e1_event_window_agg",
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket,
      |       event_type,
      |       CAST(count(*) AS INT) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_bucket"),
        col("event_type"))
      .agg(
        count(lit(1)).cast("int").as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .orderBy("hour_bucket", "event_type")
  }

  // Sessionization, batch form: lag() gap detection — the oracle-checkable
  // twin of the stateful streaming sessionizer.
  private[queries] val qSessions = Q(
    "q_e2_sessionize",
    """SELECT user_id,
      |       CAST(count(*) AS INT) AS n_events,
      |       CAST(sum(CASE WHEN prev_ts IS NULL
      |                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END) AS INT) AS n_sessions
      |FROM (SELECT user_id, ts,
      |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |      FROM events) t
      |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .groupBy("user_id")
      .agg(
        count(lit(1)).cast("int").as("n_events"),
        sum(
          when(
            col("prev_ts").isNull ||
              (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > 1800000000L,
            1).otherwise(0)).cast("int").as("n_sessions"))
      .orderBy("user_id")
  }

  // Exact interpolated percentiles (both engines: linear interpolation
  // over the sorted values — identical arithmetic).
  private val qA6 = Q(
    "q_a6_percentiles",
    """SELECT event_type,
      |       quantile_cont(value, 0.5) AS p50,
      |       quantile_cont(value, 0.9) AS p90
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"))
      .orderBy("event_type")
  }

  // Approximate percentiles (Greenwald-Khanna sketch — the mergeable
  // one-pass summary that replaces exact percentile's per-group value
  // buffering at scale), gated as a within-tolerance invariant against
  // the exact result computed in the same aggregate (the q_a5b pattern:
  // exact values verbatim for the oracle, booleans for the sketch).
  private val qA6b = Q(
    "q_a6b_approx_percentiles",
    """SELECT event_type,
      |       quantile_cont(value, 0.5) AS p50_exact,
      |       quantile_cont(value, 0.9) AS p90_exact,
      |       true AS p50_ok, true AS p90_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    // tolerance: GK accuracy 1000 bounds rank error at n/1000; translate
    // to a value-space bound via the exact p10-p99 spread (values are
    // roughly uniform here; a rank-exact check would re-sort per group)
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(
        expr("percentile(value, 0.5)").as("p50_exact"),
        expr("percentile(value, 0.9)").as("p90_exact"),
        expr("approx_percentile(value, 0.5, 1000)").as("__a50"),
        expr("approx_percentile(value, 0.9, 1000)").as("__a90"),
        expr("percentile(value, 0.99) - percentile(value, 0.1)").as("__spread"))
      .select(
        col("event_type"), col("p50_exact"), col("p90_exact"),
        (abs(col("__a50") - col("p50_exact")) <= col("__spread") * 0.05).as("p50_ok"),
        (abs(col("__a90") - col("p90_exact")) <= col("__spread") * 0.05).as("p90_ok"))
      .orderBy("event_type")
  }

  // Pivot: per-user event counts spread into one column per type (explicit
  // value list — no driver-side distinct scan). Absent combos emitted as 0
  // on both sides.
  private val qPivot = Q(
    "q_p11_pivot",
    """SELECT user_id,
      |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS INT) AS click,
      |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS INT) AS error,
      |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS INT) AS purchase,
      |       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS INT) AS signup,
      |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS INT) AS view
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    val types = Seq("click", "error", "purchase", "signup", "view")
    types.foldLeft(
      t(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", types)
        .count()) { (df, c) => df.withColumn(c, coalesce(col(c), lit(0L)).cast("int")) }
      .orderBy("user_id")
  }

  // HLL-sketch distinct counting — the 100 TB path where exact
  // countDistinct's full shuffle is the bottleneck. The sketch value is
  // engine-specific, so the gate checks the INVARIANT: per group, the
  // HLL++ estimate lands within the documented tolerance of the exact
  // count (default rsd 5%; bound set at 15% for margin), alongside the
  // exact count verified verbatim.
  private val qA5b = Q(
    "q_a5b_approx_distinct",
    """SELECT event_type,
      |       CAST(count(DISTINCT user_id) AS INT) AS n_exact,
      |       true AS within_tolerance
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).cast("int").as("n_exact"),
        approx_count_distinct(col("user_id")).as("__approx"))
      .select(
        col("event_type"),
        col("n_exact"),
        (abs(col("__approx") - col("n_exact")).cast("double") / col("n_exact") <= 0.15)
          .as("within_tolerance"))
      .orderBy("event_type")
  }

  // As-of join: attribute each purchase to the user's latest prior click
  // (DuckDB's native ASOF LEFT JOIN is the oracle; timestamps pre-truncated
  // to microseconds on the oracle side to match Spark's timestamp unit).
  // Clicks are pre-deduped to one per (user, microsecond) — max event_id,
  // the same choice AsOfJoin's tieBreakCol would make — because DuckDB's
  // ASOF picks an ARBITRARY row among equal-timestamp matches; without the
  // dedup the gate would rely on the corpus never producing a tie.
  private val qAsOf = Q(
    "q_e3_asof_attribution",
    """WITH ev AS (
      |  SELECT event_id, date_trunc('microseconds', ts) AS ts, user_id, event_type, value
      |  FROM events),
      |p AS (SELECT * FROM ev WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts, max(event_id) AS event_id
      |      FROM ev WHERE event_type = 'click' GROUP BY 1, 2)
      |SELECT p.event_id, p.user_id, p.value,
      |       c.event_id AS click_id,
      |       epoch_us(p.ts) - epoch_us(c.ts) AS wait_us
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.event_id""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts")
      .agg(max("event_id").as("event_id"))
    graft.operators.AsOfJoin
      .leftAsOf(purchases, clicks, "user_id", "ts",
        carryCols = Seq("event_id", "ts"), tieBreakCol = "event_id")
      .select(
        col("event_id"), col("user_id"), col("value"),
        col("asof_event_id").as("click_id"),
        (unix_micros(col("ts")) - unix_micros(col("asof_ts"))).as("wait_us"))
      .orderBy("event_id")
  }

  // CUBE: the full grouping lattice (rollup's superset — every grouping
  // combination including per-linestatus-only subtotals).
  private val qCube = Q(
    "q_a4b_cube",
    """SELECT l_returnflag, l_linestatus,
      |       CAST(grouping(l_returnflag) AS INT) AS g_rf,
      |       CAST(grouping(l_linestatus) AS INT) AS g_ls,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(
        grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .select("l_returnflag", "l_linestatus", "g_rf", "g_ls", "sum_qty")
      .orderBy(col("g_rf"), col("g_ls"), col("l_returnflag"), col("l_linestatus"))
  }

  // Native session_window sessionization — must agree with the lag-gap
  // twin (q_e2), so the oracle is the same gap arithmetic: sessions are
  // maximal runs with inter-event gaps <= 30 min. (session_window merges
  // events closer than the gap; lag counts a new session when the gap
  // exceeds it — identical partitions of each user's timeline.)
  private val qSessionWindow = Q(
    "q_e2b_session_window",
    """SELECT user_id,
      |       CAST(sum(CASE WHEN prev_ts IS NULL
      |                       OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000 THEN 1 ELSE 0 END) AS INT) AS n_sessions
      |FROM (SELECT user_id, ts,
      |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |      FROM events) t
      |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)))
      .groupBy("user_id")
      .agg(count(lit(1)).cast("int").as("n_sessions"))
      .orderBy("user_id")
  }

  // Multi-join aggregate (TPC-H Q3 shape): 3-table join with filters on
  // every side, grouped revenue, top-10 — the plan Catalyst must get right
  // at scale (filter pushdown on all three scans, join order, partial
  // aggregation before the group shuffle). Revenue goes through DECIMAL so
  // the sum is order-independent; DESC sort tie-broken on the key.
  private val qJ9 = Q(
    "q_j9_multijoin_topk",
    """SELECT l_orderkey,
      |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |       CAST(o_orderdate AS DATE) AS o_orderdate
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
      |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .join(t(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") < lit("1995-03-15").cast("date")),
        col("c_custkey") === col("o_custkey"))
      .join(t(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") > lit("1995-03-15").cast("date")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,6)")).cast("double").as("revenue"))
      .select("l_orderkey", "revenue", "o_orderdate")
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  // Binned interval join: purchases within ±1 h of each error event —
  // a pure range predicate (no equi key) executed as a bin equi-join, not
  // a nested loop; the oracle evaluates the same predicate directly.
  private val qRange = Q(
    "q_e4_range_join",
    """WITH ev AS (
      |  SELECT event_id, date_trunc('microseconds', ts) AS ts, event_type, value
      |  FROM events),
      |e AS (SELECT event_id AS err_id, ts AS ets FROM ev WHERE event_type = 'error'),
      |p AS (SELECT ts AS pts, value FROM ev WHERE event_type = 'purchase')
      |SELECT err_id, CAST(count(*) AS INT) AS n_purchases,
      |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM e JOIN p ON abs(epoch_us(ets) - epoch_us(pts)) <= 3600000000
      |GROUP BY err_id ORDER BY err_id""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("ts").as("ets"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("ts").as("pts"), col("value"))
    graft.operators.RangeJoin
      .binnedIntervalJoin(errors, purchases, "ets", "pts", 3600000000L)
      .groupBy("err_id")
      .agg(
        count(lit(1)).cast("int").as("n_purchases"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .orderBy("err_id")
  }

  // SCD2 history build over the event change feed: each user's events
  // become validity intervals (valid_from = own ts, valid_to = next
  // change's ts, last change current). Tie on the timestamp broken by
  // event_id — identical window order in the oracle.
  private val scd2Oracle =
    """WITH ev AS (
      |  SELECT event_id, user_id, value, date_trunc('microseconds', ts) AS ts
      |  FROM events)
      |SELECT user_id, event_id, value, ts AS valid_from,
      |       lead(ts) OVER w AS valid_to,
      |       (lead(ts) OVER w IS NULL) AS is_current
      |FROM ev
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, valid_from, event_id""".stripMargin

  private val qScd2 = Q("q_e5_scd2_history", scd2Oracle) { (s, dir) =>
    graft.operators.Scd2
      .history(t(s, dir, "events"), Seq("user_id"), "ts", "event_id")
      .select("user_id", "event_id", "value", "valid_from", "valid_to", "is_current")
      .orderBy("user_id", "valid_from", "event_id")
  }

  // SCD2 INCREMENTAL maintenance: 3/4 of the change feed builds the
  // initial history, the remaining quarter — including late rows landing
  // mid-interval for existing keys — folds in via Scd2.applyChanges,
  // which rebuilds only the affected keys. The oracle is the FULL
  // rebuild's SQL: incremental apply must equal rebuilding from scratch.
  private val qE6 = Q("q_e6_scd2_incremental", scd2Oracle) { (s, dir) =>
    val ev = t(s, dir, "events")
    val early = ev.filter(pmod(col("event_id"), lit(4)) =!= 0)
    val late = ev.filter(pmod(col("event_id"), lit(4)) === 0)
    val hist0 = graft.operators.Scd2.history(early, Seq("user_id"), "ts", "event_id")
    graft.operators.Scd2.applyChanges(hist0, late, Seq("user_id"), "ts", "event_id")
      .select("user_id", "event_id", "value", "valid_from", "valid_to", "is_current")
      .orderBy("user_id", "valid_from", "event_id")
  }

  // Bloom-pruned equi-join: the urgent-orders dimension slice (~20% of
  // orders) builds a Bloom filter whose scan-side probe drops most
  // lineitem rows before the join's exchange. No false negatives ⇒ the
  // oracle is simply the plain join.
  private val qJ10 = Q(
    "q_j10_bloom_pruned_join",
    """SELECT l.l_orderkey,
      |       CAST(count(*) AS INT) AS n_lines,
      |       CAST(sum(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderpriority = '1-URGENT'
      |GROUP BY l.l_orderkey ORDER BY l.l_orderkey""".stripMargin) { (s, dir) =>
    val urgent = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    graft.operators.BloomJoin
      .prunedEquiJoin(t(s, dir, "lineitem"), urgent, "l_orderkey", "o_orderkey")
      .groupBy("l_orderkey")
      .agg(
        count(lit(1)).cast("int").as("n_lines"),
        sum(col("l_quantity").cast("decimal(18,6)")).cast("double").as("sum_qty"))
      .orderBy("l_orderkey")
  }

  // Salted skew join under an oracle gate: ~75% of lineitem lands on one
  // derived key (the power-law shape the reference's N+1→join rewrite
  // meets on studentUniqueId-scale data, SisConnectorService.java:147-158)
  // and still joins correctly through Skew.saltedInnerJoin — the oracle is
  // the PLAIN join, so salting is proven invisible to results. The query
  // also asserts the spread property in-plan: the hot key's rows must land
  // on at least half of the 16 salts (assert_true in a filter — can't be
  // pruned), making the no-single-hot-partition claim gate-visible rather
  // than spec-only.
  private val qJ11 = Q(
    "q_j11_skew_salted_join",
    """WITH l AS (
      |  SELECT CASE WHEN l_orderkey % 4 < 3 THEN 0
      |              ELSE l_orderkey % 25 END AS k,
      |         l_quantity
      |  FROM lineitem)
      |SELECT n.n_name,
      |       CAST(count(*) AS INT) AS n_rows,
      |       CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM l JOIN nation n ON l.k = n.n_nationkey
      |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin) { (s, dir) =>
    val saltFactor = 16
    val skewKey = when(pmod(col("l_orderkey"), lit(4)) < 3, lit(0))
      .otherwise(pmod(col("l_orderkey"), lit(25))).cast("int")
    val left = t(s, dir, "lineitem").select(skewKey.as("k"), col("l_quantity"))
    val right = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    val agg = graft.operators.Skew
      .saltedInnerJoin(left, right, "k", "n_nationkey", saltFactor)
      .groupBy("n_name")
      .agg(
        count(lit(1)).cast("int").as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    val hotSpread = graft.operators.Skew.saltLeft(left, saltFactor)
      .filter(col("k") === 0)
      .agg(countDistinct(col("__salt")).as("__n_salts"))
    agg
      .crossJoin(broadcast(hotSpread))
      .filter(assert_true(col("__n_salts") >= saltFactor / 2,
        lit("q_j11: hot key did not spread across salts")).isNull)
      .drop("__n_salts")
      .orderBy("n_name")
  }

  // Fixed-width histogram (20 × 25k buckets over order totals, top bucket
  // open): pure scan-side bucket arithmetic + one hash aggregate —
  // the shape profiling jobs use to sketch a 100 TB column in one pass.
  private val qA7 = Q(
    "q_a7_histogram",
    """SELECT CAST(least(floor(o_totalprice / 25000), 19) AS INT) AS bucket,
      |       CAST(count(*) AS INT) AS n,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .groupBy(least(floor(col("o_totalprice") / 25000), lit(19)).cast("int").as("bucket"))
      .agg(
        count(lit(1)).cast("int").as("n"),
        sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total"))
      .orderBy("bucket")
  }

  // Ordered-stage funnel over the event stream (view → click →
  // purchase, each stage strictly after the user's first completion of
  // the previous prefix). Every stage joins and aggregates on user_id,
  // so one partitioning serves the whole cascade and the frame shrinks
  // stage over stage — see graft.operators.Funnel.
  private val qE7 = Q(
    "q_e7_funnel",
    """WITH v AS (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS t2 FROM events e
      |  JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS t3 FROM events e
      |  JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
      |SELECT stage, n_users FROM (
      |  SELECT 'stage1_view' AS stage, CAST(count(*) AS INT) AS n_users FROM v
      |  UNION ALL SELECT 'stage2_click', CAST(count(*) AS INT) FROM c
      |  UNION ALL SELECT 'stage3_purchase', CAST(count(*) AS INT) FROM p)
      |ORDER BY stage""".stripMargin) { (s, dir) =>
    graft.operators.Funnel
      .funnelCounts(t(s, dir, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .orderBy("stage")
  }

  // Time-RANGE window frame: per-user trailing-hour rolling sum/count —
  // the time-decayed feature shape (as opposed to q_w's ROW frames).
  // Ordering key is integer epoch-micros on BOTH sides so frame
  // membership is exact; the rolling sum goes through DECIMAL so peer-
  // row accumulation order can't drift the hash.
  private val qW2 = Q(
    "q_w2_moving_window",
    """SELECT event_id, user_id,
      |       CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h,
      |       CAST(count(*) OVER w AS INT) AS n_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val w = Window
      .partitionBy("user_id")
      .orderBy(expr("unix_micros(ts)"))
      .rangeBetween(-3600000000L, Window.currentRow)
    t(s, dir, "events")
      .select(
        col("event_id"), col("user_id"),
        sum(col("value").cast("decimal(18,6)")).over(w).cast("double").as("sum_1h"),
        count(lit(1)).over(w).cast("int").as("n_1h"))
      .orderBy("event_id")
  }

  // Schema-on-read JSON extraction over the events props column:
  // from_json with an explicit schema (typed, codegen-friendly — not the
  // stringly get_json_object) aggregated per event type. The semi-
  // structured-payload surface every event pipeline needs.
  private val qP12 = Q(
    "q_p12_json_extract",
    """SELECT event_type,
      |       CAST(count(*) AS INT) AS n,
      |       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
      |       CAST(min(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS min_k,
      |       CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val k = from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.IntegerType)))).getField("k")
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(
        count(lit(1)).cast("int").as("n"),
        sum(k).cast("bigint").as("sum_k"),
        min(k).cast("int").as("min_k"),
        max(k).cast("int").as("max_k"))
      .orderBy("event_type")
  }

  // Six-way star join with a region filter and a date range (the TPC-H
  // Q5 shape): Catalyst must reorder, push both filters to their scans,
  // and broadcast every dimension — the depth where join planning starts
  // to matter. Note supplier joins on BOTH lineitem and the customer's
  // nation (the classic local-supplier constraint).
  private val qJ12 = Q(
    "q_j12_six_way_join",
    """SELECT n_name,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |       CAST(count(*) AS INT) AS n_rows
      |FROM region
      |JOIN nation ON n_regionkey = r_regionkey
      |JOIN customer ON c_nationkey = n_nationkey
      |JOIN orders ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, dir) =>
    val price = col("l_extendedprice").cast("decimal(18,2)")
    val disc = col("l_discount").cast("decimal(4,2)")
    t(s, dir, "region").where(col("r_name") === "ASIA")
      .join(t(s, dir, "nation"), col("n_regionkey") === col("r_regionkey"))
      .join(t(s, dir, "customer"), col("c_nationkey") === col("n_nationkey"))
      .join(
        t(s, dir, "orders").where(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "supplier"),
        col("s_suppkey") === col("l_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
      .groupBy("n_name")
      .agg(
        sum(price * (lit(1) - disc)).cast("double").as("revenue"),
        count(lit(1)).cast("int").as("n_rows"))
      .orderBy("n_name")
  }

  // The analytic-window family beyond q_w/q_w2: lag/lead, ntile,
  // percent_rank, cume_dist, first/last_value with an explicit full
  // frame. All rank-family outputs are exact integer ratios, so the
  // doubles are bit-stable across engines.
  private val qW3 = Q(
    "q_w3_window_family",
    """SELECT o_orderkey, o_custkey,
      |       lag(o_orderkey) OVER w AS prev_order,
      |       lead(o_orderkey) OVER w AS next_order,
      |       CAST(ntile(4) OVER w AS INT) AS quartile,
      |       percent_rank() OVER w AS pct_rank,
      |       cume_dist() OVER w AS cdist,
      |       first_value(o_orderkey) OVER w AS first_order,
      |       last_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "orders")
      .select(
        col("o_orderkey"), col("o_custkey"),
        lag("o_orderkey", 1).over(w).as("prev_order"),
        lead("o_orderkey", 1).over(w).as("next_order"),
        ntile(4).over(w).cast("int").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"),
        first("o_orderkey").over(w).as("first_order"),
        last("o_orderkey").over(full).as("last_order"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // Null-safe equality join (<=> / IS NOT DISTINCT FROM): null keys
  // MATCH each other instead of vanishing — the semantics dimension-key
  // joins need when "unknown" is itself a dimension member.
  private val qJ13 = Q(
    "q_j13_null_safe_join",
    """WITH l AS (SELECT nullif(o_custkey % 100, 0) AS k FROM orders),
      |r AS (SELECT DISTINCT nullif(c_custkey % 100, 0) AS k FROM customer)
      |SELECT coalesce(CAST(l.k AS VARCHAR), 'NULL') AS key_str,
      |       CAST(count(*) AS INT) AS n
      |FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val l = t(s, dir, "orders")
      .select(nullif(pmod(col("o_custkey"), lit(100)), lit(0)).as("lk"))
    val r = t(s, dir, "customer")
      .select(nullif(pmod(col("c_custkey"), lit(100)), lit(0)).as("rk"))
      .distinct()
    l.join(r, col("lk") <=> col("rk"))
      .groupBy(coalesce(col("lk").cast("string"), lit("NULL")).as("key_str"))
      .agg(count(lit(1)).cast("int").as("n"))
      .orderBy("key_str")
  }

  // Hourly gap-fill with last-observation-carried-forward: each user's
  // event stream densified onto its own [first hour, last hour] grid,
  // gap rows carrying the last seen hourly DECIMAL sum. The oracle
  // replays the grid with generate_series and the carry with
  // last_value IGNORE NULLS; sums stay DECIMAL to the edge so the
  // carried values are engine-order-independent.
  private val qE8 = Q(
    "q_e8_gap_fill_locf",
    """WITH hourly AS (
      |  SELECT user_id, date_trunc('hour', ts) AS h,
      |         sum(CAST(value AS DECIMAL(18,2))) AS sv, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |spans AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
      |slots AS (SELECT user_id,
      |                 unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS h
      |          FROM spans),
      |j AS (SELECT s.user_id, s.h, hourly.sv, coalesce(hourly.n, 0) AS n
      |      FROM slots s
      |      LEFT JOIN hourly ON s.user_id = hourly.user_id AND s.h = hourly.h)
      |SELECT user_id, h, CAST(n AS INT) AS n_events,
      |       CAST(last_value(sv IGNORE NULLS) OVER (
      |              PARTITION BY user_id ORDER BY h
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS DOUBLE) AS sv_filled
      |FROM j ORDER BY user_id, h""".stripMargin) { (s, dir) =>
    graft.operators.TimeSeries
      .hourlyGapFillLocf(Tables.load(s, dir, "events"), "user_id", "ts", "value")
      .orderBy("user_id", "h")
  }

  // First-order Markov transition matrix over per-user event sequences:
  // one window pass pairs each event with its successor (ts, then
  // event_id so the order is total), counts reduce to the |state|²
  // matrix, and P(next|cur) is the integer ratio n / row-total — both
  // engines divide the same two BIGINTs.
  private[queries] val qE9 = Q(
    "q_e9_markov_transitions",
    """WITH seq AS (
      |  SELECT event_type AS cur,
      |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next
      |  FROM events),
      |trans AS (SELECT cur, next, count(*) AS n FROM seq
      |          WHERE next IS NOT NULL GROUP BY 1, 2),
      |ctx AS (SELECT cur, sum(n) AS c FROM trans GROUP BY 1)
      |SELECT cur, next, n, CAST(n AS DOUBLE) / c AS p
      |FROM trans JOIN ctx USING (cur)
      |ORDER BY cur, next""".stripMargin) { (s, dir) =>
    graft.operators.Markov
      .transitionMatrix(Tables.load(s, dir, "events"), "user_id", "ts", "event_type", "event_id")
      .orderBy("cur", "next")
  }

  // Rolling anomaly detection composed on the gap-filled series (q_e8's
  // grid): 24-slot trailing mean/stddev per user, z-score against the
  // local baseline, |z| > 3 flags. Flat windows (LOCF carries) score
  // null z and never flag — via a 1e-9 std FLOOR, not a >0 test:
  // DuckDB's sliding-variance recurrence leaves ~1e-16 residue on
  // constant frames where Spark computes exactly 0.0, and dividing by
  // the residue fabricates z-scores in the thousands. The count guard
  // pins the 1-row-sample semantics (Spark NaN vs SQL NULL).
  private val qE10 = Q(
    "q_e10_rolling_anomaly",
    """WITH hourly AS (
      |  SELECT user_id, date_trunc('hour', ts) AS h,
      |         sum(CAST(value AS DECIMAL(18,2))) AS sv, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |spans AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
      |slots AS (SELECT user_id,
      |                 unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS h
      |          FROM spans),
      |filled AS (
      |  SELECT s.user_id, s.h,
      |         CAST(last_value(hourly.sv IGNORE NULLS) OVER (
      |                PARTITION BY s.user_id ORDER BY s.h
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |              AS DOUBLE) AS sv_filled
      |  FROM slots s
      |  LEFT JOIN hourly ON s.user_id = hourly.user_id AND s.h = hourly.h),
      |scored AS (
      |  SELECT user_id, h, sv_filled,
      |         avg(sv_filled) OVER w AS roll_mean,
      |         CASE WHEN count(*) OVER w >= 2
      |              THEN stddev_samp(sv_filled) OVER w END AS roll_std
      |  FROM filled
      |  WINDOW w AS (PARTITION BY user_id ORDER BY h
      |               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
      |SELECT user_id, h, sv_filled, roll_mean, roll_std,
      |       CASE WHEN roll_std > 1e-9 THEN (sv_filled - roll_mean) / roll_std END AS z,
      |       coalesce(abs(CASE WHEN roll_std > 1e-9
      |                         THEN (sv_filled - roll_mean) / roll_std END) > 3,
      |                false) AS is_anomaly
      |FROM scored ORDER BY user_id, h""".stripMargin) { (s, dir) =>
    val filled = graft.operators.TimeSeries
      .hourlyGapFillLocf(Tables.load(s, dir, "events"), "user_id", "ts", "value")
      .select("user_id", "h", "sv_filled")
    graft.operators.TimeSeries
      .rollingZScore(filled, "user_id", "h", "sv_filled",
        windowSlots = 24, threshold = 3.0)
      .orderBy("user_id", "h")
  }

  // Cohort retention triangle over the 7-year order history: customers
  // cohorted by first-order week, cells count distinct active customers
  // per (cohort, week offset). Offsets are integer day-diff/7 on
  // week-truncated dates — no float, no calendar ambiguity; both
  // engines truncate weeks to Monday.
  private val qE11 = Q(
    "q_e11_retention_cohorts",
    """WITH fw AS (SELECT o_custkey, date_trunc('week', min(o_orderdate)) AS cohort_week
      |            FROM orders GROUP BY 1),
      |act AS (SELECT DISTINCT o_custkey, date_trunc('week', o_orderdate) AS w FROM orders)
      |SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week,
      |       CAST(date_diff('day', cohort_week, w) / 7 AS INT) AS week_offset,
      |       CAST(count(*) AS INT) AS n_users
      |FROM act JOIN fw USING (o_custkey)
      |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin) { (s, dir) =>
    graft.operators.TimeSeries
      .cohortRetention(Tables.load(s, dir, "orders"), "o_custkey", "o_orderdate")
      .orderBy("cohort_week", "week_offset")
  }

  // Multi-touch attribution: clicks within the hour before each
  // purchase split credit three ways (first/last/linear) in one pass —
  // the as-of join (q_e3) is the last-touch special case; linear credit
  // needs the full touch set per conversion, counted by one window.
  private val qE12 = Q(
    "q_e12_attribution",
    """WITH t AS (SELECT user_id, event_id AS touch_id, ts AS ct
      |           FROM events WHERE event_type = 'click'),
      |c AS (SELECT user_id, event_id AS conv, ts AS pt
      |      FROM events WHERE event_type = 'purchase'),
      |pairs AS (
      |  SELECT t.touch_id, c.conv, t.ct,
      |         count(*) OVER (PARTITION BY c.conv) AS n,
      |         row_number() OVER (PARTITION BY c.conv ORDER BY t.ct, t.touch_id) AS rf,
      |         row_number() OVER (PARTITION BY c.conv ORDER BY t.ct DESC, t.touch_id DESC) AS rl
      |  FROM c JOIN t ON c.user_id = t.user_id
      |    AND t.ct <= c.pt AND t.ct >= c.pt - INTERVAL 1 HOUR)
      |SELECT touch_id, CAST(count(*) AS INT) AS n_conversions,
      |       sum(1.0 / n) AS linear_credit,
      |       CAST(sum(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS INT) AS n_first,
      |       CAST(sum(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS INT) AS n_last
      |FROM pairs GROUP BY touch_id ORDER BY touch_id""".stripMargin) { (s, dir) =>
    graft.operators.Attribution
      .multiTouch(Tables.load(s, dir, "events"), "user_id", "ts", "event_id",
        "event_type", touchType = "click", convType = "purchase", lookbackSec = 3600L)
      .orderBy("touch_id")
  }

  // Top-20 order-3 event paths: two leads over one per-user window, a
  // count, and a totally-tie-broken cut — journey mining one level above
  // the q_e9 transition matrix.
  private val qE13 = Q(
    "q_e13_frequent_paths",
    """WITH seq AS (
      |  SELECT event_type AS e1,
      |         lead(event_type, 1) OVER w AS e2,
      |         lead(event_type, 2) OVER w AS e3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT e1, e2, e3, count(*) AS n FROM seq WHERE e3 IS NOT NULL
      |GROUP BY 1, 2, 3
      |ORDER BY n DESC, e1, e2, e3 LIMIT 20""".stripMargin) { (s, dir) =>
    graft.operators.Markov
      .topPaths(Tables.load(s, dir, "events"), "user_id", "ts", "event_type",
        "event_id", k = 20)
  }

  // Nearest-event join: each purchase matched to the temporally CLOSEST
  // click of the same user within ±30 min — bidirectional, where the
  // as-of join (q_e3) only looks backward. Binned (key, bin) equi-join
  // + one min_by aggregate; ties earlier-then-smaller-id.
  private lazy val qE14 = Q(
    "q_e14_nearest_event",
    """WITH p AS (SELECT user_id, event_id AS purchase_id, ts AS pt
      |           FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, event_id AS click_id, ts AS ct
      |      FROM events WHERE event_type = 'click'),
      |pairs AS (
      |  SELECT p.purchase_id, c.click_id, c.ct,
      |         abs(epoch_us(c.ct) - epoch_us(p.pt)) AS d
      |  FROM p JOIN c ON p.user_id = c.user_id
      |    AND c.ct BETWEEN p.pt - INTERVAL 30 MINUTE AND p.pt + INTERVAL 30 MINUTE),
      |r AS (SELECT purchase_id, click_id, d,
      |             row_number() OVER (PARTITION BY purchase_id
      |                                ORDER BY d, ct, click_id) AS rn
      |      FROM pairs)
      |SELECT purchase_id, click_id, CAST(d AS BIGINT) AS abs_diff_us
      |FROM r WHERE rn = 1 ORDER BY purchase_id""".stripMargin) { (s, dir) =>
    val events = Tables.load(s, dir, "events")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("__pt"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("__ct"))
    graft.operators.RangeJoin
      .nearestWithin(purchases, clicks, "user_id", "__pt", "__ct",
        "purchase_id", "click_id", toleranceMicros = 30L * 60 * 1000000)
      .orderBy("purchase_id")
  }

  // The NATIVE as-of join — custom LogicalPlan + SparkStrategy +
  // physical merge exec (plans.AsOfJoinNative), run against the SAME
  // DuckDB ASOF LEFT JOIN oracle as q_e3's union+window composition.
  // The require pins that the custom exec (not a rewrite into built-in
  // operators) actually planned.
  private val qE15 = Q(
    "q_e15_asof_native",
    qAsOf.oracle.get) { (s, dir) =>
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .agg(max("event_id").as("click_id"))
    val joined = graft.plans.AsOfJoinNative
      .leftAsOf(purchases, clicks, "user_id", "c_user", "ts", "c_ts")
    require(joined.queryExecution.executedPlan.toString.contains("AsOfJoin"),
      "q_e15: the custom exec must plan")
    joined.select(
        col("event_id"), col("user_id"), col("value"),
        col("click_id"),
        (unix_micros(col("ts")) - unix_micros(col("c_ts"))).as("wait_us"))
      .orderBy("event_id")
  }

  // UNPIVOT (melt) — the dual of q_p11's pivot: wide per-priority metric
  // columns stacked back to (priority, metric, value) rows. The oracle
  // replays it as the UNION ALL stack UNPIVOT desugars to (portable SQL;
  // DuckDB's native UNPIVOT would work too). All melted metrics share one
  // DOUBLE type — unpivot requires it, and the DECIMAL sum keeps the
  // total engine-order-independent before the edge cast.
  private val qP13 = Q(
    "q_p13_unpivot",
    """WITH w AS (
      |  SELECT o_orderpriority,
      |         CAST(count(*) AS DOUBLE) AS n_orders,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
      |         max(o_totalprice) AS max_price
      |  FROM orders GROUP BY 1)
      |SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM w
      |UNION ALL SELECT o_orderpriority, 'total_price', total_price FROM w
      |UNION ALL SELECT o_orderpriority, 'max_price', max_price FROM w
      |ORDER BY o_orderpriority, metric""".stripMargin) { (s, dir) =>
    val wide = t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).cast("double").as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_price"),
        max(col("o_totalprice")).as("max_price"))
    wide.unpivot(
        Array(col("o_orderpriority")),
        Array(col("n_orders"), col("total_price"), col("max_price")),
        "metric", "value")
      .orderBy("o_orderpriority", "metric")
  }

  // Arbitrary GROUPING SETS — a skip-level lattice ((status, priority),
  // (priority), ()) that neither ROLLUP (q_a4) nor CUBE (q_a4b) can
  // express: the (status) marginal is deliberately absent. grouping()
  // flags disambiguate real NULLs from subtotal rows, as in the rollup
  // gate.
  private val qA14 = Q(
    "q_a14_grouping_sets",
    """SELECT o_orderstatus, o_orderpriority,
      |       CAST(grouping(o_orderstatus) AS INT) AS g_st,
      |       CAST(grouping(o_orderpriority) AS INT) AS g_pr,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority), ())
      |ORDER BY g_st, g_pr, o_orderstatus, o_orderpriority""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .groupingSets(
        Seq(
          Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderpriority")),
          Seq.empty[org.apache.spark.sql.Column]),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping(col("o_orderstatus")).cast("int").as("g_st"),
        grouping(col("o_orderpriority")).cast("int").as("g_pr"),
        count(lit(1)).cast("bigint").as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_price"))
      .select("o_orderstatus", "o_orderpriority", "g_st", "g_pr", "n_orders", "total_price")
      .orderBy(col("g_st"), col("g_pr"), col("o_orderstatus"), col("o_orderpriority"))
  }

  // Gaps-and-islands interval merge (TimeSeries.mergeIntervals): each
  // event opens a 30-minute activity interval; overlapping/touching
  // intervals per user collapse into maximal islands. Epoch-micros
  // BIGINT bounds keep the arithmetic engine-portable; event_id
  // totalizes the (user, start) order so the 1-PRECEDING running-max
  // frame sees the same rows in both engines.
  private val qE16 = Q(
    "q_e16_interval_merge",
    """WITH iv AS (
      |  SELECT user_id, event_id,
      |         epoch_us(date_trunc('microseconds', ts)) AS s,
      |         epoch_us(date_trunc('microseconds', ts)) + 1800000000 AS e
      |  FROM events),
      |f AS (
      |  SELECT user_id, event_id, s, e,
      |         CASE WHEN s > coalesce(max(e) OVER (
      |                PARTITION BY user_id ORDER BY s, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |                -9223372036854775808)
      |              THEN 1 ELSE 0 END AS opens
      |  FROM iv),
      |g AS (
      |  SELECT user_id, s, e,
      |         sum(opens) OVER (PARTITION BY user_id ORDER BY s, event_id
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM f)
      |SELECT user_id, min(s) AS island_start_us, max(e) AS island_end_us,
      |       CAST(count(*) AS INT) AS n_events
      |FROM g GROUP BY user_id, island
      |ORDER BY user_id, island_start_us""".stripMargin) { (s, dir) =>
    val iv = t(s, dir, "events").select(
      col("user_id"),
      unix_micros(col("ts")).as("s"),
      (unix_micros(col("ts")) + 1800000000L).as("e"),
      col("event_id"))
    graft.operators.TimeSeries.mergeIntervals(iv, "user_id", "s", "e", "event_id")
      .select(
        col("user_id"),
        col("island_start").as("island_start_us"),
        col("island_end").as("island_end_us"),
        col("n_rows").as("n_events"))
      .orderBy("user_id", "island_start_us")
  }

  // Oracle fragments of the daily series (the DuckDB twins of
  // dailyValues / probeSeries / dailyWithProbes below). Each is margin
  // text that the query strings interpolate before their stripMargin.
  private val dailySql =
    """  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS daily_value
      |  FROM events GROUP BY 1, 2"""
  private val constantProbeSql =
    """  UNION ALL
      |  SELECT CAST(-1 AS BIGINT), CAST(DATE '2020-01-01' + CAST(i AS INTEGER) AS TIMESTAMP),
      |         CAST(5.0 AS DOUBLE)
      |  FROM range(10) t(i)"""
  private val singlePairProbeSql =
    """  UNION ALL
      |  SELECT CAST(-2 AS BIGINT), CAST(DATE '2020-01-01' + CAST(i AS INTEGER) AS TIMESTAMP),
      |         CAST(i + 1 AS DOUBLE)
      |  FROM range(2) t(i)"""
  private val spikeProbeSql =
    """  UNION ALL
      |  SELECT CAST(-3 AS BIGINT), CAST(DATE '2020-01-01' + CAST(i AS INTEGER) AS TIMESTAMP),
      |         CASE WHEN i = 6 THEN CAST(200.0 AS DOUBLE) ELSE CAST(10.0 AS DOUBLE) END
      |  FROM range(10) t(i)"""
  private val dailyWithProbesSql =
    s"""$dailySql
       |$constantProbeSql
       |$singlePairProbeSql"""

  /** `l` and `p`: every (x, lagged y) pair of the series `d` at lags 1–3. */
  private val lagPairsSql =
    """l AS (
      |  SELECT user_id, daily_value AS x,
      |         lag(daily_value, 1) OVER (PARTITION BY user_id ORDER BY day) AS y1,
      |         lag(daily_value, 2) OVER (PARTITION BY user_id ORDER BY day) AS y2,
      |         lag(daily_value, 3) OVER (PARTITION BY user_id ORDER BY day) AS y3
      |  FROM d),
      |p AS (
      |  SELECT user_id, 1 AS lag_k, x, y1 AS y FROM l WHERE y1 IS NOT NULL
      |  UNION ALL
      |  SELECT user_id, 2 AS lag_k, x, y2 AS y FROM l WHERE y2 IS NOT NULL
      |  UNION ALL
      |  SELECT user_id, 3 AS lag_k, x, y3 AS y FROM l WHERE y3 IS NOT NULL)"""

  // Dyadic-weight EWMA (TimeSeries.dyadicEwma): α = 1/2 smoothing of the
  // per-user daily value series, folded left-to-right over a 16-row
  // trailing frame. Halving is an exact IEEE operation, so the identical
  // fold order makes both engines' doubles BIT-equal — a general α's
  // pow() chain would be libm-dependent (the q_c6 lesson).
  private val qE17 = Q(
    "q_e17_dyadic_ewma",
    s"""WITH d AS (
      |$dailySql),
      |w AS (
      |  SELECT user_id, day, daily_value,
      |         list(daily_value) OVER (PARTITION BY user_id ORDER BY day
      |           ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS frame
      |  FROM d)
      |SELECT user_id, day, daily_value,
      |       list_reduce(frame, (acc, x) -> (acc + x) / 2) AS ewma
      |FROM w ORDER BY user_id, day""".stripMargin) { (s, dir) =>
    val daily = dailyValues(s, dir)
    graft.operators.TimeSeries.dyadicEwma(daily, "user_id", "day", "daily_value", 16)
      .orderBy("user_id", "day")
  }

  // Per-user lag-k autocorrelation (TimeSeries.autocorrelation) of the
  // q_e17 daily-value series: the persistence/seasonality fingerprint.
  // Pearson r is formed from the aggregated moments (covar_samp /
  // sqrt(var_samp * var_samp)) in the projection — identical pairing +
  // moment SQL in the oracle. Zero-variance and single-pair slices emit
  // NULL in BOTH engines (the division is guarded by var_samp > 0 in
  // the projection, and var_samp itself is NULL at n=1). The corpus is
  // deliberately hardened with two degenerate synthetic users unioned
  // in-query (as q_q11 deliberately breaks an FK edge): user -1 is a
  // 10-day CONSTANT series (zero variance at every lag — the exact
  // shape that made a guarded in-aggregate `corr` throw DIVIDE_BY_ZERO
  // under ANSI, VERDICT r7 #1) and user -2 is a 2-day series (single
  // pair at lag 1, var_samp NULL). The gate now fails if either engine
  // stops emitting NULL on those slices.
  private val qE18 = Q(
    "q_e18_autocorrelation",
    s"""WITH d AS (
      |$dailyWithProbesSql),
      |$lagPairsSql
      |SELECT user_id, CAST(lag_k AS INT) AS lag_k,
      |       CAST(count(*) AS INT) AS n_pairs,
      |       CASE WHEN var_samp(x) > 0 AND var_samp(y) > 0
      |            THEN covar_samp(x, y) / sqrt(var_samp(x) * var_samp(y)) END AS autocorr
      |FROM p GROUP BY 1, 2 ORDER BY user_id, lag_k""".stripMargin) { (s, dir) =>
    val daily = dailyWithProbes(s, dir, includeSinglePair = true)
    graft.operators.TimeSeries
      .autocorrelation(daily, "user_id", "day", "daily_value", maxLag = 3)
      .orderBy("user_id", "lag_k")
  }

  // Dominant seasonal lag (TimeSeries.dominantSeasonalLag): the argmax
  // over q_e18's per-lag autocorrelations — which period a metric repeats
  // on. The argmax compares r ROUNDED to 6 decimals with ties to the
  // smaller lag (raw-double comparison would let the winner flip on the
  // engines' last-bit differences); keys with no non-NULL lag (the
  // synthetic constant/single-pair users) drop out, which is itself on
  // the gate.
  private val qE19 = Q(
    "q_e19_dominant_lag",
    s"""WITH d AS (
      |$dailyWithProbesSql),
      |$lagPairsSql,
      |a AS (
      |  SELECT user_id, lag_k, count(*) AS n_pairs,
      |         CASE WHEN var_samp(x) > 0 AND var_samp(y) > 0
      |              THEN covar_samp(x, y) / sqrt(var_samp(x) * var_samp(y)) END AS autocorr
      |  FROM p GROUP BY 1, 2),
      |r AS (
      |  SELECT user_id, lag_k, n_pairs, autocorr,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY round(autocorr, 6) DESC, lag_k ASC) AS rn
      |  FROM a WHERE autocorr IS NOT NULL)
      |SELECT user_id, CAST(lag_k AS INT) AS best_lag,
      |       CAST(n_pairs AS INT) AS n_pairs, autocorr
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
    graft.operators.TimeSeries
      .dominantSeasonalLag(
        dailyWithProbes(s, dir, includeSinglePair = true),
        "user_id", "day", "daily_value", maxLag = 3)
      .orderBy("user_id")
  }

  // CUSUM changepoint pick (TimeSeries.cusumChangepoint): where each
  // user's daily series most likely shifted level — Page's cumulative-sum
  // statistic at its extremum, normalized by sd·√n. Everything windows
  // over ONE per-key partition (running sum, mean, sd, n all ride the
  // same exchange); the argmax rounds to 6 decimals with ties to the
  // earliest day. Zero-variance and single-point keys drop out (the
  // synthetic constant user is the planted probe for that).
  private val qE20 = Q(
    "q_e20_cusum_changepoint",
    s"""WITH d AS (
      |$dailySql
      |$constantProbeSql),
      |s AS (
      |  SELECT user_id, day,
      |         sum(daily_value) OVER (PARTITION BY user_id ORDER BY day) AS cum,
      |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS DOUBLE) AS i,
      |         avg(daily_value) OVER (PARTITION BY user_id) AS m,
      |         stddev_samp(daily_value) OVER (PARTITION BY user_id) AS sd,
      |         count(*) OVER (PARTITION BY user_id) AS n
      |  FROM d),
      |t AS (
      |  SELECT user_id, day, n,
      |         abs(cum - i * m) / (sd * sqrt(CAST(n AS DOUBLE))) AS stat
      |  FROM s WHERE sd IS NOT NULL AND sd > 0),
      |r AS (
      |  SELECT user_id, day, n, stat,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY round(stat, 6) DESC, day ASC) AS rn
      |  FROM t)
      |SELECT user_id, day AS changepoint_at, stat AS cusum_stat,
      |       CAST(n AS INT) AS n_points
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
    graft.operators.TimeSeries
      .cusumChangepoint(
        dailyWithProbes(s, dir, includeSinglePair = false), "user_id", "day", "daily_value")
      .orderBy("user_id")
  }

  // Per-user OLS trend line over the daily series (x = days since
  // 2020-01-01, an exact integer): slope/intercept/r² all form in the
  // projection from ONE moments aggregate under variance guards — the
  // q_e18 ANSI discipline. The synthetic users are the degenerate
  // probes: constant y → slope exactly 0 (every cov term is exactly
  // zero) with r² NULL; a 2-point series fits exactly (r² = 1).
  private val qE21 = Q(
    "q_e21_trend_slope",
    s"""WITH d AS (
      |$dailyWithProbesSql),
      |x AS (
      |  SELECT user_id,
      |         CAST(date_diff('day', DATE '2020-01-01', day) AS DOUBLE) AS x,
      |         daily_value AS y
      |  FROM d),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS INT) AS n_points,
      |         covar_samp(x, y) AS cov, var_samp(x) AS vx, var_samp(y) AS vy,
      |         avg(x) AS mx, avg(y) AS my
      |  FROM x GROUP BY 1)
      |SELECT user_id, n_points,
      |       CASE WHEN vx > 0 THEN cov / vx END AS slope,
      |       CASE WHEN vx > 0 THEN my - cov / vx * mx END AS intercept,
      |       CASE WHEN vx > 0 AND vy > 0 THEN cov * cov / (vx * vy) END AS r2
      |FROM m ORDER BY user_id""".stripMargin) { (s, dir) =>
    val daily = dailyWithProbes(s, dir, includeSinglePair = true)
      .withColumn("x",
        datediff(col("day").cast("date"), lit(java.sql.Date.valueOf("2020-01-01"))))
    graft.operators.TimeSeries.trendSlope(daily, "user_id", "x", "daily_value")
      .orderBy("user_id")
  }

  // Seasonal-naive backtest (forecast y_t = y_{t-7 rows}; MASE = MAE
  // ratio vs the 1-step naive, Hyndman & Koehler 2006). The constant
  // user's naive MAE is exactly 0 → MASE NULL (not Inf); the 2-day user
  // has no 7-back rows and drops out — both probes on the gate.
  private val qE22 = Q(
    "q_e22_seasonal_backtest",
    s"""WITH d AS (
      |$dailyWithProbesSql),
      |l AS (
      |  SELECT user_id, daily_value AS y,
      |         lag(daily_value, 1) OVER (PARTITION BY user_id ORDER BY day) AS y1,
      |         lag(daily_value, 7) OVER (PARTITION BY user_id ORDER BY day) AS ym
      |  FROM d),
      |m AS (
      |  SELECT user_id, CAST(count(*) AS INT) AS n_points,
      |         CAST(count(ym) AS INT) AS n_forecast,
      |         avg(CASE WHEN ym IS NOT NULL THEN abs(y - ym) END) AS mae_seasonal,
      |         avg(CASE WHEN y1 IS NOT NULL THEN abs(y - y1) END) AS mae_naive1
      |  FROM l GROUP BY 1)
      |SELECT user_id, n_points, n_forecast, mae_seasonal, mae_naive1,
      |       CASE WHEN mae_naive1 > 0 THEN mae_seasonal / mae_naive1 END AS mase
      |FROM m WHERE n_forecast > 0 ORDER BY user_id""".stripMargin) { (s, dir) =>
    graft.operators.TimeSeries
      .seasonalNaiveBacktest(
        dailyWithProbes(s, dir, includeSinglePair = true),
        "user_id", "day", "daily_value", seasonLag = 7)
      .orderBy("user_id")
  }

  // Hampel outlier filter (TimeSeries.hampelOutliers) over the daily
  // series, trailing window 7, 3 robust sigmas. Both medians (window
  // values, absolute deviations) are single ELEMENTS of a sorted
  // 7-element array — windowSize is odd and only full windows emit a
  // verdict — so every number either IS an input, or is one IEEE
  // subtraction / one multiplication by the single prefolded literal
  // 3.0·1.4826 (both engines form it as ONE double product of the two
  // parsed doubles; writing 4.4478 would round differently than the
  // product, and DuckDB's bare decimals are DECIMAL, hence the explicit
  // DOUBLE casts). Probe user -3 plants a 200-spike in a flat 10-day
  // series: the gate carries a TRUE (spike, MAD 0) and FALSEs (flat
  // full windows) simultaneously; the series-head NULL-verdict rows are
  // cut at the gate (NULL booleans normalize differently across the two
  // engines' pandas paths) and are spec-covered instead.
  private val qE23 = Q(
    "q_e23_hampel",
    s"""WITH d AS (
      |$dailySql
      |$spikeProbeSql),
      |w AS (
      |  SELECT user_id, day, daily_value AS x,
      |         list(daily_value) OVER (PARTITION BY user_id ORDER BY day
      |           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS win
      |  FROM d),
      |m AS (
      |  SELECT user_id, day, x, win,
      |         CASE WHEN len(win) = 7 THEN list_sort(win)[4] END AS med
      |  FROM w),
      |mm AS (
      |  SELECT user_id, day, x, med,
      |         CASE WHEN med IS NOT NULL
      |              THEN list_sort(list_transform(win, v -> abs(v - med)))[4] END AS mad
      |  FROM m)
      |SELECT user_id, day, x AS value, med, mad,
      |       abs(x - med) > CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * mad AS is_outlier
      |FROM mm WHERE med IS NOT NULL ORDER BY user_id, day""".stripMargin) { (s, dir) =>
    // gate cut: only full-window verdict rows — a NULL boolean column
    // normalizes differently across the two engines' pandas paths (the
    // operator's NULL-head contract is spec-covered instead)
    graft.operators.TimeSeries
      .hampelOutliers(dailyValues(s, dir).unionByName(spikeProbe(s)), "user_id", "day", "daily_value",
        windowSize = 7, nSigmas = 3.0)
      .where(col("med").isNotNull)
      .orderBy("user_id", "day")
  }

  // Partial autocorrelation (TimeSeries.pacf): the AR-order fingerprint
  // ACF alone can't give — lag-k ACF conflates direct dependence with
  // dependence routed through shorter lags; PACF removes it via the
  // Durbin–Levinson recursion UNROLLED to closed forms over the standard
  // ACF estimator (global mean, shared Σd² denominator — deliberately a
  // DIFFERENT estimator from q_e18's per-slice Pearson, which is why both
  // gates exist). Both engines compute the identical expression tree over
  // the identical moments, so every r_k and φ_kk agrees to the harness's
  // 1e-6. Degenerate probes ride the gate: user -1 (constant, Σd² = 0)
  // must emit all-NULL, user -2 (single pair, r1 = -0.5 exactly, no
  // lag-2/3 pairs) must emit NULL r2/r3/pacf2/pacf3 — NULL propagation
  // through the recursion is itself on the gate.
  private val qE24 = Q(
    "q_e24_pacf",
    s"""WITH d AS (
      |$dailyWithProbesSql),
      |c AS (
      |  SELECT user_id, day,
      |         daily_value - avg(daily_value) OVER (PARTITION BY user_id) AS d
      |  FROM d),
      |l AS (
      |  SELECT user_id, d,
      |         lag(d, 1) OVER (PARTITION BY user_id ORDER BY day) AS d1,
      |         lag(d, 2) OVER (PARTITION BY user_id ORDER BY day) AS d2,
      |         lag(d, 3) OVER (PARTITION BY user_id ORDER BY day) AS d3
      |  FROM c),
      |a AS (
      |  SELECT user_id, CAST(count(*) AS INT) AS n_obs,
      |         sum(d * d) AS ss, sum(d * d1) AS s1,
      |         sum(d * d2) AS s2, sum(d * d3) AS s3
      |  FROM l GROUP BY 1),
      |r AS (
      |  SELECT user_id, n_obs,
      |         CASE WHEN ss > 0 THEN s1 / ss END AS r1,
      |         CASE WHEN ss > 0 THEN s2 / ss END AS r2,
      |         CASE WHEN ss > 0 THEN s3 / ss END AS r3
      |  FROM a),
      |p AS (
      |  SELECT user_id, n_obs, r1, r2, r3,
      |         CASE WHEN 1 - r1 * r1 <> 0
      |              THEN (r2 - r1 * r1) / (1 - r1 * r1) END AS p2
      |  FROM r)
      |SELECT user_id, n_obs, r1, r2, r3,
      |       r1 AS pacf1, p2 AS pacf2,
      |       CASE WHEN 1 - (r1 * (1 - p2)) * r1 - p2 * r2 <> 0
      |            THEN (r3 - (r1 * (1 - p2)) * r2 - p2 * r1)
      |                 / (1 - (r1 * (1 - p2)) * r1 - p2 * r2) END AS pacf3
      |FROM p ORDER BY user_id""".stripMargin) { (s, dir) =>
    graft.operators.TimeSeries
      .pacf(dailyWithProbes(s, dir, includeSinglePair = true),
        "user_id", "day", "daily_value")
      .orderBy("user_id")
  }

  // Classical additive seasonal decomposition (TimeSeries.decomposeAdditive)
  // at period 7: x = trend + seasonal + residual — trend is the CENTERED
  // 7-row moving average (full windows only, NULL edges by contract),
  // seasonal the per-(key, pos) mean of the detrended series centered per
  // key to Σ=0, residual the remainder. Position-in-period is
  // (days-since-epoch) mod 7, explicit in BOTH engines because their
  // day-of-week numberings disagree (Spark Sunday=1, DuckDB Sunday=0).
  // Probes on the gate: constant user -1 decomposes to exactly (5, 0, 0)
  // over its full-window interior; 2-day user -2 has all-NULL trend so
  // NULL must propagate through seasonal and residual identically.
  private val qE25 = Q(
    "q_e25_seasonal_decompose",
    s"""WITH d AS (
      |$dailyWithProbesSql),
      |b AS (
      |  SELECT user_id, day, daily_value AS value,
      |         CAST((CAST(day AS DATE) - DATE '1970-01-01') % 7 AS INT) AS pos
      |  FROM d),
      |t AS (
      |  SELECT user_id, day, value, pos,
      |         CASE WHEN count(*) OVER w = 7 THEN avg(value) OVER w END AS trend
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id ORDER BY day
      |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |t2 AS (SELECT user_id, day, value, pos, trend, value - trend AS detr FROM t),
      |s0 AS (SELECT user_id, pos, avg(detr) AS s FROM t2 GROUP BY 1, 2),
      |s AS (SELECT user_id, pos,
      |             s - avg(s) OVER (PARTITION BY user_id) AS seasonal
      |      FROM s0)
      |SELECT t2.user_id, t2.day, t2.value, t2.trend, s.seasonal,
      |       t2.value - t2.trend - s.seasonal AS residual
      |FROM t2 JOIN s ON t2.user_id = s.user_id AND t2.pos = s.pos
      |ORDER BY t2.user_id, t2.day""".stripMargin) { (s, dir) =>
    graft.operators.TimeSeries
      .decomposeAdditive(dailyWithProbes(s, dir, includeSinglePair = true),
        "user_id", "day", "daily_value", period = 7)
      .orderBy("user_id", "day")
  }

  // Robust trend (TimeSeries.robustTrend): Mann–Kendall S + Theil–Sen
  // slope — the outlier-immune companions to q_e21's OLS (a single spike
  // drags OLS arbitrarily; it moves the pairwise-median slope one rank).
  // S is pure INTEGER arithmetic; Theil–Sen is the EXACT median of the
  // sorted pairwise-slope list (single elements / one IEEE mid-average —
  // the Hampel discipline, no interpolation). Probes on the gate:
  // constant user -1 → S = 0, slope 0 over 45 pairs; 2-day user -2 →
  // the single pair exactly (S = 1, slope 1); spike user -3 (flat 10
  // with one 200) → S = +3 but theil_sen EXACTLY 0 — the
  // outlier-immunity claim itself, oracle-checked.
  private val qE26 = Q(
    "q_e26_robust_trend",
    s"""WITH d AS (
      |$dailyWithProbesSql
      |$spikeProbeSql),
      |b AS (SELECT user_id,
      |             CAST((CAST(day AS DATE) - DATE '1970-01-01') AS DOUBLE) AS x,
      |             daily_value AS y
      |      FROM d),
      |p AS (SELECT s1.user_id,
      |             CAST(sign(s2.y - s1.y) AS BIGINT) AS sgn,
      |             (s2.y - s1.y) / (s2.x - s1.x) AS slope
      |      FROM b s1 JOIN b s2 ON s1.user_id = s2.user_id AND s1.x < s2.x),
      |st AS (SELECT user_id, CAST(count(*) AS INT) AS n_pairs,
      |              CAST(sum(sgn) AS BIGINT) AS s_stat,
      |              list_sort(list(slope)) AS sl
      |       FROM p GROUP BY 1),
      |np AS (SELECT user_id, CAST(count(*) AS INT) AS n_points FROM b GROUP BY 1)
      |SELECT np.user_id, np.n_points,
      |       coalesce(st.n_pairs, 0) AS n_pairs, st.s_stat,
      |       CASE WHEN st.n_pairs % 2 = 1 THEN sl[(st.n_pairs + 1) // 2]
      |            ELSE (sl[st.n_pairs // 2] + sl[st.n_pairs // 2 + 1]) / 2 END AS theil_sen
      |FROM np LEFT JOIN st USING (user_id)
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    val corpus = dailyWithProbes(s, dir, includeSinglePair = true).unionByName(spikeProbe(s))
      .withColumn("__days",
        datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-01"))))
    graft.operators.TimeSeries
      .robustTrend(corpus, "user_id", "__days", "daily_value")
      .orderBy("user_id")
  }

  // Holt double-exponential smoothing (TimeSeries.holtLinear): level +
  // linear trend with dyadic α = β = 1/2, so the whole recursion is
  // bit-reproducible IEEE adds and halvings — the oracle replays it as
  // a recursive CTE stepping rn → rn+1 per key. Probes ON the gate: the
  // constant user's level stays 5 / trend 0 / residuals 0; the 2-point
  // user exercises the seed row (fitted NULL) and one full update.
  private val qE27 = Q(
    "q_e27_holt_smoothing",
    s"""WITH RECURSIVE d AS (
      |$dailyWithProbesSql),
      |s AS (
      |  SELECT user_id, day, daily_value,
      |         row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
      |  FROM d),
      |h AS (
      |  SELECT user_id, rn, day, daily_value,
      |         daily_value AS level, CAST(0 AS DOUBLE) AS trend,
      |         CAST(NULL AS DOUBLE) AS fitted
      |  FROM s WHERE rn = 1
      |  UNION ALL
      |  SELECT s.user_id, s.rn, s.day, s.daily_value,
      |         (s.daily_value + (h.level + h.trend)) / 2,
      |         (((s.daily_value + (h.level + h.trend)) / 2 - h.level) + h.trend) / 2,
      |         h.level + h.trend
      |  FROM h JOIN s ON s.user_id = h.user_id AND s.rn = h.rn + 1)
      |SELECT user_id, day, daily_value, level, trend, fitted,
      |       daily_value - fitted AS residual,
      |       level + trend AS forecast_next
      |FROM h ORDER BY user_id, day""".stripMargin) { (s, dir) =>
    graft.operators.TimeSeries
      .holtLinear(dailyWithProbes(s, dir, includeSinglePair = true),
        "user_id", "day", "daily_value")
      .orderBy("user_id", "day")
  }

  /** The per-user daily series with the degenerate synthetic probe users
    * unioned in (q_e18's hardening corpus): user -1 = 10-day constant,
    * user -2 = 2-day (1.0, 2.0).
    */
  // Holt–Winters additive seasonal smoothing (TimeSeries.holtWinters):
  // q_e27's dyadic recursion plus a weekly (m=7) seasonal component —
  // every op an IEEE add/subtract/halving except the first-season mean,
  // which both engines accumulate as the SAME left-to-right fold. The
  // oracle's recursive CTE carries the last-7 seasonal ring as a list
  // column (sv), stepping rn → rn+1 per key; keys with < 7 days are
  // excluded (no season to initialize), which the 2-day probe user
  // exercises; the 10-day constant probe pins level 5 / trend 0 /
  // seasonal 0 / residual 0 through all three recursion steps.
  private val qE29 = Q(
    "q_e29_holt_winters",
    {
      val m0 = "(h.runsum + s.daily_value) / 7.0"
      val lNew = "((s.daily_value - h.sv[1]) + (h.level + h.trend)) / 2"
      s"""WITH RECURSIVE d AS (
        |$dailyWithProbesSql),
        |s AS (
        |  SELECT user_id, day, daily_value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn,
        |         count(*) OVER (PARTITION BY user_id) AS cnt
        |  FROM d),
        |h AS (
        |  SELECT user_id, rn, day, daily_value,
        |         daily_value AS runsum,
        |         [daily_value] AS xs,
        |         CAST(NULL AS DOUBLE[]) AS sv,
        |         CAST(NULL AS DOUBLE) AS level, CAST(NULL AS DOUBLE) AS trend,
        |         CAST(NULL AS DOUBLE) AS seasonal, CAST(NULL AS DOUBLE) AS fitted
        |  FROM s WHERE rn = 1 AND cnt >= 7
        |  UNION ALL
        |  SELECT s.user_id, s.rn, s.day, s.daily_value,
        |         h.runsum + s.daily_value,
        |         CASE WHEN s.rn < 7 THEN list_append(h.xs, s.daily_value)
        |              ELSE h.xs END,
        |         CASE WHEN s.rn < 7 THEN CAST(NULL AS DOUBLE[])
        |              WHEN s.rn = 7 THEN list_transform(
        |                list_append(h.xs, s.daily_value), v -> v - M0)
        |              ELSE list_append(h.sv[2:], ((s.daily_value - LNEW) + h.sv[1]) / 2)
        |         END,
        |         CASE WHEN s.rn < 7 THEN CAST(NULL AS DOUBLE)
        |              WHEN s.rn = 7 THEN M0
        |              ELSE LNEW END,
        |         CASE WHEN s.rn < 7 THEN CAST(NULL AS DOUBLE)
        |              WHEN s.rn = 7 THEN CAST(0 AS DOUBLE)
        |              ELSE ((LNEW - h.level) + h.trend) / 2 END,
        |         CASE WHEN s.rn < 7 THEN CAST(NULL AS DOUBLE)
        |              WHEN s.rn = 7 THEN s.daily_value - (M0)
        |              ELSE ((s.daily_value - LNEW) + h.sv[1]) / 2 END,
        |         CASE WHEN s.rn <= 7 THEN CAST(NULL AS DOUBLE)
        |              ELSE h.level + h.trend + h.sv[1] END
        |  FROM h JOIN s ON s.user_id = h.user_id AND s.rn = h.rn + 1)
        |SELECT user_id, day, daily_value, level, trend, seasonal, fitted,
        |       daily_value - fitted AS residual
        |FROM h ORDER BY user_id, day""".stripMargin
        .replace("M0", s"($m0)").replace("LNEW", s"($lNew)")
    }) { (s, dir) =>
    graft.operators.TimeSeries
      .holtWinters(dailyWithProbes(s, dir, includeSinglePair = true),
        "user_id", "day", "daily_value", period = 7)
      .orderBy("user_id", "day")
  }

  /** The `events` daily-value series: one row per (user_id, day). */
  private def dailyValues(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("daily_value"))

  /** A synthetic series of `n` days from 2020-01-01 for `userId`. */
  private def probeSeries(s: SparkSession, userId: Long, n: Int, value: Column): DataFrame =
    s.range(n).select(
      lit(userId).as("user_id"),
      date_add(lit(java.sql.Date.valueOf("2020-01-01")), col("id").cast("int"))
        .cast("timestamp").as("day"),
      value.as("daily_value"))

  /** Probe user -3: a 200-spike on day 6 of a flat 10-day series at 10. */
  private def spikeProbe(s: SparkSession): DataFrame =
    probeSeries(s, -3L, 10, when(col("id") === 6, lit(200.0)).otherwise(lit(10.0)))

  /** [[dailyValues]] plus probe user -1 (10 constant days) and, when
    * `includeSinglePair`, probe user -2 (2 days, a single lag-1 pair).
    */
  private def dailyWithProbes(
      s: SparkSession, dir: String, includeSinglePair: Boolean): DataFrame = {
    val out = dailyValues(s, dir).unionByName(probeSeries(s, -1L, 10, lit(5.0)))
    if (includeSinglePair) out.unionByName(probeSeries(s, -2L, 2, (col("id") + 1).cast("double")))
    else out
  }

  // Cohort RETENTION matrix (operators.Cohort.retention): users grouped
  // by first-activity week, per-offset active fractions — the classic
  // product-analytics readout, with offset-0 rows structurally at rate
  // 1 (every cohort member is active in their first week). Both engines
  // truncate weeks to Monday (date_trunc('week')); the offset is an
  // exact integer day-difference / 7.
  private val qE28 = Q(
    "q_e28_cohort_retention",
    """WITH wk AS (
      |  SELECT DISTINCT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS w
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |co AS (SELECT u, min(w) AS c FROM wk GROUP BY u),
      |sz AS (SELECT c, count(*) AS cs FROM co GROUP BY c),
      |act AS (
      |  SELECT co.c AS cohort_week,
      |         CAST((wk.w - co.c) // 7 AS INT) AS week_offset,
      |         CAST(count(*) AS BIGINT) AS n_active
      |  FROM wk JOIN co ON wk.u = co.u GROUP BY 1, 2)
      |SELECT a.cohort_week, a.week_offset, a.n_active,
      |       CAST(sz.cs AS BIGINT) AS cohort_size,
      |       CAST(a.n_active AS DOUBLE) / sz.cs AS retention_rate
      |FROM act a JOIN sz ON sz.c = a.cohort_week
      |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    graft.operators.Cohort.retention(
      Tables.load(s, dir, "events"), "user_id", "ts")
      .orderBy("cohort_week", "week_offset")
  }

  // THEIL–SEN robust trend (TimeSeries.theilSenSlope): median-of-
  // pairwise-slopes — the outlier-proof line next to q_e22's OLS
  // trendSlope. The pair expansion is per-key and the series length is
  // bounded by the TIME WINDOW (30 days here → ≤ 435 pairs/key at any
  // corpus size), so total work is linear in #keys. Each pairwise slope
  // is one double division of exact integers/decimal-derived values
  // rounded to 9; the median is percentile ≡ quantile_cont (the probed
  // bit-identical interpolation); constant probe user -1 pins slope 0
  // exactly, the 2-day probe user -2 pins slope 1 from a single pair.
  private val qE30 = Q(
    "q_e30_theil_sen",
    s"""WITH d AS (
      |$dailyWithProbesSql),
      |x AS (SELECT user_id, date_diff('day', DATE '1970-01-01', day) AS x,
      |             daily_value AS y
      |      FROM d),
      |p AS (SELECT a.user_id, round((b.y - a.y) / CAST(b.x - a.x AS DOUBLE), 9) AS s
      |      FROM x a JOIN x b ON a.user_id = b.user_id AND a.x < b.x),
      |m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
      |             quantile_cont(s, 0.5) AS slope
      |      FROM p GROUP BY 1),
      |c AS (SELECT x.user_id, round(x.y - m.slope * CAST(x.x AS DOUBLE), 9) AS ic
      |      FROM x JOIN m USING (user_id)),
      |i AS (SELECT user_id, quantile_cont(ic, 0.5) AS icpt FROM c GROUP BY 1),
      |n AS (SELECT user_id, CAST(count(*) AS INT) AS n_points FROM x GROUP BY 1)
      |SELECT n.user_id, n.n_points,
      |       COALESCE(m.n_pairs, CAST(0 AS BIGINT)) AS n_pairs,
      |       round(m.slope, 6) AS ts_slope, round(i.icpt, 6) AS ts_intercept
      |FROM n LEFT JOIN m USING (user_id) LEFT JOIN i USING (user_id)
      |ORDER BY 1""".stripMargin) { (s, dir) =>
    val daily = dailyWithProbes(s, dir, includeSinglePair = true)
      .withColumn("x",
        datediff(col("day").cast("date"),
          lit(java.sql.Date.valueOf("1970-01-01"))))
    graft.operators.TimeSeries
      .theilSenSlope(daily, "user_id", "x", "daily_value")
      .orderBy("user_id")
  }

  // DYNAMIC TIME WARPING to a broadcast pattern (TimeSeries
  // .dtwToPattern, Sakoe–Chiba 1978): the elastic shape-match on the
  // probe-hardened daily corpus against the fixed peak pattern
  // [10,20,30,20,10]. The engine folds the DP lattice row by row in one
  // nested HOF; the oracle's recursive CTE steps the series carrying
  // the previous DP row as a list column (the q_e29 ring discipline)
  // and unrolls the 5 within-row cells via LATERAL column references —
  // every cell |y−p| + least(3 doubles) in the identical order, so the
  // distance replays to the bit. Probe user −2 (2 points) pins the
  // short-series path; constant user −1 the all-cells-equal path.
  private val qE31 = Q(
    "q_e31_dtw_pattern",
    s"""WITH RECURSIVE d AS (
      |$dailyWithProbesSql),
      |s AS (
      |  SELECT user_id, daily_value AS y,
      |         row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
      |  FROM d),
      |r AS (
      |  SELECT user_id, CAST(0 AS BIGINT) AS rn,
      |         [CAST(0.0 AS DOUBLE), CAST(1e300 AS DOUBLE), CAST(1e300 AS DOUBLE),
      |          CAST(1e300 AS DOUBLE), CAST(1e300 AS DOUBLE), CAST(1e300 AS DOUBLE)] AS rw
      |  FROM (SELECT DISTINCT user_id FROM s)
      |  UNION ALL
      |  SELECT user_id, rn,
      |         [CAST(1e300 AS DOUBLE), c1, c2, c3, c4, c5] AS rw
      |  FROM (
      |    SELECT t.user_id, t.rn,
      |           abs(t.y - 10) + least(t.pr[1], t.pr[2], CAST(1e300 AS DOUBLE)) AS c1,
      |           abs(t.y - 20) + least(t.pr[2], t.pr[3], c1) AS c2,
      |           abs(t.y - 30) + least(t.pr[3], t.pr[4], c2) AS c3,
      |           abs(t.y - 20) + least(t.pr[4], t.pr[5], c3) AS c4,
      |           abs(t.y - 10) + least(t.pr[5], t.pr[6], c4) AS c5
      |    FROM (SELECT s.user_id, s.rn, r.rw AS pr, s.y
      |          FROM r JOIN s ON s.user_id = r.user_id AND s.rn = r.rn + 1) t)),
      |f AS (SELECT user_id, max(rn) AS maxrn FROM s GROUP BY 1)
      |SELECT r.user_id, CAST(f.maxrn AS INT) AS n_points,
      |       round(r.rw[6], 6) AS dtw_distance
      |FROM r JOIN f ON r.user_id = f.user_id AND r.rn = f.maxrn
      |ORDER BY 1""".stripMargin) { (s, dir) =>
    graft.operators.TimeSeries.dtwToPattern(
      dailyWithProbes(s, dir, includeSinglePair = true),
      "user_id", "day", "daily_value",
      Seq(10.0, 20.0, 30.0, 20.0, 10.0))
      .orderBy("user_id")
  }

  // A/B experiment readout with CUPED variance reduction
  // (Experiment.cuped, Deng et al. 2013): units = users, variant by
  // user_id parity, Y = post-period value sum, X = the pre-period sum of
  // the same metric (the canonical covariate). Per-user sums fold as
  // exact DECIMAL(20,2); the operator quantizes to DECIMAL(15,4), folds
  // exact moments, and derives theta/means/diffs as one fixed IEEE tree
  // rounded to 6 decimals — the oracle replays the identical tree.
  private val qE32 = Q(
    "q_e32_cuped_experiment",
    """WITH pu AS (
      |  SELECT user_id, CAST(user_id % 2 AS INT) AS variant,
      |         CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-08 00:00:00'
      |                                THEN CAST(value AS DECIMAL(20,2)) END),
      |                       0) AS DOUBLE) AS x0,
      |         CAST(coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-08 00:00:00'
      |                                THEN CAST(value AS DECIMAL(20,2)) END),
      |                       0) AS DOUBLE) AS y0
      |  FROM events GROUP BY 1, 2),
      |q AS (SELECT variant, CAST(x0 AS DECIMAL(15,4)) AS x,
      |             CAST(y0 AS DECIMAL(15,4)) AS y FROM pu),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |         CAST(sum(CASE WHEN variant = 0 THEN x END) AS DOUBLE) AS sxa,
      |         CAST(sum(CASE WHEN variant = 1 THEN x END) AS DOUBLE) AS sxb,
      |         CAST(sum(CASE WHEN variant = 0 THEN y END) AS DOUBLE) AS sya,
      |         CAST(sum(CASE WHEN variant = 1 THEN y END) AS DOUBLE) AS syb,
      |         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
      |         CAST(sum(x * y) AS DOUBLE) AS sxy,
      |         CAST(sum(x * x) AS DOUBLE) AS sxx,
      |         CAST(sum(y * y) AS DOUBLE) AS syy,
      |         (max(x) > min(x)) AS varx, (max(y) > min(y)) AS vary
      |  FROM q)
      |SELECT n, n_a, n_b, '0' AS variant_a, '1' AS variant_b,
      |       round(sya / n_a, 6) AS mean_y_a,
      |       round(syb / n_b, 6) AS mean_y_b,
      |       round(sya / n_a - syb / n_b, 6) AS diff,
      |       round(CASE WHEN varx THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
      |                  ELSE CAST(0 AS DOUBLE) END, 6) AS theta,
      |       round(sya / n_a - syb / n_b
      |             - (CASE WHEN varx THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
      |                     ELSE CAST(0 AS DOUBLE) END)
      |               * (sxa / n_a - sxb / n_b), 6) AS adj_diff,
      |       round(CASE WHEN varx AND vary
      |                  THEN ((n * sxy - sx * sy) * (n * sxy - sx * sy))
      |                       / ((n * sxx - sx * sx) * (n * syy - sy * sy))
      |                  ELSE CAST(0 AS DOUBLE) END, 6) AS var_reduction
      |FROM m""".stripMargin) { (s, dir) =>
    val cut = lit("2024-01-08 00:00:00").cast("timestamp")
    val perUser = Tables.load(s, dir, "events")
      .groupBy(col("user_id"), (col("user_id") % 2).cast("int").as("variant"))
      .agg(
        coalesce(sum(when(col("ts") < cut, col("value").cast("decimal(20,2)"))),
          lit(0).cast("decimal(20,2)")).cast("double").as("x"),
        coalesce(sum(when(col("ts") >= cut, col("value").cast("decimal(20,2)"))),
          lit(0).cast("decimal(20,2)")).cast("double").as("y"))
    graft.operators.Experiment.cuped(perUser, "variant", "y", "x")
  }

  // Randomization test of the q_e32 experiment's observed diff
  // (Experiment.permutationTest): 200 deterministic md5-coin
  // re-assignments of the per-user metric, p = (1 + extreme)/(valid + 1).
  // Group sums per replicate fold as exact decimals, so the EXTREME
  // COUNT is exact — the only rounding in the output is presentational.
  // The oracle replays the identical coin (the q_t26 hashUnit SQL form)
  // and the identical comparison tree.
  private val qE33 = Q(
    "q_e33_permutation_test",
    """WITH pu AS (
      |  SELECT user_id, CAST(user_id % 2 AS INT) AS variant,
      |         CAST(CAST(coalesce(sum(CAST(value AS DECIMAL(20,2))), 0)
      |              AS DOUBLE) AS DECIMAL(15,4)) AS y
      |  FROM events GROUP BY 1, 2),
      |o AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_units,
      |         CAST(sum(CASE WHEN variant = 0 THEN y END) AS DOUBLE)
      |           / sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
      |         - CAST(sum(CASE WHEN variant <> 0 THEN y END) AS DOUBLE)
      |           / sum(CASE WHEN variant <> 0 THEN 1 ELSE 0 END) AS obs_diff
      |  FROM pu),
      |e AS (
      |  SELECT pu.user_id, pu.y, u.p,
      |         CASE WHEN (('0x' || substring(md5(
      |                 CAST(user_id AS VARCHAR) || '|' ||
      |                 CAST(u.p AS VARCHAR) || ':perm'), 1, 8))::BIGINT
      |               / 4294967296) < 0.5
      |              THEN 1 ELSE 0 END AS g
      |  FROM pu, unnest(range(0, 200)) AS u(p)),
      |pp AS (
      |  SELECT p,
      |         sum(CASE WHEN g = 1 THEN y END) AS s1,
      |         sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS n1,
      |         sum(CASE WHEN g = 0 THEN y END) AS s0,
      |         sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS n0
      |  FROM e GROUP BY 1),
      |s AS (
      |  SELECT o.n_units, o.obs_diff,
      |         sum(CASE WHEN n1 > 0 AND n0 > 0 THEN 1 ELSE 0 END) AS n_valid,
      |         sum(CASE WHEN n1 > 0 AND n0 > 0
      |                  AND abs(CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
      |                      >= abs(o.obs_diff)
      |                  THEN 1 ELSE 0 END) AS n_extreme
      |  FROM pp CROSS JOIN o GROUP BY 1, 2)
      |SELECT n_units, CAST(200 AS BIGINT) AS n_perms,
      |       CAST(n_valid AS BIGINT) AS n_valid,
      |       round(obs_diff, 6) AS observed_diff,
      |       CAST(n_extreme AS BIGINT) AS n_extreme,
      |       round(CAST(n_extreme + 1 AS DOUBLE) / (n_valid + 1), 6) AS p_value
      |FROM s""".stripMargin) { (s, dir) =>
    val perUser = Tables.load(s, dir, "events")
      .groupBy(col("user_id"), (col("user_id") % 2).cast("int").as("variant"))
      .agg(coalesce(sum(col("value").cast("decimal(20,2)")),
        lit(0).cast("decimal(20,2)")).cast("double").as("y"))
    graft.operators.Experiment
      .permutationTest(perUser, "user_id", "variant", "y",
        nPerms = 200, seed = "perm")
  }

  // Kaplan-Meier time-to-first-purchase (Survival.kaplanMeier): subjects
  // enter at their first event, the event is the first purchase BEFORE
  // the administrative study cutoff (2024-01-03), and everyone else is
  // right-censored at the cutoff - the fixed-end-of-study design that
  // guarantees a censored population. Durations are exact integer hours
  // (unix_micros floor-div), the risk ledger is exact integers, and the
  // running product is a SEQUENTIAL exp-sum-ln both engines evaluate in
  // the same order, rounded to 6 decimals.
  private val qE34 = Q(
    "q_e34_kaplan_meier",
    """WITH per0 AS (
      |  SELECT user_id, min(epoch_us(ts)) AS start_us,
      |         min(CASE WHEN event_type = 'purchase'
      |                   AND ts < TIMESTAMP '2024-01-03 00:00:00'
      |                  THEN epoch_us(ts) END) AS ev_us
      |  FROM events GROUP BY 1),
      |per AS (
      |  SELECT CASE WHEN ev_us IS NOT NULL THEN 1 ELSE 0 END AS ev,
      |         (coalesce(ev_us, epoch_us(TIMESTAMP '2024-01-03 00:00:00'))
      |          - start_us) // 3600000000 AS t
      |  FROM per0
      |  WHERE start_us < epoch_us(TIMESTAMP '2024-01-03 00:00:00')),
      |g AS (
      |  SELECT t, sum(ev) AS d, sum(1 - ev) AS c
      |  FROM per GROUP BY 1),
      |w AS (
      |  SELECT t, d, c,
      |         sum(d + c) OVER () -
      |           coalesce(sum(d + c) OVER (ORDER BY t
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS n_risk
      |  FROM g),
      |s AS (
      |  SELECT t, d, c, n_risk,
      |         CAST(n_risk - d AS DOUBLE) / n_risk AS f
      |  FROM w),
      |k AS (
      |  SELECT t, d, c, n_risk,
      |         sum(CASE WHEN f > 0 THEN ln(f) ELSE CAST(0 AS DOUBLE) END)
      |           OVER (ORDER BY t) AS ls,
      |         sum(CASE WHEN f = 0 THEN 1 ELSE 0 END) OVER (ORDER BY t) AS z
      |  FROM s)
      |SELECT CAST(t AS BIGINT) AS t,
      |       CAST(n_risk AS BIGINT) AS n_risk,
      |       CAST(d AS BIGINT) AS n_events,
      |       CAST(c AS BIGINT) AS n_censored,
      |       CASE WHEN z > 0 THEN CAST(0 AS DOUBLE)
      |            ELSE round(exp(ls), 6) END AS survival
      |FROM k ORDER BY t""".stripMargin) { (s, dir) =>
    val cutUs = lit("2024-01-03 00:00:00").cast("timestamp")
    val per = Tables.load(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        min(unix_micros(col("ts"))).as("start_us"),
        min(when(col("event_type") === "purchase" && col("ts") < cutUs,
          unix_micros(col("ts")))).as("ev_us"))
      .filter(col("start_us") < unix_micros(cutUs))
      .select(
        when(col("ev_us").isNotNull, 1).otherwise(0).as("ev"),
        expr("(coalesce(ev_us, unix_micros(TIMESTAMP '2024-01-03 00:00:00')) " +
          "- start_us) div 3600000000").as("t"))
    graft.operators.Survival.kaplanMeier(per, "t", "ev")
  }

  override val all: Seq[Q] = Seq(
    qScan, qP1, qP2, qP3, qP4, qP5, qP6,
    qJ1, qJ2, qJ3, qJ4, qJ5, qJ6, qJ7, qJ8,
    qA1, qA3, qDistinct, qRollup, qA5,
    qO1, qO2, qO3, qUnion, qIntersect, qWindow,
    qAgg, qEvents, qSessions, qAsOf, qA5b, qA6, qA6b, qPivot, qRange, qJ9,
    qCube, qSessionWindow, qScd2, qJ10, qA7, qJ11, qE6, qE7, qW2, qP12,
    qJ12, qW3, qJ13, qE8, qE9, qE10, qE11, qE12, qE13, qE14, qE15,
    qP13, qA14, qE16, qE17, qE18, qE19, qE20, qE21, qE22, qE23, qE24, qE25, qE26,
    qE27, qE28, qE29, qE30, qE31, qE32, qE33, qE34)
}
