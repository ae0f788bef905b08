package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

import graft.{RunScope, Tables}
import graft.operators.ZOrder
import graft.sources.Layout
import graft.RunScope.Pinning

/** Physical-layout operators under the oracle gate: results must equal the
  * plain logical query on the raw table, while the plan proves the layout
  * paid off (exchange elided / partitions pruned). This is the 100 TB
  * posture made gate-visible — on a real cluster these layouts are the
  * difference between re-shuffling 100 TB per join and reading co-located
  * buckets, or between scanning every file and touching the covering set.
  */
object LayoutQueries extends QueryGroup {

  private def t = Tables.load _

  // Sort-merge-bucket join: both sides written bucketed+sorted on the join
  // key (graft.sources.Layout.writeBucketed), so the forced sort-merge join
  // reads co-located, pre-sorted buckets and elides BOTH exchanges. The
  // require() makes the shuffle-free plan a gate, not an aspiration; the
  // oracle proves the layout changes nothing about the answer.
  private val qL1 = Q(
    "q_l1_bucketed_join",
    """SELECT o_orderpriority,
      |       CAST(count(*) AS INT) AS n_rows,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
    Layout.writeBucketed(
      t(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
      "graft_l1_lineitem", Seq("l_orderkey"), 8)
    Layout.writeBucketed(
      t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
      "graft_l1_orders", Seq("o_orderkey"), 8)
    val joined = s.table("graft_l1_lineitem")
      .hint("merge")
      .join(s.table("graft_l1_orders"), col("l_orderkey") === col("o_orderkey"))
    require(!Layout.hasShuffle(joined),
      "q_l1: bucketed sort-merge join must elide the shuffle exchanges")
    joined
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).cast("int").as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  // Z-order layout: lineitem written partitioned by a 3-bit × 2-dim Morton
  // code over (l_partkey, l_quantity); the conjunctive box predicate reads
  // only the covering codes (driver-enumerated IN-list → Catalyst
  // directory pruning), then applies the exact residual filter. Gates:
  // the covering set must actually prune (< all 64 codes) and the plan
  // must carry the code as a PartitionFilter, not a post-scan filter.
  private val qL2 = Q(
    "q_l2_zorder_pruning",
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
      |FROM lineitem
      |WHERE l_partkey BETWEEN 100 AND 180 AND l_quantity BETWEEN 10 AND 20
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""".stripMargin) { (s, dir) =>
    val bits = 3
    val li = t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    val b = li.agg(
      min("l_partkey"), max("l_partkey"), min("l_quantity"), max("l_quantity")).head()
    val (pkLo, pkHi) = (b.getLong(0).toDouble, b.getLong(1).toDouble)
    val (qtyLo, qtyHi) = (b.getDouble(2), b.getDouble(3))
    val zb = ZOrder.zValue(
      Seq(
        ZOrder.cell(col("l_partkey"), pkLo, pkHi, bits),
        ZOrder.cell(col("l_quantity"), qtyLo, qtyHi, bits)),
      bits)
    val tmp = RunScope.scratchDir("graft_zorder")
    li.withColumn("zb", zb).write.mode("overwrite").partitionBy("zb").parquet(tmp)
    val covering = ZOrder.coveringZ(
      Seq((100d, 180d), (10d, 20d)), Seq(pkLo, qtyLo), Seq(pkHi, qtyHi), bits)
    require(covering.size < (1 << (2 * bits)),
      s"q_l2: covering set (${covering.size}) must prune, not enumerate all codes")
    val pruned = s.read.parquet(tmp)
      .where(col("zb").isin(covering.map(Integer.valueOf): _*) &&
        col("l_partkey").between(100, 180) && col("l_quantity").between(10, 20))
    val plan = pruned.queryExecution.executedPlan.toString
    require(plan.contains("PartitionFilters") && plan.contains("zb"),
      s"q_l2: the Morton-code IN-list must prune partitions at the scan:\n$plan")
    // (l_orderkey, l_linenumber) is not unique in the synthetic data —
    // order by every output column so the dump is totally ordered
    pruned
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
  }

  // CSV round-trip under the oracle: a quoting-hostile payload (embedded
  // quotes + commas, derived deterministically so the oracle can mirror
  // it) written through the RFC-4180 CSV sink (S12) and read back with
  // an explicit schema. The gate proves writer and reader agree on
  // quoting/escaping AND that values survive the text round-trip.
  private val qS2 = Q(
    "q_s2_csv_roundtrip",
    """SELECT doc_id,
      |       '"' || translate(substr(text, 1, 40), ' ', ',') || '",x' AS payload,
      |       lang, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val slice = Tables.load(s, dir, "documents")
      .select(
        col("doc_id"),
        concat(lit("\""), translate(substring(col("text"), 1, 40), " ", ","),
          lit("\",x")).as("payload"),
        col("lang"), col("n_chars"))
    val tmp = RunScope.scratchDir("graft_csv")
    graft.sources.FileSinks.csv(slice, tmp)
    s.read
      .schema(slice.schema)
      .option("header", "true")
      .csv(tmp)
      .orderBy("doc_id")
  }

  // Small-file compaction: fragment documents into 48 tiny files, run
  // Layout.compact to ~256 KiB targets, and gate that the output file
  // count matches the byte-derived target and actually shrank — while
  // the oracle proves compaction is content-neutral.
  private val qL3 = Q(
    "q_l3_compaction",
    """SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id""") { (s, dir) =>
    val frag = RunScope.scratchDir("graft_frag")
    val out = RunScope.scratchDir("graft_compact")
    Tables.load(s, dir, "documents")
      .select("doc_id", "lang", "n_chars", "text")
      .repartition(48)
      .write.mode("overwrite").parquet(frag)
    val target = Layout.compact(s, frag, out, targetBytes = 256L * 1024)
    val back = s.read.parquet(out)
    val outFiles = back.inputFiles.length
    require(outFiles == target && outFiles < 48,
      s"q_l3: compaction must hit the byte-derived target ($target), got $outFiles")
    back.select("doc_id", "lang", "n_chars").orderBy("doc_id")
  }

  // Zone-map (per-file min/max manifest) data skipping over a range-
  // partitioned layout: the manifest-driven file list must be a strict
  // subset, the residual filter still applies, and the oracle proves
  // skipping loses nothing. This is the external-index complement to
  // q_l2's partition pruning — predicates on NON-partition columns.
  private val qL4 = Q(
    "q_l4_zonemap_skipping",
    """SELECT l_orderkey, l_linenumber, l_quantity
      |FROM lineitem WHERE l_orderkey BETWEEN 100 AND 500
      |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin) { (s, dir) =>
    val frag = RunScope.scratchDir("graft_zonemap")
    t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .repartitionByRange(16, col("l_orderkey"))
      .write.mode("overwrite").parquet(frag)
    val manifest = Layout.statsManifest(s, frag, Seq("l_orderkey"))
    val total = s.read.parquet(frag).inputFiles.length
    val skipped = Layout.readSkipping(s, manifest, "l_orderkey", 100L, 500L)
    require(skipped.inputFiles.length < total,
      s"q_l4: zone maps must skip files (${skipped.inputFiles.length}/$total read)")
    skipped
      .where(col("l_orderkey").between(100, 500))
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")
  }

  // Schema-drift merge: an old-generation frame (no `source` column)
  // unions with the new generation BY NAME, missing columns null-filled —
  // the ingestion behavior every long-lived table needs when producers
  // add fields. Positional union would silently misalign; the oracle
  // pins the by-name semantics.
  private val qS3 = Q(
    "q_s3_schema_drift",
    """SELECT doc_id, lang, n_chars, CAST(NULL AS VARCHAR) AS source
      |FROM documents WHERE doc_id % 2 = 0
      |UNION ALL
      |SELECT doc_id, lang, n_chars, source
      |FROM documents WHERE doc_id % 2 = 1
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val gen1 = docs.where(pmod(col("doc_id"), lit(2)) === 0)
      .select("doc_id", "lang", "n_chars")
    val gen2 = docs.where(pmod(col("doc_id"), lit(2)) === 1)
      .select("doc_id", "lang", "n_chars", "source")
    gen1.unionByName(gen2, allowMissingColumns = true).orderBy("doc_id")
  }

  // ORC round-trip: the second columnar format (built into Spark; the
  // common interchange with Hive-era warehouses). Mixed types — int
  // keys, char(1) status, double money, DATE — must survive the write
  // and read back bit-exactly; the oracle reads the same rows from the
  // original parquet, so any ORC type coercion breaks the hash.
  // Pushdown note: ORC carries its own min/max stripe statistics, so
  // the q_l4 zone-map pattern comes free inside the format.
  private val qS4 = Q(
    "q_s4_orc_roundtrip",
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val out = RunScope.scratchDir("graft_orc")
    t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      .write.mode("overwrite").orc(out)
    s.read.orc(out).orderBy("o_orderkey")
  }

  // JSONL round-trip: the landing format for API exports and log shippers,
  // and the one format whose value-add is NESTING — so the gate routes an
  // array-of-struct payload (per-order line list), a millisecond
  // timestamp, and a nullable field through the text encoding. Spark's
  // JSON writer omits null fields entirely (ignoreNullFields default);
  // the schema'd read must restore them as NULL, and the oracle — plain
  // SQL over the original parquet — proves nothing was bent by the
  // collect/serialize/parse/explode round trip.
  private val qS5 = Q(
    "q_s5_jsonl_roundtrip",
    """SELECT l_orderkey,
      |       CAST(count(*) OVER (PARTITION BY l_orderkey) AS INT) AS n_lines,
      |       l_linenumber, l_quantity, l_shipdate,
      |       nullif(l_returnflag, 'N') AS flag
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_quantity, l_shipdate""".stripMargin) { (s, dir) =>
    val li = t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
      col("l_shipdate"), nullif(col("l_returnflag"), lit("N")).as("flag"))
    val nested = li.groupBy("l_orderkey").agg(
      sort_array(collect_list(struct(
        col("l_linenumber"), col("l_quantity"), col("l_shipdate"),
        col("flag")))).as("lines"),
      count(lit(1)).cast("int").as("n_lines"))
    val tmp = RunScope.scratchDir("graft_jsonl")
    nested.write.mode("overwrite").json(tmp)
    val back = s.read.schema(nested.schema).json(tmp)
    back
      .select(col("l_orderkey"), col("n_lines"), explode(col("lines")).as("ln"))
      .select(
        col("l_orderkey"), col("n_lines"), col("ln.l_linenumber"),
        col("ln.l_quantity"), col("ln.l_shipdate"), col("ln.flag"))
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
  }

  // XML round-trip: the config/interchange format the reference's runtime
  // actually consumes (its SQL/column-map registry lives in an XML-adjacent
  // properties dir contract, SisConnectorService.java:710-721), and the
  // last text format in the family (CSV q_s2, JSON q_s5). Spark 4 ships a
  // native XML datasource (spark-xml merged upstream), so the same NESTED
  // payload as q_s5 — array-of-struct line list, DATE, nullable field —
  // goes through rowTag-framed XML. The writer omits null fields (like
  // JSON); the schema'd read must restore them as NULL, and the oracle
  // reads the same rows straight from the original parquet, so any
  // serialize/parse coercion breaks the hash.
  private val qS6 = Q(
    "q_s6_xml_roundtrip",
    qS5.oracle.get) { (s, dir) =>
    val li = t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
      col("l_shipdate"), nullif(col("l_returnflag"), lit("N")).as("flag"))
    val nested = li.groupBy("l_orderkey").agg(
      sort_array(collect_list(struct(
        col("l_linenumber"), col("l_quantity"), col("l_shipdate"),
        col("flag")))).as("lines"),
      count(lit(1)).cast("int").as("n_lines"))
    val tmp = RunScope.scratchDir("graft_xml")
    nested.write.mode("overwrite").option("rowTag", "order").xml(tmp)
    val back = s.read.schema(nested.schema).option("rowTag", "order").xml(tmp)
    back
      .select(col("l_orderkey"), col("n_lines"), explode(col("lines")).as("ln"))
      .select(
        col("l_orderkey"), col("n_lines"), col("ln.l_linenumber"),
        col("ln.l_quantity"), col("ln.l_shipdate"), col("ln.flag"))
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
  }

  // Avro round-trip: the row-oriented interchange format (Kafka payloads,
  // schema-registry pipelines) — also built into Spark 4's sql module.
  // Unlike the text formats, Avro is BINARY with logical types, so the
  // gate routes exactly the type mix that trips naive encoders: DATE
  // (logical date-days), a nested array-of-struct, and a nullable string
  // (Avro nullable = union[null, T]). Oracle = same rows from the
  // original parquet.
  private val qS7 = Q(
    "q_s7_avro_roundtrip",
    qS5.oracle.get) { (s, dir) =>
    val li = t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
      col("l_shipdate"), nullif(col("l_returnflag"), lit("N")).as("flag"))
    val nested = li.groupBy("l_orderkey").agg(
      sort_array(collect_list(struct(
        col("l_linenumber"), col("l_quantity"), col("l_shipdate"),
        col("flag")))).as("lines"),
      count(lit(1)).cast("int").as("n_lines"))
    val tmp = RunScope.scratchDir("graft_avro")
    nested.write.mode("overwrite").format("org.apache.spark.sql.avro.AvroFileFormat").save(tmp)
    val back = s.read.schema(nested.schema).format("org.apache.spark.sql.avro.AvroFileFormat").load(tmp)
    back
      .select(col("l_orderkey"), col("n_lines"), explode(col("lines")).as("ln"))
      .select(
        col("l_orderkey"), col("n_lines"), col("ln.l_linenumber"),
        col("ln.l_quantity"), col("ln.l_shipdate"), col("ln.flag"))
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
  }

  // Hive-layout partition pruning: lineitem written `partitionBy` the
  // filter column, re-read with an equality predicate. The require()
  // gates on the PLAN carrying the predicate as a PartitionFilters entry
  // (directory elimination — a predicate on a non-partition column never
  // appears there), so at 100 TB the scan lists/reads ONE partition's
  // files instead of filtering the whole table post-scan; the oracle
  // proves the layout changed nothing about the answer. Complements
  // q_l2 (z-order code pruning) and q_l4 (zone-map file skipping): this
  // is the third and most common pruning tier, the catalog-native one.
  private val qL5 = Q(
    "q_l5_hive_partition_pruning",
    """SELECT l_returnflag,
      |       CAST(count(*) AS INT) AS n_rows,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE l_returnflag = 'R'
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val tmp = RunScope.scratchDir("graft_hive")
    Layout.writePartitioned(
      t(s, dir, "lineitem").select("l_returnflag", "l_quantity"),
      tmp, Seq("l_returnflag"))
    val pruned = s.read.parquet(tmp).where(col("l_returnflag") === "R")
    require(Layout.hasPartitionFilter(pruned, "l_returnflag"),
      "q_l5: the equality predicate must reach the scan as a PartitionFilter")
    pruned
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).cast("int").as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy("l_returnflag")
  }

  // TIMESTAMP_NTZ round-trip hardening gate. A real lake has NTZ columns
  // (parquet timestamp[us] with isAdjustedToUTC=false — exactly what the
  // round-9 testdata regeneration shipped for events.ts, which broke 12
  // event-time queries at analysis until Tables.normalizeEventTs). The gate
  // recreates that hazard ON DATA THE ENGINE WROTE ITSELF: write events.ts
  // as NTZ, read it back, REQUIRE it arrived as NTZ (so the gate can't
  // silently degrade into a plain-timestamp no-op if write/read defaults
  // change), normalize, and push it through unix_micros arithmetic. The
  // oracle reads the ORIGINAL parquet in DuckDB — under the session's fixed
  // UTC zone the NTZ reinterpretation is epoch-lossless, so min/max/sum of
  // epoch micros must match to the last digit.
  private val qS8 = Q(
    "q_s8_ntz_roundtrip",
    """SELECT event_type,
      |       CAST(count(*) AS INT) AS n,
      |       min(epoch_us(ts)) AS min_us,
      |       max(epoch_us(ts)) AS max_us,
      |       CAST(sum(epoch_us(ts) % 86400000000) AS BIGINT) AS sum_tod_us
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val tmp = RunScope.scratchDir("graft_ntz")
    t(s, dir, "events")
      .select(col("event_type"), col("ts").cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(tmp)
    val back = s.read.parquet(tmp)
    require(back.schema("ts").dataType == TimestampNTZType,
      "q_s8: self-written parquet must read back as TIMESTAMP_NTZ for the gate to exercise the NTZ path")
    Tables.normalizeEventTs(back)
      .groupBy("event_type")
      .agg(
        count(lit(1)).cast("int").as("n"),
        min(unix_micros(col("ts"))).as("min_us"),
        max(unix_micros(col("ts"))).as("max_us"),
        sum(unix_micros(col("ts")) % 86400000000L).as("sum_tod_us"))
      .orderBy("event_type")
  }

  // KEY-SKEW diagnostics (operators.DataProfile.keySkewReport): the
  // pre-join report the salting / AQE-skew / bucketing decisions read —
  // rows-per-key max, top-1/top-10 shares, and the exact Gini of the
  // key-count vector under the deterministic (count, key) order. One
  // hash aggregate reduces the table to key counts; everything else
  // runs over the |keys|-row frame. The oracle replays the identical
  // rank/Gini integer arithmetic.
  private val qL6 = Q(
    "q_l6_key_skew",
    """WITH c AS (SELECT CAST(l_suppkey AS VARCHAR) AS k, count(*) AS c
      |           FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY 1),
      |r AS (SELECT c, row_number() OVER (ORDER BY c ASC, k ASC) AS i FROM c),
      |t AS (SELECT max(c) AS m1, sum(c) AS t10 FROM
      |        (SELECT c FROM c ORDER BY c DESC, k ASC LIMIT 10)),
      |ag AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
      |              CAST(count(*) AS BIGINT) AS n_keys,
      |              CAST(sum(i * c) AS BIGINT) AS iw FROM r)
      |SELECT ag.n_rows, ag.n_keys, CAST(t.m1 AS BIGINT) AS max_key_rows,
      |       CAST(t.m1 AS DOUBLE) / ag.n_rows AS top1_share,
      |       CAST(t.t10 AS DOUBLE) / ag.n_rows AS top10_share,
      |       2.0 * ag.iw / (ag.n_keys * ag.n_rows)
      |         - CAST(ag.n_keys + 1 AS DOUBLE) / ag.n_keys AS gini
      |FROM ag CROSS JOIN t""".stripMargin) { (s, dir) =>
    graft.operators.DataProfile.keySkewReport(
      Tables.load(s, dir, "lineitem"), "l_suppkey")
  }

  // Exact equi-join size prediction (DataProfile.joinSizeProfile):
  // |A ⋈ B| = Σ_k cA(k)·cB(k) from the key-count frames, WITHOUT
  // running the join — the planner's output-cardinality number next to
  // q_l6's input-skew report. The in-engine REQUIRE proves the identity
  // by running the real join once at gate scale and comparing counts;
  // the oracle replays the count-frame arithmetic.
  private val qL7 = Q(
    "q_l7_join_size_profile",
    """WITH ca AS (SELECT CAST(o_custkey AS VARCHAR) AS k, count(*) AS c
      |            FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
      |cb AS (SELECT CAST(c_custkey AS VARCHAR) AS k, count(*) AS c
      |       FROM customer WHERE c_custkey IS NOT NULL GROUP BY 1),
      |j AS (SELECT ca.k, ca.c * cb.c AS prod FROM ca JOIN cb ON ca.k = cb.k)
      |SELECT (SELECT CAST(sum(c) AS BIGINT) FROM ca) AS n_left,
      |       (SELECT CAST(sum(c) AS BIGINT) FROM cb) AS n_right,
      |       CAST(count(*) AS BIGINT) AS n_common_keys,
      |       CAST(sum(prod) AS BIGINT) AS predicted_rows,
      |       CAST(max(prod) AS BIGINT) AS max_key_rows,
      |       (SELECT k FROM j ORDER BY prod DESC, k ASC LIMIT 1) AS top_key
      |FROM j""".stripMargin) { (s, dir) =>
    val orders = Tables.load(s, dir, "orders")
    val customer = Tables.load(s, dir, "customer")
    val out = graft.operators.DataProfile
      .joinSizeProfile(orders, "o_custkey", customer, "c_custkey")
      .pin()
    // the identity check: the prediction must equal the real join's size
    val predicted = out.head().getAs[Long]("predicted_rows")
    val actual = orders.join(
      customer, orders("o_custkey") === customer("c_custkey")).count()
    require(predicted == actual,
      s"q_l7: predicted join size $predicted must equal the real join's $actual")
    out
  }

  override val all: Seq[Q] =
    Seq(qL1, qL2, qS2, qL3, qL4, qL5, qL6, qL7, qS3, qS4, qS5, qS6, qS7, qS8)
}
