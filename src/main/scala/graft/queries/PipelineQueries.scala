package graft.queries

import org.apache.spark.sql.functions._

import graft.{RunScope, Tables}
import graft.plans.{EntityAssembly, SyncRun}
import graft.RunScope.Pinning

/** Flagship pipeline queries: the full SURVEY.md §3.2 entity assembly
  * (projection → descriptor resolution → dedup-merge → nesting → sync
  * diff) verified end to end. The nested form is rows-only (parquet has no
  * nested-type oracle); the flattened form hash-verifies the ENTIRE nested
  * structure through a canonical md5 fingerprint both engines compute.
  */
object PipelineQueries extends QueryGroup {

  // Flagship nested entity assembly, emitted as oracle-comparable scalars:
  // every scalar field verbatim + ref struct flattened + one md5 over the
  // canonical rendering of the complete entity (the nested `assemble` form
  // stays the library surface; raw array columns would break the harness's
  // sorted-frame compare).
  private val qF1 = Q(
    "q_f1_entity_nested",
    """WITH resolved AS (
      |  SELECT c_custkey AS studentUniqueId, c_name AS fullName, c_mktsegment AS segment,
      |         coalesce('uri://graft/nation#' || n_name, CAST(c_nationkey AS VARCHAR)) AS nationDescriptor,
      |         c_acctbal AS accountBalance
      |  FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
      |  WHERE c_mktsegment = 'BUILDING'),
      |periods AS (
      |  SELECT l_orderkey AS ok,
      |         string_agg(DISTINCT strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') || ',' || l_returnflag, '|'
      |                    ORDER BY strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') || ',' || l_returnflag) AS pstr
      |  FROM lineitem GROUP BY 1),
      |addrs AS (
      |  SELECT o_custkey,
      |         CAST(count(*) AS INT) AS n_addresses,
      |         string_agg(CAST(o_orderkey AS VARCHAR) || ':' || o_orderstatus || ':' || o_orderpriority || ':' || pstr, ';'
      |                    ORDER BY o_orderkey) AS astr
      |  FROM orders JOIN periods ON o_orderkey = ok GROUP BY 1)
      |SELECT studentUniqueId, fullName, segment, nationDescriptor, accountBalance,
      |       CAST(NULL AS VARCHAR) AS unmappedField,
      |       studentUniqueId AS ref_id, fullName AS ref_name,
      |       coalesce(n_addresses, 0) AS n_addresses,
      |       md5(CAST(studentUniqueId AS VARCHAR) || '~' || fullName || '~' || segment || '~' ||
      |           nationDescriptor || '~' || coalesce(astr, '')) AS entity_md5
      |FROM resolved LEFT JOIN addrs ON studentUniqueId = o_custkey
      |ORDER BY studentUniqueId""".stripMargin) { (s, dir) =>
    EntityAssembly.fingerprinted(s, dir).orderBy("studentUniqueId")
  }

  // Hash-verified flattening of the nested assembly.
  private val qF2 = Q(
    "q_f2_entity_flat",
    """WITH resolved AS (
      |  SELECT c_custkey AS studentUniqueId, c_name AS fullName,
      |         coalesce('uri://graft/nation#' || n_name, CAST(c_nationkey AS VARCHAR)) AS nationDescriptor
      |  FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
      |  WHERE c_mktsegment = 'BUILDING'),
      |periods AS (
      |  SELECT l_orderkey AS ok,
      |         CAST(count(DISTINCT (strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d'), l_returnflag)) AS INT) AS np,
      |         string_agg(DISTINCT strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') || ',' || l_returnflag, '|'
      |                    ORDER BY strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') || ',' || l_returnflag) AS pstr
      |  FROM lineitem GROUP BY 1),
      |addrs AS (
      |  SELECT o_custkey,
      |         CAST(count(*) AS INT) AS n_addresses,
      |         CAST(sum(np) AS INT) AS n_periods,
      |         string_agg(CAST(o_orderkey AS VARCHAR) || ':' || o_orderstatus || ':' || o_orderpriority || ':' || pstr, ';'
      |                    ORDER BY o_orderkey) AS astr
      |  FROM orders JOIN periods ON o_orderkey = ok GROUP BY 1)
      |SELECT studentUniqueId, fullName, nationDescriptor,
      |       coalesce(n_addresses, 0) AS n_addresses,
      |       coalesce(n_periods, 0) AS n_periods,
      |       md5(coalesce(astr, '')) AS addresses_md5
      |FROM resolved LEFT JOIN addrs ON studentUniqueId = o_custkey
      |ORDER BY studentUniqueId""".stripMargin) { (s, dir) =>
    EntityAssembly.flattened(s, dir).orderBy("studentUniqueId")
  }

  // Shared by q_f3 (batch payload) and q_f5 (incremental-sync convergence):
  // the byte-exact JSON payload rebuilt in DuckDB, compared as md5+length.
  private val entityJsonOracle =
    """WITH resolved AS (
      |  SELECT c_custkey AS studentUniqueId, c_name AS fullName, c_mktsegment AS segment,
      |         coalesce('uri://graft/nation#' || n_name, CAST(c_nationkey AS VARCHAR)) AS nationDescriptor
      |  FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
      |  WHERE c_mktsegment = 'BUILDING'),
      |periods AS (
      |  SELECT l_orderkey AS ok,
      |         string_agg(DISTINCT '{"beginDate":"' || strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') ||
      |                             '","flag":"' || l_returnflag || '"}', ','
      |                    ORDER BY '{"beginDate":"' || strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') ||
      |                             '","flag":"' || l_returnflag || '"}') AS pstr
      |  FROM lineitem GROUP BY 1),
      |addrs AS (
      |  SELECT o_custkey,
      |         string_agg('{"addressId":' || CAST(o_orderkey AS VARCHAR) ||
      |                    ',"statusCode":"' || o_orderstatus ||
      |                    '","priority":"' || o_orderpriority ||
      |                    '","periods":[' || pstr || ']}', ',' ORDER BY o_orderkey) AS astr
      |  FROM orders JOIN periods ON o_orderkey = ok GROUP BY 1),
      |payloads AS (
      |  SELECT studentUniqueId,
      |         '{"studentUniqueId":' || CAST(studentUniqueId AS VARCHAR) ||
      |         ',"fullName":"' || fullName ||
      |         '","segment":"' || segment ||
      |         '","nationDescriptor":"' || nationDescriptor ||
      |         '","studentReference":{"studentUniqueId":' || CAST(studentUniqueId AS VARCHAR) ||
      |         ',"fullName":"' || fullName ||
      |         '"},"addresses":[' || coalesce(astr, '') || ']}' AS payload
      |  FROM resolved LEFT JOIN addrs ON studentUniqueId = o_custkey)
      |SELECT studentUniqueId, md5(payload) AS payload_md5,
      |       CAST(length(payload) AS INT) AS payload_len
      |FROM payloads ORDER BY studentUniqueId""".stripMargin

  // JSON sink payload (reference: Gson serialization before POST), verified
  // by md5 + length of the exact serialized bytes: the oracle rebuilds the
  // byte-identical JSON text (Spark to_json field order = struct order, no
  // whitespace, dates as yyyy-MM-dd, no nullable fields present) by string
  // concatenation in DuckDB.
  private val qF3 = Q("q_f3_entity_json", entityJsonOracle) { (s, dir) =>
    EntityAssembly.assembleJson(s, dir)
      .select(
        col("studentUniqueId"),
        md5(col("payload")).as("payload_md5"),
        length(col("payload")).as("payload_len"))
      .orderBy("studentUniqueId")
  }

  // Sync-diff delete set of the flagship pipeline: the batch lifecycle's
  // own delete rule (SyncRun.plan under TargetDiff).
  private val qF4 = Q(
    "q_f4_sync_deletes",
    """SELECT c_custkey AS studentUniqueId FROM customer
      |WHERE c_mktsegment <> 'BUILDING' ORDER BY studentUniqueId""".stripMargin) { (s, dir) =>
    val customer = Tables.load(s, dir, "customer")
    SyncRun.plan(customer, Tables.load(s, dir, _), SyncRun.TargetDiff(customer)).deletes
      .orderBy("studentUniqueId")
  }

  // INCREMENTAL sync proven convergent against the BATCH oracle: a
  // two-wave change feed runs through streaming/IncrementalSync into a
  // loopback server, and the server's converged contents must equal the
  // batch assembly byte-exactly (same SQL as q_f3). Wave 1 is the full
  // snapshot with every key ≡ 0 (mod 7) DISTORTED — in-segment rows
  // flipped out (missing entities) and out-of-segment rows flipped in
  // (spurious upserts). Wave 2 is the delta-sized correction for just
  // those keys, consumed from the same checkpoint — so the gate exercises
  // catch-up, per-key last-write-wins, upsert-over-stale, and
  // delete-of-spurious in one row.
  private val qF5 = Q("q_f5_incremental_sync", entityJsonOracle) { (s, dir) =>
    import graft.sources.MemoryServer
    import graft.streaming.IncrementalSync
    val tmp = RunScope.scratchDir("graft_incr")
    val serverName = s"incr_gate_$tmp"
    val endpoint = new MemoryServer.Endpoint(serverName)
    val tokens = new MemoryServer.Tokens
    val updatesDir = s"$tmp/updates"
    val ckpt = s"$tmp/ckpt"
    val customer = Tables.load(s, dir, "customer")
    val wrongSeg = when(col("c_mktsegment") === EntityAssembly.segment, lit("AUTOMOBILE"))
      .otherwise(lit(EntityAssembly.segment))
    customer
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 7 === 0, wrongSeg).otherwise(col("c_mktsegment")))
      .write.mode("overwrite").parquet(updatesDir)
    def drain(): Unit = IncrementalSync
      .run(s, dir, updatesDir, endpoint, tokens, "/entities", ckpt)
      .awaitTermination()
    drain() // wave 1: distorted snapshot
    customer.filter(col("c_custkey") % 7 === 0)
      .write.mode("append").parquet(updatesDir)
    drain() // wave 2: corrections only, same checkpoint → catch-up
    import scala.jdk.CollectionConverters._
    import s.implicits._
    // RestSink wraps (studentUniqueId, payload) in one more to_json layer;
    // unwrap both fields. Server state is segment-sized — driver-safe.
    val bodies = MemoryServer.store(serverName).values.asScala.toSeq
    MemoryServer.drop(serverName)
    // the waves + checkpoint are customer-table-sized; re-runs would
    // otherwise accumulate a copy per invocation in /tmp
    java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
      .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    bodies.toDF("body")
      .select(
        get_json_object(col("body"), "$.studentUniqueId").cast("long")
          .as("studentUniqueId"),
        get_json_object(col("body"), "$.payload").as("payload"))
      .select(
        col("studentUniqueId"),
        md5(col("payload")).as("payload_md5"),
        length(col("payload")).as("payload_len"))
      .orderBy("studentUniqueId")
  }

  // CDC MERGE apply (SyncDiff.applyCdc): a deterministic change batch —
  // updates (name/balance rewritten) on custkey % 10 = 0, deletes on
  // custkey % 7 = 3 (delete wins where both fire), inserts at offset
  // keys — folded into the customer snapshot as one anti-join + union.
  // The oracle replays the batch construction and the MERGE semantics
  // with NOT EXISTS + UNION ALL.
  private[queries] val qF6 = Q(
    "q_f6_merge_cdc",
    """WITH changes AS (
      |  SELECT c_custkey,
      |         CASE WHEN c_custkey % 7 = 3 THEN c_name ELSE c_name || ' (updated)' END AS c_name,
      |         c_nationkey,
      |         CASE WHEN c_custkey % 7 = 3 THEN c_acctbal ELSE c_acctbal + 100 END AS c_acctbal,
      |         c_mktsegment,
      |         CASE WHEN c_custkey % 7 = 3 THEN 'D' ELSE 'U' END AS op
      |  FROM customer WHERE c_custkey % 7 = 3 OR c_custkey % 10 = 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000, 'New Customer ' || CAST(c_custkey AS VARCHAR),
      |         c_nationkey, 0.0, 'BUILDING', 'U'
      |  FROM customer WHERE c_custkey % 97 = 0)
      |SELECT * FROM (
      |  SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment
      |  FROM customer c
      |  WHERE NOT EXISTS (SELECT 1 FROM changes ch WHERE ch.c_custkey = c.c_custkey)
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |  FROM changes WHERE op <> 'D')
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val cust = Tables.load(s, dir, "customer")
    val isDel = col("c_custkey") % 7 === 3
    val mods = cust
      .filter(isDel || col("c_custkey") % 10 === 0)
      .select(
        col("c_custkey"),
        when(isDel, col("c_name"))
          .otherwise(concat(col("c_name"), lit(" (updated)"))).as("c_name"),
        col("c_nationkey"),
        when(isDel, col("c_acctbal")).otherwise(col("c_acctbal") + 100).as("c_acctbal"),
        col("c_mktsegment"),
        when(isDel, lit("D")).otherwise(lit("U")).as("op"))
    val inserts = cust
      .filter(col("c_custkey") % 97 === 0)
      .select(
        (col("c_custkey") + 1000000L).as("c_custkey"),
        concat(lit("New Customer "), col("c_custkey").cast("string")).as("c_name"),
        col("c_nationkey"),
        lit(0.0).as("c_acctbal"),
        lit("BUILDING").as("c_mktsegment"),
        lit("U").as("op"))
    graft.operators.SyncDiff
      .applyCdc(cust, mods.unionByName(inserts), Seq("c_custkey"))
      .orderBy("c_custkey")
  }

  // The entity-resolution corpus of q_f7, q_f8, q_f10, q_f11 and q_f14:
  // customers as `(rec_id, name, nat, seg)` records under a hash-derived
  // 10-char name, plus planted variants of every k-th record at a fixed
  // id offset.
  private def erRecords(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "customer")
      .select(
        col("c_custkey").cast("long").as("rec_id"),
        substring(md5(col("c_custkey").cast("string")), 1, 10).as("name"),
        col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"))

  private def erVariant(base: org.apache.spark.sql.DataFrame, every: Int, offset: Long)(
      cols: org.apache.spark.sql.Column*) =
    base.where(col("rec_id") % every === 0)
      .select((col("rec_id") + offset).as("rec_id") +: cols: _*)

  /** Every 7th record with a dist-1 typo in its name. */
  private def erTypo1(base: org.apache.spark.sql.DataFrame) =
    erVariant(base, 7, 10000000L)(
      concat(substring(col("name"), 1, 9), lit("z")).as("name"), col("nat"), col("seg"))

  /** The records plus dist-1 (every 7th) and dist-2 (every 11th) typos. */
  private def erTypoRecords(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val base = erRecords(s, dir)
    base.unionByName(erTypo1(base)).unionByName(erVariant(base, 11, 20000000L)(
      concat(substring(col("name"), 1, 8), lit("zz")).as("name"), col("nat"), col("seg")))
  }

  /** The records plus exact duplicates (every 5th), name coincidences
    * across nations (every 6th) and dist-1 typos (every 7th).
    */
  private def erEmRecords(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val base = erRecords(s, dir)
    base
      .unionByName(erVariant(base, 5, 30000000L)(col("name"), col("nat"), col("seg")))
      .unionByName(erVariant(base, 6, 40000000L)(
        col("name"), ((col("nat") + 7) % 25).as("nat"), lit("ZZZ").as("seg")))
      .unionByName(erTypo1(base))
  }

  // Oracle fragments (margin text, interpolated before stripMargin):
  // q_f7/q_f8's typo corpus scored by fixed weights and closed into
  // entities (`comp`), q_f11/q_f14's planted variants unioned into `r`,
  // and their shared EM start point plus three rounds.
  private val erClosureSql =
    """base AS (SELECT CAST(c_custkey AS BIGINT) AS id,
      |                substr(md5(CAST(c_custkey AS VARCHAR)), 1, 10) AS name,
      |                c_nationkey AS nat, c_mktsegment AS seg
      |         FROM customer),
      |typo1 AS (SELECT id + 10000000 AS id, substr(name, 1, 9) || 'z' AS name,
      |                 nat, seg FROM base WHERE id % 7 = 0),
      |typo2 AS (SELECT id + 20000000 AS id, substr(name, 1, 8) || 'zz' AS name,
      |                 nat, seg FROM base WHERE id % 11 = 0),
      |r AS (SELECT * FROM base UNION ALL SELECT * FROM typo1
      |      UNION ALL SELECT * FROM typo2),
      |cand AS (
      |  SELECT a.id AS id_a, b.id AS id_b,
      |         levenshtein(a.name, b.name) AS dist,
      |         a.nat AS nat_a, b.nat AS nat_b, a.seg AS seg_a, b.seg AS seg_b
      |  FROM r a JOIN r b ON a.id < b.id
      |  WHERE levenshtein(a.name, b.name) <= 2),
      |m AS (
      |  SELECT id_a, id_b FROM cand
      |  WHERE (CASE dist WHEN 0 THEN 6.0 WHEN 1 THEN 4.0 ELSE 2.0 END)
      |        + (CASE WHEN nat_a = nat_b THEN 1.5 ELSE -3.0 END)
      |        + (CASE WHEN seg_a = seg_b THEN 1.0 ELSE -0.5 END) >= 5.0),
      |edges AS (SELECT id_a AS u, id_b AS v FROM m UNION SELECT id_b, id_a FROM m),
      |reach(u, lbl) AS (
      |  SELECT u, u FROM edges
      |  UNION
      |  SELECT e.u, w.lbl FROM edges e JOIN reach w ON e.v = w.u),
      |comp AS (SELECT u, min(lbl) AS entity_id FROM reach GROUP BY u)"""
  private val erEmVariantsSql =
    """exact AS (SELECT id + 30000000 AS id, name, nat, seg FROM base WHERE id % 5 = 0),
      |coinc AS (SELECT id + 40000000 AS id, name, (nat + 7) % 25 AS nat,
      |                 'ZZZ' AS seg FROM base WHERE id % 6 = 0),
      |typo AS (SELECT id + 10000000 AS id, substr(name, 1, 9) || 'z' AS name,
      |                nat, seg FROM base WHERE id % 7 = 0),
      |r AS (SELECT * FROM base UNION ALL SELECT * FROM exact
      |      UNION ALL SELECT * FROM coinc UNION ALL SELECT * FROM typo),"""
  private val emRoundsSql =
    s"""em0 AS (SELECT CAST(0.5 AS DOUBLE) AS lambda,
       |               CAST(0.9 AS DOUBLE) AS m_name, CAST(0.1 AS DOUBLE) AS u_name,
       |               CAST(0.9 AS DOUBLE) AS m_nat, CAST(0.1 AS DOUBLE) AS u_nat,
       |               CAST(0.9 AS DOUBLE) AS m_seg, CAST(0.1 AS DOUBLE) AS u_seg),
       |${emIter(1)},
       |${emIter(2)},
       |${emIter(3)}"""

  // End-to-end entity resolution — the reference's identity-matching
  // problem (SisConnectorService.java:142-160 keyed record syncs)
  // composed from engine parts: provably-complete fuzzy name blocking →
  // fixed-weight Fellegi–Sunter scoring (sums of plan LITERALS in fixed
  // order — the threshold cannot flip between engines) → alternating-
  // star transitive closure, equi-BLOCKED on nationkey (provably
  // lossless: the weights cap every cross-nation pair at 4.0 < 5.0,
  // which resolve() asserts from the weights themselves). The corpus is
  // the standard ER-benchmark construction (Febrl-style): per-customer
  // hash-derived names — TPC-H's sequential `Customer#000000042` names
  // make EVERY same-nation pair edit-distance ≤ 2, a degenerate dense
  // match graph no blocking can save (the r8 lesson: 163 s at sf0.1) —
  // plus deterministically planted typo duplicates: every 7th customer
  // gains a dist-1 copy (matches at 6.5), every 11th a dist-2 copy
  // (4.5 < 5.0, stays a singleton — the threshold is ON the gate), and
  // keys divisible by 77 produce BOTH, whose variants sit at dist 1 of
  // each other, so base↔typo1↔typo2 is a genuine transitive chain the
  // closure must collapse even though base↔typo2 itself scores below
  // threshold. The oracle scores the exhaustive O(n²) levenshtein pair
  // set and walks the closure with a recursive CTE; the engine must
  // land on the identical per-record entity map while never
  // materializing all pairs.
  private val qF7 = Q(
    "q_f7_entity_resolution",
    s"""WITH RECURSIVE
      |$erClosureSql
      |SELECT r.id AS rec_id, coalesce(c.entity_id, r.id) AS entity_id
      |FROM r LEFT JOIN comp c ON c.u = r.id
      |ORDER BY rec_id""".stripMargin) { (s, dir) =>
    graft.operators.EntityResolution.resolve(
      erTypoRecords(s, dir),
      idCol = "rec_id", nameCol = "name",
      nameWeights = Seq(6.0, 4.0, 2.0),
      fieldWeights = Seq(("nat", 1.5, -3.0), ("seg", 1.0, -0.5)),
      maxNameDist = 2, minScore = 5.0, blockCol = Some("nat"))
      .select("rec_id", "entity_id")
      .orderBy("rec_id")
  }

  // Resolved-key diff-sync: q_f7's entity resolution composed INTO the
  // sync lifecycle (SyncRun.resolveRepresentatives wires the same path
  // behind RestSink; this gate is its oracle-checkable core). The target
  // snapshot holds the RAW records — base customers plus their planted
  // typo variants, i.e. the state of a system that synced before
  // resolution existed. The source is the resolved entity key set (one
  // key per cluster, the cluster MINIMUM id). Diff semantics are the
  // J4 contract (SyncDiff.plan): upserts = every entity key
  // (POST-as-upsert), deletes = target keys merged away by resolution.
  // The oracle rebuilds the same entity map with the exhaustive O(n²)
  // levenshtein pair set + recursive-CTE closure, then takes the same
  // set difference — so a wrong cluster anywhere flips a 'D' row.
  private val qF8 = Q(
    "q_f8_resolved_sync_diff",
    s"""WITH RECURSIVE
      |$erClosureSql,
      |emap AS (SELECT r.id, coalesce(c.entity_id, r.id) AS entity_id
      |         FROM r LEFT JOIN comp c ON c.u = r.id)
      |SELECT entity_id AS key, 'U' AS op
      |FROM (SELECT DISTINCT entity_id FROM emap)
      |UNION ALL
      |SELECT id AS key, 'D' AS op FROM emap
      |WHERE id NOT IN (SELECT entity_id FROM emap)
      |ORDER BY op, key""".stripMargin) { (s, dir) =>
    val raw = erTypoRecords(s, dir)
    val resolved = graft.operators.EntityResolution.resolve(
      raw,
      idCol = "rec_id", nameCol = "name",
      nameWeights = Seq(6.0, 4.0, 2.0),
      fieldWeights = Seq(("nat", 1.5, -3.0), ("seg", 1.0, -0.5)),
      maxNameDist = 2, minScore = 5.0, blockCol = Some("nat"))
    val plan = graft.operators.SyncDiff.plan(
      source = resolved.select(col("entity_id").as("key")).distinct(),
      target = raw.select(col("rec_id").as("key")),
      keyCols = Seq("key"))
    plan.upserts.withColumn("op", lit("U"))
      .unionByName(plan.deletes.withColumn("op", lit("D")))
      .orderBy("op", "key")
  }

  // The END-TO-END training-corpus curation pipeline in ONE call —
  // what a user of this library actually runs before a pretraining job,
  // composed entirely from gated operators: transitive near-dup dedup
  // (keep min-id per cluster) → benchmark decontamination vs the probe
  // docs 0–4 (probes themselves excluded: eval data never trains) →
  // TRAINED quality-classifier filter at the SELF-CALIBRATING corpus-mean
  // cutoff (score ≥ mean score — the full q_c13 model; a fixed absolute
  // threshold made the gate VACUOUS, 0 survivors on both engines, because
  // the synthetic corpus's score range shifts with scale factor; the mean
  // keeps ~half at every SF, so each composed stage provably processes
  // rows. The mean is one exact DECIMAL(38,6)-sum aggregate → a broadcast
  // scalar — both engines cast the identical exact decimal to double, so
  // the >= comparison cannot drift) → deterministic stratified sampling
  // (en 1.0 / rest 0.5) → 512-token sequence packing over the survivors.
  // The oracle chains every stage's own oracle fragment into one WITH, so
  // a regression in ANY stage flips this row; non-emptiness is REQUIREd
  // in-query so the gate can never silently degrade to ∅ = ∅ again.
  private val qF9 = Q(
    "q_f9_corpus_pipeline",
    s"""WITH RECURSIVE pairs AS (${DedupQueries.pairsOracle}),
       |${DedupQueries.pairsClosureSql},
       |dedup AS (
       |  SELECT d.doc_id FROM documents d LEFT JOIN comp c ON c.u = d.doc_id
       |  WHERE coalesce(c.cluster_id, d.doc_id) = d.doc_id),
       |dtoks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
       |  FROM documents),
       |dsh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(tk) - 3),
       |                                 i -> array_to_string(tk[i:i+4], ' '))) AS s
       |    FROM dtoks WHERE len(tk) >= 5
       |    UNION ALL
       |    SELECT doc_id, array_to_string(tk, ' ') AS s
       |    FROM dtoks WHERE len(tk) < 5)),
       |contaminated AS (
       |  SELECT DISTINCT a.doc_id
       |  FROM dsh a JOIN (SELECT DISTINCT s FROM dsh WHERE doc_id < 5) p USING (s)
       |  WHERE a.doc_id >= 5),
       |${CurationQueries.qcTrainCtes},
       |qscore AS (SELECT f.doc_id,
       |                  round(1.0 / (1.0 + exp(-(${CurationQueries.qcZ("wt3")}))), 6) AS score
       |           FROM f CROSS JOIN wt3),
       |qthr AS (SELECT CAST(sum(CAST(score AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS t
       |         FROM qscore),
       |kept AS (
       |  SELECT d.doc_id, d.lang,
       |         CASE WHEN trim(d.text) = '' THEN 0
       |              ELSE len(string_split_regex(lower(trim(d.text)), '\\s+')) END AS token_count
       |  FROM documents d
       |  JOIN dedup USING (doc_id)
       |  JOIN qscore USING (doc_id)
       |  LEFT JOIN contaminated c USING (doc_id)
       |  WHERE d.doc_id >= 5 AND c.doc_id IS NULL
       |    AND qscore.score >= (SELECT t FROM qthr)
       |    AND ${CurationQueries.hashUnitSql("d.doc_id", "f9")} <
       |        (CASE d.lang WHEN 'en' THEN 1.0 ELSE 0.5 END)),
       |packed AS (
       |  SELECT doc_id, lang, token_count,
       |         coalesce(sum(token_count) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |  FROM kept)
       |SELECT doc_id, lang, CAST(token_count AS INT) AS token_count,
       |       CAST(floor(cum / 512) AS BIGINT) AS pack_id,
       |       CAST(cum % 512 AS BIGINT) AS pack_offset
       |FROM packed ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.{ConnectedComponents, Curation, Decontamination, NearDup}
    val docs = Tables.load(s, dir, "documents")
    val pairs = NearDup.minHashLshPairs(docs, "doc_id", "text",
      k = 3, numPerm = 64, bands = 16, threshold = 0.8)
    val deduped = ConnectedComponents.dedupByComponents(docs, "doc_id", pairs)
    val clean = Decontamination
      .flagOverlap(deduped.filter(col("doc_id") >= 5),
        docs.filter(col("doc_id") < 5), "doc_id", "text", k = 5)
      .filter(!col("contaminated"))
    val scored = CurationQueries.qcScoredPinned(s, dir).select("doc_id", "score")
    // self-calibrating cutoff: the corpus-mean score as an exact
    // DECIMAL(38,6) sum over the (pre-rounded) scores, one bounded
    // 1-row driver artifact shipped back as a literal
    val mr = scored.agg(
      sum(col("score").cast("decimal(38,6)")).as("__ss"),
      count(lit(1)).as("__n")).head()
    val thr = mr.getDecimal(0).doubleValue() / mr.getLong(1)
    val qual = clean.join(scored, "doc_id").filter(col("score") >= thr)
    val sampled = Curation.stratifiedSample(
      qual, keyCol = "doc_id", stratumCol = "lang",
      rates = Map("en" -> 1.0), defaultRate = 0.5, seed = "f9")
      .select(col("doc_id"), col("lang"),
        graft.functions.TextAnalysis.tokenCount(col("text")).as("token_count"))
    val out = Curation.packSequences(sampled, "doc_id", "token_count", budget = 512)
      .select("doc_id", "lang", "token_count", "pack_id", "pack_offset")
      .orderBy("doc_id")
    // the non-vacuity floor: a pipeline change that nets zero survivors
    // must FAIL the gate, not pass it as ∅ = ∅ (the round-10 defect)
    require(!out.isEmpty,
      "q_f9: the curation pipeline must keep at least one document")
    out
  }

  // Value-frequency Fellegi–Sunter scoring
  // (EntityResolution.frequencyScoredPairs): agreement on a RARE nation
  // or segment is worth log2(m/p_v) — more than agreement on a common
  // one — the fastLink/Splink term-frequency refinement over q_f7's
  // fixed weights. Same Febrl-style corpus (md5 names + planted dist-1
  // typos), blocked on nat with the CAP-based static losslessness proof
  // (6.0 − 3.0 + 4.0 = 7.0 < 10.7). The threshold 10.7 sits INSIDE the
  // observed score distribution at every SF (sf0.001: 2 of 22 pairs
  // pass; sf0.01: 94 of 215), so the gate is decided by the frequency
  // weights themselves, not by the name evidence — and the oracle
  // scores the exhaustive UNBLOCKED pair set, so it also empirically
  // re-proves the blocking dropped nothing. Scores are rounded to 6
  // decimals before the threshold (log2 is the one non-literal float
  // op; the q_v19/q_e19 rounded-compare rule).
  private val qF10 = Q(
    "q_f10_frequency_er",
    """WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS id,
      |                     substr(md5(CAST(c_custkey AS VARCHAR)), 1, 10) AS name,
      |                     c_nationkey AS nat, c_mktsegment AS seg
      |              FROM customer),
      |typo1 AS (SELECT id + 10000000 AS id, substr(name, 1, 9) || 'z' AS name,
      |                 nat, seg FROM base WHERE id % 7 = 0),
      |r AS (SELECT * FROM base UNION ALL SELECT * FROM typo1),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM r),
      |fn AS (SELECT nat, count(*) / (SELECT n FROM n) AS p FROM r GROUP BY nat),
      |fs AS (SELECT seg, count(*) / (SELECT n FROM n) AS p FROM r GROUP BY seg),
      |cand AS (
      |  SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.name, b.name) AS dist,
      |         a.nat AS nat_a, b.nat AS nat_b, a.seg AS seg_a, b.seg AS seg_b
      |  FROM r a JOIN r b ON a.id < b.id
      |  WHERE levenshtein(a.name, b.name) <= 1),
      |scored AS (
      |  SELECT id_a, id_b, dist,
      |         round(CASE dist WHEN 0 THEN 6.0 ELSE 4.0 END
      |           + CASE WHEN nat_a = nat_b
      |                  THEN least(log2(0.95 / fn.p), 6.0) ELSE -3.0 END
      |           + CASE WHEN seg_a = seg_b
      |                  THEN least(log2(0.9 / fs.p), 4.0) ELSE -0.5 END, 6) AS score
      |  FROM cand JOIN fn ON cand.nat_a = fn.nat
      |             JOIN fs ON cand.seg_a = fs.seg)
      |SELECT id_a, id_b, CAST(dist AS INT) AS dist, score
      |FROM scored WHERE score >= 10.7
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    val base = erRecords(s, dir)
    graft.operators.EntityResolution.frequencyScoredPairs(
      base.unionByName(erTypo1(base)),
      idCol = "rec_id", nameCol = "name",
      nameWeights = Seq(6.0, 4.0),
      freqFields = Seq(("nat", 0.95, -3.0, 6.0), ("seg", 0.9, -0.5, 4.0)),
      maxNameDist = 1, minScore = 10.7, blockCol = Some("nat"))
      .orderBy("id_a", "id_b")
  }

  // One EM round for the q_f11 oracle: E-step posterior per pattern
  // (quantized to DECIMAL(14,12) exactly like the engine), M-step
  // count-weighted ratios from EXACT decimal sums cast to double — the
  // same arithmetic, in the same order, as emPatternWeights' unrolled
  // plan. `pmu(src)` is the left-associated double product both engines
  // evaluate term by term.
  private def emPmu(src: String): String = {
    val head = if (src == "m") "em.lambda" else "(1.0 - em.lambda)"
    s"""$head
       |            * (CASE WHEN g_name = 1 THEN em.${src}_name ELSE 1.0 - em.${src}_name END)
       |            * (CASE WHEN g_nat = 1 THEN em.${src}_nat ELSE 1.0 - em.${src}_nat END)
       |            * (CASE WHEN g_seg = 1 THEN em.${src}_seg ELSE 1.0 - em.${src}_seg END)""".stripMargin
  }
  private def emIter(i: Int): String =
    s"""e$i AS (
       |  SELECT g_name, g_nat, g_seg, cnt,
       |         CAST(round(pm / (pm + pu), 12) AS DECIMAL(14,12)) AS wd
       |  FROM (SELECT p.*,
       |          ${emPmu("m")} AS pm,
       |          ${emPmu("u")} AS pu
       |        FROM pat p CROSS JOIN em${i - 1} em)),
       |s$i AS (
       |  SELECT sum(wd * CAST(cnt AS DECIMAL(18,0))) AS sw,
       |         sum((CAST(1 AS DECIMAL(14,12)) - wd) * CAST(cnt AS DECIMAL(18,0))) AS su,
       |         sum(CASE WHEN g_name = 1 THEN wd * CAST(cnt AS DECIMAL(18,0)) ELSE CAST(0 AS DECIMAL(32,12)) END) AS swg_name,
       |         sum(CASE WHEN g_name = 1 THEN (CAST(1 AS DECIMAL(14,12)) - wd) * CAST(cnt AS DECIMAL(18,0)) ELSE CAST(0 AS DECIMAL(32,12)) END) AS sug_name,
       |         sum(CASE WHEN g_nat = 1 THEN wd * CAST(cnt AS DECIMAL(18,0)) ELSE CAST(0 AS DECIMAL(32,12)) END) AS swg_nat,
       |         sum(CASE WHEN g_nat = 1 THEN (CAST(1 AS DECIMAL(14,12)) - wd) * CAST(cnt AS DECIMAL(18,0)) ELSE CAST(0 AS DECIMAL(32,12)) END) AS sug_nat,
       |         sum(CASE WHEN g_seg = 1 THEN wd * CAST(cnt AS DECIMAL(18,0)) ELSE CAST(0 AS DECIMAL(32,12)) END) AS swg_seg,
       |         sum(CASE WHEN g_seg = 1 THEN (CAST(1 AS DECIMAL(14,12)) - wd) * CAST(cnt AS DECIMAL(18,0)) ELSE CAST(0 AS DECIMAL(32,12)) END) AS sug_seg,
       |         sum(cnt) AS n
       |  FROM e$i),
       |em$i AS (
       |  SELECT CAST(sw AS DOUBLE) / CAST(n AS DOUBLE) AS lambda,
       |         CAST(swg_name AS DOUBLE) / CAST(sw AS DOUBLE) AS m_name,
       |         CAST(sug_name AS DOUBLE) / CAST(su AS DOUBLE) AS u_name,
       |         CAST(swg_nat AS DOUBLE) / CAST(sw AS DOUBLE) AS m_nat,
       |         CAST(sug_nat AS DOUBLE) / CAST(su AS DOUBLE) AS u_nat,
       |         CAST(swg_seg AS DOUBLE) / CAST(sw AS DOUBLE) AS m_seg,
       |         CAST(sug_seg AS DOUBLE) / CAST(su AS DOUBLE) AS u_seg
       |  FROM s$i)""".stripMargin

  // EM-fitted Fellegi–Sunter weights (EntityResolution.emPatternWeights
  // — the fastLink/Enamorado–Fifield–Imai unsupervised fit): no
  // hand-set weights at all — λ, m_f, u_f estimated from the candidate
  // pairs by 3 EM rounds over the agreement-PATTERN frame (the corpus
  // reduces to ≤2^3 pattern rows in one hash aggregate; every EM round
  // is arithmetic on that bounded frame, plan-unrolled, driver collects
  // nothing). The corpus plants three pair classes the fit must
  // separate UNSUPERVISED: exact duplicates (1,1,1), typo duplicates
  // (0,1,1), and name coincidences across different people (1,0,0).
  // The oracle replays pattern extraction AND all three EM rounds —
  // posterior quantized to DECIMAL(14,12) exactly like the engine so
  // every count-weighted sum is exact and order-free in BOTH engines.
  private val qF11 = Q(
    "q_f11_em_fellegi_sunter",
    s"""WITH base AS (SELECT CAST(c_custkey AS BIGINT) AS id,
       |                     substr(md5(CAST(c_custkey AS VARCHAR)), 1, 10) AS name,
       |                     c_nationkey AS nat, c_mktsegment AS seg
       |              FROM customer),
       |$erEmVariantsSql
       |pat AS (
       |  SELECT CASE WHEN levenshtein(a.name, b.name) = 0 THEN 1 ELSE 0 END AS g_name,
       |         CASE WHEN a.nat = b.nat THEN 1 ELSE 0 END AS g_nat,
       |         CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS g_seg,
       |         count(*) AS cnt
       |  FROM r a JOIN r b ON a.id < b.id
       |  WHERE levenshtein(a.name, b.name) <= 1
       |  GROUP BY 1, 2, 3),
       |$emRoundsSql
       |SELECT g_name, g_nat, g_seg, cnt,
       |       round(pm / (pm + pu), 6) AS w,
       |       round(lambda, 6) AS lambda,
       |       round(m_name, 6) AS m_name, round(u_name, 6) AS u_name,
       |       round(m_nat, 6) AS m_nat, round(u_nat, 6) AS u_nat,
       |       round(m_seg, 6) AS m_seg, round(u_seg, 6) AS u_seg
       |FROM (SELECT p.*, em.*,
       |        ${emPmu("m")} AS pm,
       |        ${emPmu("u")} AS pu
       |      FROM pat p CROSS JOIN em3 em)
       |ORDER BY g_name, g_nat, g_seg""".stripMargin) { (s, dir) =>
    graft.operators.EntityResolution.emPatternWeights(
      erEmRecords(s, dir),
      idCol = "rec_id", nameCol = "name", fieldCols = Seq("nat", "seg"),
      maxNameDist = 1, iterations = 3)
      .orderBy("g_name", "g_nat", "g_seg")
  }

  // The DATASET CARD in one gate: the single-row release report a
  // corpus ships with (what HuggingFace dataset cards / Datasheets for
  // Datasets standardize), composed from five already-gated families —
  // volume (docs/tokens/vocabulary), language mix (count + top share,
  // deterministic (count desc, lang asc) winner), exact-duplicate
  // exposure (docs minus distinct md5 texts), the TRAINED q_c13
  // classifier's corpus-mean quality, and PII exposure (docs with any
  // q_t29-pattern match). Every number reduces to one broadcast
  // one-row frame; the oracle chains each family's own fragment
  // (qcTrainCtes for the classifier, the generated PiiRedaction rewrite
  // chain) so a regression in ANY composed family flips this row.
  private val qF12 = Q(
    "q_f12_dataset_card", {
      val piiPats = graft.operators.PiiRedaction.patterns
      val piiSteps = piiPats.zipWithIndex.map { case ((name, pat, repl), i) =>
        val carry = piiPats.take(i).map(p => s"${p._1}, ").mkString
        s"""pr${i + 1} AS (
           |  SELECT doc_id, $carry
           |         CAST(len(regexp_extract_all(cur, '$pat')) AS INT) AS $name,
           |         regexp_replace(cur, '$pat', '$repl', 'g') AS cur
           |  FROM pr$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH dt AS (
         |  SELECT doc_id, lang,
         |         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
         |              ELSE string_split_regex(lower(trim(text)), '\\s+') END AS tk,
         |         md5(text) AS th
         |  FROM documents),
         |vol AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |               CAST(sum(len(tk)) AS BIGINT) AS n_tokens,
         |               CAST(count(*) - count(DISTINCT th) AS BIGINT) AS exact_dup_docs
         |        FROM dt),
         |voc AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocabulary
         |        FROM (SELECT unnest(tk) AS tok FROM dt)),
         |lc AS (SELECT lang, count(*) AS c FROM dt GROUP BY 1),
         |lng AS (SELECT CAST(count(*) AS BIGINT) AS n_langs FROM lc),
         |top AS (SELECT lang AS top_lang, c AS top_c FROM lc
         |        ORDER BY c DESC, lang LIMIT 1),
         |${CurationQueries.qcTrainCtes},
         |qs AS (SELECT round(1.0 / (1.0 + exp(-(${CurationQueries.qcZ("wt3")}))), 6) AS score
         |       FROM f CROSS JOIN wt3),
         |qm AS (SELECT CAST(sum(CAST(score AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS mq
         |       FROM qs),
         |pr0 AS (SELECT doc_id, coalesce(text, '') AS cur FROM documents),
         |$piiSteps,
         |pii AS (SELECT CAST(count(*) AS BIGINT) AS pii_docs
         |        FROM pr4 WHERE n_emails + n_ssns + n_phones + n_ips > 0)
         |SELECT vol.n_docs, vol.n_tokens, voc.vocabulary,
         |       lng.n_langs, top.top_lang,
         |       round(CAST(top.top_c AS DOUBLE) / CAST(vol.n_docs AS DOUBLE), 6)
         |         AS top_lang_share,
         |       vol.exact_dup_docs,
         |       round(qm.mq, 6) AS mean_quality,
         |       pii.pii_docs
         |FROM vol CROSS JOIN voc CROSS JOIN lng CROSS JOIN top
         |     CROSS JOIN qm CROSS JOIN pii""".stripMargin
    }) { (s, dir) =>
    import graft.functions.TextAnalysis
    val docs = Tables.load(s, dir, "documents")
    val vol = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("n_tokens"),
      (count(lit(1)) - countDistinct(md5(col("text")))).as("exact_dup_docs"))
    val voc = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .agg(countDistinct(col("tok")).as("vocabulary"))
    val lc = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      .pin()
    val lng = lc.agg(count(lit(1)).as("n_langs"))
    val top = lc.orderBy(col("c").desc, col("lang")).limit(1)
      .select(col("lang").as("top_lang"), col("c").as("top_c"))
    val scored = CurationQueries.qcScoredPinned(s, dir)
    val qm = scored.agg(
      (sum(col("score").cast("decimal(38,6)")).cast("double") /
        count(lit(1))).as("mq"))
    val pii = graft.operators.PiiRedaction.redact(docs, "doc_id", "text")
      .where(col("n_emails") + col("n_ssns") + col("n_phones") + col("n_ips") > 0)
      .agg(count(lit(1)).as("pii_docs"))
    vol
      .crossJoin(broadcast(voc))
      .crossJoin(broadcast(lng))
      .crossJoin(broadcast(top))
      .crossJoin(broadcast(qm))
      .crossJoin(broadcast(pii))
      .select(
        col("n_docs"), col("n_tokens"), col("vocabulary"),
        col("n_langs"), col("top_lang"),
        round(col("top_c").cast("double") / col("n_docs").cast("double"), 6)
          .as("top_lang_share"),
        col("exact_dup_docs"),
        round(col("mq"), 6).as("mean_quality"),
        col("pii_docs"))
      .pin()
  }

  // Jaro–Winkler similarity (expressions.JaroWinkler — native codegen
  // kernel, semantics pinned to DuckDB's jaro_winkler_similarity): the
  // graded name-matching score of the record-linkage literature next
  // to the edit-distance blocking q_f7 uses. Per customer, the kernel
  // runs against a planted dist-1 typo (high similarity, prefix boost
  // active) and the REVERSED name (transposition-heavy, usually below
  // the 0.7 boost threshold) — 2×|customers| diverse hex-string pairs
  // exercising the window, transposition, and boost paths, every value
  // compared to DuckDB's at 6 decimals.
  private val qF13 = Q(
    "q_f13_jaro_winkler",
    """WITH r AS (SELECT CAST(c_custkey AS BIGINT) AS id,
      |                  substr(md5(CAST(c_custkey AS VARCHAR)), 1, 10) AS name
      |           FROM customer)
      |SELECT id,
      |       round(jaro_winkler_similarity(name, substr(name, 1, 9) || 'z'), 6) AS jw_typo,
      |       round(jaro_winkler_similarity(name, reverse(name)), 6) AS jw_rev
      |FROM r ORDER BY id""".stripMargin) { (s, dir) =>
    import graft.functions.TextAnalysis.jaroWinkler
    Tables.load(s, dir, "customer")
      .select(
        col("c_custkey").cast("long").as("id"),
        substring(md5(col("c_custkey").cast("string")), 1, 10).as("name"))
      .select(
        col("id"),
        round(jaroWinkler(col("name"),
          concat(substring(col("name"), 1, 9), lit("z"))), 6).as("jw_typo"),
        round(jaroWinkler(col("name"), reverse(col("name"))), 6).as("jw_rev"))
      .orderBy("id")
  }

  // EM-fitted weights wired into the END-TO-END resolver
  // (EntityResolution.resolveWithEmWeights — the actual fastLink
  // workflow: fit → score with fitted weights → closure), where q_f7
  // resolves with HAND-FIXED weights and q_f11 only proves the fit.
  // Same corpus as q_f11 (exact dups, cross-nation name coincidences,
  // planted typos — the three pair classes EM must separate
  // unsupervised); a pair matches iff its agreement pattern's fitted
  // posterior (published at 6 decimals) reaches 0.9, scoring is one
  // broadcast pattern-lookup join, and the closure is the alternating
  // star. Blocking on nat is a scoring restriction whose losslessness
  // the engine REQUIREs FROM THE FITTED MODEL, exactly: every OBSERVED
  // cross-nation pattern's posterior must sit below the threshold
  // (here the (1,0,0) coincidence class at w ≈ 0). The oracle replays
  // everything: pattern extraction, all 3 EM rounds (the q_f11 decimal
  // discipline), the posterior threshold + block conjunct, and the
  // recursive-CTE closure — a drift anywhere in fit, scoring, or
  // closure flips an entity_id.
  private val qF14 = Q(
    "q_f14_em_resolved_entities",
    s"""WITH RECURSIVE
       |base AS (SELECT CAST(c_custkey AS BIGINT) AS id,
       |                substr(md5(CAST(c_custkey AS VARCHAR)), 1, 10) AS name,
       |                c_nationkey AS nat, c_mktsegment AS seg
       |         FROM customer),
       |$erEmVariantsSql
       |candp AS (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |         CASE WHEN levenshtein(a.name, b.name) = 0 THEN 1 ELSE 0 END AS g_name,
       |         CASE WHEN a.nat = b.nat THEN 1 ELSE 0 END AS g_nat,
       |         CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS g_seg
       |  FROM r a JOIN r b ON a.id < b.id
       |  WHERE levenshtein(a.name, b.name) <= 1),
       |pat AS (
       |  SELECT g_name, g_nat, g_seg, count(*) AS cnt
       |  FROM candp GROUP BY 1, 2, 3),
       |$emRoundsSql,
       |wpat AS (
       |  SELECT g_name, g_nat, g_seg,
       |         round(pm / (pm + pu), 6) AS w
       |  FROM (SELECT p.*,
       |          ${emPmu("m")} AS pm,
       |          ${emPmu("u")} AS pu
       |        FROM pat p CROSS JOIN em3 em)),
       |m AS (
       |  SELECT id_a, id_b
       |  FROM candp JOIN wpat USING (g_name, g_nat, g_seg)
       |  WHERE w >= 0.9 AND g_nat = 1),
       |edges AS (SELECT id_a AS u, id_b AS v FROM m UNION SELECT id_b, id_a FROM m),
       |reach(u, lbl) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT e.u, w2.lbl FROM edges e JOIN reach w2 ON e.v = w2.u),
       |comp AS (SELECT u, min(lbl) AS entity_id FROM reach GROUP BY u)
       |SELECT r.id AS rec_id, coalesce(c.entity_id, r.id) AS entity_id
       |FROM r LEFT JOIN comp c ON c.u = r.id
       |ORDER BY rec_id""".stripMargin) { (s, dir) =>
    graft.operators.EntityResolution.resolveWithEmWeights(
      erEmRecords(s, dir),
      idCol = "rec_id", nameCol = "name", fieldCols = Seq("nat", "seg"),
      maxNameDist = 1, minPosterior = 0.9, iterations = 3,
      blockCol = Some("nat"))
      .select("rec_id", "entity_id")
      .orderBy("rec_id")
  }

  // The WEB-INGEST pipeline end to end (the q_f9 composition posture
  // for round 15's landing-zone stages): tag-soup corpus -> HTML
  // boilerplate extraction -> Unicode/encoding hygiene -> within-doc
  // line dedup, one row per document with the final text md5 plus each
  // stage's evidence counters. The corpus plants work for EVERY stage
  // (chrome/script/entity soup for the extractor; mojibake + a control
  // char + an NFD pair in the div for hygiene; a verbatim paragraph
  // repeat for the line dedup). The oracle chains the SAME stage CTEs
  // the per-stage gates pin individually — composition is where silent
  // contract drift between stages would surface.
  private val qF15 = Q(
    "q_f15_web_ingest_pipeline",
    s"""WITH ${TextQueries.htmlCorpusSql},
      |${TextQueries.htmlBlocksSql},
      |ext AS (
      |  SELECT h.doc_id,
      |         coalesce(x.text, '') AS text,
      |         coalesce(x.n_blocks_kept, 0) AS n_blocks_kept,
      |         coalesce(x.n_blocks_dropped, 0) AS n_blocks_dropped
      |  FROM h LEFT JOIN (
      |    SELECT doc_id,
      |           string_agg(CASE WHEN n_chars >= 25 AND
      |                 n_link_chars / CAST(n_chars AS DOUBLE) <= 0.33
      |               THEN block_text END, chr(10) ORDER BY block_idx)
      |             AS text,
      |           CAST(sum(CASE WHEN n_chars >= 25 AND
      |                 n_link_chars / CAST(n_chars AS DOUBLE) <= 0.33
      |               THEN 1 ELSE 0 END) AS BIGINT) AS n_blocks_kept,
      |           CAST(sum(CASE WHEN n_chars >= 25 AND
      |                 n_link_chars / CAST(n_chars AS DOUBLE) <= 0.33
      |               THEN 0 ELSE 1 END) AS BIGINT) AS n_blocks_dropped
      |    FROM b3 GROUP BY doc_id) x ON h.doc_id = x.doc_id),
      |hy1 AS (SELECT doc_id, text AS s0, n_blocks_kept, n_blocks_dropped,
      |          regexp_replace(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]',
      |                         '', 'g') AS s
      |        FROM ext),
      |hy2 AS (SELECT doc_id, s0, n_blocks_kept, n_blocks_dropped,
      |          hy1.s AS sa,
      |          CASE WHEN NOT regexp_matches(hy1.s, '[ÃÂâ]') THEN hy1.s ELSE
      |          replace(replace(replace(replace(replace(replace(replace(
      |          replace(replace(replace(replace(replace(replace(replace(
      |          replace(replace(replace(replace(replace(replace(replace(
      |          replace(replace(replace(replace(replace(replace(replace(
      |          replace(replace(replace(hy1.s,
      |            'â€™', '’'), 'â€˜', '‘'), 'â€œ', '“'), 'â€“', '–'),
      |            'â€”', '—'), 'â€¦', '…'),
      |            'Ã©', 'é'), 'Ã¨', 'è'), 'Ãª', 'ê'), 'Ã«', 'ë'),
      |            'Ã¡', 'á'), 'Ã' || chr(160), 'à'), 'Ã¢', 'â'),
      |            'Ã¤', 'ä'), 'Ã§', 'ç'), 'Ã±', 'ñ'), 'Ã³', 'ó'),
      |            'Ã²', 'ò'), 'Ã´', 'ô'), 'Ã¶', 'ö'), 'Ãº', 'ú'),
      |            'Ã¹', 'ù'), 'Ã¼', 'ü'), 'Ã' || chr(173), 'í'),
      |            'Ã¬', 'ì'), 'Ã®', 'î'), 'Ã¯', 'ï'), 'Â«', '«'),
      |            'Â»', '»'), 'Â°', '°'), 'Â' || chr(160), chr(160))
      |          END AS s FROM hy1),
      |hy3 AS (SELECT doc_id, s0, sa, n_blocks_kept, n_blocks_dropped,
      |          hy2.s AS sb,
      |          replace(regexp_replace(hy2.s,
      |            '[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}\\x{00AD}]', '', 'g'),
      |            chr(160), ' ') AS s FROM hy2),
      |hy4 AS (SELECT doc_id, s0, sa, sb, n_blocks_kept, n_blocks_dropped,
      |          hy3.s AS sc, nfc_normalize(hy3.s) AS clean FROM hy3),
      |lsp AS (SELECT doc_id, n_blocks_kept, n_blocks_dropped,
      |          CAST(len(sa) < len(s0) AS INT) AS had_control,
      |          CAST(sb <> sa AS INT) AS had_mojibake,
      |          CAST(clean <> sc AS INT) AS had_nfc,
      |          string_split(clean, chr(10)) AS l
      |        FROM hy4),
      |ln0 AS (SELECT doc_id, n_blocks_kept, n_blocks_dropped, had_control,
      |          had_mojibake, had_nfc, unnest(range(1, len(l)+1)) AS i, l
      |        FROM lsp),
      |ln AS (SELECT doc_id, n_blocks_kept, n_blocks_dropped, had_control,
      |         had_mojibake, had_nfc, i AS idx, l[i] AS line,
      |         CAST(len(l) AS BIGINT) AS n_lines FROM ln0),
      |keepd AS (SELECT *,
      |          (len(trim(line)) < 10 OR row_number() OVER (
      |             PARTITION BY doc_id, line ORDER BY idx) = 1) AS keep
      |        FROM ln),
      |fin AS (SELECT doc_id, n_blocks_kept, n_blocks_dropped, had_control,
      |          had_mojibake, had_nfc, n_lines,
      |          CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
      |            AS n_lines_kept,
      |          string_agg(CASE WHEN keep THEN line END, chr(10)
      |                     ORDER BY idx) AS final
      |        FROM keepd
      |        GROUP BY doc_id, n_blocks_kept, n_blocks_dropped, had_control,
      |                 had_mojibake, had_nfc, n_lines)
      |SELECT doc_id, md5(final) AS final_md5,
      |       CAST(len(final) AS INT) AS n_chars_final,
      |       n_blocks_kept, n_blocks_dropped,
      |       had_control, had_mojibake, had_nfc,
      |       n_lines, n_lines_kept,
      |       round((n_lines - n_lines_kept) / CAST(n_lines AS DOUBLE), 6)
      |         AS dup_line_fraction
      |FROM fin ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.{DocRepetition, HtmlExtract, TextHygiene}
    // pin each stage once: ext feeds the final join AND the hygiene
    // stage, hyg feeds the join AND the dedup stage — unpinned, the
    // whole regex chain re-evaluates per consumer (8.1 s -> ~4 s)
    val ext = HtmlExtract.extract(
      TextQueries.htmlCorpusOf(Tables.load(s, dir, "documents")),
      "doc_id", "html").pin()
    val hyg = TextHygiene.clean(ext, "doc_id", "text").pin()
    val dd = DocRepetition.dedupLines(
      hyg.select(col("doc_id"), col("text_clean").as("text")),
      "doc_id", "text")
    ext
      .select(col("doc_id"), col("n_blocks_kept"), col("n_blocks_dropped"))
      .join(hyg.select(col("doc_id"),
        col("had_control").cast("int").as("had_control"),
        col("had_mojibake").cast("int").as("had_mojibake"),
        col("had_nfc").cast("int").as("had_nfc")), Seq("doc_id"))
      .join(dd.select(col("doc_id"),
        md5(col("text_clean").cast("binary")).as("final_md5"),
        col("n_chars_clean").as("n_chars_final"),
        col("n_lines"), col("n_lines_kept"),
        col("dup_line_fraction")), Seq("doc_id"))
      .select("doc_id", "final_md5", "n_chars_final", "n_blocks_kept",
        "n_blocks_dropped", "had_control", "had_mojibake", "had_nfc",
        "n_lines", "n_lines_kept", "dup_line_fraction")
      .orderBy("doc_id")
      .pin()
  }

  // Terminal TRAINING-SHARD export (ShardExport — the curation
  // pipeline's last mile, r15 VERDICT task #6): documents in id order
  // cut into 2000-token shards (whole docs, overshoot ≤ one doc), one
  // MANIFEST row per shard — doc count, token count, source mix
  // (src:count pairs sorted by source), and content_md5 = md5 of the
  // member docs' text-md5s concatenated in id order. The oracle replays
  // the shard boundaries with the naive global window cumsum (the
  // engine computes them two-level) and the digest with ordered
  // string_agg; the writer + re-run idempotence are spec-pinned
  // (ShardExportSpec).
  private val qF16 = Q(
    "q_f16_shard_export",
    """WITH t AS (
      |  SELECT doc_id, source, text,
      |         CASE WHEN trim(text) = '' THEN 0
      |              ELSE len(string_split_regex(lower(trim(text)), '\s+'))
      |         END AS tc
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, source, text, tc,
      |         coalesce(sum(tc) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      |  FROM t),
      |a AS (SELECT doc_id, source, text, tc,
      |        CAST(floor(cum / 2000) AS BIGINT) AS shard_id FROM c),
      |mix AS (
      |  SELECT shard_id,
      |         string_agg(src || ':' || CAST(n AS VARCHAR), ','
      |                    ORDER BY src) AS source_mix
      |  FROM (SELECT shard_id, source AS src, count(*) AS n
      |        FROM a GROUP BY 1, 2)
      |  GROUP BY shard_id),
      |dig AS (
      |  SELECT shard_id,
      |         CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(tc) AS BIGINT) AS n_tokens,
      |         md5(string_agg(md5(coalesce(text, '')), ''
      |                        ORDER BY doc_id)) AS content_md5
      |  FROM a GROUP BY shard_id)
      |SELECT d.shard_id, d.n_docs, d.n_tokens, m.source_mix, d.content_md5
      |FROM dig d JOIN mix m USING (shard_id)
      |ORDER BY shard_id""".stripMargin) { (s, dir) =>
    // pin the assignment once (as ShardExport.write does): manifest's
    // mix and digest branches would otherwise each re-derive the whole
    // two-level prefix chain
    val assigned = graft.operators.ShardExport.assign(
      Tables.load(s, dir, "documents"), "doc_id", "text", "source",
      budget = 2000).pin()
    graft.operators.ShardExport
      .manifest(assigned, "doc_id", "text", "source")
      .orderBy("shard_id")
      .pin()
  }

  /** An HTTP response message: a 404 text/plain when `notFound`, else a
    * 200 text/html carrying `page`.
    */
  private def httpResponse(
      notFound: org.apache.spark.sql.Column, page: org.apache.spark.sql.Column) =
    when(notFound,
      lit("HTTP/1.1 404 Not Found\r\nContent-Type: text/plain\r\n" +
        "Content-Length: 9\r\n\r\nnot found"))
      .otherwise(concat(
        lit("HTTP/1.1 200 OK\r\n" +
          "Content-Type: text/html; charset=UTF-8\r\nContent-Length: "),
        length(page).cast("string"), lit("\r\n\r\n"), page))

  /** `(doc_id, gz)`: each doc's `record` text as one STORED-deflate gzip
    * member (the q_m29 construction), CRC-corrupted on every 9th doc. The
    * record text is pinned once — LEN/NLEN/hex/CRC/ISIZE all read it.
    */
  private def storedGzMembers(
      docs: org.apache.spark.sql.DataFrame, record: org.apache.spark.sql.Column) = {
    def le16(n: org.apache.spark.sql.Column) = {
      val h = lpad(hex(n), 4, "0")
      concat(substring(h, 3, 2), substring(h, 1, 2))
    }
    def le32(v: org.apache.spark.sql.Column) = {
      val h = lpad(hex(v), 8, "0")
      concat(substring(h, 7, 2), substring(h, 5, 2),
        substring(h, 3, 2), substring(h, 1, 2))
    }
    val recs = docs
      .select(col("doc_id"), record.as("rc"))
      .pin()
    val crc = crc32(encode(col("rc"), "UTF-8"))
    val crcOut = when(col("doc_id") % 9 === 0,
      pmod(crc + 1, lit(4294967296L))).otherwise(crc)
    recs.select(col("doc_id"),
      unhex(concat(
        lit("1F8B0800000000000003"),
        lit("01"), le16(length(col("rc"))),
        le16(lit(65535) - length(col("rc"))),
        hex(encode(col("rc"), "UTF-8")),
        le32(crcOut), le32(length(col("rc"))))).as("gz"))
      .pin()
  }

  // The Common Crawl FRONT DOOR composed end to end: `.warc.gz` landing
  // files (one gzip member per record, STORED-deflate construction with
  // real CRC32 trailers; every 9th file CRC-corrupted and quarantined)
  // → WarcGz.recordsWithText (inflate, verify, parse, payload TEXT out)
  // → HttpMessage.responses over the record payloads (REAL Common Crawl
  // response records carry a full HTTP message — status line, headers,
  // body — and only verified 200 text/html bodies may reach the text
  // pipeline; every 7th-mod-3 capture is a 404 the status gate must
  // drop — the r16 VERDICT upgrade) → HtmlExtract.extract over the
  // recovered pages. The page corpus is ASCII-only by construction (the
  // ISO-8859-1 payload bridge is exact for it); the oracle supplies its
  // own `h` CTE to the SHARED htmlBlocksSql chain and computes the
  // quarantine + status exclusions arithmetically — the ENGINE must
  // inflate, parse and crack the envelope to the same pages before the
  // extraction algebra can even start.
  private val qF17 = Q(
    "q_f17_warc_gz_html_pipeline",
    s"""WITH h AS (
      |  SELECT doc_id,
      |    '<html><head><title>Crawl ' || CAST(doc_id AS VARCHAR) ||
      |    '</title></head><body>' ||
      |    '<nav><a href="/">Home</a> <a href="/c">Crawl index</a></nav>' ||
      |    '<p>' || substr(coalesce(text, ''), 1, 200) || '</p>' ||
      |    '<div>' || substr(coalesce(text, ''), 201, 160) ||
      |    ' extra words for mass</div>' ||
      |    CASE WHEN doc_id % 5 = 0
      |         THEN '<p>Short promo: <a href="/buy">Buy this now</a></p>'
      |         ELSE '' END ||
      |    '<footer><a href="/t">Terms</a></footer></body></html>' AS html
      |  FROM documents WHERE doc_id < 400),
      |${TextQueries.htmlBlocksSql},
      |ext AS (
      |  SELECT h.doc_id,
      |         coalesce(x.text, '') AS text,
      |         coalesce(x.k, 0) AS n_blocks_kept,
      |         coalesce(x.d, 0) AS n_blocks_dropped
      |  FROM h LEFT JOIN (
      |    SELECT doc_id,
      |           string_agg(CASE WHEN n_chars >= 25 AND
      |                 n_link_chars / CAST(n_chars AS DOUBLE) <= 0.33
      |               THEN block_text END, chr(10) ORDER BY block_idx)
      |             AS text,
      |           CAST(sum(CASE WHEN n_chars >= 25 AND
      |                 n_link_chars / CAST(n_chars AS DOUBLE) <= 0.33
      |               THEN 1 ELSE 0 END) AS BIGINT) AS k,
      |           CAST(sum(CASE WHEN n_chars >= 25 AND
      |                 n_link_chars / CAST(n_chars AS DOUBLE) <= 0.33
      |               THEN 0 ELSE 1 END) AS BIGINT) AS d
      |    FROM b3 GROUP BY doc_id) x ON h.doc_id = x.doc_id)
      |SELECT doc_id, md5(text) AS text_md5,
      |       CAST(len(text) AS INT) AS n_chars,
      |       n_blocks_kept, n_blocks_dropped
      |FROM ext WHERE doc_id % 9 <> 0 AND doc_id % 7 <> 3
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val did = col("doc_id").cast("string")
    val page = concat(
      lit("<html><head><title>Crawl "), did, lit("</title></head><body>"),
      lit("<nav><a href=\"/\">Home</a> <a href=\"/c\">Crawl index</a></nav>"),
      lit("<p>"), expr("substring(coalesce(text, ''), 1, 200)"), lit("</p>"),
      lit("<div>"), expr("substring(coalesce(text, ''), 201, 160)"),
      lit(" extra words for mass</div>"),
      when(col("doc_id") % 5 === 0,
        "<p>Short promo: <a href=\"/buy\">Buy this now</a></p>")
        .otherwise(""),
      lit("<footer><a href=\"/t\">Terms</a></footer></body></html>"))
    // the record payload is a full HTTP response message (the real
    // Common Crawl `response` record shape): 200 text/html carrying the
    // page, or a 404 text/plain the envelope's status gate must drop
    val http = httpResponse(col("doc_id") % 7 === 3, page)
    val record = concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\n"),
      lit("WARC-Record-ID: <urn:uuid:fp-"), did, lit(">\r\n"),
      lit("WARC-Date: 2024-03-01T00:00:00Z\r\n"),
      lit("WARC-Target-URI: https://crawl.example.org/p/"), did, lit("\r\n"),
      lit("Content-Type: application/http;msgtype=response\r\n"),
      lit("Content-Length: "), length(http).cast("string"),
      lit("\r\n\r\n"), http, lit("\r\n\r\n"))
    val corpus = storedGzMembers(
      Tables.load(s, dir, "documents").filter(col("doc_id") < 400), record)
    // crack the HTTP envelope: only VERIFIED 200 text/html bodies may
    // feed the text pipeline (the 404s and anything malformed drop)
    val envelopes = graft.operators.WarcGz
      .recordsWithText(corpus, "doc_id", "gz", maxMembers = 2)
      .select(col("file_id").as("doc_id"),
        col("payload_text").as("msg"))
    val pages = graft.operators.HttpMessage
      .responses(envelopes, "doc_id", "msg", maxChunks = 2)
      .filter(col("ok") && col("status_code") === 200 &&
        col("content_type") === "text/html")
      .select(col("doc_id"), col("body_text").as("html"))
    graft.operators.HtmlExtract
      .extract(pages, "doc_id", "html")
      .select(
        col("doc_id"),
        md5(col("text").cast("binary")).as("text_md5"),
        length(col("text")).as("n_chars"),
        col("n_blocks_kept"), col("n_blocks_dropped"))
      .orderBy("doc_id")
      .pin()
  }

  // CDX capture index + revisit dedup over the warc.gz landing format
  // (Surt.cdxIndex → Surt.revisits): groups of 3 captures of the SAME
  // logical URL (host carries case/www noise and the query args arrive
  // unsorted — the SURT key must fold them to one index key), captures
  // 0 and 1 byte-identical (capture 1 is a REVISIT), capture 2 a 404
  // with a different digest (not a revisit). Every 9th file is
  // CRC-corrupt and quarantined BEFORE the index — which also knocks
  // out capture 0 of every 3rd group, so that group's capture 1 loses
  // its predecessor and must read NOT-revisit (arrival-aware lag, not
  // group arithmetic). The oracle computes every row — including the
  // SURT keys and payload digests — arithmetically from the
  // construction; the engine must inflate, verify, parse, crack the
  // envelope, key and lag its way to them.
  private val qF18 = Q(
    "q_f18_cdx_revisit_index",
    """WITH d AS (
      |  SELECT doc_id, doc_id // 3 AS g, CAST(doc_id % 3 AS INT) AS r
      |  FROM documents WHERE doc_id < 360 AND doc_id % 9 <> 0),
      |c AS (
      |  SELECT doc_id, g, r,
      |    'https://WWW.site' || CAST(g % 11 AS VARCHAR) ||
      |      '.Example.org/p/' || CAST(g AS VARCHAR) || '?b=2&a=1' AS url,
      |    'org,example,site' || CAST(g % 11 AS VARCHAR) || ')/p/' ||
      |      CAST(g AS VARCHAR) || '?a=1&b=2' AS surt_key,
      |    '2024-03-0' || CAST(r + 1 AS VARCHAR) || 'T00:00:00Z'
      |      AS warc_date,
      |    '<html><body><p>Page ' || CAST(g AS VARCHAR) ||
      |      ' content for the capture index</p></body></html>' AS body
      |  FROM d),
      |m AS (
      |  SELECT *,
      |    CASE WHEN r = 2
      |      THEN 'HTTP/1.1 404 Not Found' || chr(13) || chr(10) ||
      |           'Content-Type: text/plain' || chr(13) || chr(10) ||
      |           'Content-Length: 9' || chr(13) || chr(10) ||
      |           chr(13) || chr(10) || 'not found'
      |      ELSE 'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
      |           'Content-Type: text/html; charset=UTF-8' ||
      |           chr(13) || chr(10) || 'Content-Length: ' ||
      |           CAST(len(body) AS VARCHAR) || chr(13) || chr(10) ||
      |           chr(13) || chr(10) || body
      |    END AS msg
      |  FROM c)
      |SELECT surt_key, warc_date, url,
      |  CASE WHEN r = 2 THEN 'text/plain' ELSE 'text/html' END AS mime,
      |  CAST(CASE WHEN r = 2 THEN 404 ELSE 200 END AS INT) AS status,
      |  md5(msg) AS digest,
      |  CAST(len(msg) AS BIGINT) AS length,
      |  CAST(1 AS INT) AS rec_ok,
      |  CAST(CASE WHEN r = 1 AND g % 3 <> 0 THEN 1 ELSE 0 END AS INT)
      |    AS is_revisit
      |FROM m ORDER BY surt_key, warc_date, url""".stripMargin) { (s, dir) =>
    val g = (col("doc_id") / 3).cast("long")
    val r = (col("doc_id") % 3).cast("int")
    val gs = g.cast("string")
    val url = concat(lit("https://WWW.site"), (g % 11).cast("string"),
      lit(".Example.org/p/"), gs, lit("?b=2&a=1"))
    val body = concat(lit("<html><body><p>Page "), gs,
      lit(" content for the capture index</p></body></html>"))
    val http = httpResponse(r === 2, body)
    val record = concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\n"),
      lit("WARC-Record-ID: <urn:uuid:cdx-"), col("doc_id").cast("string"),
      lit(">\r\n"),
      lit("WARC-Date: 2024-03-0"), (r + 1).cast("string"),
      lit("T00:00:00Z\r\n"),
      lit("WARC-Target-URI: "), url, lit("\r\n"),
      lit("Content-Type: application/http;msgtype=response\r\n"),
      lit("Content-Length: "), length(http).cast("string"),
      lit("\r\n\r\n"), http, lit("\r\n\r\n"))
    val corpus = storedGzMembers(
      Tables.load(s, dir, "documents").filter(col("doc_id") < 360), record)
    graft.operators.Surt
      .revisits(graft.operators.Surt
        .cdxIndex(corpus, "doc_id", "gz", maxMembers = 2))
      .select(col("surt_key"), col("warc_date"), col("url"),
        col("mime"), col("status").cast("int").as("status"),
        col("digest"), col("length").cast("long").as("length"),
        col("rec_ok").cast("int").as("rec_ok"),
        col("is_revisit").cast("int").as("is_revisit"))
      .orderBy("surt_key", "warc_date", "url")
      .pin()
  }

  // Link-graph frontier prioritization (LinkExtract.hostGraph →
  // PageRank.run): an in-plan page corpus over 13 hosts where each page
  // links deterministically to 2-3 OTHER hosts (plus a root-relative
  // self link hostGraph must EXCLUDE); the host-level link graph's edge
  // weights are doc-count arithmetic — including two classes where
  // distinct link paths land on the SAME destination host and the
  // weights must merge (k=3's both outlinks; k=1's third link) — and
  // 3-iteration weighted PageRank over it ranks hosts for crawl
  // prioritization. The oracle reuses the q_g1 iteration chain
  // verbatim over the arithmetically-derived edge frame: extraction,
  // resolution, host folding and ranking must all agree for a single
  // rank to match.
  private val qF19 = Q(
    "q_f19_link_frontier_rank",
    s"""WITH d AS (
      |  SELECT doc_id, CAST(doc_id % 13 AS INT) AS k
      |  FROM documents WHERE doc_id < 600),
      |cnt AS (
      |  SELECT k, CAST(count(*) AS DOUBLE) AS n,
      |         CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
      |              AS DOUBLE) AS n3
      |  FROM d GROUP BY k),
      |e0 AS (
      |  SELECT 'h' || CAST(k AS VARCHAR) || '.example.net' AS src,
      |         'h' || CAST((k + 1) % 13 AS VARCHAR) || '.example.net' AS dst,
      |         n AS w
      |  FROM cnt
      |  UNION ALL
      |  SELECT 'h' || CAST(k AS VARCHAR) || '.example.net',
      |         'h' || CAST((5 * k + 2) % 13 AS VARCHAR) || '.example.net',
      |         n
      |  FROM cnt WHERE k <> 6
      |  UNION ALL
      |  SELECT 'h' || CAST(k AS VARCHAR) || '.example.net',
      |         'h' || CAST((k + 6) % 13 AS VARCHAR) || '.example.net',
      |         n3
      |  FROM cnt WHERE n3 > 0),
      |e AS (SELECT src, dst, CAST(sum(w) AS DOUBLE) AS w
      |      FROM e0 GROUP BY src, dst),
      |nodes AS (SELECT DISTINCT node FROM
      |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      |ow AS (SELECT src, sum(w) AS out_w FROM e GROUP BY 1),
      |p AS (SELECT src, dst, w / out_w AS p FROM e JOIN ow USING (src)),
      |r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn),
      |${GraphQueries.iter3}
      |SELECT node AS host, rank FROM r3 ORDER BY host""".stripMargin) {
    (s, dir) =>
    val k = (col("doc_id") % 13).cast("int")
    val did = col("doc_id").cast("string")
    def hostOf(c: org.apache.spark.sql.Column) =
      concat(lit("h"), c.cast("string"), lit(".example.net"))
    val html = concat(
      lit("<html><body><a href=\"https://"), hostOf((k + 1) % 13),
      lit("/x/"), did, lit("\">a</a>"),
      lit("<a href=\"https://"), hostOf((k * 5 + 2) % 13),
      lit("/y/"), did, lit("\">b</a>"),
      when(col("doc_id") % 3 === 0, concat(
        lit("<a href=\"https://"), hostOf((k + 6) % 13),
        lit("/z/"), did, lit("\">c</a>"))).otherwise(""),
      lit("<a href=\"/local/"), did, lit("\">self</a></body></html>"))
    val pages = Tables.load(s, dir, "documents")
      .where(col("doc_id") < 600)
      .select(col("doc_id"),
        concat(lit("https://"), hostOf(k), lit("/p/"), did).as("url"),
        html.as("html"))
      .pin()
    val edges = graft.operators.LinkExtract
      .hostGraph(pages, "doc_id", "url", "html")
      .select(col("src_host").as("src"), col("dst_host").as("dst"),
        col("n_links").cast("double").as("weight"))
    graft.operators.PageRank.run(edges, iterations = 3)
      .select(col("node").as("host"), col("rank"))
      .orderBy("host")
      .pin()
  }

  // The crawl's NEXT-WAVE plan, composed end to end (LinkExtract →
  // Robots.decide → CrawlSchedule): pages on 11 hosts each link to an
  // open path, a /private/ path (disallowed by EVEN hosts' robots —
  // must drop from the frontier) and a cross-host page (governed by
  // the TARGET host's robots, not the linking page's); the surviving
  // frontier schedules under per-host crawl delays with every 3rd host
  // defaulting. The oracle computes the governed frontier and every
  // fetch slot arithmetically — extraction, resolution, governance and
  // scheduling must all agree for a single (fetch_seq, fetch_at) to
  // match.
  private val qF20 = Q(
    "q_f20_frontier_pipeline",
    """WITH d AS (
      |  SELECT doc_id, CAST(doc_id % 11 AS INT) AS k,
      |         CAST(doc_id AS VARCHAR) AS i
      |  FROM documents WHERE doc_id < 500),
      |u0 AS (
      |  SELECT k AS hk, 'https://h' || CAST(k AS VARCHAR) ||
      |         '.example.net/open/' || i AS url
      |  FROM d
      |  UNION ALL
      |  SELECT k, 'https://h' || CAST(k AS VARCHAR) ||
      |         '.example.net/private/' || i
      |  FROM d WHERE k % 2 = 1
      |  UNION ALL
      |  SELECT CAST((k + 1) % 11 AS INT),
      |         'https://h' || CAST((k + 1) % 11 AS VARCHAR) ||
      |         '.example.net/x/' || i
      |  FROM d),
      |f AS (SELECT hk, 'h' || CAST(hk AS VARCHAR) || '.example.net' AS host,
      |             url
      |      FROM u0),
      |del AS (SELECT DISTINCT hk,
      |               CASE WHEN hk % 3 = 2 THEN NULL ELSE hk % 4 + 1 END
      |                 AS delay
      |        FROM u0),
      |s AS (
      |  SELECT f.host, f.url,
      |    CAST(coalesce(del.delay, 2) AS BIGINT) AS delay_sec,
      |    CAST(row_number() OVER (PARTITION BY f.host
      |           ORDER BY md5(f.url), f.url) - 1 AS INT) AS fetch_seq
      |  FROM f JOIN del USING (hk))
      |SELECT host, url, delay_sec, fetch_seq,
      |       CAST(fetch_seq * delay_sec AS BIGINT) AS fetch_at_sec
      |FROM s ORDER BY host, fetch_seq""".stripMargin) { (s, dir) =>
    val k = (col("doc_id") % 11).cast("int")
    val i = col("doc_id").cast("string")
    def hostOf(c: org.apache.spark.sql.Column) =
      concat(lit("h"), c.cast("string"), lit(".example.net"))
    val html = concat(
      lit("<a href=\"/open/"), i, lit("\">o</a>"),
      lit("<a href=\"/private/"), i, lit("\">p</a>"),
      lit("<a href=\"https://"), hostOf((k + 1) % 11),
      lit("/x/"), i, lit("\">c</a>"))
    val pages = Tables.load(s, dir, "documents")
      .where(col("doc_id") < 500)
      .select(col("doc_id"),
        concat(lit("https://"), hostOf(k), lit("/p/"), i).as("url"),
        html.as("html"))
      .pin()
    val hosts = Tables.load(s, dir, "documents")
      .where(col("doc_id") < 500)
      .select((col("doc_id") % 11).cast("int").as("k")).distinct()
    val robots = hosts.select(
      hostOf(col("k")).as("host"),
      when(col("k") % 2 === 0, "User-agent: *\nDisallow: /private/\n")
        .otherwise("User-agent: *\nDisallow:\n").as("robots"))
      .pin()
    val delays = hosts.select(
      hostOf(col("k")).as("host"),
      when(col("k") % 3 === 2, lit(null).cast("long"))
        .otherwise((col("k") % 4 + 1).cast("long")).as("delay"))
    val frontier = graft.operators.LinkExtract
      .outlinks(pages, "doc_id", "url", "html")
      .select(
        graft.operators.UrlOps.host(col("url")).as("host"), col("url"),
        regexp_replace(col("url"), "^[a-z][a-z0-9+.-]*://[^/?#]*", "")
          .as("path"))
    val governed = graft.operators.Robots
      .decide(robots, "host", "robots", frontier, "host", "path",
        "graftbot")
      .where(col("allowed"))
    graft.operators.CrawlSchedule
      .schedule(governed, "host", "url", delays, "host", "delay",
        defaultDelaySec = 2)
      .select(col("host"), col("url"),
        col("delay_sec").cast("long").as("delay_sec"),
        col("fetch_seq").cast("int").as("fetch_seq"),
        col("fetch_at_sec").cast("long").as("fetch_at_sec"))
      .orderBy("host", "fetch_seq")
      .pin()
  }

  // Incremental-crawl fetch plan (Surt.fetchPlan): the frontier spells
  // every URL DIFFERENTLY from the index (www + case noise, query args
  // in the other order) so only the SURT key can match a URL to its
  // captures; every 3rd URL was never captured (must plan 'new'), the
  // rest carry TWO captures and must surface the latest (date, digest)
  // pair. Keys, statuses and digests all arithmetic from the
  // construction.
  private val qF21 = Q(
    "q_f21_incremental_fetch_plan",
    """WITH d AS (
      |  SELECT doc_id, CAST(doc_id % 17 AS INT) AS k,
      |         CAST(doc_id AS VARCHAR) AS i
      |  FROM documents WHERE doc_id < 1500)
      |SELECT doc_id,
      |  'https://WWW.s' || CAST(k AS VARCHAR) || '.example.org/p/' || i ||
      |    '?b=2&a=1' AS url,
      |  'org,example,s' || CAST(k AS VARCHAR) || ')/p/' || i ||
      |    '?a=1&b=2' AS surt_key,
      |  CASE WHEN doc_id % 3 = 2 THEN 'new' ELSE 'seen' END AS status,
      |  CASE WHEN doc_id % 3 = 2 THEN NULL
      |       ELSE '2024-04-02T00:00:00Z' END AS last_date,
      |  CASE WHEN doc_id % 3 = 2 THEN NULL
      |       ELSE md5('cap' || i || '2') END AS last_digest
      |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val k = (col("doc_id") % 17).cast("string")
    val i = col("doc_id").cast("string")
    val d = Tables.load(s, dir, "documents").where(col("doc_id") < 1500)
    val frontier = d.select(col("doc_id"),
      concat(lit("https://WWW.s"), k, lit(".example.org/p/"), i,
        lit("?b=2&a=1")).as("url"))
      .pin()
    val iurl = concat(lit("https://s"), k, lit(".example.org/p/"), i,
      lit("?a=1&b=2"))
    val index = d.where(col("doc_id") % 3 =!= 2)
      .select(explode(array(
        struct(lit("2024-04-01T00:00:00Z").as("warc_date"),
          iurl.as("url"),
          md5(concat(lit("cap"), i, lit("1")).cast("binary"))
            .as("digest")),
        struct(lit("2024-04-02T00:00:00Z").as("warc_date"),
          iurl.as("url"),
          md5(concat(lit("cap"), i, lit("2")).cast("binary"))
            .as("digest")))).as("cap"))
      .select(
        graft.operators.Surt.surtKey(col("cap.url")).as("surt_key"),
        col("cap.warc_date").as("warc_date"), col("cap.url").as("url"),
        col("cap.digest").as("digest"))
      .pin()
    graft.operators.Surt
      .fetchPlan(index, frontier, "url")
      .select(col("doc_id"), col("url"), col("surt_key"), col("status"),
        col("last_date"), col("last_digest"))
      .orderBy("doc_id")
      .pin()
  }

  // Sitemap DISCOVERY through robots.txt (Robots.meta →
  // Sitemap.governedFrontier): only sitemaps a host's robots file
  // NAMES are parsed — an unreferenced sitemap on the same host must
  // contribute nothing, a host declaring none contributes nothing, and
  // the discovered frontier still passes through the same robots
  // rules (/private/ locs flagged disallowed). The oracle enumerates
  // the discovered set arithmetically per host class.
  private val qF22 = Q(
    "q_f22_sitemap_discovery",
    """WITH hs AS (SELECT DISTINCT CAST(doc_id % 19 AS INT) AS j
      |            FROM documents),
      |h AS (SELECT j, CAST(j % 4 AS INT) AS c,
      |             'g' || CAST(j AS VARCHAR) || '.example.io' AS host
      |      FROM hs),
      |rws AS (
      |  SELECT host, 'https://' || host || '/sm/a.xml' AS sitemap_url,
      |         'https://' || host || '/p/' || CAST(j AS VARCHAR) || '/1'
      |           AS loc,
      |         '2024-05-01' AS lastmod, 1 AS allowed
      |  FROM h WHERE c IN (0, 1)
      |  UNION ALL
      |  SELECT host, 'https://' || host || '/sm/a.xml',
      |         'https://' || host || '/private/' || CAST(j AS VARCHAR),
      |         CAST(NULL AS VARCHAR), 0
      |  FROM h WHERE c IN (0, 1)
      |  UNION ALL
      |  SELECT host, 'https://' || host || '/sm/b.xml',
      |         'https://' || host || '/q/' || CAST(j AS VARCHAR),
      |         CAST(NULL AS VARCHAR), 1
      |  FROM h WHERE c IN (0, 3))
      |SELECT host, sitemap_url, loc, lastmod,
      |       CAST(allowed AS INT) AS allowed
      |FROM rws ORDER BY host, sitemap_url, loc""".stripMargin) { (s, dir) =>
    val hosts = Tables.load(s, dir, "documents")
      .select((col("doc_id") % 19).cast("int").as("j")).distinct()
      .select(col("j"), (col("j") % 4).cast("int").as("c"),
        concat(lit("g"), col("j").cast("string"), lit(".example.io"))
          .as("host"))
    val base = concat(lit("https://"), col("host"))
    val js = col("j").cast("string")
    val robotsBody = concat(
      when(col("c") === 0, concat(lit("Sitemap: "), base,
        lit("/sm/a.xml\n"))).otherwise(""),
      lit("User-agent: *\nCrawl-delay: "), (col("j") % 5 + 1).cast("string"),
      lit("\nDisallow: /private/\n"),
      when(col("c") === 0, concat(lit("Sitemap: "), base,
        lit("/sm/b.xml\n")))
        .when(col("c") === 1, concat(lit("Sitemap: "), base,
          lit("/sm/a.xml\n")))
        .when(col("c") === 3, concat(lit("Sitemap: "), base,
          lit("/sm/b.xml\n")))
        .otherwise(""))
    val robots = hosts.select(col("host"), robotsBody.as("robots"))
      .pin()
    val aBody = concat(
      lit("<urlset><url><loc>"), base, lit("/p/"), js,
      lit("/1</loc><lastmod>2024-05-01</lastmod></url><url><loc>"),
      base, lit("/private/"), js, lit("</loc></url></urlset>"))
    val bBody = concat(lit("<urlset><url><loc>"), base, lit("/q/"), js,
      lit("</loc></url></urlset>"))
    val cBody = concat(lit("<urlset><url><loc>"), base, lit("/x/"), js,
      lit("</loc></url></urlset>"))
    val bodies = hosts.select(col("host"), explode(array(
      struct(concat(base, lit("/sm/a.xml")).as("url"), aBody.as("body")),
      struct(concat(base, lit("/sm/b.xml")).as("url"), bBody.as("body")),
      struct(concat(base, lit("/sm/c.xml")).as("url"), cBody.as("body"))))
      .as("sm"))
      .select(col("host"), col("sm.url").as("url"),
        col("sm.body").as("body"))
      .pin()
    val discovered = graft.operators.Robots
      .meta(robots, "host", "robots", "graftbot")
      .where(col("sitemaps") =!= "")
      .select(col("host"),
        explode(split(col("sitemaps"), ",")).as("url"))
    val sm = discovered.join(bodies, Seq("host", "url"))
    graft.operators.Sitemap
      .governedFrontier(sm, "host", "url", "body",
        robots, "host", "robots", "graftbot")
      .select(col("host"), col("sitemap_url"), col("loc"),
        col("lastmod"), col("allowed").cast("int").as("allowed"))
      .orderBy("host", "sitemap_url", "loc")
      .pin()
  }

  // warc.gz EXPORT manifest (WarcExport.write — the landing format's
  // WRITE path): captures shard 50 records each in id order (the
  // packSequences exclusive-prefix arithmetic: shard = doc_id // 50 on
  // consecutive ids), and the per-shard digest chains every RECORD's
  // md5 in id order — the oracle reconstructs the full WARC record
  // byte string (headers + payload + terminator) arithmetically, so a
  // single header byte off anywhere flips a shard digest. The actual
  // .warc.gz bytes round-trip through WarcGz.records AND a stock gzip
  // decoder in WarcExportSpec.
  private val qF23 = Q(
    "q_f23_warc_export_manifest",
    """WITH d AS (
      |  SELECT doc_id, CAST(doc_id AS VARCHAR) AS i,
      |         CAST(doc_id % 23 AS VARCHAR) AS k,
      |         substr(rpad(coalesce(text, ''), 150, 'y'), 1,
      |                CAST(doc_id % 90 + 30 AS INT)) AS pl
      |  FROM documents WHERE doc_id < 1000),
      |r AS (
      |  SELECT doc_id, doc_id // 50 AS shard_id, pl,
      |    'WARC/1.0' || chr(13) || chr(10) ||
      |    'WARC-Type: response' || chr(13) || chr(10) ||
      |    'WARC-Record-ID: <urn:uuid:' || i || '>' || chr(13) || chr(10) ||
      |    'WARC-Date: 2024-06-01T00:00:00Z' || chr(13) || chr(10) ||
      |    'WARC-Target-URI: https://w' || k || '.example.org/p/' || i ||
      |      chr(13) || chr(10) ||
      |    'Content-Length: ' || CAST(len(pl) AS VARCHAR) ||
      |      chr(13) || chr(10) || chr(13) || chr(10) ||
      |    pl || chr(13) || chr(10) || chr(13) || chr(10) AS rc
      |  FROM d)
      |SELECT shard_id,
      |       CAST(count(*) AS BIGINT) AS n_records,
      |       CAST(sum(len(pl)) AS BIGINT) AS total_payload,
      |       md5(string_agg(md5(rc), '' ORDER BY doc_id)) AS content_md5
      |FROM r GROUP BY shard_id ORDER BY shard_id""".stripMargin) {
    (s, dir) =>
    val captures = Tables.load(s, dir, "documents")
      .where(col("doc_id") < 1000)
      .select(col("doc_id"),
        concat(lit("https://w"), (col("doc_id") % 23).cast("string"),
          lit(".example.org/p/"), col("doc_id").cast("string")).as("url"),
        lit("2024-06-01T00:00:00Z").as("date"),
        expr("substring(rpad(coalesce(text, ''), 150, 'y'), 1, " +
          "CAST(doc_id % 90 + 30 AS INT))").as("payload"))
      .pin()
    val outDir = RunScope.scratchDir("graft_warc_export")
    graft.operators.WarcExport
      .write(captures, "doc_id", "url", "date", "payload",
        budget = 50, outDir)
      .select(col("shard_id").cast("long").as("shard_id"),
        col("n_records").cast("long").as("n_records"),
        col("total_payload").cast("long").as("total_payload"),
        col("content_md5"))
      .orderBy("shard_id")
      .pin()
  }

  override val all: Seq[Q] =
    Seq(qF1, qF2, qF3, qF4, qF5, qF6, qF7, qF8, qF9, qF10, qF11, qF12, qF13,
      qF14, qF15, qF16, qF17, qF18, qF19, qF20, qF21, qF22, qF23)
}
