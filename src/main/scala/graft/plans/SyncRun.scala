package graft.plans

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.RunScope
import graft.RunScope.Pinning
import graft.operators.{ConnectedComponents, EntityResolution, SchemaValidation, SyncDiff}
import graft.sources.{FileSinks, Http, RestSink}

/** The reference's top-level sync lifecycle (SisConnectorApp →
  * SisConnectorService.handleRequest, SURVEY.md §3.1) as one composed,
  * re-runnable operation:
  *
  *   1. coerce + validate the raw source rows; quarantine violations
  *      (the auditable form of the reference's log-and-continue at
  *      SisConnectorService.java:147-158 — bad rows there fail their POST
  *      one at a time and vanish into the log; here they land in a
  *      machine-readable quarantine frame with per-row reasons, counted
  *      in the run report);
  *   2. assemble source entities from the VALID rows (the §3.2 pipeline,
  *      one Spark plan);
  *   3. diff against the target snapshot (anti-join — J4). Quarantined
  *      keys are withheld from the delete set: a row failing validation
  *      means "don't touch it this run", not "remove it from the target";
  *   4. upsert every source entity, delete the orphans (distributed,
  *      idempotent sinks);
  *   5. render the run report from sink counters (S11/A5) + quarantine
  *      count.
  *
  * Re-running after source changes gives the reference's incremental-sync
  * behavior: upserts converge (POST-as-upsert), deletes are 404-tolerant.
  * Wall-clock timestamps are injected so runs are reproducible in tests.
  */
object SyncRun {

  /** Ingest contract for the customer source. Wide-open ranges: clean
    * warehouse data must never quarantine; the rules exist to catch
    * structurally broken rows (null keys, unparseable numerics after
    * [[SchemaValidation.coerce]], absurd out-of-domain values).
    */
  val customerCoercions: Map[String, String] = Map(
    "c_custkey" -> "bigint",
    "c_nationkey" -> "bigint",
    "c_acctbal" -> "double")

  val customerRules: Seq[SchemaValidation.FieldRule] = Seq(
    SchemaValidation.FieldRule("c_custkey", required = true),
    SchemaValidation.FieldRule("c_name", required = true),
    SchemaValidation.FieldRule("c_nationkey", required = true,
      min = Some(0), max = Some(1e6)),
    SchemaValidation.FieldRule("c_acctbal", min = Some(-1e9), max = Some(1e9)))

  /** `reportPath` is the report file the run wrote, if it had a `reportDir`. */
  final case class Result(
      upserts: Long,
      deletes: Long,
      quarantined: Long,
      report: FileSinks.RunReport,
      reportPath: Option[String])

  /** Optional pre-sync entity resolution (the reference's identity problem:
    * the same student arriving under variant spellings across extracts,
    * SisConnectorService.java:142-160, would upsert as two records there).
    * Two policies, one lifecycle slot: [[ResolutionConfig]] scores with
    * FIXED Fellegi–Sunter weights ([[EntityResolution.resolve]]);
    * [[EmResolutionConfig]] fits them from the wave itself by EM
    * ([[EntityResolution.resolveWithEmWeights]] — the fastLink workflow,
    * no hand-set weights at all).
    */
  sealed trait IdentityResolution

  /** Fixed weights over (name fuzzy, nation, segment); defaults tuned so
    * the nation block is provably lossless (asserted from the weights at
    * plan time).
    */
  final case class ResolutionConfig(
      nameCol: String = "c_name",
      nameWeights: Seq[Double] = Seq(6.0, 4.0),
      fieldWeights: Seq[(String, Double, Double)] =
        Seq(("c_nationkey", 1.5, -3.0), ("c_mktsegment", 1.0, -0.5)),
      maxNameDist: Int = 1,
      minScore: Double = 5.0,
      blockCol: Option[String] = Some("c_nationkey")) extends IdentityResolution

  /** EM-FITTED weights (λ/m/u estimated from the wave's own agreement
    * patterns); a pair matches at fitted posterior ≥ `minPosterior`, and
    * the nation block's losslessness is REQUIREd from the fitted model
    * itself rather than hand-tuned constants.
    */
  final case class EmResolutionConfig(
      nameCol: String = "c_name",
      fieldCols: Seq[String] = Seq("c_nationkey", "c_mktsegment"),
      maxNameDist: Int = 1,
      minPosterior: Double = 0.9,
      iterations: Int = 3,
      blockCol: Option[String] = Some("c_nationkey")) extends IdentityResolution

  /** Collapse variant records of one real-world entity to ONE canonical
    * row before assembly:
    *
    *   - entity id = the cluster's MINIMUM record key (stable across runs
    *     and across which variant happens to arrive first);
    *   - attributes = the cluster's best row by `c_acctbal` (the
    *     richest-record heuristic), picked distributed via
    *     [[ConnectedComponents.representativesByScore]];
    *   - the representative's key is REWRITTEN to the entity id, so the
    *     downstream diff-sync keys on entities: variant spellings upsert
    *     one record, and merged-away duplicate keys fall into the target's
    *     delete set (dedup-sync), which is the point.
    *
    * Scale shape: candidates come from the gram-blocked fuzzy join (never
    * O(n²)); the closure is the alternating-star; the representative pick
    * is a bounded top-1 heap per cluster — no driver-side state.
    */
  def resolveRepresentatives(customer: DataFrame, cfg: ResolutionConfig): DataFrame = {
    val pairs = EntityResolution.matchedPairs(
      customer, "c_custkey", cfg.nameCol, cfg.nameWeights, cfg.fieldWeights,
      cfg.maxNameDist, cfg.minScore, cfg.blockCol)
      .select(col("id_a"), col("id_b"))
    ConnectedComponents
      .representativesByScore(customer, "c_custkey", pairs, col("c_acctbal"))
      .withColumn("c_custkey", col("cluster_id"))
      .drop("cluster_id")
  }

  /** [[resolveRepresentatives]] with EM-FITTED weights — the same
    * representative policy (cluster min key, richest row by `c_acctbal`)
    * over [[EntityResolution.emMatchedPairs]]' evidence: fit → threshold
    * on the fitted posterior → closure, zero hand-set weights.
    */
  def resolveRepresentativesEm(customer: DataFrame, cfg: EmResolutionConfig): DataFrame =
      RunScope.scope("SyncRun.resolveRepresentativesEm") {
    val pairs = EntityResolution.emMatchedPairs(
      customer, "c_custkey", cfg.nameCol, cfg.fieldCols,
      cfg.maxNameDist, cfg.minPosterior, cfg.iterations, blockCol = cfg.blockCol)
    // representativesByScore clusters eagerly (alternating star), so the
    // pair pin frees as soon as it returns
    ConnectedComponents
      .representativesByScore(customer, "c_custkey", pairs, col("c_acctbal"))
      .withColumn("c_custkey", col("cluster_id"))
      .drop("cluster_id")
  }

  def run(
      spark: SparkSession,
      sfDir: String,
      transport: Http.Transport,
      tokens: Http.TokenSource,
      entityPath: String,
      reportDir: Option[String] = None,
      quarantineDir: Option[String] = None,
      customerOverride: Option[DataFrame] = None,
      resolution: Option[IdentityResolution] = None,
      now: () => Instant = () => Instant.now()): Result = RunScope.scope("SyncRun.run") {
    val started = now()

    val rawCustomer = customerOverride.getOrElse(
      graft.Tables.load(spark, sfDir, "customer"))
    val validated = SchemaValidation.validate(
      SchemaValidation.coerce(rawCustomer, customerCoercions), customerRules)
    val (validRows, quarantine0) = SchemaValidation.split(validated)
    // optional identity resolution BETWEEN validation and assembly: only
    // clean rows vote on entity identity, and everything downstream
    // (assembly, diff, sinks, report) is unchanged — it just sees one
    // canonical row per entity under the entity key
    val validCustomer = resolution match {
      case Some(cfg: ResolutionConfig)   => resolveRepresentatives(validRows, cfg)
      case Some(cfg: EmResolutionConfig) => resolveRepresentativesEm(validRows, cfg)
      case None                          => validRows
    }
    // the quarantine frame is consumed three times (sink, count, delete
    // withholding) — materialize the (small) slice once instead of
    // re-scanning + re-validating the raw source per consumer
    val quarantine = quarantine0.pin()
    quarantineDir.foreach(d =>
      quarantine.withColumn("errors", org.apache.spark.sql.functions
        .concat_ws(",", col("errors")))
        .write.mode("overwrite").json(d))
    val nQuarantined = quarantine.count()

    val source = EntityAssembly.toJsonPayload(EntityAssembly.assembleFrom(
      validCustomer,
      graft.Tables.load(spark, sfDir, "nation"),
      graft.Tables.load(spark, sfDir, "orders"),
      graft.Tables.load(spark, sfDir, "lineitem")))

    // deletes = target − (assembled ∪ quarantined): a quarantined row is
    // "skip this run", never an implicit delete of its target twin
    val withheld = source.select("studentUniqueId").union(
      quarantine.select(col("c_custkey").cast("bigint").as("studentUniqueId"))
        .filter(col("studentUniqueId").isNotNull))
    val plan = SyncDiff.plan(
      source = withheld,
      target = graft.Tables.load(spark, sfDir, "customer")
        .select(col("c_custkey").as("studentUniqueId")),
      keyCols = Seq("studentUniqueId"))

    // a sink failure must still produce a report (S11 contract: counts +
    // errors), not abort the run silently
    val (up, upErr) =
      try (RestSink.upsert(source, transport, tokens, entityPath), None)
      catch { case e: Exception => (RestSink.SinkReport(0, 0), Some(s"upsert: ${e.getMessage}")) }
    val (del, delErr) =
      try (RestSink.delete(plan.deletes, "studentUniqueId", transport, tokens, entityPath), None)
      catch { case e: Exception => (RestSink.SinkReport(0, 0), Some(s"delete: ${e.getMessage}")) }


    val finished = now()
    val report = FileSinks.RunReport(
      startedAt = started.toString,
      finishedAt = finished.toString,
      upsertCount = up.succeeded,
      deleteCount = del.succeeded,
      errors = Seq(upErr, delErr).flatten,
      quarantineCount = nQuarantined)
    val reportPath = reportDir.map(d =>
      FileSinks.writeReport(report, d, started.toString.replaceAll("[:.]", "-")))
    Result(up.succeeded, del.succeeded, nQuarantined, report, reportPath)
  }
}
