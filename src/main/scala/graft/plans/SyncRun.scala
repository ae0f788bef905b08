package graft.plans

import java.time.Instant

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws, count, lit}

import graft.RunScope
import graft.operators.{ConnectedComponents, EntityResolution, SchemaValidation, SyncDiff}
import graft.sources.{FileSinks, Http, RestSink}
import graft.sources.RestSink.SinkReport

/** The reference's top-level sync lifecycle (SisConnectorApp →
  * SisConnectorService.handleRequest, SURVEY.md §3.1) as one composed,
  * re-runnable operation. One stage list serves the batch run ([[run]])
  * and the change path ([[graft.streaming.IncrementalSync.applyBatch]]):
  *
  *   1. validate: coerce + validate the raw source rows; quarantine
  *      violations (the auditable form of the reference's
  *      log-and-continue at SisConnectorService.java:147-158 — bad rows
  *      there fail their POST one at a time and vanish into the log; here
  *      they land in a machine-readable quarantine frame with per-row
  *      reasons, counted in the run report);
  *   2. resolve (optional): collapse variant records of one entity;
  *   3. assemble the entities from the VALID rows (the §3.2 pipeline, one
  *      Spark plan) and draw the delete set ([[Diff]]): the batch run
  *      diffs the target snapshot against the wave's candidate and
  *      quarantined keys (a quarantined row means "don't touch it this
  *      run", not "remove it from the target"); the change path deletes
  *      the valid rows that left the segment;
  *   4. sink: upsert every entity and delete the orphans (distributed,
  *      idempotent sinks). The upsert is submitted first; the delete and
  *      the run's side actions (the quarantine write, [[graft.SyncApp]]'s
  *      CSV dumps) run at the same time on one small per-run pool. The
  *      upsert and delete key sets are disjoint, so the sinks never race;
  *   5. report from the sink counters (S11/A5) and the quarantine count,
  *      which the quarantine write observes as it writes (an
  *      `Observation`), so no extra job counts it.
  *
  * Stages 1–3 only build plans; stage 4 runs them. Re-running after source
  * changes gives the reference's incremental-sync behavior: upserts
  * converge (POST-as-upsert), deletes are 404-tolerant. Wall-clock
  * timestamps are injected so runs are reproducible in tests.
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
    representatives(customer, pairs)
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
    representatives(customer, pairs)
  }

  /** Each cluster's richest row by `c_acctbal`, keyed by the cluster id. */
  private def representatives(customer: DataFrame, pairs: DataFrame): DataFrame =
    ConnectedComponents
      .representativesByScore(customer, "c_custkey", pairs, col("c_acctbal"))
      .withColumn("c_custkey", col("cluster_id"))
      .drop("cluster_id")

  /** How a wave's delete set is drawn (stage 3). */
  private[graft] sealed trait Diff

  /** The batch run: every target key that the wave neither assembles nor
    * quarantines, i.e. `target ⟕̸ (candidate keys ∪ quarantined keys)`. The
    * candidate keys stand in for the assembled ones because the assembly
    * is 1:1 with its candidates: left joins onto a deduplicated dimension
    * and onto a per-key rollup.
    */
  private[graft] final case class TargetDiff(target: DataFrame) extends Diff

  /** The change path: the keys of the wave's valid rows that left the
    * segment (the incremental form of the anti-diff).
    */
  private[graft] case object LeftSegment extends Diff

  /** A planned wave: entities to upsert, keys to delete, rows quarantined. */
  private[graft] final case class Wave(
      upserts: DataFrame, deletes: DataFrame, quarantine: DataFrame)

  /** What the sinks did; `errors` has one line per sink that failed or
    * had rows refused.
    */
  private[graft] final case class Sunk(upsert: SinkReport, delete: SinkReport, errors: Seq[String])

  /** Stages 1–3 for a wave of raw customer rows: validate (quarantining
    * violations), optionally resolve identities among the valid rows,
    * assemble the entities, and draw the delete set by `diff`. Builds
    * plans only; it runs no Spark job unless `resolution` clusters.
    */
  private[graft] def plan(
      rows: DataFrame,
      table: String => DataFrame,
      diff: Diff,
      resolution: Option[IdentityResolution] = None): Wave = {
    val (validRows, quarantine) = SchemaValidation.split(SchemaValidation.validate(
      SchemaValidation.coerce(rows, customerCoercions), customerRules))
    // only clean rows vote on entity identity; everything downstream sees
    // one canonical row per entity under the entity key
    val valid = resolution match {
      case Some(cfg: ResolutionConfig)   => resolveRepresentatives(validRows, cfg)
      case Some(cfg: EmResolutionConfig) => resolveRepresentativesEm(validRows, cfg)
      case None                          => validRows
    }
    val upserts = EntityAssembly.toJsonPayload(EntityAssembly.assembleFrom(
      valid, table("nation"), table("orders"), table("lineitem")))
    def keys(df: DataFrame) = df.select(col("c_custkey").as("studentUniqueId"))
    val deletes = diff match {
      case TargetDiff(target) =>
        // a quarantined row is "skip this run", never an implicit delete of
        // its target twin
        val withheld = keys(valid.filter(EntityAssembly.inSegment)).union(keys(quarantine))
        SyncDiff.plan(withheld, keys(target), Seq("studentUniqueId")).deletes
      case LeftSegment => keys(valid.filter(!EntityAssembly.inSegment)).distinct()
    }
    Wave(upserts, deletes, quarantine)
  }

  /** Stage 4: the upsert, the delete and the `side` actions run at the
    * same time ([[graft.RunPool.runAll]]), the upsert submitted first.
    * Upsert and delete keys are disjoint by construction, so the two sinks
    * never race on a key. A sink failure, or a sink's refused rows,
    * becomes an error line and never stops the other sink; a side
    * action's failure is rethrown once every action has finished.
    */
  private[graft] def sink(
      wave: Wave,
      transport: Http.Transport,
      tokens: Http.TokenSource,
      entityPath: String,
      side: Seq[(String, () => Unit)] = Nil): Sunk = {
    def attempt(name: String)(write: => SinkReport) =
      try {
        val r = write
        (r, Option.when(r.failed > 0)(
          s"$name: ${r.failed} of ${r.attempted} refused: ${r.errors.mkString("; ")}"))
      } catch { case e: Exception => (SinkReport(0, 0), Some(s"$name: ${e.getMessage}")) }
    var up, del = (SinkReport(0, 0), Option.empty[String])
    graft.RunPool.runAll(wave.upserts.sparkSession,
      ("upsert", () => up = attempt("upsert")(
        RestSink.upsert(wave.upserts, transport, tokens, entityPath))) +:
      ("delete", () => del = attempt("delete")(
        RestSink.delete(wave.deletes, "studentUniqueId", transport, tokens, entityPath))) +: side)
    Sunk(up._1, del._1, Seq(up._2, del._2).flatten)
  }

  /** The batch lifecycle over `sfDir` (or `customerOverride`). Frames in
    * `loaded` (table name → frame, e.g. the views [[graft.SyncApp]] made)
    * are used instead of loading those tables again; `alongside` actions
    * (e.g. registry CSV dumps) run next to the sinks.
    */
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
      now: () => Instant = () => Instant.now(),
      loaded: Map[String, DataFrame] = Map.empty,
      alongside: Seq[(String, () => Unit)] = Nil): Result = RunScope.scope("SyncRun.run") {
    val started = now()
    def table(t: String) = loaded.getOrElse(t, graft.Tables.load(spark, sfDir, t))
    val customer = table("customer")
    val wave = plan(customerOverride.getOrElse(customer), table, TargetDiff(customer), resolution)

    // the quarantine is counted by the job that writes it: one Observation
    // per run, read only once the write has returned, because `get` on a
    // failed write would wait forever. With nowhere to write, a count.
    var quarantined = 0L
    val rows = Observation()
    val quarantine = "quarantine" -> (() => quarantineDir match {
      case None => quarantined = wave.quarantine.count()
      case Some(d) =>
        wave.quarantine.observe(rows, count(lit(1)).as("n"))
          .withColumn("errors", concat_ws(",", col("errors"))).write.mode("overwrite").json(d)
        quarantined = rows.get("n").asInstanceOf[Long]
    })
    val done = sink(wave, transport, tokens, entityPath, quarantine +: alongside)

    val report = FileSinks.RunReport(started.toString, now().toString,
      done.upsert.succeeded, done.delete.succeeded, done.errors, quarantined)
    val reportPath = reportDir.map(d =>
      FileSinks.writeReport(report, d, started.toString.replaceAll("[:.]", "-")))
    Result(done.upsert.succeeded, done.delete.succeeded, quarantined, report, reportPath)
  }
}
