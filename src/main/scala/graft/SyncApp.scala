package graft

import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.QueryRegistry
import graft.plans.SyncRun
import graft.sources.{FileSinks, Http, MemoryServer}

/** Config-file-driven one-shot sync application — the engine's equivalent
  * of the reference's launch path (SisConnectorApp.java:18-29 reading
  * runtime/input/application.properties:1-16 via run.sh): a single `main`
  * that reads one properties file and executes the full lifecycle the
  * reference runs per invocation (SisConnectorService.handleRequest,
  * SisConnectorService.java:83-127):
  *
  *   1. obtain an API token (oauth.* — loopback or client-credentials);
  *   2. load the named-SQL registry + column maps (input.sql.dir /
  *      input.columnmap.dir — S4/S5) and compile each against the parquet
  *      catalog;
  *   3. run the validate → resolve → assemble → diff → upsert/delete
  *      sync ([[SyncRun.run]]) against the configured API endpoint when
  *      tpdm.api.save=true (SisConnectorService.java:53-57: save=false
  *      still processes and reports, it just doesn't POST), and with
  *      output.data.to.dir (SisConnectorService.java:163-182) dump the
  *      named results as RFC 4180 CSV under `<output.dir>/<date>/<time>/`
  *      at the same time as the sync's sinks;
  *   4. write the plain-text run report into output.dir (S11).
  *
  * Property keys mirror the reference's application.properties where the
  * concept survives; `input.data.dir` (a parquet directory) replaces the
  * four `database.*` JDBC keys because the engine's source is the lake,
  * not a row-at-a-time RDBMS cursor. `api.base.path=loopback:<name>`
  * routes the sinks to the in-memory [[MemoryServer]] (this container has
  * no live ODS); any other value is treated as a real endpoint base path
  * and requires a Transport, which main() does not construct — the run()
  * seam takes one, so a deployment wires its HTTP client there.
  */
object SyncApp {

  final case class Config(props: Map[String, String]) {
    private def req(key: String): String =
      props.getOrElse(key, sys.error(s"missing required property: $key"))
    def dataDir: String = req("input.data.dir")
    def sqlDir: String = props.getOrElse("input.sql.dir", "")
    def mapDir: String = props.getOrElse("input.columnmap.dir", "")
    def outputDir: String = req("output.dir")
    def apiBasePath: String = req("api.base.path")
    def tokenUrl: String = props.getOrElse("oauth.token.url", "loopback")
    def clientId: String = props.getOrElse("oauth.client.id", "")
    def clientSecret: String = props.getOrElse("oauth.client.secret", "")
    def apiSave: Boolean = props.getOrElse("tpdm.api.save", "true").toBoolean
    def outputDataToDir: Boolean =
      props.getOrElse("output.data.to.dir", "false").toBoolean
  }

  /** `key=value` properties, `#`/`!` comments, blank lines ignored —
    * the subset of java.util.Properties the reference's file uses.
    */
  def loadProperties(path: Path): Config = {
    val props = Files.readAllLines(path).asScala
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#") && !l.startsWith("!"))
      .flatMap { l =>
        val i = l.indexOf('=')
        if (i <= 0) None else Some(l.substring(0, i).trim -> l.substring(i + 1).trim)
      }
      .toMap
    Config(props)
  }

  final case class Summary(
      queriesRun: Int,
      result: SyncRun.Result,
      reportPath: String)

  /** The full lifecycle against an injectable transport/token seam (specs
    * drive it with [[MemoryServer]]; main() wires the seam from the
    * config). Returns the run summary after the report file is on disk.
    */
  def run(
      spark: SparkSession,
      cfg: Config,
      transport: Http.Transport,
      tokens: Http.TokenSource,
      now: () => Instant = () => Instant.now()): Summary = {

    val started = now()
    // the reference stamps one date/time pair per run and nests dumps
    // under it (SisConnectorService.java:91-94, 166-168)
    val runDate = DateTimeFormatter.ofPattern("yyyyMMdd")
      .withZone(ZoneOffset.UTC).format(started)
    val runTime = DateTimeFormatter.ofPattern("HHmmss")
      .withZone(ZoneOffset.UTC).format(started)

    // token first, like the reference: a broken credential fails the run
    // before any data work (handleRequest obtains the bearer token as
    // step 1 and treats AuthenticationException as fatal)
    tokens.refresh()

    // parquet catalog → temp views so user-authored .sql sees the tables;
    // the sync reuses the same frames
    val loaded = Tables.all
      .filter(t => Files.exists(Paths.get(Tables.path(cfg.dataDir, t))))
      .map(t => t -> Tables.load(spark, cfg.dataDir, t)).toMap
    loaded.foreach { case (t, df) => df.createOrReplaceTempView(t) }

    // registry: compile every named query; optionally dump results next to
    // the sync's sinks. Unset dirs mean "no named queries", not "scan the cwd"
    val registry =
      if (cfg.sqlDir.isEmpty) QueryRegistry(Map.empty, Map.empty)
      else QueryRegistry.load(
        Paths.get(cfg.sqlDir),
        if (cfg.mapDir.isEmpty) Paths.get(cfg.sqlDir) else Paths.get(cfg.mapDir))
    val compiled = registry.compileAll(spark)
    val dumps = if (!cfg.outputDataToDir) Nil else compiled.toSeq.map { case (name, df) =>
      s"dump $name" -> (() => FileSinks.csv(df, s"${cfg.outputDir}/$runDate/$runTime/$name")) }

    // sync lifecycle; save=false processes everything but POSTs nowhere
    // (the reference's saveToTPDM guard wraps only the API call)
    val sinkTransport: Http.Transport =
      if (cfg.apiSave) transport
      else (req: Http.Request) => Http.Response(
        if (req.method == "DELETE") 204 else 200, "")
    val result = SyncRun.run(spark, cfg.dataDir, sinkTransport, tokens,
      entityPath = s"${cfg.apiBasePath}/tpdm/teacherCandidates",
      reportDir = Some(cfg.outputDir),
      quarantineDir = Some(s"${cfg.outputDir}/$runDate/$runTime/quarantine"),
      now = now,
      loaded = loaded,
      alongside = dumps)
    Summary(compiled.size, result, result.reportPath.get)
  }

  /** Wire the seam from config: `loopback:<name>` → [[MemoryServer]];
    * `loopback` tokens → static token. Anything else needs a live HTTP
    * transport, which this container deliberately lacks — fail loud.
    */
  def wire(cfg: Config): (Http.Transport, Http.TokenSource) = {
    val transport = cfg.apiBasePath match {
      case s if s.startsWith("loopback:") =>
        new MemoryServer.Endpoint(s.substring("loopback:".length))
      case other =>
        sys.error(s"api.base.path '$other' needs a live HTTP transport; " +
          "use loopback:<store> here or wire a Transport via SyncApp.run")
    }
    val tokens: Http.TokenSource =
      if (cfg.tokenUrl == "loopback") new MemoryServer.Tokens
      else new Http.ClientCredentialsTokenSource(
        transport, cfg.tokenUrl, cfg.clientId, cfg.clientSecret)
    (transport, tokens)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 1,
      "usage: graft.SyncApp <application.properties path>")
    val cfg = loadProperties(Paths.get(args(0)))
    val spark = GraftSession.local("graft-sync")
    try {
      val (transport, tokens) = wire(cfg)
      val s = run(spark, cfg, transport, tokens)
      // one machine-readable line, like Bench/Verify
      println(s"""{"queries":${s.queriesRun},"upserts":${s.result.upserts},""" +
        s""""deletes":${s.result.deletes},"quarantined":${s.result.quarantined},""" +
        s""""report":"${s.reportPath}"}""")
    } finally spark.stop()
  }
}
