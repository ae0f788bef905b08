package graft

import java.nio.file.{Files, Paths}
import java.time.Instant

import org.apache.spark.sql.functions.col

import graft.plans.EntityAssembly
import graft.sources.MemoryServer

/** The config-driven application entry end to end: a properties file +
  * sql/map fixture directories drive registry compile, CSV dumps, the
  * full sync lifecycle against the loopback server, and the report file —
  * the engine's equivalent of launching the reference via run.sh with
  * runtime/input/application.properties.
  */
class SyncAppSpec extends SparkSpec {

  private def writeFixture(
      save: Boolean = true,
      dumps: Boolean = true,
      store: String = "syncapp_spec"): (SyncApp.Config, String) = {
    val root = Paths.get(RunScope.scratchDir("graft_syncapp"))
    val sqlDir = Files.createDirectories(root.resolve("sql"))
    val mapDir = Files.createDirectories(root.resolve("map"))
    val outDir = Files.createDirectories(root.resolve("out"))
    Files.writeString(sqlDir.resolve("candidates.sql"),
      "SELECT c_custkey, c_name\nFROM customer\nWHERE c_acctbal > 0\nORDER BY c_custkey")
    Files.writeString(mapDir.resolve("candidates.map"),
      "# logical=PHYSICAL\nstudentId=C_CUSTKEY\nfullName=c_name\nmissing=NO_SUCH_COL")
    val props = root.resolve("application.properties")
    Files.writeString(props,
      s"""# mirrors runtime/input/application.properties keys
         |input.data.dir=${sf()}
         |input.sql.dir=$sqlDir
         |input.columnmap.dir=$mapDir
         |output.dir=$outDir
         |api.base.path=loopback:$store
         |oauth.token.url=loopback
         |tpdm.api.save=$save
         |output.data.to.dir=$dumps
         |""".stripMargin)
    (SyncApp.loadProperties(props), outDir.toString)
  }

  test("properties parse: comments/blanks skipped, missing required key fails loud") {
    val p = Paths.get(RunScope.scratchDir("graft_props"), "application.properties")
    Files.writeString(p, "# comment\n\nfoo=bar=baz\n! also comment\noutput.dir=/tmp/x\n")
    val cfg = SyncApp.loadProperties(p)
    assert(cfg.props("foo") === "bar=baz") // split on FIRST '='
    assert(cfg.outputDir === "/tmp/x")
    val e = intercept[RuntimeException](cfg.dataDir)
    assert(e.getMessage.contains("input.data.dir"))
  }

  test("full lifecycle from a config directory: registry, dumps, sync, report") {
    val (cfg, outDir) = writeFixture(store = "syncapp_full")
    MemoryServer.drop("syncapp_full")
    val t0 = Instant.parse("2026-02-02T10:20:30Z")
    val (transport, tokens) = SyncApp.wire(cfg)
    val s = SyncApp.run(spark, cfg, transport, tokens, now = () => t0)

    assert(s.queriesRun === 1)
    // sync converged the loopback store to the in-segment entity set
    val customer = spark.read.parquet(s"${sf()}/customer.parquet")
    val inSegment = customer
      .filter(col("c_mktsegment") === EntityAssembly.segment).count()
    assert(s.result.upserts === inSegment)
    assert(MemoryServer.store("syncapp_full").size() === inSegment)

    // report file rendered under output.dir with the injected timestamp
    val report = Paths.get(s.reportPath)
    assert(Files.exists(report), s"missing report ${s.reportPath}")
    val text = Files.readString(report)
    assert(text.contains(s"upserts:  $inSegment"))
    assert(text.contains("started:  2026-02-02T10:20:30Z"))

    // CSV dump under <out>/<yyyyMMdd>/<HHmmss>/<query>/ with mapped header:
    // mapped logical names, unmapped physical resolved case-insensitively,
    // unresolvable mapped to null column
    val dump = Paths.get(outDir, "20260202", "102030", "candidates")
    assert(Files.isDirectory(dump), s"missing dump $dump")
    val dumped = spark.read.option("header", "true").csv(dump.toString)
    assert(dumped.columns.toSeq === Seq("studentId", "fullName", "missing"))
    assert(dumped.count() ===
      customer.filter(col("c_acctbal") > 0).count())
    assert(dumped.filter(col("missing").isNotNull).count() === 0)
  }

  test("tpdm.api.save=false processes and reports but POSTs nowhere") {
    val (cfg, _) = writeFixture(save = false, dumps = false, store = "syncapp_dry")
    MemoryServer.drop("syncapp_dry")
    val (transport, tokens) = SyncApp.wire(cfg)
    val s = SyncApp.run(spark, cfg, transport, tokens,
      now = () => Instant.parse("2026-02-03T00:00:00Z"))
    // counts still tally (the reference's saveToTPDM guard wraps only the
    // API call; upsertCount increments regardless)
    assert(s.result.upserts > 0)
    assert(MemoryServer.store("syncapp_dry").size() === 0)
  }

  test("the summary names the report file the run wrote under a moving clock") {
    val (cfg, _) = writeFixture(dumps = false, store = "syncapp_clock")
    MemoryServer.drop("syncapp_clock")
    val (transport, tokens) = SyncApp.wire(cfg)
    val t0 = Instant.parse("2026-02-05T00:00:00Z")
    val calls = new java.util.concurrent.atomic.AtomicLong(0L)
    val s = SyncApp.run(spark, cfg, transport, tokens,
      now = () => t0.plusSeconds(calls.getAndIncrement()))
    assert(calls.get() > 1, "the clock must be read more than once for this case to bite")
    assert(Files.exists(Paths.get(s.reportPath)), s"missing report ${s.reportPath}")
  }

  test("re-run converges: idempotent upserts, 404-tolerant deletes") {
    val (cfg, _) = writeFixture(dumps = false, store = "syncapp_rerun")
    MemoryServer.drop("syncapp_rerun")
    val (transport, tokens) = SyncApp.wire(cfg)
    val s1 = SyncApp.run(spark, cfg, transport, tokens,
      now = () => Instant.parse("2026-02-04T00:00:00Z"))
    val size1 = MemoryServer.store("syncapp_rerun").size()
    val s2 = SyncApp.run(spark, cfg, transport, tokens,
      now = () => Instant.parse("2026-02-04T01:00:00Z"))
    assert(s2.result.upserts === s1.result.upserts)
    assert(MemoryServer.store("syncapp_rerun").size() === size1)
  }

  test("a second run in one session infers no table schema again") {
    val (cfg, _) = writeFixture(dumps = false, store = "syncapp_infer")
    MemoryServer.drop("syncapp_infer")
    val (transport, tokens) = SyncApp.wire(cfg)
    // a clone has no inferred schemas yet, whatever ran before on `spark`
    val clone = spark.newSession()
    def inferenceJobs(at: String): Int =
      jobSites(clone)(SyncApp.run(clone, cfg, transport, tokens, now = () => Instant.parse(at)))
        ._2.count(_.contains("Tables.scala"))
    val tablesHeld = Tables.all.count(t => Files.exists(Paths.get(Tables.path(sf(), t))))
    assert(inferenceJobs("2026-02-06T00:00:00Z") === tablesHeld)
    assert(inferenceJobs("2026-02-06T01:00:00Z") === 0)
  }

  test("job budget: a warm SyncApp.run with a CSV dump runs 13 jobs") {
    val (cfg, _) = writeFixture(store = "syncapp_budget")
    MemoryServer.drop("syncapp_budget")
    val (transport, tokens) = SyncApp.wire(cfg)
    val clone = spark.newSession()
    def jobs(at: String): Int =
      jobSites(clone)(SyncApp.run(clone, cfg, transport, tokens, now = () => Instant.parse(at)))
        ._2.size
    jobs("2026-02-07T00:00:00Z") // warm: schemas inferred once
    // 20 before the sync stages shared one plan and overlapped their sinks
    assert(jobs("2026-02-07T01:00:00Z") === 13)
  }

  test("every job of a warm SyncApp.run is named after its sink or side action") {
    val (cfg, _) = writeFixture(store = "syncapp_names")
    MemoryServer.drop("syncapp_names")
    val (transport, tokens) = SyncApp.wire(cfg)
    val clone = spark.newSession()
    def descriptions(at: String): List[String] =
      jobDescriptions(clone)(SyncApp.run(clone, cfg, transport, tokens,
        now = () => Instant.parse(at)))._2
    descriptions("2026-02-08T00:00:00Z") // warm: schemas inferred once
    val names = descriptions("2026-02-08T01:00:00Z")
    assert(names.size === 13)
    // AQE stage jobs inherit the name from the action's thread too
    assert(names.toSet === Set("upsert", "delete", "quarantine", "dump candidates"), names)
  }

  test("unknown api.base.path fails loud instead of silently dropping data") {
    val (cfg0, _) = writeFixture()
    val cfg = SyncApp.Config(cfg0.props + ("api.base.path" -> "https://real.example/api"))
    val e = intercept[RuntimeException](SyncApp.wire(cfg))
    assert(e.getMessage.contains("live HTTP transport"))
  }
}
