package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.{SparkEntry, SyncApp}
import graft.core.QueryRegistry
import graft.plans.EntityAssembly
import graft.sources.{Http, MemoryServer}
import graft.streaming.IncrementalSync

/** What every workload shares: the session, the tracer, the seed and the
  * directory of base tables (the harness tables the benchmark ships, read
  * only).
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long, val data: Path) {
  def traced: Boolean = tracer.enabled

  def transport(store: String): Http.Transport = {
    val t = new MemoryServer.Endpoint(store)
    if (traced) new TimedTransport(t) else t
  }

  def tokens(): Http.TokenSource = {
    val t = new MemoryServer.Tokens
    if (traced) new CountingTokens(t) else t
  }
}

/** One closed-loop workload. Ops run one at a time; a pass is
  * `opsPerPass` consecutive ops. Only [[run]] is timed, one op at a time:
  * an op is the unit of the latency metrics.
  *
  * Set-up order: [[loadBase]] once, [[prepare]] once per set-up
  * repetition (each into a fresh directory; the last one is used),
  * [[populate]], then [[expect]], which is check work and not set-up.
  */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def opsPerPass: Int
  def opLabel(i: Int): String

  /** Untimed passes run before the measurement. */
  def warmupPasses: Int = 1

  /** Typical wall time of one pass with its checks on a 4-core box; a run
    * measures `--seconds / nominalPassS` passes (at least one).
    */
  def nominalPassS: Double

  /** Read what the repetitions need from the base tables. */
  def loadBase(): Unit = ()

  /** Generate the inputs of one set-up repetition under `dir`. */
  def prepare(dir: Path): Unit

  /** Pre-populate the target; `dir` takes whatever that writes. */
  def populate(dir: Path): Unit = ()

  /** Compute the expected outputs and check the pre-populated target;
    * returns the mismatches found.
    */
  def expect(): Seq[String] = Nil

  /** Untimed work before op `i` (target reset, traced side calls). */
  def beforeOp(i: Int): Unit = ()

  /** The timed op; its return value goes to [[verify]]. */
  def run(i: Int): Any

  /** Untimed output check: (records the sink acknowledged, mismatches). */
  def verify(i: Int, out: Any): (Long, Seq[String])

  /** Untimed clean-up of files the op wrote. */
  def afterOp(i: Int): Unit = ()

  /** Untimed check of the target once the measured ops are done. */
  def finalCheck(): Seq[String] = Nil
}

object Workload {
  /** The base tables (`perfbench/data/sf0.01`): byte copies of the
    * engine's sf0.01 harness tables (TESTDATA.md), the tables its oracle
    * check runs on.
    */
  val tables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "orders", "lineitem", "documents")
  /** The tables the sync lifecycle reads. */
  val syncTables: Seq[String] = Seq("nation", "customer", "orders", "lineitem")

  def byName(name: String, ctx: Ctx): Workload = name match {
    case "sync"        => new SyncWorkload(ctx)
    case "change-sync" => new ChangeSyncWorkload(ctx)
    case "scan"        => new QueryWorkload(ctx, scanQueries)
    case other         => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** One or a few plans each: scan, kernel and shuffle bound. Holds both
    * sides of the simhash band-key pin (q_d4b, q_d18).
    */
  val scanQueries: Seq[String] = Seq(
    "q1_agg", "q_j12_six_way_join", "q_a9_grouped_percentiles", "q_a3_last_row_wins",
    "q_d4b_simhash_complete", "q_d18_blocking_quality", "q_t1_token_stats")

  /** Every path under `p`, `p` first. */
  def walk(p: Path): Seq[Path] = {
    val all = Files.walk(p)
    try all.iterator.asScala.toList finally all.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) walk(p).reverse.foreach(Files.deleteIfExists)
}

/** Shared by the two sync workloads: the customer star they read, a
  * target pre-synced by the program itself (`SyncApp.run` over the
  * unchanged tables), and the expected REST bodies.
  */
abstract class SyncWorkloadBase(ctx: Ctx, protected val store: String)
    extends Workload(ctx) {
  val segmentCol = 4 // c_mktsegment in the customer schema

  protected var baseDir: Path = _
  protected var schema: StructType = _
  protected var rows: Array[Row] = Array.empty
  protected var segments: Seq[String] = Nil
  /** the pre-synced target, restored before ops that need it */
  protected var target: Map[String, String] = Map.empty
  /** body per customer key as if in the segment; see [[bodies]] */
  protected var bodyOf: Map[Long, String] = Map.empty

  protected def isIn(r: Row): Boolean = r.getString(segmentCol) == EntityAssembly.segment
  protected def otherSegment(rnd: scala.util.Random): String =
    segments.filterNot(_ == EntityAssembly.segment)(rnd.nextInt(segments.size - 1))
  protected def key(r: Row): Long = r.getLong(0)

  override def loadBase(): Unit = {
    baseDir = ctx.data
    val df = spark.read.parquet(s"$baseDir/customer.parquet")
    schema = df.schema
    rows = df.orderBy("c_custkey").collect()
    segments = rows.map(_.getString(segmentCol)).distinct.sorted.toSeq
  }

  protected def writeConfig(conf: Path, props: Seq[String]): SyncApp.Config = {
    val file = Files.createDirectories(conf).resolve("application.properties")
    Files.writeString(file, (props ++ Seq(
      s"api.base.path=loopback:$store",
      "oauth.token.url=loopback",
      "tpdm.api.save=true")).mkString("", "\n", "\n"))
    SyncApp.loadProperties(file)
  }

  /** Sync the unchanged tables into an empty target. */
  override def populate(dir: Path): Unit = {
    val conf = writeConfig(dir.resolve("conf"), Seq(
      s"input.data.dir=$baseDir",
      s"output.dir=${dir.resolve("out")}"))
    MemoryServer.drop(store)
    SyncApp.run(spark, conf, ctx.transport(store), ctx.tokens())
    target = MemoryServer.store(store).asScala.toMap
  }

  /** Keys whose bodies the checks need besides the base segment. */
  protected def changedKeys: Set[Long]

  /** The bodies, and the pre-synced target against them. */
  override def expect(): Seq[String] = {
    val inSegment = rows.filter(isIn).map(key)
    bodyOf = bodies(inSegment.toSet ++ changedKeys)
    storeMismatches(inSegment.map(k => k.toString -> bodyOf(k)).toMap)
      .map(m => s"pre-synced target: $m")
  }

  /** Body per customer key, every customer assembled as if it were in the
    * segment, rendered exactly as `RestSink.upsert` posts it. The sync
    * workloads change only the segment (and the balance, which the
    * payload omits) of valid rows, so a key's body is the same whichever
    * change reaches the target.
    */
  private def bodies(keys: Set[Long]): Map[Long, String] = {
    def t(n: String) = spark.read.parquet(s"$baseDir/$n.parquet")
    val forced = t("customer")
      .filter(col("c_custkey").isin(keys.toSeq: _*))
      .withColumn("c_mktsegment", lit(EntityAssembly.segment))
    val p = EntityAssembly.toJsonPayload(EntityAssembly.assembleFrom(
      forced, t("nation"), t("orders"), t("lineitem")))
    p.select(col("studentUniqueId"), to_json(struct(p.columns.map(col): _*)))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  protected def storeMismatches(expected: Map[String, String]): Seq[String] = {
    val got = MemoryServer.store(store).asScala
    val missing = expected.keys.count(k => !got.get(k).contains(expected(k)))
    val extra = got.keys.count(k => !expected.contains(k))
    if (missing == 0 && extra == 0) Nil
    else Seq(s"store $store: $missing missing or different, $extra unexpected")
  }

  protected def resetTarget(): Unit = {
    MemoryServer.drop(store)
    MemoryServer.store(store).putAll(target.asJava)
  }
}

/** The full `SyncApp.run` lifecycle: token, named-query registry with CSV
  * dumps, validate → assemble → diff → upsert/delete, run report. Its
  * input is a seeded wave of the customer table (segment flips, balance
  * updates and rule-breaking rows that quarantine) against the pre-synced
  * target, restored before each op.
  */
final class SyncWorkload(ctx: Ctx) extends SyncWorkloadBase(ctx, "perfbench-sync") {
  private var cfg: SyncApp.Config = _
  private var waveRows: IndexedSeq[Row] = IndexedSeq.empty
  private var broken: Set[Int] = Set.empty
  private var expected: Map[String, String] = Map.empty

  def opsPerPass: Int = 1
  def opLabel(i: Int): String = "SyncApp.run"
  // after the pre-sync, sync ops keep speeding up for about four more
  override def warmupPasses: Int = 4
  def nominalPassS: Double = 2.5

  def prepare(dir: Path): Unit = {
    val rnd = new scala.util.Random(ctx.seed)
    val n = rows.length
    val order = rnd.shuffle(rows.indices.toVector)
    // the seed picks which rows change, never how many
    val flips = order.take(n * 4 / 100).toSet
    val balances = order.slice(n * 4 / 100, n * 10 / 100).toSet
    broken = order.slice(n * 10 / 100, n * 10 / 100 + n / 200).toSet
    waveRows = rows.indices.map { i =>
      val r = rows(i)
      val v = r.toSeq.toArray
      if (flips(i)) v(segmentCol) = if (isIn(r)) otherSegment(rnd) else EntityAssembly.segment
      if (balances(i)) v(3) = (rnd.nextInt(1099986) - 99999) / 100.0
      if (broken(i)) { if (i % 2 == 0) v(2) = -1 else v(1) = null }
      Row.fromSeq(v.toSeq)
    }
    val wave = Files.createDirectories(dir.resolve("wave"))
    spark.createDataFrame(waveRows.asJava, schema).repartition(1)
      .write.mode("overwrite").parquet(wave.resolve("customer.parquet").toString)
    for (t <- Workload.syncTables.filterNot(_ == "customer"))
      Files.createSymbolicLink(wave.resolve(s"$t.parquet"), baseDir.resolve(s"$t.parquet"))

    val sql = Files.createDirectories(dir.resolve("sql"))
    Files.writeString(sql.resolve("candidates.sql"), "SELECT c_custkey, c_name, c_mktsegment " +
      s"FROM customer\nWHERE c_mktsegment = '${EntityAssembly.segment}'\n")
    Files.writeString(sql.resolve("candidates.map"),
      "studentUniqueId=C_CUSTKEY\nfullName=c_name\nsegment=c_mktsegment\n")
    Files.writeString(sql.resolve("segment_counts.sql"),
      "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n\nFROM customer GROUP BY c_mktsegment\n")
    cfg = writeConfig(dir.resolve("conf"), Seq(
      s"input.data.dir=$wave",
      s"input.sql.dir=$sql",
      s"input.columnmap.dir=$sql",
      s"output.dir=${dir.resolve("out")}",
      "output.data.to.dir=true"))
  }

  private def validIn: IndexedSeq[Int] =
    waveRows.indices.filter(i => !broken(i) && isIn(waveRows(i)))

  protected def changedKeys: Set[Long] = validIn.map(i => key(rows(i))).toSet

  override def expect(): Seq[String] = {
    val errs = super.expect()
    // a quarantined key is withheld from the deletes: its target entity stays
    expected = validIn.map(i => key(rows(i)).toString -> bodyOf(key(rows(i)))).toMap ++
      broken.toSeq.map(i => key(rows(i)).toString).flatMap(k => target.get(k).map(k -> _))
    errs
  }

  override def beforeOp(i: Int): Unit = {
    resetTarget()
    // SyncApp.run compiles the registry inside; the traced run times the
    // same public calls on their own
    if (ctx.traced) ctx.tracer.span("QueryRegistry.compileAll", "core") {
      QueryRegistry.load(Paths.get(cfg.sqlDir), Paths.get(cfg.mapDir)).compileAll(spark)
    }
  }

  def run(i: Int): Any = ctx.tracer.span("SyncApp.run", "plans") {
    SyncApp.run(spark, cfg, ctx.transport(store), ctx.tokens())
  }

  def verify(i: Int, out: Any): (Long, Seq[String]) = {
    val s = out.asInstanceOf[SyncApp.Summary]
    val r = s.result
    val upserts = validIn.size.toLong
    val deletes = waveRows.size - broken.size - upserts
    val errs = Seq.newBuilder[String]
    if (r.upserts != upserts) errs += s"upserts ${r.upserts} != $upserts"
    if (r.deletes != deletes) errs += s"deletes ${r.deletes} != $deletes"
    if (r.quarantined != broken.size) errs += s"quarantined ${r.quarantined} != ${broken.size}"
    if (r.report.errors.nonEmpty) errs += s"report errors: ${r.report.errors.mkString("; ")}"
    if (s.queriesRun != 2) errs += s"queries ${s.queriesRun} != 2"
    errs ++= storeMismatches(expected)
    errs ++= checkDumps()
    (r.upserts + r.deletes, errs.result())
  }

  /** The CSV dumps `output.data.to.dir` asks for. */
  private def checkDumps(): Seq[String] = {
    def lines(name: String): Seq[String] =
      Workload.walk(Paths.get(cfg.outputDir))
        .filter(f => f.getFileName.toString.endsWith(".csv") &&
          f.getParent.getFileName.toString == name)
        .flatMap(f => Files.readAllLines(f).asScala.drop(1))
    val cand = lines("candidates").map(l => l.substring(1, l.indexOf('"', 1))).toSet
    val wantCand = waveRows.filter(isIn).map(r => key(r).toString).toSet
    val segs = lines("segment_counts").toSet
    val wantSegs = waveRows.groupBy(_.getString(segmentCol)).map { case (s, rs) =>
      s""""$s","${rs.size}"""" }.toSet
    (if (cand != wantCand) Seq(s"candidates dump: ${cand.size} keys, want ${wantCand.size}")
     else Nil) ++
      (if (segs != wantSegs) Seq(s"segment_counts dump: $segs") else Nil)
  }

  override def afterOp(i: Int): Unit = Workload.deleteTree(Paths.get(cfg.outputDir))
}

/** Seeded change batches (100 customer rows each over 90 keys, flips into
  * and out of the segment) applied one `IncrementalSync.applyBatch` at a
  * time to the pre-synced target, cycling through the sequence.
  */
final class ChangeSyncWorkload(ctx: Ctx) extends SyncWorkloadBase(ctx, "perfbench-changes") {
  private val batches = 8
  private val keysPerBatch = 90
  private val repeatsPerBatch = 10
  private var changesDir = ""
  /** per batch: key → is the key's final row in the segment */
  private var finals: IndexedSeq[Map[Long, Boolean]] = IndexedSeq.empty
  /** batch indices in the order ops applied them */
  private val applied = scala.collection.mutable.ArrayBuffer.empty[Int]

  def opsPerPass: Int = 2
  def opLabel(i: Int): String = "IncrementalSync.applyBatch"
  def nominalPassS: Double = 3.0

  def prepare(dir: Path): Unit = {
    changesDir = dir.resolve("changes").toString
    val rnd = new scala.util.Random(ctx.seed)
    var version = 0L
    val perBatch = (0 until batches).map { b =>
      val keys = rnd.shuffle(rows.indices.toVector).take(keysPerBatch)
      rnd.shuffle(keys ++ keys.take(repeatsPerBatch)).map { i =>
        val v = rows(i).toSeq.toArray
        v(segmentCol) = if (rnd.nextBoolean()) EntityAssembly.segment else otherSegment(rnd)
        v(3) = (rnd.nextInt(1099986) - 99999) / 100.0
        version += 1
        Row.fromSeq(v.toSeq :+ version :+ b)
      }
    }
    val withVersion = StructType(schema.fields ++ Seq(
      StructField("c_version", LongType), StructField("batch", IntegerType)))
    spark.createDataFrame(perBatch.flatten.asJava, withVersion).repartition(1)
      .write.mode("overwrite").partitionBy("batch").parquet(changesDir)
    finals = perBatch.map(_.groupBy(key).map { case (k, rs) => k -> isIn(rs.maxBy(_.getLong(5))) })
  }

  protected def changedKeys: Set[Long] = finals.flatMap(_.keys).toSet

  override def populate(dir: Path): Unit = {
    super.populate(dir)
    applied.clear()
  }

  def run(i: Int): Any = ctx.tracer.span("IncrementalSync.applyBatch", "streaming") {
    applied += i % batches
    val batch = spark.read.parquet(s"$changesDir/batch=${i % batches}")
    IncrementalSync.applyBatch(spark, baseDir.toString, batch, ctx.transport(store),
      ctx.tokens(), "loopback:perfbench/tpdm/teacherCandidates", versionCols = Seq("c_version"))
  }

  def verify(i: Int, out: Any): (Long, Seq[String]) = {
    val c = out.asInstanceOf[IncrementalSync.BatchCounts]
    val f = finals(i % batches)
    val wantUp = f.count(_._2).toLong
    val wantDel = f.size - wantUp
    val got = MemoryServer.store(store)
    val wrong = f.count { case (k, in) =>
      val v = got.get(k.toString)
      if (in) v != bodyOf(k) else v != null
    }
    val errs = Seq(
      if (c.upserts != wantUp) Some(s"upserts ${c.upserts} != $wantUp") else None,
      if (c.deletes != wantDel) Some(s"deletes ${c.deletes} != $wantDel") else None,
      if (wrong > 0) Some(s"$wrong batch keys differ from the batch assembly") else None).flatten
    (c.upserts + c.deletes, errs)
  }

  /** The whole target equals the batch assembly of the final state: the
    * base entities with every applied batch overlaid in order.
    */
  override def finalCheck(): Seq[String] = {
    val model = scala.collection.mutable.Map(target.toSeq: _*)
    applied.map(finals).foreach(_.foreach { case (k, in) =>
      if (in) model(k.toString) = bodyOf(k) else model.remove(k.toString)
    })
    storeMismatches(model.toMap)
  }
}

/** Registered queries through the noop sink. One op is one report run:
  * every query in a seeded order, each built (construction runs its eager
  * driver actions) and saved in turn, like the sync lifecycle runs its
  * named queries. The results are then fingerprinted against the committed
  * row count and order-insensitive hash. Per-query time and jobs are the
  * traced run's `query.<name>.*` attribution.
  */
final class QueryWorkload(ctx: Ctx, queries: Seq[String]) extends Workload(ctx) {
  private var dataDir = ""

  def opsPerPass: Int = 1
  def opLabel(i: Int): String = "queries"
  def nominalPassS: Double = 7.5

  def order(i: Int): Seq[String] =
    new scala.util.Random(ctx.seed * 1000003L + i).shuffle(queries)

  /** The query tables are the only inputs; the seed just orders the
    * queries. Each repetition links the tables into its directory.
    */
  def prepare(dir: Path): Unit = {
    val base = Files.createDirectories(dir.resolve("base"))
    for (t <- Workload.tables)
      Files.createSymbolicLink(base.resolve(s"$t.parquet"), ctx.data.resolve(s"$t.parquet"))
    dataDir = base.toString
  }

  def run(i: Int): Any = order(i).map { q =>
    val df = ctx.tracer.span(s"construct $q", "queries") {
      SparkEntry.queries(q)(spark, dataDir)
    }
    ctx.tracer.span(s"save $q", "sources") {
      df.write.format("noop").mode("overwrite").save()
    }
    q -> df
  }

  def verify(i: Int, out: Any): (Long, Seq[String]) = {
    val checked = out.asInstanceOf[Seq[(String, DataFrame)]].map { case (q, df) =>
      val got = Fingerprint.of(df)
      got.rows -> (Fingerprint.committed.get(q) match {
        case None                => Some(s"$q: no committed fingerprint")
        case Some(w) if w != got => Some(s"$q: fingerprint $got != $w")
        case _                   => None
      })
    }
    (checked.map(_._1).sum, checked.flatMap(_._2))
  }
}
