package graft.plans

import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{RunScope, SparkSpec, Tables}
import graft.operators.SchemaValidation
import graft.sources.{FakeServer, Http, RestSink}

/** Transports that wrap [[FakeServer.Fake]]; state lives here so sink
  * tasks (same JVM in local mode) and the spec see the same sets.
  */
object SyncRunSpec {
  val posted = ConcurrentHashMap.newKeySet[String]()
  val deleted = ConcurrentHashMap.newKeySet[String]()
  private val Id = """"studentUniqueId":(-?\d+)""".r

  /** Records the id of every POST and DELETE it passes on. */
  final class Recording extends Http.Transport {
    private val inner = new FakeServer.Fake
    def send(req: Http.Request): Http.Response = {
      if (req.method == "POST") Id.findFirstMatchIn(req.body).foreach(m => posted.add(m.group(1)))
      else deleted.add(req.path.substring(req.path.lastIndexOf('/') + 1))
      inner.send(req)
    }
  }

  /** Answers 422 to a POST of any id in `refused`. */
  final class Refusing(refused: Set[String]) extends Http.Transport {
    private val inner = new FakeServer.Fake
    def send(req: Http.Request): Http.Response =
      if (req.method == "POST" && Id.findFirstMatchIn(req.body).exists(m => refused(m.group(1))))
        Http.Response(422, "")
      else inner.send(req)
  }
}

class SyncRunSpec extends SparkSpec {
  import SyncRunSpec._

  test("full sync run: upserts in-segment entities, deletes the rest, reports counts") {
    FakeServer.reset()
    val dir = RunScope.scratchDir("graft_sync_report")
    val t0 = Instant.parse("2026-01-01T00:00:00Z")
    val result = SyncRun.run(
      spark, sf(),
      new FakeServer.Fake, new FakeServer.Tokens,
      entityPath = "/entities",
      reportDir = Some(dir),
      now = () => t0)

    val customer = spark.read.parquet(s"${sf()}/customer.parquet")
    val inSegment = customer
      .filter(org.apache.spark.sql.functions.col("c_mktsegment") === EntityAssembly.segment)
      .count()
    assert(result.upserts === inSegment)
    assert(result.deletes === customer.count() - inSegment)
    // server converged to exactly the upserted key set
    assert(FakeServer.store.size() === inSegment)
    // report rendered to disk with injected timestamps
    val files = new java.io.File(dir).listFiles()
    assert(files.length === 1)
    val text = java.nio.file.Files.readString(files(0).toPath)
    assert(text.contains(s"upserts:  $inSegment"))
    assert(text.contains("started:  2026-01-01T00:00:00Z"))
  }

  test("sink failure is recorded in the report, not thrown") {
    val failing = new graft.sources.Http.Transport {
      def send(req: graft.sources.Http.Request) = graft.sources.Http.Response(500, "")
    }
    val result = SyncRun.run(spark, sf(), failing, new FakeServer.Tokens, "/entities")
    assert(result.upserts === 0)
    assert(result.report.errors.exists(_.startsWith("upsert:")))
    assert(result.report.errors.exists(_.startsWith("delete:")))
  }

  test("bad rows quarantine with reasons; their keys are withheld from deletes") {
    import org.apache.spark.sql.functions._
    FakeServer.reset()
    val qdir = RunScope.scratchDir("graft_quarantine")
    val customer = graft.Tables.load(spark, sf(), "customer")
    val keyType = customer.schema("c_custkey").dataType
    // an existing OUT-of-segment key, duplicated as a broken row: its
    // target twin must survive the delete wave because the row quarantined
    val victimKey = customer
      .filter(col("c_mktsegment") =!= EntityAssembly.segment)
      .agg(max("c_custkey")).head().get(0)
    val badNullKey = customer.limit(1)
      .withColumn("c_custkey", lit(null).cast(keyType))
    val badNullName = customer.filter(col("c_custkey") === victimKey)
      .withColumn("c_name", lit(null).cast("string"))
    val wave = customer.union(badNullKey).union(badNullName)

    val result = SyncRun.run(
      spark, sf(), new FakeServer.Fake, new FakeServer.Tokens, "/entities",
      quarantineDir = Some(qdir),
      customerOverride = Some(wave))

    val inSegment = customer
      .filter(col("c_mktsegment") === EntityAssembly.segment).count()
    assert(result.quarantined === 2)
    assert(result.report.quarantineCount === 2)
    assert(result.upserts === inSegment)
    // all-but-one out-of-segment rows deleted: the quarantined victim is withheld
    assert(result.deletes === customer.count() - inSegment - 1)
    assert(result.report.render.contains("quarantined: 2"))
    // quarantine frame carries machine-readable reasons
    val reasons = spark.read.json(qdir).select("errors")
      .collect().map(_.getString(0)).toSet
    assert(reasons.exists(_.contains("c_custkey:required_null")))
    assert(reasons.exists(_.contains("c_name:required_null")))
  }

  test("entity resolution pre-step: two variant spellings upsert ONE entity") {
    import spark.implicits._
    FakeServer.reset()
    // alicesmith/alicesmyth are edit-distance 1 in the same nation+segment
    // (score 4.0 + 1.5 + 1.0 = 6.5 >= 5.0 → same entity); every other name
    // is far from everything. Key 2 is the richer record (acctbal 500) so
    // its attributes win, but the ENTITY key is the cluster min (1).
    val wave = Seq(
      (1L, "alicesmith", 1L, 100.0, EntityAssembly.segment),
      (2L, "alicesmyth", 1L, 500.0, EntityAssembly.segment),
      (3L, "bobjones", 1L, 50.0, EntityAssembly.segment),
      (4L, "carolwhite", 2L, 10.0, "MACHINERY"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")

    val result = SyncRun.run(
      spark, sf(), new FakeServer.Fake, new FakeServer.Tokens, "/entities",
      customerOverride = Some(wave),
      resolution = Some(SyncRun.ResolutionConfig()))

    // 3 in-segment rows collapse to 2 entities; carol is out of segment
    assert(result.upserts === 2)
    // entity key = cluster min (1); the variant's own key (2) never POSTs
    assert(FakeServer.store.containsKey("1"))
    assert(!FakeServer.store.containsKey("2"))
    // representative attributes come from the richest cluster row
    assert(FakeServer.store.get("1").contains("alicesmyth"))
    // target keys 1 and 3 survive the delete wave; everything else goes
    val targetN = graft.Tables.load(spark, sf(), "customer").count()
    assert(result.deletes === targetN - 2)
    assert(FakeServer.store.size() === 2)
  }

  test("EM-fitted resolution: representatives collapse planted duplicates, zero hand weights") {
    import spark.implicits._
    // doubled-index names: any two base names differ at >= 2 positions, so
    // the only dist<=1 candidates are the planted ones; exact duplicates
    // carry richer acctbal (their attributes must win while the entity key
    // stays the cluster min), cross-nation name coincidences must NOT merge
    val base = (1L to 30L).map(i =>
      (i, s"alpha${i}beta$i", i % 5, i * 10.0, "BUILDING"))
    val exact = base.filter(_._1 % 3 == 0).map { case (i, n, a, b, s) =>
      (i + 100, n, a, b + 1000.0, s) }
    val coinc = base.filter(_._1 % 5 == 0).map { case (i, n, a, _, _) =>
      (i + 300, n, (a + 1) % 5, 5.0, "ZZ") }
    val wave = (base ++ exact ++ coinc)
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val got = SyncRun.resolveRepresentativesEm(wave, SyncRun.EmResolutionConfig())
      .collect()
      .map(r => r.getAs[Long]("c_custkey") -> r.getAs[Double]("c_acctbal")).toMap
    base.filter(_._1 % 3 == 0).foreach { case (i, _, _, _, _) =>
      assert(got(i) === i * 10.0 + 1000.0, s"entity $i must keep the richest row")
      assert(!got.contains(i + 100), s"merged key ${i + 100} must not survive")
    }
    base.filter(_._1 % 5 == 0).foreach { case (i, _, _, _, _) =>
      assert(got.contains(i + 300), s"coincidence ${i + 300} stays its own entity")
    }
  }

  test("re-run converges (idempotent): same counts, same server state") {
    FakeServer.reset()
    def once() = SyncRun.run(spark, sf(), new FakeServer.Fake, new FakeServer.Tokens, "/entities")
    val first = once()
    val second = once()
    assert(first.upserts === second.upserts)
    assert(FakeServer.store.size() === first.upserts)
  }

  /** The sf0.001 customer table with `n` segment flips each way and two
    * rows that quarantine: a null name on an out-of-segment key and a
    * negative nation on an in-segment key.
    */
  private def flippedWave(n: Int): DataFrame = {
    val customer = Tables.load(spark, sf(), "customer")
    def keys(segment: Column) = customer.filter(segment)
      .orderBy("c_custkey").limit(n + 1).collect().map(_.getAs[Long]("c_custkey"))
    val (in, out) = (keys(EntityAssembly.inSegment), keys(!EntityAssembly.inSegment))
    customer
      .withColumn("c_mktsegment",
        when(col("c_custkey").isin(in.take(n): _*), lit("MACHINERY"))
          .when(col("c_custkey").isin(out.take(n): _*), lit(EntityAssembly.segment))
          .otherwise(col("c_mktsegment")))
      .withColumn("c_name",
        when(col("c_custkey") === out(n), lit(null).cast("string")).otherwise(col("c_name")))
      .withColumn("c_nationkey",
        when(col("c_custkey") === in(n), lit(-1L)).otherwise(col("c_nationkey")))
  }

  test("upsert and delete key sets of a wave are disjoint; the store holds every upsert") {
    FakeServer.reset(); posted.clear(); deleted.clear()
    val result = SyncRun.run(spark, sf(), new Recording, new FakeServer.Tokens, "/entities",
      customerOverride = Some(flippedWave(5)))
    assert(result.quarantined === 2)
    assert(posted.size.toLong === result.upserts && deleted.size.toLong === result.deletes)
    assert(posted.size > 0 && deleted.size > 0)
    assert(posted.asScala.intersect(deleted.asScala).isEmpty)
    assert(posted.asScala.forall(FakeServer.store.containsKey))
  }

  test("the candidate-key delete set equals the assembled-key one, with and without resolution") {
    val customer = Tables.load(spark, sf(), "customer")
    val wave = flippedWave(5)
    // two variants of an in-segment customer, new keys, one edit away
    val twin = customer.filter(EntityAssembly.inSegment).orderBy("c_custkey").limit(1)
    val variants = twin.withColumn("c_custkey", col("c_custkey") + 100000)
      .unionByName(twin.withColumn("c_custkey", col("c_custkey") + 100001)
        .withColumn("c_name", concat(col("c_name"), lit("x"))))
    val resolution = SyncRun.ResolutionConfig()
    for ((rows, res) <- Seq(wave -> None, wave.unionByName(variants) -> Some(resolution))) {
      // the delete set as the assembled keys drew it
      val validated = SchemaValidation.validate(
        SchemaValidation.coerce(rows, SyncRun.customerCoercions), SyncRun.customerRules)
      val (valid0, quarantine) = SchemaValidation.split(validated)
      val valid = res.fold(valid0)(SyncRun.resolveRepresentatives(valid0, _))
      val withheld = EntityAssembly.assembleFrom(valid, Tables.load(spark, sf(), "nation"),
          Tables.load(spark, sf(), "orders"), Tables.load(spark, sf(), "lineitem"))
        .select("studentUniqueId")
        .union(quarantine.select(col("c_custkey").as("studentUniqueId")))
      val assembledKeys = customer.select(col("c_custkey").as("studentUniqueId"))
        .join(withheld, Seq("studentUniqueId"), "left_anti")
      val candidateKeys = SyncRun.plan(rows, Tables.load(spark, sf(), _),
        SyncRun.TargetDiff(customer), res).deletes
      def set(df: DataFrame) = df.collect().map(_.getLong(0)).toSet
      assert(set(candidateKeys) === set(assembledKeys), s"resolution $res")
    }
  }

  test("refused rows are counted, not thrown: the report's upserts equal the server's bodies") {
    FakeServer.reset()
    val inSegment = Tables.load(spark, sf(), "customer").filter(EntityAssembly.inSegment)
    val refused = inSegment.orderBy("c_custkey").limit(7)
      .collect().map(_.getAs[Long]("c_custkey").toString).toSet
    val result = SyncRun.run(spark, sf(), new Refusing(refused), new FakeServer.Tokens,
      "/entities")
    val n = inSegment.count()
    assert(result.report.upsertCount === FakeServer.store.size())
    assert(result.upserts === n - refused.size)
    assert(result.report.errors.exists(_.startsWith(s"upsert: ${refused.size} of $n refused")),
      result.report.errors)
    assert(!result.report.errors.exists(_.startsWith("delete:")), result.report.errors)
    // the sink itself reports the refused count and the first few refusals
    FakeServer.reset()
    val sunk = RestSink.upsert(EntityAssembly.toJsonPayload(EntityAssembly.assemble(spark, sf())),
      new Refusing(refused), new FakeServer.Tokens, "/entities")
    assert(sunk.failed === refused.size && sunk.succeeded === n - refused.size)
    assert(sunk.errors.size === RestSink.MaxErrors && sunk.errors.forall(_.endsWith("HTTP 422")))
  }

  test("the quarantine count is the same whether the write observes it or a count does") {
    val wave = flippedWave(3)
    def quarantined(dir: Option[String]) = {
      FakeServer.reset()
      SyncRun.run(spark, sf(), new FakeServer.Fake, new FakeServer.Tokens, "/entities",
        quarantineDir = dir, customerOverride = Some(wave)).quarantined
    }
    val observed = quarantined(Some(RunScope.scratchDir("graft_quarantine_observed")))
    assert(observed === 2)
    assert(quarantined(None) === observed)
  }
}
