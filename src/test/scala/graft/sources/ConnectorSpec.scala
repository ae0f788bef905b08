package graft.sources

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.{RunScope, SparkSpec}
import graft.operators.SyncDiff
import Http._

/** In-memory fakes live in a companion so executor-side closures (same JVM
  * in local mode) and the driver observe the same state.
  */
object FakeServer {
  val store = new ConcurrentHashMap[String, String]()
  val posts = new AtomicLong()
  val deletes = new AtomicLong()
  val auth401s = new AtomicLong()
  val validToken = new java.util.concurrent.atomic.AtomicReference[String]("t0")

  def reset(): Unit = { store.clear(); posts.set(0); deletes.set(0); auth401s.set(0); validToken.set("t0") }

  /** Pages of the "snapshot" endpoint: 250 records with ids 0..249. */
  val snapshotSize = 250

  final class Fake extends Transport {
    def send(req: Request): Response = {
      if (!req.headers.get("Authorization").contains(s"Bearer ${validToken.get}")) {
        auth401s.incrementAndGet()
        return Response(401, "")
      }
      req.method match {
        case "POST" =>
          posts.incrementAndGet()
          val id = req.body.replaceAll(""".*?"(?:id|studentUniqueId)":(\d+).*""", "$1")
          store.put(id, req.body)
          Response(200, "")
        case "DELETE" =>
          deletes.incrementAndGet()
          val id = req.path.substring(req.path.lastIndexOf('/') + 1)
          if (store.remove(id) == null) Response(404, "") else Response(204, "")
        case "GET" =>
          val offset = req.params("offset").toInt
          val limit = req.params("limit").toInt
          val page = (offset until math.min(offset + limit, snapshotSize))
            .map(i => s"""{"id":$i,"name":"rec$i"}""")
          Response(200, page.mkString("[", ",", "]"))
      }
    }
  }

  final class Tokens extends TokenSource {
    private val n = new AtomicInteger(0)
    def current(): String = s"t${n.get}"
    def refresh(): String = s"t${n.incrementAndGet()}"
  }
}

class ConnectorSpec extends SparkSpec {

  private def authed = new Authed(new FakeServer.Fake, new FakeServer.Tokens)

  test("paged source reads ALL pages, not the reference's first-100 truncation") {
    FakeServer.reset()
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val df = RestSource.pagedJson(spark, authed, "/snapshot", schema, limit = 100)
    assert(df.count() === FakeServer.snapshotSize)
    assert(df.agg(min("id"), max("id")).collect()(0).toSeq === Seq(0L, 249L))
  }

  test("json array splitter handles nesting, strings with commas/escapes, empties") {
    assert(RestSource.parseJsonArray("[]") === Seq.empty)
    assert(RestSource.parseJsonArray("""[{"a":1},{"b":[1,2]}]""") ===
      Seq("""{"a":1}""", """{"b":[1,2]}"""))
    assert(RestSource.parseJsonArray("""[{"s":"x,\"y\""},{"t":"}{"}]""") ===
      Seq("""{"s":"x,\"y\""}""", """{"t":"}{"}"""))
  }

  test("upsert sink POSTs every row distributed; counts via accumulators") {
    FakeServer.reset()
    import spark.implicits._
    val df = (0 until 50).map(i => (i.toLong, s"n$i")).toDF("id", "name").repartition(4)
    val report = RestSink.upsert(df, new FakeServer.Fake, new FakeServer.Tokens, "/entities")
    assert(report === RestSink.SinkReport(50, 50))
    assert(FakeServer.store.size() === 50)
  }

  test("401 → refresh → retry once, transparently to the sink") {
    FakeServer.reset()
    FakeServer.validToken.set("t1") // current token t0 is stale: first call 401s
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("id", "name")
    val report = RestSink.upsert(df, new FakeServer.Fake, new FakeServer.Tokens, "/entities")
    assert(report.succeeded === 1)
    assert(FakeServer.auth401s.get() >= 1) // stale token was rejected, refresh recovered
  }

  test("delete sink: 404 is success (idempotent under task retry)") {
    FakeServer.reset()
    import spark.implicits._
    FakeServer.store.put("7", "{}")
    val df = Seq(7L, 8L, 9L).toDF("id") // 8 and 9 don't exist
    val report = RestSink.delete(df, "id", new FakeServer.Fake, new FakeServer.Tokens, "/entities")
    assert(report === RestSink.SinkReport(3, 3))
    assert(FakeServer.store.isEmpty)
  }

  test("end-to-end sync: paged snapshot → anti-diff → upserts + deletes converge") {
    FakeServer.reset()
    import spark.implicits._
    // target snapshot on the "server": ids 0..249 (paged GET)
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    (0 until FakeServer.snapshotSize).foreach(i => FakeServer.store.put(i.toString, s"""{"id":$i}"""))
    val target = RestSource.pagedJson(spark, authed, "/snapshot", schema, limit = 100)
    // source: ids 100..299 → expect upserts 100..299, deletes 0..99
    val source = (100 until 300).map(i => (i.toLong, s"src$i")).toDF("id", "name")
    val plan = SyncDiff.plan(source, target, Seq("id"))
    RestSink.upsert(plan.upserts, new FakeServer.Fake, new FakeServer.Tokens, "/entities")
    RestSink.delete(plan.deletes, "id", new FakeServer.Fake, new FakeServer.Tokens, "/entities")
    val remaining = FakeServer.store.keySet().toArray.map(_.toString.toLong).sorted
    assert(remaining.toSeq === (100L until 300L))
  }

  test("csv sink writes RFC4180 (quoteAll) and reads back identically") {
    import spark.implicits._
    val dir = Files.tmp("graft_csv")
    val df = Seq((1L, "a,b", "say \"hi\""), (2L, "plain", "x\ny")).toDF("id", "c1", "c2")
    FileSinks.csv(df, dir)
    val back = spark.read.option("header", "true").option("multiLine", "true")
      .schema(df.schema).csv(dir)
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
  }

  test("run report renders counts and errors") {
    val r = FileSinks.RunReport("2026-01-01T00:00:00", "2026-01-01T00:01:00", 10, 2, Seq("e1"))
    assert(r.render.contains("upserts:  10"))
    assert(r.render.contains("- e1"))
    val dir = Files.tmp("graft_report")
    FileSinks.writeReport(r, dir, "run1")
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "run1.report")).contains("deletes:  2"))
  }

  test("pagedJson refuses to silently truncate: full last page at maxPages throws") {
    FakeServer.reset()
    val authed = new Authed(new FakeServer.Fake, new FakeServer.Tokens)
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    // snapshot has 250 rows; 2 pages of 50 both come back full → must throw
    val e = intercept[IllegalStateException] {
      RestSource.pagedJson(spark, authed, "/snap", schema, limit = 50, maxPages = 2).count()
    }
    assert(e.getMessage.contains("truncated"))
    // exactly enough pages (5 full + 1 empty terminator) succeeds
    assert(RestSource.pagedJson(spark, authed, "/snap", schema, limit = 50, maxPages = 6)
      .count() === FakeServer.snapshotSize)
  }

  test("client-credentials token source: POST once, cache, re-POST on refresh") {
    val minted = new AtomicInteger(0)
    val endpoint = new Transport {
      def send(req: Request): Response = {
        assert(req.method == "POST" && req.path == "/oauth/token")
        assert(req.body == "grant_type=client_credentials")
        val basic = java.util.Base64.getEncoder.encodeToString("key:secret".getBytes("UTF-8"))
        if (!req.headers.get("Authorization").contains(s"Basic $basic")) Response(401, "")
        else Response(200, s"""{"access_token":"tok${minted.incrementAndGet()}","token_type":"bearer","expires_in":1800}""")
      }
    }
    val ts = new ClientCredentialsTokenSource(endpoint, "/oauth/token", "key", "secret")
    assert(ts.current() === "tok1")
    assert(ts.current() === "tok1") // cached — no second POST
    assert(minted.get === 1)
    assert(ts.refresh() === "tok2") // refresh always re-POSTs
    assert(ts.current() === "tok2")
    assert(minted.get === 2)
    // bad credentials surface, not loop
    val bad = new ClientCredentialsTokenSource(endpoint, "/oauth/token", "key", "wrong")
    intercept[IllegalArgumentException] { bad.current() }
  }

  test("client-credentials source drives the 401-refresh-retry path end to end") {
    FakeServer.reset()
    val minted = new AtomicInteger(0)
    val tokenEndpoint = new Transport {
      def send(req: Request): Response =
        Response(200, s"""{"access_token":"t${minted.incrementAndGet()}"}""")
    }
    val ts = new ClientCredentialsTokenSource(tokenEndpoint, "/oauth/token", "k", "s")
    val authed = new Authed(new FakeServer.Fake, ts)
    assert(ts.current() === "t1")
    FakeServer.validToken.set("t2") // server-side token expiry
    val resp = authed.call(Request("GET", "/snap", params = Map("offset" -> "0", "limit" -> "10")))
    assert(resp.status === 200) // one 401, one refresh, one retry
    assert(FakeServer.auth401s.get === 1)
    assert(minted.get === 2)
  }
}

object Files {
  def tmp(prefix: String): String =
    RunScope.scratchDir(prefix)
}
