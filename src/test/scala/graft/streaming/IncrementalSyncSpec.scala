package graft.streaming

import org.apache.spark.sql.functions._

import graft.{RunScope, SparkSpec, Tables}
import graft.sources.FakeServer

/** The change-stream sync against the in-memory fake server: two waves of
  * customer updates through the AvailableNow file stream must leave the
  * target in exactly the state a full batch sync of the final data would.
  */
class IncrementalSyncSpec extends SparkSpec {
  import spark.implicits._

  private def storeKeys: Set[String] = {
    import scala.jdk.CollectionConverters._
    FakeServer.store.keySet.asScala.toSet
  }

  test("incremental change-stream sync converges across waves") {
    FakeServer.reset()
    val customer = Tables.load(spark, sf(), "customer")
    val dir = RunScope.scratchDir("graft_updates")
    val ckpt = RunScope.scratchDir("graft_ckpt")
    val transport = new FakeServer.Fake
    val tokens = new FakeServer.Tokens

    // wave 1: first 100 customers arrive as a change batch
    customer.filter($"c_custkey" <= 100).write.mode("append").parquet(dir)
    IncrementalSync.run(spark, sf(), dir, transport, tokens, "/entities", ckpt)
      .awaitTermination()
    val expected1 = customer
      .filter($"c_custkey" <= 100 && $"c_mktsegment" === "BUILDING")
      .select("c_custkey").collect().map(_.getLong(0).toString).toSet
    assert(expected1.nonEmpty)
    assert(storeKeys === expected1, "wave 1 should sync exactly the in-segment keys")

    // wave 2: two in-segment customers leave the segment, one new joins
    val leaving = customer
      .filter($"c_custkey" <= 100 && $"c_mktsegment" === "BUILDING")
      .orderBy("c_custkey").limit(2)
    val leavingKeys = leaving.select("c_custkey").collect().map(_.getLong(0).toString).toSet
    val joining = customer
      .filter($"c_custkey" > 100 && $"c_mktsegment" =!= "BUILDING")
      .orderBy("c_custkey").limit(1)
    val joiningKeys = joining.select("c_custkey").collect().map(_.getLong(0).toString).toSet
    leaving.withColumn("c_mktsegment", lit("OTHER"))
      .unionByName(joining.withColumn("c_mktsegment", lit("BUILDING")))
      .write.mode("append").parquet(dir)
    IncrementalSync.run(spark, sf(), dir, transport, tokens, "/entities", ckpt)
      .awaitTermination()
    assert(storeKeys === expected1 -- leavingKeys ++ joiningKeys,
      "wave 2 must delete leavers and upsert joiners, touching nothing else")
  }

  test("applyBatch counts: upserts in-segment entities, deletes out-of-segment keys") {
    FakeServer.reset()
    val customer = Tables.load(spark, sf(), "customer")
    val batch = customer.filter($"c_custkey" <= 40)
    val counts = IncrementalSync.applyBatch(
      spark, sf(), batch, new FakeServer.Fake, new FakeServer.Tokens, "/entities")
    val inSeg = batch.filter($"c_mktsegment" === "BUILDING").count()
    val outSeg = batch.filter($"c_mktsegment" =!= "BUILDING")
      .select("c_custkey").distinct().count()
    assert(counts.upserts === inSeg)
    assert(counts.deletes === outSeg) // 404s count as success (idempotent)
  }

  test("applyBatch withholds rows failing SyncRun's validation from upsert and delete") {
    FakeServer.reset()
    val customer = Tables.load(spark, sf(), "customer")
    val inSeg = customer.filter($"c_mktsegment" === "BUILDING").orderBy("c_custkey").limit(2)
    val outSeg = customer.filter($"c_mktsegment" =!= "BUILDING").orderBy("c_custkey").limit(2)
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("c_custkey").collect().map(_.getLong(0)).toSeq
    val Seq(nullName, goodIn) = keys(inSeg)
    val Seq(badNation, _) = keys(outSeg)
    // SyncRun quarantines both broken rows: a null c_name and a
    // c_nationkey below the rule's minimum
    val batch = inSeg
      .withColumn("c_name",
        when($"c_custkey" === nullName, lit(null).cast("string")).otherwise($"c_name"))
      .unionByName(outSeg
        .withColumn("c_nationkey",
          when($"c_custkey" === badNation, lit(-1)).otherwise($"c_nationkey")))
    val counts = IncrementalSync.applyBatch(
      spark, sf(), batch, new FakeServer.Fake, new FakeServer.Tokens, "/entities")
    assert(counts === IncrementalSync.BatchCounts(upserts = 1, deletes = 1))
    assert(storeKeys === Set(goodIn.toString))
  }

  test("a key flipping within one batch resolves to its NEWEST state") {
    val customer = Tables.load(spark, sf(), "customer")
    val k = customer.filter($"c_mktsegment" === "BUILDING")
      .orderBy("c_custkey").limit(1)
    val key = k.select("c_custkey").collect().head.getLong(0).toString

    // newest change takes the key OUT of the segment → must end deleted
    FakeServer.reset()
    val outFlip = k.withColumn("v", lit(1))
      .unionByName(k.withColumn("c_mktsegment", lit("OTHER")).withColumn("v", lit(2)))
    IncrementalSync.applyBatch(spark, sf(), outFlip,
      new FakeServer.Fake, new FakeServer.Tokens, "/entities", versionCols = Seq("v"))
    assert(!storeKeys.contains(key), "stale BUILDING row must not resurrect the key")

    // newest change brings the key INTO the segment → must end present
    FakeServer.reset()
    val inFlip = k.withColumn("c_mktsegment", lit("OTHER")).withColumn("v", lit(1))
      .unionByName(k.withColumn("v", lit(2)))
    IncrementalSync.applyBatch(spark, sf(), inFlip,
      new FakeServer.Fake, new FakeServer.Tokens, "/entities", versionCols = Seq("v"))
    assert(storeKeys.contains(key), "stale OTHER row must not delete the fresh upsert")
  }

  test("job budget: one warm applyBatch runs 9 jobs") {
    val clone = spark.newSession()
    val batch = Tables.load(clone, sf(), "customer").filter($"c_custkey" <= 40)
    def jobs(): Int = {
      FakeServer.reset()
      jobSites(clone)(IncrementalSync.applyBatch(
        clone, sf(), batch, new FakeServer.Fake, new FakeServer.Tokens, "/entities"))._2.size
    }
    jobs() // warm: schemas inferred once
    // 12 before the sync stages shared one plan and overlapped their sinks
    assert(jobs() === 9)
  }
}
