package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

import graft.RunScope.Pinning
import graft.sources.FakeServer

/** The one pin scope: a scope frees every pin its result no longer
  * reaches — on return and on throw — and hands the rest outwards.
  */
class RunScopeSpec extends SparkSpec {

  /** Runs `call` and returns its outcome with the RDD ids it left
    * persisted (the [[graft.operators.FixedPointSpec]] observation).
    */
  private def observe[T](call: => T): (Either[Throwable, T], Set[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = try Right(call) catch { case t: Throwable => Left(t) }
    (out, (sc.getPersistentRDDs.keySet -- before).toSet)
  }

  private def rddIds(df: DataFrame): Set[Int] =
    bridge.analyzed(df).collectLeaves().collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet

  private def ids(n: Int) = spark.range(n).toDF("id")

  test("a throw inside a scope leaves no pins of any kind") {
    val (out, left) = observe(RunScope.scope("boom") {
      ids(10).pin().count()
      ids(20).pin(RunScope.Lazy).count()
      ids(30).pin(RunScope.Persist).count()
      throw new IllegalStateException("boom")
    })
    assert(out.left.toOption.map(_.getMessage) === Some("boom"))
    assert(left.isEmpty, left)
  }

  test("a pin the result reaches survives; one it does not reach is freed") {
    val (out, left) = observe(RunScope.scope("reach") {
      val kept = ids(10).pin()
      val dropped = ids(20).pin()
      assert(dropped.count() === 20)
      kept.select((col("id") * 2).as("id"))
    })
    val df = out.toOption.get
    assert(left === rddIds(df))
    assert(df.agg(sum("id")).head().getLong(0) === 90L)
  }

  test("a pin reached only through df.rdd lineage survives") {
    val (out, left) = observe(RunScope.scope("lineage") {
      val pinned = ids(10).pin()
      spark.createDataFrame(pinned.rdd, pinned.schema)
    })
    val df = out.toOption.get
    assert(left.size === 1, left)
    assert(df.count() === 10)
  }

  test("a persisted pin the plan reaches survives, and a tuple result keeps each frame") {
    val (out, left) = observe(RunScope.scope("tuple") {
      val cached = ids(10).pin(RunScope.Persist)
      val eager = ids(5).pin()
      assert(cached.count() === 10)
      (cached.filter(col("id") > 4), Some(eager))
    })
    val (a, b) = out.toOption.get
    assert(left.size === 2, left)
    assert(a.count() === 5 && b.get.count() === 5)
  }

  test("a nested scope's survivor is freed by an outer scope that no longer reaches it") {
    val (out, left) = observe(RunScope.scope("outer") {
      val inner = RunScope.scope("inner")(ids(10).pin())
      inner.groupBy().count().head().getLong(0)
    })
    assert(out === Right(10L))
    assert(left.isEmpty, left)
  }

  test("an eager pin's job is described '<scope> pin <k>'; the caller's description returns") {
    val sc = spark.sparkContext
    val seen = ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        seen += Option(e.properties).map(_.getProperty("spark.job.description")).orNull
      }
    }
    bridge.waitUntilListenerBusEmpty(spark)
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    try {
      RunScope.scope("described") {
        ids(10).pin(RunScope.Lazy)
        ids(10).pin()
        ()
      }
      assert(sc.getLocalProperty("spark.job.description") === "caller")
      bridge.waitUntilListenerBusEmpty(spark)
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
    }
    assert(seen.synchronized(seen.toList).contains("described pin 2"))
  }

  test("SyncRun.run that throws on its quarantine write leaves no pins") {
    val file = Files.createFile(Paths.get(RunScope.scratchDir("graft_not_a_dir"), "file.txt"))
    FakeServer.reset()
    val t0 = System.nanoTime()
    val (out, left) = observe(plans.SyncRun.run(
      spark, sf(), new FakeServer.Fake, new FakeServer.Tokens, "/entities",
      quarantineDir = Some(s"$file/quarantine")))
    val took = (System.nanoTime() - t0) / 1e9
    assert(out.isLeft, out)
    assert(left.isEmpty, left)
    // it throws once its other actions have finished (the upsert is all
    // in the store), and not much later
    val inSegment = Tables.load(spark, sf(), "customer")
      .filter(plans.EntityAssembly.inSegment).count()
    assert(FakeServer.store.size() === inSegment)
    assert(took < 120.0, s"took $took s")
    val alive = Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("graft-run-"))
    assert(alive.isEmpty, alive)
  }

  test("only RunScope.scala and bridge.scala pin, free or create a temp directory") {
    val banned = Seq("localCheckpoint(", ".persist(", ".cache()", "unpersist(",
      "freeLocalCheckpoint(", "createTempDirectory", "java.io.tmpdir")
    // harness code: Bench's between-query cleanup drops whatever leaked
    def harness(p: Path, text: String): String =
      if (p.getFileName.toString != "Bench.scala") text
      else {
        val from = text.indexOf("def dropLeakedState")
        text.patch(from, "", text.indexOf("catch", from) - from)
      }
    val hits = Using.resource(Files.walk(Paths.get("src/main")))(_.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(p => Set("RunScope.scala", "bridge.scala").contains(p.getFileName.toString))
      .flatMap { p =>
        val text = harness(p, Files.readString(p))
        banned.filter(text.contains).map(b => s"${p.getFileName}: $b")
      }.toList)
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
