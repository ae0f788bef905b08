package graft.plans

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkSpec}
import graft.sources.MemoryServer

/** The sync path's outputs do not depend on partition count, join
  * strategy or AQE: each matches between the factory session and
  * `newSession()` clones with one setting perturbed.
  */
class SyncPerturbationSpec extends SparkSpec {

  private val perturbations: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "1",
    "spark.sql.shuffle.partitions" -> (3 * GraftSession.cpus.toInt).toString,
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.enabled" -> "false")

  /** Asserts `out` gives the same value on every perturbed clone as on
    * the factory session.
    */
  private def assertInvariant[T](out: SparkSession => T): Unit = {
    val want = out(spark)
    perturbations.foreach { case (k, v) =>
      val s = spark.newSession()
      s.conf.set(k, v)
      assert(out(s) === want, s"under $k=$v")
    }
  }

  /** Row count and an order-insensitive hash: the sum of per-row xxhash64. */
  private def fingerprint(df: DataFrame): (Long, String) = {
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*)
      .cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  test("EntityAssembly.fingerprinted is invariant under session settings") {
    assertInvariant(s => fingerprint(EntityAssembly.fingerprinted(s, sf())))
  }

  test("the loopback store after SyncRun.run is invariant under session settings") {
    assertInvariant { s =>
      val name = s"perturbation-${System.identityHashCode(s)}"
      try {
        val r = SyncRun.run(s, sf(), new MemoryServer.Endpoint(name),
          new MemoryServer.Tokens, "/entities")
        val store = MemoryServer.store(name).asScala
        assert(r.upserts === store.size.toLong)
        (store.size, MurmurHash3.unorderedHash(store))
      } finally MemoryServer.drop(name)
    }
  }
}
