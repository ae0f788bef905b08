package graft.operators

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.{RunScope, SparkSpec, Tables}

class ZOrderSpec extends SparkSpec {

  test("zValue matches the driver-side mirror bit for bit") {
    import spark.implicits._
    val bits = 3
    val df = (for (x <- 0 until 40; y <- 0 until 40) yield (x.toDouble, y.toDouble))
      .toDF("x", "y")
    val got = df
      .select(
        col("x"), col("y"),
        ZOrder.zValue(
          Seq(ZOrder.cell(col("x"), 0, 40, bits), ZOrder.cell(col("y"), 0, 40, bits)),
          bits).as("z"))
      .collect()
    got.foreach { r =>
      val want = ZOrder.zOf(
        Seq(
          ZOrder.cellOf(r.getDouble(0), 0, 40, bits),
          ZOrder.cellOf(r.getDouble(1), 0, 40, bits)),
        bits)
      assert(r.getInt(2) === want, s"row (${r.getDouble(0)}, ${r.getDouble(1)})")
    }
  }

  test("covering set never loses an in-box row (over-approximation only)") {
    import spark.implicits._
    val bits = 3
    val df = (for (x <- 1 to 200; y <- 1 to 5) yield (x.toLong, (y * 10).toDouble))
      .toDF("k", "v")
    val z = ZOrder.zValue(
      Seq(ZOrder.cell(col("k"), 1, 200, bits), ZOrder.cell(col("v"), 10, 50, bits)), bits)
    val covering =
      ZOrder.coveringZ(Seq((40d, 90d), (20d, 30d)), Seq(1, 10), Seq(200, 50), bits).toSet
    val lost = df
      .withColumn("z", z)
      .filter(col("k").between(40, 90) && col("v").between(20, 30))
      .filter(!col("z").isin(covering.toSeq.map(Integer.valueOf): _*))
      .count()
    assert(lost === 0, "every in-box row must land in a covered code")
    assert(covering.size < (1 << (2 * bits)), "and the covering must actually prune")
  }

  test("z-ordered layout prunes files at the scan (numFiles metric)") {
    val bits = 3
    val li = Tables.load(spark, sf(), "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val b = li.agg(
      min("l_partkey"), max("l_partkey"), min("l_quantity"), max("l_quantity")).head()
    val (pkLo, pkHi) = (b.getLong(0).toDouble, b.getLong(1).toDouble)
    val (qLo, qHi) = (b.getDouble(2), b.getDouble(3))
    val z = ZOrder.zValue(
      Seq(
        ZOrder.cell(col("l_partkey"), pkLo, pkHi, bits),
        ZOrder.cell(col("l_quantity"), qLo, qHi, bits)),
      bits)
    val tmp = RunScope.scratchDir("graft_zspec")
    li.withColumn("zb", z).write.mode("overwrite").partitionBy("zb").parquet(tmp)
    val all = spark.read.parquet(tmp)
    val totalFiles = all.inputFiles.length
    val covering = ZOrder.coveringZ(
      Seq((100d, 180d), (10d, 20d)), Seq(pkLo, qLo), Seq(pkHi, qHi), bits)
    val pruned = all.where(
      col("zb").isin(covering.map(Integer.valueOf): _*) &&
        col("l_partkey").between(100, 180) && col("l_quantity").between(10, 20))
    val prunedRows = pruned.collect().length // THIS plan's scan metrics fill
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a file scan in the executed plan")
    val filesRead = scans.map(_.metrics("numFiles").value).sum
    assert(filesRead > 0 && filesRead < totalFiles,
      s"scan must read a strict subset of files ($filesRead / $totalFiles)")
    // and the pruned read returns exactly the plain filter's rows
    val want = li.filter(
      col("l_partkey").between(100, 180) && col("l_quantity").between(10, 20)).count()
    assert(prunedRows.toLong === want)
  }
}
