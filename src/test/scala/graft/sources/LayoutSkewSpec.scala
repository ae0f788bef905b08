package graft.sources

import org.apache.spark.sql.functions._

import graft.{RunScope, SparkSpec, Tables}
import graft.operators.Skew

class LayoutSkewSpec extends SparkSpec {

  test("salted join equals plain join on skewed data (one key = 90% of rows)") {
    import spark.implicits._
    val left = ((1 to 900).map(_ => (1L, "hot")) ++ (1 to 100).map(i => (i.toLong + 1, "cold")))
      .toDF("k", "tag")
    val right = (1 to 60).map(i => (i.toLong, s"dim$i")).toDF("rk", "name")
    val plain = left.join(right, $"k" === $"rk").select("k", "tag", "name")
    val salted = Skew.saltedInnerJoin(left, right, "k", "rk", saltFactor = 8)
      .select("k", "tag", "name")
    assert(salted.count() === plain.count())
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
  }

  test("salted join spreads a hot key across many partitions") {
    import spark.implicits._
    val left = (1 to 2000).map(_ => (1L, "hot")).toDF("k", "tag").repartition(8)
    val right = Seq((1L, "dim")).toDF("rk", "name")
    val parts = Skew.saltedInnerJoin(left, right, "k", "rk", saltFactor = 8)
      .groupBy(spark_partition_id()).count().count()
    assert(parts > 1, "hot key must not land on a single reducer")
  }

  test("bucketed tables join without a shuffle exchange; unbucketed do not") {
    // AQE off for a deterministic plan-shape assertion, on a clone so the
    // shared session keeps its settings
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val cust = Tables.load(s, sf(), "customer").select("c_custkey", "c_name")
    val ord = Tables.load(s, sf(), "orders").select("o_custkey", "o_orderkey")
    Layout.writeBucketed(cust, "b_cust", Seq("c_custkey"), 8)
    Layout.writeBucketed(ord.withColumnRenamed("o_custkey", "c_custkey"), "b_ord", Seq("c_custkey"), 8)
    try {
      val bucketed = s.table("b_cust").join(s.table("b_ord"), "c_custkey")
      val unbucketed = cust.join(
        ord.withColumnRenamed("o_custkey", "c_custkey"), "c_custkey")
      assert(!Layout.hasShuffle(bucketed), "bucketed join must elide the exchange")
      assert(Layout.hasShuffle(unbucketed), "sanity: plain join shuffles under these confs")
      // and the bucketed join returns the same rows
      assert(bucketed.count() === unbucketed.count())
    } finally {
      s.sql("DROP TABLE IF EXISTS b_cust")
      s.sql("DROP TABLE IF EXISTS b_ord")
    }
  }

  test("AQE splits a skewed sort-merge join partition (runtime re-plan path)") {
    // salting (Skew.saltedInnerJoin) is the write-side answer; this pins
    // the RUNTIME answer the session enables: AQE's OptimizeSkewedJoin.
    // Thresholds are lowered so the test corpus trips them, on a clone so
    // the shared session keeps its settings.
    val s = spark.newSession()
    import s.implicits._
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "10KB")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val left = ((1 to 60000).map(_ => 1L) ++ (1 to 600).map(_.toLong + 1))
      .toDF("k").withColumn("pad", lpad(col("k").cast("string"), 32, "x"))
    val right = (1L to 700L).toDF("rk")
      .withColumn("rpad", lpad(col("rk").cast("string"), 32, "y"))
    // keep the wide pad columns in the output — column pruning would
    // otherwise shrink the hot partition below the skew threshold
    val joined = left.join(right, $"k" === $"rk")
    // execute THIS frame (count() would plan its own query) so the
    // adaptive plan finalizes before inspection
    assert(joined.collect().length === 60600)
    val finalPlan = joined.queryExecution.executedPlan.toString
    assert(finalPlan.contains("skew=true"),
      s"AQE must mark the hot partition's join as skew-split:\n$finalPlan")
  }

  test("zone-map manifest skipping never loses rows and strictly prunes") {
    val dir = RunScope.scratchDir("graft_zm")
    val li = Tables.load(spark, sf(), "lineitem").select("l_orderkey", "l_quantity")
    li.repartitionByRange(8, col("l_orderkey")).write.mode("overwrite").parquet(dir)
    val mf = Layout.statsManifest(spark, dir, Seq("l_orderkey"))
    // manifest stats actually bound their files
    val bad = spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
      .join(mf, "file")
      .filter(col("lo") =!= col("min_l_orderkey") || col("hi") =!= col("max_l_orderkey"))
      .count()
    assert(bad === 0, "manifest min/max must match per-file reality")
    val skipped = Layout.readSkipping(spark, mf, "l_orderkey", 50L, 120L)
    assert(skipped.inputFiles.length < spark.read.parquet(dir).inputFiles.length)
    val got = skipped.filter(col("l_orderkey").between(50, 120)).count()
    val want = li.filter(col("l_orderkey").between(50, 120)).count()
    assert(got === want, "skipping must be loss-free for the covered predicate")
  }

  test("partitioned layout prunes partitions at the scan") {
    val dir = RunScope.scratchDir("graft_part")
    val li = Tables.load(spark, sf(), "lineitem")
      .withColumn("ship_year", year(col("l_shipdate")))
    Layout.writePartitioned(li, dir, Seq("ship_year"))
    val read = spark.read.parquet(dir).filter(col("ship_year") === 1995)
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ship_year"),
      s"year filter must prune partitions, not scan+filter:\n$plan")
    assert(read.count() === li.filter(col("ship_year") === 1995).count())
  }
}
