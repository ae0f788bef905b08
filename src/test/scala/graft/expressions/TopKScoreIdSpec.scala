package graft.expressions

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.operators.SimilaritySearch

class TopKScoreIdSpec extends SparkSpec {

  /** Window-function top-k, the cross-check reference for
    * [[SimilaritySearch.topKPerKey]], including the null/NaN-score
    * exclusion: prune to k rows per (key, input partition), then rank the
    * survivors.
    */
  private def topKPerKeyWindow(scored: DataFrame, keyCol: String, k: Int): DataFrame = {
    val byPart = Window
      .partitionBy(col(keyCol), spark_partition_id())
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val pruned = scored
      .filter(col("cosine").isNotNull && !isnan(col("cosine")))
      .withColumn("__pr", row_number().over(byPart))
      .filter(col("__pr") <= k)
      .drop("__pr")
    val global = Window
      .partitionBy(col(keyCol))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    pruned
      .withColumn("rank", row_number().over(global))
      .filter(col("rank") <= k)
  }

  test("heap buffer keeps the k best under (score desc, id asc) — randomized vs sort") {
    val gen = Gen.listOfN(200, Gen.zip(Gen.choose(-1.0, 1.0), Gen.choose(0L, 50L)))
    (1 to 20).foreach { i =>
      val entries = gen(Gen.Parameters.default, Seed(i.toLong)).get
      val b = new TopKScoreId.Buffer(7)
      entries.foreach { case (s, id) => b.offer(s, id) }
      val want = entries.sortBy { case (s, id) => (-s, id) }.take(7)
      assert(b.sortedDesc === want, s"seed $i")
    }
  }

  test("merge of split streams equals single-stream result") {
    val entries = (1 to 100).map(i => (math.sin(i).abs, i.toLong))
    val whole = new TopKScoreId.Buffer(10)
    entries.foreach { case (s, id) => whole.offer(s, id) }
    val (l, r) = entries.splitAt(37)
    val a = new TopKScoreId.Buffer(10)
    val b = new TopKScoreId.Buffer(10)
    l.foreach { case (s, id) => a.offer(s, id) }
    r.foreach { case (s, id) => b.offer(s, id) }
    a.absorb(b)
    assert(a.sortedDesc === whole.sortedDesc)
  }

  test("aggregate top-k equals the window top-k on real embeddings, many partitions") {
    val emb = Tables.load(spark, sf(), "embeddings").repartition(13)
    val queries = emb.filter(col("vec_id") < 6)
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", graft.functions.Vectors.cosine(col("qv"), col("cv")))
      .select("query_id", "neighbor_id", "cosine")
    val viaAgg = SimilaritySearch.topKPerKey(scored, "query_id", 9)
      .select("query_id", "neighbor_id", "rank")
    val viaWin = topKPerKeyWindow(scored, "query_id", 9)
      .select("query_id", "neighbor_id", "rank")
    assert(viaAgg.except(viaWin).isEmpty && viaWin.except(viaAgg).isEmpty)
  }

  test("NaN/null scores are excluded and never poison the heap; window form agrees") {
    import spark.implicits._
    val scored = Seq(
      (1L, 10L, Double.NaN), (1L, 11L, 0.5), (1L, 12L, Double.NaN),
      (1L, 13L, 0.7), (2L, 20L, Double.NaN))
      .toDF("query_id", "neighbor_id", "cosine")
    val viaAgg = SimilaritySearch.topKPerKey(scored, "query_id", 2)
    assert(viaAgg.orderBy("rank").collect().map(_.getAs[Long]("neighbor_id")).toSeq ===
      Seq(13L, 11L), "NaN offered first must not block later admissions")
    assert(viaAgg.filter(col("query_id") === 2).count() === 0, "all-NaN key absent")
    val viaWin = topKPerKeyWindow(scored, "query_id", 2)
      .select("query_id", "neighbor_id", "rank")
    assert(viaAgg.select("query_id", "neighbor_id", "rank").except(viaWin).isEmpty &&
      viaWin.except(viaAgg.select("query_id", "neighbor_id", "rank")).isEmpty)
  }

  test("fewer candidates than k yields all of them, ranked") {
    import spark.implicits._
    val scored = Seq((1L, 10L, 0.9), (1L, 11L, 0.8)).toDF("query_id", "neighbor_id", "cosine")
    val out = SimilaritySearch.topKPerKey(scored, "query_id", 5)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(10L, 11L))
    assert(out.map(_.getAs[Int]("rank")).toSeq === Seq(1, 2))
  }
}
