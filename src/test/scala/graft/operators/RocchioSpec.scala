package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class RocchioSpec extends SparkSpec {

  private def corpus = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "apple pie with apple sauce and banana slices"),
      (2L, "apple orchard banana plantation cherry grove"),
      (3L, "apple banana cherry"),
      (4L, "banana cherry smoothie with extra banana"),
      (5L, "completely unrelated document about spark plans"),
      (6L, "cherry cola"),
      (7L, "apple")).toDF("doc_id", "text")
  }

  test("PRF reaches docs with no original term; pure-noise docs stay unmatched") {
    val out = Rocchio.prfScore(corpus, "doc_id", "text", Seq("apple"),
      topR = 4, expandE = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.contains(4L), "banana/cherry doc reachable only via expansion")
    assert(out(4L).getAs[Int]("n_terms_matched") == 2)
    assert(!out.contains(5L), "no query or expansion term")
  }

  test("with expandE=0 the rescore equals plain BM25 on the original terms") {
    val prf = Rocchio.prfScore(corpus, "doc_id", "text", Seq("apple", "cherry"),
      topR = 3, expandE = 0)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("rocchio")).toMap
    val plain = Bm25.score(corpus, "doc_id", "text", Seq("apple", "cherry"))
      .select(col("doc_id"), round(col("bm25"), 6).as("b"))
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("b")).toMap
    assert(prf == plain)
  }

  test("beta scales only the expansion contribution") {
    def score(beta: Double) =
      Rocchio.prfScore(corpus, "doc_id", "text", Seq("apple"),
        topR = 4, expandE = 1, beta = beta)
        .collect().map(r => r.getLong(0) -> r.getAs[Double]("rocchio")).toMap
    val lo = score(0.25)
    val hi = score(0.5)
    // doc 4 matches only the expansion term → score exactly doubles
    assert(math.abs(hi(4L) - 2 * lo(4L)) < 2e-6)
    // doc 7 matches only 'apple' → beta-invariant
    assert(lo(7L) == hi(7L))
  }

  test("partition count does not move the result") {
    val a = Rocchio.prfScore(corpus.repartition(1), "doc_id", "text", Seq("apple"),
      topR = 4, expandE = 2).orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = Rocchio.prfScore(corpus.repartition(7), "doc_id", "text", Seq("apple"),
      topR = 4, expandE = 2).orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }
}
