package graft.operators

import org.apache.spark.sql.functions._

import graft.{RunScope, SparkSpec}
import graft.functions.Hashing

class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  test("driver-side bucket hash is bit-exact with the Spark column hash") {
    val terms = Seq("data", "table", "join", "", "ünïcode", "a b", "0", "zz9")
    val sparkSide = terms.toDF("t")
      .select(col("t"), Hashing.md5Hash60(col("t")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    terms.foreach { t =>
      assert(TextIndex.jvmMd5Hash60(t) === sparkSide(t),
        s"jvm and Spark md5Hash60 disagree on '$t'")
    }
  }

  test("index round trip reproduces the fresh scorer; misses stay absent") {
    val docs = Seq(
      (1L, "data table join data"),
      (2L, "table of things"),
      (3L, "nothing relevant here"),
      (4L, "")).toDF("doc_id", "text")
    val idx = RunScope.scratchDir("graft_tidx")
    TextIndex.build(docs, "doc_id", "text", idx)
    val served = TextIndex.scoreFromIndex(spark, idx, Seq("data", "table", "join"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    val fresh = Bm25.score(docs, "doc_id", "text", Seq("data", "table", "join"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(served.keySet === fresh.keySet)
    assert(served.keySet === Set(1L, 2L))
    served.foreach { case (k, (n, s)) =>
      assert(n === fresh(k)._1)
      assert(math.abs(s - fresh(k)._2) < 1e-12, s"doc $k: $s vs ${fresh(k)._2}")
    }
    // a query term the corpus never saw scores nothing and breaks nothing
    assert(TextIndex.scoreFromIndex(spark, idx, Seq("zzzzz")).isEmpty)
  }
}
