package graft.operators

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.expressions.AhoCorasick

class BlocklistSpec extends SparkSpec {
  import spark.implicits._

  private val dict = Seq(
    "scan", "scan fast", "fast agg", "agg", "b", "join small", "absent phrase")

  private def brute(text: String): Seq[Int] =
    dict.zipWithIndex.collect { case (p, i) if text.contains(p) => i }

  test("automaton matches brute-force contains, incl. suffix outputs") {
    // "abc" ends at a node whose failure chain passes through "b"'s
    // terminal — both must report
    val ac = new AhoCorasick(Array("abc", "b"))
    assert(ac.matchIds("abc").toSeq === Seq(0, 1))
    assert(ac.matchIds("axc").toSeq === Seq.empty)
    assert(ac.matchIds("bb").toSeq === Seq(1))
    // overlapping occurrences of one pattern report once
    val ac2 = new AhoCorasick(Array("aa"))
    assert(ac2.matchIds("aaaa").toSeq === Seq(0))
  }

  test("seeded corpus: matchIds equals per-pattern contains for all docs") {
    val r = new Random(41)
    val vocab = Vector("scan", "fast", "agg", "join", "small", "b", "x")
    val docs = (0L until 60L).map { i =>
      (i, Seq.fill(12)(vocab(r.nextInt(vocab.size))).mkString(" "))
    }
    val got = docs.toDF("doc_id", "text")
      .select(col("doc_id"), Blocklist.matchIds(col("text"), dict).as("m"))
      .as[(Long, Seq[Int])].collect().toMap
    docs.foreach { case (i, t) =>
      assert(got(i) === brute(t), s"doc $i: '$t'")
    }
  }

  test("multi_match is callable from SQL and rejects non-literal patterns") {
    val rows = spark.sql(
      "SELECT multi_match('a fast agg here', array('fast agg', 'zzz', 'agg')) AS m")
      .as[Seq[Int]].head()
    assert(rows === Seq(0, 2))
    // null text -> null
    assert(spark.sql("SELECT multi_match(CAST(NULL AS STRING), array('x')) AS m")
      .head().isNullAt(0))
  }

  test("annotate emits (id, pid, pattern, first_off); clean docs emit nothing") {
    val df = Seq(
      (1L, "the scan fast agg path"),
      (2L, "nothing to see"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = Blocklist.annotate(df, "doc_id", "text", dict)
      .as[(Long, Int, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got === Seq(
      (1L, 0, "scan", 5L),
      (1L, 1, "scan fast", 5L),
      (1L, 2, "fast agg", 10L),
      (1L, 3, "agg", 15L)))
  }

  test("filterClean keeps clean and null-text docs only") {
    val df = Seq(
      (1L, "a fast agg doc"),
      (2L, "clean doc"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val kept = Blocklist.filterClean(df, "text", dict)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(2L, 3L))
  }

  test("degenerate dictionaries fail loudly") {
    intercept[IllegalArgumentException](new AhoCorasick(Array.empty[String]))
    intercept[IllegalArgumentException](new AhoCorasick(Array("ok", "")))
  }

  test("matchCounts reports every occurrence, overlapping included") {
    val ac = new AhoCorasick(Array("aa", "b", "zz"))
    assert(ac.matchCounts("aaaa").toSeq === Seq(3, 0, 0))
    assert(ac.matchCounts("ab ab").toSeq === Seq(0, 2, 0))
    assert(ac.matchCounts("").toSeq === Seq(0, 0, 0))
  }

  test("lexiconScore folds count x weight exactly; null text scores 0") {
    val lex = Seq("aa" -> -0.5, "b" -> 1.25)
    val df = Seq(
      (1L, "aaaa b"),          // 3*(-0.5) + 1*1.25 = -0.25, 4 hits
      (2L, "clean"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = Blocklist.lexiconScore(df, "doc_id", "text", lex)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 4L, -0.25), (2L, 0L, 0.0), (3L, 0L, 0.0)))
  }
}
