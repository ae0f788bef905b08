package graft.operators

import java.nio.file.Files

import graft.{RunScope, SparkSpec}

/** The [[DedupIndexSpec]] invariant replayed for exact-substring:
  * probe(index, batch) ∪ duplicateWindows(index) must equal the
  * full-rebuild duplicate-window set over index ∪ batch — and after
  * appendBatch, duplicateWindows(index) alone must equal it.
  */
class SubstringIndexSpec extends SparkSpec {
  import spark.implicits._

  private val L = 6

  private def bruteDup(
      docs: Seq[(Long, String)], crossDoc: Boolean): Set[(Long, Long)] = {
    val grams = for {
      (d, t) <- docs
      o <- 1 to (Option(t).getOrElse("").length - L + 1)
    } yield (d, o.toLong, t.substring(o - 1, o - 1 + L))
    grams.groupBy(_._3).values.filter { g =>
      g.size >= 2 && (!crossDoc || g.map(_._1).distinct.size >= 2)
    }.flatten.map(g => (g._1, g._2)).toSet
  }

  private val oldDocs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "pack my box with quick brown socks"),
    (2L, "entirely unique content nothing shared"),
    (3L, "short"))
  private val batch = Seq(
    (10L, "a very quick brown thing appears"),
    (11L, "unique content nothing beats it"),
    (12L, "zzz internal internal zzz"),
    (13L, ""))

  test("probe + index dups == full rebuild (cross-doc)") {
    val idx = RunScope.scratchDir("graft_ssi")
    SubstringIndex.write(oldDocs.toDF("doc_id", "text"), "doc_id", "text",
      idx, L, nBuckets = 8)
    val got =
      SubstringIndex.probe(spark, idx, batch.toDF("doc_id", "text"),
        "doc_id", "text", L, nBuckets = 8)
        .unionByName(SubstringIndex.duplicateWindows(spark, idx))
        .as[(Long, Long)].collect().toSet
    assert(got === bruteDup(oldDocs ++ batch, crossDoc = true))
  }

  test("appended index == full rebuild; matches a fresh full write") {
    val idx = RunScope.scratchDir("graft_ssi")
    SubstringIndex.write(oldDocs.toDF("doc_id", "text"), "doc_id", "text",
      idx, L, nBuckets = 8)
    SubstringIndex.appendBatch(batch.toDF("doc_id", "text"), "doc_id", "text",
      idx, L, nBuckets = 8)
    val appended = SubstringIndex.duplicateWindows(spark, idx)
      .as[(Long, Long)].collect().toSet
    assert(appended === bruteDup(oldDocs ++ batch, crossDoc = true))
    val full = RunScope.scratchDir("graft_ssi")
    SubstringIndex.write((oldDocs ++ batch).toDF("doc_id", "text"),
      "doc_id", "text", full, L, nBuckets = 8)
    assert(SubstringIndex.duplicateWindows(spark, full)
      .as[(Long, Long)].collect().toSet === appended)
  }

  test("within-doc duplicates need crossDocOnly=false") {
    val idx = RunScope.scratchDir("graft_ssi")
    SubstringIndex.write(oldDocs.toDF("doc_id", "text"), "doc_id", "text",
      idx, L, nBuckets = 8)
    // doc 12 repeats "intern" internally; cross-doc probe must NOT flag
    // it, within-doc probe must
    val pc = SubstringIndex.probe(spark, idx, batch.toDF("doc_id", "text"),
      "doc_id", "text", L, nBuckets = 8)
      .as[(Long, Long)].collect().toSet
    val pa = SubstringIndex.probe(spark, idx, batch.toDF("doc_id", "text"),
      "doc_id", "text", L, nBuckets = 8, crossDocOnly = false)
      .as[(Long, Long)].collect().toSet
    val idxDupsAll = SubstringIndex.duplicateWindows(spark, idx,
      crossDocOnly = false).as[(Long, Long)].collect().toSet
    assert(pa.union(idxDupsAll) === bruteDup(oldDocs ++ batch, crossDoc = false))
    assert((pa -- pc).exists(_._1 == 12L))
  }

  test("probe after append: invariant holds against the grown index") {
    val idx = RunScope.scratchDir("graft_ssi")
    SubstringIndex.write(oldDocs.toDF("doc_id", "text"), "doc_id", "text",
      idx, L, nBuckets = 8)
    SubstringIndex.appendBatch(batch.toDF("doc_id", "text"), "doc_id", "text",
      idx, L, nBuckets = 8)
    val batch2 = Seq(
      (20L, "jumps over the lazy cat"), // collides with doc 0's grams
      (21L, "internal zzz again"))      // collides with doc 12's grams
    val got = SubstringIndex.probe(spark, idx, batch2.toDF("doc_id", "text"),
      "doc_id", "text", L, nBuckets = 8)
      .unionByName(SubstringIndex.duplicateWindows(spark, idx))
      .as[(Long, Long)].collect().toSet
    assert(got === bruteDup(oldDocs ++ batch ++ batch2, crossDoc = true))
  }

  test("batch of empty/short docs probes to nothing") {
    val idx = RunScope.scratchDir("graft_ssi")
    SubstringIndex.write(oldDocs.toDF("doc_id", "text"), "doc_id", "text",
      idx, L, nBuckets = 8)
    val empties = Seq((20L, ""), (21L, null.asInstanceOf[String]), (22L, "ab"))
    assert(SubstringIndex.probe(spark, idx, empties.toDF("doc_id", "text"),
      "doc_id", "text", L, nBuckets = 8).count() === 0L)
  }
}
