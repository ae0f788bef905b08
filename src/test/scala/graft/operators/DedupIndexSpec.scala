package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{RunScope, SparkSpec}

class DedupIndexSpec extends SparkSpec {

  test("probe(index ∪ batch) equals full-corpus LSH pairs restricted to the batch") {
    val docs = graft.Tables.load(spark, sf(), "documents")
    val full = NearDup.minHashLshPairs(docs, "doc_id", "text")
      .where(col("id_b") >= 400)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val idx = RunScope.scratchDir("dedup_idx_spec")
    DedupIndex.write(docs.where(col("doc_id") < 400), "doc_id", "text", idx)
    val probed = DedupIndex.probe(
      spark, idx, docs.where(col("doc_id") >= 400), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probed === full)
    assert(probed.nonEmpty, "the planted near-dups must straddle the 400 boundary")
  }

  test("writeAndPairs: fused seed ≡ unfused minHashLshPairs + write, index probe-ready") {
    val docs = graft.Tables.load(spark, sf(), "documents")
    val seed = docs.where(col("doc_id") < 400)
    val rest = docs.where(col("doc_id") >= 400)
    // fused: one hash pass seeds the index AND yields the in-batch pairs
    val fusedIdx = RunScope.scratchDir("dedup_idx_fused")
    val fusedPairs = DedupIndex.writeAndPairs(seed, "doc_id", "text", fusedIdx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // unfused reference: pairs and index built in separate passes
    val refPairs = NearDup.minHashLshPairs(seed, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fusedPairs === refPairs)
    assert(fusedPairs.nonEmpty, "the seed slice must contain planted near-dups")
    // the seeded index answers probes exactly like DedupIndex.write's
    val refIdx = RunScope.scratchDir("dedup_idx_unfused")
    DedupIndex.write(seed, "doc_id", "text", refIdx)
    val viaFused = DedupIndex.probe(spark, fusedIdx, rest, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaRef = DedupIndex.probe(spark, refIdx, rest, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaFused === viaRef)
  }

  test("appendBatch folds the batch in: re-probing a later batch sees it") {
    import spark.implicits._
    val a = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val b = Seq((2L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val c = Seq((3L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val idx = RunScope.scratchDir("dedup_idx_append")
    DedupIndex.write(a, "doc_id", "text", idx)
    val first = DedupIndex.probe(spark, idx, b, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(first === Set((1L, 2L)))
    DedupIndex.appendBatch(b, "doc_id", "text", idx)
    val second = DedupIndex.probe(spark, idx, c, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(second === Set((1L, 3L), (2L, 3L)), "doc 2 is visible only after append")
  }
}
