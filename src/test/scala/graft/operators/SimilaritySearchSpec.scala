package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.functions.Vectors

class SimilaritySearchSpec extends SparkSpec {
  import spark.implicits._

  test("cosine known answers") {
    val df = Seq(
      (Seq(1f, 0f), Seq(0f, 1f), 0.0),
      (Seq(1f, 1f), Seq(1f, 1f), 1.0),
      (Seq(0f, 0f), Seq(1f, 1f), 0.0) // zero vector guarded
    ).toDF("a", "b", "want")
      .select(Vectors.cosine(col("a"), col("b")).as("got"), col("want"))
    df.collect().foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("bruteForceTopK returns exact ranked neighbors on a synthetic corpus") {
    val corpus = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)), (4L, Seq(-1f, 0f)))
      .toDF("vec_id", "embedding")
    val out = SimilaritySearch
      .bruteForceTopK(corpus, corpus.filter($"vec_id" === 1), "vec_id", "embedding", 2)
      .orderBy("rank")
      .collect()
    assert(out.map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"))).toSeq ===
      Seq((2L, 1), (3L, 2)))
  }

  test("two-phase topK equals single-window topK on real embeddings") {
    val emb = Tables.load(spark, sf(), "embeddings").repartition(7)
    val queries = emb.filter($"vec_id" < 4)
    val got = SimilaritySearch
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // naive reference: full window, no partition pre-prune
    import org.apache.spark.sql.expressions.Window
    val q = queries.select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val naive = emb.select($"vec_id".as("neighbor_id"), $"embedding".as("cv"))
      .crossJoin(q).filter($"query_id" =!= $"neighbor_id")
      .withColumn("cosine", Vectors.cosine($"qv", $"cv"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")))
      .filter($"rank" <= 5)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === naive)
  }

  test("LSH topK achieves useful recall vs brute force") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val queries = emb.filter($"vec_id" < 8)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(SimilaritySearch.bruteForceTopK(emb, queries, "vec_id", "embedding", 10))
    val lsh = pairs(SimilaritySearch.lshTopK(emb, queries, "vec_id", "embedding", 10, 16, 6))
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall@10 = $recall") // approximate by design; floor catches regressions
    info(s"SRP-LSH recall@10 vs brute force: $recall")
  }

  test("IVF topK achieves useful recall vs brute force; probing more cells helps") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val queries = emb.filter($"vec_id" < 8)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(SimilaritySearch.bruteForceTopK(emb, queries, "vec_id", "embedding", 10))
    val narrow = pairs(SimilaritySearch.ivfTopK(emb, queries, "vec_id", "embedding", 10, 16, 2))
    val wide = pairs(SimilaritySearch.ivfTopK(emb, queries, "vec_id", "embedding", 10, 16, 16))
    val rNarrow = brute.intersect(narrow).size.toDouble / brute.size
    val rWide = brute.intersect(wide).size.toDouble / brute.size
    info(s"IVF recall@10: nprobe=2 → $rNarrow, nprobe=16 (exhaustive) → $rWide")
    assert(rNarrow >= 0.2, s"narrow-probe recall floor, got $rNarrow")
    assert(rWide === 1.0, "probing every cell IS brute force")
    assert(rWide >= rNarrow)
  }

  test("PQ-ADC topK achieves useful recall vs brute force; wider re-rank helps") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val queries = emb.filter($"vec_id" < 8)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(SimilaritySearch.bruteForceTopK(emb, queries, "vec_id", "embedding", 10))
    val narrow = pairs(SimilaritySearch.pqTopK(emb, queries, "vec_id", "embedding", 10,
      m = 8, ksub = 16, rerank = 20))
    val wide = pairs(SimilaritySearch.pqTopK(emb, queries, "vec_id", "embedding", 10,
      m = 8, ksub = 16, rerank = 100))
    def recall(approx: Set[(Long, Long)]) = approx.intersect(exact).size.toDouble / exact.size
    assert(recall(narrow) >= 0.3, s"narrow re-rank recall ${recall(narrow)}")
    assert(recall(wide) >= recall(narrow))
    assert(recall(wide) >= 0.5, s"wide re-rank recall ${recall(wide)}")
  }

  test("PQ encoding is deterministic and total: every corpus row gets m codes in [0, ksub)") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val out = SimilaritySearch.pqTopK(emb, emb.filter($"vec_id" < 2), "vec_id", "embedding", 5)
    assert(out.groupBy("query_id").count().collect().forall(_.getLong(1) === 5))
  }

  test("cosinePairs finds symmetric threshold pairs") {
    val corpus = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.99f, 0.14f)), (3L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val out = SimilaritySearch.cosinePairs(corpus, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((1L, 2L)))
  }

  test("blockedCosinePairs equals the broadcast baseline exactly, any block count") {
    val emb = Tables.load(spark, sf(), "embeddings").repartition(5)
    def pset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = pset(SimilaritySearch.cosinePairs(emb, "vec_id", "embedding", 0.4))
    for (blocks <- Seq(1, 3, 8)) {
      val got = pset(SimilaritySearch.blockedCosinePairs(emb, "vec_id", "embedding", 0.4, blocks))
      assert(got === want, s"numBlocks=$blocks")
    }
  }

  test("blockedCosinePairs plan has no broadcast of the corpus side") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val plan = SimilaritySearch.blockedCosinePairs(emb, "vec_id", "embedding", 0.4, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "blocked form must not nested-loop")
  }

  test("srpPairs with exhaustive geometry equals the exact pair set; candidates verified") {
    val emb = Tables.load(spark, sf(), "embeddings")
    def pset(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pset(SimilaritySearch.cosinePairs(emb, "vec_id", "embedding", 0.45))
    val srp = pset(SimilaritySearch.srpPairs(emb, "vec_id", "embedding", 0.45,
      bandBits = 2, numBands = 64))
    assert(srp === exact)
    // narrow geometry: never false positives (exact verify), possibly missing pairs
    val narrow = pset(SimilaritySearch.srpPairs(emb, "vec_id", "embedding", 0.45,
      bandBits = 8, numBands = 4))
    assert(narrow.subsetOf(exact))
  }

  test("recallAtK: exact vs itself is 1.0; disjoint result is 0.0; absent query scores 0") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val qs = emb.filter($"vec_id" < 4)
    val exact = SimilaritySearch.bruteForceTopK(emb, qs, "vec_id", "embedding", 5)
    val self = SimilaritySearch.recallAtK(exact, exact, 5).collect()
    assert(self.length === 4 && self.forall(_.getDouble(1) === 1.0))
    val empty = exact.filter(lit(false))
    val zero = SimilaritySearch.recallAtK(exact, empty, 5).collect()
    assert(zero.length === 4 && zero.forall(_.getDouble(1) === 0.0))
  }

  test("int8 quantization: known-answer codes, zero/null safety, code range") {
    import graft.functions.Vectors
    val d = Seq(
      (1L, Some(Seq(1.0f, 0.2f, -0.4f, 0.0f))),
      (2L, Some(Seq(0.0f, 0.0f))),
      (3L, None: Option[Seq[Float]])
    ).toDF("id", "v")
    val got = d.select($"id", Vectors.int8Codes($"v").as("c")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Byte](1)))
      .toMap
    // max|x| = 1.0: 0.2·127 = 25.4 → 25; -0.4·127 = -50.8 → -51
    assert(got(1L) === Seq[Byte](127, 25, -51, 0))
    assert(got(2L) === Seq[Byte](0, 0), "all-zero vector → all-zero codes")
    assert(got(3L) === null, "null propagates")
    val emb = Tables.load(spark, sf(), "embeddings")
    val range = emb.select(explode(Vectors.int8Codes($"embedding")).as("c"))
      .agg(min("c"), max("c")).collect()(0)
    assert(range.getByte(0) >= -127 && range.getByte(1) <= 127)
  }

  test("int8TopK achieves high recall vs brute force (scale-invariant code ranking)") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val queries = emb.filter($"vec_id" < 8)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(SimilaritySearch.bruteForceTopK(emb, queries, "vec_id", "embedding", 10))
    val int8 = pairs(SimilaritySearch.int8TopK(emb, queries, "vec_id", "embedding", 10))
    val recall = brute.intersect(int8).size.toDouble / brute.size
    info(s"int8 recall@10: $recall")
    assert(recall >= 0.9, s"int8 loses <1% cosine precision; recall $recall is a broken path")
  }

  test("k-means refinement does not hurt IVF recall vs raw hash-sample centroids") {
    val emb = Tables.load(spark, sf(), "embeddings")
    val queries = emb.filter($"vec_id" < 8)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(SimilaritySearch.bruteForceTopK(emb, queries, "vec_id", "embedding", 10))
    val raw = pairs(SimilaritySearch.ivfTopK(emb, queries, "vec_id", "embedding", 10, 16, 4,
      kmeansIters = 0))
    val refined = pairs(SimilaritySearch.ivfTopK(emb, queries, "vec_id", "embedding", 10, 16, 4,
      kmeansIters = 3))
    val rRaw = brute.intersect(raw).size.toDouble / brute.size
    val rRef = brute.intersect(refined).size.toDouble / brute.size
    info(s"IVF recall@10 nprobe=4: raw centroids → $rRaw, 3 Lloyd iters → $rRef")
    assert(rRef >= rRaw - 0.1, "refinement should not materially regress recall")
  }

  test("clustered pairs are sound (subset of exact) and find co-located twins") {
    val emb = graft.Tables.load(spark, sf(), "embeddings").select("vec_id", "embedding")
    val exact = SimilaritySearch
      .blockedCosinePairs(emb, "vec_id", "embedding", 0.45, numBlocks = 4)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val clustered = SimilaritySearch
      .clusteredCosinePairs(emb, "vec_id", "embedding", 0.45,
        numCells = 8, assignProbes = 2)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clustered.subsetOf(exact),
      "exact-cosine verification must keep false positives out")
    info(s"clustered recall at 0.45: ${clustered.size}/${exact.size}")

    // multi-probe dominates single-probe (boundary pairs only ever gained)
    val single = SimilaritySearch
      .clusteredCosinePairs(emb, "vec_id", "embedding", 0.45,
        numCells = 8, assignProbes = 1)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(single.subsetOf(clustered), "probe-2 candidates contain probe-1's")
  }

  test("hardTriplets: hand-computed hardest positive/negative and violations") {
    import spark.implicits._
    val vecs = Seq(
      (1L, 0, Seq(1.0f, 0.0f)),
      (2L, 0, Seq(0.9f, 0.1f)),
      (3L, 0, Seq(0.0f, 1.0f)),
      (4L, 1, Seq(0.95f, 0.05f)),
      (5L, 1, Seq(-1.0f, 0.0f)),
      (6L, 2, Seq(0.5f, 0.5f))) // singleton label: no positive, no triplet
      .toDF("vec_id", "label", "embedding")
    val got = SimilaritySearch
      .hardTriplets(vecs, "vec_id", "embedding", "label", numBlocks = 3)
      .orderBy("anchor_id").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getDouble(3), r.getLong(4), r.getDouble(5), r.getBoolean(7))))
      .toMap
    assert(!got.contains(6L), "singleton-label anchor has no complete triplet")
    // anchor 1: hardest positive = 3 (cos 0), hardest negative = 4
    // (cos ≈ 0.9986) → violated
    val (p1, pc1, n1, nc1, v1) = got(1L)
    assert(p1 === 3L && math.abs(pc1) < 1e-12)
    assert(n1 === 4L && math.abs(nc1 - 0.95 / math.sqrt(0.905)) < 1e-9 && v1)
    // anchor 5: only positive is 4 (cos ≈ −0.9986); hardest negative = 3
    // (cos 0, beats −0.99…) → violated
    val (p5, pc5, n5, nc5, v5) = got(5L)
    assert(p5 === 4L && math.abs(pc5 - -0.95 / math.sqrt(0.905)) < 1e-9)
    assert(n5 === 3L && math.abs(nc5) < 1e-12 && v5)
  }

  test("hardTripletsInCells: one cell ≡ exact; multi-cell errors are one-sided") {
    val emb = graft.Tables.load(spark, sf(), "embeddings")
      .select("vec_id", "embedding", "label")
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3), r.getLong(4), r.getDouble(5))))
      .toMap
    val exact = keyed(SimilaritySearch.hardTriplets(emb, "vec_id", "embedding", "label"))
    val oneCell = keyed(SimilaritySearch.hardTripletsInCells(
      emb, "vec_id", "embedding", "label", numCells = 1))
    assert(oneCell === exact, "a single cell must reproduce the exact miner")
    val cells = keyed(SimilaritySearch.hardTripletsInCells(
      emb, "vec_id", "embedding", "label", numCells = 8))
    assert(cells.nonEmpty && cells.keySet.subsetOf(exact.keySet),
      "in-cell anchors need both labels in-cell → subset of exact anchors")
    cells.foreach { case (aid, (_, pc, _, nc)) =>
      val (_, pcE, _, ncE) = exact(aid)
      assert(pc >= pcE, s"anchor $aid: in-cell positive can only be easier")
      assert(nc <= ncE, s"anchor $aid: in-cell negative can only be softer")
    }
  }

  test("hardTriplets matches a window-function reference on real embeddings") {
    import org.apache.spark.sql.expressions.Window
    val emb = graft.Tables.load(spark, sf(), "embeddings")
      .select("vec_id", "embedding", "label")
    val got = SimilaritySearch
      .hardTriplets(emb, "vec_id", "embedding", "label")
      .orderBy("anchor_id").collect()
    val a = emb.select(col("vec_id").as("aid"), col("embedding").as("av"),
      col("label").as("al"))
    val b = emb.select(col("vec_id").as("bid"), col("embedding").as("bv"),
      col("label").as("bl"))
    val pairs = a.join(b, col("aid") =!= col("bid"))
      .withColumn("c", graft.functions.Vectors.cosine(col("av"), col("bv")))
    val posW = Window.partitionBy("aid").orderBy(col("c").asc, col("bid").asc)
    val negW = Window.partitionBy("aid").orderBy(col("c").desc, col("bid").asc)
    val pos = pairs.filter(col("al") === col("bl"))
      .withColumn("rn", row_number().over(posW)).filter(col("rn") === 1)
      .select(col("aid"), col("bid").as("pid"), col("c").as("pc"))
    val neg = pairs.filter(col("al") =!= col("bl"))
      .withColumn("rn", row_number().over(negW)).filter(col("rn") === 1)
      .select(col("aid"), col("bid").as("nid"), col("c").as("nc"))
    val want = pos.join(neg, "aid").orderBy("aid").collect()
    assert(got.length === want.length && got.nonEmpty)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) === w.getLong(0))
      assert(g.getLong(2) === w.getLong(1), s"pos_id for anchor ${g.getLong(0)}")
      assert(g.getLong(4) === w.getLong(3), s"neg_id for anchor ${g.getLong(0)}")
      assert(g.getDouble(3) === w.getDouble(2) && g.getDouble(5) === w.getDouble(4))
    }
  }
  test("mahalanobisOutliers: planted outlier ranks first; zero-variance dim skipped") {
    // 10 inliers near (1, 5, c) + one far outlier; dim 3 is CONSTANT
    // (zero variance) and must not divide-by-zero or contribute
    val rows = (1L to 10L).map { i =>
      (i, Seq(1f + (i % 3) * 0.1f, 5f - (i % 2) * 0.2f, 7f))
    } :+ ((99L, Seq(50f, -40f, 7f)))
    val got = SimilaritySearch.mahalanobisOutliers(
      rows.toDF("vec_id", "embedding"), "vec_id", "embedding", k = 3)
      .orderBy("rank").collect()
    assert(got.head.getLong(0) === 99L && got.head.getInt(2) === 1)
    assert(got.head.getDouble(1) > got(1).getDouble(1) * 10,
      "the planted outlier dominates the tail")
    assert(got.forall(r => !r.getDouble(1).isNaN && !r.getDouble(1).isInfinite),
      "zero-variance dim must be skipped, not divided by")
    // distances are nonnegative and ranks dense 1..k
    assert(got.map(_.getInt(2)).toSeq === Seq(1, 2, 3))
    assert(got.forall(_.getDouble(1) >= 0.0))
  }
}
