package graft.operators

import org.apache.spark.sql.functions._

import graft.{RunScope, SparkSpec, Tables}

class AnnIndexSpec extends SparkSpec {

  lazy val emb = Tables.load(spark, sf(), "embeddings").cache()
  lazy val tmp = RunScope.scratchDir("graft_ann_idx")

  test("persisted IVF index serves bit-identical results with no re-fit") {
    AnnIndex.writeIvf(emb, "vec_id", "embedding", s"$tmp/ivf",
      numCentroids = 8, kmeansIters = 3)
    val qs = emb.filter(col("vec_id") < 6)
    val fresh = SimilaritySearch.ivfTopK(emb, qs, "vec_id", "embedding",
      k = 8, numCentroids = 8, nprobe = 4, kmeansIters = 3)
    // reload path takes (spark, path, queries) only — no corpus frame, no
    // fit parameters: a driver re-fit is structurally impossible here
    val persisted = AnnIndex.ivfTopKPersisted(
      spark, s"$tmp/ivf", qs, "vec_id", "embedding", k = 8, nprobe = 4)
    assert(persisted.exceptAll(fresh).isEmpty, "persisted ⊆ fresh")
    assert(fresh.exceptAll(persisted).isEmpty, "fresh ⊆ persisted")
  }

  test("IVF assignments are cell-partitioned on disk (probe-time pruning)") {
    AnnIndex.writeIvf(emb, "vec_id", "embedding", s"$tmp/ivf2",
      numCentroids = 8, kmeansIters = 3)
    val dirs = new java.io.File(s"$tmp/ivf2/assignments")
      .listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("cell=")),
      s"expected cell= partition dirs, got ${dirs.toSeq}")
    // the model artifact is bounded: exactly numCentroids rows reload
    assert(AnnIndex.loadIvfCentroids(spark, s"$tmp/ivf2").length === 8)
  }

  test("persisted IVF probe is dynamically partition-pruned to the probed cells") {
    AnnIndex.writeIvf(emb, "vec_id", "embedding", s"$tmp/ivf3",
      numCentroids = 8, kmeansIters = 3)
    val qs = emb.filter(col("vec_id") < 4)
    val res = AnnIndex.ivfTopKPersisted(
      spark, s"$tmp/ivf3", qs, "vec_id", "embedding", k = 5, nprobe = 2)
    // the broadcast equi-join on the `cell` partition column must reach
    // the assignments scan as a DPP filter — this is what makes a
    // 1000-executor probe read nprobe/numCentroids of the index files
    // instead of the whole corpus
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"expected a dynamic partition pruning filter on the assignments scan:\n$plan")
  }

  test("appendIvf: seed + append == rebuild under the seed's centroids") {
    val seed = emb.filter(col("vec_id") % 4 =!= 0)
    val batch = emb.filter(col("vec_id") % 4 === 0)
    AnnIndex.writeIvf(seed, "vec_id", "embedding", s"$tmp/ivf_app",
      numCentroids = 8, kmeansIters = 3)
    AnnIndex.appendIvf(batch, "vec_id", "embedding", s"$tmp/ivf_app")
    // reference: index the FULL corpus under the centroids fit on the
    // seed slice only — exactly the state append must reproduce
    AnnIndex.writeIvf(emb, "vec_id", "embedding", s"$tmp/ivf_ref",
      numCentroids = 8, kmeansIters = 3, fitOn = Some(seed))
    val qs = emb.filter(col("vec_id") < 6)
    val grown = AnnIndex.ivfTopKPersisted(
      spark, s"$tmp/ivf_app", qs, "vec_id", "embedding", k = 8, nprobe = 4)
    val rebuilt = AnnIndex.ivfTopKPersisted(
      spark, s"$tmp/ivf_ref", qs, "vec_id", "embedding", k = 8, nprobe = 4)
    assert(grown.exceptAll(rebuilt).isEmpty, "grown ⊆ rebuilt")
    assert(rebuilt.exceptAll(grown).isEmpty, "rebuilt ⊆ grown")
    // batch vectors actually serve: a neighbor from the appended slice
    assert(grown.filter(col("neighbor_id") % 4 === 0).count() > 0)
  }
}
