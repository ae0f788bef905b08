package graft.operators

import graft.SparkSpec

class KCoreSpec extends SparkSpec {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], k: Int, maxRounds: Int = 30) =
    KCore.coreNodes(edges.toDF("a", "b"), "a", "b", k, maxRounds)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  private val k4PlusPendant =
    Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))

  test("K4 with a pendant: 2-core and 3-core are exactly the K4; 4-core is empty") {
    val expected = Map(1L -> 3, 2L -> 3, 3L -> 3, 4L -> 3)
    assert(run(k4PlusPendant, k = 2) === expected)
    assert(run(k4PlusPendant, k = 3) === expected)
    assert(run(k4PlusPendant, k = 4) === Map.empty)
  }

  test("path graph cascades to empty: each peel wave exposes new endpoints") {
    // 1-2-3-4-5: round 1 drops {1,5}, round 2 drops {2,4}, round 3 drops {3}
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(run(path, k = 2) === Map.empty)
    // 1-core of a path keeps every node, degrees as in the original path
    assert(run(path, k = 1) === Map(1L -> 1, 2L -> 2, 3L -> 2, 4L -> 2, 5L -> 1))
  }

  test("two triangles sharing a node: 2-core keeps all five, hub degree 4") {
    val bowtie = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L))
    assert(run(bowtie, k = 2) ===
      Map(1L -> 2, 2L -> 2, 3L -> 4, 4L -> 2, 5L -> 2))
  }

  test("peel is idempotent at the fixpoint: extra rounds change nothing") {
    val bowtie = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L))
    assert(run(bowtie, k = 2, maxRounds = 2) === run(bowtie, k = 2, maxRounds = 20))
  }

  test("unconverged peel throws at the round cap") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val e = intercept[IllegalStateException] { run(path, k = 2, maxRounds = 1) }
    assert(e.getMessage.contains("did not converge"))
  }
}
