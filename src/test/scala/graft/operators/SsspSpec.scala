package graft.operators

import graft.SparkSpec

class SsspSpec extends SparkSpec {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long, Long)], src: Long, cap: Int = 30) =
    Sssp.distances(edges.toDF("a", "b", "w"), "a", "b", "w", src, maxRounds = cap)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("many cheap hops beat one expensive edge; orientation irrelevant") {
    // 1-2-3 at weight 5 each vs the direct 1-3 at weight 20; tail 3-4
    val got = run(Seq((1L, 2L, 5L), (3L, 2L, 5L), (1L, 3L, 20L), (3L, 4L, 1L)), src = 1L)
    assert(got === Map(1L -> 0L, 2L -> 5L, 3L -> 10L, 4L -> 11L))
  }

  test("disconnected component absent; source absent from edges maps alone") {
    val got = run(Seq((1L, 2L, 3L), (8L, 9L, 1L)), src = 1L)
    assert(got === Map(1L -> 0L, 2L -> 3L))
    assert(run(Seq((5L, 6L, 1L)), src = 1L) === Map(1L -> 0L))
  }

  test("zero weights and duplicate edge rows fold into the same min") {
    val got = run(
      Seq((1L, 2L, 0L), (1L, 2L, 7L), (2L, 1L, 4L), (2L, 3L, 2L), (2L, 3L, 2L)),
      src = 1L)
    assert(got === Map(1L -> 0L, 2L -> 0L, 3L -> 2L))
  }

  test("equal-cost routes agree on one min; cycle cannot loop forever") {
    // square 1-2-3-4-1, all weight 1: node 3 via two equal 2-cost paths
    val got = run(Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 1L, 1L)), src = 1L)
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("an under-relaxed cap throws") {
    val chain = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
    val ex = intercept[IllegalStateException](run(chain, src = 1L, cap = 2))
    assert(ex.getMessage.contains("did not converge"))
  }
}
