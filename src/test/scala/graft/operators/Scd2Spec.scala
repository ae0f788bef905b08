package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

class Scd2Spec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val feed = Seq(
    (1L, 100L, ts("2024-01-01 00:00:00"), "a"),
    (1L, 101L, ts("2024-01-02 00:00:00"), "b"),
    (1L, 102L, ts("2024-01-03 00:00:00"), "c"),
    (2L, 200L, ts("2024-01-05 00:00:00"), "x"),
    // key 3: two changes at the SAME instant — tie broken by id
    (3L, 300L, ts("2024-01-01 00:00:00"), "old"),
    (3L, 301L, ts("2024-01-01 00:00:00"), "new")
  ).toDF("k", "id", "t", "v")

  test("history: intervals chain per key, last change is current") {
    val h = Scd2.history(feed, Seq("k"), "t", "id")
      .select("id", "valid_from", "valid_to", "is_current")
      .collect().map(r => r.getLong(0) ->
        (r.getTimestamp(1), Option(r.getTimestamp(2)), r.getBoolean(3))).toMap
    assert(h(100L) === ((ts("2024-01-01 00:00:00"), Some(ts("2024-01-02 00:00:00")), false)))
    assert(h(101L) === ((ts("2024-01-02 00:00:00"), Some(ts("2024-01-03 00:00:00")), false)))
    assert(h(102L) === ((ts("2024-01-03 00:00:00"), None, true)))
    assert(h(200L) === ((ts("2024-01-05 00:00:00"), None, true)))
    // zero-length interval: earlier-by-tiebreak closes at its own instant
    assert(h(300L) === ((ts("2024-01-01 00:00:00"), Some(ts("2024-01-01 00:00:00")), false)))
    assert(h(301L) === ((ts("2024-01-01 00:00:00"), None, true)))
  }

  test("applyChanges: incremental fold equals full rebuild; late rows re-close intervals; untouched keys unchanged") {
    // batch 2 lands a LATE change for key 1 in the middle of its history
    // (2024-01-02 12:00) plus a brand-new key 4; key 2 and 3 are untouched
    val late = Seq(
      (1L, 150L, ts("2024-01-02 12:00:00"), "b2"),
      (4L, 400L, ts("2024-02-01 00:00:00"), "fresh"))
      .toDF("k", "id", "t", "v")
    val incremental = Scd2.applyChanges(
      Scd2.history(feed, Seq("k"), "t", "id"), late, Seq("k"), "t", "id")
    val full = Scd2.history(feed.unionByName(late), Seq("k"), "t", "id")
    assert(incremental.exceptAll(full).isEmpty && full.exceptAll(incremental).isEmpty)
    // the late row split key 1's (01-02 → 01-03) interval
    val k1 = incremental.filter(col("k") === 1L && col("id") === 101L)
      .select("valid_to").collect()(0).getTimestamp(0)
    assert(k1 === ts("2024-01-02 12:00:00"), "late row re-closes the interval it lands in")
  }

  test("exactly one current row per key; intervals cover without gaps") {
    val h = Scd2.history(feed, Seq("k"), "t", "id")
    val cur = h.filter(col("is_current")).groupBy("k").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cur.values.forall(_ === 1L) && cur.keySet === Set(1L, 2L, 3L))
    // every non-current interval's valid_to equals some same-key valid_from
    val gaps = h.filter(!col("is_current")).as("a")
      .join(h.as("b"),
        col("a.k") === col("b.k") && col("a.valid_to") === col("b.valid_from"),
        "left_anti")
    assert(gaps.count() === 0)
  }
}
