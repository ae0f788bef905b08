package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.{RunScope, SparkSpec}

class JsonRoundTripSpec extends SparkSpec {

  test("JSONL write omits null fields; schema'd read restores them") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, Some("a"), Seq(1, 2)),
      (2L, None, Seq.empty[Int])).toDF("id", "tag", "xs")
    val tmp = RunScope.scratchDir("graft_json_spec")
    df.coalesce(1).write.mode("overwrite").json(tmp)

    // the writer drops the null field from the line entirely
    val lines = Files.list(Paths.get(tmp)).iterator().asScala
      .filter(_.toString.endsWith(".json"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .toSeq
    assert(lines.size === 2)
    val line2 = lines.find(_.contains("\"id\":2")).get
    assert(!line2.contains("tag"), s"null field must be omitted: $line2")

    // a schema'd read restores the omitted field as NULL
    val back = spark.read.schema(df.schema).json(tmp)
    val row2 = back.where($"id" === 2).head()
    assert(row2.isNullAt(row2.fieldIndex("tag")))
    assert(back.count() === 2)
  }

  test("millisecond timestamps survive the JSONL text encoding") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(("1995-03-17 12:34:56.789", 1L)).toDF("s", "id")
      .select(to_timestamp($"s").as("ts"), $"id")
    val tmp = RunScope.scratchDir("graft_json_ts")
    df.write.mode("overwrite").json(tmp)
    val back = spark.read.schema(df.schema).json(tmp)
    assert(back.head().getTimestamp(0) === df.head().getTimestamp(0))
  }
}
