package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.{RunScope, SparkSpec}

/** Spark 4's NATIVE XML source (the upstreamed spark-xml): the format's
  * distinct semantics vs JSON are (a) arrays become REPEATED ELEMENTS,
  * (b) null fields are omitted and a schema'd read restores them, and
  * (c) an EMPTY array is indistinguishable from an absent field in the
  * markup, so it comes back NULL — a lossy corner the round-trip gate
  * (q_s6) avoids by construction (groupBy guarantees ≥1 element) and
  * this spec pins as the documented contract.
  */
class XmlRoundTripSpec extends SparkSpec {

  test("arrays write as repeated elements and a schema'd read restores them") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, Some("a"), Seq(10, 20)),
      (2L, None, Seq(30))).toDF("id", "tag", "xs")
    val tmp = RunScope.scratchDir("graft_xml_spec")
    df.coalesce(1).write.mode("overwrite")
      .format("xml").option("rowTag", "row").save(tmp)

    // repeated-element encoding: one <xs> element per array entry
    val text = Files.list(Paths.get(tmp)).iterator().asScala
      .filter(_.toString.endsWith(".xml"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .mkString("\n")
    assert(text.contains("<xs>10</xs>") && text.contains("<xs>20</xs>"))
    // null field omitted from the markup entirely
    assert(!text.split("<row>")(2).contains("<tag>"))

    val back = spark.read.schema(df.schema)
      .format("xml").option("rowTag", "row").load(tmp)
    assert(back.count() === 2)
    val r1 = back.where($"id" === 1).head()
    assert(r1.getSeq[Int](r1.fieldIndex("xs")) === Seq(10, 20))
    val r2 = back.where($"id" === 2).head()
    assert(r2.isNullAt(r2.fieldIndex("tag")))
    assert(r2.getSeq[Int](r2.fieldIndex("xs")) === Seq(30))
  }

  test("empty array is absent in markup and reads back NULL (documented loss)") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, Seq.empty[Int])).toDF("id", "xs")
    val tmp = RunScope.scratchDir("graft_xml_empty")
    df.write.mode("overwrite").format("xml").option("rowTag", "row").save(tmp)
    val back = spark.read.schema(df.schema)
      .format("xml").option("rowTag", "row").load(tmp)
    val r = back.head()
    assert(r.isNullAt(r.fieldIndex("xs")))
  }

  test("decimal and date survive the text encoding bit-exactly") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(("123456.78", "1995-03-17", 1L)).toDF("d", "dt", "id")
      .select(
        $"d".cast("decimal(15,2)").as("d"), to_date($"dt").as("dt"), $"id")
    val tmp = RunScope.scratchDir("graft_xml_num")
    df.write.mode("overwrite").format("xml").option("rowTag", "row").save(tmp)
    val back = spark.read.schema(df.schema)
      .format("xml").option("rowTag", "row").load(tmp)
    val r = back.head()
    assert(r.getDecimal(0).toString === "123456.78")
    assert(r.getDate(1).toString === "1995-03-17")
  }
}
