package graft.plans

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class EntityAssemblySpec extends SparkSpec {

  lazy val assembled = EntityAssembly.assemble(spark, sf()).cache()

  test("assembles one nested entity per in-segment customer") {
    val nSegment = spark.read.parquet(s"${sf()}/customer.parquet")
      .filter(col("c_mktsegment") === EntityAssembly.segment).count()
    assert(assembled.count() === nSegment)
    assert(assembled.select("studentUniqueId").distinct().count() === nSegment)
  }

  test("nested schema: struct reference + array<struct> addresses with period arrays") {
    val schema = assembled.schema
    assert(schema("studentReference").dataType.typeName === "struct")
    val addrType = schema("addresses").dataType
    assert(addrType.typeName === "array")
    val addrStruct = addrType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(addrStruct.fieldNames.toSeq === Seq("addressId", "statusCode", "priority", "periods"))
    assert(addrStruct("periods").dataType.typeName === "array")
  }

  test("unmapped column-map field is null, descriptor URIs resolve with prefix") {
    val row = assembled.filter(size(col("addresses")) > 0).limit(1).collect()(0)
    assert(row.isNullAt(row.fieldIndex("unmappedField")))
    val uris = assembled.select("nationDescriptor").distinct().collect().map(_.getString(0))
    assert(uris.forall(_.startsWith("uri://graft/nation#")))
  }

  test("addresses are sorted by addressId and periods deduped") {
    import scala.jdk.CollectionConverters._
    val rows = assembled.filter(size(col("addresses")) > 1).limit(20).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ids = r.getList[org.apache.spark.sql.Row](r.fieldIndex("addresses"))
        .asScala.map(_.getLong(0))
      assert(ids === ids.sorted, "addresses sorted by id")
      assert(ids.distinct.size === ids.size, "one address per order")
    }
  }

  test("sync plan partitions the snapshot: deletes = snapshot minus segment keys") {
    val customer = Tables.load(spark, sf(), "customer")
    val wave = SyncRun.plan(customer, Tables.load(spark, sf(), _), SyncRun.TargetDiff(customer))
    val total = customer.count()
    assert(wave.upserts.count() + wave.deletes.count() === total)
    // no delete key is also upserted
    assert(wave.deletes.join(wave.upserts, Seq("studentUniqueId"), "inner").count() === 0)
  }

  test("json payload parses back to the entity key") {
    val parsed = EntityAssembly.assembleJson(spark, sf())
      .select(
        col("studentUniqueId"),
        get_json_object(col("payload"), "$.studentUniqueId").cast("long").as("fromJson"))
    assert(parsed.filter(col("studentUniqueId") =!= col("fromJson")).count() === 0)
  }
}
