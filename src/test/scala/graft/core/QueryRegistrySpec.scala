package graft.core

import java.nio.file.{Files, Paths}

import graft.{RunScope, SparkSpec}

class QueryRegistrySpec extends SparkSpec {

  test("loads .sql + .map directories and compiles named plans (S4/S5)") {
    import spark.implicits._
    Seq((1, "ED", "alice"), (2, "SCI", "bob"), (3, "ED", "carol"))
      .toDF("pidm", "coll_code", "name")
      .createOrReplaceTempView("spriden")

    val sqlDir = Paths.get(RunScope.scratchDir("graft_sql"))
    val mapDir = Paths.get(RunScope.scratchDir("graft_map"))
    Files.writeString(
      sqlDir.resolve("candidateIds.sql"),
      "SELECT pidm, name\nFROM spriden\nWHERE coll_code = 'ED'\nORDER BY pidm")
    Files.writeString(
      mapDir.resolve("candidateIds.map"),
      "studentUniqueId=PIDM\nfullName=NAME\nmissing=NO_COL")

    val reg = QueryRegistry.load(sqlDir, mapDir)
    assert(reg.names === Seq("candidateIds"))
    // reference joins lines with spaces (SisConnectorService.java:805-810)
    assert(reg.sql("candidateIds") === "SELECT pidm, name FROM spriden WHERE coll_code = 'ED' ORDER BY pidm")

    val df = reg.compile(spark, "candidateIds")
    assert(df.columns.toSeq === Seq("studentUniqueId", "fullName", "missing"))
    val rows = df.collect()
    assert(rows.map(_.getInt(0)).toSeq === Seq(1, 3))
    assert(rows.forall(_.isNullAt(2)))
  }

  test("query without a column map compiles bare") {
    import spark.implicits._
    Seq(1, 2).toDF("x").createOrReplaceTempView("t_bare")
    val sqlDir = Paths.get(RunScope.scratchDir("graft_sql2"))
    Files.writeString(sqlDir.resolve("bare.sql"), "SELECT x FROM t_bare")
    val reg = QueryRegistry(QueryRegistry.loadSqlDir(sqlDir), Map.empty)
    assert(reg.compile(spark, "bare").count() === 2)
  }
}
