package graft.config

import java.nio.file.Files

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class ConfigSpec extends AnyFunSuite {

  test("classification mirrors BulkCopyManager.cs:100-104") {
    val specs = Seq(
      TableSpec("plain_fact", "fact", dateColumn = Some("d")),
      TableSpec("no_date_fact", "fact"),
      TableSpec("upd_fact", "fact", Some("d"), Some("u"), Some("pk")),
      TableSpec("upd_no_pk", "fact", Some("d"), Some("u"), None), // missing pk → plain
      TableSpec("a_dim", "DIM"),
      TableSpec("proc1", "sproc"),
      TableSpec("hist", "historical", updateDateColumn = Some("u")),
      TableSpec("hist_no_u", "historical")) // not even the dead list
    val c = TableSpec.classify(specs)
    assert(c.sprocs.map(_.tableName) == Seq("proc1"))
    assert(c.copyUpdate.map(_.tableName) == Seq("upd_fact"))
    assert(c.facts.map(_.tableName) == Seq("plain_fact", "no_date_fact", "upd_no_pk"))
    assert(c.dims.map(_.tableName) == Seq("a_dim"))
    assert(c.historical.map(_.tableName) == Seq("hist"))
  }

  test("EngineConfig.load parses an appsettings-shaped JSON file") {
    val json =
      """{ "SourceSchema": "stage", "TargetSchema": "bronze",
        |  "ScheduleMode": "daily", "DateFrom": "2024-01-01", "DateTo": "2024-01-05",
        |  "Tables": [
        |    { "table_name": "t1", "table_type": "fact", "date_column": "d" },
        |    { "table_name": "t2", "table_type": "dim" },
        |    { "table_name": "t3", "table_type": "fact", "date_column": "d",
        |      "update_date_column": "u", "primary_key": "pk" } ] }""".stripMargin
    val f = TestSpark.tempDir("graft-cfg").resolve("cfg.json")
    Files.writeString(f, json)
    val cfg = EngineConfig.load(TestSpark.spark, f.toString)
    assert(cfg.sourceSchema == "stage" && cfg.targetSchema == "bronze")
    assert(cfg.scheduleMode.contains("daily"))
    assert(cfg.tables.map(_.tableName) == Seq("t1", "t2", "t3"))
    assert(cfg.tables(2).primaryKey.contains("pk"))
    val c = TableSpec.classify(cfg.tables)
    assert(c.copyUpdate.map(_.tableName) == Seq("t3"))
  }

  test("GRAFT_ env vars overlay the file like Program.cs:11-16 provider order") {
    val json =
      """{ "SourceSchema": "stage", "TargetSchema": "bronze",
        |  "ScheduleMode": "daily", "DateFrom": "2024-01-01", "DateTo": "2024-01-05" }""".stripMargin
    val f = TestSpark.tempDir("graft-cfg-env").resolve("cfg.json")
    Files.writeString(f, json)
    val env = Map(
      "GRAFT_SOURCESCHEMA" -> "prod_stage", // all-caps form
      "GRAFT_ScheduleMode" -> "window",     // mixed-case form — both must hit
      "GRAFT_DateTo" -> "",                 // empty value CLEARS the optional
      "UNRELATED" -> "x", "GRAFTNOPREFIX" -> "y") // non-prefixed keys ignored
    val cfg = EngineConfig.load(TestSpark.spark, f.toString, env)
    assert(cfg.sourceSchema == "prod_stage") // env wins over file
    assert(cfg.targetSchema == "bronze")     // un-overridden file value survives
    assert(cfg.scheduleMode.contains("window"))
    assert(cfg.dateFrom.contains("2024-01-01"))
    assert(cfg.dateTo.isEmpty)               // cleared by empty env value
  }

  test("env overlay supplies a value the file omits entirely") {
    val f = TestSpark.tempDir("graft-cfg-env2").resolve("cfg.json")
    Files.writeString(f, """{ "TargetSchema": "bronze" }""")
    val cfg = EngineConfig.load(TestSpark.spark, f.toString,
      Map("GRAFT_DATEFROM" -> "2024-02-01", "GRAFT_SOURCESCHEMA" -> "s2"))
    assert(cfg.sourceSchema == "s2") // overrides the "src" default too
    assert(cfg.dateFrom.contains("2024-02-01"))
    assert(cfg.dateTo.isEmpty)
  }
}
