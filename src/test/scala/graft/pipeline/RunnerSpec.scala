package graft.pipeline

import java.nio.file.Files
import java.time.LocalDateTime

import graft.TestSpark
import graft.config.{EngineConfig, TableSpec}
import graft.ledger.Ledger
import graft.proc.SqlStepRegistry
import graft.store.TableStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RunnerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val clock = () => LocalDateTime.of(2024, 6, 1, 12, 0)

  private def setup() = {
    val src = new TableStore(spark, TestSpark.tempDir("graft-src").toString)
    val tgt = new TableStore(spark, TestSpark.tempDir("graft-tgt").toString)
    val led = new Ledger(spark, tgt, clock = clock)
    // fact table with a date column + audit columns the copy must drop
    src.atomicOverwrite("fact_sales", Seq(
      (1L, "2024-01-02 10:00:00", 10.0),
      (2L, "2024-01-05 10:00:00", 20.0),
      (3L, "2024-01-09 10:00:00", 30.0)
    ).toDF("sale_id", "sold_at", "amount")
      .withColumn("sold_at", col("sold_at").cast("timestamp_ntz"))
      .withColumn("Id", col("sale_id") * 100)
      .withColumn("insert_datetime", col("sold_at")))
    // dim
    src.atomicOverwrite("dim_color", Seq((1, "red"), (2, "blue")).toDF("color_id", "name"))
    (src, tgt, led)
  }

  private def cfg(tables: TableSpec*) = EngineConfig(
    sourceSchema = "src", targetSchema = "tgt", scheduleMode = None,
    dateFrom = Some("2024-01-05"), dateTo = Some("2024-01-09"),
    tables = tables)

  test("full run: dim truncate-reload + fact window reload, audit cols dropped, ledger Completed") {
    val (src, tgt, led) = setup()
    val runner = new Runner(spark, src, tgt, led, clock = clock)
    val results = runner.run(cfg(
      TableSpec("fact_sales", "fact", dateColumn = Some("sold_at")),
      TableSpec("dim_color", "dim"),
      TableSpec("ghost", "historical", updateDateColumn = Some("u"))))
    assert(results.forall(_.ok), results.mkString("; "))
    // dim fully reloaded
    assert(tgt.read("dim_color").count() == 2)
    // fact: target had nothing; reload publishes the window rows only (2 and 3)
    val fact = tgt.read("fact_sales")
    assert(fact.select("sale_id").as[Long].collect().toSet == Set(2L, 3L))
    assert(!fact.columns.map(_.toLowerCase).exists(Set("id", "insert_datetime")))
    // ledger: every run has a Completed record
    val led2 = led.latest.select("tableName", "status").as[(String, String)].collect().toSet
    assert(led2 == Set(("fact_sales", "Completed"), ("dim_color", "Completed")))
  }

  test("copy+update: changed keys re-copied from source (entry point C)") {
    val (src, tgt, led) = setup()
    // source with created/updated cols: key 1 created before window, updated inside
    src.atomicOverwrite("fact_upd", Seq(
      (1L, "2024-01-02 08:00:00", "2024-01-06 08:00:00", "v2"),
      (2L, "2024-01-06 08:00:00", "2024-01-06 09:00:00", "new"),
      (3L, "2024-01-01 08:00:00", "2024-01-02 08:00:00", "old")
    ).toDF("pk", "created_at", "updated_at", "payload")
      .withColumn("created_at", col("created_at").cast("timestamp_ntz"))
      .withColumn("updated_at", col("updated_at").cast("timestamp_ntz")))
    // target holds stale copies of all three
    tgt.atomicOverwrite("fact_upd", Seq(
      (1L, "2024-01-02 08:00:00", "2024-01-02 08:00:00", "v1"),
      (2L, "2024-01-06 08:00:00", "2024-01-06 08:00:00", "stale"),
      (3L, "2024-01-01 08:00:00", "2024-01-02 08:00:00", "old")
    ).toDF("pk", "created_at", "updated_at", "payload")
      .withColumn("created_at", col("created_at").cast("timestamp_ntz"))
      .withColumn("updated_at", col("updated_at").cast("timestamp_ntz")))
    val runner = new Runner(spark, src, tgt, led, clock = clock)
    val results = runner.run(cfg(TableSpec("fact_upd", "fact",
      dateColumn = Some("created_at"), updateDateColumn = Some("updated_at"),
      primaryKey = Some("pk"))))
    assert(results.forall(_.ok), results.mkString("; "))
    val after = tgt.read("fact_upd").select("pk", "payload").as[(Long, String)].collect().toMap
    assert(after(1L) == "v2")   // changed key refreshed by the update step
    assert(after(2L) == "new")  // created-in-window: refreshed by the copy step
    assert(after(3L) == "old")  // untouched
  }

  test("per-table error isolation: one bad table doesn't stop the run (O5)") {
    val (src, tgt, led) = setup()
    val runner = new Runner(spark, src, tgt, led, clock = clock)
    val results = runner.run(cfg(
      TableSpec("does_not_exist", "dim"),
      TableSpec("dim_color", "dim")))
    assert(results.count(_.ok) == 1 && results.count(!_.ok) == 1)
    assert(tgt.read("dim_color").count() == 2)
    val statuses = led.latest.select("tableName", "status").as[(String, String)].collect().toSet
    assert(statuses.contains(("does_not_exist", "Failed")))
    assert(statuses.contains(("dim_color", "Completed")))
  }

  test("sproc failure aborts the run (O1 rethrow)") {
    val (src, tgt, led) = setup()
    val steps = new SqlStepRegistry(Map("boom" -> "SELECT * FROM nonexistent_table_xyz"))
    val runner = new Runner(spark, src, tgt, led, steps, clock)
    assertThrows[Exception] {
      runner.run(cfg(TableSpec("boom", "sproc"), TableSpec("dim_color", "dim")))
    }
    // dim never ran: sprocs are phase 1 and abort everything
    assert(!tgt.exists("dim_color"))
  }

  test("a SELECT-only SQL step executes: one that raises at run time aborts the run") {
    val (src, tgt, led) = setup()
    // analyses cleanly; only executing the query raises
    val steps = new SqlStepRegistry(Map("boom" -> "SELECT raise_error('boom')"))
    val runner = new Runner(spark, src, tgt, led, steps, clock)
    val e = intercept[Exception] {
      runner.run(cfg(TableSpec("boom", "sproc"), TableSpec("dim_color", "dim")))
    }
    assert(e.toString.contains("boom"), e.toString)
    assert(!tgt.exists("dim_color"), "the dims phase must not run after a failed step")
    assert(led.latest.select("tableName", "status").as[(String, String)].collect().toSeq ==
      Seq(("boom", "Failed")))
  }

  test("per-table log files written under logs/yyyy-MM/<table>/ (S10)") {
    val (src, tgt, led) = setup()
    val logRoot = TestSpark.tempDir("graft-logs").toString
    val runner = new Runner(spark, src, tgt, led, clock = clock,
      runLogs = Some(new graft.ledger.RunLogs(logRoot, clock)))
    val results = runner.run(cfg(
      TableSpec("fact_sales", "fact", dateColumn = Some("sold_at")),
      TableSpec("dim_color", "dim")))
    assert(results.forall(_.ok), results.mkString("; "))
    // layout: <root>/yyyy-MM/<table>/<table>-<yyyyMMdd_HHmmss>.log
    val factLog = java.nio.file.Paths.get(logRoot, "2024-06", "fact_sales",
      "fact_sales-20240601_120000.log")
    val dimLog = java.nio.file.Paths.get(logRoot, "2024-06", "dim_color",
      "dim_color-20240601_120000.log")
    assert(Files.exists(factLog), s"missing $factLog")
    assert(Files.exists(dimLog), s"missing $dimLog")
    val content = Files.readString(factLog)
    assert(content.contains("Fact Copy started window=2024-01-05..2024-01-09"))
    assert(content.contains("Fact Copy completed rows=2"))
  }

  test("sproc steps wired from config SqlSteps (config → registry → run)") {
    val (src, tgt, led) = setup()
    val cfgJson =
      """{ "SourceSchema": "src", "TargetSchema": "tgt",
        |  "DateFrom": "2024-01-05", "DateTo": "2024-01-09",
        |  "Tables": [ { "table_name": "window_echo", "table_type": "sproc" },
        |              { "table_name": "dim_color", "table_type": "dim" } ],
        |  "SqlSteps": [ { "name": "window_echo",
        |    "sql": "SELECT TIMESTAMP '{start_ts}' AS s, TIMESTAMP '{end_ts}' AS e" } ] }""".stripMargin
    val path = TestSpark.tempDir("graft-cfg").resolve("cfg.json")
    Files.writeString(path, cfgJson)
    val loaded = graft.config.EngineConfig.load(spark, path.toString)
    assert(loaded.sqlSteps.keySet == Set("window_echo"))
    val runner = new Runner(spark, src, tgt, led, new SqlStepRegistry(loaded.sqlSteps), clock)
    val results = runner.run(loaded)
    assert(results.forall(_.ok), results.mkString("; "))
    val statuses = led.latest.select("tableName", "status")
      .as[(String, String)].collect().toSet
    assert(statuses.contains(("window_echo", "Completed")))
    assert(statuses.contains(("dim_color", "Completed")))
  }

  test("date-partitioned fact: reload touches only window partitions") {
    val (src, tgt, led) = setup()
    val runner = new Runner(spark, src, tgt, led, clock = clock)
    val spec = TableSpec("fact_sales", "fact", dateColumn = Some("sold_at"), partitionByDate = true)
    // first run loads window [01-05 .. 01-09] → sale 2 and 3 partitions
    runner.run(cfg(spec))
    assert(tgt.read("fact_sales").select("sale_id").as[Long].collect().toSet == Set(2L, 3L))
    // widen the window to include day 01-02: new partition appears, existing kept
    runner.run(cfg(spec).copy(dateFrom = Some("2024-01-01"), dateTo = Some("2024-01-09")))
    assert(tgt.read("fact_sales").select("sale_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    // partition dirs exist per load date
    val dirs = new java.io.File(tgt.tablePath("fact_sales")).list().filter(_.startsWith("load_date="))
    assert(dirs.toSet == Set("load_date=2024-01-02", "load_date=2024-01-05", "load_date=2024-01-09"))
  }

  test("date-partitioned copy+update: changed keys rewritten within their partitions only") {
    val (src, tgt, led) = setup()
    src.atomicOverwrite("fact_pupd", Seq(
      (1L, "2024-01-02 08:00:00", "2024-01-06 08:00:00", "v2"),   // changed (created before window)
      (2L, "2024-01-06 08:00:00", "2024-01-06 09:00:00", "new"),  // created in window
      (3L, "2024-01-01 08:00:00", "2024-01-02 08:00:00", "old")   // untouched
    ).toDF("pk", "created_at", "updated_at", "payload")
      .withColumn("created_at", col("created_at").cast("timestamp_ntz"))
      .withColumn("updated_at", col("updated_at").cast("timestamp_ntz")))
    val spec = TableSpec("fact_pupd", "fact", dateColumn = Some("created_at"),
      updateDateColumn = Some("updated_at"), primaryKey = Some("pk"), partitionByDate = true)
    // run 1 with a wide window loads everything partitioned
    val r1 = new Runner(spark, src, tgt, led, clock = clock)
      .run(cfg(spec).copy(dateFrom = Some("2024-01-01"), dateTo = Some("2024-01-09")))
    assert(r1.forall(_.ok), r1.mkString("; "))
    // modify key 1 at the source, run the update window
    src.atomicOverwrite("fact_pupd", src.read("fact_pupd")
      .withColumn("payload", when(col("pk") === 1, lit("v3")).otherwise(col("payload"))))
    val r2 = new Runner(spark, src, tgt, led, clock = clock).run(cfg(spec))
    assert(r2.forall(_.ok), r2.mkString("; "))
    val after = tgt.read("fact_pupd").select("pk", "payload").as[(Long, String)].collect().toMap
    assert(after == Map(1L -> "v3", 2L -> "new", 3L -> "old"))
    // layout still partitioned
    val dirs = new java.io.File(tgt.tablePath("fact_pupd")).list().filter(_.startsWith("load_date="))
    assert(dirs.nonEmpty)
  }

  /** Executed plans of a date-partitioned copy+update (load, then update)
    * run in a fresh session with the given broadcast threshold. */
  private def partitionedUpdatePlans(broadcastThreshold: String): Seq[String] = {
    val ns = spark.newSession()
    ns.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastThreshold)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    ns.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    })
    val src = new TableStore(ns, TestSpark.tempDir("graft-src").toString)
    val tgt = new TableStore(ns, TestSpark.tempDir("graft-tgt").toString)
    val led = new Ledger(ns, tgt, clock = clock)
    src.atomicOverwrite("fact_pupd", Seq(
      (1L, "2024-01-02 08:00:00", "2024-01-06 08:00:00", "v2"),
      (2L, "2024-01-06 08:00:00", "2024-01-06 09:00:00", "new"),
      (3L, "2024-01-01 08:00:00", "2024-01-02 08:00:00", "old")
    ).toDF("pk", "created_at", "updated_at", "payload")
      .withColumn("created_at", col("created_at").cast("timestamp_ntz"))
      .withColumn("updated_at", col("updated_at").cast("timestamp_ntz")))
    val spec = TableSpec("fact_pupd", "fact", dateColumn = Some("created_at"),
      updateDateColumn = Some("updated_at"), primaryKey = Some("pk"), partitionByDate = true)
    val r1 = new Runner(ns, src, tgt, led, clock = clock)
      .run(cfg(spec).copy(dateFrom = Some("2024-01-01"), dateTo = Some("2024-01-09")))
    assert(r1.forall(_.ok), r1.mkString("; "))
    val r2 = new Runner(ns, src, tgt, led, clock = clock).run(cfg(spec))
    assert(r2.forall(_.ok), r2.mkString("; "))
    assert(tgt.read("fact_pupd").select("pk", "payload").as[(Long, String)].collect().toMap ==
      Map(1L -> "v2", 2L -> "new", 3L -> "old"))
    TestSpark.drainListenerBus()
    import scala.jdk.CollectionConverters._
    val seen = plans.asScala.toSeq
    assert(seen.exists(_.contains("LeftAnti")), "the update's slice anti-join was not captured")
    seen
  }

  test("date-partitioned copy+update broadcasts the changed keys only by estimate") {
    // threshold off: Ops.hintIfSmall never hints, so any BroadcastExchange in
    // the run is a forced one — the shape that fails a churn-heavy window at
    // the broadcast limit instead of degrading
    val forced = partitionedUpdatePlans("-1").filter(_.contains("BroadcastExchange"))
    assert(forced.isEmpty, s"forced broadcast in the run:\n${forced.headOption.map(_.take(3000))}")
    // default threshold: the small changed-key set still broadcasts into
    // the slice anti-join
    assert(partitionedUpdatePlans("10485760").exists(p =>
      p.contains("LeftAnti") && p.contains("BroadcastExchange")))
  }

  test("copy+update spec without date_column fails with a clear config error") {
    val (src, tgt, led) = setup()
    src.atomicOverwrite("bad_upd", Seq((1L, "x")).toDF("pk", "payload"))
    val results = new Runner(spark, src, tgt, led, clock = clock).run(cfg(
      TableSpec("bad_upd", "fact", updateDateColumn = Some("u"), primaryKey = Some("pk"))))
    val updateResult = results.find(_.process == "Table Update").get
    assert(!updateResult.ok)
    assert(updateResult.error.get.getMessage.contains("requires date_column"))
  }

  test("fact without date column appends (TableCopyService.cs:121 parity)") {
    val (src, tgt, led) = setup()
    val runner = new Runner(spark, src, tgt, led, clock = clock)
    runner.run(cfg(TableSpec("dim_color", "fact"))) // no dateColumn → append path
    runner.run(cfg(TableSpec("dim_color", "fact")))
    assert(tgt.read("dim_color").count() == 4) // appended twice
  }

  test("snapshotRun pins every dispatched table's run-end state in one marker") {
    import graft.store.CommitMode
    val (src, _, _) = setup()
    val tgt = new TableStore(spark, TestSpark.tempDir("graft-tgt-ptr").toString,
      CommitMode.Pointer, keepGenerations = 3)
    val led = new Ledger(spark, tgt, clock = clock)
    val runner = new Runner(spark, src, tgt, led, clock = clock)
    val spec = Seq(
      TableSpec("fact_sales", "fact", dateColumn = Some("sold_at")),
      TableSpec("dim_color", "dim"))
    val r1 = runner.run(cfg(spec: _*), snapshotRun = true)
    assert(r1.forall(_.ok), r1.mkString("; "))
    val snap1 = tgt.snapshots().head
    assert(tgt.snapshotEntries(snap1).keySet == Set("fact_sales", "dim_color"))
    val factAtRun1 = tgt.readSnapshot(snap1, "fact_sales").select("sale_id").as[Long].collect().toSet
    val dimAtRun1 = tgt.readSnapshot(snap1, "dim_color").count()
    // the source gains a dim row; run 2 republished both tables — but the
    // run-1 snapshot keeps reading run-1's pair, bit-identically
    src.atomicOverwrite("dim_color", Seq((1, "red"), (2, "blue"), (3, "lime")).toDF("color_id", "name"))
    val r2 = runner.run(cfg(spec: _*), snapshotRun = true)
    assert(r2.forall(_.ok), r2.mkString("; "))
    val snap2 = tgt.snapshots().head
    assert(snap2 != snap1)
    assert(tgt.readSnapshot(snap1, "dim_color").count() == dimAtRun1)
    assert(tgt.readSnapshot(snap2, "dim_color").count() == dimAtRun1 + 1)
    assert(tgt.readSnapshot(snap1, "fact_sales").select("sale_id").as[Long].collect().toSet ==
      factAtRun1)
    // the ledger sink lives in the same store but is NOT part of the pinned
    // set — only dispatched tables are, so ledger appends never bloat pins
    assert(tgt.snapshotEntries(snap2).keySet == Set("fact_sales", "dim_color"))
  }
  test("pointer-mode runs write no ledger generation; one run's records share one run id") {
    import graft.store.CommitMode
    val (src, _, _) = setup()
    val tgt = new TableStore(spark, TestSpark.tempDir("graft-tgt-ledger").toString,
      CommitMode.Pointer)
    val led = new Ledger(spark, tgt, clock = clock)
    val runner = new Runner(spark, src, tgt, led, clock = clock)
    val spec = cfg(TableSpec("fact_sales", "fact", dateColumn = Some("sold_at")),
      TableSpec("dim_color", "dim"))
    def runIds(): Map[String, Seq[String]] =
      led.history.select("runId", "pipelineRunId").as[(String, String)].collect().toSeq
        .groupBy(_._1).map { case (r, ids) => r -> ids.map(_._2) }
    assert(runner.run(spec).forall(_.ok))
    val first = runIds()
    assert(runner.run(spec).forall(_.ok))
    val second = runIds() -- first.keySet
    val ids1 = first.values.flatten.toSet
    val ids2 = second.values.flatten.toSet
    assert(first.size == 2 && second.size == 2)
    assert(ids1.size == 1 && ids2.size == 1 && ids1 != ids2 && !ids1.contains(null), s"$ids1 $ids2")
    val ledgerDir = new java.io.File(tgt.tablePath("tbl_dw_copy_logs"))
    val gens = Option(ledgerDir.listFiles).toSeq.flatten.filter(_.getName.startsWith("_gen-"))
    assert(gens.isEmpty, s"ledger generations: ${gens.map(_.getName).mkString(", ")}")
  }
}
