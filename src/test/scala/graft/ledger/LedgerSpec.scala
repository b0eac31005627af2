package graft.ledger

import java.nio.file.Files
import java.sql.Timestamp
import java.time.LocalDateTime
import java.util.concurrent.atomic.AtomicInteger

import graft.TestSpark
import graft.store.{CommitMode, TableStore}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A ledger record as stored before `pipelineRunId` existed: the writer of
  * that format appended each one as its own one-row generation. */
final case class PreLogRecord(runId: String, seq: Int, tableName: String, process: String,
    status: String, startTime: Timestamp, endTime: Option[Timestamp], startDateParam: Option[String],
    endDateParam: Option[String], dateColumn: Option[String], updateDateColumn: Option[String],
    primaryKey: Option[String], recordsCopied: Option[Long], errorMessage: Option[String])

class LedgerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Table = "tbl_dw_copy_logs"
  // nanosecond clock: the stored value keeps microseconds
  private val clock = () => LocalDateTime.of(2024, 6, 1, 12, 0, 0, 123456789)

  private def pointerStore(root: String = TestSpark.tempDir("graft-ledger").toString) =
    new TableStore(spark, root, CommitMode.Pointer)

  /** `n` records as start+finish pairs (a trailing odd record is a start). */
  private def write(led: Ledger, n: Int, table: String = "t"): Unit = {
    (0 until n / 2).foreach { i =>
      val rec = led.start(table, "Dim Copy", Some(("2024-01-01", "2024-01-02")))
      led.finish(rec, "Completed", Some(i.toLong))
    }
    if (n % 2 == 1) led.start(table, "Dim Copy", None)
  }

  private def logFiles(led: Ledger): Seq[java.io.File] =
    Option(new java.io.File(led.logDir.toUri.getPath).listFiles).toSeq.flatten
      .filterNot(f => f.getName.startsWith(".")) // the local filesystem's checksum files

  test("start/finish launch no Spark job") {
    val led = new Ledger(spark, pointerStore(), Table, clock)
    val jobs = new AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      write(led, 20)
      TestSpark.drainListenerBus()
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 0, s"20 ledger records ran ${jobs.get()} Spark jobs")
    assert(led.history.count() == 20)
  }

  test("a record is in history as soon as start returns, before finish") {
    val store = pointerStore()
    val led = new Ledger(spark, store, Table, clock)
    val rec = led.start("orders", "Fact Copy", Some(("2024-01-01", "2024-01-02")), Some("ts"))
    val h = led.history.collect()
    assert(h.length == 1 && h.head.getAs[String]("status") == "In Progress" &&
      h.head.getAs[String]("runId") == rec.runId, h.mkString("; "))
    // the ledger table itself has no generation yet: the record is in the log
    assert(!store.exists(Table) && store.dataFileCount(Table) == 0)
    led.finish(rec, "Completed", Some(7L))
    assert(led.latest.select("status", "recordsCopied").as[(String, Long)].collect().toSeq ==
      Seq(("Completed", 7L)))
  }

  test("two ledgers x 4 threads past two folds: each (runId, seq) once, latest one per runId") {
    val root = TestSpark.tempDir("graft-ledger-mt").toString
    val ledgers = Seq(pointerStore(root), pointerStore(root)).map(new Ledger(spark, _, Table, clock))
    val pairsPerThread = 12
    val threads = for (led <- ledgers; t <- 0 until 4) yield new Thread(() =>
      write(led, 2 * pairsPerThread, s"t$t"))
    threads.foreach(_.start())
    threads.foreach(_.join())
    val records = 8 * 2 * pairsPerThread
    assert(records > 2 * Ledger.FoldAt)
    val store = pointerStore(root)
    assert(store.dataFileCount(Table) >= 2, "the threads' writes must cross at least two folds")
    val h = ledgers.head.history
    assert(h.count() == records)
    assert(h.groupBy("runId", "seq").count().filter(col("count") =!= 1).count() == 0)
    val latest = ledgers.last.latest
    assert(latest.count() == records / 2 && latest.filter(col("seq") =!= 1).count() == 0)
  }

  test("a fold crashed between its commit and its deletes re-runs without duplicates") {
    val store = pointerStore()
    val led = new Ledger(spark, store, Table, clock)
    write(led, Ledger.FoldAt - 1)
    val before = led.history.collect().toSet
    led.afterFoldCommit = () => throw new RuntimeException("crash after the fold's commit")
    intercept[RuntimeException](led.fold())
    led.afterFoldCommit = () => ()
    // the records are in the base AND still in the log
    assert(store.read(Table).count() == before.size && logFiles(led).size == before.size)
    assert(led.history.collect().toSet == before && led.history.count() == before.size)
    led.fold()
    assert(logFiles(led).isEmpty && store.read(Table).count() == 2 * before.size)
    assert(led.history.collect().toSet == before && led.history.count() == before.size)
    assert(led.latest.count() == before.size / 2 + 1)
  }

  test("a truncated record file is skipped, never parsed") {
    val led = new Ledger(spark, pointerStore(), Table, clock)
    write(led, 2)
    val whole = logFiles(led).head
    val bytes = Files.readAllBytes(whole.toPath)
    for (cut <- Seq(0, 3, bytes.length / 2, bytes.length - 1))
      Files.write(whole.toPath.resolveSibling(s"torn-$cut.0"), bytes.take(cut))
    assert(Ledger.decode(bytes).isDefined)
    assert((0 until bytes.length).forall(n => Ledger.decode(bytes.take(n)).isEmpty))
    assert(led.history.count() == 2 && led.latest.count() == 1)
    // a fold leaves an undecodable file in place (it may be a write in flight)
    led.fold()
    assert(led.history.count() == 2 && logFiles(led).count(_.getName.startsWith("torn-")) == 4)
  }

  test("a ledger written one row per generation reads unchanged, before and after a fold") {
    val store = pointerStore()
    val t0 = Timestamp.valueOf("2024-05-01 02:00:00.123456")
    val old = Seq(
      PreLogRecord("r1", 0, "orders", "Fact Copy", "In Progress", t0, None, Some("2024-04-30"),
        Some("2024-04-30"), Some("ts"), None, None, None, None),
      PreLogRecord("r1", 1, "orders", "Fact Copy", "Completed", t0, Some(t0), Some("2024-04-30"),
        Some("2024-04-30"), Some("ts"), None, None, Some(40L), None),
      PreLogRecord("r2", 0, "regions", "Dim Copy", "In Progress", t0, None, None, None, None, None,
        None, None, None),
      PreLogRecord("r2", 1, "regions", "Dim Copy", "Failed", t0, Some(t0), None, None, None, None,
        None, None, Some("boom")))
    old.foreach(r => store.append(Table, Seq(r).toDF()))
    val oldCols = old.toDF().columns.toSeq
    val want = old.toDF().collect().toSet
    val led = new Ledger(spark, store, Table, clock)
    def oldRows(df: DataFrame): Set[Row] =
      df.filter(col("runId").isin("r1", "r2")).select(oldCols.map(col): _*).collect().toSet
    assert(led.history.columns.toSeq == oldCols :+ "pipelineRunId")
    assert(oldRows(led.history) == want)
    assert(led.history.filter(col("pipelineRunId").isNotNull).count() == 0)
    assert(oldRows(led.latest).map(_.getAs[String]("status")) == Set("Completed", "Failed"))
    val rec = led.start("orders", "Fact Copy", None, pipelineRunId = Some("run-a"))
    led.fold()
    assert(logFiles(led).isEmpty)
    assert(oldRows(led.history) == want && led.history.count() == 5)
    assert(led.history.filter(col("runId") === rec.runId).select("pipelineRunId").as[String]
      .collect().toSeq == Seq("run-a"))
    assert(led.history.filter(col("pipelineRunId").isNull).count() == 4)
  }

  test("every field round-trips through the log and the fold, tabs, newlines and non-ASCII too") {
    val store = pointerStore()
    val led = new Ledger(spark, store, Table, clock)
    val msg = "line one\tcol\nline two é ✓"
    val rec = led.start("orders", "Table Update", Some(("2024-01-01", "2024-01-09")),
      Some("ts"), Some("uts"), Some("id"), Some("run-1"))
    led.finish(rec, "Failed", Some(3L), Some(msg))
    val fromLog = led.history.orderBy("seq").collect().toSeq
    led.fold()
    assert(logFiles(led).isEmpty && store.exists(Table))
    val fromBase = led.history.orderBy("seq").collect().toSeq
    assert(fromLog == fromBase)
    assert(led.history.schema.map(f => f.name -> f.dataType) ==
      Seq(rec).toDF().schema.map(f => f.name -> f.dataType))
    val fin = fromBase.last
    assert(fin.getAs[String]("errorMessage") == msg)
    assert(fin.getAs[Timestamp]("startTime") == Timestamp.valueOf("2024-06-01 12:00:00.123456"))
    assert(fin.getAs[Timestamp]("endTime") == Timestamp.valueOf("2024-06-01 12:00:00.123456"))
    assert(fin.getAs[String]("pipelineRunId") == "run-1" && fin.getAs[Long]("recordsCopied") == 3L)
    assert(fromBase.head.isNullAt(fromBase.head.fieldIndex("endTime")))
  }

  test("the log sits beside the table: recover, snapshots and a rename-mode fold keep it") {
    val root = TestSpark.tempDir("graft-ledger-rn").toString
    val store = new TableStore(spark, root, CommitMode.Rename)
    val led = new Ledger(spark, store, Table, clock)
    write(led, 2)
    led.fold()
    write(led, 2)
    store.recover(Table)
    assert(led.history.count() == 4 && logFiles(led).size == 2 && store.read(Table).count() == 2)
    store.compact(Table, 1) // a rename-mode rewrite replaces the table dir
    assert(led.history.count() == 4)
    val ptr = pointerStore()
    ptr.atomicOverwrite("x", Seq(1).toDF("k"))
    new Ledger(spark, ptr, Table, clock).start("x", "Dim Copy", None)
    assert(ptr.snapshots().isEmpty && ptr.dataFileCount(Table) == 0 && !ptr.exists(Table))
    ptr.publishSnapshot(Seq("x"))
    assert(ptr.snapshotEntries(ptr.snapshots().head).keySet == Set("x"))
  }
}
