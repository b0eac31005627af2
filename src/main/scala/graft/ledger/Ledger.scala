package graft.ledger

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, IOException}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDateTime
import java.util.concurrent.atomic.AtomicBoolean
import java.util.zip.CRC32

import scala.util.control.NonFatal

import graft.store.TableStore
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Run ledger — the analog of `bronze.tbl_dw_copy_logs`
 * (`TableCopyService.cs:57-87,206-228`; `TableUpdateService.cs:56-72,194-214`).
 *
 * The reference INSERTs an "In Progress" row, then UPDATEs Status/EndTime/
 * RecordsCopied/ErrorMessage on a fresh connection so the audit trail
 * survives the data transaction's rollback. Parquet files don't update in
 * place, so the ledger is **append-only with latest-record-wins**: starting
 * a run appends an `In Progress` record, finishing appends a second record
 * with the same `runId` and a higher `seq`; [[latest]] resolves current
 * status.
 */
final case class RunRecord(
    runId: String,
    seq: Int,
    tableName: String,
    process: String, // "Fact Copy" | "Dim Copy" | "Table Update" | "Sproc"  (TableCopyService.cs:71,78)
    status: String, // "In Progress" | "Completed" | "Failed"              (TableCopyService.cs:20,172,180)
    startTime: java.sql.Timestamp,
    endTime: Option[java.sql.Timestamp],
    startDateParam: Option[String],
    endDateParam: Option[String],
    dateColumn: Option[String],
    updateDateColumn: Option[String],
    primaryKey: Option[String],
    recordsCopied: Option[Long],
    errorMessage: Option[String],
    /** Shared by every record of one `Runner.run`; NULL on records written
      * before the field existed. */
    pipelineRunId: Option[String] = None)

/**
 * The ledger's on-disk layout, beside the store's `table`:
 *  - '''log''' `<table>.log/`: [[start]] and [[finish]] write each record
 *    as one small file `<runId>.<seq>` on the driver and close it before
 *    returning, so a record is durable before the work it describes starts
 *    (the reference's INSERT). No Spark job, generation or lock: a record
 *    costs one file create plus one listing, whatever the history. The log
 *    sits outside `tablePath(table)` because a rename-mode publish replaces
 *    the table dir.
 *  - '''fold''': once the log holds [[Ledger.FoldAt]] files, its complete
 *    records are appended to the table as ONE generation of one file
 *    (`TableStore.append`, which re-reads the manifest under the writer
 *    lock), then exactly the folded files are deleted. One Spark write job
 *    per `FoldAt` records.
 *  - '''base''': the ledger table. A table written one record per
 *    generation, before the log existed, reads as the base unchanged.
 * [[history]] and [[latest]] read the base plus the log tail. A crash
 * between a fold's commit and its deletes, or two ledgers folding one
 * tail, leaves a record in both or twice in the base; readers resolve that
 * by `(runId, seq)`, which is unique per record.
 */
final class Ledger(spark: SparkSession, store: TableStore, table: String = "tbl_dw_copy_logs",
    clock: () => LocalDateTime = () => LocalDateTime.now()) {
  import spark.implicits._
  import Ledger._

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[Ledger])

  private[ledger] val logDir = new Path(store.tablePath(table) + ".log")
  private def fs: FileSystem = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One fold at a time per instance; a thread finding one running leaves
    * its record to the next fold. */
  private val folding = new AtomicBoolean(false)

  /** Test seam: runs after a fold's commit and before its deletes — the
    * window where a crash leaves records in both base and log. Production
    * no-op. */
  private[ledger] var afterFoldCommit: () => Unit = () => ()

  private def ts(t: LocalDateTime): java.sql.Timestamp = java.sql.Timestamp.valueOf(t)

  /** Append the "In Progress" record; returns the runId used by [[finish]]. */
  def start(tableName: String, process: String, window: Option[(String, String)],
      dateColumn: Option[String] = None, updateDateColumn: Option[String] = None,
      primaryKey: Option[String] = None, pipelineRunId: Option[String] = None): RunRecord = {
    val rec = RunRecord(
      runId = java.util.UUID.randomUUID.toString, seq = 0,
      tableName = tableName, process = process, status = "In Progress",
      startTime = ts(clock()), endTime = None,
      startDateParam = window.map(_._1), endDateParam = window.map(_._2),
      dateColumn = dateColumn, updateDateColumn = updateDateColumn, primaryKey = primaryKey,
      recordsCopied = None, errorMessage = None, pipelineRunId = pipelineRunId)
    write(rec)
    rec
  }

  /** Append the completion record (Completed/Failed). Mirrors the final
    * UPDATE on a new connection (`TableCopyService.cs:206-228`). */
  def finish(run: RunRecord, status: String, recordsCopied: Option[Long],
      errorMessage: Option[String] = None): Unit =
    write(run.copy(
      seq = run.seq + 1, status = status, endTime = Some(ts(clock())),
      recordsCopied = recordsCopied, errorMessage = errorMessage))

  /** Write one record file and close it, then fold a full log. Record
    * names never collide (`(runId, seq)` is unique), so the parallel dims
    * write without a lock. A failed fold leaves the records in the log for
    * the next one; it never fails the write. */
  private def write(rec: RunRecord): Unit = {
    val out = fs.create(new Path(logDir, s"${rec.runId}.${rec.seq}"), true)
    try out.write(encode(rec)) finally out.close()
    if (logFiles().size >= FoldAt)
      try fold() catch { case NonFatal(e) =>
        log.warn(s"ledger fold into '$table' failed; its records stay in the log: $e")
      }
  }

  private def logFiles(): Seq[FileStatus] =
    try fs.listStatus(logDir).toSeq catch { case _: java.io.FileNotFoundException => Nil }

  /** Every log file with its record; `None` for a file that does not read
    * or decode (a writer killed mid-write, or one still writing). A file
    * deleted since the listing was folded and reads as nothing. */
  private def readLog(): Seq[(FileStatus, Option[RunRecord])] = logFiles().flatMap { s =>
    try {
      val in = fs.open(s.getPath)
      try Some(s -> decode(in.readAllBytes())) finally in.close()
    } catch {
      case _: java.io.FileNotFoundException => None
      case _: IOException => Some(s -> None)
    }
  }

  /** Move the log's complete records into the table as one generation of
    * one file, then delete exactly the files it folded. An undecodable file
    * stays: it may be a write in flight. */
  private[ledger] def fold(): Unit = if (folding.compareAndSet(false, true)) {
    try {
      val folded = readLog().collect { case (s, Some(r)) => (s, r) }
      if (folded.nonEmpty) {
        store.append(table, folded.map(_._2).toDF().coalesce(1))
        afterFoldCommit()
        folded.foreach { case (s, _) => fs.delete(s.getPath, false) }
      }
    } finally folding.set(false)
  }

  /** Base plus tail in [[RunRecord]]'s columns; may hold one `(runId, seq)`
    * twice (see the class doc). The tail is read BEFORE the base resolves:
    * a fold deletes a record only after committing it, so a record gone
    * from the log by then is in the base. */
  private def records: DataFrame = {
    val tail = readLog().flatMap(_._2).toDF()
    if (!store.exists(table)) tail
    else {
      // one footer names every column unless a pre-log base meets a folded one
      val plain = store.read(table)
      val base = if (plain.columns.contains("pipelineRunId")) plain else store.readEvolved(table)
      base.select(tail.schema.map(f =>
        if (base.columns.contains(f.name)) col(f.name) else lit(null).cast(f.dataType).as(f.name)): _*)
        .unionByName(tail)
    }
  }

  /** All records (audit history), each `(runId, seq)` once. */
  def history: DataFrame = records.dropDuplicates("runId", "seq")

  /** Latest record per runId — the reference's post-UPDATE row view. */
  def latest: DataFrame = {
    val w = Window.partitionBy("runId").orderBy(col("seq").desc)
    records.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }
}

object Ledger {
  /** Log files that trigger a fold, sized by the cost of reading a full
    * tail: every [[Ledger.history]]/[[Ledger.latest]] lists the log and
    * reads each file on the driver, one after another. Measured on a local
    * disk (4 cores): building the frame takes 0.02-0.03 s at 64 files and
    * 0.18 s at 1 024, and `latest` runs in 0.09-0.16 s at any tail up to
    * 256, against 0.42 s for a ledger of 36 one-row generations. At 64 a
    * full tail leaves about 0.3 s of that budget for per-file read latency,
    * about 5 ms a file, where a slower store pays per request; one fold
    * (one Spark write) per 64 records. */
  val FoldAt = 64

  private val Magic = 0x47524c31 // "GRL1"

  /** A record file: magic, the fields in [[RunRecord]] order (each nullable
    * one behind a presence flag, strings as UTF-8 bytes behind their length,
    * timestamps as the microseconds the parquet path stores), then a CRC32
    * of all of it, so a truncated file never decodes. */
  private[ledger] def encode(r: RunRecord): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    def opt[A](v: Option[A])(put: A => Unit): Unit = { out.writeBoolean(v.isDefined); v.foreach(put) }
    def str(v: Option[String]): Unit = opt(v) { s =>
      val b = s.getBytes(UTF_8); out.writeInt(b.length); out.write(b)
    }
    def time(v: Option[java.sql.Timestamp]): Unit =
      opt(v)(t => out.writeLong(DateTimeUtils.fromJavaTimestamp(t)))
    out.writeInt(Magic)
    str(Option(r.runId)); out.writeInt(r.seq); str(Option(r.tableName)); str(Option(r.process))
    str(Option(r.status)); time(Option(r.startTime)); time(r.endTime)
    str(r.startDateParam); str(r.endDateParam); str(r.dateColumn); str(r.updateDateColumn)
    str(r.primaryKey); opt(r.recordsCopied)(out.writeLong); str(r.errorMessage); str(r.pipelineRunId)
    val crc = new CRC32()
    crc.update(bytes.toByteArray)
    out.writeLong(crc.getValue)
    bytes.toByteArray
  }

  /** [[encode]]'s inverse; `None` for anything else (truncated, torn). */
  private[ledger] def decode(b: Array[Byte]): Option[RunRecord] = {
    val body = b.length - 8
    val crc = new CRC32()
    if (body < 4) return None
    crc.update(b, 0, body)
    if (java.nio.ByteBuffer.wrap(b, body, 8).getLong != crc.getValue) return None
    val in = new DataInputStream(new ByteArrayInputStream(b, 0, body))
    def opt[A](get: => A): Option[A] = if (in.readBoolean()) Some(get) else None
    def str(): Option[String] = opt {
      val a = new Array[Byte](in.readInt()); in.readFully(a); new String(a, UTF_8)
    }
    def time(): Option[java.sql.Timestamp] = opt(DateTimeUtils.toJavaTimestamp(in.readLong()))
    try Option.when(in.readInt() == Magic)(
      RunRecord(str().orNull, in.readInt(), str().orNull, str().orNull, str().orNull,
        time().orNull, time(), str(), str(), str(), str(), str(), opt(in.readLong()), str(), str()))
      .filter(_ => in.available() == 0)
    catch { case _: IOException => None }
  }
}
