package perfbench

import java.time.LocalDate

import graft.config.{EngineConfig, TableSpec}
import graft.ledger.Ledger
import graft.pipeline.Runner
import graft.store.{CommitMode, TableStore}
import org.apache.spark.sql.functions._

/**
 * The initial load: each operation is one `Runner.run` over a month of a
 * multi-year fact into a date-partitioned rename-mode target
 * (`CommitMode.Auto` on the local filesystem), followed by a downstream
 * reader of the month just loaded. Bound by executor scan, parquet encode
 * and write; ledger and commit work is a small share.
 *
 * Inputs (seeded): one fact spanning a seeded number of days with
 * `rowsPerDay` rows a day; months are loaded oldest first.
 */
final class Backfill(c: Ctx) extends Workload(c) {
  import Nightly.fingerprint

  private val rnd = new scala.util.Random(ctx.seed)
  val spanDays: Int = 730 + rnd.nextInt(366)
  val rowsPerDay: Int = ctx.scaled(2000)
  val monthDays = 30
  val first: LocalDate = LocalDate.of(2021, 1, 1)

  private var dir = ""
  private var target: TableStore = _
  private var ledger: Ledger = _
  private var runner: Runner = _
  private var months = 0
  private var step = 0
  private var srcBytes = 0L

  def targetRoot: String = s"$dir/target"

  private def h(salt: Int) = xxhash64(lit(ctx.seed), col("id"), lit(salt))

  def setup(d: String): Unit = {
    dir = d
    // one file per month of source, written in time order, so the window
    // scan's row-group statistics can skip the months outside the window
    spark.range(0L, spanDays.toLong * rowsPerDay, 1L, math.max(1, spanDays / monthDays))
      .select(col("id").as("event_id"),
        timestamp_seconds(lit(first.toEpochDay * 86400L) + (col("id") / rowsPerDay).cast("long") * 86400L +
          pmod(h(1), lit(86400L))).as("event_ts"),
        pmod(h(2), lit(1000000L)).as("user_id"),
        element_at(array(Seq("view", "click", "cart", "buy", "refund").map(lit): _*),
          (pmod(h(3), lit(5L)) + 1).cast("int")).as("event_type"),
        element_at(array(Seq("de", "fr", "us", "jp", "br", "in").map(lit): _*),
          (pmod(h(4), lit(6L)) + 1).cast("int")).as("country"),
        (pmod(h(5), lit(10000000L)) / 100).cast("decimal(12,2)").as("value"),
        concat_ws("/", hex(h(6)), hex(h(7))).as("payload"))
      .write.parquet(s"$d/source/events")
    srcBytes = Main.treeBytes(new java.io.File(s"$d/source"))
    val source = new TableStore(spark, s"$d/source", CommitMode.Rename)
    target = new TableStore(spark, targetRoot, CommitMode.Auto)
    ledger = new Ledger(spark, target, Main.LedgerTable)
    runner = new Runner(spark, source, target, ledger)
    months = 0
    step = 0
  }

  def inputs: Seq[(String, Any)] = Seq("days" -> spanDays, "rows_per_day" -> rowsPerDay,
    "rows" -> spanDays.toLong * rowsPerDay, "month_rows" -> monthDays.toLong * rowsPerDay,
    "source_bytes" -> srcBytes)

  def kinds: Seq[String] = Seq("month", "read")
  override def minSamples(kind: String): Int = 3
  def warmup: Seq[String] = kinds
  override def exhausted: Boolean = (months + 1) * monthDays > spanDays

  def nextKind(): String = {
    step += 1
    if (step % 2 == 1) "month" else "read"
  }

  private def window(m: Int): (LocalDate, LocalDate) =
    (first.plusDays(m.toLong * monthDays), first.plusDays(m.toLong * monthDays + monthDays - 1))

  private def config(m: Int): EngineConfig = {
    val (from, to) = window(m)
    EngineConfig("src", "tgt", None, Some(from.toString), Some(to.toString),
      Seq(TableSpec("events", "fact", Some("event_ts"), partitionByDate = true)))
  }

  def run(kind: String): OpResult = kind match {
    case "month" =>
      val (res, dur) = timed(t.span("pipeline.run")(runner.run(config(months))))
      months += 1
      val want = monthDays.toLong * rowsPerDay
      val rows = res.flatMap(_.rows).sum
      OpResult(dur, res.forall(_.ok) && rows == want, rows,
        res.filterNot(_.ok).map(_.error.toString).mkString("; ") + s" rows $rows (want $want)")
    case "read" =>
      val (from, to) = window(months - 1)
      val (r, dur) = timed(t.span("store.window_read") {
        target.readWhere("events", "load_date", java.sql.Date.valueOf(from), java.sql.Date.valueOf(to))
          .agg(count(lit(1)), sum(col("value"))).head()
      })
      val want = monthDays.toLong * rowsPerDay
      OpResult(dur, r.getLong(0) == want, r.getLong(0), s"month rows ${r.getLong(0)} (want $want)")
  }

  override def afterTraced(kind: String): Map[String, Double] = kind match {
    case "month" => Map("ledger.files" -> target.dataFileCount(Main.LedgerTable).toDouble)
    case "read" =>
      val (from, to) = window(months - 1)
      val (kept, total) = target.pruneEvidence("events", "load_date",
        java.sql.Date.valueOf(from), java.sql.Date.valueOf(to))
      Map("store.files_read" -> kept.toDouble,
        "store.pruned_share" -> (if (total == 0) 0.0 else 1.0 - kept.toDouble / total))
  }

  def checks(): Seq[Check] = {
    val last = window(months - 1)._2
    // the rename layout is plain partitioned parquet, read here without the store
    val loaded = spark.read.parquet(s"$targetRoot/events")
    val want = spark.read.parquet(s"$dir/source/events")
      .filter(to_date(col("event_ts")).between(lit(first), lit(last)))
    val (a, w) = (fingerprint(loaded.drop("load_date")), fingerprint(want))
    val misplaced = loaded.filter(col("load_date") =!= to_date(col("event_ts"))).count()
    val latest = ledger.latest.collect()
    val ledgerOk = latest.length == months && latest.forall(r =>
      r.getAs[String]("status") == "Completed" &&
        r.getAs[Long]("recordsCopied") == monthDays.toLong * rowsPerDay)
    Seq(
      Check("backfill target equals the source window", a == w && misplaced == 0,
        s"actual (rows, hash) $a, expected $w, misplaced $misplaced"),
      Check("ledger has one Completed record per month with its recordsCopied", ledgerOk,
        s"${latest.length} records for $months months"))
  }
}
