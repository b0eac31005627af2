package perfbench

import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime}

import graft.config.{EngineConfig, TableSpec}
import graft.ledger.Ledger
import graft.pipeline.Runner
import graft.proc.SqlStepRegistry
import graft.store.{CommitMode, TableStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The paper's core path: one `Runner.run` per simulated day against a
 * pointer-mode (object-store protocol) target with run snapshots, followed
 * by a downstream reader of the same store. Bound by Spark job count,
 * ledger appends and commit metadata rather than data volume.
 *
 * Inputs (seeded): three facts over `preDays + horizonDays`
 * days and three dims. A seeded share of fact rows is modified one to seven
 * days after it was created (late updates, picked up by the changed-key
 * upsert, also for rows created before the first night), and customer keys
 * follow a seeded power-law skew. The target starts empty and the first
 * night is an untimed warm-up, so a timed night runs in a warm JVM onto a
 * target and ledger that already hold a night's history.
 */
final class Nightly(c: Ctx) extends Workload(c) {
  import Nightly._

  private val rnd = new scala.util.Random(ctx.seed)
  val lateShare: Double = 0.03 + 0.07 * rnd.nextDouble()
  val skew: Double = 1.5 + 2.5 * rnd.nextDouble()
  val ordersPerDay: Int = ctx.scaled(400)
  val paymentsPerDay: Int = ctx.scaled(300)
  val clicksPerDay: Int = ctx.scaled(1500)
  val customers: Int = ctx.scaled(2000)
  val products: Int = ctx.scaled(500)
  val regions = 20
  val preDays = 10
  val horizonDays = 60
  val totalDays: Int = preDays + horizonDays
  val day0: LocalDate = Base.minusDays(preDays)
  val firstNight: LocalDate = Base

  private var dir = ""
  private var source: TableStore = _
  private var target: TableStore = _
  private var ledger: Ledger = _
  private var runner: Runner = _
  private var now: LocalDateTime = _
  private var nights = 0
  private var lastDay: LocalDate = _
  private var step = 0
  private var srcBytes = 0L

  def targetRoot: String = s"$dir/target"
  def stepDir: String = s"$dir/steps/daily_cust_stats"

  private def h(salt: Int, k: String = "id") = xxhash64(lit(ctx.seed), col(k), lit(salt))
  private def u(salt: Int, k: String = "id") = pmod(h(salt, k), lit(1000000L)).cast("double") / 1e6

  /** A fact keyed by `id`, `perDay` rows a day, with seconds-precision
    * timestamps (the window bounds end at 23:59:59.997) and late updates. */
  private def fact(perDay: Int, saltBase: Int): DataFrame =
    spark.range(0L, totalDays.toLong * perDay, 1L, math.max(1, totalDays / 20))
      .withColumn("day", (col("id") / perDay).cast("long"))
      .withColumn("ts", timestamp_seconds(lit(day0.toEpochDay * 86400L) + col("day") * 86400L +
        pmod(h(saltBase), lit(86400L))))
      // a late row is modified 1-7 days after the day it was created
      .withColumn("uts", when(u(saltBase + 1) < lateShare, timestamp_seconds(
        lit(day0.toEpochDay * 86400L) + (col("day") + pmod(h(saltBase + 2), lit(7L)) + 1) * 86400L +
          pmod(h(saltBase + 3), lit(86400L)))).otherwise(col("ts")))
      .withColumn("cust_key", floor(pow(u(saltBase + 4), lit(skew)) * customers).cast("int"))

  def setup(d: String): Unit = {
    dir = d
    val src = s"$d/source"
    fact(ordersPerDay, 10).select(col("id").as("order_id"), col("ts").as("order_ts"),
      col("uts").as("updated_ts"), col("cust_key"),
      (pmod(h(20), lit(100000L)) / 100).cast("decimal(12,2)").as("amount"),
      element_at(array(lit("new"), lit("paid"), lit("shipped")), (pmod(h(21), lit(3L)) + 1).cast("int")).as("status"),
      col("ts").as("insert_datetime"))
      .write.parquet(s"$src/orders")
    fact(paymentsPerDay, 30).select(col("id").as("pay_id"), col("ts").as("pay_ts"),
      col("uts").as("updated_ts"), pmod(h(40), lit(totalDays.toLong * ordersPerDay)).as("order_id"),
      (pmod(h(41), lit(50000L)) / 100).cast("decimal(12,2)").as("amount"),
      element_at(array(lit("card"), lit("wire"), lit("cash")), (pmod(h(42), lit(3L)) + 1).cast("int")).as("method"))
      .write.parquet(s"$src/payments")
    fact(clicksPerDay, 50).select(col("ts").as("click_ts"), col("cust_key"),
      concat(lit("s"), hex(h(60))).as("session_id"), pmod(h(61), lit(5000L)).cast("int").as("url_id"))
      .write.parquet(s"$src/clicks")
    spark.range(customers).select(col("id").cast("int").as("cust_key"),
      concat(lit("customer-"), col("id")).as("name"), pmod(h(70), lit(regions.toLong)).cast("int").as("region_id"),
      element_at(array(lit("gold"), lit("silver"), lit("bronze")), (pmod(h(71), lit(3L)) + 1).cast("int")).as("tier"))
      .write.parquet(s"$src/customers")
    spark.range(products).select(col("id").cast("int").as("product_id"),
      concat(lit("product-"), col("id")).as("name"), (pmod(h(80), lit(100000L)) / 100).cast("decimal(12,2)").as("price"))
      .write.parquet(s"$src/products")
    spark.range(regions).select(col("id").cast("int").as("region_id"), concat(lit("region-"), col("id")).as("name"))
      .write.parquet(s"$src/regions")
    srcBytes = Main.treeBytes(new java.io.File(src))

    source = new TableStore(spark, src, CommitMode.Rename)
    source.read("orders").createOrReplaceTempView("src_orders")
    target = new TableStore(spark, targetRoot, CommitMode.Pointer, statsColumns = Seq("order_ts"))
    ledger = new Ledger(spark, target, Main.LedgerTable)
    runner = new Runner(spark, source, target, ledger, new SqlStepRegistry(config.sqlSteps), () => now)
    nights = 0
    step = 0
    expected = None
  }

  def config: EngineConfig = EngineConfig("src", "tgt", Some("daily"), None, None, Seq(
    TableSpec("daily_cust_stats", "sproc"),
    TableSpec("orders", "fact", Some("order_ts"), Some("updated_ts"), Some("order_id"), partitionByDate = true),
    TableSpec("payments", "fact", Some("pay_ts"), Some("updated_ts"), Some("pay_id")),
    TableSpec("clicks", "fact", Some("click_ts"), partitionByDate = true),
    TableSpec("customers", "dim"), TableSpec("products", "dim"), TableSpec("regions", "dim")),
    // an eager write statement: Runner discards the frame a step returns,
    // so a SELECT-only step would be analysed and never executed
    Map("daily_cust_stats" -> (s"INSERT OVERWRITE DIRECTORY '$stepDir' USING parquet " +
      "SELECT CAST(order_ts AS DATE) AS day, cust_key, COUNT(*) AS n_orders, SUM(amount) AS amount " +
      "FROM src_orders WHERE order_ts BETWEEN TIMESTAMP '{start_ts}' AND TIMESTAMP '{end_ts}' " +
      "GROUP BY CAST(order_ts AS DATE), cust_key")))

  def inputs: Seq[(String, Any)] = Seq(
    "days" -> totalDays, "late_share" -> lateShare, "key_skew" -> skew,
    "orders_rows" -> totalDays.toLong * ordersPerDay, "payments_rows" -> totalDays.toLong * paymentsPerDay,
    "clicks_rows" -> totalDays.toLong * clicksPerDay, "dim_rows" -> (customers + products + regions),
    "source_bytes" -> srcBytes)

  def kinds: Seq[String] = Seq("night", "read")
  // reads get faster over their first few calls (JIT), so five untimed
  // ones put the timed reads' median on the plateau
  def warmup: Seq[String] = "night" +: Seq.fill(5)("read")
  override def exhausted: Boolean = nights >= horizonDays

  override def minSamples(kind: String): Int = if (kind == "read") ReadsPerNight else 1

  def nextKind(): String = {
    step += 1
    if (step % (ReadsPerNight + 1) == 1) "night" else "read"
  }

  // --- expected values, computed once from the generated source with plain SQL
  private var expected: Option[Expected] = None
  private def exp: Expected = expected.getOrElse {
    def rd(t: String) = spark.read.parquet(s"$dir/source/$t")
    def byDay(t: String, c: String): Map[(String, LocalDate), Long] =
      rd(t).groupBy(to_date(col(c)).as("d")).count().collect()
        .map(r => (t, r.getDate(0).toLocalDate) -> r.getLong(1)).toMap
    def changed(t: String, dc: String): Map[(String, LocalDate), Long] =
      rd(t).filter(to_date(col("updated_ts")) =!= to_date(col(dc)))
        .groupBy(to_date(col("updated_ts")).as("d")).count().collect()
        .map(r => (t, r.getDate(0).toLocalDate) -> r.getLong(1)).toMap
    val e = Expected(byDay("orders", "order_ts") ++ byDay("payments", "pay_ts") ++ byDay("clicks", "click_ts"),
      changed("orders", "order_ts") ++ changed("payments", "pay_ts"),
      Map("customers" -> customers.toLong, "products" -> products.toLong, "regions" -> regions.toLong))
    expected = Some(e)
    e
  }

  private def expectedRows(day: LocalDate): Map[(String, String), Option[Long]] = {
    val e = exp
    Map(("daily_cust_stats", "Sproc") -> None) ++
      Seq("orders", "payments", "clicks").map(t =>
        (t, "Fact Copy") -> Some(e.perDay.getOrElse((t, day), 0L))) ++
      Seq("orders", "payments").map(t => (t, "Table Update") -> Some(e.changed.getOrElse((t, day), 0L))) ++
      e.dims.map { case (t, n) => (t, "Dim Copy") -> Some(n) }
  }

  def run(kind: String): OpResult = kind match {
    case "night" =>
      val day = firstNight.plusDays(nights)
      now = day.plusDays(1).atTime(2, 0)
      val (res, dur) = timed(t.span("pipeline.run")(runner.run(config, snapshotRun = true)))
      nights += 1
      lastDay = day
      val want = expectedRows(day)
      val got = res.map(r => (r.table, r.process) -> r.rows).toMap
      val bad = res.filterNot(_.ok).map(r => s"${r.table}/${r.process}: ${r.error}") ++
        want.collect { case (k, v) if got.get(k) != Some(v) => s"$k rows ${got.get(k)} != $v" }
      OpResult(dur, bad.isEmpty, res.flatMap(_.rows).sum, bad.mkString("; "),
        Map("ops.changed_keys" -> res.filter(_.process == "Table Update").flatMap(_.rows).sum.toDouble))
    case "read" =>
      val (lo, hi) = readWindow
      val ((n, latest), dur) = timed {
        val n = t.span("store.snapshot_read") {
          val id = target.snapshots().head
          target.readSnapshotWhere(id, "orders", Seq(("order_ts", lo, hi))).count()
        }
        val latest = t.span("ledger.latest") {
          ledger.latest.filter(col("startDateParam") === lastDay.toString).collect()
        }
        (n, latest)
      }
      val want = readDays.map(d => exp.perDay.getOrElse(("orders", d), 0L)).sum
      val okLatest = latest.length == expectedRows(lastDay).size &&
        latest.forall(_.getAs[String]("status") == "Completed")
      OpResult(dur, n == want && okLatest, n,
        s"window rows $n (want $want), ledger records ${latest.length} for $lastDay")
  }

  /** The reader's week, within the nights run so far. */
  private def readDays: Seq[LocalDate] = (0 to 6).map(lastDay.minusDays(_)).filterNot(_.isBefore(firstNight))

  private def readWindow: (Timestamp, Timestamp) =
    (Timestamp.valueOf(readDays.last.atStartOfDay),
      Timestamp.valueOf(lastDay.plusDays(1).atStartOfDay.minusNanos(1000000L)))

  override def afterTraced(kind: String): Map[String, Double] = kind match {
    case "night" =>
      // the dim phase as the ledger saw it: first dim start to last dim end
      val dims = ledger.history.filter(col("process") === "Dim Copy" &&
        col("startDateParam") === lastDay.toString)
        .agg(min(col("startTime")), max(col("endTime"))).head()
      if (!dims.isNullAt(0) && !dims.isNullAt(1))
        t.record("pipeline.dims", dims.getTimestamp(0).getTime.toDouble,
          dims.getTimestamp(1).getTime.toDouble, "pipeline.run")
      Map("ledger.files" -> target.dataFileCount(Main.LedgerTable).toDouble)
    case "read" =>
      val (lo, hi) = readWindow
      val (kept, total) = target.pruneEvidence("orders", Seq(("order_ts", lo, hi)))
      Map("store.files_read" -> kept.toDouble,
        "store.pruned_share" -> (if (total == 0) 0.0 else 1.0 - kept.toDouble / total))
  }

  def checks(): Seq[Check] = {
    val processed = (d: org.apache.spark.sql.Column) => d.between(lit(firstNight), lit(lastDay))
    def rd(t: String) = spark.read.parquet(s"$dir/source/$t")
    def same(name: String, actual: DataFrame, want: DataFrame): Check = {
      val (a, w) = (fingerprint(actual), fingerprint(want))
      Check(name, a == w, s"actual (rows, hash) $a, expected $w")
    }
    val orders = target.read("orders")
    val clicks = target.read("clicks")
    val tables = Seq(
      same("orders equals window reload + changed-key upsert", orders.drop("load_date"),
        rd("orders").drop("insert_datetime")
          .filter(processed(to_date(col("order_ts"))) || processed(to_date(col("updated_ts"))))),
      same("payments equals window reload + changed-key upsert", target.read("payments"),
        rd("payments").filter(processed(to_date(col("pay_ts"))) || processed(to_date(col("updated_ts"))))),
      same("clicks equals window reload", clicks.drop("load_date"), rd("clicks").filter(processed(to_date(col("click_ts"))))),
      Check("date partitions hold their own days",
        orders.filter(col("load_date") =!= to_date(col("order_ts"))).count() +
          clicks.filter(col("load_date") =!= to_date(col("click_ts"))).count() == 0, "")) ++
      Seq("customers", "products", "regions").map(d => same(s"$d equals dim reload", target.read(d), rd(d)))

    // one Completed record per dispatched table-process of every night
    val latest = ledger.latest.collect()
    val nightDays = (0 until nights).map(firstNight.plusDays(_))
    val got = latest.groupBy(r => (r.getAs[String]("tableName"), r.getAs[String]("process"),
      r.getAs[String]("startDateParam")))
    val ledgerBad = nightDays.flatMap { d =>
      expectedRows(d).toSeq.flatMap { case ((tbl, proc), rows) =>
        got.getOrElse((tbl, proc, d.toString), Array.empty) match {
          case Array(r) if r.getAs[String]("status") == "Completed" &&
              Option(r.getAs[Any]("recordsCopied")).map(_.asInstanceOf[Long]) == rows => None
          case rs => Some(s"$d $tbl/$proc: ${rs.map(_.toString).mkString(",")}")
        }
      }
    }
    val notCompleted = latest.count(_.getAs[String]("status") != "Completed")

    // the newest run snapshot pins every dispatched table
    val markers = Option(new java.io.File(targetRoot).listFiles).toSeq.flatten
      .filter(_.getName.startsWith("_run.")).sortBy(_.getName.stripPrefix("_run.").toLong)
    val pinned = markers.lastOption.toSeq.flatMap { f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines().drop(1).map(_.split("\t")(0)).toSeq
    }.toSet
    val wantPinned = Set("orders", "payments", "clicks", "customers", "products", "regions")

    // the SQL step is an eager write: its output holds the last night's groups
    val stepRows = spark.read.parquet(stepDir).count()
    val wantStep = rd("orders").filter(to_date(col("order_ts")) === lit(lastDay))
      .select("cust_key").distinct().count()

    tables ++ Seq(
      Check("ledger has one Completed record per table-process with its recordsCopied",
        ledgerBad.isEmpty && notCompleted == 0, (ledgerBad.take(5) :+ s"not completed: $notCompleted").mkString("; ")),
      Check("run snapshot pins every table", pinned == wantPinned, s"pinned $pinned"),
      Check("SQL step wrote the night's groups", stepRows > 0 && stepRows == wantStep,
        s"rows $stepRows, expected $wantStep"))
  }
}

object Nightly {
  val Base: LocalDate = LocalDate.of(2024, 1, 1)
  /** Downstream readers served after each night. */
  val ReadsPerNight = 10

  /** Per-day source counts the checks compare against. */
  final case class Expected(perDay: Map[(String, LocalDate), Long],
      changed: Map[(String, LocalDate), Long], dims: Map[String, Long])

  /** (rows, order-independent content hash) of a frame, columns by name. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.toSeq.map(col)
    val r = df.select(pmod(xxhash64(cols: _*), lit(1000000007L)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}
