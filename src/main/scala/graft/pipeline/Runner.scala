package graft.pipeline

import java.time.{LocalDate, LocalDateTime}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

import graft.config.{EngineConfig, TableSpec}
import graft.ledger.Ledger
import graft.ops.Ops
import graft.proc.SqlStepRegistry
import graft.store.TableStore
import graft.time.Windows
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.CommandResult

/** Outcome of one table's processing (per-table error isolation, O5). */
final case class TableResult(table: String, process: String, rows: Option[Long], error: Option[Throwable]) {
  def ok: Boolean = error.isEmpty
}

/**
 * Pipeline driver — the analog of `BulkCopyManager.Run`
 * (`BulkCopyManager.cs:100-197`): derive the window, classify tables, then
 * dispatch in the reference's phase order:
 *
 *  1. SQL steps (sprocs), sequential; a failure ABORTS the run (`:114-134`),
 *  2. copy+update facts: windowed reload, then incremental update, sequential (`:137-163`),
 *  3. plain facts: windowed reload (append if no date column), sequential (`:166-179`),
 *  4. dims: truncate+reload, in parallel (`Parallel.ForEach`, `:181-195`).
 *
 * Copy/update failures are caught per table and recorded in the ledger; the
 * run continues (`TableCopyService.cs:178-205`). `historical` specs are never
 * dispatched by the reference (`BulkCopyManager.cs:104` vs `:107-197`) — we
 * surface them as explicit warnings instead of silence.
 *
 * Scale posture: phases submit independent Spark jobs (dims concurrently from
 * multiple threads — the Spark scheduler interleaves them across the
 * cluster); within each table the reload/upsert is one distributed plan, so
 * parallelism is both inter-table (threads) and intra-table (partitions).
 */
final class Runner(
    spark: SparkSession,
    source: TableStore,
    target: TableStore,
    ledger: Ledger,
    steps: SqlStepRegistry = new SqlStepRegistry(Map.empty),
    clock: () => LocalDateTime = () => LocalDateTime.now(),
    /** Optional per-table log-file sink (S10, the reference's Serilog
      * `logs/yyyy-MM/<table>/` layout); None = stdout + ledger only. */
    runLogs: Option[graft.ledger.RunLogs] = None) {

  private val log = org.apache.log4j.Logger.getLogger(getClass)

  /** Dispatch the configured run. `snapshotRun = true` additionally
    * publishes a run-level [[TableStore.publishSnapshot]] on the target
    * after every phase finishes: per-table publishes stay independent
    * during the run (reference parity — the source commits per table), but
    * a downstream reader resolving through the snapshot sees ALL tables'
    * pre-run state until one atomic marker flips it to ALL tables' post-run
    * state. Requires a pointer-mode target; the snapshot id is
    * `target.snapshots().head` after the run. */
  def run(cfg: EngineConfig, snapshotRun: Boolean = false): Seq[TableResult] = {
    // validate the snapshot requirement BEFORE dispatching any work: a
    // rename-mode target would only fail inside publishSnapshot's require
    // AFTER all copies and ledger writes completed, discarding the run's
    // results over a misconfiguration that was knowable up front
    require(!snapshotRun || target.supportsSnapshots,
      "run(snapshotRun = true) requires a pointer-mode target store — rename-layout " +
        "tables keep no generation history for a run snapshot to pin")
    val window = Windows.derive(cfg.scheduleMode, clock(), Windows.ConfigWindow(cfg.dateFrom, cfg.dateTo))
    val classified = TableSpec.classify(cfg.tables)
    classified.historical.foreach(h =>
      log.warn(s"table '${h.tableName}' has type 'historical' — classified but never dispatched " +
        "(reference parity, BulkCopyManager.cs:104); skipping"))

    // every ledger record of this run carries one run-level id
    val pipelineRunId = Some(java.util.UUID.randomUUID.toString)
    val sprocResults = classified.sprocs.map(runStep(_, window, pipelineRunId)) // throws (abort-run)
    val copyUpdate = classified.copyUpdate.flatMap { spec =>
      val c = runIsolated(spec, "Fact Copy", window, pipelineRunId)(
        copyTable(spec, window, truncate = false))
      val u = runIsolated(spec, "Table Update", window, pipelineRunId)(updateTable(spec, window))
      Seq(c, u)
    }
    val facts = classified.facts.map(spec =>
      runIsolated(spec, "Fact Copy", window, pipelineRunId)(copyTable(spec, window, truncate = false)))
    implicit val ec: ExecutionContext = ExecutionContext.global
    val dims = Await.result(
      Future.traverse(classified.dims)(spec => Future(
        runIsolated(spec, "Dim Copy", window, pipelineRunId)(copyTable(spec, window, truncate = true)))),
      Duration.Inf)
    val results = sprocResults ++ copyUpdate ++ facts ++ dims
    if (snapshotRun) {
      // pin the run-end state of every dispatched table that exists in the
      // target — a table whose copy failed is pinned at its pre-run state,
      // which is exactly what its ledger row says a consumer should expect
      val tables = (classified.copyUpdate ++ classified.facts ++ classified.dims)
        .map(_.tableName).distinct.filter(target.exists)
      if (tables.nonEmpty) {
        val id = target.publishSnapshot(tables)
        log.info(s"run snapshot _run.$id pins ${tables.size} tables")
      }
    }
    results
  }

  /** Phase-1 SQL step: window may be overridden at dispatch time by the
    * midnight re-check (`BulkCopyManager.cs:116-126`). The step runs to
    * completion here: `spark.sql` executes a command (INSERT, DDL) eagerly,
    * and a query step is drained through the `noop` sink, so a SELECT-only
    * step executes too instead of only being analysed. Failures rethrow. */
  private def runStep(spec: TableSpec, window: (LocalDate, LocalDate),
      pipelineRunId: Option[String]): TableResult = {
    val (from, to) = Windows.sprocOverride(window, clock())
    val tlog = runLogs.map(_.forTable(spec.tableName))
    tlog.foreach(_.info(s"Sproc started window=$from..$to"))
    val rec = ledger.start(spec.tableName, "Sproc",
      Some((from.toString, to.toString)), pipelineRunId = pipelineRunId)
    Try {
      val df = steps.run(spark, spec.tableName, from, to)
      if (!df.queryExecution.commandExecuted.isInstanceOf[CommandResult])
        df.write.format("noop").mode("overwrite").save()
    } match {
      case Success(_) =>
        ledger.finish(rec, "Completed", None)
        tlog.foreach(_.info("Sproc completed"))
        TableResult(spec.tableName, "Sproc", None, None)
      case Failure(e) =>
        ledger.finish(rec, "Failed", None, Some(e.toString))
        tlog.foreach(_.error(s"Sproc failed: $e"))
        throw e // reference parity: sproc failure aborts the whole run
    }
  }

  private def runIsolated(spec: TableSpec, process: String, window: (LocalDate, LocalDate),
      pipelineRunId: Option[String])(body: => Long): TableResult = {
    val tlog = runLogs.map(_.forTable(spec.tableName))
    tlog.foreach(_.info(s"$process started window=${window._1}..${window._2}"))
    val rec = ledger.start(spec.tableName, process,
      Some((window._1.toString, window._2.toString)),
      spec.dateColumn, spec.updateDateColumn, spec.primaryKey, pipelineRunId)
    Try(body) match {
      case Success(rows) =>
        ledger.finish(rec, "Completed", Some(rows))
        tlog.foreach(_.info(s"$process completed rows=$rows"))
        TableResult(spec.tableName, process, Some(rows), None)
      case Failure(e) =>
        log.error(s"${spec.tableName} $process failed", e)
        ledger.finish(rec, "Failed", None, Some(e.toString))
        tlog.foreach(_.error(s"$process failed: $e"))
        TableResult(spec.tableName, process, None, Some(e))
    }
  }

  /** Entry point B analog (`TableCopyService.CopyTable`, SURVEY.md §3.2).
    * `recordsCopied` (the reference's `SqlRowsCopied` telemetry, S7) is
    * collected with an [[org.apache.spark.sql.Observation]] DURING the write
    * job — no second scan of anything. */
  private def copyTable(spec: TableSpec, window: (LocalDate, LocalDate), truncate: Boolean): Long = {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{col, count, lit, to_date}
    val src = Ops.dropAudit(source.read(spec.tableName))
    val (from, to) = window
    val obs = Observation()
    def copied(): Long = obs.get("copied").asInstanceOf[Long]
    if (truncate) {
      target.atomicOverwrite(spec.tableName,
        Ops.truncateReload(src).observe(obs, count(lit(1)).as("copied")))
      copied()
    } else spec.dateColumn match {
      case Some(dc) if spec.partitionByDate =>
        // 100 TB path: swap only the window's load_date partitions; cost is
        // proportional to the window, not the table
        val days = Iterator.iterate(from)(_.plusDays(1)).takeWhile(!_.isAfter(to)).toSeq
        val fresh = Ops.windowScan(src, dc, from, to)
          .observe(obs, count(lit(1)).as("copied"))
          .withColumn("load_date", to_date(col(dc)))
        target.overwriteDatePartitions(spec.tableName, fresh, "load_date", days)
        copied()
      case Some(dc) =>
        val tgt = if (target.exists(spec.tableName)) target.read(spec.tableName)
                  else src.limit(0)
        val fresh = Ops.dropAudit(Ops.windowScan(src, dc, from, to))
          .observe(obs, count(lit(1)).as("copied"))
        target.atomicOverwrite(spec.tableName,
          Ops.windowDelete(tgt, dc, from, to).unionByName(fresh))
        copied()
      case None =>
        // no date column → warn + pure append (TableCopyService.cs:121)
        log.warn(s"${spec.tableName}: no date_column — appending full source (reference parity)")
        target.append(spec.tableName, src.observe(obs, count(lit(1)).as("copied")))
        copied()
    }
  }

  /** Entry point C analog (`TableUpdateService.UpdateTable`, SURVEY.md §3.3).
    * For date-partitioned targets the upsert rewrites ONLY the partitions
    * holding changed keys (old locations) or receiving fresh rows (new
    * locations) — the day list is tiny metadata, collected to the driver
    * like any partition listing; row data stays distributed. */
  private def updateTable(spec: TableSpec, window: (LocalDate, LocalDate)): Long = {
    import org.apache.spark.sql.functions.{col, to_date}
    val (from, to) = window
    val pk = spec.primaryKey.get
    val dc = spec.dateColumn.getOrElse(throw new IllegalArgumentException(
      s"table '${spec.tableName}': incremental update (update_date_column + primary_key) " +
        "also requires date_column — fix the Tables config entry"))
    val uc = spec.updateDateColumn.get
    val src = source.read(spec.tableName)
    val changed = Ops.changedKeys(src, pk, dc, uc, from, to).cache()
    try {
      val n = changed.count() // recordsCopied = changed-key count (TableUpdateService.cs:163)
      if (n > 0) {
        if (spec.partitionByDate) {
          // Ops.upsert's keyed joins: the changed keys broadcast only when
          // their estimate fits the threshold (Ops.hintIfSmall) — a churn-
          // heavy window degrades to a shuffle join instead of failing at
          // the broadcast limit
          val keys = changed.select(pk).distinct()
          val tgt = target.read(spec.tableName) // carries the load_date partition column
          val fresh = Ops.dropAudit(Ops.keyedFetch(src, pk, keys))
            .withColumn("load_date", to_date(col(dc)))
          val days = Ops.keyedFetch(tgt, pk, keys).select("load_date")
            .union(fresh.select("load_date")).distinct()
            .collect().map { r =>
              Option(r.getDate(0)).getOrElse(throw new IllegalArgumentException(
                s"table '${spec.tableName}': a changed row has a NULL $dc — " +
                  "date-partitioned tables require a non-null date_column")).toLocalDate
            }.toSeq
          val slice = Ops.keyedDelete(
              tgt.filter(col("load_date").isin(days: _*)).drop("load_date"), pk, keys)
            .unionByName(fresh.drop("load_date"))
            .withColumn("load_date", to_date(col(dc)))
          target.overwriteDatePartitions(spec.tableName, slice, "load_date", days)
        } else {
          val tgt = target.read(spec.tableName)
          target.atomicOverwrite(spec.tableName, Ops.upsert(tgt, src, pk, changed))
        }
      }
      n
    } finally changed.unpersist()
  }
}
