package graft.store

import java.sql.{Connection, DriverManager, SQLException, Timestamp}
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Production source/sink: JDBC against a real database (the reference's
 * world is SQL Server via TDS — `TableCopyService.cs` reads with a
 * streaming `SqlDataReader` and writes with `SqlBulkCopy`). In Spark the
 * same roles are `spark.read.jdbc` / `df.write.jdbc`, and the engine's
 * operators are storage-agnostic `DataFrame → DataFrame` transforms. This
 * module is NOT a drop-in for [[TableStore]]: [[graft.pipeline.Runner]] is
 * typed on `TableStore`, and `SqlStepRegistry.run` refuses `jdbc:` steps,
 * so a Runner run aborts on one. Callers drive JDBC targets directly
 * through [[overwriteWindow]], [[upsert]] and [[call]], as the `o19`–`o22`
 * gates do.
 *
 * The read/append legs and the TRANSACTIONAL write legs
 * ([[overwriteWindow]], [[upsert]], [[call]]) are all exercised against
 * embedded Derby (`JdbcSpec` + the `o19`–`o22` driver gates); SQL Server
 * itself is unreachable offline — see BASELINE.md's "SQL Server caveat"
 * for exactly what the Derby evidence does and does not prove.
 *
 *  - partitioned parallel reads replace the reference's single cursor
 *    (`TableCopyService.cs:140`): `partitionColumn/lowerBound/upperBound/
 *    numPartitions` splits the source table across executors;
 *  - `pushDownPredicate` (default on) sends the window's `BETWEEN` to the
 *    database, the analog of the reference's WHERE-in-SQL-text;
 *  - writes batch inserts per partition (`batchsize`); for SQL Server,
 *    `reliabilityLevel`/bulk-copy options come from the MS Spark connector
 *    if its jar is deployed — the call shape is identical.
 *
 * ATOMICITY UNIT of the transactional writes (the reference wraps
 * `DELETE … BETWEEN` + bulk insert in one target transaction,
 * `TableCopyService.cs:89-170`; keyed delete + reinsert likewise,
 * `TableUpdateService.cs:108-166`): `df.write.jdbc` commits per partition
 * and cannot express delete-then-insert atomically, so these writes STAGE
 * first. The frame is written distributed (parallel batched inserts) into
 * a fresh uniquely-named staging table — invisible to readers of the
 * target — and then ONE coordinator connection runs
 * `DELETE …; INSERT INTO target SELECT … FROM stage` inside a single
 * database transaction. Readers therefore see the old state or the new
 * state, never a torn window. A crash during staging leaves the target
 * untouched (only an orphaned `*_STG_*` table to sweep); a crash or error
 * between the DELETE and the COMMIT rolls back with the connection, old
 * window intact (spec-pinned in `JdbcSpec`).
 */
object Jdbc {

  final case class JdbcConfig(
      url: String,
      user: String,
      password: String,
      driver: String = "com.microsoft.sqlserver.jdbc.SQLServerDriver")

  private def props(cfg: JdbcConfig): java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("user", cfg.user)
    p.setProperty("password", cfg.password)
    p.setProperty("driver", cfg.driver)
    p
  }

  /** Parallel partitioned read of `schema.table`, split on `splitCol`
    * (typically the primary key or the date column as epoch). */
  def read(spark: SparkSession, cfg: JdbcConfig, table: String,
      splitCol: Option[(String, Long, Long, Int)] = None): DataFrame =
    splitCol match {
      case Some((colName, lower, upper, parts)) =>
        spark.read.jdbc(cfg.url, table, colName, lower, upper, parts, props(cfg))
      case None =>
        spark.read.jdbc(cfg.url, table, props(cfg))
    }

  /** Append rows (the `SqlBulkCopy` analog); `batchsize` tunes round-trips. */
  def append(df: DataFrame, cfg: JdbcConfig, table: String, batchSize: Int = 10000): Unit =
    df.write.mode("append")
      .option("batchsize", batchSize.toString)
      .jdbc(cfg.url, table, props(cfg))

  /** ANSI double-quote identifier quoting — matches how Spark's JDBC writer
    * creates columns (quoted, case preserved) on Derby and on SQL Server
    * with the default `QUOTED_IDENTIFIER ON`. Table names are passed through
    * UNQUOTED (the database folds them per its rules), same as [[read]]/
    * [[append]]; pass a pre-quoted name if yours needs quoting. */
  private def q(ident: String): String = "\"" + ident.replace("\"", "\"\"") + "\""

  private def connect(cfg: JdbcConfig): Connection = {
    Class.forName(cfg.driver)
    DriverManager.getConnection(cfg.url, cfg.user, cfg.password)
  }

  /** Run one DDL/DML statement on the target (table/procedure creation for
    * deployments that own their schema). Returns the update count. */
  def execute(cfg: JdbcConfig, sql: String): Int = {
    val conn = connect(cfg)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(sql) finally st.close()
    } finally conn.close()
  }

  /** A window bound as the java.sql.Timestamp INSTANT of its UTC
    * wall-clock. The engine's sessions pin `spark.sql.session.timeZone` to
    * UTC, so windows are UTC wall-clock; binding `Timestamp.valueOf`
    * (JVM-default-TZ wall-clock) instead would shift the DELETE window
    * against the staged rows on any JVM whose default TZ isn't UTC —
    * Spark's JDBC writer ships TimestampType as instants, and the driver
    * renders instants and these bounds through the same default-TZ path,
    * so instant-consistent binding is correct under ANY JVM TZ (review
    * fix, round 20). */
  private def utcTs(t: java.time.LocalDateTime): Timestamp =
    Timestamp.from(t.atZone(java.time.ZoneOffset.UTC).toInstant)

  /** Target-side procedure passthrough — the analog of the reference's
    * `EXEC name @StartDateParam, @EndDateParam`
    * (`StoreProcRunService.cs:16-31`): executes `CALL`/`EXEC` text on the
    * TARGET connection so downstream layers built by real stored procedures
    * still run. `sql` may carry 0 or exactly 2 `?` markers (markers inside
    * single-quoted literals don't count); with 2, the window bounds bind
    * positionally as (day start of `from`, day end of `to` = next day −
    * 3 ms — the reference's SQL Server datetime bound). Failures
    * PROPAGATE: like the reference's sproc dispatch
    * (`BulkCopyManager.cs:114-134`), a failing procedure aborts the run
    * rather than being isolated per-table. */
  def call(cfg: JdbcConfig, sql: String, from: LocalDate, to: LocalDate): Int = {
    // literal-stripped arity: a '?' inside 'text?' is not a parameter
    // marker (doubled '' quotes inside literals pair up and strip too)
    val nParams = sql.replaceAll("'[^']*'", "").count(_ == '?')
    require(nParams == 0 || nParams == 2,
      s"Jdbc.call: expected 0 or 2 '?' window parameters, found $nParams in: $sql")
    val conn = connect(cfg)
    try {
      val st = conn.prepareCall(sql)
      try {
        if (nParams == 2) {
          st.setTimestamp(1, utcTs(graft.time.Windows.dayStart(from)))
          st.setTimestamp(2, utcTs(graft.time.Windows.dayEnd(to)))
        }
        st.execute()
        st.getUpdateCount
      } finally st.close()
    } finally conn.close()
  }

  /** A5/A1 over JDBC — the reference's CORE transaction
    * (`TableCopyService.cs:89-170`): delete the target's `[from, to]` window
    * (raw-datetime BETWEEN day start .. day end − 3 ms, `:108-112`) and
    * insert `df` in its place, atomically for readers of `table` (see the
    * object doc's atomicity unit). `df` is the fresh window's rows — the
    * caller scopes it (`Ops.windowScan`); nothing forces the frame to lie
    * inside the window, matching the reference, which trusts its source
    * query. */
  def overwriteWindow(df: DataFrame, cfg: JdbcConfig, table: String, dateCol: String,
      from: LocalDate, to: LocalDate, batchSize: Int = 10000): Unit =
    stagedExchange(df, cfg, table, batchSize) { (conn, _) =>
      val del = conn.prepareStatement(
        s"DELETE FROM $table WHERE ${q(dateCol)} BETWEEN ? AND ?")
      try {
        del.setTimestamp(1, utcTs(graft.time.Windows.dayStart(from)))
        del.setTimestamp(2, utcTs(graft.time.Windows.dayEnd(to)))
        del.executeUpdate()
      } finally del.close()
    }

  /** A3+A4 over JDBC — the reference's keyed update transaction
    * (`TableUpdateService.cs:108-166`): delete every target row whose
    * `keyCols` tuple appears in `df` (the changed-key delete, `:117-128` —
    * set-based via the stage instead of 2000-literal IN batches) and insert
    * `df`'s rows in their place, atomically for readers. NULL keys in `df`
    * match no target row (EXISTS equality semantics) — they insert only. */
  def upsert(df: DataFrame, cfg: JdbcConfig, table: String, keyCols: Seq[String],
      batchSize: Int = 10000): Unit = {
    require(keyCols.nonEmpty, "Jdbc.upsert: keyCols must be non-empty")
    val missing = keyCols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"Jdbc.upsert: keyCols not in frame: ${missing.mkString(", ")}")
    stagedExchange(df, cfg, table, batchSize) { (conn, stage) =>
      val pred = keyCols.map(k => s"$stage.${q(k)} = $table.${q(k)}").mkString(" AND ")
      val st = conn.createStatement()
      try st.executeUpdate(
        s"DELETE FROM $table WHERE EXISTS (SELECT 1 FROM $stage WHERE $pred)")
      finally st.close()
    }
  }

  /** Stage `df` distributed, then run `delete(conn, stage)` + INSERT..SELECT
    * + COMMIT on one coordinator connection — the shared body of the two
    * transactional writes. The stage is dropped best-effort afterwards
    * (success or failure); a surviving `*_STG_*` table is inert garbage,
    * never the target's state. */
  private def stagedExchange(df: DataFrame, cfg: JdbcConfig, table: String,
      batchSize: Int)(delete: (Connection, String) => Unit): Unit = {
    val stage = s"${table}_STG_${java.util.UUID.randomUUID().toString.take(8).toUpperCase}"
    // distributed leg: parallel batched inserts into the fresh stage —
    // outside the transaction by design (readers can't see the stage)
    df.write.mode("overwrite")
      .option("batchsize", batchSize.toString)
      .jdbc(cfg.url, stage, props(cfg))
    val conn = connect(cfg)
    try {
      conn.setAutoCommit(false)
      try {
        delete(conn, stage)
        val cols = df.columns.map(q).mkString(", ")
        val ins = conn.createStatement()
        try ins.executeUpdate(s"INSERT INTO $table ($cols) SELECT $cols FROM $stage")
        finally ins.close()
        conn.commit()
      } catch {
        case e: Throwable =>
          try conn.rollback() catch { case s: SQLException => e.addSuppressed(s) }
          throw e
      }
    } finally {
      try {
        conn.setAutoCommit(true)
        val drop = conn.createStatement()
        try drop.executeUpdate(s"DROP TABLE $stage") finally drop.close()
      } catch { case _: SQLException => () } // orphaned stage is inert
      conn.close()
    }
  }
}
