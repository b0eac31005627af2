package graft
package gates

import graft.Queries._
import graft.ops.Ops
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The copy/sync core and its storage layer: scans, predicates and
 * projections, changed-key joins and keyed writes, the windowed and truncate
 * reloads, the SQL-step (sproc) path, the Runner end to end, the TableStore
 * read paths (time travel, pruning, snapshots, diffs, change feed), exports
 * and the JDBC transactions (`o*`, `s*`, `p*`, `j*`, `a*`, `asof_*`).
 */
object StoreGates {

  private val liStartLit = "TIMESTAMP '1998-01-01 00:00:00.000'"
  private val liEndLit = "TIMESTAMP '1998-01-07 23:59:59.997'"
  private val evStartLit = "TIMESTAMP '2024-01-05 00:00:00.000'"
  private val evEndLit = "TIMESTAMP '2024-01-09 23:59:59.997'"

  /** events + deterministic synthetic `update_ts` (no update-date column in
    * the fixtures — FIXTURES.md): `ts + (event_id % 7) days`. */
  private def eventsWithUpdateTs(s: SparkSession, d: String): DataFrame =
    events(s, d).withColumn("update_ts",
      expr("ts + make_dt_interval(cast(event_id % 7 as int), 0, 0, 0)"))

  private val evCte =
    """WITH ev AS (SELECT event_id, ts, ts + (event_id % 7) * INTERVAL 1 DAY AS update_ts FROM events)"""
  private val changedKeysSql =
    """SELECT event_id FROM ev
      | WHERE CAST(update_ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-09'
      |   AND event_id NOT IN (SELECT event_id FROM ev
      |                         WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-09')""".stripMargin

  /** events bounded to a CONSTANT slice (a gate must not grow with SF) with
    * `ts` cast to session-TZ timestamp for the JDBC leg — value-identity
    * under the UTC session; gate outputs re-cast to `timestamp_ntz` (the o1
    * convention) so the driver compare sees the fixture's type. */
  private def evJdbcBase(s: SparkSession, d: String): DataFrame =
    events(s, d).filter(col("event_id") <= 2000)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))

  /** Run `body` against a FRESH embedded-Derby database under the shared
    * JVM-wide gate home ([[derbyGateHome]]), materialize the resulting
    * frame as a local relation, then shut the database down and delete its
    * directory — embedded Derby otherwise keeps every booted db's page
    * cache + threads alive for the JVM's life, and a runs>=3 marathon must
    * not accumulate live databases or page files (r18/r19 review fixes,
    * factored out of o19 when o20–o22 joined). The PRODUCTION path stays
    * distributed — Jdbc.read returns the partitioned frame and never
    * collects; the bounded collect here exists for the shutdown ordering. */
  private def withDerbyGate(s: SparkSession)(
      body: graft.store.Jdbc.JdbcConfig => DataFrame): DataFrame = {
    val home = derbyGateHome
    val db = s"db-${java.util.UUID.randomUUID().toString.take(8)}"
    val cfg = graft.store.Jdbc.JdbcConfig(
      url = s"jdbc:derby:$home/$db;create=true",
      user = "graft", password = "", // ignored by embedded Derby
      driver = "org.apache.derby.jdbc.EmbeddedDriver")
    // shutdown + delete run in a FINALLY: a failing gate body must not leak
    // a live booted database (page cache + threads) or its page files into
    // the shared JVM — under runs>=3 a repeatedly-failing gate would
    // otherwise accumulate three of them, the exact r18 failure mode this
    // helper exists to prevent (r20 review fix: the old inline o19 body
    // only cleaned up on success).
    try {
      val rows = body(cfg)
      s.createDataFrame(rows.collectAsList(), rows.schema)
    } finally {
      try java.sql.DriverManager.getConnection(s"jdbc:derby:$home/$db;shutdown=true")
      catch { case _: java.sql.SQLException => () } // 08006 = clean shutdown
      // delete the shut-down DATABASE dir; the shared home stays (it is
      // derby.system.home — Derby wants it alive for derby.log). Traversal
      // errors arrive as UncheckedIOException and must not fail a gate
      // whose work already succeeded (r19 review fix).
      try {
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        val walk = Files.walk(home.resolve(db))
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach((p: Path) => { Files.deleteIfExists(p); () })
        finally walk.close()
      } catch {
        case _: java.io.IOException | _: java.io.UncheckedIOException => ()
      }
    }
  }

  /** The one Derby system home for every `o19_jdbc_roundtrip` invocation
    * in this JVM — created once (lazy val), registered as
    * `derby.system.home` in the same once-guard. */
  private lazy val derbyGateHome: java.nio.file.Path = {
    val h = graft.io.TempDirs.create("graft-derby-gate")
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home", h.toString)
    h
  }

  /** Per-process STAGED SOURCE WAREHOUSE for `o4_runner_e2e` (fixture
    * class, r20 optimization round): the three source tables the Runner
    * reads are corpus-deterministic staging — the operator the gate
    * certifies is the Runner's classify/dispatch/copy/upsert/ledger work
    * against a fresh TARGET store, which still runs fully per invocation.
    * The source store is read-only during the run, but each invocation
    * still gets its own copy for isolation. */
  private val o4SourceWarehouseDir =
    Fixture("o4src") { (s, d) =>
      val dir = graft.io.TempDirs.create("graft-o4-src-base").toString
      val srcStore = new graft.store.TableStore(s, dir)
      srcStore.atomicOverwrite("events_cu", eventsWithUpdateTs(s, d))
      srcStore.atomicOverwrite("events_plain", events(s, d))
      srcStore.atomicOverwrite("customer", customer(s, d))
      dir
    }

  // ---- per-process COMMITTED STORE fixtures for the o7–o13 read gates ----
  // Each gate's commits are corpus-deterministic staging; the operator the
  // gate certifies is the READ side (time travel, stats/partition/z-order
  // pruning, snapshot isolation, generation diff, change feed), which runs
  // fresh per invocation against the cached store — READ-ONLY, so no
  // per-invocation copy is needed. The write path stays certified by the
  // first build per JVM (the driver's Verify) and by TableStoreSpec.

  private val o7StoreDir =
    Fixture("o7") { (s, d) =>
      val dir = graft.io.TempDirs.create("graft-o7-base").toString
      val store = new graft.store.TableStore(s, dir,
        graft.store.CommitMode.Pointer, keepGenerations = 3)
      val ord = orders(s, d).select("o_orderkey", "o_custkey", "o_orderstatus")
      store.atomicOverwrite("ord_tt", ord.filter(col("o_orderkey") % 2 === 0))
      store.atomicOverwrite("ord_tt", ord.filter(col("o_orderkey") % 2 === 1))
      store.append("ord_tt", ord.filter(col("o_orderkey") % 10 === 0))
      dir
    }

  private val o8StoreDir =
    Fixture("o8") { (s, d) =>
      val dir = graft.io.TempDirs.create("graft-o8-base").toString
      val store = new graft.store.TableStore(s, dir,
        graft.store.CommitMode.Pointer, statsColumns = Seq("o_totalprice"))
      store.atomicOverwriteClustered("ord_sk",
        orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
        Seq("o_totalprice"), 16)
      dir
    }

  private val o9StoreDir =
    Fixture("o9") { (s, d) =>
      val dir = graft.io.TempDirs.create("graft-o9-base").toString
      val store = new graft.store.TableStore(s, dir,
        graft.store.CommitMode.Pointer, statsColumns = Seq("o_totalprice"))
      val ord = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), trunc(col("o_orderdate"), "month").as("o_month"))
        .repartitionByRange(4, col("o_totalprice")).sortWithinPartitions("o_totalprice")
      store.atomicOverwrite("ord_pp", ord, partitionBy = Seq("o_month"))
      dir
    }

  /** o10's staged store plus the published snapshot id the gate reads. */
  private val o10Fixture =
    Fixture("o10") { (s, d) =>
      val dir = graft.io.TempDirs.create("graft-o10-base").toString
      val store = new graft.store.TableStore(s, dir,
        graft.store.CommitMode.Pointer, keepGenerations = 3)
      val cust = customer(s, d).select("c_custkey", "c_name", "c_acctbal")
      val ord = orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      store.atomicOverwrite("cust_s", cust)
      store.atomicOverwrite("ord_s", ord)
      val snap = store.publishSnapshot(Seq("cust_s", "ord_s"))
      // the next run is mid-flight: one table already republished
      store.atomicOverwrite("cust_s", cust.limit(3))
      (dir, snap)
    }

  private val o11StoreDir =
    Fixture("o11") { (s, d) =>
      val dir = graft.io.TempDirs.create("graft-o11-base").toString
      val store = new graft.store.TableStore(s, dir,
        graft.store.CommitMode.Pointer, statsColumns = Seq("o_orderkey", "o_custkey"))
      store.atomicOverwriteZOrdered("ord_z2",
        orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
        "o_orderkey", "o_custkey", 16)
      dir
    }

  private val o12StoreDir =
    Fixture("o12") { (s, d) =>
      val dir = graft.io.TempDirs.create("graft-o12-base").toString
      val store = new graft.store.TableStore(s, dir,
        graft.store.CommitMode.Pointer, keepGenerations = 3)
      val ord = orders(s, d).select("o_orderkey", "o_custkey", "o_orderstatus")
      store.atomicOverwrite("ord_d", ord.filter(col("o_orderkey") % 2 === 0))
      store.atomicOverwrite("ord_d",
        ord.filter(col("o_orderkey") % 2 === 1 || col("o_orderkey") % 4 === 0))
      dir
    }

  private val o12pStoreDir =
    Fixture("o12p") { (s, d) =>
      val dir = graft.io.TempDirs.create("graft-o12p-base").toString
      val store = new graft.store.TableStore(s, dir,
        graft.store.CommitMode.Pointer, keepGenerations = 3)
      val ord = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), trunc(col("o_orderdate"), "month").as("o_month"))
      // bounded driver collect: distinct months of the fixture's ~7-year
      // order span (≤ ~84 rows of metadata)
      val months = ord.select("o_month").distinct().collect()
        .map(_.getDate(0).toLocalDate).sortBy(_.toString).toSeq
      store.overwriteDatePartitions("ord_pd", ord, "o_month", months)
      val march = java.time.LocalDate.of(1997, 3, 1)
      store.overwriteDatePartitions("ord_pd",
        ord.filter(col("o_month") === java.sql.Date.valueOf(march) &&
          col("o_orderkey") % 2 === 0),
        "o_month", Seq(march))
      dir
    }

  /** o13's staged store plus the consumer cursor (the generation published
    * before the two commits the change feed must drain). */
  private val o13Fixture =
    Fixture("o13") { (s, d) =>
      val dir = graft.io.TempDirs.create("graft-o13-base").toString
      val store = new graft.store.TableStore(s, dir,
        graft.store.CommitMode.Pointer, keepGenerations = 4)
      val ord = orders(s, d).select("o_orderkey", "o_custkey", "o_orderstatus")
      store.atomicOverwrite("ord_f", ord.filter(col("o_orderkey") % 3 === 0))
      val cursor = store.generations("ord_f").head
      store.atomicOverwrite("ord_f", ord.filter(col("o_orderkey") % 3 <= 1))
      store.atomicOverwrite("ord_f", ord.filter(col("o_orderkey") % 3 >= 1))
      (dir, cursor)
    }

  val gates: Seq[Gate] = Seq(
    // ---- scans / predicates / projections (§2.1, §2.2) ----
    Gate("s1_full_scan", ((s, d) => customer(s, d)),
      "SELECT * FROM customer"),
    Gate("s2_window_scan", ((s, d) => Ops.windowScan(li(s, d), "l_shipdate", LiFrom, LiTo)),
      s"SELECT * FROM lineitem WHERE l_shipdate BETWEEN $liStartLit AND $liEndLit"),
    Gate("p1_drop_audit", ((s, d) =>
      Ops.dropAudit(li(s, d)
        .withColumn("ID", col("l_orderkey") * 10 + col("l_linenumber"))
        .withColumn("Insert_DateTime", lit(java.time.LocalDateTime.of(2024, 1, 1, 0, 0))))),
      "SELECT * FROM lineitem"),
    Gate("p2_key_projection", ((s, d) => orders(s, d).select("o_orderkey")),
      "SELECT o_orderkey FROM orders"),
    Gate("p4_cast_date_window", ((s, d) =>
      orders(s, d).filter(Ops.datePredicate("o_orderdate", OrdFrom, OrdTo))),
      "SELECT * FROM orders WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1998-03-01' AND DATE '1998-03-31'"),
    Gate("p5_key_membership", ((s, d) =>
      orders(s, d).filter(col("o_orderkey").isin(1L, 2L, 3L, 5L, 8L, 13L, 21L, 34L, 55L, 89L))),
      "SELECT * FROM orders WHERE o_orderkey IN (1, 2, 3, 5, 8, 13, 21, 34, 55, 89)"),
    // ---- joins / set ops: the sync pipeline semantics (§2.3, §2.7) ----
    Gate("j1_changed_keys", ((s, d) => {
      val ev = eventsWithUpdateTs(s, d)
      Ops.changedKeys(ev, "event_id", "ts", "update_ts", EvFrom, EvTo)
    }),
      s"$evCte $changedKeysSql"),
    Gate("j2_keyed_fetch", ((s, d) => {
      val ev = eventsWithUpdateTs(s, d)
      val changed = Ops.changedKeys(ev, "event_id", "ts", "update_ts", EvFrom, EvTo)
      Ops.keyedFetch(events(s, d), "event_id", changed)
    }),
      s"$evCte SELECT $evCols FROM events WHERE event_id IN ($changedKeysSql)"),
    Gate("a3_keyed_delete", ((s, d) => {
      val ev = eventsWithUpdateTs(s, d)
      val changed = Ops.changedKeys(ev, "event_id", "ts", "update_ts", EvFrom, EvTo)
      Ops.keyedDelete(events(s, d), "event_id", changed)
    }),
      s"$evCte SELECT $evCols FROM events WHERE event_id NOT IN ($changedKeysSql)"),
    Gate("a4_upsert", ((s, d) => {
      val ev = eventsWithUpdateTs(s, d)
      val changed = Ops.changedKeys(ev, "event_id", "ts", "update_ts", EvFrom, EvTo)
      // target = state loaded through the window end; source = rows as later modified
      val target = events(s, d).filter(to_date(col("ts")) <= lit(EvTo))
      val source = events(s, d).withColumn("value", col("value") + 1)
      Ops.upsert(target, source, "event_id", changed)
    }),
      s"""$evCte,
         |changed AS ($changedKeysSql),
         |target AS (SELECT $evCols FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-09'),
         |src AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value + 1 AS value, props FROM events)
         |SELECT * FROM target WHERE event_id NOT IN (SELECT event_id FROM changed)
         |UNION ALL
         |SELECT * FROM src WHERE event_id IN (SELECT event_id FROM changed)""".stripMargin),
    // entry-point C end-to-end (SURVEY.md §3.3): changed-key discovery and
    // upsert composed by the library itself — target is the state as of the
    // window end, source carries the synthetic update_ts
    Gate("o2_incremental_update", ((s, d) => {
      val ev = eventsWithUpdateTs(s, d)
      val target = ev.filter(to_date(col("ts")) <= lit(EvTo))
      Ops.incrementalUpdate(target, ev, "event_id", "ts", "update_ts", EvFrom, EvTo)
    }),
      s"""$evCte,
         |changed AS ($changedKeysSql),
         |fullv AS (SELECT event_id, CAST(e.ts AS TIMESTAMP) AS ts, user_id, event_type,
         |                 value, props,
         |                 CAST(e.ts + (event_id % 7) * INTERVAL 1 DAY AS TIMESTAMP) AS update_ts
         |            FROM events e)
         |SELECT * FROM fullv
         | WHERE CAST(ts AS DATE) <= DATE '2024-01-09'
         |   AND event_id NOT IN (SELECT event_id FROM changed)
         |UNION ALL
         |SELECT * FROM fullv WHERE event_id IN (SELECT event_id FROM changed)""".stripMargin),
    // incremental materialized-rollup refresh: stale daily agg keeps its
    // out-of-window days; the window's days are re-aggregated from the
    // (updated) window rows only. The oracle is the FULL re-aggregation of
    // the refreshed base — the equivalence the operator claims
    Gate("o3_agg_maintain", ((s, d) => {
      val ev = events(s, d)
      def dailyAgg(df: DataFrame) = df.groupBy(
          date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2).as("total_value"))
      val stale = dailyAgg(ev)
      val freshWindow = ev.filter(Ops.datePredicate("ts", EvFrom, EvTo))
        .withColumn("value", col("value") + 1)
      Ops.maintainDailyAgg(stale, freshWindow, "day", EvFrom, EvTo)(dailyAgg)
    }),
      """WITH up AS (
        |  SELECT ts, event_type,
        |         CASE WHEN CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-09'
        |              THEN value + 1 ELSE value END AS value
        |    FROM events)
        |SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day, event_type,
        |       count(*) AS n_events,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
        |  FROM up GROUP BY 1, 2""".stripMargin),
    // entry points A+B+C end-to-end at the driver gate: the phased Runner
    // (classify → copy+update fact → plain fact → parallel dim) over a temp
    // source/target TableStore pair built inside the query, with the ledger
    // row counts riding along as extra rows. The oracle reconstructs the
    // post-state of every table (window reload, changed-key upsert, dim
    // truncate-reload) plus the four Completed ledger records in DuckDB.
    // Output is canonicalized to (src_table, k, v_num, v_str) scalar rows.
    Gate("o4_runner_e2e", ((s, d) => {
      // source warehouse (a copy+update fact with synthetic update_ts, a
      // plain windowed fact, and a dim) staged once per JVM and COPIED per
      // invocation (r20 fixture-class move — the staging is gate setup,
      // not the Runner work this gate certifies; Verify still stages it
      // from scratch). The Runner's classify/dispatch/copy/upsert/ledger
      // phases run fresh against a fresh target store every time.
      val srcStore = o4SourceWarehouseDir.storeCopy(s, d, "graft-o4-src")
      val tgtStore = new graft.store.TableStore(s,
        graft.io.TempDirs.create("graft-o4-tgt").toString)
      val clock = () => java.time.LocalDateTime.of(2024, 6, 1, 12, 0)
      val ledger = new graft.ledger.Ledger(s, tgtStore, clock = clock)
      val cfg = graft.config.EngineConfig(
        sourceSchema = "src", targetSchema = "tgt", scheduleMode = None,
        dateFrom = Some(EvFrom.toString), dateTo = Some(EvTo.toString),
        tables = Seq(
          graft.config.TableSpec("events_cu", "fact", dateColumn = Some("ts"),
            updateDateColumn = Some("update_ts"), primaryKey = Some("event_id")),
          graft.config.TableSpec("events_plain", "fact", dateColumn = Some("ts")),
          graft.config.TableSpec("customer", "dim")))
      val results = new graft.pipeline.Runner(s, srcStore, tgtStore, ledger, clock = clock).run(cfg)
      require(results.forall(_.ok),
        s"o4_runner_e2e: failed table results: ${results.filterNot(_.ok).mkString("; ")}")
      def canon(table: String, df: DataFrame, k: org.apache.spark.sql.Column,
          vNum: org.apache.spark.sql.Column, vStr: org.apache.spark.sql.Column) =
        df.select(lit(table).as("src_table"), k.cast("long").as("k"),
          vNum.cast("double").as("v_num"), vStr.cast("string").as("v_str"))
      canon("events_cu", tgtStore.read("events_cu"),
          col("event_id"), col("value"), col("event_type"))
        .unionByName(canon("events_plain", tgtStore.read("events_plain"),
          col("event_id"), col("value"), col("event_type")))
        .unionByName(canon("customer", tgtStore.read("customer"),
          col("c_custkey"), col("c_acctbal"), col("c_name")))
        .unionByName(canon("ledger", ledger.latest,
          col("recordsCopied"), lit(null),
          concat_ws("/", col("tableName"), col("process"), col("status"))))
    }),
      // entry points A+B+C reconstructed: the window-reload post-state (P3 raw
      // BETWEEN, +1d−3ms end), the changed-key upsert post-state (date-cast
      // changed-key discovery, full-row re-fetch), the dim truncate-reload,
      // and the four Completed ledger records with their recordsCopied counts
      s"""$evCte,
         |changed AS ($changedKeysSql),
         |win AS (SELECT * FROM events
         |         WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00.000'
         |                      AND TIMESTAMP '2024-01-09 23:59:59.997'),
         |cu AS (SELECT event_id, value, event_type FROM win
         |        WHERE event_id NOT IN (SELECT event_id FROM changed)
         |       UNION ALL
         |       SELECT event_id, value, event_type FROM events
         |        WHERE event_id IN (SELECT event_id FROM changed))
         |SELECT 'events_cu' AS src_table, event_id AS k,
         |       CAST(value AS DOUBLE) AS v_num, event_type AS v_str FROM cu
         |UNION ALL
         |SELECT 'events_plain', event_id, CAST(value AS DOUBLE), event_type FROM win
         |UNION ALL
         |SELECT 'customer', c_custkey, CAST(c_acctbal AS DOUBLE), c_name FROM customer
         |UNION ALL
         |SELECT 'ledger', (SELECT count(*) FROM win), CAST(NULL AS DOUBLE), 'events_cu/Fact Copy/Completed'
         |UNION ALL
         |SELECT 'ledger', (SELECT count(*) FROM changed), CAST(NULL AS DOUBLE), 'events_cu/Table Update/Completed'
         |UNION ALL
         |SELECT 'ledger', (SELECT count(*) FROM win), CAST(NULL AS DOUBLE), 'events_plain/Fact Copy/Completed'
         |UNION ALL
         |SELECT 'ledger', (SELECT count(*) FROM customer), CAST(NULL AS DOUBLE), 'customer/Dim Copy/Completed'""".stripMargin,
      fixtures = Seq(o4SourceWarehouseDir)),
    // schema evolution at the driver gate: a table whose later appends
    // added a column must read as the union-by-name of both schema
    // generations (old rows NULL for the new column) — the mergeSchema
    // read path (S6/S9 storage extension), not one arbitrary footer's view
    Gate("o5_evolved_read", ((s, d) => {
      val store = new graft.store.TableStore(s,
        graft.io.TempDirs.create("graft-o5").toString)
      val ord = orders(s, d)
      store.atomicOverwrite("orders_evolving",
        ord.filter(col("o_orderkey") % 2 === 0).select("o_orderkey", "o_custkey"))
      store.append("orders_evolving",
        ord.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus")))
      store.readEvolved("orders_evolving")
    }),
      """SELECT o_orderkey, o_custkey, CAST(NULL AS VARCHAR) AS o_orderstatus
        |  FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus
        |  FROM orders WHERE o_orderkey % 2 = 1""".stripMargin),
    // object-store-safe commit protocol at the driver gate: the same
    // overwrite→append→compact lifecycle as o5 but through POINTER commits
    // (immutable generation dirs + atomic create-if-absent markers — the
    // protocol a 100 TB object-store deployment needs, where rename is a
    // non-atomic copy+delete). The read resolves the manifest chain; the
    // oracle is simply the reconstructed row set.
    Gate("o6_pointer_commit", ((s, d) => {
      val store = new graft.store.TableStore(s,
        graft.io.TempDirs.create("graft-o6").toString,
        graft.store.CommitMode.Pointer)
      val ord = orders(s, d).select("o_orderkey", "o_custkey", "o_orderstatus")
      store.atomicOverwrite("ord_ptr", ord.filter(col("o_orderkey") % 2 === 0))
      store.append("ord_ptr", ord.filter(col("o_orderkey") % 2 === 1))
      store.compact("ord_ptr", 4) // folds the append generations into one
      store.read("ord_ptr")
    }),
      "SELECT o_orderkey, o_custkey, o_orderstatus FROM orders"),
    // generation time travel on the o6 pointer protocol: three publishes
    // under retention 3, then every retained snapshot read back exactly
    // as-published and tagged — the reproducible-training-run / audit path
    // (pin the generation a job read, re-read it bit-identically later)
    Gate("o7_time_travel", ((s, d) => {
      // committed store from the per-JVM fixture cache (r20 wave 2): the
      // three staged commits are corpus-deterministic setup; the operator
      // this gate certifies — resolving and re-reading PINNED generations
      // bit-identically — runs fresh below, READ-ONLY on the cached store.
      // The write path stays certified by the first build per JVM (the
      // driver Verify) and TableStoreSpec.
      val store = new graft.store.TableStore(s, o7StoreDir(s, d),
        graft.store.CommitMode.Pointer, keepGenerations = 3)
      val gens = store.generations("ord_tt") // newest first
      require(gens.size == 3, s"o7_time_travel: expected 3 retained generations, got $gens")
      def snap(g: Long, tag: String) =
        store.readGeneration("ord_tt", g).withColumn("snap", lit(tag))
      snap(gens(2), "v1").unionByName(snap(gens(1), "v2")).unionByName(snap(gens.head, "v3"))
    }),
      """SELECT o_orderkey, o_custkey, o_orderstatus, 'v1' AS snap
        |  FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, 'v2'
        |  FROM orders WHERE o_orderkey % 2 = 1
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, 'v3'
        |  FROM orders WHERE o_orderkey % 2 = 1 OR o_orderkey % 10 = 0""".stripMargin,
      fixtures = Seq(o7StoreDir)),
    // manifest-stats data skipping on a range-clustered pointer table: a
    // narrow price band must open a strict subset of the 16 clustered
    // files (pruneEvidence is asserted, not assumed) and still return
    // exactly the filtered table
    Gate("o8_stats_pruned_read", ((s, d) => {
      // clustered store from the per-JVM fixture cache (see o7): the gate
      // certifies the manifest-stats PRUNED READ, fresh below, READ-ONLY
      val store = new graft.store.TableStore(s, o8StoreDir(s, d),
        graft.store.CommitMode.Pointer, statsColumns = Seq("o_totalprice"))
      val (kept, total) = store.pruneEvidence("ord_sk", "o_totalprice", 50000.0, 100000.0)
      require(kept < total,
        s"o8_stats_pruned_read: expected pruning on the clustered layout, kept $kept of $total")
      store.readWhere("ord_sk", "o_totalprice", 50000.0, 100000.0)
    }),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_totalprice BETWEEN 50000.0 AND 100000.0""".stripMargin,
      fixtures = Seq(o8StoreDir)),
    // the 100 TB fact-table shape: date-PARTITIONED and pointer-committed,
    // with per-file stats recorded INSIDE partition subdirs — a narrow band
    // on a non-partition column prunes files within every month (fine axis),
    // a band on the partition column skips whole month dirs (coarse axis),
    // and both compose; every prune is asserted, not assumed
    Gate("o9_part_pruned_read", ((s, d) => {
      // date-partitioned store from the per-JVM fixture cache (see o7):
      // the gate certifies BOTH pruning axes + the composed read, fresh
      // below, READ-ONLY on the cached store
      val store = new graft.store.TableStore(s, o9StoreDir(s, d),
        graft.store.CommitMode.Pointer, statsColumns = Seq("o_totalprice"))
      val (kf, tf) = store.pruneEvidence("ord_pp", "o_totalprice", 50000.0, 100000.0)
      require(kf < tf, s"o9: file axis inside partitions must prune, kept $kf of $tf")
      val m = java.sql.Date.valueOf("1997-03-01")
      val (kp, tp) = store.pruneEvidence("ord_pp", "o_month", m, m)
      require(kp < tp, s"o9: partition axis must prune, kept $kp of $tp")
      val both = Seq[(String, Any, Any)](("o_month", m, m), ("o_totalprice", 50000.0, 100000.0))
      val (kb, _) = store.pruneEvidence("ord_pp", both)
      require(kb <= math.min(kf, kp), s"o9: composed axes must intersect, kept $kb vs $kf/$kp")
      store.readWhere("ord_pp", both)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_month")
    }),
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |       CAST(date_trunc('month', o_orderdate) AS DATE) AS o_month
        |  FROM orders
        | WHERE CAST(date_trunc('month', o_orderdate) AS DATE) = DATE '1997-03-01'
        |   AND o_totalprice BETWEEN 50000.0 AND 100000.0""".stripMargin,
      fixtures = Seq(o9StoreDir)),
    // run-level multi-table snapshot: one atomic _run marker pins the pair
    // of tables a run published; a later half-finished run that already
    // republished one table does NOT leak into the snapshot view — the
    // reconstruction below must equal the FULL original pair
    Gate("o10_run_snapshot", ((s, d) => {
      // staged store + published snapshot id from the per-JVM fixture
      // cache (see o7), including the mid-flight republish; the operator
      // this gate certifies — snapshot-isolated reconstruction of the
      // FULL original pair — runs fresh below, READ-ONLY
      val (snapDir, snap) = o10Fixture(s, d)
      val store = new graft.store.TableStore(s, snapDir,
        graft.store.CommitMode.Pointer, keepGenerations = 3)
      def canon(tag: String, df: DataFrame, k: org.apache.spark.sql.Column,
          v: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
        df.select(lit(tag).as("src_table"), k.cast("long").as("k"),
          v.cast("double").as("v"), n.cast("string").as("name"))
      canon("cust", store.readSnapshot(snap, "cust_s"),
          col("c_custkey"), col("c_acctbal"), col("c_name"))
        .unionByName(canon("ord", store.readSnapshot(snap, "ord_s"),
          col("o_orderkey"), col("o_totalprice"), lit(null)))
    }),
      """SELECT 'cust' AS src_table, c_custkey AS k, c_acctbal AS v, c_name AS name
        |  FROM customer
        |UNION ALL
        |SELECT 'ord', o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) FROM orders""".stripMargin,
      fixtures = Seq(o10Fixture)),
    // generation diff: the incremental-consumer surface over the commit
    // history — a consumer that processed generation v1 learns exactly the
    // insert/delete multiset that produces v2, from the store alone
    Gate("o12_generation_diff", ((s, d) => {
      // two-generation store from the per-JVM fixture cache (see o7): the
      // operator this gate certifies is generationDiff, fresh, READ-ONLY
      val store = new graft.store.TableStore(s, o12StoreDir(s, d),
        graft.store.CommitMode.Pointer, keepGenerations = 3)
      val gens = store.generations("ord_d") // newest first
      store.generationDiff("ord_d", gens(1), gens.head)
    }),
      """SELECT o_orderkey, o_custkey, o_orderstatus, 'insert' AS __change
        |  FROM orders WHERE o_orderkey % 2 = 1
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, 'delete'
        |  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 4 <> 0""".stripMargin,
      fixtures = Seq(o12StoreDir)),
    // partition-scoped generation diff: a one-month overwrite on a
    // month-partitioned table must DIFF one month — shared manifest entries
    // are skipped before any scan (the incremental-consumer path at 100 TB:
    // diff cost tracks the changed partitions, never the table)
    Gate("o12_diff_partition_scoped", ((s, d) => {
      // month-partitioned two-generation store from the per-JVM fixture
      // cache (see o7): the operator this gate certifies — the diff
      // scanning ~one month's files, evidence-checked — runs fresh below,
      // READ-ONLY on the cached store
      val store = new graft.store.TableStore(s, o12pStoreDir(s, d),
        graft.store.CommitMode.Pointer, keepGenerations = 3)
      val gens = store.generations("ord_pd")
      val (scanned, total) = store.generationDiffEvidence("ord_pd", gens(1), gens.head)
      require(scanned < total / 3,
        s"o12p: one-month change must diff ~one month's files: scanned $scanned of $total")
      store.generationDiff("ord_pd", gens(1), gens.head)
    }),
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |       CAST(date_trunc('month', o_orderdate) AS DATE) AS o_month,
        |       'delete' AS __change
        |  FROM orders
        | WHERE CAST(date_trunc('month', o_orderdate) AS DATE) = DATE '1997-03-01'
        |   AND o_orderkey % 2 = 1""".stripMargin,
      fixtures = Seq(o12pStoreDir)),
    // store change feed: the commit history consumed as ordered CDC batches
    // (insert/delete multisets per commit, batch-stamped) — the engine's own
    // changed-key propagation, no source column convention needed
    Gate("o13_change_feed", ((s, d) => {
      // staged store + consumer cursor from the per-JVM fixture cache (see
      // o7): the operator this gate certifies — draining the commit
      // history as ordered CDC batches — runs fresh below, READ-ONLY
      val (feedDir, cursor) = o13Fixture(s, d)
      val store = new graft.store.TableStore(s, feedDir,
        graft.store.CommitMode.Pointer, keepGenerations = 4)
      var batchNo = 0
      var acc: Option[DataFrame] = None
      graft.streaming.EventStream.drainChanges(store, "ord_f", cursor) { (diff, _) =>
        batchNo += 1
        val stamped = diff.withColumn("batch", lit(batchNo))
        acc = Some(acc.map(_.unionByName(stamped)).getOrElse(stamped))
      }
      require(batchNo == 2, s"o13: two commits after the cursor, drained $batchNo")
      acc.get
    }),
      """SELECT o_orderkey, o_custkey, o_orderstatus, 'insert' AS __change, 1 AS batch
        |  FROM orders WHERE o_orderkey % 3 = 1
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, 'insert', 2
        |  FROM orders WHERE o_orderkey % 3 = 2
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, 'delete', 2
        |  FROM orders WHERE o_orderkey % 3 = 0""".stripMargin,
      fixtures = Seq(o13Fixture)),
    // JSONL shard export round-trip: the corpus written as line-JSON shards
    // (<= 100 records each — the training-stack delivery format) and read
    // back under the SOURCE schema must equal the table itself; escaping,
    // NULLs, and int widths all ride the gate hash
    Gate("o14_export_jsonl", ((s, d) => {
      val doc = docs(s, d)
      val dir = graft.io.TempDirs.create("graft-jsonl").toString + "/docs"
      graft.io.Export.jsonlShards(doc, dir, maxRecordsPerShard = 100,
        compression = Some("gzip"))
      graft.io.Export.readJsonl(s, dir, doc.schema)
    }),
      // JSONL round-trip ≡ the table itself
      "SELECT doc_id, text, lang, source, n_chars FROM documents"),
    // WET (Common Crawl extracted-text) ingest: documents encoded as
    // standard WARC/1.0 conversion records (Content-Length in UTF-8 bytes,
    // language in the real WET header), then parsed back byte-exactly —
    // the identity oracle proves the framing (a char-based parser would
    // already diverge on the fixture's multibyte text)
    Gate("o17_ingest_wet", ((s, d) => {
      val doc = docs(s, d).filter(col("text").isNotNull)
      val dir = graft.io.TempDirs.create("graft-wet").toString + "/wet"
      graft.io.Warc.writeWet(doc.select(
          concat(lit("urn:graft:doc:"), col("doc_id")).as("uri"),
          lit("2024-01-01T00:00:00Z").as("wdate"),
          col("lang"), col("text")),
        dir, "uri", "wdate", "lang", "text", maxRecordsPerShard = 100)
      graft.io.Warc.readWet(s, dir)
        .select(regexp_extract(col("uri"), "urn:graft:doc:(\\d+)", 1)
          .cast("bigint").as("doc_id"), col("lang"), col("text"))
    }),
      "SELECT doc_id, lang, text FROM documents WHERE text IS NOT NULL"),
    // ORC shard round-trip over EVENTS — the table with the types that
    // classically shift across columnar formats (micros-NTZ timestamps,
    // raw doubles): the re-read must be value-identical to the parquet
    // source under the same identity oracle the a-gates use
    Gate("o16_export_orc", ((s, d) => {
      val ev = events(s, d)
      val dir = graft.io.TempDirs.create("graft-orc").toString + "/ev"
      graft.io.Export.orcShards(ev, dir, maxRecordsPerShard = 2000,
        compression = Some("zstd"))
      graft.io.Export.readOrc(s, dir)
    }),
      s"SELECT $evCols FROM events"),
    // CSV shard round-trip under the RFC-4180 dialect (doubled-quote
    // escaping, \N null sentinel): the re-read must reproduce the table
    // exactly — same identity oracle as the JSONL gate
    Gate("o15_export_csv", ((s, d) => {
      val doc = docs(s, d)
      val dir = graft.io.TempDirs.create("graft-csv").toString + "/docs"
      graft.io.Export.csvShards(doc, dir, maxRecordsPerShard = 100,
        compression = Some("gzip"))
      graft.io.Export.readCsv(s, dir, doc.schema)
    }),
      "SELECT doc_id, text, lang, source, n_chars FROM documents"),
    // two-dimensional pruned read over the z-order layout: the Morton curve
    // keeps every file rectangle-ish in (o_orderkey, o_custkey), so a band
    // on EITHER dimension alone opens a strict subset of the 16 files and
    // the 2-D band opens no more than either axis's subset
    Gate("o11_zorder_2d_read", ((s, d) => {
      // z-ordered store from the per-JVM fixture cache (see o7): the gate
      // certifies 2-D pruning + the banded read, fresh below, READ-ONLY
      val store = new graft.store.TableStore(s, o11StoreDir(s, d),
        graft.store.CommitMode.Pointer, statsColumns = Seq("o_orderkey", "o_custkey"))
      val bounds = Seq[(String, Any, Any)](
        ("o_orderkey", 10000L, 20000L), ("o_custkey", 100L, 400L))
      val (_, total) = store.pruneEvidence("ord_z2", "o_orderkey", 0L, Long.MaxValue)
      val (ka, _) = store.pruneEvidence("ord_z2", "o_orderkey", 10000L, 20000L)
      val (kc, _) = store.pruneEvidence("ord_z2", "o_custkey", 100L, 400L)
      require(ka < total && kc < total,
        s"o11: each dimension alone must prune: orderkey $ka, custkey $kc of $total")
      val (k2, _) = store.pruneEvidence("ord_z2", bounds)
      require(k2 <= math.min(ka, kc), s"o11: 2-D band must intersect, kept $k2 vs $ka/$kc")
      store.readWhere("ord_z2", bounds)
    }),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        | WHERE o_orderkey BETWEEN 10000 AND 20000
        |   AND o_custkey BETWEEN 100 AND 400""".stripMargin,
      fixtures = Seq(o11StoreDir)),
    Gate("a1_window_delete", ((s, d) =>
      Ops.windowDelete(li(s, d), "l_shipdate", LiFrom, LiTo)),
      s"SELECT * FROM lineitem WHERE l_shipdate NOT BETWEEN $liStartLit AND $liEndLit"),
    Gate("a5_window_reload", ((s, d) => {
      // flagship: stale target (loaded only to 1998-12-31) refreshed for the window
      val target = li(s, d).filter(col("l_shipdate") < lit(java.time.LocalDateTime.of(1999, 1, 1, 0, 0)))
      Ops.windowedReload(target, li(s, d), "l_shipdate", LiFrom, LiTo)
    }),
      s"""SELECT * FROM lineitem
         | WHERE l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
         |   AND l_shipdate NOT BETWEEN $liStartLit AND $liEndLit
         |UNION ALL
         |SELECT * FROM lineitem WHERE l_shipdate BETWEEN $liStartLit AND $liEndLit""".stripMargin),
    Gate("a2_truncate_reload", ((s, d) => Ops.truncateReload(part(s, d))),
      "SELECT * FROM part"),
    Gate("asof_prior_error", ((s, d) => {
      // as-of join: each click gets the user's latest error at or before it
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
      val errors = ev.filter(col("event_type") === "error")
      Ops.asOfJoin(clicks, errors, "user_id", "ts", "ts", "event_id", "event_id")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof.event_id").as("prior_error_id"),
          col("asof.ts").as("prior_error_ts"))
    }),
      """WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
        |     e AS (SELECT * FROM events WHERE event_type = 'error')
        |SELECT c.event_id, c.user_id, CAST(c.ts AS TIMESTAMP) AS ts,
        |       e.event_id AS prior_error_id, CAST(e.ts AS TIMESTAMP) AS prior_error_ts
        |  FROM c ASOF LEFT JOIN e ON c.user_id = e.user_id AND c.ts >= e.ts""".stripMargin),
    // forward as-of: each click gets the user's NEXT error at or after it
    // (pandas merge_asof direction='forward'; DuckDB ASOF <=)
    Gate("asof_next_error", ((s, d) => {
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
      val errors = ev.filter(col("event_type") === "error")
      Ops.asOfJoin(clicks, errors, "user_id", "ts", "ts", "event_id", "event_id",
          direction = "forward")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof.event_id").as("next_error_id"),
          col("asof.ts").as("next_error_ts"))
    }),
      """WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
        |     e AS (SELECT * FROM events WHERE event_type = 'error')
        |SELECT c.event_id, c.user_id, CAST(c.ts AS TIMESTAMP) AS ts,
        |       e.event_id AS next_error_id, CAST(e.ts AS TIMESTAMP) AS next_error_ts
        |  FROM c ASOF LEFT JOIN e ON c.user_id = e.user_id AND c.ts <= e.ts""".stripMargin),
    // ---- sproc analog (§2.9 O1) ----
    Gate("o1_sql_step", ((s, d) => {
      orders(s, d).createOrReplaceTempView("orders")
      // timestamp_ntz cast: date_trunc yields LTZ TimestampType which parquet
      // writes as legacy INT96 (ns at the reader) while the DuckDB oracle
      // materializes naive micros — the 3-round hash-red root cause (r3
      // verdict). UTC session makes the cast a value identity.
      Steps.run(s, "daily_order_stats", OrdFrom, OrdTo)
        .withColumn("order_date", col("order_date").cast("timestamp_ntz"))
    }),
      // DuckDB's date_trunc('day', ts) returns DATE (Spark's returns timestamp)
      // — re-cast the day key so both engines materialize a day timestamp
      s"""SELECT CAST(order_date AS TIMESTAMP) AS order_date, n_orders, total_price
         |  FROM (${Steps.sqlFor("daily_order_stats", OrdFrom, OrdTo)}) t""".stripMargin),
    // the SparkSessionExtensions SQL-function path end-to-end: the SAME
    // native expression invoked from SQL TEXT (not the Column wrapper) —
    // proves a SQL-first deployment reaches the graftx family through
    // spark.sql.extensions registration alone
    Gate("o18_sql_function_path", ((s, d) => {
      synthNfcDocs(s, d).createOrReplaceTempView("sql_path_docs")
      // spark.sql resolves eagerly, so the view can drop immediately —
      // query entries must not leak state into the shared session.
      // jw_probe runs on a GUARANTEED-ASCII hashed-letters projection (the
      // dedup_name_linkage recipe), not substring(text, 1, 8): the JW
      // kernel indexes code points where DuckDB's indexes bytes, so raw
      // corpus heads only hash-match while they happen to be ASCII — a
      // fixture regen with CJK/accented heads would break the gate by
      // design (r17 advice)
      val df = s.sql("""SELECT doc_id, unicode_normalize(text, 'NFC') AS nfc_text,
                       |       length(unicode_normalize(text, 'NFC')) AS n_chars_nfc,
                       |       round(jaro_winkler(
                       |         translate(lpad(CAST(doc_id * 2654435761 % 100000000 AS STRING), 8, '0'),
                       |                   '0123456789', 'abcdefghij'), 'martha'), 6) AS jw_probe
                       |  FROM sql_path_docs""".stripMargin)
      s.catalog.dropTempView("sql_path_docs")
      df
    }),
      s"""WITH $synthNfcSql
         |SELECT doc_id, nfc_normalize(text) AS nfc_text,
         |       length(nfc_normalize(text)) AS n_chars_nfc,
         |       round(jaro_winkler_similarity(
         |         translate(lpad(CAST((doc_id * 2654435761) % 100000000 AS VARCHAR), 8, '0'),
         |                   '0123456789', 'abcdefghij'), 'martha'), 6) AS jw_probe
         |  FROM nfc""".stripMargin),
    // ---- production JDBC path (S6's database analog) as a GATED entry ----
    // the Derby-backed write→read round trip that JdbcSpec exercises,
    // promoted into the driver's hash gate (r17 verdict): Jdbc.append
    // batch-inserts the frame (the SqlBulkCopy analog), Jdbc.read fetches
    // it back through the PARTITIONED parallel scan (4 key-range splits —
    // the reference's single streaming cursor, TableCopyService.cs:140,
    // distributed), and the result must hash-equal the parquet source
    Gate("o19_jdbc_roundtrip", ((s, d) => withDerbyGate(s) { cfg =>
      val src = customer(s, d).filter(col("c_custkey") <= 200)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      graft.store.Jdbc.append(src, cfg, "t_gate_roundtrip")
      // the 4-way key-range scan — the reference's single streaming cursor
      // (TableCopyService.cs:140), distributed
      graft.store.Jdbc.read(s, cfg, "t_gate_roundtrip",
          splitCol = Some(("c_custkey", 1L, 200L, 4)))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    }),
      // the JDBC round trip must hand back exactly what went in — the oracle
      // is the parquet source slice itself
      """SELECT c_custkey, c_name, c_acctbal
        |  FROM customer WHERE c_custkey <= 200""".stripMargin),
    // ---- o20: the reference's CORE transaction over a real database ----
    // windowed delete + reinsert inside ONE target transaction
    // (TableCopyService.cs:89-170): Jdbc.overwriteWindow stages the fresh
    // window distributed, then one coordinator txn runs DELETE … BETWEEN
    // (day start .. day end − 3 ms) + INSERT..SELECT + COMMIT. Post-state
    // must hash-match the a5-shaped parquet oracle. Fixture bounded to
    // event_id <= 2000 so the gate measures the transaction, not insert
    // volume; the fresh rows carry value + 1 so a silently-skipped
    // delete+reinsert cannot hash-match.
    Gate("o20_jdbc_window_reload", ((s, d) => withDerbyGate(s) { cfg =>
      val base = evJdbcBase(s, d)
      // stale target: state loaded only through the window end (the a5 shape)
      graft.store.Jdbc.append(base.filter(to_date(col("ts")) <= lit(EvTo)), cfg, "t_win")
      val fresh = Ops.windowScan(base.withColumn("value", col("value") + 1),
        "ts", EvFrom, EvTo)
      graft.store.Jdbc.overwriteWindow(fresh, cfg, "t_win", "ts", EvFrom, EvTo)
      graft.store.Jdbc.read(s, cfg, "t_win", splitCol = Some(("event_id", 1L, 2000L, 4)))
        .select(col("event_id"), col("ts").cast("timestamp_ntz").as("ts"),
          col("user_id"), col("event_type"), col("value"))
    }),
      // o20: the Derby post-state must equal the a5 composition — target rows
      // outside the window + fresh (value+1) rows inside it, raw-datetime
      // BETWEEN with the .997 day end on both sides
      s"""WITH base AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
         |                FROM events WHERE event_id <= 2000)
         |SELECT * FROM base
         | WHERE CAST(ts AS DATE) <= DATE '2024-01-09'
         |   AND ts NOT BETWEEN $evStartLit AND $evEndLit
         |UNION ALL
         |SELECT event_id, ts, user_id, event_type, value + 1 AS value FROM base
         | WHERE ts BETWEEN $evStartLit AND $evEndLit""".stripMargin),
    // ---- o21: the reference's keyed update transaction over JDBC ----
    // changed-key discovery (J1) + source re-fetch (J2) feed
    // Jdbc.upsert: stage the fresh rows, then one target txn deletes the
    // changed keys (set-based EXISTS against the stage — the 2000-literal
    // IN batches of TableUpdateService.cs:117-128, lifted) and reinserts.
    // Post-state must hash-match the a4-shaped parquet oracle.
    Gate("o21_jdbc_upsert", ((s, d) => withDerbyGate(s) { cfg =>
      val base = evJdbcBase(s, d)
      graft.store.Jdbc.append(base.filter(to_date(col("ts")) <= lit(EvTo)), cfg, "t_ups")
      val ev = eventsWithUpdateTs(s, d).filter(col("event_id") <= 2000)
      val changed = Ops.changedKeys(ev, "event_id", "ts", "update_ts", EvFrom, EvTo)
      val fresh = Ops.keyedFetch(base.withColumn("value", col("value") + 1),
        "event_id", changed)
      graft.store.Jdbc.upsert(fresh, cfg, "t_ups", Seq("event_id"))
      graft.store.Jdbc.read(s, cfg, "t_ups", splitCol = Some(("event_id", 1L, 2000L, 4)))
        .select(col("event_id"), col("ts").cast("timestamp_ntz").as("ts"),
          col("user_id"), col("event_type"), col("value"))
    }),
      // o21: the Derby post-state must equal the a4 composition at the same
      // bounded slice — unchanged target rows for unchanged keys + fresh
      // (value+1) source rows for the changed keys
      s"""WITH ev AS (SELECT event_id, ts, ts + (event_id % 7) * INTERVAL 1 DAY AS update_ts
         |              FROM events WHERE event_id <= 2000),
         |changed AS ($changedKeysSql),
         |base AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
         |           FROM events WHERE event_id <= 2000)
         |SELECT * FROM base
         | WHERE CAST(ts AS DATE) <= DATE '2024-01-09'
         |   AND event_id NOT IN (SELECT event_id FROM changed)
         |UNION ALL
         |SELECT event_id, ts, user_id, event_type, value + 1 AS value FROM base
         | WHERE event_id IN (SELECT event_id FROM changed)""".stripMargin),
    // ---- o22: target-side stored-procedure passthrough ----
    // the reference's sproc dispatch (StoreProcRunService.cs:16-31 runs
    // `EXEC name @StartDateParam, @EndDateParam` on the TARGET connection):
    // a real Derby SQL procedure (Java body — DerbyProcs.windowSummary,
    // running INSIDE the database on the nested connection) is registered
    // and invoked through SqlStepRegistry's `jdbc:` step kind with the
    // window bound positionally; the gate reads the procedure's SIDE
    // EFFECT back and hash-checks it against DuckDB computing the same
    // window summary from the parquet source — proving the parameters
    // arrived and the proc's write landed. Integer arithmetic only, so the
    // twin matches bit-exactly.
    Gate("o22_jdbc_sproc", ((s, d) => withDerbyGate(s) { cfg =>
      graft.store.Jdbc.append(events(s, d).filter(col("event_id") <= 2000)
        .select(col("event_id"), col("ts").cast("timestamp").as("ts")), cfg, "SPROC_SRC")
      graft.store.Jdbc.execute(cfg,
        """CREATE TABLE SPROC_OUT("n_rows" BIGINT, "sum_ids" BIGINT)""")
      graft.store.Jdbc.execute(cfg,
        "CREATE PROCEDURE WINDOW_SUMMARY(IN s TIMESTAMP, IN e TIMESTAMP) " +
          "PARAMETER STYLE JAVA LANGUAGE JAVA MODIFIES SQL DATA " +
          "EXTERNAL NAME 'graft.store.DerbyProcs.windowSummary'")
      val reg = new graft.proc.SqlStepRegistry(
        Map("roll" -> "jdbc:CALL WINDOW_SUMMARY(?, ?)"))
      reg.runJdbc("roll", EvFrom, EvTo, cfg)
      graft.store.Jdbc.read(s, cfg, "SPROC_OUT")
    }),
      // o22: the procedure's side effect (window row count + integer key sum)
      // recomputed from the parquet source; DuckDB's BIGINT sum widens to
      // HUGEINT, cast back to the procedure's declared type
      s"""SELECT count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS sum_ids
         |  FROM events
         | WHERE event_id <= 2000
         |   AND ts BETWEEN $evStartLit AND $evEndLit""".stripMargin)
  )
}
