package graft.store

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/**
 * Exercises the production JDBC path end-to-end against embedded Derby (the
 * only database available offline — shipped with Spark for the Hive
 * metastore). The point is that `Jdbc.append`/`Jdbc.read` genuinely work,
 * including the partitioned parallel read that replaces the reference's
 * single streaming cursor (`TableCopyService.cs:140`); swapping the Derby
 * URL/driver for SQL Server's is configuration, not code.
 */
class JdbcSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val cfg = {
    val home = TestSpark.tempDir("graft-derby")
    System.setProperty("derby.system.home", home.toString) // keep derby.log out of the repo
    Jdbc.JdbcConfig(
      url = s"jdbc:derby:$home/db;create=true",
      user = "graft", password = "", // ignored by embedded Derby
      driver = "org.apache.derby.jdbc.EmbeddedDriver")
  }

  test("JDBC round-trip: append creates the table and reads back identically") {
    val df = Seq((1L, "a", 10.5), (2L, "b", 20.25), (3L, "c", 30.0))
      .toDF("id", "name", "amount")
    Jdbc.append(df, cfg, "t_roundtrip")
    val back = Jdbc.read(spark, cfg, "t_roundtrip")
    assert(back.as[(Long, String, Double)].collect().toSet ==
      Set((1L, "a", 10.5), (2L, "b", 20.25), (3L, "c", 30.0)))
    // appending again appends, not overwrites (SqlBulkCopy semantics)
    Jdbc.append(df.limit(1), cfg, "t_roundtrip")
    assert(Jdbc.read(spark, cfg, "t_roundtrip").count() == 4)
  }

  test("JDBC partitioned parallel read splits the scan across partitions") {
    val df = (1L to 100L).map(i => (i, s"row$i")).toDF("id", "payload")
    Jdbc.append(df, cfg, "t_parts")
    val back = Jdbc.read(spark, cfg, "t_parts", splitCol = Some(("id", 1L, 100L, 4)))
    assert(back.rdd.getNumPartitions == 4)
    assert(back.count() == 100)
  }

  test("the windowed read's BETWEEN is pushed down into the database scan") {
    import org.apache.spark.sql.functions.col
    // the production-source analog of PlanSpec's parquet PushedFilters pin:
    // the reference sends the window's WHERE in the SQL text
    // (TableCopyService.cs:140); Spark's JDBC relation must do the same,
    // not fetch the whole table and filter in the cluster
    val df = (1 to 28).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-$i%02d 00:00:00"))).toDF("id", "ts")
    Jdbc.append(df, cfg, "t_push")
    val from = java.sql.Timestamp.valueOf("2024-01-05 00:00:00")
    val to = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val windowed = Jdbc.read(spark, cfg, "t_push")
      .filter(col("ts") >= from && col("ts") <= to)
    // the plan must at least translate the window into source filters …
    val plan = windowed.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("GreaterThanOrEqual(ts") && plan.contains("LessThanOrEqual(ts"),
      s"window predicate not offered to the JDBC source:\n$plan")
    assert(windowed.count() == 6)
    // … but scan metadata lists translation CANDIDATES whether or not they
    // reach the database. The load-bearing contract is unhandledFilters():
    // a filter NOT in the unhandled set is compiled into the JDBC WHERE
    // clause (JDBCRDD.scanTable). Pin it for the window's shape, and pin
    // that pushDownPredicate=false genuinely turns it off.
    import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThanOrEqual}
    def relationOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collectFirst {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
      }.get
    val window: Array[Filter] =
      Array(GreaterThanOrEqual("ts", from), LessThanOrEqual("ts", to))
    assert(relationOf(windowed).unhandledFilters(window).isEmpty,
      "the window BETWEEN must compile into the JDBC WHERE clause, " +
        "not fetch-all-and-filter in the cluster")
    val noPush = spark.read.format("jdbc")
      .option("url", cfg.url).option("dbtable", "t_push")
      .option("driver", cfg.driver)
      .option("user", cfg.user).option("password", cfg.password)
      .option("pushDownPredicate", "false")
      .load()
      .filter(col("ts") >= from && col("ts") <= to)
    assert(relationOf(noPush).unhandledFilters(window).sameElements(window),
      "pushDownPredicate=false must leave every filter unhandled — if this " +
        "fails, the control is broken and the assertion above proves nothing")
    assert(noPush.count() == 6)
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private def day(s: String) = java.time.LocalDate.parse(s)

  test("overwriteWindow: windowed delete + reinsert lands atomically and honors the .997 day end") {
    val target = Seq(
      (1L, ts("2024-01-04 12:00:00"), 10.0),
      (2L, ts("2024-01-05 00:00:00"), 20.0),  // in window → replaced
      (3L, ts("2024-01-06 23:59:59.997"), 30.0), // exactly the day end → replaced
      (4L, ts("2024-01-06 23:59:59.998"), 40.0), // past the .997 bound → KEPT
      (5L, ts("2024-01-07 08:00:00"), 50.0)
    ).toDF("id", "ts", "v")
    Jdbc.append(target, cfg, "t_ow")
    val fresh = Seq(
      (102L, ts("2024-01-05 10:00:00"), 2.0),
      (103L, ts("2024-01-06 10:00:00"), 3.0)).toDF("id", "ts", "v")
    Jdbc.overwriteWindow(fresh, cfg, "t_ow", "ts", day("2024-01-05"), day("2024-01-06"))
    val ids = Jdbc.read(spark, cfg, "t_ow").select("id").as[Long].collect().toSet
    assert(ids == Set(1L, 4L, 5L, 102L, 103L),
      s"window [05..06] must replace rows 2,3 (3 sits exactly on 23:59:59.997) and keep 4: $ids")
    // the staging table must not survive the exchange
    val stages = Jdbc.read(spark, cfg,
      "(SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLENAME LIKE '%_STG_%') s")
    assert(stages.count() == 0, "staging table leaked past the exchange")
  }

  test("overwriteWindow: a failure inside the transaction rolls back — old window intact") {
    // PK-constrained target: the staged rows carry a duplicate key, so the
    // INSERT..SELECT fails AFTER the DELETE already executed inside the txn
    // — the crash-mid-write shape. The rollback must restore the window.
    Jdbc.execute(cfg, """CREATE TABLE T_CRASH("id" BIGINT PRIMARY KEY, "ts" TIMESTAMP, "v" DOUBLE)""")
    val target = Seq(
      (1L, ts("2024-01-04 12:00:00"), 10.0),
      (2L, ts("2024-01-05 09:00:00"), 20.0),
      (3L, ts("2024-01-05 18:00:00"), 30.0)).toDF("id", "ts", "v")
    Jdbc.append(target, cfg, "T_CRASH")
    val poisoned = Seq( // duplicate id 9 violates the PK mid-insert
      (9L, ts("2024-01-05 10:00:00"), 1.0),
      (9L, ts("2024-01-05 11:00:00"), 2.0)).toDF("id", "ts", "v")
    val e = intercept[java.sql.SQLException] {
      Jdbc.overwriteWindow(poisoned, cfg, "T_CRASH", "ts",
        day("2024-01-05"), day("2024-01-05"))
    }
    assert(e.getSQLState != null)
    val back = Jdbc.read(spark, cfg, "T_CRASH").select("id", "v")
      .as[(Long, Double)].collect().toSet
    assert(back == Set((1L, 10.0), (2L, 20.0), (3L, 30.0)),
      s"failed exchange must leave the target exactly as it was: $back")
  }

  test("upsert: keyed delete + reinsert in one transaction; rollback on failure") {
    Jdbc.execute(cfg, """CREATE TABLE T_UPS("id" BIGINT PRIMARY KEY, "v" DOUBLE)""")
    Jdbc.append(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v"), cfg, "T_UPS")
    Jdbc.upsert(Seq((2L, 22.0), (4L, 44.0)).toDF("id", "v"), cfg, "T_UPS", Seq("id"))
    val after = Jdbc.read(spark, cfg, "T_UPS").as[(Long, Double)].collect().toSet
    assert(after == Set((1L, 10.0), (2L, 22.0), (3L, 30.0), (4L, 44.0)),
      s"changed key replaced, new key inserted, untouched keys kept: $after")
    // poisoned batch (duplicate key) after the delete ran → rollback
    intercept[java.sql.SQLException] {
      Jdbc.upsert(Seq((3L, 33.0), (3L, 34.0)).toDF("id", "v"), cfg, "T_UPS", Seq("id"))
    }
    val unchanged = Jdbc.read(spark, cfg, "T_UPS").as[(Long, Double)].collect().toSet
    assert(unchanged == after, s"failed upsert must roll back entirely: $unchanged")
  }

  test("jdbc: sproc passthrough binds the window and a failing proc aborts the run") {
    import graft.proc.SqlStepRegistry
    Jdbc.execute(cfg,
      "CREATE PROCEDURE ALWAYS_FAILS() PARAMETER STYLE JAVA LANGUAGE JAVA " +
        "EXTERNAL NAME 'graft.store.DerbyProcs.alwaysFails'")
    val reg = new SqlStepRegistry(Map(
      "boom" -> "jdbc:CALL ALWAYS_FAILS()",
      "spark_side" -> "SELECT 1 AS one"))
    // abort-the-run: the failure PROPAGATES (BulkCopyManager.cs:114-134
    // semantics — sproc failures are not isolated like per-table errors)
    val e = intercept[java.sql.SQLException] {
      reg.runJdbc("boom", day("2024-01-05"), day("2024-01-09"), cfg)
    }
    assert(e.getMessage != null)
    // step kinds refuse to run on the wrong engine — loudly, not silently
    intercept[IllegalArgumentException] {
      reg.run(spark, "boom", day("2024-01-05"), day("2024-01-09"))
    }
    intercept[IllegalArgumentException] {
      reg.runJdbc("spark_side", day("2024-01-05"), day("2024-01-09"), cfg)
    }
    // and a template with a wrong parameter arity is refused before execution
    intercept[IllegalArgumentException] {
      new SqlStepRegistry(Map("bad" -> "jdbc:CALL X(?)"))
        .runJdbc("bad", day("2024-01-05"), day("2024-01-09"), cfg)
    }
  }
}
