package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Declarative data-quality checks (SURVEY.md §2.12) — the post-copy QA gate
 * a warehouse sync pipeline runs before publishing (the reference trusts
 * SQL Server constraints; a parquet lake has none) and a training-data
 * pipeline runs between stages. Each check yields one
 * `(check, column, n_violations)` row; `n_violations = 0` means pass.
 *
 * Scale shape: ALL row-local checks (not-null, accepted-values, range,
 * custom predicate) evaluate in ONE aggregation pass over the table —
 * each is a `sum(CASE WHEN violated)` expression in a single `agg`, so a
 * 50-check suite costs one scan, not 50. Key checks shuffle once each:
 * uniqueness is a keyed count (map-side partial), referential integrity a
 * left-anti join against the (usually broadcastable) parent keys. No
 * driver-side state beyond the one-row wide aggregate.
 */
object Validate {

  /** One declarative check. `column` is informational in the report for
    * [[Predicate]] (the expression may span columns). */
  sealed trait Check { def name: String; def column: String }
  /** Column must hold no NULLs. */
  final case class NotNull(column: String) extends Check { def name = "not_null" }
  /** Non-null values must come from `allowed`. */
  final case class AcceptedValues(column: String, allowed: Seq[Any]) extends Check {
    def name = "accepted_values"
  }
  /** Non-null values must satisfy `lo <= v <= hi` (pass None to leave a
    * side unbounded). */
  final case class InRange(column: String, lo: Option[Double], hi: Option[Double]) extends Check {
    def name = "in_range"
  }
  /** Arbitrary row predicate that must hold on every row (NULL counts as a
    * violation — an unknown is not a pass). */
  final case class Predicate(column: String, label: String, holds: Column) extends Check {
    def name = s"predicate:$label"
  }
  /** The column tuple must be unique across the table (SQL-style: rows
    * with any NULL key part are exempt, like a SQL UNIQUE constraint). */
  final case class Unique(columns: Seq[String]) extends Check {
    def name = "unique"; def column: String = columns.mkString(",")
  }
  /** Every non-null child value must exist in `parent`'s `parentCol`
    * (referential integrity; violations = orphan rows). */
  final case class RefIntegrity(column: String, parent: DataFrame, parentCol: String)
    extends Check { def name = "ref_integrity" }

  /** Exact-name column reference (same quoting discipline as
    * [[Profiling.exact]]). */
  private def exact(c: String): Column = col("`" + c.replace("`", "``") + "`")

  /**
   * Run every check, returning `(check, column, n_violations)` — one row
   * per check, row-local checks fused into a single scan. The report is a
   * plain DataFrame: gate on it (`filter(n_violations > 0)`), store it
   * next to the ledger, or fail the pipeline on `.isEmpty` — policy stays
   * with the caller.
   */
  def report(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "report needs at least one check")
    val cols = df.columns.toSet
    val missing = checks.flatMap {
      case Unique(cs) => cs.filterNot(cols)
      case Predicate(_, _, _) => Nil // expression may reference derived cols
      case c => Option(c.column).filterNot(cols)
    }
    require(missing.isEmpty, s"report: no such columns: ${missing.distinct.mkString(", ")}")

    def violation(c: Check): Option[Column] = c match {
      case NotNull(n) => Some(exact(n).isNull)
      case AcceptedValues(n, allowed) =>
        Some(exact(n).isNotNull && !exact(n).isin(allowed: _*))
      case InRange(n, lo, hi) =>
        val v = exact(n).cast("double")
        val below = lo.map(l => v < l).getOrElse(lit(false))
        val above = hi.map(h => v > h).getOrElse(lit(false))
        Some(v.isNotNull && (below || above))
      case Predicate(_, _, holds) => Some(!coalesce(holds, lit(false)))
      case _ => None // key checks run their own pass below
    }

    val rowChecks = checks.zipWithIndex.flatMap { case (c, i) =>
      // coalesce: sum over an EMPTY table is NULL, and an empty table has
      // zero violations, not unknown-many
      violation(c).map(v =>
        (c, i, coalesce(sum(when(v, 1L).otherwise(0L)), lit(0L)).as(s"__v_$i")))
    }

    val rowReport: Option[DataFrame] =
      if (rowChecks.isEmpty) None
      else {
        val aggs = rowChecks.map(_._3)
        val wide = df.agg(aggs.head, aggs.tail: _*)
        val rows = rowChecks.map { case (c, i, _) =>
          struct(lit(c.name).as("check"), lit(c.column).as("column"),
            col(s"__v_$i").as("n_violations"))
        }
        Some(wide.select(explode(array(rows: _*)).as("__r")).select("__r.*"))
      }

    val keyReports: Seq[DataFrame] = checks.collect {
      case Unique(cs) =>
        // violations = rows beyond the first in each fully-non-null key
        // group: one keyed count with map-side partials, no window
        val nonNull = cs.map(exact(_).isNotNull).reduce(_ && _)
        df.filter(nonNull).groupBy(cs.map(exact): _*)
          .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
          .agg(coalesce(sum(col("__n") - 1), lit(0L)).as("n_violations"))
          .select(lit("unique").as("check"), lit(cs.mkString(",")).as("column"),
            col("n_violations"))
      case RefIntegrity(n, parent, pn) =>
        // orphans = child keys with no parent: left-anti against the
        // DISTINCT parent keys (tiny dim side — Catalyst broadcasts it)
        df.filter(exact(n).isNotNull)
          .join(parent.select(exact(pn).as(n)).distinct(), Seq(n), "left_anti")
          .agg(count(lit(1)).as("n_violations"))
          .select(lit("ref_integrity").as("check"), lit(n).as("column"),
            col("n_violations"))
    }

    (rowReport.toSeq ++ keyReports).reduce(_ unionByName _)
  }
}
