package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Temporal regularization (SURVEY.md §2.12) — resampling an irregular
 * per-key daily series onto a dense day grid with forward-fill: the feature
 * and label materialization step of a training pipeline (metrics observed
 * sporadically, models trained on a regular grid), and the warehouse
 * "gap-filling" idiom the reference's SQL Server target would express with
 * a calendar table join.
 *
 * Scale shape: the naive plan is grid-generate → LEFT JOIN observed → a
 * second windowed fill pass — two shuffles and a join against a fabricated
 * table. Here each OBSERVED row emits itself plus the gap days up to (not
 * including) the key's next observed day, in one `lead` window pass: the
 * fill value rides along with the row that generated the gap, so there is
 * exactly ONE hash shuffle on the key, no join, no second window. Fan-out
 * is proportional to the gaps being filled — the rows any correct answer
 * must produce.
 */
object TimeSeries {

  /**
   * Fill a per-key daily series to a dense grid over each key's own
   * `[min(day), max(day)]` span (no fabrication outside a key's observed
   * history). `daily` must hold ONE row per `(keyCol, dayCol)` at day
   * granularity (`date` or day-truncated timestamp — the aggregation that
   * builds it enforces this by construction). The contract is CHECKED in
   * the same window pass: a NULL day or a duplicate `(key, day)` row fails
   * with a named error instead of silently vanishing (`explode(NULL)`
   * drops the row) or surfacing as an opaque task-time `sequence` bounds
   * error.
   *
   * Columns in `fillCols` carry the most recent NON-NULL observed value
   * forward — on fabricated days AND on observed days whose own value is
   * null (ignore-nulls forward fill, the `last_value … IGNORE NULLS`
   * semantics); every other metric column is NULL on fabricated days (a
   * count that wasn't observed is absent, not zero — callers wanting zeros
   * add `coalesce` on top). The running fill uses the SAME window
   * partitioning/ordering as the `lead`, so both evaluate in one Window
   * operator — still a single shuffle.
   */
  def dailyGridFill(daily: DataFrame, keyCol: String, dayCol: String,
      fillCols: Seq[String]): DataFrame = {
    val cols = daily.columns.toSet
    require(cols(keyCol) && cols(dayCol), s"no such columns: $keyCol/$dayCol")
    val badFill = fillCols.filterNot(cols) ++ fillCols.filter(c => c == keyCol || c == dayCol)
    require(badFill.isEmpty, s"bad fillCols: ${badFill.mkString(", ")}")
    val metricCols = daily.columns.filterNot(c => c == keyCol || c == dayCol)
    val fill = fillCols.toSet
    val taken = daily.columns.toSet
    val next = graft.ops.Ops.freshName(taken, "__next", bare = true)
    val day = graft.ops.Ops.freshName(taken, "__day", bare = true)
    val w = Window.partitionBy(keyCol).orderBy(dayCol)
    // date columns need date_sub (date − day-time interval would widen to
    // timestamp and make the sequence bounds type-mismatch)
    val isDate = daily.schema(daily.schema.fieldIndex(dayCol))
      .dataType == org.apache.spark.sql.types.DateType
    def minusOneDay(c: org.apache.spark.sql.Column) =
      if (isDate) date_sub(c, 1) else c - expr("INTERVAL 1 DAY")
    val ffill = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withFills = fillCols.foldLeft(daily) { (df, m) =>
      df.withColumn(m, last(col(m), ignoreNulls = true).over(ffill))
    }
    withFills
      .withColumn(next, lead(col(dayCol), 1).over(w))
      // the row's own day, plus every missing day strictly before the key's
      // next observed day; the last observed row emits only itself. The
      // ordered window makes duplicate days ADJACENT, so next == day is a
      // complete duplicate check — both guards ride in the existing
      // projection, no extra pass
      .withColumn(day, explode(
        when(col(dayCol).isNull, raise_error(lit(
          s"dailyGridFill: NULL $dayCol row — every observation needs a day to land on the grid")))
        .when(col(next) === col(dayCol), raise_error(lit(
          s"dailyGridFill: duplicate ($keyCol, $dayCol) row — the input must hold ONE row per key and day")))
        .otherwise(sequence(col(dayCol),
          coalesce(minusOneDay(col(next)), col(dayCol)),
          expr("INTERVAL 1 DAY")))))
      .select(col(keyCol) +: col(day).as(dayCol) +: metricCols.toIndexedSeq.map { m =>
        if (fill(m)) col(m) // the generating row's (ffilled) value rides along
        else when(col(day) === col(dayCol), col(m)).as(m)
      }: _*)
  }

  /**
   * Truncated-kernel exponentially-weighted moving average per key: at
   * each row (ordered by `orderCol` within `keyCol`),
   *
   *   ewma = Σ_{j<taps} c_j·x_{t−j}  /  Σ_{j<taps, x_{t−j} present} c_j
   *
   * with `c_j = alpha·(1−alpha)^j`. Truncating the kernel at `taps` lags
   * (the practitioner's EWMA — pandas' `ewm(..., min_periods)` adjusted
   * mode over a bounded window) is what makes the operator a WINDOW
   * expression instead of a recurrence: the exact recursive EWMA needs
   * the previous OUTPUT row, which neither Spark nor any SQL engine can
   * express without per-key sequential state, while the truncated form is
   * `taps` lag() taps over one window pass — embarrassingly parallel per
   * key. The tail mass dropped is (1−alpha)^taps (0.7⁸ ≈ 5.8 % at the
   * defaults); the per-row renormalization by the PRESENT-tap coefficient
   * sum keeps series heads unbiased (the same correction pandas'
   * `adjust=True` applies).
   *
   * Numeric contract: coefficients are the literal IEEE product chain
   * `alpha, alpha·(1−alpha), …` (left-to-right multiplication — an oracle
   * spelling the same chain folds to bit-identical doubles), and the
   * numerator/denominator are left-associated tap sums, so the emitted
   * double is bit-identical cross-engine given identical inputs with no
   * rounding contract needed.
   *
   * Scale shape: ONE Window operator, one key shuffle; all `taps` lag()
   * expressions share the frame, so cost is O(taps) per row with zero
   * extra exchanges. Returns the input columns plus `ewma`.
   */
  def truncatedEwma(series: DataFrame, keyCol: String, orderCol: String,
      valueCol: String, alpha: Double = 0.3, taps: Int = 8): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1): $alpha")
    require(taps >= 1 && taps <= 64, s"taps must be in [1,64]: $taps")
    val coefs = Array.iterate(alpha, taps)(_ * (1.0 - alpha))
    val w = Window.partitionBy(keyCol).orderBy(orderCol)
    val x = col(valueCol).cast("double")
    val terms = (0 until taps).map { j =>
      val lx = if (j == 0) x else lag(x, j).over(w)
      (when(lx.isNotNull, lx * lit(coefs(j))).otherwise(lit(0.0)),
        when(lx.isNotNull, lit(coefs(j))).otherwise(lit(0.0)))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    series.withColumn("ewma", num / den)
  }

  /**
   * Rolling volume-anomaly detection — the ops tripwire a continuously-fed
   * pipeline runs on its OWN throughput: per key (source, event type,
   * host…), each day's event count is z-scored against the TRAILING
   * `windowDays`-day baseline (current day excluded — today must not damp
   * its own anomaly), flagging `|z| ≥ zThreshold`. A crawler source going
   * dark, a log loop double-feeding, or an ingest backlog draining all
   * show up here days before they show up in corpus statistics.
   *
   * Numeric contract: the inputs are exact integer day-counts, the rolling
   * statistics are integer window sums (`n`, `Σx`, `Σx²` — exact in ANY
   * accumulation order, unlike floating sums), and every derived double
   * (`mean = Σx/n`, `var = (n·Σx² − (Σx)²)/n²`, `z`) is the same IEEE
   * expression shape the oracle mirrors — bit-identical cross-engine with
   * no rounding contract needed (rounding on the emitted stats is for
   * display). Days with fewer than `minBaseline` trailing days or zero
   * baseline variance emit NULL stats and `anomaly = false` (no baseline,
   * no verdict).
   *
   * Scale shape: one map-side-combined `groupBy(key, day)` (day-cardinality
   * output per key), the [[dailyGridFill]] single-shuffle densification
   * (absent days are REAL zero-count days for a volume series), then ONE
   * Window operator computing all three rolling sums over the same frame —
   * two key shuffles total, output one row per (key, day) at any event
   * volume.
   */
  def rollingVolumeAnomaly(events: DataFrame, keyCol: String, tsCol: String,
      windowDays: Int = 7, minBaseline: Int = 3,
      zThreshold: Double = 2.0): DataFrame = {
    require(windowDays >= 2, s"windowDays must be >= 2: $windowDays")
    require(minBaseline >= 2 && minBaseline <= windowDays,
      s"minBaseline must be in [2, windowDays]: $minBaseline")
    require(zThreshold > 0, s"zThreshold must be positive: $zThreshold")
    val w = Window.partitionBy(keyCol).orderBy(col("day"))
      .rowsBetween(-windowDays, -1)
    val staged = zeroFilledDailyCounts(events, keyCol, tsCol)
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__sx", sum(col("__x")).over(w))
      .withColumn("__sxx", sum(col("__x") * col("__x")).over(w))
    val mean = col("__sx").cast("double") / col("__n").cast("double")
    val varN = (col("__n") * col("__sxx") - col("__sx") * col("__sx"))
      .cast("double") / (col("__n") * col("__n")).cast("double")
    val z = (col("__x").cast("double") - mean) / sqrt(varN)
    val ok = col("__n") >= minBaseline && varN > 0.0
    staged.select(col(keyCol), col("day"), col("__x").as("n_events"),
      col("__n").as("baseline_days"),
      when(col("__n") > 0, round(mean, 6)).as("baseline_mean"),
      when(ok, round(sqrt(varN), 6)).as("baseline_std"),
      when(ok, round(z, 6)).as("z_score"),
      when(ok, abs(z) >= zThreshold).otherwise(lit(false)).as("anomaly"))
  }

  /** Per-key daily event counts on the dense day grid with gap days as
    * REAL zero-count days — the shared prelude of every volume-series
    * operator here ([[rollingVolumeAnomaly]], [[cusumShift]],
    * [[theilSenTrend]]): a dead feed must
    * DRAIN a chart, not freeze it. Day keys are day-truncated
    * micros-NTZ (the gate representation contract). */
  private def zeroFilledDailyCounts(events: DataFrame, keyCol: String,
      tsCol: String): DataFrame = {
    val daily = events.groupBy(col(keyCol),
        date_trunc("DAY", col(tsCol)).cast("timestamp_ntz").as("day"))
      .agg(count(lit(1)).as("__x"))
    dailyGridFill(daily, keyCol, "day", Nil)
      .withColumn("__x", coalesce(col("__x"), lit(0L)))
  }

  /**
   * Theil–Sen robust trend (Theil 1950, Sen 1968): per-key slope of daily
   * event counts as the MEDIAN of all pairwise day-to-day slopes — the
   * volume-trend estimate that survives the outlier days (backfills,
   * incident spikes) that wreck an OLS fit (Theil–Sen has a 29 %
   * breakdown point; one crazy day moves OLS arbitrarily). Days number
   * from each key's first observed day, gap days densify to real zeros
   * ([[dailyGridFill]]), and the median interpolates via the exact
   * `percentile` — each pairwise slope is the identical IEEE division in
   * both engines, so the gate hashes.
   *
   * Scale shape: pairs form per key over the DAY GRID, not the event
   * rows — O(days²) per key (the estimator's inherent cost; ~66 k pairs
   * for a year), keyed shuffle only. `maxDays` refuses a grid that would
   * square into an unreasonable pair set, pointing at the resample knob.
   */
  def theilSenTrend(events: DataFrame, keyCol: String, tsCol: String,
      maxDays: Int = 5000): DataFrame = {
    require(maxDays >= 2, s"maxDays must be >= 2: $maxDays")
    val dense = zeroFilledDailyCounts(events, keyCol, tsCol)
    val w = Window.partitionBy(keyCol)
    val withD = dense
      .withColumn("__d", datediff(col("day"), min(col("day")).over(w)).cast("long"))
      .withColumn("__n", count(lit(1)).over(w))
    // the guard must be CONSUMED (a dangling projection would be pruned
    // and the raise_error never fire) — the filter forces it per row
    val guarded = withD.filter(
      when(col("__n") > maxDays, raise_error(concat(lit(
        s"theilSenTrend: key "), col(keyCol).cast("string"),
        lit(s" spans more days than maxDays=$maxDays — the pairwise-slope " +
          "set grows quadratically; resample to a coarser grain first"))))
        .otherwise(lit(true)))
    val a = guarded.select(col(keyCol), col("__d").as("__di"), col("__x").as("__xi"))
    val b = guarded.select(col(keyCol), col("__d").as("__dj"), col("__x").as("__xj"))
    a.join(b, Seq(keyCol)).filter(col("__di") < col("__dj"))
      .select(col(keyCol),
        ((col("__xj") - col("__xi")).cast("double") /
          (col("__dj") - col("__di")).cast("double")).as("__s"))
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n_pairs"),
        round(Sampling.percentileOf(col("__s"), lit(0.5)), 6).as("slope"))
  }

  /**
   * One-sided CUSUM level-shift detection (Page 1954) over per-key daily
   * event counts — the sequential change-point chart that catches a
   * SUSTAINED small upward shift [[rollingVolumeAnomaly]]'s per-day
   * z-score cannot (a +20 % feed that never exceeds 2σ on any single day
   * accumulates here linearly until it alarms). The classical recursion
   * `S_i = max(0, S_{i−1} + x_i − μ − slack)` is NOT window-expressible,
   * but its closed form IS: `S_i = P_i − min(0, min_{j≤i} P_j)` where
   * `P` is the running sum of deviations — one cumulative-sum window plus
   * one running-min window, both partitioned by key.
   *
   * Exactness: deviations are scaled by the key's day count n so they stay
   * INTEGRAL (`n·x_i − Σx − n·slack`), accumulated in DECIMAL(38,0)
   * (n·n·x can pass 2⁶³ on year-scale history of a hot key); the single
   * division by n happens once at output. μ is the key's own full-window
   * mean, making this the retrospective (offline) chart — the standard
   * fit when screening a finished corpus window for feed shifts.
   *
   * Scale shape: one groupBy(key, day) on the raw events, then the
   * [[dailyGridFill]] densification (gap days must be REAL zero-count
   * days or a dead feed looks stable), then key-partitioned windows over
   * day-count-sized frames — never an unpartitioned window, never a
   * corpus-sized frame per task.
   */
  def cusumShift(events: DataFrame, keyCol: String, tsCol: String,
      slackPerDay: Long = 2L, threshold: Double = 5.0): DataFrame = {
    require(slackPerDay >= 0, s"slackPerDay must be >= 0: $slackPerDay")
    require(threshold > 0, s"threshold must be positive: $threshold")
    val dense = zeroFilledDailyCounts(events, keyCol, tsCol)
    val whole = Window.partitionBy(keyCol)
    val run = Window.partitionBy(keyCol).orderBy(col("day"))
    val staged = dense
      .withColumn("__n", count(lit(1)).over(whole))
      .withColumn("__sx", sum(col("__x")).over(whole))
      .withColumn("__cum", sum((col("__n") * col("__x") - col("__sx") -
        col("__n") * slackPerDay).cast("decimal(38,0)")).over(run))
      .withColumn("__mp", least(min(col("__cum")).over(run),
        lit(0).cast("decimal(38,0)")))
    val s = col("__cum") - col("__mp") // the scaled CUSUM statistic, exact
    staged.select(col(keyCol), col("day"), col("__x").as("n_events"),
      round(s.cast("double") / col("__n").cast("double"), 6).as("cusum"),
      (s.cast("double") > lit(threshold) * col("__n").cast("double"))
        .as("shift_alarm"))
  }
}
