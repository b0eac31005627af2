package graft.ops

import java.time.LocalDate

import graft.time.Windows
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * The reference's copy/sync capability surface re-expressed as pure
 * `DataFrame → DataFrame` transformations (SURVEY.md §2). Nothing here
 * collects to the driver; every operator is a distributed expression, so the
 * same code paths hold on a 1000-executor cluster:
 *
 *  - changed keys stay a DataFrame and are broadcast-joined when small
 *    (fixes the reference's driver-side key list, `TableUpdateService.cs:99-103`);
 *  - window predicates are simple column comparisons so Catalyst pushes them
 *    into the parquet/JDBC scan (`PushedFilters`);
 *  - no per-2000-key batching (`TableUpdateService.cs:110-114`) — a single
 *    semi/anti join replaces the loop.
 */
object Ops {

  /** Audit columns the target manages itself; every copy drops them
    * case-insensitively (`TableCopyService.cs:152-161`). */
  val AuditColumns: Seq[String] = Seq("Id", "insert_datetime")

  /** P1 — star projection minus audit columns, case-insensitive
    * (`TableCopyService.cs:156-157`). Relies on Spark's default
    * case-insensitive resolution for exact names but also handles arbitrary
    * casing explicitly so `ID`/`Insert_DateTime` are dropped too. */
  def dropAudit(df: DataFrame): DataFrame = {
    val lower = AuditColumns.map(_.toLowerCase)
    val doomed = df.columns.filter(c => lower.contains(c.toLowerCase))
    if (doomed.isEmpty) df else df.drop(doomed.toIndexedSeq: _*)
  }

  /** P3 — raw-datetime BETWEEN over the reference's exact day bounds
    * (start-of-day .. next-day − 3 ms, `TableCopyService.cs:108-112,127-133`). */
  def windowPredicate(dateCol: String, from: LocalDate, to: LocalDate): Column =
    col(dateCol).between(lit(Windows.dayStart(from)), lit(Windows.dayEnd(to)))

  /** P4 — the update path's different compare: `CAST(col AS DATE) BETWEEN`
    * (`TableUpdateService.cs:84,87`). Kept deliberately asymmetric with P3
    * (SURVEY.md §7.4.4). */
  def datePredicate(dateCol: String, from: LocalDate, to: LocalDate): Column =
    to_date(col(dateCol)).between(lit(from), lit(to))

  /** S2 — date-windowed scan (`SELECT * WHERE dateCol BETWEEN`,
    * `TableCopyService.cs:127-138`). */
  def windowScan(source: DataFrame, dateCol: String, from: LocalDate, to: LocalDate): DataFrame =
    source.filter(windowPredicate(dateCol, from, to))

  /** A1 — windowed delete = keep the complement of the window
    * (`DELETE … WHERE dateCol BETWEEN`, `TableCopyService.cs:106-117`). */
  def windowDelete(target: DataFrame, dateCol: String, from: LocalDate, to: LocalDate): DataFrame =
    target.filter(!windowPredicate(dateCol, from, to))

  /** A5 — windowed reload: one transaction's delete+copy
    * (`TableCopyService.cs:89-170`) as a single expression:
    * `target ∖ window ∪ (source ∩ window minus audit cols)`.
    * Publish via `TableStore.atomicOverwrite` for the transactional part. */
  def windowedReload(target: DataFrame, source: DataFrame, dateCol: String,
      from: LocalDate, to: LocalDate): DataFrame =
    windowDelete(target, dateCol, from, to)
      .unionByName(dropAudit(windowScan(source, dateCol, from, to)))

  /** A2 — dim truncate-and-reload (`TRUNCATE TABLE` + full copy,
    * `TableCopyService.cs:94-101,125-126`): the post-state is simply the
    * source minus audit columns. */
  def truncateReload(source: DataFrame): DataFrame = dropAudit(source)

  /** J1 — changed-key discovery: keys modified in the window but NOT created
    * in it (`TableUpdateService.cs:81-88`). The reference's `NOT IN (subquery)`
    * is `left_anti` here; they agree because primary keys are non-null
    * (SQL `NOT IN` returns empty if the subquery yields any NULL — documented
    * SURVEY.md §7.4.3). Both sides are single-column projections so the join
    * is cheap and broadcastable. */
  def changedKeys(source: DataFrame, pk: String, dateCol: String, updateCol: String,
      from: LocalDate, to: LocalDate): DataFrame = {
    val modified = source.filter(datePredicate(updateCol, from, to)).select(pk)
    val created = source.filter(datePredicate(dateCol, from, to)).select(pk)
    modified.join(created, Seq(pk), "left_anti")
  }

  /** The first of `base0, base1, …` — `base, base1, …` when `bare` —
    * absent from `taken`: a temp-column name that can never clobber or
    * collide with a caller column (a fixed `"__rn"` would). */
  private[graft] def freshName(taken: Set[String], base: String, bare: Boolean = false): String =
    Iterator.from(0).map(i => if (bare && i == 0) base else s"$base$i").find(!taken(_)).get

  /** Broadcast-hint the key side only when Catalyst's size ESTIMATE says it
    * fits the session's broadcast threshold. An unconditional hint bypasses
    * AQE's size check — a churn-heavy window can produce an arbitrarily
    * large changed-key set (unlike the reference, which batches 2000 keys,
    * `TableUpdateService.cs:110-114`), and a forced broadcast of that fails
    * at the 8 GB broadcast limit / executor memory instead of degrading.
    * Unhinted, AQE still converts to broadcast at runtime when the
    * materialized key set turns out small — the safe default; the hint is
    * only an optimization for the provably-small case. Reading
    * `optimizedPlan.stats` is plan-time only (no job). */
  private[graft] def hintIfSmall(keys: DataFrame): DataFrame = {
    val threshold = keys.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val est = keys.queryExecution.optimizedPlan.stats.sizeInBytes
    if (threshold > 0 && est <= threshold) broadcast(keys) else keys
  }

  /** A3 — keyed delete (`DELETE WHERE pk IN (batch)`,
    * `TableUpdateService.cs:117-128`) without the 2000-key batching. The key
    * side is broadcast when estimably small ([[hintIfSmall]]); otherwise AQE
    * picks the strategy from runtime sizes. */
  def keyedDelete(target: DataFrame, pk: String, keys: DataFrame): DataFrame =
    target.join(hintIfSmall(keys), Seq(pk), "left_anti")

  /** S3/J2 — re-fetch source rows whose key is in the changed set
    * (`SELECT * WHERE pk IN (batch)`, `TableUpdateService.cs:131-138`).
    * Size-gated broadcast like [[keyedDelete]], same rationale. */
  def keyedFetch(source: DataFrame, pk: String, keys: DataFrame): DataFrame =
    source.join(hintIfSmall(keys), Seq(pk), "left_semi")

  /** A4 — upsert: replace target rows for changed keys with fresh source rows
    * (`TableUpdateService.cs:108-166`). The changed-key side is typically
    * tiny relative to the table — broadcast when the estimate agrees so
    * neither the target nor the source shuffles. */
  def upsert(target: DataFrame, source: DataFrame, pk: String, changed: DataFrame): DataFrame =
    upsertImpl(target, source, pk, changed, dropAuditCols = true)

  /** [[upsert]] WITHOUT the audit-column drop — for targets the engine fully
    * owns rather than the reference's `Id`/`insert_datetime`-managed warehouse
    * tables. The copy path's drop is a contract about SQL Server-managed
    * columns; a CDC stream keyed `id` (the common case) or carrying its own
    * `insert_datetime` would lose data columns — including its primary key —
    * under that contract, and the first-batch create (which keeps all
    * columns) would then diverge in schema from every later batch.
    *
    * Unlike [[upsert]]'s strict union, this variant unions BY NAME WITH
    * MISSING COLUMNS ALLOWED: a CDC source that gained a field mid-stream
    * (schema evolution) upserts cleanly — pre-evolution target rows read
    * NULL for the new column. The copy-contract [[upsert]] stays strict so
    * a genuinely mismatched schema still fails loudly there. */
  def upsertExact(target: DataFrame, source: DataFrame, pk: String, changed: DataFrame): DataFrame =
    upsertImpl(target, source, pk, changed, dropAuditCols = false)

  private def upsertImpl(target: DataFrame, source: DataFrame, pk: String,
      changed: DataFrame, dropAuditCols: Boolean): DataFrame = {
    val keys = changed.select(pk).distinct() // size-gated hint applied per join below
    val fresh = keyedFetch(source, pk, keys)
    val kept = keyedDelete(target, pk, keys)
    if (dropAuditCols) kept.unionByName(dropAudit(fresh))
    else kept.unionByName(fresh, allowMissingColumns = true)
  }

  /**
   * As-of join — for every left row, the LATEST right row with
   * `rightTime <= leftTime` for the same key (the time-series lookup the
   * reference's warehouse would do with a correlated subquery; Spark has no
   * native ASOF join, DuckDB does — used as the oracle).
   *
   * Composed from built-ins per the preference order (no custom physical
   * operator needed): tag-and-union both sides, one window sorted by
   * `(time, side, tie-break id)` per key, and a running
   * `last(rightStruct, ignoreNulls)` — each left row picks up the most
   * recent right payload at or before its timestamp. ONE hash shuffle on
   * the key (both inputs together), no range cross-join, no per-key
   * driver loop: the plan shape that survives a 100× scale-up.
   *
   * Right columns come back nested in `asofCol` (null when no right row
   * precedes the left row). Ties at equal time: the right side is visible
   * to the left row (<= semantics, matching DuckDB ASOF `>=`).
   *
   * `direction = "forward"` flips the lookup to the EARLIEST right row
   * with `rightTime >= leftTime` (pandas `merge_asof` forward; DuckDB
   * ASOF `<=`): the window frame becomes current-row-to-following with a
   * running `first`, and the tie ordering flips (right rows at the SAME
   * time must sort AFTER the left row to stay inside the forward frame —
   * in the backward case they must sort before). Same one-shuffle plan.
   */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, leftId: String, rightId: String,
      asofCol: String = "asof", direction: String = "backward"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(direction == "backward" || direction == "forward",
      s"asOfJoin direction must be 'backward' or 'forward': $direction")
    val forward = direction == "forward"
    val rightStruct = struct(right.columns.toIndexedSeq.map(col): _*)
    // NULL right timestamps would sort FIRST (nulls-first ascending) and
    // become every row's "earliest" match; ASOF semantics (and DuckDB's
    // oracle) never match a NULL time — drop them
    val (rightTag, leftTag) = if (forward) (1, 0) else (0, 1)
    val taggedRight = right.filter(col(rightTime).isNotNull)
      .select(col(key), col(rightTime).as("__t"),
        lit(rightTag).as("__side"), col(rightId).as("__id"), rightStruct.as(asofCol))
    val leftStruct = struct(left.columns.toIndexedSeq.map(col): _*)
    val taggedLeft = left.select(col(key), col(leftTime).as("__t"),
      lit(leftTag).as("__side"), col(leftId).as("__id"),
      lit(null).cast(taggedRight.schema(asofCol).dataType).as(asofCol),
      leftStruct.as("__row"))
    val unioned = taggedLeft.unionByName(taggedRight.withColumn("__row", lit(null).cast(taggedLeft.schema("__row").dataType)))
    val ordered = Window.partitionBy(key).orderBy(col("__t"), col("__side"), col("__id"))
    val (w, pick) =
      if (forward) (ordered.rowsBetween(Window.currentRow, Window.unboundedFollowing),
        first(col(asofCol), ignoreNulls = true))
      else (ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow),
        last(col(asofCol), ignoreNulls = true))
    unioned
      .withColumn("__asof", pick.over(w))
      .filter(col("__side") === leftTag)
      .select(left.columns.toIndexedSeq.map(c => col(s"__row.`$c`").as(c)) :+
        col("__asof").as(asofCol): _*)
  }

  /**
   * Time-range join WITHOUT an equi key: all pairs `(left, right)` with
   * `|leftTime − rightTime| <= tolerance` — event-correlation across streams
   * that share no join key (e.g. "clicks near any error"). A naive
   * formulation is a cross join with an inequality filter — O(n·m) pairs
   * materialized, dead at scale. Here both sides are bucketed into
   * `tolerance`-wide time bands and the left side is expanded to its
   * adjacent bands `{b−1, b, b+1}`, turning the range predicate into an
   * EQUI join on the band key: any in-tolerance pair differs by at most one
   * band, so recall is exact, and each pair meets on exactly one band key
   * (the right row's band) so no dedup pass is needed. The exact predicate
   * then prunes the ≤3-band false positives.
   *
   * ONE shuffle on the band key. Cost scales with Σ |left_band|·|right_band|
   * — pairs-per-band, the same density bound every blocking scheme carries
   * (a tolerance much wider than the event spacing makes bands hot; tune
   * `tolerance` to the correlation window, which is naturally narrow).
   *
   * Column-name safety: right-side columns that collide with a left-side name
   * — the canonical event-correlation case is both streams calling their time
   * column `ts` — are renamed with `rightSuffix` in the OUTPUT (so the result
   * is selectable by name and the post-join tolerance filter is unambiguous),
   * and the internal band key is picked to not collide with either schema.
   *
   * `guardBands` (default on) runs [[assertBandCardinality]] on the right
   * side before building the join — ONE eager lightweight aggregation job
   * that fails loudly when the band key has degenerated (collapsed
   * timestamps → quadratic blocks). It re-evaluates the right side once —
   * free for a direct source scan (column-pruned to the time column), but
   * a real extra computation for an expensive uncached derived frame: hot
   * callers with such a right side should `persist()` it first or pass
   * `guardBands = false` once its band spread is trusted.
   */
  /** Band-degeneration guard for [[rangeJoin]] (and a pre-flight check for
    * the streaming correlate's file-backed sources): when timestamps
    * collapse — wrong unit, constant clock, epoch default — every row lands
    * in a handful of tolerance-wide bands and the banded join's per-band
    * blocks go quadratic (round 13: a 1000×-compressed timestamp column
    * turned a 2.6 s join into 471 s of exploding join state). One cheap
    * aggregation (count + approx_count_distinct of the band key — partial
    * aggregation, a scalar to the driver) turns that failure mode into a
    * one-line diagnosis: an input with at least `minRows` rows must spread
    * over at least `minBands` distinct bands. Small frames skip the check —
    * a dimension-sized side legitimately fits in a few bands. */
  def assertBandCardinality(df: DataFrame, timeCol: String, tolerance: java.time.Duration,
      minBands: Int = 64, minRows: Long = 10000L): Unit = {
    val tolUs = tolerance.toNanos / 1000
    require(tolUs > 0, "tolerance must be positive")
    val row = df.agg(
      count(lit(1)).as("rows"),
      approx_count_distinct(
        floor(unix_micros(col(timeCol).cast("timestamp")) / lit(tolUs))).as("bands")).head()
    val (rows, bands) = (row.getLong(0), row.getLong(1))
    if (rows >= minRows && bands < minBands) throw new IllegalStateException(
      s"band degeneration on '$timeCol': $rows rows span only ~$bands distinct " +
        s"$tolerance bands (< $minBands) — timestamps are likely collapsed (wrong " +
        "unit / constant clock) and a banded range join on this input goes quadratic; " +
        "fix the source, widen the tolerance, or pass guardBands = false")
  }

  def rangeJoin(left: DataFrame, right: DataFrame, leftTime: String, rightTime: String,
      tolerance: java.time.Duration, rightSuffix: String = "_r",
      guardBands: Boolean = true): DataFrame = {
    val tolUs = tolerance.toNanos / 1000
    require(tolUs > 0, "tolerance must be positive")
    if (guardBands) assertBandCardinality(right, rightTime, tolerance)
    val leftCols = left.columns.toSet
    val renamed = right.columns.map(c => if (leftCols(c)) c + rightSuffix else c)
    require(renamed.toSet.size == renamed.length && !renamed.exists(leftCols),
      s"rangeJoin rightSuffix '$rightSuffix' does not disambiguate: " +
        s"renamed right columns ${renamed.mkString(",")} still collide")
    val rTime = if (leftCols(rightTime)) rightTime + rightSuffix else rightTime
    val taken = leftCols ++ renamed
    val band = freshName(taken, "__band")
    def bandOf(t: Column): Column = floor(unix_micros(t.cast("timestamp")) / lit(tolUs))
    val l = left.withColumn(band, explode(array(
      bandOf(col(leftTime)) - 1, bandOf(col(leftTime)), bandOf(col(leftTime)) + 1)))
    val r = right.toDF(renamed.toIndexedSeq: _*).withColumn(band, bandOf(col(rTime)))
    l.join(r, Seq(band))
      .filter(abs(unix_micros(col(leftTime).cast("timestamp")) -
        unix_micros(col(rTime).cast("timestamp"))) <= tolUs)
      .drop(band)
  }

  /**
   * Interval-OVERLAP join without an equi key: all pairs whose
   * `[start, end]` intervals intersect (touching endpoints count:
   * `sL ≤ eR AND sR ≤ eL`) — session-vs-session correlation, outage
   * windows × request spans, any two interval sets. The naive form is a
   * cross join with two inequality filters; here the range predicate
   * becomes an EQUI join on a `maxSpan`-wide time-grid band, the
   * [[rangeJoin]] discipline extended to intervals.
   *
   * Banding correctness (why ±1 on the start band suffices): both spans
   * are ≤ `maxSpan` = the band width `w`. For an overlapping pair,
   * `sR ∈ [sL − spanR, eL] ⊆ [sL − w, sL + w]`, and `floor((sL − w)/w) =
   * band(sL) − 1`, `band(eL) ≤ band(sL) + 1` — so the right START band is
   * always within ±1 of the left start band. The left explodes to
   * `{b−1, b, b+1}`, the right keys on `band(sR)` alone, every true pair
   * meets on exactly ONE key (no dedup pass), and the exact predicate
   * prunes the rest. ONE shuffle on the band key.
   *
   * The `maxSpan` bound is a RECALL contract, not a hint: a row whose
   * span exceeds it can silently miss matches. `guard` (default on)
   * therefore runs one eager aggregation per side asserting
   * `max(end − start) ≤ maxSpan` (plus [[assertBandCardinality]] on the
   * right start, the band-degeneration check) and fails loudly — the
   * same re-evaluation trade as [[rangeJoin]]'s `guardBands`: free on
   * direct source scans, persist first for expensive derived inputs.
   * NULL or inverted (`end < start`) intervals never match, as in SQL.
   */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftStart: String, leftEnd: String, rightStart: String, rightEnd: String,
      maxSpan: java.time.Duration, rightSuffix: String = "_r",
      guard: Boolean = true): DataFrame = {
    val spanUs = maxSpan.toNanos / 1000
    require(spanUs > 0, "maxSpan must be positive")
    def us(c: Column): Column = unix_micros(c.cast("timestamp"))
    if (guard) {
      def assertSpans(df: DataFrame, s: String, e: String, side: String): Unit = {
        val mx = df.agg(max(us(col(e)) - us(col(s)))).head()
        if (!mx.isNullAt(0) && mx.getLong(0) > spanUs) throw new IllegalStateException(
          s"intervalJoin $side side: max span ${mx.getLong(0)} us exceeds maxSpan " +
            s"$maxSpan — banded recall would silently drop matches; widen maxSpan " +
            "(cost: hotter bands) or split oversized intervals first")
      }
      assertSpans(left, leftStart, leftEnd, "left")
      assertSpans(right, rightStart, rightEnd, "right")
      assertBandCardinality(right, rightStart, maxSpan)
    }
    val leftCols = left.columns.toSet
    val renamed = right.columns.map(c => if (leftCols(c)) c + rightSuffix else c)
    require(renamed.toSet.size == renamed.length && !renamed.exists(leftCols),
      s"intervalJoin rightSuffix '$rightSuffix' does not disambiguate: " +
        s"renamed right columns ${renamed.mkString(",")} still collide")
    def ren(c: String) = if (leftCols(c)) c + rightSuffix else c
    val (rS, rE) = (ren(rightStart), ren(rightEnd))
    val taken = leftCols ++ renamed
    val band = freshName(taken, "__band")
    def bandOf(t: Column): Column = floor(us(t) / lit(spanUs))
    val l = left.withColumn(band, explode(array(
      bandOf(col(leftStart)) - 1, bandOf(col(leftStart)), bandOf(col(leftStart)) + 1)))
    val r = right.toDF(renamed.toIndexedSeq: _*).withColumn(band, bandOf(col(rS)))
    l.join(r, Seq(band))
      .filter(us(col(leftStart)) <= us(col(rE)) && us(col(rS)) <= us(col(leftEnd)))
      .drop(band)
  }

  /**
   * Contiguous global ordinals `0..n−1` in the total order of `orderCols`,
   * WITHOUT a global single-partition sort: the naive
   * `row_number() OVER (ORDER BY …)` plans `Exchange SinglePartition` —
   * one task receives and sorts the entire table, the canonical Spark
   * scale trap. Here the input is range-partitioned on the order key and
   * sorted within partitions (a distributed sort), per-partition row
   * counts become starting offsets (ONE #partitions-sized driver array —
   * metadata, not data), and each partition numbers its own rows from its
   * offset. Two jobs (count + number), both fully parallel.
   *
   * `orderCols` must be a TOTAL order (include a unique id as the final
   * tiebreak) with no NULL keys — ties or nulls would make the assignment
   * partition-boundary-dependent. Range boundaries come from sampling, but
   * which partition a row lands in never changes its ordinal: the global
   * order is fixed and offsets adapt to the actual partition sizes.
   *
   * The training-data uses: stable example ids after a corpus sort,
   * strided sharding (`ordinal % nShards`), reproducible head/tail splits.
   */
  def globalOrdinals(df: DataFrame, orderCols: Seq[Column], numParts: Int,
      ordCol: String = "ordinal"): DataFrame = {
    require(orderCols.nonEmpty, "globalOrdinals needs at least one order column")
    require(numParts > 0, s"numParts must be positive: $numParts")
    require(!df.columns.contains(ordCol),
      s"globalOrdinals: column '$ordCol' already exists — pass a free ordCol")
    val ranged = df.repartitionByRange(numParts, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    // ONE RDD instance for both of zipWithIndex's jobs (the per-partition
    // count and the numbering map): the second job then REUSES the first's
    // shuffle files instead of re-running the scan + range sampling +
    // exchange (two lineages would recompute all of it). zipWithIndex's
    // index IS the offset-adjusted ordinal because partition order here is
    // the range order. The numbering runs over queryExecution.toRdd —
    // Tungsten InternalRows appended to via an UnsafeProjection — so no row
    // ever round-trips through an external Row's per-field ser/deser (the
    // old Row.fromSeq path paid box+unbox on every column of every row).
    val schema = org.apache.spark.sql.types.StructType(
      df.schema.fields :+ org.apache.spark.sql.types.StructField(
        ordCol, org.apache.spark.sql.types.LongType, nullable = false))
    val numbered = ranged.queryExecution.toRdd.zipWithIndex().mapPartitions { it =>
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val ord = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      val project = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
      it.map { case (row, k) =>
        ord.update(0, k)
        project(joined(row, ord)): org.apache.spark.sql.catalyst.InternalRow
      }
    }
    org.apache.spark.sql.GraftInternalRows.internalCreateDataFrame(
      df.sparkSession, numbered, schema)
  }

  /** Full incremental-update step (entry point C, SURVEY.md §3.3):
    * discover changed keys on the source, then upsert them into the target. */
  def incrementalUpdate(target: DataFrame, source: DataFrame, pk: String,
      dateCol: String, updateCol: String, from: LocalDate, to: LocalDate): DataFrame =
    upsert(target, source, pk, changedKeys(source, pk, dateCol, updateCol, from, to))

  /**
   * Incremental maintenance of a day-keyed aggregate (a materialized daily
   * rollup): keep the stale aggregate's rows OUTSIDE the refresh window and
   * replace the window's days with a re-aggregation of the fresh source rows
   * — the A1+A5 windowed-reload semantics lifted from base tables to derived
   * aggregates. `aggregate` must map source rows to the aggregate's schema
   * with day keys in `dayCol` (day-truncated, comparable with
   * [[datePredicate]]'s `to_date`).
   *
   * Scale shape: the stale aggregate is ~days × dims rows (tiny next to the
   * fact table) and is filtered, not re-derived; pass `source` already
   * windowed ([[windowScan]]) so the expensive aggregation runs ONLY over
   * the window's rows — cost tracks the window, not table history. The
   * post-aggregation day filter re-asserts the window, so straggler rows
   * outside it can never leak into days the stale side keeps. Equivalent by
   * construction to re-aggregating the fully refreshed base table, because
   * daily aggregates are partitioned by the same day key the reload
   * replaces wholesale.
   */
  def maintainDailyAgg(staleAgg: DataFrame, source: DataFrame, dayCol: String,
      from: LocalDate, to: LocalDate)(aggregate: DataFrame => DataFrame): DataFrame = {
    val fresh = aggregate(source).filter(datePredicate(dayCol, from, to))
    // NULL-day rows are outside ANY refresh window — keep them explicitly:
    // a bare !predicate evaluates to NULL on them and the filter would
    // silently drop a NULL-keyed rollup row on every maintenance pass
    staleAgg.filter(!datePredicate(dayCol, from, to) || col(dayCol).isNull)
      .unionByName(fresh)
  }
}
