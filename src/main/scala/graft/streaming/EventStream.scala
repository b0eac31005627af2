package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Structured Streaming surface over the `events` table shape (SURVEY.md
 * §2.11): the reference is strictly batch — its late-data story is the
 * midnight window rollback and the changed-key re-copy — but the same
 * semantics express naturally as streams, so the engine offers them:
 *
 *  - [[dedupedEvents]]: exactly-once-per-id event flow (`dropDuplicates`
 *    keyed on `event_id` under a watermark) — the streaming analog of the
 *    changed-key upsert's "replace, don't double-load";
 *  - [[windowedCounts]]: tumbling-window per-type aggregates with a
 *    watermark bounding state — the streaming analog of the date-window
 *    reload.
 *
 * Scale posture: state is keyed by (window × event_type) or event_id with
 * the watermark evicting expired state, so state size is bounded by the
 * lateness horizon, not the stream length. Parquet-directory sources here;
 * swap `readStream.parquet` for Kafka in production — the transforms are
 * source-agnostic.
 */
/** One closed user session: contiguous activity with gaps under the
  * session gap. */
final case class Session(userId: Long, nEvents: Long,
    start: java.sql.Timestamp, end: java.sql.Timestamp)

/** Per-user sessionization state: three longs (times in MICROSECONDS since
  * epoch — the events fixture carries sub-millisecond timestamps, and a
  * millisecond state would round gap comparisons differently from the
  * micro-precision batch sessionizer it is gated against), bounded per key.
  * (Top-level so the state encoder's generated code can instantiate it.) */
final case class SessionState(nEvents: Long, start: Long, end: Long)

object EventStream {

  /** The events schema as legacy ns-long sources deliver it (parquet
    * `TIMESTAMP(NANOS)` arrives as a BIGINT of nanoseconds under
    * `nanosAsLong`). Kept as the documented fallback shape for tests that
    * stage ns-long files by hand; [[read]] no longer assumes it. */
  val RawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // ns since epoch (TIMESTAMP(NANOS) as long)
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Open the stream with `ts` normalized to a micro-precision TIMESTAMP,
    * WHATEVER the source's physical representation. File-stream sources
    * require an explicit schema, so the source's actual schema is probed
    * with one batch footer read of the same glob — the engine never assumes
    * a column's physical type, it reads what the source presents (the
    * reference's schema-on-source discipline, `TableCopyService.cs:152-161`;
    * round 13 showed what hard-coding costs: a fixture moving from ns-long
    * to `timestamp[us]` silently compressed 30 days into 43 minutes).
    * Normalization by arriving type:
    *  - BIGINT       → nanoseconds since epoch (`nanosAsLong`), `div 1000`;
    *  - TIMESTAMP_NTZ → cast (exact under the UTC session timezone);
    *  - TIMESTAMP     → already event-time-ready;
    *  - anything else → fail loudly naming the type, never mis-scale.
    * NOTE the result is TIMESTAMP (with local timezone), not the batch
    * reader's TIMESTAMP_NTZ: Spark watermarks reject NTZ event-time columns
    * (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). Sessions pin the timezone to
    * UTC, so wall-clock values agree with `graft.io.Tables.load`; cast with
    * `col("ts").cast("timestamp_ntz")` when unioning stream and batch frames. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    // An empty or not-yet-populated directory is a NORMAL file-stream
    // startup state (the producer may not have written its first batch):
    // fall back to the documented ns-long RawSchema rather than failing the
    // probe. The loud type refusal below stays for sources that ARE present
    // but carry an unsupported ts representation.
    val probed =
      try spark.read.parquet(dir).schema
      catch { // schema-inference failure = no footers to probe yet, not a bad source
        case _: org.apache.spark.sql.AnalysisException => RawSchema
      }
    val raw = spark.readStream.schema(probed).parquet(dir)
    probed.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        // integer division — `/ 1000` would go through double and lose
        // precision beyond 2^53 (ns-epoch values are ~2^60)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) => raw.withColumn("ts", col("ts").cast(TimestampType))
      case Some(TimestampType)    => raw
      case Some(other) => throw new IllegalArgumentException(
        s"EventStream.read: unsupported ts representation $other at $dir — " +
          "expected ns-epoch BIGINT, TIMESTAMP, or TIMESTAMP_NTZ")
      case None => throw new IllegalArgumentException(
        s"EventStream.read: no ts column at $dir (columns: ${probed.fieldNames.mkString(", ")})")
    }
  }

  /** Exactly-once event flow: duplicates of an `event_id` arriving within
    * the watermark horizon are dropped. `dropDuplicatesWithinWatermark`
    * (not plain `dropDuplicates("event_id")`) is what makes state bounded:
    * ids older than the watermark are evicted from the state store, so
    * state size tracks the lateness horizon, not the stream length. */
  def dedupedEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("event_id")

  /** Streaming exact distinct on a key tuple: stateful `dropDuplicates`
    * whose state is ONE entry per distinct key — bounded by the key-space
    * cardinality (e.g. user × type), not the stream length, so no watermark
    * is needed: the key set itself is the bounded thing. The streaming
    * analog of `SELECT DISTINCT keys`, drain-gated ≡ the batch distinct. */
  def distinctKeys(events: DataFrame, keys: Seq[String]): DataFrame =
    events.select(keys.map(col).toIndexedSeq: _*).dropDuplicates(keys)

  /** Tumbling-window count/sum per event type. Append output mode: a window
    * emits once its watermark passes — the streaming equivalent of the
    * reference finalizing yesterday's partition at midnight. */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /**
   * Stream-stream event correlation: all pairs with
   * `|leftTime − rightTime| <= tolerance` — the streaming form of
   * `Ops.rangeJoin` (clicks near any error, across two live streams).
   *
   * Same band-blocking trick as the batch operator, and here it earns its
   * keep twice: both sides are bucketed into tolerance-wide time bands and
   * the left is exploded to its adjacent bands, so the stream-stream join
   * has a REAL equi key. A keyless time-only stream join would hash every
   * row of both streams to a single state partition — one executor holds
   * all join state; the band key distributes state across the cluster
   * exactly like the batch shuffle. Recall is exact (any in-tolerance pair
   * differs by at most one band) and each pair meets on exactly one band
   * key (the right row's band), so no dedup pass is needed.
   *
   * State is bounded: both sides carry watermarks and the tolerance window
   * rides in the JOIN CONDITION itself (interval bounds on the two event
   * times, the canonical Spark stream-join constraint), so rows older than
   * `watermark + tolerance` are evicted from the join state store.
   *
   * Right-side columns colliding with a left-side name (both streams calling
   * their time column `ts`, the canonical case) are renamed with
   * `rightSuffix`, mirroring the batch operator's contract.
   *
   * Band-degeneration hazard: a streaming frame cannot be eagerly
   * aggregated, so unlike [[graft.ops.Ops.rangeJoin]] this operator cannot
   * self-check the band key's cardinality — collapsed timestamps (wrong
   * unit, constant clock) silently concentrate ALL join state into a few
   * band keys and the state store goes quadratic (round 13: 2.6 s → 471 s).
   * For file-backed sources, pre-flight the same files batch-side with
   * [[graft.ops.Ops.assertBandCardinality]] before starting the stream.
   */
  def correlated(left: DataFrame, right: DataFrame,
      leftTime: String, rightTime: String, tolerance: java.time.Duration,
      watermark: String = "1 hour", rightSuffix: String = "_r"): DataFrame = {
    val tolUs = tolerance.toNanos / 1000
    require(tolUs > 0, "tolerance must be positive")
    val leftCols = left.columns.toSet
    val renamed = right.columns.map(c => if (leftCols(c)) c + rightSuffix else c)
    require(renamed.toSet.size == renamed.length && !renamed.exists(leftCols),
      s"correlated rightSuffix '$rightSuffix' does not disambiguate: " +
        s"renamed right columns ${renamed.mkString(",")} still collide")
    val rTime = if (leftCols(rightTime)) rightTime + rightSuffix else rightTime
    val taken = leftCols ++ renamed
    val band = graft.ops.Ops.freshName(taken, "__band")
    def bandOf(t: org.apache.spark.sql.Column) =
      floor(unix_micros(t.cast("timestamp")) / lit(tolUs))
    val l = left.withWatermark(leftTime, watermark)
      .withColumn(band, explode(array(
        bandOf(col(leftTime)) - 1, bandOf(col(leftTime)), bandOf(col(leftTime)) + 1)))
    val r = right.toDF(renamed.toIndexedSeq: _*).withWatermark(rTime, watermark)
      .withColumn(band, bandOf(col(rTime)))
    // exact micro count as an INTERVAL literal (fractional-second seconds);
    // the interval bounds on the watermarked columns are what lets Spark
    // derive the state-eviction threshold for BOTH sides
    val iv = expr(s"INTERVAL '${java.math.BigDecimal.valueOf(tolUs, 6).toPlainString}' SECOND")
    val cond = l(band) === r(band) &&
      l(leftTime) >= r(rTime) - iv && l(leftTime) <= r(rTime) + iv
    l.join(r, cond, "inner").drop(l(band)).drop(r(band))
  }

  /**
   * Micro-batch CDC apply: upsert each micro-batch into `store`.`table` by
   * `pk` — the streaming form of the changed-key update path (A4, §2.11),
   * i.e. a continuously-maintained copy of a mutating source. Each batch
   * applies through [[graft.store.TableStore.atomicOverwrite]]'s rename
   * swap, so readers never observe a torn state; a post-crash replay of
   * the same micro-batch is idempotent (the anti/union upsert of identical
   * rows rebuilds the identical table). In-batch duplicate keys resolve
   * last-write-wins on `orderCol`; rows sharing BOTH `pk` and `orderCol`
   * are indistinguishable versions and resolve arbitrarily — feed a
   * strictly increasing per-key sequence (CDC offset, update timestamp)
   * for a fully deterministic copy.
   *
   * Scale note: each trigger rewrites the table (parquet has no in-place
   * update), which is the right shape for dimension-sized targets fed by
   * CDC trickle; fact-sized targets should partition and use
   * [[graft.store.TableStore.overwriteDatePartitions]] per batch instead.
   */
  def upsertInto(events: DataFrame, store: graft.store.TableStore, table: String,
      pk: String, orderCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val fresh = latestPerKey(batch, pk, orderCol)
      // upsertExact, not upsert: the audit-dropping copy contract would strip
      // a CDC pk named 'id' (or a data column named 'insert_datetime') from
      // every batch after the first, diverging from the create path's schema
      if (!store.exists(table)) store.atomicOverwrite(table, fresh)
      else store.atomicOverwrite(table,
        // readEvolved: a CDC source that gained a field leaves the table
        // mixed-schema until the next full rewrite; a single-footer read
        // would see an arbitrary schema and break the unionByName
        graft.ops.Ops.upsertExact(store.readEvolved(table), fresh, pk, fresh.select(pk)))
      ()
    }

  /** Last-write-wins per key: each `pk`'s row with the greatest
    * `orderCol` (ties resolve arbitrarily), via a `row_number` window under
    * a temp name absent from the batch. */
  private def latestPerKey(batch: DataFrame, pk: String, orderCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(pk).orderBy(col(orderCol).desc)
    val rn = graft.ops.Ops.freshName(batch.columns.toSet, "__rn")
    batch.withColumn(rn, row_number().over(w)).filter(col(rn) === 1).drop(rn)
  }

  /**
   * Partition-scoped micro-batch CDC apply — the FACT-sized form of
   * [[upsertInto]]: instead of rewriting the whole table per trigger, each
   * batch touches only the date partitions its rows fall in. Per batch:
   * last-write-wins dedup on (`pk`, `orderCol`), read ONLY the affected
   * `partCol=` partitions (partition pruning — the rest of a 100 TB table
   * is never opened), upsert the fresh rows into them, and swap just those
   * day directories via
   * [[graft.store.TableStore.overwriteDatePartitions]]'s per-partition
   * atomic renames. Cost per trigger tracks the batch's day span, not the
   * table.
   *
   * `partCol` must be a DATE column that is STABLE per key (an event-time
   * date): a CDC image that moves a key to a different day would leave the
   * old day's row in place — that shape needs the whole-table
   * [[upsertInto]] (or a tombstone protocol) instead. Unlike
   * [[upsertInto]], audit-column semantics don't apply here either: all
   * batch columns are data ([[graft.ops.Ops.upsertExact]] underneath).
   */
  def upsertIntoPartitions(events: DataFrame, store: graft.store.TableStore, table: String,
      pk: String, orderCol: String, partCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(events.schema(partCol).dataType == org.apache.spark.sql.types.DateType,
      s"upsertIntoPartitions: $partCol must be DATE, is ${events.schema(partCol).dataType}")
    events.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      // persisted: the deduped batch feeds TWO jobs (the day collect and the
      // partition write) — without it the window recomputes per job
      val fresh = latestPerKey(batch, pk, orderCol).persist()
      try {
        // day list is bounded by the batch's event-time span, not its rows.
        // A NULL day has no partition to live in — fail the batch loudly
        // here instead of NPE-ing (or landing in __HIVE_DEFAULT_PARTITION__
        // and tripping the undeclared-partition check downstream).
        val days = fresh.select(col(partCol)).distinct().collect().map { r =>
          require(!r.isNullAt(0),
            s"upsertIntoPartitions: batch contains rows with NULL $partCol — " +
              "a date-partitioned CDC target needs a non-null event date")
          r.getDate(0).toLocalDate
        }.toSeq
        if (days.nonEmpty) {
          if (!store.exists(table))
            store.atomicOverwrite(table, fresh, partitionBy = Seq(partCol))
          else {
            val affected = store.readEvolved(table) // mixed footers after evolution
              .filter(col(partCol).isin(days.map(java.sql.Date.valueOf): _*))
            store.overwriteDatePartitions(table,
              graft.ops.Ops.upsertExact(affected, fresh, pk, fresh.select(pk)),
              partCol, days)
          }
        }
      } finally fresh.unpersist()
      ()
    }
  }

  /**
   * Per-commit change feed over a [[graft.store.TableStore]] table — the
   * store's commit history consumed AS a stream of CDC batches, completing
   * the loop the reference drives off a source column convention
   * (`TableUpdateService.cs:108-166`: poll for what changed, apply it):
   * here the storage layer itself is the change source, no convention
   * needed. Returns one `(generation, diff)` per commit after `sinceGen`,
   * oldest first; each diff is the manifest-aware incremental
   * [[graft.store.TableStore.generationDiff]] against the previous commit
   * (`__change` ∈ insert/delete), so a consumer that applies the batches in
   * order reconstructs the table's current state from wherever it left off.
   *
   * Scale shape: each batch's scan covers only the manifest entries that
   * CHANGED in that commit (untouched partitions/append dirs are skipped
   * pre-shuffle), so a feed over a date-partitioned 100 TB table pays per
   * batch for the commit's touched partitions, not the table. The window
   * is bounded by generation retention — size `keepGenerations` (or pin a
   * run snapshot) to the consumer's maximum lag; a consumer further behind
   * than retention must re-bootstrap from a full read.
   */
  def changes(store: graft.store.TableStore, table: String,
      sinceGen: Long): Seq[(Long, DataFrame)] = {
    val gens = store.generations(table).filter(_ >= sinceGen).sorted
    require(gens.headOption.contains(sinceGen),
      s"changes('$table', sinceGen=$sinceGen): generation $sinceGen is outside the retained " +
        s"window [${store.generations(table).sorted.mkString(", ")}] — the consumer lagged past " +
        "retention; re-bootstrap from a full read")
    gens.sliding(2).collect { case Seq(prev, next) =>
      next -> store.generationDiff(table, prev, next)
    }.toSeq
  }

  /** Drive [[changes]] foreachBatch-style: apply `f(diff, generation)` to
    * each pending commit in order and return the last generation processed
    * (the cursor to persist and pass back as the next call's `sinceGen` —
    * same contract as a streaming checkpoint, surfaced explicitly because
    * the commit log, not a receiver, is the source). Returns `sinceGen`
    * unchanged when nothing new committed. */
  def drainChanges(store: graft.store.TableStore, table: String, sinceGen: Long)
      (f: (DataFrame, Long) => Unit): Long = {
    val batches = changes(store, table, sinceGen)
    batches.foreach { case (gen, diff) => f(diff, gen) }
    batches.lastOption.map(_._1).getOrElse(sinceGen)
  }

  /**
   * Resumable micro-batch driver over [[changes]] — the streaming-native
   * change feed: the checkpointed cursor lives in `checkpointDir`, so unlike
   * [[drainChanges]] (whose caller owns the cursor) a consumer process can
   * die anywhere and the next invocation resumes at the first unapplied
   * commit, exactly like restarting a Structured Streaming query on its
   * checkpoint. Each call drains every commit newer than the cursor through
   * `f(diff, generation)` and advances the durable cursor AFTER each batch.
   *
   * Cursor durability protocol: the cursor is encoded in the FILE NAME
   * (`cursor-<generation>`, content irrelevant), written after each applied
   * batch, older files then best-effort deleted; the reader takes the max.
   * A crash at any instant leaves the previous cursor file intact — a
   * half-written cursor cannot exist because the name IS the value, on any
   * filesystem (no atomic-rename-over requirement). Delivery is therefore
   * at-least-once per commit: a crash between `f` and the cursor write
   * replays exactly that batch on restart — same contract `foreachBatch`
   * gives, so `f` should be idempotent per generation (apply-by-key, or
   * stamp the generation and skip duplicates).
   *
   * The FIRST run (no checkpoint yet) starts from `bootstrapGen` when given
   * — the generation a full bootstrap read pinned, so the feed continues
   * seamlessly after it — else from the current head (only commits after
   * "now" flow). A cursor older than the store's retention makes [[changes]]
   * refuse loudly; re-bootstrap from a full read.
   *
   * Scale shape: per poll the work is one O(retained-generations) marker
   * listing plus the manifest-aware diffs of NEW commits only — cost tracks
   * what changed since the cursor, never the table.
   *
   * Returns the cursor after draining (== the previous cursor when nothing
   * new committed).
   */
  def resumableChanges(store: graft.store.TableStore, table: String, checkpointDir: String,
      bootstrapGen: Option[Long] = None)(f: (DataFrame, Long) => Unit): Long = {
    val spark = org.apache.spark.sql.SparkSession.active
    val dir = new org.apache.hadoop.fs.Path(checkpointDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    def readCursor(): Option[Long] = fs.listStatus(dir).toSeq
      .flatMap(s => s.getPath.getName.stripPrefix("cursor-").toLongOption
        .filter(_ => s.getPath.getName.startsWith("cursor-")))
      .maxOption
    def writeCursor(g: Long): Unit = {
      fs.create(new org.apache.hadoop.fs.Path(dir, s"cursor-$g"), true).close()
      fs.listStatus(dir).foreach { s => // best-effort: stale cursors are harmless
        s.getPath.getName.stripPrefix("cursor-").toLongOption
          .filter(_ < g && s.getPath.getName.startsWith("cursor-"))
          .foreach(_ => try fs.delete(s.getPath, false) catch { case _: java.io.IOException => () })
      }
    }
    val start = readCursor().orElse(bootstrapGen).getOrElse(
      store.generations(table).headOption.getOrElse(throw new IllegalArgumentException(
        s"resumableChanges('$table'): table has no committed generations to anchor a feed on")))
    var cursor = start
    changes(store, table, cursor).foreach { case (gen, diff) =>
      f(diff, gen)
      writeCursor(gen)
      cursor = gen
    }
    if (readCursor().isEmpty) writeCursor(cursor) // pin the bootstrap anchor
    cursor
  }

  /**
   * Event-time sessionization via `flatMapGroupsWithState` — the custom
   * stateful-operator surface (`KeyValueGroupedDataset`): per-user state is
   * `(count, start, end)`, extended while events keep arriving within
   * `gap`; when the event-time watermark passes `end + gap` the state times
   * out and the closed session is emitted. State per key is three longs —
   * bounded regardless of stream length — and keys are distributed by
   * user hash, so the operator scales with the keyspace, not the history.
   */
  def sessionize(spark: SparkSession, events: DataFrame, gap: String = "30 minutes")
      : org.apache.spark.sql.Dataset[Session] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val gapIv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    require(gapIv.months == 0, s"session gap '$gap' must not use month units (variable length)")
    val gapUs = gapIv.days * 86400000000L + gapIv.microseconds
    require(gapUs > 0, s"session gap '$gap' must be positive")
    // MICROsecond arithmetic end-to-end: Timestamp.getTime truncates to
    // millis, and the fixtures' timestamps are sub-millisecond, so a
    // ms-rounded gap comparison could close/extend a session differently
    // from the micro-precision batch sessionizer this operator is gated
    // against (a 1800.0004 s gap is > 30 min in micros, == in millis)
    def micros(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    def fromMicros(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    val typed = events.select(col("user_id"), col("ts").cast("timestamp").as("ts"))
      .withWatermark("ts", gap)
      .as[(Long, java.sql.Timestamp)]
    typed.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (userId: Long, rows: Iterator[(Long, java.sql.Timestamp)], state: GroupState[SessionState]) =>
        def emit(s: SessionState) = Session(userId, s.nEvents,
          fromMicros(s.start), fromMicros(s.end))
        if (state.hasTimedOut) {
          val s = state.get
          state.remove()
          Iterator.single(emit(s))
        } else {
          // flatMapGroupsWithState does NOT drop late rows itself. An event
          // more than gap BEFORE the open session belongs to an earlier
          // session: closing it immediately (instead of merging) keeps every
          // emitted session gap-consistent; merging would fabricate sessions
          // spanning silent gaps. Out-of-order events within the gap extend
          // the session exactly like in-order ones.
          val times = rows.map(r => micros(r._2)).toSeq
          val closed = scala.collection.mutable.ListBuffer.empty[SessionState]
          var st = state.getOption.getOrElse(SessionState(0, Long.MaxValue, Long.MinValue))
          times.sorted.foreach { t =>
            if (st.nEvents > 0 && (t - st.end > gapUs || t < st.start - gapUs)) {
              closed += st
              st = SessionState(0, Long.MaxValue, Long.MinValue)
            }
            st = SessionState(st.nEvents + 1, math.min(st.start, t), math.max(st.end, t))
          }
          // an old straggler session (entirely behind the watermark) closes
          // now; otherwise keep it open and time out at end+gap — the
          // timeout API is millisecond-based, so round UP (never early) and
          // clamp above the current watermark or setTimeoutTimestamp throws
          val wm = state.getCurrentWatermarkMs()
          if (st.nEvents > 0 && st.end + gapUs <= wm * 1000L) {
            closed += st
            state.remove()
          } else {
            state.update(st)
            state.setTimeoutTimestamp(math.max((st.end + gapUs + 999L) / 1000L, wm + 1))
          }
          closed.iterator.map(emit)
        }
    }
  }
}
