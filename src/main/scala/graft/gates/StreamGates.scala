package graft
package gates

import graft.Queries._
import graft.ext.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The Structured Streaming path (`stream_*`), each gate drained with
 * `Trigger.AvailableNow` under the [[streamDrainMs]] guard.
 */
object StreamGates {

  /**
   * Run `body` with `spark.sql.shuffle.partitions` temporarily lowered to
   * `n` — STREAMING drains only. A stateful streaming operator instantiates
   * one state store (checkpoint dir, provider, maintenance task) per
   * shuffle partition per stateful operator; at the gate/bench data scale
   * that lifecycle dominates the actual work, so drains size state
   * partitions to their load exactly as a production job sizes
   * `shuffle.partitions` to its stream volume (the partition count is
   * pinned into the checkpoint at first start — a real deployment chooses
   * it deliberately; riding the batch session default is the accident).
   * Restored in `finally`, so surrounding batch plans are untouched.
   */
  private def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Stage the events fixture into a stream-source dir, LAYOUT-AGNOSTIC:
    * sf0.1 ships `events.parquet` as one file, but scaled replicas
    * (`BuildScaled`) ship it as a parquet DIRECTORY of part files — a plain
    * `Files.copy` of a directory copies only the empty dir entry, the
    * stream reads zero rows, and the gate dies far from the cause (the sf1
    * 10× probe hit exactly this). Part files land directly in `in` (the
    * file stream source does not recurse into subdirs), `prefix`ed so
    * repeated stagings of the same fixture never collide. */
  private def stageEvents(d: String, in: java.nio.file.Path, prefix: String): Unit = {
    val src = java.nio.file.Paths.get(d, "events.parquet")
    if (java.nio.file.Files.isDirectory(src)) {
      val st = java.nio.file.Files.list(src)
      try st.forEach { p =>
        if (p.toString.endsWith(".parquet"))
          java.nio.file.Files.copy(p, in.resolve(s"$prefix-${p.getFileName}"))
      } finally st.close()
    } else java.nio.file.Files.copy(src, in.resolve(s"$prefix.parquet"))
  }

  /** Streaming gates' drain guard (default 300 s — generous at every driver
    * SF; a stream that hasn't drained by then has degenerate state or
    * quadratic output, and the guard names it instead of hanging the gate).
    * `SPARK_GRAFT_STREAM_DRAIN_MS` raises it for scale PROBES whose output
    * is legitimately large (the 100× replica multiplies event density and
    * with it the correlation join's output — BASELINE.md round 20); the
    * driver never sets it, so gate behavior is unchanged. */
  private lazy val streamDrainMs: Long = {
    val raw = sys.env.get("SPARK_GRAFT_STREAM_DRAIN_MS")
    val ms = try raw.map(_.trim.toLong).getOrElse(300000L)
    catch {
      case e: NumberFormatException => throw new IllegalArgumentException(
        s"SPARK_GRAFT_STREAM_DRAIN_MS must be a millisecond count: '${raw.get}'", e)
    }
    require(ms > 0, s"SPARK_GRAFT_STREAM_DRAIN_MS must be positive: $ms")
    ms
  }

  /** Wait for a streaming gate's query `q` to drain under the
    * [[streamDrainMs]] guard; a stream still running at the deadline is
    * stopped and named instead of hanging the gate. */
  private def awaitDrained(q: org.apache.spark.sql.streaming.StreamingQuery, gate: String): Unit =
    if (!q.awaitTermination(streamDrainMs)) {
      q.stop()
      throw new IllegalStateException(s"$gate did not drain within ${streamDrainMs / 1000} s")
    }

  /** stream_correlated's pre-flight band guard (one batch aggregation over
    * the error slice) — corpus-deterministic setup, asserted once per JVM;
    * the streaming range-correlation itself is the gate's operator. */
  private val correlatedBandGuard =
    Fixture("bandguard") { (s, d) =>
      graft.ops.Ops.assertBandCardinality(
        graft.io.Tables.load(s, d, "events").filter(col("event_type") === "error"),
        "ts", java.time.Duration.ofSeconds(60), minRows = 1000L)
    }

  // ---- per-process STAGED STREAM INPUT fixtures ----
  // Input staging (writing the deterministic source files a stream drains)
  // is not the streaming operator the gates certify; the streams themselves
  // (checkpoint, state, sink/store) run fresh per invocation. Staged dirs
  // are consumed READ-ONLY by the file stream source.

  /** stream_cdc_apply's staged change files (base images + seq=1 updates). */
  private val cdcInputDir =
    Fixture("cdcin") { (s, d) =>
      val dir = graft.io.TempDirs.create("graft-cdc-in").toString
      val base = events(s, d).withColumn("seq", lit(0L))
      base.write.parquet(s"$dir/f0")
      base.filter(col("event_id") % 10 === 0)
        .withColumn("value", col("value") + 100)
        .withColumn("seq", lit(1L))
        .write.parquet(s"$dir/f1")
      dir
    }

  /** stream_cms_merge's staged corpus halves. */
  private val cmsInputDir =
    Fixture("cmsin") { (s, d) =>
      val dir = graft.io.TempDirs.create("graft-cms-in").toString
      val doc = docs(s, d)
      doc.filter(pmod(col("doc_id"), lit(2)) === 0).coalesce(1)
        .write.parquet(s"$dir/h0")
      doc.filter(pmod(col("doc_id"), lit(2)) === 1).coalesce(1)
        .write.parquet(s"$dir/h1")
      dir
    }

  /** stream_ingest_dedup's staged incoming batches (docs ≥ 250 as two
    * single-file slices, one micro-batch each under maxFilesPerTrigger=1). */
  private val ingestInputDir =
    Fixture("ingestin") { (s, d) =>
      val root = graft.io.TempDirs.create("graft-ingest-base")
      val in = root.resolve("in")
      java.nio.file.Files.createDirectories(in)
      val doc = docs(s, d)
      def stage(df: DataFrame, name: String): Unit = {
        val w = root.resolve(s"${name}_w")
        df.coalesce(1).write.mode("overwrite").parquet(w.toString)
        val st = java.nio.file.Files.list(w)
        try st.forEach { p =>
          if (p.toString.endsWith(".parquet"))
            java.nio.file.Files.copy(p, in.resolve(s"$name.parquet"))
        } finally st.close()
      }
      stage(doc.filter(col("doc_id") >= 250 && col("doc_id") < 375), "b0")
      stage(doc.filter(col("doc_id") >= 375), "b1")
      in.toString
    }

  /** stream_sessions' sentinel event (max(ts)+1d in the SOURCE's own ts
    * representation) as a staged single parquet file, computed once per
    * JVM — the drain-advancing append is a file copy per invocation. */
  private val sessionSentinelFile =
    Fixture("sentinel") { (s, d) =>
      val dir = graft.io.TempDirs.create("graft-sess-sent")
      val src = s.read.parquet(s"$d/events.parquet")
      val tsType = src.schema("ts").dataType
      val plusDay = tsType match {
        case org.apache.spark.sql.types.LongType =>
          max(col("ts")) + lit(86400L * 1000000000L) // ns-epoch long
        case _ => (max(col("ts")) + expr("INTERVAL 1 DAY")).cast(tsType)
      }
      src.agg(plusDay.as("ts")).select(
          lit(-1L).as("event_id"), col("ts"),
          lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
          lit(0.0).as("value"), lit(null).cast("string").as("props"))
        .coalesce(1).write.parquet(dir.resolve("w").toString)
      val st = java.nio.file.Files.list(dir.resolve("w"))
      val part = try st.filter(p => p.toString.endsWith(".parquet"))
        .findFirst().orElseThrow(() =>
          new IllegalStateException("sentinel write produced no parquet part"))
      finally st.close()
      part
    }

  val gates: Seq[Gate] = Seq(
    // ---- streaming (§2.11): the Structured Streaming path gated against a
    // batch oracle — complete-mode tumbling day windows over the events
    // stream, drained with Trigger.AvailableNow, must equal DuckDB's batch
    // group-by. Proves stream ≡ batch at the driver's hash gate.
    Gate("stream_windowed_counts", ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      s.catalog.dropTempView("stream_wc") // stale sink table from a prior run
      // glob (not the bare file path): FileStreamSource requires a directory
      // or glob basePath; the glob's parent dir becomes the base
      val stream = graft.streaming.EventStream.read(s, s"$d/events.parque*")
      val q = graft.streaming.EventStream.windowedCounts(stream, "1 day", "1 hour")
        .writeStream.format("memory").queryName("stream_wc")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      // bounded wait: a hung stream must fail THIS query, not stall the
      // whole verify/bench harness
      awaitDrained(q, "stream_windowed_counts")
      s.table("stream_wc").select(
        // streaming event-time is TIMESTAMP (LTZ, UTC session) — emit NTZ to
        // match the batch/oracle type; round the double sum (ulp-order
        // differences between engines' summation orders)
        col("window_start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n_events"),
        round(col("total_value"), 6).as("total_value"))
    }),
      """SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS window_start, event_type,
        |       count(*) AS n_events, round(sum(value), 6) AS total_value
        |  FROM events GROUP BY 1, 2""".stripMargin),
    // streaming stateful distinct drained AvailableNow, gated ≡ batch DISTINCT
    Gate("stream_distinct_pairs", ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      s.catalog.dropTempView("stream_dp")
      val stream = graft.streaming.EventStream.read(s, s"$d/events.parque*")
      val q = graft.streaming.EventStream.distinctKeys(stream, Seq("user_id", "event_type"))
        .writeStream.format("memory").queryName("stream_dp")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      awaitDrained(q, "stream_distinct_pairs")
      s.table("stream_dp")
    }),
      "SELECT DISTINCT user_id, event_type FROM events"),
    // stream-stream range correlation drained AvailableNow, gated ≡ the
    // batch rangeJoin oracle: clicks within 60 s of any error, both sides
    // live streams joined on the banded time key. Inner stream joins emit
    // on match (the watermark only bounds state), so one drain sees every
    // pair once both sides' single micro-batch has loaded.
    Gate("stream_correlated", ((s, d) => withStatePartitions(s, 8) {
      import org.apache.spark.sql.streaming.Trigger
      s.catalog.dropTempView("stream_corr")
      // pre-flight band guard on the same files, batch-side: a stream can't
      // aggregate its own input eagerly, so validate the band key's
      // cardinality BEFORE committing stream-join state to it (r13: a
      // collapsed ts column made this query's state explode 179×).
      // Asserted once per JVM (r20 wave 2b — corpus-deterministic setup);
      // the streaming correlation below runs fresh per invocation
      correlatedBandGuard(s, d)
      def side(tpe: String, idAs: String) =
        graft.streaming.EventStream.read(s, s"$d/events.parque*")
          .filter(col("event_type") === tpe)
          .select(col("event_id").as(idAs), col("ts"))
      val q = graft.streaming.EventStream.correlated(
          side("click", "click_id"), side("error", "error_id"),
          "ts", "ts", java.time.Duration.ofSeconds(60))
        .select("click_id", "error_id")
        .writeStream.format("memory").queryName("stream_corr")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      awaitDrained(q, "stream_correlated")
      s.table("stream_corr")
    }),
      // the streaming band join must equal the batch range join exactly
      rangeJoinEventsSql,
      fixtures = Seq(correlatedBandGuard)),
    // streaming sessionize drained to closed sessions, gated ≡ the batch
    // gap-session rollup (agg_user_sessions oracle). flatMapGroupsWithState
    // only EMITS a session when its event-time timeout fires, so after the
    // real corpus drains, a sentinel event one day past the stream's end is
    // appended and a second drain (same checkpoint) advances the watermark
    // past every real session's end+gap — the still-open tails time out and
    // emit. The sentinel's own session (user −1) never closes; it is
    // excluded below. Two drains over one checkpoint is the same restart
    // pattern the CDC specs use; the parquet sink accumulates across them
    // (a memory sink would drop drain 1's rows on re-registration).
    Gate("stream_sessions", ((s, d) => withStatePartitions(s, 8) {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = graft.io.TempDirs.create("graft-stream-sess")
      val in = tmp.resolve("in")
      java.nio.file.Files.createDirectories(in)
      stageEvents(d, in, "events")
      val out = s"$tmp/out"
      def drain(): Unit = {
        val q = graft.streaming.EventStream.sessionize(
            s, graft.streaming.EventStream.read(s, in.toString), "30 minutes")
          .toDF().writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", s"$tmp/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        awaitDrained(q, "stream_sessions")
      }
      drain() // the real corpus: every session behind the final watermark emits
      // the sentinel (max(ts)+1d in the SOURCE's own ts representation —
      // see sessionSentinelFile) comes precomputed from the per-JVM
      // fixture cache; appending it here is a file COPY, which is all the
      // second drain needs (the checkpoint sees one new file)
      java.nio.file.Files.copy(sessionSentinelFile(s, d),
        in.resolve("sentinel.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      drain() // same checkpoint: only the sentinel file is new
      s.read.parquet(out).filter(col("userId") >= 0L)
        .groupBy("userId")
        .agg(count(lit(1)).as("n_sessions"), max(col("nEvents")).as("longest_session"))
        .select(col("userId").as("user_id"), col("n_sessions"), col("longest_session"))
    }),
      // streaming sessionize must reproduce the batch gap sessions exactly
      userSessionsSql,
      fixtures = Seq(sessionSentinelFile)),
    // streaming exactly-once dedup gated against plain DISTINCT: the corpus
    // is staged TWICE (every event a true duplicate), the stream must emit
    // each event_id once. Watermark spans the fixture (31 days > the 30-day
    // event range) so no dedup state evicts mid-drain.
    // streaming ingest dedup: the batch `dedup_incremental_fuzzy` split
    // (index = docs < 250, incoming = docs >= 250) arriving as TWO staged
    // parquet files drained one per micro-batch (maxFilesPerTrigger=1) —
    // each micro-batch probes the persisted LSH index via foreachBatch and
    // appends its survivors to a store table; the final survivor set must
    // be row-identical to the batch path (shared brute-force oracle).
    // Survivors vs a STATIC index are micro-batch-order independent, so the
    // gate is deterministic whatever order the file source picks; the
    // sequential grow-the-index variant is spec-pinned (IngestStreamSpec).
    Gate("stream_ingest_dedup", ((s, d) => {
      // archive index from the per-JVM fixture cache (copied tree); the
      // STREAMING leg — micro-batch probes via foreachBatch + survivor
      // appends — is the operator and runs fresh per invocation
      val store = lshCorpusIndexDir.storeCopy(s, d, "graft-ingest-store")
      val idx = Dedup.loadLshIndex(store, "corpus_lsh")
      // staged incoming batches from the per-JVM fixture cache (r20 wave
      // 2): input staging is not the operator; the micro-batch probe +
      // survivor appends below run fresh on a fresh store copy, and the
      // file source reads the staged dir READ-ONLY
      val in = ingestInputDir(s, d)
      val q = graft.streaming.IngestStream.dedupToStore(
        graft.streaming.IngestStream.readDocs(s, in),
        store, idx, "doc_id", "text", 0.8, "survivors")
      awaitDrained(q, "stream_ingest_dedup")
      store.read("survivors").select("doc_id", "text", "lang", "source", "n_chars")
    }),
      // the STREAMING ingest path must land exactly the batch path's survivor
      // set: same index split, same threshold, same brute-force oracle
      incrementalFuzzySql,
      fixtures = Seq(lshCorpusIndexDir, ingestInputDir)),
    Gate("stream_dedup", ((s, d) => withStatePartitions(s, 8) {
      import org.apache.spark.sql.streaming.Trigger
      s.catalog.dropTempView("stream_dd")
      val tmp = graft.io.TempDirs.create("graft-stream-dedup")
      val in = tmp.resolve("in")
      java.nio.file.Files.createDirectories(in)
      stageEvents(d, in, "f0")
      stageEvents(d, in, "f1")
      val q = graft.streaming.EventStream.dedupedEvents(
          graft.streaming.EventStream.read(s, in.toString), watermark = "31 days")
        .writeStream.format("memory").queryName("stream_dd")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      awaitDrained(q, "stream_dedup")
      s.table("stream_dd").select(col("event_id"),
        col("ts").cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    }),
      // the doubled stream deduped ≡ the table itself (event_id unique)
      s"SELECT $evCols FROM events"),
    // streaming CDC apply gated end-to-end: a change stream (base images
    // seq=0 plus updated images seq=1 for every 10th key) upserted into a
    // temp TableStore copy; the post-state must equal the DuckDB
    // reconstruction. In-batch last-write-wins on seq resolves the
    // duplicate keys regardless of how AvailableNow batches the files.
    Gate("stream_cdc_apply", ((s, d) => withStatePartitions(s, 8) {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = graft.io.TempDirs.create("graft-stream-cdc")
      val store = new graft.store.TableStore(s, s"$tmp/store")
      // staged change files from the per-JVM fixture cache (r20 wave 2):
      // input staging is not the operator; the streaming upsert below
      // (fresh checkpoint + fresh target store) is, and the file source
      // reads the staged dir READ-ONLY
      val in = cdcInputDir(s, d)
      val schema = events(s, d).withColumn("seq", lit(0L)).schema
      val stream = s.readStream.schema(schema).parquet(s"$in/f*")
      val q = graft.streaming.EventStream.upsertInto(stream, store, "copy", "event_id", "seq")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      awaitDrained(q, "stream_cdc_apply")
      store.read("copy")
    }),
      """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
        |       CASE WHEN event_id % 10 = 0 THEN value + 100 ELSE value END AS value,
        |       props,
        |       CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END AS seq
        |  FROM events""".stripMargin,
      fixtures = Seq(cdcInputDir)),
    // the count–min sketch streamed: one sketch of cells per micro-batch
    // (maxFilesPerTrigger=1 over two staged corpus halves forces >= 2
    // batches, require-checked), cells appended to a store table, merged
    // at read by a plain cell-wise SUM — the sketch is distributive, so
    // the merged result must equal the whole-corpus sketch (same oracle
    // as the batch gate); the probe then runs against the MERGED sketch
    Gate("stream_cms_merge", ((s, d) => withStatePartitions(s, 8) {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = graft.io.TempDirs.create("graft-stream-cms")
      val store = new graft.store.TableStore(s, s"$tmp/store")
      val doc = docs(s, d)
      // staged corpus halves from the per-JVM fixture cache (r20 wave 2):
      // the per-micro-batch sketch + idempotent append + merged probe below
      // are the operator and run fresh (fresh checkpoint + fresh store)
      val in = cmsInputDir(s, d)
      val batches = new java.util.concurrent.atomic.AtomicInteger(0)
      val q = s.readStream.schema(doc.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$in/h*")
        .writeStream.foreachBatch { (b: DataFrame, batchId: Long) =>
          batches.incrementAndGet()
          // batchId-keyed so a replayed micro-batch cannot double-count
          // cells (the IngestStream exactly-once discipline)
          store.appendIdempotent("cms_cells", ext.Profiling.cmsSketch(
            b.select(explode(TextAnalysis.tokens(col("text"))).as("t")), "t"),
            s"cms-$batchId")
          (): Unit
        }
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      awaitDrained(q, "stream_cms_merge")
      require(batches.get() >= 2,
        s"expected >= 2 micro-batches, got ${batches.get()}")
      val merged = store.read("cms_cells")
        .groupBy("row", "bucket").agg(sum("cnt").as("cnt"))
      ext.Profiling.cmsProbe(doc, "text", merged)
    }),
      // the streamed sketch is cell-wise-sum distributive, so the merged
      // micro-batch sketch IS the whole-corpus sketch — same oracle
      cmsProbeSql,
      fixtures = Seq(cmsInputDir))
  )
}
