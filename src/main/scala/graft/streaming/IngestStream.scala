package graft.streaming

import graft.ext.Dedup
import graft.store.TableStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Streaming document-ingest dedup: a file stream of incoming documents is
 * probed, micro-batch by micro-batch, against a PERSISTED LSH dedup index
 * ([[graft.ext.Dedup.buildLshIndex]]), and only the near-dup survivors
 * reach the sink table — the streaming form of the ingest loop the batch
 * gates `dedup_incremental_fuzzy`/`_grow` pin (SURVEY §2.11/§2.12: the
 * "continuously arriving crawl" shape, where dedup must happen before
 * storage, not as a nightly batch).
 *
 * Mechanics: `foreachBatch` applies [[Dedup.dedupeAgainstLshIndex]] to
 * each micro-batch — a stream-static join against the stored bucket/set
 * tables, which Structured Streaming permits without watermarks because
 * the static side is re-read per batch — then appends survivors to
 * `sink` (an O(1)-committed [[TableStore]] generation per batch). With
 * `grow = true` each batch's survivors are ALSO appended to the index
 * ([[Dedup.appendToLshIndex]]) before the next micro-batch runs —
 * foreachBatch executes micro-batches strictly sequentially, so batch
 * N+1 dedupes against archive ∪ all prior survivors exactly like the
 * batch grow loop.
 *
 * Scale posture: per micro-batch cost tracks the BATCH (shingle + probe
 * the stored buckets), never the archive — the corpus is shingled once
 * at index build; state lives in the store, not in Spark streaming
 * state, so a restart resumes from the checkpoint with nothing to
 * rebuild.
 *
 * Exactly-once: `foreachBatch` is only AT-LEAST-once — a crash between
 * the sink write and the streaming checkpoint commit REPLAYS the
 * micro-batch on resume — so every write inside the batch body is
 * batchId-keyed through [[TableStore.appendIdempotent]] (sink and, under
 * grow, both LSH segment tables): a replayed batch's appends are no-ops
 * for whatever the crashed attempt already committed and complete the
 * rest, converging on the same store state as a clean run. (A replay
 * after the grow-append committed recomputes survivors against an index
 * that already holds them — every doc then collides with itself at
 * jaccard 1.0, the survivor set is empty, and the keyed appends skip:
 * consistent from both directions.)
 */
object IngestStream {

  /** `prepare` runs on each micro-batch BEFORE dedup — the hook for the
    * batch-side cleaning stages that cannot run on the unbounded stream
    * (e.g. [[graft.ext.Urls.filterBlockedDomains]], whose suffix join +
    * distinct is a batch aggregation): files land → parse → prepare →
    * LSH dedup → exactly-once append. Identity by default. */
  def dedupToStore(stream: DataFrame, store: TableStore, index: Dedup.LshIndex,
      idCol: String, textCol: String, threshold: Double, sink: String,
      grow: Boolean = false, checkpoint: Option[String] = None,
      prepare: DataFrame => DataFrame = identity): StreamingQuery = {
    val writer = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // survivors feed the sink append AND (under grow) the index append —
        // checkpointed so the LSH probe pipeline runs once per batch (durable
        // under a session checkpoint dir, see Caches.trackCheckpoint),
        // tracked so the per-batch release below actually frees the blocks
        // (Dataset.unpersist on a checkpointed frame is a silent no-op)
        val survivors = graft.ext.Caches.trackCheckpoint(
          Dedup.dedupeAgainstLshIndex(store, index, prepare(batch), idCol, textCol,
            threshold))
        store.appendIdempotent(sink, survivors, s"stream-$batchId")
        if (grow) Dedup.appendToLshIndex(store, index, survivors, idCol, textCol,
          idempotencyKey = Some(s"stream-$batchId"))
        Dedup.unpersistAll() // per-batch tracked caches + the checkpoint above
        ()
      }
      .trigger(Trigger.AvailableNow())
    // an explicit checkpoint makes the ingest loop RESUMABLE: a second
    // AvailableNow drain over the same checkpoint processes only files the
    // first drain has not committed (pinned by IngestStreamSpec)
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c)).start()
  }

  /** Open a parquet file stream over staged document files, schema probed
    * from a batch footer read of the same path (the schema-on-source
    * discipline of [[EventStream.read]]; documents carry no event-time
    * column, so no normalization applies). */
  def readDocs(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 1): DataFrame = {
    val probed = spark.read.parquet(dir).schema
    spark.readStream.schema(probed)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)
  }

  /** Open a WET (Common Crawl) file stream: newly landed `.warc.wet.gz`
    * files parse byte-exactly ([[graft.io.Warc]] — same partition-wise
    * incremental framing as the batch reader, which Structured Streaming
    * permits on a typed map) into `(uri, date, lang, text)` micro-batches.
    * Compose with [[dedupToStore]] (idCol = `uri`) for the literal
    * continuously-arriving crawl: files land → parse → LSH dedup against
    * the archive → exactly-once store append. `binaryFile` is a supported
    * streaming source used for file TRACKING only — pruned to `path`, so
    * contents stream through [[graft.io.Warc.parseFiles]]'s O(record)
    * framer instead of materializing per-file (real ~1 GB-inflated crawl
    * shards would OOM the whole-file route); one task per gzip member,
    * the format's parallelism ceiling either way. */
  def readWetDocs(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val paths = spark.readStream.format("binaryFile")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      // binaryFile's fixed schema must still be declared for streaming
      .schema("path string, modificationTime timestamp, length long, content binary")
      .load(dir)
      .select(col("path")).as[String]
    graft.io.Warc.parseFiles(paths).toDF("uri", "wdate", "lang", "text")
  }
}
