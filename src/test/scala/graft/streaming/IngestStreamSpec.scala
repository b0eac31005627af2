package graft.streaming

import graft.ext.Dedup
import graft.store.TableStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IngestStreamSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private def stage(df: DataFrame, in: java.nio.file.Path, name: String): Unit = {
    val w = in.getParent.resolve(s"${name}_w")
    df.coalesce(1).write.mode("overwrite").parquet(w.toString)
    val st = java.nio.file.Files.list(w)
    try st.forEach { p =>
      if (p.toString.endsWith(".parquet"))
        java.nio.file.Files.copy(p, in.resolve(s"$name.parquet"))
    } finally st.close()
  }

  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    assert(q.awaitTermination(120000L), "ingest stream did not drain")

  test("static-index streaming dedup lands the batch path's survivor set") {
    val store = new TableStore(spark,
      graft.TestSpark.tempDir("ingest-spec-static").toString)
    val archive = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "a b c d e f"),  // dup of the archive -> dropped
      (11L, "p q r s t u"),  // novel -> survives
      (20L, "p q r s t u")   // dup of 11 but the index is STATIC -> survives
    ).toDF("doc_id", "text")
    Dedup.buildLshIndex(store, "idx", archive, "doc_id", "text")
    val idx = Dedup.loadLshIndex(store, "idx")
    val expected = Dedup.dedupeAgainstLshIndex(store, idx, batch, "doc_id", "text", 0.8)
      .select("doc_id").as[Long].collect().toSet
    Dedup.unpersistAll()
    val in = graft.TestSpark.tempDir("ingest-spec-in").resolve("in")
    java.nio.file.Files.createDirectories(in)
    stage(batch, in, "b0")
    drain(IngestStream.dedupToStore(IngestStream.readDocs(spark, in.toString),
      store, idx, "doc_id", "text", 0.8, "surv"))
    val got = store.read("surv").select("doc_id").as[Long].collect().toSet
    assert(got == expected)
    assert(got == Set(10L, 11L, 20L) -- Set(10L))
  }

  test("grow=true: a later micro-batch dedupes against earlier survivors; checkpoint resumes") {
    val store = new TableStore(spark,
      graft.TestSpark.tempDir("ingest-spec-grow").toString)
    val archive = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    Dedup.buildLshIndex(store, "idx", archive, "doc_id", "text")
    val idx = Dedup.loadLshIndex(store, "idx")
    val in = graft.TestSpark.tempDir("ingest-spec-gin").resolve("in")
    java.nio.file.Files.createDirectories(in)
    val ck = graft.TestSpark.tempDir("ingest-spec-ck").toString
    // drain 1: doc 10 dups the archive (drop), doc 11 is novel (survive+grow)
    stage(Seq((10L, "a b c d e f"), (11L, "p q r s t u")).toDF("doc_id", "text"), in, "b0")
    drain(IngestStream.dedupToStore(IngestStream.readDocs(spark, in.toString),
      store, idx, "doc_id", "text", 0.8, "surv", grow = true, checkpoint = Some(ck)))
    // drain 2 over the SAME checkpoint: only the new file is processed;
    // doc 20 dups batch-1 survivor 11 ONLY -> dropped iff the grow took
    stage(Seq((20L, "p q r s t u"), (21L, "x y z w v k")).toDF("doc_id", "text"), in, "b1")
    drain(IngestStream.dedupToStore(IngestStream.readDocs(spark, in.toString),
      store, idx, "doc_id", "text", 0.8, "surv", grow = true, checkpoint = Some(ck)))
    val got = store.read("surv").select("doc_id").as[Long].collect().toSet
    assert(got == Set(11L, 21L),
      s"grow must drop doc 20 against batch-1 survivor 11, resume must not reprocess b0: $got")
  }

  test("grow loop under autoCompactFiles keeps the index bounded mid-stream; results unchanged") {
    // the full composition: streaming ingest with grow=true against a store
    // that auto-compacts — compactions fire BETWEEN micro-batches (inside
    // appendToLshIndex) and must neither lose index segments nor forget the
    // batch's exactly-once keys
    val store = new TableStore(spark,
      graft.TestSpark.tempDir("ingest-spec-ac").toString,
      autoCompactFiles = 8)
    val archive = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    Dedup.buildLshIndex(store, "idx", archive, "doc_id", "text")
    val idx = Dedup.loadLshIndex(store, "idx")
    val in = graft.TestSpark.tempDir("ingest-spec-acin").resolve("in")
    java.nio.file.Files.createDirectories(in)
    val ck = graft.TestSpark.tempDir("ingest-spec-acck").toString
    // six novel single-doc files -> six micro-batches, each growing the index
    val texts = Seq("p q r s t u", "g h i j k l", "m n o aa bb cc",
      "dd ee ff gg hh ii", "jj kk ll mm nn oo", "pp qq rr ss tt uu")
    texts.zipWithIndex.foreach { case (t, i) =>
      stage(Seq((10L + i, t)).toDF("doc_id", "text"), in, s"b$i")
    }
    drain(IngestStream.dedupToStore(IngestStream.readDocs(spark, in.toString),
      store, idx, "doc_id", "text", 0.8, "surv", grow = true, checkpoint = Some(ck)))
    assert(store.read("surv").count() == 6, "all six novel docs must survive")
    assert(store.dataFileCount("idx_buckets") <= 8 + 16,
      s"auto-compaction must bound the mid-stream chain: ${store.dataFileCount("idx_buckets")}")
    // the compacted grown index still drops a dup of a mid-stream survivor
    val late = Seq((100L, "g h i j k l"), (101L, "zz yy xx wv uu ts")).toDF("doc_id", "text")
    val kept = Dedup.dedupeAgainstLshIndex(store, idx, late, "doc_id", "text", 0.8)
      .select("doc_id").as[Long].collect().toSet
    Dedup.unpersistAll()
    assert(kept == Set(101L), s"grown+compacted index must still catch the dup: $kept")
  }

  test("WET file stream: landed .gz crawl files parse and dedup to the batch-path survivors") {
    // the literal continuously-arriving-crawl composition: WET shards land
    // in a directory, each micro-batch parses byte-exactly and probes the
    // stored LSH index; survivors (keyed by uri) reach the store
    val store = new TableStore(spark,
      graft.TestSpark.tempDir("ingest-spec-wet").toString)
    val archive = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    Dedup.buildLshIndex(store, "idx", archive, "doc_id", "text")
    val idx = Dedup.loadLshIndex(store, "idx")
    val in = graft.TestSpark.tempDir("ingest-spec-wetin").toString + "/in"
    def wet(name: String, rows: Seq[(String, String)]): Unit =
      graft.io.Warc.writeWet(
        rows.toDF("uri", "text")
          .select(col("uri"), lit("2024-01-01T00:00:00Z").as("wdate"),
            lit("en").as("lang"), col("text")),
        s"$in/$name", "uri", "wdate", "lang", "text", maxRecordsPerShard = 10)
    // writeWet targets one dir per call; stage two "crawl dumps"
    wet("dump0", Seq(("u:10", "a b c d e f"), ("u:11", "p q r s t u")))
    wet("dump1", Seq(("u:20", "multi byte é 中文 content here"), ("u:21", "a b c d e f")))
    val stream = IngestStream.readWetDocs(spark, s"$in/*", maxFilesPerTrigger = 1)
    drain(IngestStream.dedupToStore(stream, store, idx, "uri", "text", 0.8, "surv"))
    val got = store.read("surv").select("uri").as[String].collect().toSet
    // u:10 and u:21 dup the archive; the multibyte doc must survive intact
    assert(got == Set("u:11", "u:20"), s"wet-stream survivors: $got")
    val text20 = store.read("surv").filter(col("uri") === "u:20")
      .select("text").as[String].head()
    assert(text20 == "multi byte é 中文 content here", s"byte framing corrupted: '$text20'")
  }

  test("a replayed micro-batch (crash before checkpoint commit) does not duplicate") {
    // foreachBatch is at-least-once: Structured Streaming replays a batch
    // whose sink writes landed but whose checkpoint commit did not. Forge
    // exactly that state by draining once, then deleting the checkpoint's
    // commit record for batch 0 — the next drain re-runs batch 0 with the
    // SAME batchId, and the batchId-keyed appends must all no-op.
    val store = new TableStore(spark,
      graft.TestSpark.tempDir("ingest-spec-replay").toString)
    val archive = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    Dedup.buildLshIndex(store, "idx", archive, "doc_id", "text")
    val idx = Dedup.loadLshIndex(store, "idx")
    val in = graft.TestSpark.tempDir("ingest-spec-rin").resolve("in")
    java.nio.file.Files.createDirectories(in)
    val ck = graft.TestSpark.tempDir("ingest-spec-rck")
    stage(Seq((10L, "a b c d e f"), (11L, "p q r s t u")).toDF("doc_id", "text"), in, "b0")
    drain(IngestStream.dedupToStore(IngestStream.readDocs(spark, in.toString),
      store, idx, "doc_id", "text", 0.8, "surv", grow = true, checkpoint = Some(ck.toString)))
    val sink1 = store.read("surv").select("doc_id").as[Long].collect().toSeq.sorted
    val sets1 = store.read("idx").count()
    val buckets1 = store.read("idx_buckets").count()
    assert(sink1 == Seq(11L), s"batch-1 survivors: $sink1")
    assert(java.nio.file.Files.deleteIfExists(ck.resolve("commits").resolve("0")),
      "checkpoint commit record for batch 0 must exist to forge the crash window")
    // the local ChecksumFileSystem's crc sidecar must go with it, or the
    // replay's atomic rename of the re-written commit record fails
    java.nio.file.Files.deleteIfExists(ck.resolve("commits").resolve(".0.crc"))
    drain(IngestStream.dedupToStore(IngestStream.readDocs(spark, in.toString),
      store, idx, "doc_id", "text", 0.8, "surv", grow = true, checkpoint = Some(ck.toString)))
    assert(store.read("surv").select("doc_id").as[Long].collect().toSeq.sorted == sink1,
      "replay must not duplicate sink rows")
    assert(store.read("idx").count() == sets1 &&
      store.read("idx_buckets").count() == buckets1,
      "replay must not duplicate LSH index segments")
  }
}
