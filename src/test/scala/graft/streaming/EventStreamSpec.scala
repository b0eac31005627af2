package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EventStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // stream sources must be directories: stage the fixture file into one
  private lazy val dir: String = {
    val d = TestSpark.tempDir("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.Sf0001}/events.parquet"),
      d.resolve("part-0.parquet"))
    d.toString
  }

  test("read normalizes ns-long and timestamp sources to identical event times") {
    // the r13 regression, pinned from both directions: the SAME events must
    // stream identically whether the parquet carries ts as ns-epoch int64
    // (legacy TIMESTAMP(NANOS) under nanosAsLong) or as timestamp[us] —
    // read probes the source schema instead of assuming a unit
    val batch = graft.io.Tables.load(spark, TestSpark.Sf0001, "events").limit(200)
      .select(col("event_id"), col("ts"))
    val dNs = TestSpark.tempDir("graft-rep-ns")
    val dUs = TestSpark.tempDir("graft-rep-us")
    batch.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000)
      .write.parquet(s"$dNs/in")
    batch.withColumn("ts", col("ts").cast("timestamp")) // µs LTZ
      .write.parquet(s"$dUs/in")
    def drainTs(dir: String, name: String): Set[(Long, java.sql.Timestamp)] = {
      val q = EventStream.read(spark, s"$dir/in")
        .select("event_id", "ts")
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try {
        q.processAllAvailable()
        spark.table(name).as[(Long, java.sql.Timestamp)].collect().toSet
      } finally q.stop()
    }
    val fromNs = drainTs(dNs.toString, "rep_ns")
    val fromUs = drainTs(dUs.toString, "rep_us")
    assert(fromNs.nonEmpty && fromNs == fromUs,
      s"representations diverge: only-ns=${(fromNs -- fromUs).take(3)} only-us=${(fromUs -- fromNs).take(3)}")
    // an unsupported representation refuses loudly, naming the type — it
    // must never silently mis-scale
    val dStr = TestSpark.tempDir("graft-rep-str")
    batch.withColumn("ts", col("ts").cast("string")).write.parquet(s"$dStr/in")
    val e = intercept[IllegalArgumentException](EventStream.read(spark, s"$dStr/in"))
    assert(e.getMessage.contains("unsupported ts representation"), e.getMessage)
    assert(e.getMessage.contains("StringType"), e.getMessage)
  }

  test("read over an empty directory starts with RawSchema instead of failing the probe") {
    // a not-yet-populated source dir is a normal file-stream startup state:
    // the producer writes its first batch after the consumer opens
    val empty = TestSpark.tempDir("graft-stream-empty").toString
    val events = EventStream.read(spark, empty) // must not throw
    assert(events.isStreaming)
    // falls back to the documented ns-long RawSchema, ts normalized to timestamp
    assert(events.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    // and the stream is drivable: a ns-long file landing AFTER open is read
    val batch = graft.io.Tables.load(spark, TestSpark.Sf0001, "events").limit(50)
      .select(col("event_id"), unix_micros(col("ts").cast("timestamp")) * 1000 as "ts",
        col("user_id"), col("event_type"), col("value"), col("props"))
    batch.write.mode("append").parquet(empty)
    val q = events.select("event_id").writeStream
      .outputMode("append").format("memory").queryName("late_start").start()
    try {
      q.processAllAvailable()
      assert(spark.table("late_start").count() == 50)
    } finally q.stop()
  }

  test("streaming windowed counts equal the batch aggregation") {
    val q = EventStream.windowedCounts(EventStream.read(spark, dir), "1 hour", "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("wc").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("wc")
        .select("window_start", "event_type", "n_events")
        .as[(java.sql.Timestamp, String, Long)].collect().toSet
      val batch = graft.io.Tables.load(spark, TestSpark.Sf0001, "events")
        .groupBy(date_trunc("hour", col("ts")).cast("timestamp").as("window_start"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .as[(java.sql.Timestamp, String, Long)].collect().toSet
      // append mode emits only windows the watermark has passed; every
      // emitted window must match the batch result, and most windows emit
      assert(streamed.nonEmpty)
      assert(streamed.subsetOf(batch), s"streamed windows disagree with batch")
      assert(streamed.size >= batch.size - 2) // at most the tail windows unemitted
    } finally q.stop()
  }

  test("sessionize closes sessions when the gap elapses (two-batch watermark advance)") {
    import org.apache.spark.sql.functions._
    // stage two files so batch 2 advances the watermark past batch 1's sessions
    val d2 = TestSpark.tempDir("graft-sess")
    val early = graft.io.Tables.load(spark, TestSpark.Sf0001, "events")
      .filter(col("ts") < lit(java.time.LocalDateTime.of(2024, 1, 3, 0, 0)))
    val late = graft.io.Tables.load(spark, TestSpark.Sf0001, "events")
      .filter(col("ts") >= lit(java.time.LocalDateTime.of(2024, 1, 20, 0, 0)))
    early.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000).write.parquet(d2.toString + "/b1")
    late.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000).write.parquet(d2.toString + "/b2")
    val src = spark.readStream.schema(EventStream.RawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(d2.toString + "/b*")
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val q = EventStream.sessionize(spark, src, "30 minutes")
      .writeStream.outputMode("append").format("memory").queryName("sess").start()
    try {
      q.processAllAvailable()
      val sessions = spark.table("sess")
        .select("userId", "nEvents", "start", "end")
        .as[(Long, Long, java.sql.Timestamp, java.sql.Timestamp)].collect()
      assert(sessions.nonEmpty, "no sessions closed after watermark advance")
      // invariants: non-empty, ordered bounds, and no more events than staged
      assert(sessions.forall(s => s._2 > 0 && !s._4.before(s._3)))
      assert(sessions.map(_._2).sum <= early.count() + late.count())
    } finally q.stop()
  }

  test("stream-stream correlate equals the batch rangeJoin (clicks x errors, 10m)") {
    // 10 minutes: the sf0.001 fixture's sparsest in-tolerance gap with pairs
    // (60 s has none — the set would be vacuously equal)
    val tol = java.time.Duration.ofMinutes(10)
    val src = EventStream.read(spark, dir)
    val clicks = src.filter(col("event_type") === "click")
      .select("event_id", "ts", "user_id")
    val errors = src.filter(col("event_type") === "error")
      .select("event_id", "ts", "user_id")
    val q = EventStream.correlated(clicks, errors, "ts", "ts", tol)
      .writeStream.outputMode("append").format("memory").queryName("corr").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("corr")
        .select("event_id", "event_id_r")
        .as[(Long, Long)].collect().toSet
      val ev = graft.io.Tables.load(spark, TestSpark.Sf0001, "events")
      val batch = graft.ops.Ops.rangeJoin(
        ev.filter(col("event_type") === "click").select("event_id", "ts", "user_id"),
        ev.filter(col("event_type") === "error").select("event_id", "ts", "user_id"),
        "ts", "ts", tol)
        .select("event_id", "event_id_r").as[(Long, Long)].collect().toSet
      assert(batch.nonEmpty, "fixture has no in-tolerance click/error pairs — test is vacuous")
      assert(streamed == batch,
        s"stream/batch disagree: only-stream=${(streamed -- batch).take(5)}, " +
          s"only-batch=${(batch -- streamed).take(5)}")
    } finally q.stop()
  }

  test("upsertInto maintains a keyed copy across micro-batches, last-write-wins") {
    val d = TestSpark.tempDir("graft-cdc")
    val b1 = (1L to 100L).map(i => (i, s"v1-$i", 1L)).toDF("event_id", "payload", "seq")
    // batch 2 updates keys 51..100, inserts 101..150, and carries an
    // in-batch duplicate for key 150 (seq 3 must win over seq 2)
    val b2 = ((51L to 150L).map(i => (i, s"v2-$i", 2L)) :+ ((150L, "v2-late", 3L)))
      .toDF("event_id", "payload", "seq")
    b1.coalesce(1).write.parquet(s"$d/b1")
    b2.coalesce(1).write.parquet(s"$d/b2")
    // file-source ordering is by modification time: force b1 strictly first
    def parts(sub: String) = new java.io.File(s"$d/$sub").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val t0 = System.currentTimeMillis() - 60000
    parts("b1").foreach(_.setLastModified(t0))
    parts("b2").foreach(_.setLastModified(t0 + 30000))
    val src = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$d/b*")
    val store = new graft.store.TableStore(spark,
      TestSpark.tempDir("graft-cdc-store").toString)
    val q = EventStream.upsertInto(src, store, "copy", "event_id", "seq")
      .option("checkpointLocation", s"$d/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val got = store.read("copy").select("event_id", "payload")
      .as[(Long, String)].collect().toMap
    assert(got.size == 150)
    (1L to 50L).foreach(i => assert(got(i) == s"v1-$i"))
    (51L to 149L).foreach(i => assert(got(i) == s"v2-$i"))
    assert(got(150L) == "v2-late")
  }

  test("upsertInto keeps a CDC pk named 'id' — audit-drop must not eat data columns") {
    val d = TestSpark.tempDir("graft-cdc-id")
    // pk 'id' collides with the copy path's audit-column contract; the CDC
    // upsert must treat it as data or batch 2 diverges in schema from the
    // create batch and the stream dies (round-6 advisory)
    val b1 = (1L to 20L).map(i => (i, s"v1-$i", 1L)).toDF("id", "payload", "seq")
    val b2 = (11L to 30L).map(i => (i, s"v2-$i", 2L)).toDF("id", "payload", "seq")
    b1.coalesce(1).write.parquet(s"$d/b1")
    b2.coalesce(1).write.parquet(s"$d/b2")
    def parts(sub: String) = new java.io.File(s"$d/$sub").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val t0 = System.currentTimeMillis() - 60000
    parts("b1").foreach(_.setLastModified(t0))
    parts("b2").foreach(_.setLastModified(t0 + 30000))
    val src = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$d/b*")
    val store = new graft.store.TableStore(spark,
      TestSpark.tempDir("graft-cdc-id-store").toString)
    val q = EventStream.upsertInto(src, store, "copy", "id", "seq")
      .option("checkpointLocation", s"$d/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val copy = store.read("copy")
    assert(copy.columns.toSeq == Seq("id", "payload", "seq"))
    val got = copy.select("id", "payload").as[(Long, String)].collect().toMap
    assert(got.size == 30)
    (1L to 10L).foreach(i => assert(got(i) == s"v1-$i"))
    (11L to 30L).foreach(i => assert(got(i) == s"v2-$i"))
  }

  test("upsertInto survives source schema evolution across stream restarts") {
    val d = TestSpark.tempDir("graft-cdc-evolve")
    val store = new graft.store.TableStore(spark,
      TestSpark.tempDir("graft-cdc-evolve-store").toString)
    // run 1: original schema
    val b1 = Seq((1L, "v1-1", 1L), (2L, "v1-2", 1L)).toDF("id", "payload", "seq")
    b1.coalesce(1).write.parquet(s"$d/in1")
    val q1 = EventStream.upsertInto(
        spark.readStream.schema(b1.schema).parquet(s"$d/in1"), store, "copy", "id", "seq")
      .option("checkpointLocation", s"$d/ckpt1").start()
    try q1.processAllAvailable() finally q1.stop()
    // run 2 (restart): the source gained a column — the update path must
    // union the evolved batch into the old-schema table, not die
    val b2 = Seq((2L, "v2-2", 2L, "extra-2"), (3L, "v2-3", 2L, "extra-3"))
      .toDF("id", "payload", "seq", "extra")
    b2.coalesce(1).write.parquet(s"$d/in2")
    val q2 = EventStream.upsertInto(
        spark.readStream.schema(b2.schema).parquet(s"$d/in2"), store, "copy", "id", "seq")
      .option("checkpointLocation", s"$d/ckpt2").start()
    try q2.processAllAvailable() finally q2.stop()
    val copy = store.read("copy") // whole-table rewrite: uniform union schema
    assert(copy.columns.sorted.toSeq == Seq("extra", "id", "payload", "seq"))
    val got = copy.select("id", "payload", "extra")
      .as[(Long, String, Option[String])].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, "v1-1", None))) // pre-evolution row: NULL extra
    assert(got(2L) == ((2L, "v2-2", Some("extra-2"))))
    assert(got(3L) == ((3L, "v2-3", Some("extra-3"))))
  }

  test("upsertIntoPartitions touches only the batch's day partitions") {
    val d = TestSpark.tempDir("graft-cdc-part")
    def rows(sub: String, rs: Seq[(Long, String, String, Long)]) =
      rs.toDF("event_id", "payload", "day", "seq")
        .withColumn("day", col("day").cast("date"))
        .coalesce(1).write.parquet(s"$d/$sub")
    // batch 1: days Jan 1 + Jan 2; batch 2: updates Jan 2, adds Jan 3 —
    // and must leave the Jan 1 partition's files untouched
    rows("b1", Seq((1L, "v1-1", "2024-01-01", 1L), (2L, "v1-2", "2024-01-02", 1L)))
    val schema = spark.read.parquet(s"$d/b1").schema
    val store = new graft.store.TableStore(spark,
      TestSpark.tempDir("graft-cdc-part-store").toString)
    // two sequential drains over one checkpoint: batch 2's files are written
    // ONLY AFTER the snapshot is taken, so the untouched-partition assertion
    // can never pass vacuously (comparing the final state to itself)
    def drain(): Unit = {
      val q = EventStream.upsertIntoPartitions(
          spark.readStream.schema(schema).parquet(s"$d/b*"),
          store, "copy", "event_id", "seq", "day")
        .option("checkpointLocation", s"$d/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    drain() // only b1 exists: the table holds exactly batch 1's state
    val jan1Snapshot = Option(new java.io.File(store.tablePath("copy"), "day=2024-01-01")
      .listFiles()).fold(Set.empty[String])(_.map(_.getName).toSet)
    assert(jan1Snapshot.nonEmpty, "first drain did not create the Jan 1 partition")
    rows("b2", Seq((2L, "v2-2", "2024-01-02", 2L), (3L, "v2-3", "2024-01-03", 2L)))
    drain() // same checkpoint: processes only the new b2 files
    val jan1After = new java.io.File(store.tablePath("copy"), "day=2024-01-01")
      .listFiles().map(_.getName).toSet
    assert(jan1After == jan1Snapshot, "untouched partition was rewritten")
    val got = store.read("copy").select(col("event_id"), col("payload"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "v1-1", 2L -> "v2-2", 3L -> "v2-3"))
  }

  test("upsertIntoPartitions fails a batch loudly on NULL event dates") {
    val d = TestSpark.tempDir("graft-cdc-nullday")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("day", org.apache.spark.sql.types.DateType),
      org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, java.sql.Date.valueOf("2024-01-01"), 1L),
        org.apache.spark.sql.Row(2L, null, 1L)), schema)
      .coalesce(1).write.parquet(s"$d/b1")
    val src = spark.readStream.schema(schema).parquet(s"$d/b*")
    val store = new graft.store.TableStore(spark,
      TestSpark.tempDir("graft-cdc-nullday-store").toString)
    val q = EventStream.upsertIntoPartitions(src, store, "copy", "event_id", "seq", "day")
      .option("checkpointLocation", s"$d/ckpt").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
      q.awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(messages(e).exists(_.contains("NULL day")),
      s"expected the NULL-day message in: ${messages(e)}")
    assert(!store.exists("copy"), "no partial state may be published for a failed batch")
  }

  test("streaming dedup emits each event_id once") {
    val q = EventStream.dedupedEvents(EventStream.read(spark, dir))
      .writeStream.outputMode("append").format("memory").queryName("dd").start()
    try {
      q.processAllAvailable()
      val ids = spark.table("dd").select("event_id").as[Long].collect()
      assert(ids.length == ids.distinct.length)
      assert(ids.nonEmpty)
    } finally q.stop()
  }

  test("resumable change feed: a consumer killed between batches resumes at the first unapplied commit") {
    val store = new graft.store.TableStore(spark,
      TestSpark.tempDir("graft-resfeed").toString,
      graft.store.CommitMode.Pointer, keepGenerations = 6)
    val ckpt = TestSpark.tempDir("graft-resfeed-ckpt").toString
    store.atomicOverwrite("t", Seq((1, "a")).toDF("k", "v"))
    val first = store.generations("t").head
    store.atomicOverwrite("t", Seq((1, "a"), (2, "b")).toDF("k", "v")) // +2
    store.atomicOverwrite("t", Seq((2, "b"), (3, "c")).toDF("k", "v")) // +3 −1
    store.atomicOverwrite("t", Seq((2, "b"), (3, "c"), (4, "d")).toDF("k", "v")) // +4
    val last = store.generations("t").head
    val applied = scala.collection.mutable.ListBuffer.empty[(Long, Set[(Int, String, String)])]
    def apply1(diff: org.apache.spark.sql.DataFrame, gen: Long): Unit =
      applied += gen -> diff.as[(Int, String, String)].collect().toSet
    // run 1: batch 1 applies and checkpoints; the consumer then dies at the
    // start of batch 2 — i.e. BETWEEN batches
    val boom = intercept[RuntimeException] {
      EventStream.resumableChanges(store, "t", ckpt, bootstrapGen = Some(first)) { (d, g) =>
        if (applied.size == 1) throw new RuntimeException("kill between batches")
        apply1(d, g)
      }
    }
    assert(boom.getMessage == "kill between batches")
    assert(applied.size == 1)
    // run 2 (restart, same checkpoint): resumes at the first UNAPPLIED
    // commit — the already-checkpointed batch is not replayed
    val cursor = EventStream.resumableChanges(store, "t", ckpt)(apply1)
    assert(cursor == last)
    assert(applied.map(_._1).toSeq == applied.map(_._1).toSeq.sorted, "commit order")
    assert(applied.size == 3 && applied.map(_._1).distinct.size == 3,
      s"each commit applied exactly once: ${applied.map(_._1)}")
    // applying insert/delete batches in order ≡ the end-to-end diff
    val union = applied.flatMap(_._2).toSet
    val overall = store.generationDiff("t", first, last)
      .as[(Int, String, String)].collect().toSet
    // rows that appear and later disappear (or vice versa) cancel in the
    // end-to-end diff; replaying the batches nets out to the same state
    def net(s: Set[(Int, String, String)]) = {
      val ins = s.collect { case (k, v, "insert") => (k, v) }
      val del = s.collect { case (k, v, "delete") => (k, v) }
      (ins -- del).map { case (k, v) => (k, v, "insert") } ++
        (del -- ins).map { case (k, v) => (k, v, "delete") }
    }
    assert(net(union) == overall, s"net(${net(union)}) vs overall $overall")
    // nothing new: cursor stays put, nothing applied
    val n = applied.size
    assert(EventStream.resumableChanges(store, "t", ckpt)(apply1) == last)
    assert(applied.size == n)
  }

  test("change feed: three commits drain as three batches whose union is the overall diff") {
    val store = new graft.store.TableStore(spark,
      TestSpark.tempDir("graft-feed").toString,
      graft.store.CommitMode.Pointer, keepGenerations = 5)
    // four commits, each row changing at most once across the sequence so
    // the per-commit union is comparable to the end-to-end diff
    store.atomicOverwrite("t", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    val first = store.generations("t").head
    store.atomicOverwrite("t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")) // +3
    store.atomicOverwrite("t", Seq((1, "a"), (3, "c"), (4, "d")).toDF("k", "v")) // +4 −2
    store.atomicOverwrite("t", Seq((1, "a"), (3, "c"), (4, "d"), (5, "e")).toDF("k", "v")) // +5
    val last = store.generations("t").head
    val batches = EventStream.changes(store, "t", first)
    assert(batches.size == 3, s"three commits after the cursor: ${batches.map(_._1)}")
    assert(batches.map(_._1) == batches.map(_._1).sorted, "oldest first")
    val union = batches.map(_._2).reduce(_ unionByName _)
      .as[(Int, String, String)].collect().toSet
    val overall = store.generationDiff("t", first, last)
      .as[(Int, String, String)].collect().toSet
    assert(union == overall, s"union $union vs overall $overall")
    assert(union == Set((3, "c", "insert"), (4, "d", "insert"), (5, "e", "insert"),
      (2, "b", "delete")))
    // foreachBatch-style drain: applying batches in order reconstructs the
    // final state from the cursor's snapshot, and returns the new cursor
    var state = store.readGeneration("t", first).as[(Int, String)].collect().toSet
    val cursor = EventStream.drainChanges(store, "t", first) { (diff, _) =>
      val d = diff.as[(Int, String, String)].collect()
      state = state ++ d.filter(_._3 == "insert").map(r => (r._1, r._2)) --
        d.filter(_._3 == "delete").map(r => (r._1, r._2))
    }
    assert(cursor == last)
    assert(state == store.read("t").as[(Int, String)].collect().toSet)
    // nothing new: drain is a no-op and the cursor stays put
    assert(EventStream.drainChanges(store, "t", cursor)((_, _) => fail("no batch expected")) == cursor)
    // lagging past retention fails loudly, not silently-partially
    intercept[IllegalArgumentException](EventStream.changes(store, "t", first - 1))
  }
}
