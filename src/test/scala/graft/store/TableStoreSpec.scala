package graft.store

import java.nio.file.Files

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class TableStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshStore() =
    new TableStore(spark, TestSpark.tempDir("graft-store").toString)

  test("atomicOverwrite round-trips and replaces state") {
    val store = freshStore()
    store.atomicOverwrite("t", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    assert(store.read("t").count() == 2)
    store.atomicOverwrite("t", Seq((9, "z")).toDF("k", "v"))
    assert(store.read("t").as[(Int, String)].collect().toSeq == Seq((9, "z")))
  }

  test("z-ordered write enables file skipping on BOTH key dimensions") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.functions._
    val store = freshStore()
    val orders = graft.io.Tables.load(spark, TestSpark.Sf0001, "orders")
    store.atomicOverwriteZOrdered("ord_z", orders, "o_orderkey", "o_custkey", 8)
    val parts = new java.io.File(store.tablePath("ord_z"))
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.length >= 4, s"expected several z files, got ${parts.length}")
    def fileRanges(column: String): Seq[(Long, Long)] = parts.toSeq.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath),
        new org.apache.hadoop.conf.Configuration()))
      try {
        val blocks = r.getFooter.getBlocks
        val idx = r.getFooter.getFileMetaData.getSchema.getFieldIndex(column)
        val stats = (0 until blocks.size()).map(i => blocks.get(i).getColumns.get(idx).getStatistics)
        (stats.map(_.genericGetMin.asInstanceOf[Long]).min,
          stats.map(_.genericGetMax.asInstanceOf[Long]).max)
      } finally r.close()
    }
    // a selective point predicate on EITHER dimension must be skippable in
    // some files' footer ranges — the property a 1-D range cluster only
    // gives its leading column
    Seq("o_orderkey", "o_custkey").foreach { c =>
      val probe = orders.select(min(col(c))).as[Long].head()
      val covering = fileRanges(c).count { case (lo, hi) => lo <= probe && probe <= hi }
      assert(covering < parts.length,
        s"$c: all ${parts.length} files cover $probe — no skipping on this dimension")
    }
    // layout change only: the row multiset is intact
    assert(store.read("ord_z").count() == orders.count())
    assert(store.read("ord_z").agg(sum(col("o_orderkey"))).as[Long].head() ==
      orders.agg(sum(col("o_orderkey"))).as[Long].head())
    intercept[IllegalArgumentException](
      store.atomicOverwriteZOrdered("ord_z", orders, "o_orderkey", "nope", 4))
    intercept[IllegalArgumentException](
      store.atomicOverwriteZOrdered("ord_z", orders, "o_orderkey", "o_orderstatus", 4))
  }

  test("compact and clustered rewrite refuse catalog-bucketed tables") {
    val store = freshStore()
    store.writeBucketed("b_guard", (1 to 20).toDF("k"), "k", 2)
    // a plain rewrite would leave non-bucket files under the bucketed
    // catalog definition — both rewrite paths must refuse
    intercept[IllegalStateException](store.compact("b_guard", 1))
    intercept[IllegalStateException](
      store.atomicOverwriteClustered("b_guard", (1 to 20).toDF("k"), Seq("k"), 1))
    assert(store.readBucketed("b_guard").count() == 20) // untouched
    // an unrelated catalog table of the same NAME at a different path must
    // not block a plain store table
    val other = freshStore()
    other.atomicOverwrite("b_guard", (1 to 5).toDF("k"))
    other.compact("b_guard", 1)
    assert(other.read("b_guard").count() == 5)
    spark.sql("DROP TABLE IF EXISTS b_guard")
  }

  test("atomicOverwrite works when df derives from the table's own state") {
    val store = freshStore()
    store.atomicOverwrite("t", (1 to 10).toDF("k"))
    val doubled = store.read("t").withColumn("k", org.apache.spark.sql.functions.col("k") * 2)
    store.atomicOverwrite("t", doubled)
    assert(store.read("t").as[Int].collect().sorted.toSeq == (1 to 10).map(_ * 2))
  }

  test("readEvolved unions schemas across appends; compact heals without data loss") {
    val store = freshStore()
    store.append("ev", Seq((1, "a")).toDF("k", "v"))
    store.append("ev", Seq((2, "b", 9.5)).toDF("k", "v", "score")) // source gained a field
    val merged = store.readEvolved("ev")
    assert(merged.columns.sorted.toSeq == Seq("k", "score", "v"))
    val rows = merged.select("k", "score").as[(Int, Option[Double])].collect().toMap
    assert(rows == Map(1 -> None, 2 -> Some(9.5))) // old rows read NULL
    // plain read resolves to SOME footer schema (never an invented one);
    // which footer wins is undefined — that unreliability is readEvolved's
    // reason to exist
    val plain = store.read("ev").columns.toSet
    assert(plain == Set("k", "v") || plain == Set("k", "v", "score"), plain.toString)
    // compact must go through the MERGED view: a single-footer rewrite would
    // permanently drop the evolved column for whichever rows lose inference
    store.compact("ev", 1)
    val healed = store.read("ev") // one uniform footer now — plain read suffices
    assert(healed.columns.sorted.toSeq == Seq("k", "score", "v"))
    assert(healed.select("k", "score").as[(Int, Option[Double])].collect().toMap ==
      Map(1 -> None, 2 -> Some(9.5)))
  }

  test("append accumulates files") {
    val store = freshStore()
    store.append("t", Seq(1).toDF("k"))
    store.append("t", Seq(2).toDF("k"))
    assert(store.read("t").count() == 2)
  }

  test("overwriteDatePartitions swaps only the window's partitions") {
    import org.apache.spark.sql.functions._
    val store = freshStore()
    def rows(pairs: (String, Int)*) = pairs.toSeq.toDF("day", "v")
      .withColumn("load_date", col("day").cast("date")).drop("day")
    // seed three daily partitions
    store.overwriteDatePartitions("t", rows("2024-01-01" -> 1, "2024-01-02" -> 2, "2024-01-03" -> 3),
      "load_date", (1 to 3).map(d => java.time.LocalDate.of(2024, 1, d)))
    // reload window [02..03]: day 2 gets new data, day 3 has NO fresh rows → must empty
    store.overwriteDatePartitions("t", rows("2024-01-02" -> 20),
      "load_date", Seq(java.time.LocalDate.of(2024, 1, 2), java.time.LocalDate.of(2024, 1, 3)))
    val after = store.read("t").select(col("load_date").cast("string"), col("v"))
      .as[(String, Int)].collect().toSet
    assert(after == Set(("2024-01-01", 1), ("2024-01-02", 20)))
  }

  test("recover restores a retired partition after a partition-swap crash") {
    import org.apache.spark.sql.functions._
    val store = freshStore()
    def rows(pairs: (String, Int)*) = pairs.toSeq.toDF("day", "v")
      .withColumn("load_date", col("day").cast("date")).drop("day")
    store.overwriteDatePartitions("t", rows("2024-01-01" -> 1, "2024-01-02" -> 2),
      "load_date", (1 to 2).map(d => java.time.LocalDate.of(2024, 1, d)))
    // simulate a crash between retiring a live partition and publishing the new one
    val live = new org.apache.hadoop.fs.Path(store.tablePath("t"))
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(live, "load_date=2024-01-02"),
      new org.apache.hadoop.fs.Path(live, ".retired-cafe1234-load_date=2024-01-02"))
    assert(store.read("t").count() == 1) // day 2 currently invisible
    store.recover("t")
    val after = store.read("t").select(col("load_date").cast("string"), col("v"))
      .as[(String, Int)].collect().toSet
    assert(after == Set(("2024-01-01", 1), ("2024-01-02", 2)))
  }

  test("co-bucketed tables join with ZERO exchanges and match the plain join") {
    import org.apache.spark.sql.functions._
    val store = freshStore()
    val orders = graft.io.Tables.load(spark, TestSpark.Sf0001, "orders")
    val customer = graft.io.Tables.load(spark, TestSpark.Sf0001, "customer")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    store.writeBucketed("b_orders", orders, "o_custkey", 8)
    store.writeBucketed("b_customer", customer, "c_custkey", 8)
    val conf = spark.conf
    val prevBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    // broadcast off: the contract under test is the 100 TB fact-to-fact
    // shape, where neither side fits in memory and SMJ is the plan
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = store.readBucketed("b_orders")
        .join(store.readBucketed("b_customer"), col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"co-bucketed join still shuffles:\n$plan")
      val plain = orders.join(customer, col("o_custkey") === col("c_custkey"))
      assert(joined.count() == plain.count())
      // aggregation on the bucket key is shuffle-free too
      val agg = store.readBucketed("b_orders").groupBy("o_custkey").agg(count(lit(1)))
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange"), s"bucket-key groupBy still shuffles:\n$aggPlan")
      assert(agg.count() == orders.select("o_custkey").distinct().count())
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
  }

  test("range-clustered write yields disjoint sorted files that skip on key predicates") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.functions._
    val store = freshStore()
    val li = graft.io.Tables.load(spark, TestSpark.Sf0001, "lineitem")
    store.atomicOverwriteClustered("li_clustered", li, Seq("l_orderkey"), 4)
    // every data file covers a disjoint [min,max] range of the cluster key
    val dir = new java.io.File(store.tablePath("li_clustered"))
    val parts = dir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.length >= 2, "expected multiple range files")
    val ranges = parts.toSeq.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath),
        new org.apache.hadoop.conf.Configuration()))
      try {
        val blocks = r.getFooter.getBlocks
        val idx = r.getFooter.getFileMetaData.getSchema.getFieldIndex("l_orderkey")
        val stats = (0 until blocks.size()).map(i => blocks.get(i).getColumns.get(idx).getStatistics)
        (stats.map(_.genericGetMin.asInstanceOf[Long]).min,
          stats.map(_.genericGetMax.asInstanceOf[Long]).max)
      } finally r.close()
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 <= b._1, s"file ranges overlap: $a vs $b")
      case _ => ()
    }
    // a selective key predicate reads back correctly and matches the source
    val k = li.select(min(col("l_orderkey"))).as[Long].head()
    val got = store.read("li_clustered").filter(col("l_orderkey") === k).count()
    assert(got == li.filter(col("l_orderkey") === k).count() && got > 0)
  }

  test("compact collapses accreted batch files without changing the row set") {
    val store = freshStore()
    (1 to 12).foreach(b => store.append("acc", Seq((b, s"batch$b")).toDF("k", "v")))
    val dir = new java.io.File(store.tablePath("acc"))
    def files() = dir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(files() >= 12, "append should accrete one file per batch")
    val before = store.read("acc").as[(Int, String)].collect().toSet
    store.compact("acc", 2)
    assert(files() <= 2, s"expected <=2 files after compact, got ${files()}")
    assert(store.read("acc").as[(Int, String)].collect().toSet == before)
  }

  test("a bare path read of a bucketed table still returns the same rows") {
    // the bucket spec lives in the catalog; readBucketed is required for the
    // plan property, but the files themselves stay plain readable parquet
    val store = freshStore()
    spark.sql("DROP TABLE IF EXISTS b_roundtrip")
    store.writeBucketed("b_roundtrip", (1 to 100).toDF("k"), "k", 4)
    assert(store.read("b_roundtrip").as[Int].collect().sorted.toSeq == (1 to 100))
  }

  test("recover restores the old state after a crash between renames") {
    val store = freshStore()
    store.atomicOverwrite("t", Seq(1).toDF("k"))
    // simulate a crash after step 2 (live retired to .old, new state not yet published)
    val root = new org.apache.hadoop.fs.Path(store.tablePath("t")).getParent
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(store.tablePath("t")),
      new org.apache.hadoop.fs.Path(store.tablePath("t") + ".old-deadbeef"))
    assert(!store.exists("t"))
    store.recover("t")
    assert(store.exists("t") && store.read("t").count() == 1)
    // leftover dirs cleaned
    assert(!fs.exists(new org.apache.hadoop.fs.Path(store.tablePath("t") + ".old-deadbeef")))
  }

  test("compactDatePartitions collapses one day's files, leaves other days untouched") {
    import org.apache.spark.sql.functions.col
    val store = freshStore()
    // a fragmented day: 4 tasks → 4 files under day=2024-01-01; day 2 gets 1
    val df = (1L to 8L).map(i => (i, if (i <= 6) "2024-01-01" else "2024-01-02"))
      .toDF("k", "day").withColumn("day", col("day").cast("date"))
    store.overwriteDatePartitions("t",
      df.filter(col("day") === "2024-01-01").repartition(4).unionByName(
        df.filter(col("day") === "2024-01-02").coalesce(1)),
      "day", Seq(java.time.LocalDate.of(2024, 1, 1), java.time.LocalDate.of(2024, 1, 2)))
    def files(day: String) = new java.io.File(store.tablePath("t"), s"day=$day")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(files("2024-01-01").size > 1, "fixture day must start fragmented")
    val day2Before = files("2024-01-02")
    store.compactDatePartitions("t", "day", Seq(java.time.LocalDate.of(2024, 1, 1)))
    assert(files("2024-01-01").size == 1, "compacted day must be one file")
    assert(files("2024-01-02") == day2Before, "untouched day was rewritten")
    assert(store.read("t").select("k").as[Long].collect().toSet == (1L to 8L).toSet)
    // a hot day can compact to N parallel writers instead of one
    store.compactDatePartitions("t", "day",
      Seq(java.time.LocalDate.of(2024, 1, 1)), filesPerDay = 3)
    assert(files("2024-01-01").size <= 3 && files("2024-01-01").nonEmpty)
    assert(store.read("t").select("k").as[Long].collect().toSet == (1L to 8L).toSet)
  }

  test("a racing second writer fails loudly; the first writer's data publishes") {
    import org.apache.spark.sql.functions.{col, udf}
    val store = freshStore()
    store.atomicOverwrite("t", Seq((0, "base")).toDF("k", "v"))
    // writer A's input blocks mid-write on a latch, holding the write lock
    // open while the main thread races writer B against it — a REAL overlap
    // of two atomicOverwrite calls, not a simulated marker
    WriterRace.reset()
    val slow = udf((k: Int) => { WriterRace.entered.countDown(); WriterRace.gate.await(); k })
    var aFailure: Option[Throwable] = None
    val a = new Thread(() => {
      try store.atomicOverwrite("t",
        Seq((1, "from-A")).toDF("k", "v").withColumn("k", slow(col("k"))))
      catch { case e: Throwable => aFailure = Some(e) }
    })
    a.start()
    try {
      assert(WriterRace.entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "writer A never started evaluating its input")
      // B races while A holds the lock: loud failure, nothing clobbered
      intercept[ConcurrentWriteException](
        store.atomicOverwrite("t", Seq((2, "from-B")).toDF("k", "v")))
    } finally {
      WriterRace.gate.countDown()
      a.join(60000)
    }
    assert(aFailure.isEmpty, s"writer A failed: $aFailure")
    assert(store.read("t").as[(Int, String)].collect().toSeq == Seq((1, "from-A")))
    // the lock released with A: a later writer proceeds normally
    store.atomicOverwrite("t", Seq((3, "later")).toDF("k", "v"))
    assert(store.read("t").as[(Int, String)].collect().toSeq == Seq((3, "later")))
  }

  private def pointerStore() =
    new TableStore(spark, TestSpark.tempDir("graft-ptr").toString, CommitMode.Pointer)

  private def hadoopFs(store: TableStore, table: String) =
    new org.apache.hadoop.fs.Path(store.tablePath(table))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def genDirs(store: TableStore, table: String): Set[String] = {
    val d = new java.io.File(store.tablePath(table))
    if (!d.exists()) Set.empty
    else d.listFiles().map(_.getName).filter(_.startsWith("_gen-")).toSet
  }

  test("pointer commit round-trips, replaces state, and never renames the live dir") {
    val store = pointerStore()
    store.atomicOverwrite("t", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    assert(store.read("t").count() == 2)
    store.atomicOverwrite("t", Seq((9, "z")).toDF("k", "v"))
    assert(store.read("t").as[(Int, String)].collect().toSeq == Seq((9, "z")))
    // layout: immutable generation dirs + commit markers, nothing else visible
    val names = new java.io.File(store.tablePath("t")).listFiles().map(_.getName).toSet
    assert(names.exists(_.startsWith("_gen-")), names.toString)
    assert(names.exists(_.startsWith("_commit.")), names.toString)
    // a bare path read that bypasses the protocol fails loudly (gen dirs are
    // underscore-hidden) instead of silently unioning generations
    intercept[Exception](spark.read.parquet(store.tablePath("t")).collect())
  }

  test("pointer publish is invisible to a reader that already resolved its generation") {
    val store = pointerStore()
    store.atomicOverwrite("t", Seq(1).toDF("k"))
    val preOpened = store.read("t") // resolves the gen-1 files
    store.atomicOverwrite("t", Seq(2, 3).toDF("k"))
    // reader isolation: the previous generation is retained one commit back
    assert(preOpened.as[Int].collect().toSeq == Seq(1))
    assert(store.read("t").as[Int].collect().sorted.toSeq == Seq(2, 3))
  }

  test("an interrupted pointer publish never exposes a torn table; recover prunes the orphan") {
    val store = pointerStore()
    store.atomicOverwrite("t", Seq(1).toDF("k"))
    // crash AFTER the full data write but BEFORE the marker create: the new
    // generation exists on disk but no reader can ever resolve it
    Seq(99).toDF("k").write.parquet(store.tablePath("t") + "/_gen-orphan1")
    assert(store.exists("t"))
    assert(store.read("t").as[Int].collect().toSeq == Seq(1))
    store.recover("t")
    assert(genDirs(store, "t").forall(_ != "_gen-orphan1"), genDirs(store, "t").toString)
    assert(store.read("t").as[Int].collect().toSeq == Seq(1))
    // a table whose FIRST write crashed pre-marker does not exist yet
    val fresh = pointerStore()
    Seq(1).toDF("k").write.parquet(fresh.tablePath("n") + "/_gen-orphan2")
    assert(!fresh.exists("n"))
  }

  test("a partially-written commit marker is ignored; readers fall back to the last good one") {
    val store = pointerStore()
    store.atomicOverwrite("t", Seq(7).toDF("k"))
    val fs = hadoopFs(store, "t")
    // truncated manifest: header declares 2 entries, body carries 1
    val bad = fs.create(new org.apache.hadoop.fs.Path(store.tablePath("t"), "_commit.999"), false)
    bad.write("graft-manifest v1 2\n*\t_gen-nope".getBytes("UTF-8")); bad.close()
    assert(store.read("t").as[Int].collect().toSeq == Seq(7))
    store.recover("t")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(store.tablePath("t"), "_commit.999")))
    // the next publish still lands above the partial marker's index
    store.atomicOverwrite("t", Seq(8).toDF("k"))
    assert(store.read("t").as[Int].collect().toSeq == Seq(8))
  }

  test("pointer append publishes atomically and compact folds the generations") {
    val store = pointerStore()
    store.append("acc", Seq((1, "a")).toDF("k", "v"))
    store.append("acc", Seq((2, "b", 9.5)).toDF("k", "v", "score")) // schema evolved
    assert(genDirs(store, "acc").size == 2)
    val merged = store.readEvolved("acc")
    assert(merged.columns.sorted.toSeq == Seq("k", "score", "v"))
    assert(merged.select("k", "score").as[(Int, Option[Double])].collect().toMap ==
      Map(1 -> None, 2 -> Some(9.5)))
    store.compact("acc", 1)
    assert(store.read("acc").select("k", "score").as[(Int, Option[Double])].collect().toMap ==
      Map(1 -> None, 2 -> Some(9.5)))
    // one more publish prunes retention down to the compacted state
    store.atomicOverwrite("acc", store.read("acc"))
    assert(genDirs(store, "acc").size <= 2, genDirs(store, "acc").toString)
  }

  test("pointer partition overwrite swaps the window and keeps untouched days' generation") {
    import org.apache.spark.sql.functions._
    val store = pointerStore()
    def rows(pairs: (String, Int)*) = pairs.toSeq.toDF("day", "v")
      .withColumn("load_date", col("day").cast("date")).drop("day")
    store.overwriteDatePartitions("t", rows("2024-01-01" -> 1, "2024-01-02" -> 2, "2024-01-03" -> 3),
      "load_date", (1 to 3).map(d => java.time.LocalDate.of(2024, 1, d)))
    val seedGens = genDirs(store, "t")
    assert(seedGens.size == 1)
    // reload window [02..03]: day 2 gets new data, day 3 empties (windowed DELETE)
    store.overwriteDatePartitions("t", rows("2024-01-02" -> 20),
      "load_date", Seq(java.time.LocalDate.of(2024, 1, 2), java.time.LocalDate.of(2024, 1, 3)))
    val after = store.read("t").select(col("load_date").cast("string"), col("v"))
      .as[(String, Int)].collect().toSet
    assert(after == Set(("2024-01-01", 1), ("2024-01-02", 20)))
    // the untouched day is still served from the ORIGINAL generation dir —
    // the window's publish moved O(window) data, not O(table)
    assert(genDirs(store, "t").contains(seedGens.head))
  }

  test("a stale writer lock self-heals after the TTL; a fresh one still refuses") {
    val store = freshStore()
    store.atomicOverwrite("t", Seq(1).toDF("k"))
    val fs = hadoopFs(store, "t")
    val lock = new org.apache.hadoop.fs.Path(store.tablePath("t") + ".lock")
    fs.create(lock, false).close()
    // crashed writer also left a half-written temp dir behind
    fs.mkdirs(new org.apache.hadoop.fs.Path(store.tablePath("t") + ".tmp-dead77"))
    // fresh lock (presumed live writer): refused loudly
    intercept[ConcurrentWriteException](store.atomicOverwrite("t", Seq(2).toDF("k")))
    assert(store.read("t").as[Int].collect().toSeq == Seq(1))
    // age the lock past the TTL: the next writer breaks it, recovers, proceeds
    fs.setTimes(lock, System.currentTimeMillis - TableStore.DefaultLockTtlMs - 60000, -1)
    store.atomicOverwrite("t", Seq(2).toDF("k"))
    assert(store.read("t").as[Int].collect().toSeq == Seq(2))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(store.tablePath("t") + ".tmp-dead77")),
      "recovery on lock break must clear the crashed writer's temp dir")
  }

  test("time travel: retained generations read bit-identically; vacuumed ones raise") {
    val store = new TableStore(spark, TestSpark.tempDir("graft-tt").toString,
      CommitMode.Pointer, keepGenerations = 3)
    store.atomicOverwrite("t", Seq((1, "v1")).toDF("k", "tag"))
    store.atomicOverwrite("t", Seq((2, "v2"), (3, "v2")).toDF("k", "tag"))
    store.append("t", Seq((4, "v3")).toDF("k", "tag"))
    val gens = store.generations("t")
    assert(gens.size == 3 && gens == gens.sorted.reverse, gens.toString)
    // each retained snapshot reads exactly as-published; head == current read
    assert(store.readGeneration("t", gens(2)).as[(Int, String)].collect().toSeq == Seq(1 -> "v1"))
    assert(store.readGeneration("t", gens(1)).as[(Int, String)].collect().sorted.toSeq ==
      Seq(2 -> "v2", 3 -> "v2"))
    assert(store.readGeneration("t", gens.head).as[(Int, String)].collect().sorted.toSeq ==
      Seq(2 -> "v2", 3 -> "v2", 4 -> "v3"))
    assert(store.read("t").count() == 3)
    // a fourth publish vacuums the oldest snapshot out of the retention window
    store.atomicOverwrite("t", Seq((9, "v4")).toDF("k", "tag"))
    val after = store.generations("t")
    assert(after.size == 3 && !after.contains(gens(2)), after.toString)
    val gone = intercept[IllegalArgumentException](store.readGeneration("t", gens(2)))
    assert(gone.getMessage.contains("retention"), gone.getMessage)
    // rename-layout tables keep no history
    val plain = freshStore()
    plain.atomicOverwrite("r", Seq(1).toDF("k"))
    assert(plain.generations("r").isEmpty)
    intercept[IllegalArgumentException](plain.readGeneration("r", 1L))
  }

  test("data skipping: clustered layout prunes files a range read can't match") {
    val store = new TableStore(spark, TestSpark.tempDir("graft-skip").toString,
      CommitMode.Pointer, statsColumns = Seq("k"))
    val df = spark.range(0, 1000).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    store.atomicOverwriteClustered("t", df, Seq("k"), 10)
    // a band inside one decile opens ~1 file, never all 10
    val (kept, total) = store.pruneEvidence("t", "k", 150, 180)
    assert(total == 10 && kept < total, s"kept=$kept total=$total")
    assert(store.readWhere("t", "k", 150, 180).count() == 31)
    assert(store.readWhere("t", "k", 150, 180).inputFiles.length == kept)
    // result always equals the plain filtered read, pruned or not
    assert(store.readWhere("t", "k", 0, 999).count() == 1000)
    // a range beyond the data prunes everything and still returns empty
    assert(store.readWhere("t", "k", 5000, 6000).count() == 0)
    assert(store.pruneEvidence("t", "k", 5000, 6000)._1 == 0)
    // a column without collected stats reads unpruned but correct
    assert(store.readWhere("t", "v", "150", "150").count() == 1)
    assert(store.pruneEvidence("t", "v", "150", "150")._1 == 10)
    // appends publish their own stats sidecar; both generations prune
    store.append("t", spark.range(2000, 3000).selectExpr("id AS k", "'x' AS v"))
    val (k2, t2) = store.pruneEvidence("t", "k", 150, 180)
    assert(t2 > 10 && k2 < 10, s"kept=$k2 total=$t2")
    assert(store.readWhere("t", "k", 150, 2010).count() == 850 + 11)
    // a store built without statsColumns reads the same table unpruned
    val nostats = new TableStore(spark, store.tablePath("t").stripSuffix("/t"),
      CommitMode.Pointer)
    assert(nostats.readWhere("t", "k", 150, 180).count() == 31)
  }

  test("a partial marker never occupies a retention slot: current+previous survive it") {
    val store = pointerStore() // keepGenerations = 2 (current + previous)
    store.atomicOverwrite("t", Seq(1).toDF("k")) // → _commit.1
    val fs = hadoopFs(store, "t")
    // a writer crashed between marker create and content write: well-named
    // marker, empty content — unparseable forever
    fs.create(new org.apache.hadoop.fs.Path(store.tablePath("t"), "_commit.2"), false).close()
    store.atomicOverwrite("t", Seq(2).toDF("k")) // → _commit.3 (indexes above ALL markers)
    // retention counted COMMITTED markers only: the previous committed
    // generation (_commit.1) is still retained — a reader that resolved just
    // before the publish keeps its files, and the garbage partial is gone
    assert(store.generations("t") == Seq(3L, 1L), store.generations("t").toString)
    assert(store.readGeneration("t", 1L).as[Int].collect().toSeq == Seq(1))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(store.tablePath("t"), "_commit.2")),
      "dead partial marker below the newest committed index must be dropped")
    assert(store.read("t").as[Int].collect().toSeq == Seq(2))
  }

  test("mistyped read bounds skip pruning instead of lexicographically dropping rows") {
    // string-statted column whose values LOOK numeric: "20" < "5"
    // lexicographically, but Spark's residual filter coerces numerically —
    // pruning under the recorded string dtype would silently drop rows
    val store = new TableStore(spark, TestSpark.tempDir("graft-dtype").toString,
      CommitMode.Pointer, statsColumns = Seq("s"))
    val df = Seq("3", "5", "20", "100").toDF("s")
    store.atomicOverwriteClustered("t", df, Seq("s"), 4)
    // numeric bounds on the string column: no pruning (kept == total), and
    // the result equals the coercing filtered read ("5" and "20" match)
    val (kept, total) = store.pruneEvidence("t", "s", 5, 30)
    assert(kept == total, s"mistyped bounds must not prune: kept=$kept total=$total")
    import org.apache.spark.sql.functions.{col, lit}
    val expect = store.read("t").filter(col("s") >= lit(5) && col("s") <= lit(30))
      .as[String].collect().toSet
    assert(store.readWhere("t", "s", 5, 30).as[String].collect().toSet == expect)
    // correctly-typed string bounds on the same column DO prune
    val (k2, t2) = store.pruneEvidence("t", "s", "100", "100")
    assert(k2 < t2, s"string bounds on a string column should prune: kept=$k2 total=$t2")
    assert(store.readWhere("t", "s", "100", "100").as[String].collect().toSeq == Seq("100"))
  }

  test("a committed marker naming vanished gen dirs is skipped by readers and retired by recover") {
    val store = pointerStore()
    store.atomicOverwrite("t", Seq(1).toDF("k"))
    store.atomicOverwrite("t", Seq(2).toDF("k"))
    // the lock-break race footprint: the newest manifest's gen dir was
    // recover()ed away by a competing writer after the marker landed
    val fs = hadoopFs(store, "t")
    val top = store.generations("t").head
    val newestGen = {
      // resolve which gen dir the top marker references via the read itself
      val files = store.read("t").inputFiles
      files.head.split("/").dropRight(1).last
    }
    fs.delete(new org.apache.hadoop.fs.Path(store.tablePath("t"), newestGen), true)
    // readers skip to the previous good generation instead of throwing
    assert(store.read("t").as[Int].collect().toSeq == Seq(1))
    assert(store.exists("t"))
    // recover retires the wedged marker permanently
    store.recover("t")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(store.tablePath("t"), s"_commit.$top")),
      "recover must drop a complete marker whose dirs are missing")
    assert(store.read("t").as[Int].collect().toSeq == Seq(1))
    // the next publish proceeds normally on top of the healed chain
    store.atomicOverwrite("t", Seq(3).toDF("k"))
    assert(store.read("t").as[Int].collect().toSeq == Seq(3))
  }

  test("two writers racing one expired lock: exactly one torn-free winner per attempt") {
    val dir = TestSpark.tempDir("graft-ttlrace").toString
    val store = new TableStore(spark, dir, CommitMode.Pointer, lockTtlMs = 500L)
    store.atomicOverwrite("t", Seq(0).toDF("k"))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(store.tablePath("t") + ".lock")
    fs.create(lock, false).close()
    fs.setTimes(lock, System.currentTimeMillis - 60000, -1) // expired: both writers may break it
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(1, 2).map { i =>
      new Thread(() => {
        try store.atomicOverwrite("t", Seq(i).toDF("k"))
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    // both may run recovery concurrently (idempotent); the lock CAS then
    // admits one at a time — a loser fails ONLY with the loud concurrency
    // error, never anything else, and the final state is exactly one
    // writer's payload
    errs.forEach(e => assert(e.isInstanceOf[ConcurrentWriteException], e.toString))
    assert(errs.size() < 2, "at least one writer must have succeeded")
    val got = store.read("t").as[Int].collect().toSeq
    assert(got == Seq(1) || got == Seq(2), got.toString)
    assert(!fs.exists(lock), "winner must release the lock")
  }

  test("date-partitioned pointer generations compose partition pruning with file stats skipping") {
    import org.apache.spark.sql.functions.col
    val store = new TableStore(spark, TestSpark.tempDir("graft-partskip").toString,
      CommitMode.Pointer, statsColumns = Seq("k"))
    // 3 days × 4 range-clustered files per day: k in [0,1200), day = k/400
    val df = spark.range(0, 1200).selectExpr("id AS k",
      "CAST(DATE '2024-01-01' + CAST(id / 400 AS INT) AS DATE) AS day")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    val days = (1 to 3).map(d => java.time.LocalDate.of(2024, 1, d))
    store.overwriteDatePartitions("t", df, "day", days)
    val totalFiles = store.read("t").inputFiles.length
    assert(totalFiles >= 6, s"fixture must be multi-file per day, got $totalFiles")
    // coarse axis: a band on the PARTITION column skips whole day dirs
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val (kP, tP) = store.pruneEvidence("t", "day", d1, d1)
    assert(tP == totalFiles && kP < tP, s"partition axis: kept=$kP total=$tP")
    assert(store.readWhere("t", "day", d1, d1).count() == 400)
    // fine axis: a band on the NON-partition column skips files INSIDE days
    val (kF, tF) = store.pruneEvidence("t", "k", 100, 140)
    assert(kF < tF, s"file axis inside partitions: kept=$kF total=$tF")
    assert(store.readWhere("t", "k", 100, 140).count() == 41)
    // composed: both bounds intersect to fewer files than either alone
    val both = Seq(("day", d1: Any, d1: Any), ("k", 100: Any, 140: Any))
    val (kB, _) = store.pruneEvidence("t", both)
    assert(kB <= math.min(kP, kF), s"composed kept=$kB vs axis kepts $kP/$kF")
    val got = store.readWhere("t", both)
    assert(got.count() == 41)
    // the partition column survives the pruned read (basePath inference)
    assert(got.columns.contains("day"))
    assert(got.select(col("day").cast("string")).distinct().as[String].collect().toSeq ==
      Seq("2024-01-01"))
    // a later windowed reload keeps both axes working across mixed generations
    store.overwriteDatePartitions("t",
      spark.range(800, 1200).selectExpr("id AS k", "DATE '2024-01-03' AS day")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      "day", Seq(java.time.LocalDate.of(2024, 1, 3)))
    val (k2, t2) = store.pruneEvidence("t", "k", 100, 140)
    assert(k2 < t2, s"after reload: kept=$k2 total=$t2")
    assert(store.readWhere("t", "k", 100, 140).count() == 41)
    assert(store.readWhere("t", "day", d1, d1).count() == 400)
  }

  test("two-dimensional readWhere over the z-order layout prunes on BOTH dimensions") {
    import org.apache.spark.sql.functions.col
    val store = new TableStore(spark, TestSpark.tempDir("graft-z2d").toString,
      CommitMode.Pointer, statsColumns = Seq("a", "b"))
    // a 100×100 grid: z-ordering keeps files rectangle-ish in (a, b)
    val df = spark.range(0, 10000).selectExpr("id % 100 AS a", "CAST(id / 100 AS BIGINT) AS b")
    store.atomicOverwriteZOrdered("t", df, "a", "b", 16)
    val (_, total) = store.pruneEvidence("t", "a", 0L, 99L)
    assert(total >= 8, s"fixture must be multi-file, got $total")
    // each single dimension prunes on its own
    val (ka, _) = store.pruneEvidence("t", "a", 10L, 20L)
    val (kb, _) = store.pruneEvidence("t", "b", 10L, 20L)
    assert(ka < total, s"dim a alone: kept=$ka of $total")
    assert(kb < total, s"dim b alone: kept=$kb of $total")
    // the intersected 2-D band opens a strict subset of EACH dimension's set
    val bounds = Seq(("a", 10L: Any, 20L: Any), ("b", 10L: Any, 20L: Any))
    val (k2, t2) = store.pruneEvidence("t", bounds)
    assert(t2 == total && k2 < ka && k2 < kb, s"2-D kept=$k2 vs a=$ka b=$kb total=$total")
    // result ≡ the plain double-filtered read
    val expect = store.read("t")
      .filter(col("a").between(10, 20) && col("b").between(10, 20)).count()
    assert(expect == 11L * 11L)
    assert(store.readWhere("t", bounds).count() == expect)
    // empty intersection prunes everything and still returns empty
    assert(store.readWhere("t", Seq(("a", 2000L: Any, 3000L: Any), ("b", 10L: Any, 20L: Any)))
      .count() == 0)
  }

  test("pointer-mode bucketed layout survives the store round-trip with NO catalog state") {
    import org.apache.spark.sql.functions._
    val store = pointerStore()
    val orders = graft.io.Tables.load(spark, TestSpark.Sf0001, "orders")
    val customer = graft.io.Tables.load(spark, TestSpark.Sf0001, "customer")
    spark.sql("DROP TABLE IF EXISTS pb_orders")
    spark.sql("DROP TABLE IF EXISTS pb_customer")
    store.writeBucketed("pb_orders", orders, "o_custkey", 8)
    store.writeBucketed("pb_customer", customer, "c_custkey", 8, sortCols = Seq("c_custkey"))
    // the write left NOTHING in the session catalog under the table names:
    // the bucket spec lives in the generation's _bucketspec sidecar
    assert(!spark.catalog.tableExists("pb_orders") && !spark.catalog.tableExists("pb_customer"))
    val conf = spark.conf
    val prevBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = store.readBucketed("pb_orders")
        .join(store.readBucketed("pb_customer"), col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"pointer co-bucketed join still shuffles:\n$plan")
      assert(joined.count() ==
        orders.join(customer, col("o_custkey") === col("c_custkey")).count())
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    // publish is atomic + versioned like any pointer rewrite: re-bucketing
    // replaces the generation, and the new shim picks up the new files
    store.writeBucketed("pb_orders", orders.filter(col("o_orderkey") % 2 === 0), "o_custkey", 8)
    assert(store.readBucketed("pb_orders").count() ==
      orders.filter(col("o_orderkey") % 2 === 0).count())
    // plain read() works on a bucketed generation too (files are plain parquet)
    assert(store.read("pb_orders").count() == store.readBucketed("pb_orders").count())
    // a PLAIN rewrite supersedes the layout: readBucketed fails loudly
    // instead of silently downgrading the zero-shuffle contract
    store.atomicOverwrite("pb_orders", orders.limit(10))
    val e1 = intercept[IllegalStateException](store.readBucketed("pb_orders"))
    assert(e1.getMessage.contains("_bucketspec"), e1.getMessage)
    assert(store.read("pb_orders").count() == 10)
    // appends accumulate generations: the bucket contract is gone, loudly
    store.writeBucketed("pb_orders", orders, "o_custkey", 8)
    store.append("pb_orders", orders.limit(5))
    val e2 = intercept[IllegalStateException](store.readBucketed("pb_orders"))
    assert(e2.getMessage.contains("generation dirs"), e2.getMessage)
  }

  test("run snapshot: mid-run readers see ALL old state, post-run ALL new; pins survive vacuum") {
    val store = pointerStore() // keepGenerations = 2
    store.atomicOverwrite("t1", Seq(1).toDF("k"))
    store.atomicOverwrite("t2", Seq(10).toDF("k"))
    val s1 = store.publishSnapshot(Seq("t1", "t2"))
    // a new "run" begins: t1 already republished, t2 not yet — per-table
    // current reads are mixed, but the snapshot view stays pairwise OLD
    store.atomicOverwrite("t1", Seq(2).toDF("k"))
    assert(store.read("t1").as[Int].collect().toSeq == Seq(2)) // current: new
    assert(store.readSnapshot(s1, "t1").as[Int].collect().toSeq == Seq(1))
    assert(store.readSnapshot(s1, "t2").as[Int].collect().toSeq == Seq(10))
    // run completes and publishes its snapshot: one marker flips the pair
    store.atomicOverwrite("t2", Seq(20).toDF("k"))
    val s2 = store.publishSnapshot(Seq("t1", "t2"))
    assert(store.readSnapshot(s2, "t1").as[Int].collect().toSeq == Seq(2))
    assert(store.readSnapshot(s2, "t2").as[Int].collect().toSeq == Seq(20))
    assert(store.snapshots() == Seq(s2, s1))
    // the previous snapshot keeps reading its own consistent pair
    assert(store.readSnapshot(s1, "t1").as[Int].collect().toSeq == Seq(1))
    // retained snapshots PIN their generations past the per-table window:
    // three more t1 publishes would vacuum gen(s1) under keep=2 alone
    store.atomicOverwrite("t1", Seq(3).toDF("k"))
    store.atomicOverwrite("t1", Seq(4).toDF("k"))
    store.atomicOverwrite("t1", Seq(5).toDF("k"))
    assert(store.readSnapshot(s1, "t1").as[Int].collect().toSeq == Seq(1),
      "snapshot-pinned generation must survive per-table vacuum")
    assert(store.readSnapshot(s2, "t1").as[Int].collect().toSeq == Seq(2))
    assert(store.read("t1").as[Int].collect().toSeq == Seq(5))
    // loud errors: unknown table in snapshot, unknown snapshot id, rename mode
    intercept[IllegalArgumentException](store.readSnapshot(s1, "nope"))
    intercept[IllegalArgumentException](store.snapshotEntries(9999L))
    intercept[IllegalArgumentException](freshStore().publishSnapshot(Seq("t1")))
  }

  test("history mirrors the publish sequence; vacuum dry-run deletes nothing, real run reclaims") {
    val store = new TableStore(spark, TestSpark.tempDir("graft-hist").toString,
      CommitMode.Pointer, keepGenerations = 4)
    store.atomicOverwrite("t", Seq(1).toDF("k"))
    store.append("t", Seq(2, 3).toDF("k"))
    store.compact("t", 1)
    val h = store.history("t").orderBy(org.apache.spark.sql.functions.col("generation"))
      .select("generation", "op", "n_rows", "n_files")
      .as[(Long, String, Long, Long)].collect().toSeq
    // three committed generations, ops recorded, row counts are the table
    // state AT each generation (append manifests include prior dirs)
    assert(h.map(_._2) == Seq("atomicOverwrite", "append", "compact"), h.toString)
    assert(h.map(_._3) == Seq(1L, 3L, 3L), h.toString)
    assert(h.forall(_._4 > 0), h.toString)
    val gens = store.generations("t")
    assert(h.map(_._1).reverse == gens, s"history must cover $gens")
    // committed_at is monotone over the publish sequence
    val times = store.history("t").orderBy("generation")
      .select("committed_at").as[java.sql.Timestamp].collect().toSeq
    assert(times == times.sorted, times.toString)
    // dry-run vacuum REPORTS the reclaim plan and touches nothing
    val dry = store.vacuum("t", keep = 2, dryRun = true)
      .as[(String, String, String)].collect().toSeq
    assert(dry.nonEmpty && dry.forall(_._3 == "would_delete"), dry.toString)
    assert(store.generations("t") == gens, "dry-run must not delete")
    assert(store.readGeneration("t", gens.last).count() == 1)
    // the real vacuum reclaims the oldest generation; the survivors read on
    val got = store.vacuum("t", keep = 2).as[(String, String, String)].collect().toSeq
    assert(got.map(r => (r._1, r._2)).toSet == dry.map(r => (r._1, r._2)).toSet, s"$got vs $dry")
    assert(store.generations("t") == gens.take(2), store.generations("t").toString)
    assert(store.read("t").count() == 3)
    intercept[IllegalArgumentException](store.vacuum("t", keep = 1))
    // rename-layout tables have no history and nothing to vacuum
    val plain = freshStore()
    plain.atomicOverwrite("r", Seq(1).toDF("k"))
    assert(plain.history("r").isEmpty && plain.vacuum("r", 2).isEmpty)
  }

  test("pruned reads compose with time travel and snapshots") {
    import org.apache.spark.sql.functions.col
    val store = new TableStore(spark, TestSpark.tempDir("graft-ttprune").toString,
      CommitMode.Pointer, keepGenerations = 3, statsColumns = Seq("k"))
    store.atomicOverwriteClustered("t", spark.range(0, 1000).selectExpr("id AS k"), Seq("k"), 10)
    val snap = store.publishSnapshot(Seq("t"))
    val oldGen = store.generations("t").head
    // the table moves on: the old generation's band is GONE from current
    store.atomicOverwriteClustered("t",
      spark.range(5000, 6000).selectExpr("id AS k"), Seq("k"), 10)
    assert(store.readWhere("t", "k", 150, 180).count() == 0)
    // time-travel pruned read: old band, old snapshot, pruned file set
    val viaGen = store.readGenerationWhere("t", oldGen, Seq(("k", 150, 180)))
    assert(viaGen.count() == 31)
    assert(viaGen.inputFiles.length < store.readGeneration("t", oldGen).inputFiles.length,
      "time-travel read must open a strict subset of the snapshot's files")
    // ≡ the unpruned time-travel filter
    assert(viaGen.as[Long].collect().sorted.toSeq ==
      store.readGeneration("t", oldGen).filter(col("k").between(150, 180))
        .as[Long].collect().sorted.toSeq)
    // and through the run-level snapshot pin
    assert(store.readSnapshotWhere(snap, "t", Seq(("k", 150, 180))).count() == 31)
    intercept[IllegalArgumentException](
      store.readGenerationWhere("t", 9999L, Seq(("k", 0, 1))))
    intercept[IllegalArgumentException](
      store.readSnapshotWhere(snap, "nope", Seq(("k", 0, 1))))
  }

  test("property: readWhere equals read+filter under randomized bounds and column types") {
    import org.apache.spark.sql.functions.col
    // the silent-row-loss class the r11 ADVICE flagged: pruning must agree
    // with Spark's own filter under EVERY (column dtype × bound type)
    // pairing — mismatches must fall back, never drop
    val store = new TableStore(spark, TestSpark.tempDir("graft-prop").toString,
      CommitMode.Pointer, statsColumns = Seq("n", "s", "d", "ts"))
    val df = spark.range(0, 300).selectExpr(
      "id AS n",
      "CAST(id AS STRING) AS s", // numeric-LOOKING strings: the trap
      "DATE '2024-01-01' + CAST(id % 60 AS INT) AS d",
      "CAST(TIMESTAMP '2024-01-01 00:00:00' + make_interval(0,0,0,0,CAST(id AS INT),0,0) AS TIMESTAMP_NTZ) AS ts")
    store.atomicOverwriteClustered("t", df, Seq("n"), 8)
    val rnd = new scala.util.Random(42)
    val boundsPool: Seq[(String, Any, Any)] = Seq(
      ("n", 37L, 141L), ("n", "50", "200"), ("n", 0.5, 99.5),
      ("s", "100", "150"), ("s", 25, 125), // numeric bound on string col
      ("d", java.sql.Date.valueOf("2024-01-10"), java.sql.Date.valueOf("2024-01-20")),
      ("d", "2024-01-05", "2024-02-15"),
      ("ts", java.sql.Timestamp.valueOf("2024-01-02 00:00:00"),
        java.sql.Timestamp.valueOf("2024-01-06 00:00:00")),
      ("n", -50L, -1L), ("n", 5000L, 9000L)) // empty bands
    (1 to 25).foreach { _ =>
      val k = 1 + rnd.nextInt(2)
      val bounds = Seq.fill(k)(boundsPool(rnd.nextInt(boundsPool.size)))
      import org.apache.spark.sql.functions.lit
      val expect = bounds.foldLeft(store.read("t")) { case (acc, (c, lo, hi)) =>
        acc.filter(col(c) >= lit(lo) && col(c) <= lit(hi))
      }.select("n").as[Long].collect().sorted.toSeq
      val got = store.readWhere("t", bounds).select("n").as[Long].collect().sorted.toSeq
      assert(got == expect, s"bounds=$bounds: got ${got.size} rows, expected ${expect.size}")
    }
  }

  test("generationDiff yields the exact insert/delete multiset between snapshots") {
    val store = new TableStore(spark, TestSpark.tempDir("graft-gdiff").toString,
      CommitMode.Pointer, keepGenerations = 3)
    // duplicates included: multiset semantics, not set semantics
    store.atomicOverwrite("t", Seq((1, "a"), (1, "a"), (2, "b")).toDF("k", "v"))
    store.atomicOverwrite("t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    val gens = store.generations("t")
    val diff = store.generationDiff("t", gens(1), gens.head)
      .as[(Int, String, String)].collect().toSeq.sorted
    // one copy of (1,a) left → ONE delete; (3,c) appeared → one insert
    assert(diff == Seq((1, "a", "delete"), (3, "c", "insert")), diff.toString)
    // reverse direction flips the tags
    val rev = store.generationDiff("t", gens.head, gens(1))
      .as[(Int, String, String)].collect().toSeq.sorted
    assert(rev == Seq((1, "a", "insert"), (3, "c", "delete")), rev.toString)
    // identical generations diff to empty
    assert(store.generationDiff("t", gens.head, gens.head).isEmpty)
    intercept[IllegalArgumentException](store.generationDiff("t", 999L, gens.head))
  }

  test("compactClustered folds append generations back into disjoint sorted files") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.functions.col
    val store = new TableStore(spark, TestSpark.tempDir("graft-cclu").toString,
      CommitMode.Pointer, keepGenerations = 2)
    store.atomicOverwriteClustered("t",
      spark.range(0L, 800L).selectExpr("id AS k", "id * 2 AS v"), Seq("k"), 4)
    // three ingest batches: each append publishes its own generation whose
    // files sit OUTSIDE the clustered layout
    for (b <- 0 until 3)
      store.append("t", spark.range(800L + b * 100, 800L + b * 100 + 100)
        .selectExpr("id AS k", "id * 2 AS v"))
    val before = store.read("t")
    val beforeRows = before.orderBy("k").as[(Long, Long)].collect().toSeq
    val beforeFiles = before.inputFiles.length
    assert(beforeFiles > 4, s"appends must add files: $beforeFiles")
    store.compactClustered("t", Seq("k"), numFiles = 4)
    val after = store.read("t")
    // 1. multiset unchanged
    assert(after.orderBy("k").as[(Long, Long)].collect().toSeq == beforeRows)
    // 2. file count restored to the layout target
    assert(after.inputFiles.length == 4, s"expected 4 files, got ${after.inputFiles.length}")
    // 3. the rewritten files carry DISJOINT k ranges (the probe-skip
    //    contract plain compact's hash repartition would destroy)
    val ranges = after.inputFiles.toSeq.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f), new org.apache.hadoop.conf.Configuration()))
      try {
        val blocks = r.getFooter.getBlocks
        val idx = r.getFooter.getFileMetaData.getSchema.getFieldIndex("k")
        val stats = (0 until blocks.size()).map(i => blocks.get(i).getColumns.get(idx).getStatistics)
        (stats.map(_.genericGetMin.asInstanceOf[Long]).min,
          stats.map(_.genericGetMax.asInstanceOf[Long]).max)
      } finally r.close()
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 <= b._1, s"post-compaction ranges overlap: $a vs $b")
      case _ => ()
    }
    // 4. a key predicate still answers exactly
    assert(store.read("t").filter(col("k") === 1050L).count() == 1)
  }

  test("breaking a stale lock heals the table AND commits the breaking append in one call") {
    // pointer-mode append writes its gen dir BEFORE taking the lock; the
    // stale-break recovery must not sweep that in-flight dir (grace = TTL,
    // not 0) — regression pin for the defect the TTL stress found
    // (BASELINE.md, "store concurrency stress")
    val root = TestSpark.tempDir("graft-ttl").toString
    val store = new TableStore(spark, root, CommitMode.Pointer,
      lockTtlMs = 60000L, appendLockWaitMs = 0L)
    store.atomicOverwrite("t", spark.range(100L).toDF("id"))
    // a "crashed writer's" lock, backdated beyond the TTL (no sleeping)
    val lock = java.nio.file.Paths.get(s"$root/t.lock")
    java.nio.file.Files.writeString(lock, "crashed")
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis - 120000L))
    store.append("t", spark.range(100L, 200L).toDF("id")) // one call: break + heal + commit
    assert(store.read("t").count() == 200L, "the healing append must commit its own rows")
    assert(!java.nio.file.Files.exists(lock) ||
      java.nio.file.Files.readString(lock) != "crashed", "stale lock must be replaced")
  }

  test("generationDiff tolerates nullability-only schema differences between generations") {
    // append's drift guard PERMITS nullability-only drift (stripNullability),
    // so two healthy generations can disagree on array containsNull / field
    // nullable — the diff must not refuse them as a type change
    val store = new TableStore(spark, TestSpark.tempDir("graft-gdiff-null").toString,
      CommitMode.Pointer, keepGenerations = 3)
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    val tight = StructType(Seq(StructField("k", IntegerType, nullable = false),
      StructField("v", ArrayType(DoubleType, containsNull = false), nullable = false)))
    val loose = StructType(Seq(StructField("k", IntegerType, nullable = true),
      StructField("v", ArrayType(DoubleType, containsNull = true), nullable = true)))
    store.atomicOverwrite("t", spark.createDataFrame(
      java.util.List.of(Row(1, Seq(1.0, 2.0)), Row(2, Seq(3.0))), tight))
    store.append("t", spark.createDataFrame(
      java.util.List.of(Row(3, Seq(4.0))), loose)) // legal per the drift guard
    val gens = store.generations("t")
    val diff = store.generationDiff("t", gens(1), gens.head)
    assert(diff.filter(col("__change") === "insert").count() == 1)
    assert(diff.filter(col("__change") === "delete").count() == 0)
    // a VALUE-type change still refuses loudly
    val other = new TableStore(spark, TestSpark.tempDir("graft-gdiff-null2").toString,
      CommitMode.Pointer, keepGenerations = 3)
    other.atomicOverwrite("t", Seq((1, 1.0)).toDF("k", "v"))
    other.atomicOverwrite("t", Seq((1, "s")).toDF("k", "v"))
    val g2 = other.generations("t")
    val e = intercept[IllegalStateException](other.generationDiff("t", g2(1), g2.head).count())
    assert(e.getMessage.contains("column type changed"), e.getMessage)
  }

  test("generationDiffEvidence totals come from commit sidecars, not a table walk") {
    val root = TestSpark.tempDir("graft-gdev").toString
    val store = new TableStore(spark, root, CommitMode.Pointer, keepGenerations = 3)
    store.atomicOverwrite("t", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    store.append("t", Seq((3, "c")).toDF("k", "v"))
    val gens = store.generations("t")
    val (scanned0, total0) = store.generationDiffEvidence("t", gens(1), gens.head)
    assert(scanned0 > 0 && total0 >= scanned0)
    // tamper the newest commit's sidecar file count: if the evidence call
    // really answers totals from sidecars (O(1) metadata, no listing of the
    // table's files), the tampered number must surface verbatim
    val dir = new java.io.File(root, "t")
    val metas = dir.listFiles().filter(_.getName.endsWith(".meta")).sortBy(_.getName)
    val target = metas.last
    val tampered = new String(java.nio.file.Files.readAllBytes(target.toPath), "UTF-8")
      .linesIterator.map(l => if (l.startsWith("files\t")) "files\t9999" else l)
      .mkString("\n")
    java.nio.file.Files.write(target.toPath, tampered.getBytes("UTF-8"))
    // drop the checksum sibling so the local FS reads the tampered bytes
    new java.io.File(dir, s".${target.getName}.crc").delete()
    val (_, totalTampered) = store.generationDiffEvidence("t", gens(1), gens.head)
    assert(totalTampered > 9999, // newest side reports 9999 + the other side's real count
      s"evidence walked the table instead of reading the sidecar: $totalTampered")
    // a LOST sidecar falls back to listing, for that side only
    assert(target.delete())
    val (_, totalFallback) = store.generationDiffEvidence("t", gens(1), gens.head)
    assert(totalFallback == total0, s"fallback should recount: $totalFallback vs $total0")
  }

  test("generationDiff across an evolved append chain keeps the added column") {
    val store = new TableStore(spark, TestSpark.tempDir("graft-gdiff-ev").toString,
      CommitMode.Pointer, keepGenerations = 5)
    store.atomicOverwrite("t", Seq((1, "a")).toDF("k", "v"))
    val g0 = store.generations("t").head
    // the appended generation carries a NEW column: the diff's insert side
    // must surface it (null-filled on the before side), not silently drop it
    store.append("t", Seq((2, "b", "x2")).toDF("k", "v", "extra"))
    val g1 = store.generations("t").head
    val diff = store.generationDiff("t", g0, g1)
    assert(diff.columns.contains("extra"), s"added column lost: ${diff.columns.toSeq}")
    assert(diff.select("k", "v", "extra", "__change").as[(Int, String, Option[String], String)]
      .collect().toSeq == Seq((2, "b", Some("x2"), "insert")))
    // a REMOVED column (rewrite drops it): old rows diff out with their
    // value, new rows null-fill — and the column survives in the output
    store.atomicOverwrite("t", Seq((3, "c")).toDF("k", "v"))
    val g2 = store.generations("t").head
    val rm = store.generationDiff("t", g1, g2)
      .as[(Int, String, Option[String], String)].collect().toSet
    assert(rm == Set((1, "a", None, "delete"), (2, "b", Some("x2"), "delete"),
      (3, "c", None, "insert")), rm.toString)
    // a TYPE change between generations refuses loudly at the cause
    store.atomicOverwrite("t", Seq((4, 9L)).toDF("k", "v"))
    val g3 = store.generations("t").head
    val e = intercept[IllegalStateException](store.generationDiff("t", g2, g3))
    assert(e.getMessage.contains("type changed"), e.getMessage)
  }

  test("compact preserves a partitioned layout; windowed overwrites still work after it") {
    import org.apache.spark.sql.functions.col
    def fixture(store: TableStore): Unit = {
      def rows(pairs: (String, Int)*) = pairs.toSeq.toDF("day", "v")
        .withColumn("day", col("day").cast("date"))
      store.overwriteDatePartitions("t",
        rows("2024-01-01" -> 1, "2024-01-02" -> 2).repartition(4),
        "day", (1 to 2).map(d => java.time.LocalDate.of(2024, 1, d)))
      store.compact("t", 2)
      // the partition layout SURVIVED compaction (old behavior flattened it,
      // stranding the next windowed overwrite)
      val files = store.read("t").inputFiles
      assert(files.forall(_.contains("day=")), files.take(3).mkString(", "))
      // and the windowed overwrite still works on the compacted table
      store.overwriteDatePartitions("t", rows("2024-01-02" -> 20),
        "day", Seq(java.time.LocalDate.of(2024, 1, 2)))
      val after = store.read("t").select(col("day").cast("string"), col("v"))
        .as[(String, Int)].collect().toSet
      assert(after == Set(("2024-01-01", 1), ("2024-01-02", 20)))
    }
    fixture(freshStore())   // rename layout
    fixture(pointerStore()) // pointer layout
  }

  test("multi-level partitioned generations prune on every level plus file stats") {
    import org.apache.spark.sql.functions.col
    val store = new TableStore(spark, TestSpark.tempDir("graft-mlp").toString,
      CommitMode.Pointer, statsColumns = Seq("k"))
    // two partition levels (region / day) + range-clustered files within
    val df = spark.range(0, 1200).selectExpr("id AS k",
      "CASE WHEN id % 2 = 0 THEN 'eu' ELSE 'us' END AS region",
      "CAST(DATE '2024-01-01' + CAST(id / 400 AS INT) AS DATE) AS day")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    store.atomicOverwrite("t", df, partitionBy = Seq("region", "day"))
    val total = store.pruneEvidence("t", "k", Long.MinValue, Long.MaxValue)._2
    assert(total >= 12, s"fixture must span many leaf files, got $total")
    // level-1 bound (region) halves the tree; level-2 bound (day) cuts to
    // a third; the file-stats bound prunes within leaves; all compose
    val (kR, _) = store.pruneEvidence("t", "region", "eu", "eu")
    assert(kR < total, s"region axis: $kR of $total")
    val d1 = java.sql.Date.valueOf("2024-01-01")
    val (kD, _) = store.pruneEvidence("t", "day", d1, d1)
    assert(kD < total, s"day axis: $kD of $total")
    val (kK, _) = store.pruneEvidence("t", "k", 100, 140)
    assert(kK < total, s"file-stats axis: $kK of $total")
    val all = Seq[(String, Any, Any)](("region", "eu", "eu"), ("day", d1, d1), ("k", 100, 140))
    val (kAll, tAll) = store.pruneEvidence("t", all)
    assert(tAll == total && kAll <= Seq(kR, kD, kK).min, s"composed: $kAll vs $kR/$kD/$kK")
    // result ≡ the filtered read, partition columns intact
    val got = store.readWhere("t", all)
    assert(got.columns.toSet == Set("k", "region", "day"))
    val expect = store.read("t").filter(col("region") === "eu" && col("day") === d1 &&
      col("k").between(100, 140)).select("k").as[Long].collect().sorted.toSeq
    assert(got.select("k").as[Long].collect().sorted.toSeq == expect && expect.nonEmpty)
  }

  test("readWhere on an append-evolved table takes readEvolved union semantics") {
    val store = new TableStore(spark, TestSpark.tempDir("graft-evprune").toString,
      CommitMode.Pointer, statsColumns = Seq("k", "score"))
    store.append("t", spark.range(0, 100).selectExpr("id AS k"))
    store.append("t", spark.range(100, 200).selectExpr("id AS k", "CAST(id AS DOUBLE) AS score"))
    // bound on the shared column: both generations contribute; the old one
    // reads NULL for score instead of crashing the frame union
    val got = store.readWhere("t", "k", 50, 150)
    assert(got.columns.sorted.toSeq == Seq("k", "score"))
    assert(got.count() == 101)
    // bound on the LATER column: the old generation's rows are NULL there
    // and a range bound never matches NULL — evolved-filter semantics
    assert(store.readWhere("t", "score", 120.0, 130.0).count() == 11)
  }

  test("append refuses column TYPE drift loudly; additive evolution stays allowed") {
    val store = pointerStore()
    store.append("t", Seq((1, "a")).toDF("k", "v"))
    // additive: fine (readEvolved semantics)
    store.append("t", Seq((2, "b", 9.5)).toDF("k", "v", "score"))
    // type change on an existing column: refused AT THE WRITE, not at a
    // later mergeSchema read far from the cause
    val e = intercept[IllegalArgumentException](
      store.append("t", Seq(("3", "c")).toDF("k", "v"))) // k: int -> string
    assert(e.getMessage.contains("type drift"), e.getMessage)
    assert(store.readEvolved("t").count() == 2, "failed append must publish nothing")
    // the rename layout gets the same guard
    val plain = freshStore()
    plain.append("t", Seq((1, "a")).toDF("k", "v"))
    intercept[IllegalArgumentException](plain.append("t", Seq((2.5, "b")).toDF("k", "v")))
    assert(plain.read("t").count() == 1)
  }

  test("vacuum deletion takes the writer lock; dry-run stays lock-free") {
    val store = new TableStore(spark, TestSpark.tempDir("graft-vlock").toString,
      CommitMode.Pointer, keepGenerations = 2)
    store.atomicOverwrite("t", Seq(1).toDF("k"))
    store.atomicOverwrite("t", Seq(2).toDF("k"))
    store.atomicOverwrite("t", Seq(3).toDF("k"))
    val fs = hadoopFs(store, "t")
    val lock = new org.apache.hadoop.fs.Path(store.tablePath("t") + ".lock")
    fs.create(lock, false).close() // a live writer holds the table
    // dry-run reports without the lock; real vacuum refuses while held
    assert(store.vacuum("t", 2, dryRun = true).count() >= 0)
    intercept[ConcurrentWriteException](store.vacuum("t", 2))
    fs.delete(lock, false)
    store.vacuum("t", 2)
    assert(!fs.exists(lock), "vacuum must release the lock")
    assert(store.read("t").as[Int].collect().toSeq == Seq(3))
  }

  test("append waits briefly for the writer lock, then fails loudly") {
    val dir = TestSpark.tempDir("graft-applock").toString
    val store = new TableStore(spark, dir, CommitMode.Rename, appendLockWaitMs = 400L)
    store.append("t", Seq(1).toDF("k"))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(store.tablePath("t") + ".lock")
    fs.create(lock, false).close()
    val t0 = System.currentTimeMillis
    intercept[ConcurrentWriteException](store.append("t", Seq(2).toDF("k")))
    assert(System.currentTimeMillis - t0 >= 400L, "append should have waited for the lock")
    fs.delete(lock, false)
    store.append("t", Seq(3).toDF("k"))
    assert(store.read("t").as[Int].collect().sorted.toSeq == Seq(1, 3))
  }

  test("a stale lock from a crashed writer blocks writes until recover clears it") {
    val store = freshStore()
    store.atomicOverwrite("t", Seq(1).toDF("k"))
    val fs = new org.apache.hadoop.fs.Path(store.tablePath("t"))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(store.tablePath("t") + ".lock")
    fs.create(lock, false).close() // crashed writer's leftover
    intercept[ConcurrentWriteException](store.atomicOverwrite("t", Seq(2).toDF("k")))
    assert(store.read("t").as[Int].collect().toSeq == Seq(1)) // state untouched
    store.recover("t")
    store.atomicOverwrite("t", Seq(2).toDF("k"))
    assert(store.read("t").as[Int].collect().toSeq == Seq(2))
  }

  test("generationDiff scans only changed partitions; result still equals the full oracle") {
    import org.apache.spark.sql.functions.col
    val store = new TableStore(spark, TestSpark.tempDir("graft-incdiff").toString,
      CommitMode.Pointer, keepGenerations = 3)
    def rows(pairs: (String, Int)*) = pairs.toSeq.toDF("day", "v")
      .withColumn("day", col("day").cast("date"))
    val days = (1 to 6).map(d => java.time.LocalDate.of(2024, 1, d))
    store.overwriteDatePartitions("t",
      rows(days.map(d => d.toString -> d.getDayOfMonth): _*).repartition(6),
      "day", days)
    // one-partition change: day 3 gets a new value
    store.overwriteDatePartitions("t", rows("2024-01-03" -> 300),
      "day", Seq(java.time.LocalDate.of(2024, 1, 3)))
    val gens = store.generations("t")
    // the incremental diff must scan day 3's files on both sides, never the
    // five untouched partitions' (shared manifest entries skip pre-shuffle)
    val (scanned, total) = store.generationDiffEvidence("t", gens(1), gens.head)
    assert(scanned < total && scanned <= total / 3,
      s"one-partition change must diff ~one partition: scanned $scanned of $total files")
    val diff = store.generationDiff("t", gens(1), gens.head)
      .select(col("day").cast("string"), col("v"), col("__change"))
      .as[(String, Int, String)].collect().toSet
    assert(diff == Set(("2024-01-03", 300, "insert"), ("2024-01-03", 3, "delete")), diff.toString)
    // ≡ the non-incremental exceptAll oracle over the full snapshots
    val before = store.readGeneration("t", gens(1))
    val after = store.readGeneration("t", gens.head)
    val oracle = after.exceptAll(before)
      .withColumn("__change", org.apache.spark.sql.functions.lit("insert"))
      .unionByName(before.exceptAll(after)
        .withColumn("__change", org.apache.spark.sql.functions.lit("delete")))
      .select(col("day").cast("string"), col("v"), col("__change"))
      .as[(String, Int, String)].collect().toSet
    assert(diff == oracle)
  }

  test("append drift guard checks the EVOLVED schema, not one arbitrary footer") {
    val store = pointerStore()
    store.append("t", Seq((1, "a")).toDF("k", "v"))
    store.append("t", Seq((2, "b", 9.5)).toDF("k", "v", "score")) // score only in footer 2
    // a later append bringing `score` back at a DIFFERENT type must be
    // refused even if plain read()'s schema inference happened to take the
    // first footer (which has no score column to drift against)
    val e = intercept[IllegalArgumentException](
      store.append("t", Seq((3, "c", "oops")).toDF("k", "v", "score")))
    assert(e.getMessage.contains("type drift"), e.getMessage)
    assert(store.readEvolved("t").count() == 2, "failed append must publish nothing")
    // matching type still appends fine
    store.append("t", Seq((3, "c", 1.5)).toDF("k", "v", "score"))
    assert(store.readEvolved("t").count() == 3)
  }

  test("history answers from commit-time metrics sidecars with zero Spark jobs") {
    val store = pointerStore()
    store.atomicOverwrite("t", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    store.append("t", Seq((3, "c")).toDF("k", "v"))
    val expected = Map(2L -> 3L, 1L -> 2L) // generation -> row count
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val h = store.history("t").collect()
      TestSpark.drainListenerBus()
      assert(jobs.get() == 0,
        s"metrics-bearing history must be a pure metadata read, ran ${jobs.get()} jobs")
      assert(h.map(r => r.getLong(0) -> r.getLong(5)).toMap == expected, h.mkString("; "))
      assert(h.forall(_.getLong(3) > 0) && h.forall(_.getLong(4) > 0), "files/bytes recorded")
      // legacy marker (sidecar lost): history still answers, via recomputation
      val fs = hadoopFs(store, "t")
      fs.delete(new org.apache.hadoop.fs.Path(store.tablePath("t"), "_commit.2.meta"), false)
      val h2 = store.history("t").collect()
      assert(h2.map(r => r.getLong(0) -> r.getLong(5)).toMap == expected, h2.mkString("; "))
      TestSpark.drainListenerBus()
      assert(jobs.get() > 0, "the fallback path recomputes with a count job")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("keepSnapshots decouples snapshot retention from table-generation retention") {
    val store = new TableStore(spark, TestSpark.tempDir("graft-ksnap").toString,
      CommitMode.Pointer, keepGenerations = 2, keepSnapshots = 5)
    store.atomicOverwrite("t", Seq(1).toDF("k"))
    val s1 = store.publishSnapshot(Seq("t"))
    // churn the table well past keepGenerations, snapshotting each publish
    (2 to 4).foreach { v =>
      store.atomicOverwrite("t", Seq(v).toDF("k"))
      store.publishSnapshot(Seq("t"))
    }
    // with the old conflation (snapshot window = keepGenerations = 2) s1
    // would be unpinned and its generation vacuumed by now
    assert(store.snapshots().size == 4)
    assert(store.readSnapshot(s1, "t").as[Int].collect().toSeq == Seq(1),
      "a snapshot inside the keepSnapshots window must stay readable")
    assert(store.read("t").as[Int].collect().toSeq == Seq(4))
  }

  test("parallel appends all commit: N writers, N generations, no lost update") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    val store = new TableStore(spark, TestSpark.tempDir("graft-papp").toString,
      CommitMode.Pointer, keepGenerations = 8)
    store.atomicOverwrite("t", Seq(0).toDF("k"))
    val n = 4
    // the data writes run outside the writer lock and overlap; only the
    // O(1) manifest commits serialize — every append must land
    Await.result(Future.traverse(1 to n) { i =>
      Future(store.append("t", Seq(i).toDF("k")))
    }, Duration.Inf)
    assert(store.read("t").as[Int].collect().sorted.toSeq == (0 to n).toSeq,
      "every concurrent append's rows must be visible")
    assert(store.generations("t").size >= 2, "appends commit as their own generations")
    store.history("t") // smoke: metrics survived the concurrent commits
  }

  test("append refuses when a racing rewrite changes a column type before the commit") {
    // the drift pre-check runs before the data write, OUTSIDE the lock: a
    // rewrite landing in that window used to slip a type-drifted append into
    // the manifest (irreconcilable footers that explode at read time). The
    // in-lock re-check must refuse instead. The seam fires exactly in the
    // race window (after the append's data write, before its lock).
    val root = TestSpark.tempDir("graft-driftrace").toString
    val store = new TableStore(spark, root, CommitMode.Pointer)
    store.atomicOverwrite("t", Seq((1, 1)).toDF("k", "v")) // v: int
    val racer = new TableStore(spark, root, CommitMode.Pointer)
    store.beforeAppendCommit = { t =>
      store.beforeAppendCommit = _ => () // fire once; the racer's write path appends nothing
      racer.atomicOverwrite(t, Seq((1, "s1")).toDF("k", "v")) // v: int -> string
    }
    val e = intercept[IllegalArgumentException](store.append("t", Seq((2, 2)).toDF("k", "v")))
    assert(e.getMessage.contains("type drift"), e.getMessage)
    // nothing half-published: the rewrite's state is intact and readable,
    // and the refused append left no unreferenced generation dir behind
    assert(racer.read("t").select("v").as[String].collect().toSeq == Seq("s1"))
    val stray = new java.io.File(root, "t").listFiles()
      .filter(f => f.getName.startsWith("_gen-")).map(_.getName).toSet
    assert(store.read("t").count() == 1)
    // base overwrite + racer's rewrite stay retained; the refused append's
    // third dir must be gone
    assert(stray.size == 2, s"refused append must reclaim its gen dir: $stray")
  }

  test("a windowed delete emptying the whole table reads as an empty frame, not an error") {
    import org.apache.spark.sql.functions.col
    val store = pointerStore()
    def rows(pairs: (String, Int)*) = pairs.toSeq.toDF("day", "v")
      .withColumn("day", col("day").cast("date"))
    val days = Seq(java.time.LocalDate.of(2024, 1, 1), java.time.LocalDate.of(2024, 1, 2))
    store.overwriteDatePartitions("t", rows("2024-01-01" -> 1, "2024-01-02" -> 2), "day", days)
    // the delete covers EVERY remaining partition: previous entries all
    // filtered out, no fresh parts — a legitimately empty committed state
    store.overwriteDatePartitions("t", rows().filter(col("v") > 0), "day", days)
    assert(store.exists("t"))
    val got = store.read("t")
    assert(got.count() == 0)
    assert(got.columns.toSet == Set("day", "v"),
      "empty state keeps the last known schema for downstream unions")
    // and the table comes back from empty
    store.overwriteDatePartitions("t", rows("2024-01-01" -> 10),
      "day", Seq(java.time.LocalDate.of(2024, 1, 1)))
    assert(store.read("t").select("v").as[Int].collect().toSeq == Seq(10))
  }

  test("appendIdempotent: same key commits once, distinct keys accumulate (rename mode)") {
    val store = freshStore()
    assert(store.appendIdempotent("t", Seq((1, "a")).toDF("k", "v"), "b0"))
    assert(!store.appendIdempotent("t", Seq((1, "a")).toDF("k", "v"), "b0"),
      "replaying a committed key must be a no-op")
    assert(store.read("t").count() == 1)
    assert(store.appendIdempotent("t", Seq((2, "b")).toDF("k", "v"), "b1"))
    assert(store.read("t").as[(Int, String)].collect().toSet == Set((1, "a"), (2, "b")))
    assert(store.idempotentKeyCommitted("t", "b0") && store.idempotentKeyCommitted("t", "b1"))
    assert(!store.idempotentKeyCommitted("t", "b2"))
    // plain appends interleave fine with keyed ones
    store.append("t", Seq((3, "c")).toDF("k", "v"))
    assert(store.read("t").count() == 3)
  }

  test("a keyed rename-mode append refreshes cached reads of the table, like a plain append") {
    val store = freshStore()
    store.atomicOverwrite("t", Seq((1, "a")).toDF("k", "v"))
    val cached = store.read("t").cache()
    try {
      assert(cached.count() == 1)
      assert(store.appendIdempotent("t", Seq((2, "b")).toDF("k", "v"), "b0"))
      assert(store.read("t").count() == 2, "a read after a keyed append returned the cached rows")
      store.append("t", Seq((3, "c")).toDF("k", "v"))
      assert(store.read("t").count() == 3, "a read after a plain append returned the cached rows")
    } finally cached.unpersist()
  }

  test("appendIdempotent: same key commits once, distinct keys accumulate (pointer mode)") {
    val store = new TableStore(spark,
      TestSpark.tempDir("graft-ptr-idem").toString, CommitMode.Pointer)
    assert(store.appendIdempotent("t", Seq((1, "a")).toDF("k", "v"), "b0"))
    assert(!store.appendIdempotent("t", Seq((1, "a")).toDF("k", "v"), "b0"))
    assert(store.appendIdempotent("t", Seq((2, "b")).toDF("k", "v"), "b1"))
    assert(store.read("t").as[(Int, String)].collect().toSet == Set((1, "a"), (2, "b")))
    assert(store.idempotentKeyCommitted("t", "b0"))
    assert(!store.idempotentKeyCommitted("t", "b9"))
    // generations/time-travel still see keyed appends as ordinary commits
    assert(store.generations("t").size == 2)
  }

  test("pointer appendIdempotent: key retired to a marker DURING the pre-check->lock window is honored") {
    // the ADVICE-r16 race: a concurrent same-key commit lands and a
    // compaction retires it into an `_idem.<k>` marker between this
    // writer's fast pre-check and its lock acquisition — the under-lock
    // re-check must see the marker (not only manifest gen-dir names) or
    // the replayed batch commits a duplicate
    val store = new TableStore(spark,
      TestSpark.tempDir("graft-ptr-idem-race").toString, CommitMode.Pointer)
    store.append("t", Seq((0, "seed")).toDF("k", "v"))
    store.beforeAppendCommit = { t =>
      store.beforeAppendCommit = _ => ()
      // simulate the concurrent commit + compaction: the key exists only
      // as a marker file, not as any manifest gen-dir name
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(store.tablePath("t"), "_idem.b0")
      val fs = p.getFileSystem(conf)
      val out = fs.create(p, false)
      try out.write("graft-idem v1\nkey\tb0".getBytes("UTF-8")) finally out.close()
    }
    try assert(!store.appendIdempotent("t", Seq((1, "dup")).toDF("k", "v"), "b0"),
      "replay against a marker-retired key must be a no-op")
    finally store.beforeAppendCommit = _ => ()
    assert(store.read("t").as[(Int, String)].collect().toSet == Set((0, "seed")),
      "the marker-retired key's batch must not re-append")
  }

  test("racing appendIdempotent writers with the SAME key: exactly one commits") {
    // the pointer-mode arbitration path: both writers pass the fast key
    // check, both write private gen dirs, the key re-check under the writer
    // lock (or the O_EXCL marker create) must let exactly one publish
    val store = new TableStore(spark,
      TestSpark.tempDir("graft-ptr-race").toString, CommitMode.Pointer)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val gate = new java.util.concurrent.CountDownLatch(1)
      val results = (0 until 2).map { i =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            gate.await()
            store.appendIdempotent("t", Seq((i, s"w$i")).toDF("k", "v"), "b0")
          }
        })
      }
      gate.countDown()
      val committed = results.map(_.get())
      assert(committed.count(identity) == 1,
        s"exactly one same-key writer must win: $committed")
      assert(store.read("t").count() == 1, "the loser's batch must not be published")
      assert(store.generations("t").size == 1)
    } finally pool.shutdown()
  }

  test("compaction carries exactly-once append keys in both modes") {
    // rename mode: markers are copied into the about-to-publish dir
    val r = freshStore()
    assert(r.appendIdempotent("t", Seq((1, "a")).toDF("k", "v"), "b0"))
    r.compact("t", 1)
    assert(r.idempotentKeyCommitted("t", "b0"), "rename compact lost the key")
    assert(!r.appendIdempotent("t", Seq((1, "a")).toDF("k", "v"), "b0"))
    assert(r.read("t").count() == 1)
    // pointer mode: the key rode the gen-dir name; compaction folds that
    // dir away and must materialize the key as a marker first
    val p = new TableStore(spark,
      TestSpark.tempDir("graft-ptr-ck").toString, CommitMode.Pointer)
    assert(p.appendIdempotent("t", Seq((1, "a")).toDF("k", "v"), "b0"))
    p.compactClustered("t", Seq("k"), 1)
    assert(p.idempotentKeyCommitted("t", "b0"), "pointer compact lost the key")
    assert(!p.appendIdempotent("t", Seq((1, "a")).toDF("k", "v"), "b0"))
    assert(p.read("t").count() == 1)
  }

  test("maybeAutoCompactClustered fires exactly when the file count exceeds the threshold") {
    val store = new TableStore(spark,
      TestSpark.tempDir("graft-ac").toString, autoCompactFiles = 6)
    store.atomicOverwriteClustered("t", (0 until 40).map(i => (i, s"v$i")).toDF("k", "v"),
      Seq("k"), 4)
    // appends below the threshold never trigger
    var fired = 0
    (0 until 10).foreach { i =>
      store.append("t", Seq((100 + i, "x")).toDF("k", "v"))
      if (store.maybeAutoCompactClustered("t", Seq("k"), 4)) fired += 1
    }
    // 4 base files + 1 per append: counts 5,6 pass, 7 fires (folds to 4),
    // then 5,6 pass, 7 fires... = exactly 3 triggers in 10 appends
    assert(fired == 3, s"expected 3 threshold crossings in 10 appends, got $fired")
    assert(store.dataFileCount("t") <= 6 + 1)
    assert(store.read("t").count() == 50)
    // a store built without the knob never fires
    val off = freshStore()
    off.atomicOverwriteClustered("t", (0 until 40).map(i => (i, s"v$i")).toDF("k", "v"),
      Seq("k"), 4)
    (0 until 10).foreach(i => off.append("t", Seq((100 + i, "x")).toDF("k", "v")))
    assert(!off.maybeAutoCompactClustered("t", Seq("k"), 4))
  }

  test("appendIdempotent converges after a crash mid-move (rename mode)") {
    // simulate the worst rename-mode crash window: data files landed but the
    // key marker did not — the on-disk state a replay must repair without
    // duplicating. Forge it by committing normally, then deleting the marker
    // (exactly the pre-marker state: data in place under idem-<key> names).
    val store = freshStore()
    assert(store.appendIdempotent("t", Seq((1, "a"), (2, "b")).toDF("k", "v"), "b0"))
    val dir = new java.io.File(store.tablePath("t"))
    val marker = new java.io.File(dir, "_idem.b0")
    assert(marker.exists); assert(marker.delete())
    assert(!store.idempotentKeyCommitted("t", "b0"))
    // replay: must land EXACTLY the batch once (stale same-key files are
    // replaced by name, not appended to)
    assert(store.appendIdempotent("t", Seq((1, "a"), (2, "b")).toDF("k", "v"), "b0"))
    assert(store.read("t").as[(Int, String)].collect().toSet == Set((1, "a"), (2, "b")))
    assert(store.read("t").count() == 2, "replay after a mid-move crash must not duplicate")
  }

  test("a failed pointer publish reclaims its generation dir and publishes nothing") {
    val store = pointerStore()
    store.atomicOverwrite("t", Seq(1).toDF("k"))
    def markers = new java.io.File(store.tablePath("t")).listFiles().map(_.getName)
      .filter(_.startsWith("_commit.")).toSet
    val (gensBefore, markersBefore) = (genDirs(store, "t"), markers)
    // raises inside a task, after Spark has created the output dir
    val boom = spark.range(0, 1, 1, 1).selectExpr("CAST(raise_error('boom') AS INT) AS k")
    intercept[Exception](store.atomicOverwrite("t", boom))
    intercept[Exception](store.append("t", boom))
    assert(genDirs(store, "t") == gensBefore, s"leftover generation dirs: ${genDirs(store, "t")}")
    assert(markers == markersBefore, markers.toString)
    assert(store.read("t").as[Int].collect().toSeq == Seq(1))
    // a failed FIRST publish leaves no table behind either
    intercept[Exception](store.atomicOverwrite("n", boom))
    assert(!store.exists("n") && genDirs(store, "n").isEmpty, genDirs(store, "n").toString)
  }

  test("sidecar formats are pinned byte for byte and hand-written sidecars parse") {
    val root = TestSpark.tempDir("graft-sidecars").toString
    val store = new TableStore(spark, root, CommitMode.Pointer, keepGenerations = 8,
      statsColumns = Seq("k"))
    def text(p: String): String = new String(Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    def write(p: String, s: String): Unit = {
      val f = java.nio.file.Paths.get(p)
      // drop the checksum of the file being replaced, or the local fs rejects the read
      Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
      Files.write(f, s.getBytes("UTF-8"))
    }
    // the generation dir an operation adds
    def newGen(table: String)(op: => Any): String = {
      val before = genDirs(store, table)
      op
      val added = genDirs(store, table) -- before
      assert(added.size == 1, added.toString)
      added.head
    }
    val t = store.tablePath("t")
    val g1 = newGen("t")(store.atomicOverwrite("t", Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1)))
    val g2 = newGen("t")(store.append("t", Seq((3, "c")).toDF("k", "v").coalesce(1)))
    val g3 = newGen("t")(store.appendIdempotent("t", Seq((4, "d")).toDF("k", "v"), "b0"))
    assert(g3.startsWith("_gen-idem-b0."), g3)
    // manifests: header with entry count, one `name<TAB>gen` line per entry
    assert(text(s"$t/_commit.1") == s"graft-manifest v1 1\n*\t$g1")
    assert(text(s"$t/_commit.2") == s"graft-manifest v1 2\n*\t$g1\n*\t$g2")
    assert(text(s"$t/_commit.3") == s"graft-manifest v1 3\n*\t$g1\n*\t$g2\n*\t$g3")
    // commit meta: op, then the post-commit table's rows/files/bytes
    val meta = text(s"$t/_commit.2.meta").split("\n", -1).toSeq
    assert(meta.take(4) == Seq("graft-commitmeta v1", "op\tappend", "rows\t3", "files\t2"), meta)
    assert(meta.size == 5 && meta(4).matches("bytes\t[0-9]+"), meta)
    // stats: header with line count; url-encoded file, column, type, min, max
    val file = new java.io.File(s"$t/$g1").list().filter(_.endsWith(".parquet")).head
    assert(text(s"$t/$g1/_stats") ==
      s"graft-stats v1 1\n${java.net.URLEncoder.encode(file, "UTF-8")}\tk\tint\t1\t2")
    // compaction retires the keyed gen dir into an idem marker
    store.compact("t", 1)
    assert(text(s"$t/_idem.b0") == "graft-idem v1\nkey\tb0")
    assert(text(s"$root/_run.${store.publishSnapshot(Seq("t"))}") == "graft-snapshot v1 1\nt\t4")
    val b = store.tablePath("b")
    val gb = newGen("b")(store.writeBucketed("b", Seq((1, "x")).toDF("k", "v"), "k", 2, Seq("v")))
    assert(text(s"$b/$gb/_bucketspec") == "graft-bucketspec v1\nnumBuckets\t2\nbucketCol\tk\nsortCols\tv")
    val d = store.tablePath("d")
    val gd = newGen("d")(store.overwriteDatePartitions("d",
      Seq((1, "2024-01-01")).toDF("v", "day").selectExpr("v", "CAST(day AS DATE) AS day"),
      "day", Seq(java.time.LocalDate.of(2024, 1, 1))))
    assert(text(s"$d/_commit.1") == s"graft-manifest v1 1\nday=2024-01-01\t$gd")
    val plain = freshStore()
    plain.appendIdempotent("r", Seq(1).toDF("k"), "r0")
    assert(text(s"${plain.tablePath("r")}/_idem.r0") == "graft-idem v1\nkey\tr0")

    // hand-written sidecars of every kind parse
    write(s"$t/_commit.9", s"graft-manifest v1 1\n*\t$g2")
    assert(store.generations("t").head == 9L)
    assert(store.read("t").as[(Int, String)].collect().toSeq == Seq((3, "c")))
    write(s"$t/_commit.9.meta", "graft-commitmeta v1\nop\thandmade\nrows\t42\nfiles\t7\nbytes\t99")
    val h9 = store.history("t").filter("generation = 9")
      .select("op", "n_rows", "n_files", "size_bytes").as[(String, Long, Long, Long)].collect()
    assert(h9.toSeq == Seq(("handmade", 42L, 7L, 99L)), h9.toSeq)
    write(s"$root/_run.7", "graft-snapshot v1 1\nt\t1")
    assert(store.snapshotEntries(7L) == Map("t" -> 1L))
    assert(store.readSnapshot(7L, "t").count() == 2)
    // stats claiming g2's only file holds k in [10, 20]: a read of [3, 3] skips it
    val f2 = new java.io.File(s"$t/$g2").list().filter(_.endsWith(".parquet")).head
    write(s"$t/$g2/_stats", s"graft-stats v1 1\n$f2\tk\tint\t10\t20")
    assert(store.pruneEvidence("t", "k", 3, 3) == ((0, 1)))
    write(s"$b/$gb/_bucketspec", "graft-bucketspec v1\nnumBuckets\t2\nbucketCol\tk\nsortCols\t")
    assert(store.readBucketed("b").count() == 1)
    val shim = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(s"graft_bkt_b_${gb.stripPrefix("_gen-")}"))
    assert(shim.bucketSpec.map(s => (s.numBuckets, s.bucketColumnNames, s.sortColumnNames)) ==
      Some((2, Seq("k"), Nil)), shim.bucketSpec.toString)
    write(s"$t/_idem.hk", "graft-idem v1\nkey\thk")
    assert(store.idempotentKeyCommitted("t", "hk"))
    assert(!store.idempotentKeyCommitted("t", "none"))
  }

  test("concurrent append × read × vacuum: no torn read, no lost commit") {
    // one appender commits generations while a reader reads every listed
    // generation and a vacuum loop reclaims beyond `keep`: each read is a
    // whole number of commits, or the friendly no-marker refusal of a
    // generation retired after it was listed — never a partial result
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
    val store = new TableStore(spark, TestSpark.tempDir("graft-stress").toString,
      CommitMode.Pointer, keepGenerations = 3)
    val (base, batch, appends) = (100L, 10L, 8)
    store.atomicOverwrite("t", spark.range(base).toDF("id"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val done = new AtomicBoolean(false)
    val (reads, vacuums) = (new AtomicInteger(0), new AtomicInteger(0))
    def untilDone(name: String)(body: => Unit) = new Thread(() =>
      try while (!done.get) body catch { case t: Throwable => errs.add(t) }, name)
    val appender = new Thread(() =>
      try for (i <- 0 until appends)
        store.append("t", spark.range(1000L + i * batch, 1000L + (i + 1) * batch).toDF("id"))
      catch { case t: Throwable => errs.add(t) } finally done.set(true), "stress-appender")
    val reader = untilDone("stress-reader") {
      store.generations("t").foreach { g =>
        try {
          val n = store.readGeneration("t", g).count()
          assert(n >= base && (n - base) % batch == 0, s"torn read of generation $g: $n rows")
          reads.incrementAndGet()
        } catch {
          case e: IllegalArgumentException if e.getMessage.contains("no committed marker") => ()
        }
      }
    }
    val vacuumer = untilDone("stress-vacuum") {
      // contention with a commit is the designed fail-fast refusal: retry
      try { store.vacuum("t", keep = 3); vacuums.incrementAndGet() }
      catch { case _: ConcurrentWriteException => () }
      Thread.sleep(20)
    }
    val threads = Seq(appender, reader, vacuumer)
    threads.foreach(_.start())
    threads.foreach(_.join(120000L))
    done.set(true)
    assert(errs.isEmpty, s"raced into errors: ${errs.toArray.take(3).mkString(" | ")}")
    assert(reads.get > 0 && vacuums.get > 0,
      s"the race never overlapped: ${reads.get} reads, ${vacuums.get} vacuums")
    assert(store.read("t").count() == base + appends * batch, "lost commit")
  }
}

/** Latches for the racing-writer test (top-level so executor-side lambda
  * instantiation sees the same statics in local mode). */
object WriterRace {
  @volatile var entered = new java.util.concurrent.CountDownLatch(1)
  @volatile var gate = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = {
    entered = new java.util.concurrent.CountDownLatch(1)
    gate = new java.util.concurrent.CountDownLatch(1)
  }
}
