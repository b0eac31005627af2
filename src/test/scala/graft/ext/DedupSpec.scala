package graft.ext

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterEach {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // cached shingle sets / component labels must not accumulate across tests:
  // every registry entry makes Spark's cache-plan matching slower for every
  // subsequent plan in the shared session
  override def afterEach(): Unit = Dedup.unpersistAll()

  private lazy val docs = graft.io.Tables.load(spark, TestSpark.Sf0001, "documents")

  test("exact dedup keeps the lowest id per key group, deterministically") {
    val df = Seq((5L, "k1"), (3L, "k1"), (7L, "k2")).toDF("id", "k")
    val got = Dedup.exact(df, Seq("k"), "id").select("id").as[Long].collect().toSet
    assert(got == Set(3L, 7L))
  }

  test("editDistancePairs: boundary at maxDist, blocking respected, unblocked refused") {
    val corpus = Seq(
      (1L, "kitten", "en"), (2L, "sitting", "en"), // classic distance 3
      (3L, "kitten", "fr"),                        // identical text, other block
      (4L, "zzzzzz", "en"))
      .toDF("doc_id", "text", "lang")
    val got = Dedup.editDistancePairs(corpus, "doc_id", "text", Seq("lang"), maxDist = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 2L, 3))) // == maxDist kept; cross-block 1-3 never compared
    assert(Dedup.editDistancePairs(corpus, "doc_id", "text", Seq("lang"), maxDist = 2)
      .count() == 0)
    intercept[IllegalArgumentException](
      Dedup.editDistancePairs(corpus, "doc_id", "text", Nil, maxDist = 3))
  }

  test("editDistancePairs finds pairs straddling a length-bucket boundary") {
    // lengths 63 vs 65 land in different width-64 buckets; the adjacent-
    // bucket probe must still pair them (the r7 verdict's recall hole)
    val df = Seq((1L, "x" * 63, "en"), (2L, "x" * 65, "en")).toDF("doc_id", "text", "lang")
    val got = Dedup.editDistancePairs(df, "doc_id", "text", Seq("lang"),
      maxDist = 2, prefixLen = 80, bucketWidth = 64).as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 2L, 2)))
    // a blocking column named like an output column would silently break
    // the pair filter — refused loudly instead
    intercept[IllegalArgumentException](
      Dedup.editDistancePairs(df.withColumnRenamed("lang", "doc_a"),
        "doc_id", "text", Seq("doc_a"), maxDist = 2))
    // bucketWidth ≤ maxDist would re-open the boundary hole — refused
    intercept[IllegalArgumentException](
      Dedup.editDistancePairs(df, "doc_id", "text", Seq("lang"),
        maxDist = 5, bucketWidth = 5))
  }

  test("editDistancePairs: minimal-width banding is result-equivalent to fixed-64") {
    // the r19 verdict's adaptive-blocking item: the default (floor
    // maxDist+1) banding must return EXACTLY the fixed-width former's
    // pairs — recall is exact at every width > maxDist, banding is purely
    // a candidate-count lever. Corpus engineered to straddle boundaries of
    // BOTH widths (floor 4 and fixed 64) and to carry out-of-contract
    // same-band length pairs the filters must drop identically.
    val rows = (1L to 60L).map { i =>
      val len = (i * 7 % 90 + 10).toInt // lengths 10..99 across band edges
      (i, "a" * len, if (i % 2 == 0) "en" else "fr")
    } ++ Seq((100L, "b" * 63, "en"), (101L, "b" * 65, "en"), // floor-4 edge 63|65
      (102L, "b" * 64, "fr"))
    val df = rows.toDF("doc_id", "text", "lang")
    def pairs(width: Int) =
      Dedup.editDistancePairs(df, "doc_id", "text", Seq("lang"),
        maxDist = 3, prefixLen = 50, bucketWidth = width)
        .as[(Long, Long, Int)].collect().toSet
    val floor = pairs(0)   // default: width maxDist+1 = 4
    val fixed = pairs(64)  // the r17-era conservative width
    assert(floor == fixed, s"banding width changed the RESULT: " +
      s"only-floor=${(floor -- fixed).take(5)} only-64=${(fixed -- floor).take(5)}")
    assert(floor.nonEmpty, "vacuous equivalence: fixture produced no pairs")
    // lengths 63|65 straddle a floor-width band edge; their 50-char
    // prefixes are identical (edit_dist 0) while the length filter sees Δ2
    assert(floor.contains((100L, 101L, 0)), "boundary pair lost at the floor width")
  }

  test("dedupeAgainstCorpus: corpus dups dropped, batch dups collapse, new docs kept") {
    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "beta alpha"),   // token-set dup of corpus doc 1 → dropped
      (11L, "epsilon zeta"), // new, duplicated within the batch → min id kept
      (12L, "zeta epsilon"),
      (13L, "eta theta"))    // new and unique → kept
      .toDF("doc_id", "text")
    val got = Dedup.dedupeAgainstCorpus(batch, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(11L, 13L))
    assert(Dedup.dedupeAgainstCorpus(batch, corpus, "doc_id", "text")
      .columns.toSeq == batch.columns.toSeq)
    // null-text rows are excluded on BOTH sides: a null corpus doc blocks
    // nothing (the NOT-IN-with-NULL trap), a null batch row is dropped
    val nullRow = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(99L, null)),
      corpus.schema)
    val got2 = Dedup.dedupeAgainstCorpus(
      batch.unionByName(nullRow), corpus.unionByName(nullRow), "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(got2 == Set(11L, 13L))
  }

  test("property: editDistancePairs equals brute force on random blocked corpora") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // reference: classic full-DP Levenshtein, no threshold tricks
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1)(j =>
        if (i == 0) j else if (j == 0) i else 0))
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val genDoc = Gen.zip(
      Gen.stringOfN(6, Gen.oneOf('a', 'b', 'c')).flatMap(s =>
        Gen.choose(0, 6).map(s.take)),
      Gen.oneOf("x", "y"))
    val genCorpus = Gen.resize(12, Gen.nonEmptyListOf(genDoc))
      .map(_.zipWithIndex.map { case ((t, g), i) => (i.toLong, t, g) })
    val prop = Prop.forAll(genCorpus, Gen.choose(0, 3)) { (corpus, maxDist) =>
      val df = corpus.toDF("doc_id", "text", "blk")
      // bucketWidth = maxDist + 1 (the legal minimum) maximizes boundary
      // crossings, so the adjacent-bucket probe is exercised every case;
      // prefixLen covers the whole text, so lev ≤ maxDist already implies
      // length diff ≤ maxDist and the brute-force reference is unchanged
      val got = Dedup.editDistancePairs(df, "doc_id", "text", Seq("blk"), maxDist,
          bucketWidth = maxDist + 1)
        .as[(Long, Long, Int)].collect().toSet
      val want = (for {
        (ia, ta, ga) <- corpus; (ib, tb, gb) <- corpus
        if ia < ib && ga == gb
        d = lev(ta, tb) if d <= maxDist
      } yield (ia, ib, d)).toSet
      got == want
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop).passed)
  }

  test("keepBest keeps one best member per cluster, singletons untouched, via broadcast") {
    val corpus = Seq(
      (1L, "short", 10L), (2L, "winner", 30L), (3L, "tied-but-higher-id", 30L),
      (4L, "singleton", 5L)).toDF("doc_id", "text", "n_chars")
    val clusters = Seq((1L, "c0"), (2L, "c0"), (3L, "c0")).toDF("node", "cluster")
    val best = Dedup.keepBest(corpus, clusters, "doc_id",
      Seq(col("n_chars").desc, col("doc_id")))
    // 2 wins the cluster (longest, lowest-id tiebreak); 4 is no one's duplicate
    assert(best.select("doc_id").as[Long].collect().toSet == Set(2L, 4L))
    assert(best.columns.toSeq == corpus.columns.toSeq)
    // the stated plan contract: the cluster side broadcasts, the corpus
    // never shuffles into a sort-merge join
    val plan = best.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must not sort-merge:\n$plan")
  }

  test("decontaminate drops docs by distinct-shingle overlap against the blocklist") {
    val block = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      // shares 2 distinct trigrams ("alpha beta gamma", "beta gamma delta")
      (10L, "alpha beta gamma delta zz"),
      // shares exactly 1 trigram
      (11L, "xx alpha beta gamma yy"),
      // repeating the same trigram does not raise its distinct count
      (12L, "alpha beta gamma xx alpha beta gamma"),
      // no overlap
      (13L, "one two three four")).toDF("doc_id", "text")
    def kept(minOverlap: Int) =
      Dedup.decontaminate(corpus, block, "doc_id", "text", n = 3, minOverlap = minOverlap)
        .select("doc_id").as[Long].collect().toSet
    assert(kept(2) == Set(11L, 12L, 13L))
    assert(kept(1) == Set(13L))
  }

  test("persisted LSH index: incremental fuzzy dedup ≡ boundary-crossing LSH pairs") {
    val store = new graft.store.TableStore(spark,
      TestSpark.tempDir("graft-lsh-spec").toString)
    val corpus = docs.filter(col("doc_id") < 250)
    val batch = docs.filter(col("doc_id") >= 250)
    val built = Dedup.buildLshIndex(store, "c_lsh", corpus, "doc_id", "text")
    // parameters round-trip through the meta table
    assert(Dedup.loadLshIndex(store, "c_lsh") == built)
    val kept = Dedup.dedupeAgainstLshIndex(store, built, batch, "doc_id", "text", 0.8)
      .select("doc_id").as[Long].collect().toSet
    // reference: the all-pairs LSH operator restricted to pairs crossing
    // the corpus/batch boundary — a batch doc is dropped iff some crossing
    // pair reaches the threshold
    Dedup.unpersistAll()
    val crossing = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
      .flatMap { case (a, b) =>
        if (a < 250 && b >= 250) Some(b) else if (b < 250 && a >= 250) Some(a) else None
      }.toSet
    val batchIds = batch.filter(col("text").isNotNull).select("doc_id").as[Long].collect().toSet
    assert(crossing.nonEmpty) // fixtures plant dups across the boundary
    assert(kept == (batchIds -- crossing))
    assert(kept.nonEmpty)
  }

  test("appendToLshIndex runs the dedup probe at most once") {
    // a plain rename-mode append writes into the live index dir, so Spark
    // refreshes every cached plan reading it: a cached input would make the
    // second append re-run the whole probe that produced it
    val ns = spark.newSession() // the shared cache manager, static plans (see TestSpark.jobsScanning)
    ns.conf.set("spark.sql.adaptive.enabled", "false")
    val store = new graft.store.TableStore(ns, TestSpark.tempDir("graft-lsh-once").toString,
      graft.store.CommitMode.Rename)
    val nsDocs = graft.io.Tables.load(ns, TestSpark.Sf0001, "documents")
    val corpus = nsDocs.filter(col("doc_id") < 250)
    val batch = nsDocs.filter(col("doc_id") >= 250 && col("doc_id") < 400)
    val idx = Dedup.buildLshIndex(store, "once_lsh", corpus, "doc_id", "text")
    Dedup.unpersistAll()
    val survivorIds = Dedup.dedupeAgainstLshIndex(store, idx, batch, "doc_id", "text", 0.8)
      .select("doc_id").as[Long].collect().toSet
    Dedup.unpersistAll()
    assert(survivorIds.nonEmpty && survivorIds.size < batch.count())
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    // the survivors stay lazy and uncached: the append's one materialization
    // is what runs the probe
    val survivors = Dedup.dedupeAgainstLshIndex(store, idx, batch, "doc_id", "text", 0.8)
    val buckets = store.tablePath("once_lsh_buckets")
    val (_, probes) = TestSpark.jobsScanning(buckets)(
      Dedup.appendToLshIndex(store, idx, survivors, "doc_id", "text"))
    assert(probes <= 1, s"the append scanned $buckets in $probes jobs")
    // a keyed replay whose two appends both committed materializes nothing
    val keyed = nsDocs.filter(col("doc_id") >= 400)
    Dedup.appendToLshIndex(store, idx, keyed, "doc_id", "text", Some("b2"))
    val (replayJobs, _) = TestSpark.jobsScanning(buckets)(
      Dedup.appendToLshIndex(store, idx, keyed, "doc_id", "text", Some("b2")))
    assert(replayJobs == 0, s"a committed replay ran $replayJobs jobs")
    Dedup.unpersistAll()
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- persistedBefore).isEmpty,
      "the append's checkpoint outlived unpersistAll")
    // the grown index holds exactly what a fresh build over its inputs does
    val fresh = new graft.store.TableStore(ns, TestSpark.tempDir("graft-lsh-once-ref").toString)
    Dedup.buildLshIndex(fresh, "ref_lsh", corpus
      .unionByName(batch.filter(col("doc_id").isin(survivorIds.toSeq: _*)))
      .unionByName(keyed), "doc_id", "text")
    Dedup.unpersistAll()
    def sets(s: graft.store.TableStore, t: String) =
      s.read(t).select("id", "hs", "sz").as[(Long, Seq[Long], Int)].collect().sortBy(_._1).toSeq
    def bucketRows(s: graft.store.TableStore, t: String) =
      s.read(t).select("band", "bucket", "id").as[(Int, Int, Long)].collect().sorted.toSeq
    assert(sets(store, "once_lsh") == sets(fresh, "ref_lsh"))
    assert(bucketRows(store, "once_lsh_buckets") == bucketRows(fresh, "ref_lsh_buckets"))
  }

  test("auto-compaction bounds a growing LSH index; results and keys survive") {
    val store = new graft.store.TableStore(spark,
      TestSpark.tempDir("graft-lsh-ac").toString,
      autoCompactFiles = 20)
    val corpus = docs.filter(col("doc_id") < 200)
    val idx = Dedup.buildLshIndex(store, "ac_lsh", corpus, "doc_id", "text")
    // growth loop: 8 keyed batches of survivors (disjoint id ranges) — the
    // ingest shape. Each append adds files to both segment tables; the
    // threshold must fold them back before the chain runs away.
    var perBatch = 0
    (0 until 8).foreach { i =>
      val batch = docs.filter(col("doc_id") >= 200 + i * 25 && col("doc_id") < 225 + i * 25)
      Dedup.appendToLshIndex(store, idx, batch, "doc_id", "text",
        idempotencyKey = Some(s"g$i"))
      perBatch = math.max(perBatch, store.dataFileCount("ac_lsh_buckets"))
      Dedup.unpersistAll()
    }
    // boundedness is the contract: the observed ceiling must sit at
    // threshold + one batch's files (the trigger fires on the append AFTER
    // the threshold is crossed and folds back to `bands` files), far below
    // the ~8-generation chain an unbounded grow loop would accumulate
    assert(store.dataFileCount("ac_lsh_buckets") <= 20 + 16,
      s"bucket chain unbounded: ${store.dataFileCount("ac_lsh_buckets")}")
    assert(perBatch <= 20 + 16, s"auto-compaction never engaged: peak $perBatch files")
    // exactly-once keys survive the compaction rewrites: every replay no-ops
    (0 until 8).foreach { i =>
      val batch = docs.filter(col("doc_id") >= 200 + i * 25 && col("doc_id") < 225 + i * 25)
      val rows = store.read("ac_lsh").count()
      Dedup.appendToLshIndex(store, idx, batch, "doc_id", "text",
        idempotencyKey = Some(s"g$i"))
      Dedup.unpersistAll()
      assert(store.read("ac_lsh").count() == rows, s"replay of g$i duplicated index rows")
    }
    // the compacted+grown index still answers identically to a fresh build
    // over the same corpus
    val probe = docs.filter(col("doc_id") >= 400 && col("doc_id") < 450)
    val gotGrown = Dedup.dedupeAgainstLshIndex(store, idx, probe, "doc_id", "text", 0.8)
      .select("doc_id").as[Long].collect().toSet
    Dedup.unpersistAll()
    val store2 = new graft.store.TableStore(spark,
      TestSpark.tempDir("graft-lsh-ac2").toString)
    val idx2 = Dedup.buildLshIndex(store2, "ref_lsh",
      docs.filter(col("doc_id") < 400), "doc_id", "text")
    val gotFresh = Dedup.dedupeAgainstLshIndex(store2, idx2, probe, "doc_id", "text", 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(gotGrown == gotFresh, "compaction changed probe results")
  }

  test("minhash-LSH pairs equal exact prefix-filtered Jaccard pairs on fixtures") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty) // fixtures plant near-duplicates
    assert(lsh == exact)   // verified-exact output; band recall ≈ 0.9998 at t=0.8
  }

  test("jaccard threshold is exact: identical docs score 1.0") {
    val df = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z w q r")).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.8)
      .as[(Long, Long, Double)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("simhash: identical docs hash identically; disjoint docs differ") {
    val df = Seq((1L, "spark query engine test"), (2L, "spark query engine test"),
      (3L, "entirely different words here")).toDF("doc_id", "text")
    val fps = Dedup.simhash(df, "doc_id", "text").as[(Long, Long)].collect().toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("md5TokenHash matches DuckDB's CAST('0x'||substr(md5(tok),1,15) AS BIGINT)") {
    // constants computed in DuckDB 1.0.0 — pins cross-engine agreement of
    // the oracle-portable 60-bit token hash
    val got = Seq("hello", "").toDF("tok")
      .select(Dedup.md5TokenHash(col("tok"))).as[Long].collect().toSeq
    assert(got == Seq(419982666956583591L, 955282973525019424L))
  }

  test("simhashPairs with the oracle-portable md5 token hash finds planted dupes") {
    val df = Seq((1L, "spark query engine test"), (2L, "spark query engine test"),
      (3L, "entirely different words here")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", 3, Dedup.md5TokenHash)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("property: connectedComponents equals driver-side union-find on random graphs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // reference implementation: classic union-find with path compression
    def unionFind(edges: List[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        parent.getOrElse(a, { parent(a) = a; a })
        parent.getOrElse(b, { parent(b) = b; b })
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    // bounded size: every case is a full multi-round distributed CC run,
    // and diameter (≤ node count) bounds the rounds
    val genEdges = Gen.resize(24,
        Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 11L), Gen.choose(0L, 11L))))
      .map(_.filter { case (a, b) => a != b })
      .suchThat(_.nonEmpty)
    val prop = Prop.forAll(genEdges) { edges =>
      // localEdgeLimit = 0 forces the distributed propagation path; the
      // default exercises the driver-side union-find fast path
      val dist = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"), "doc_a", "doc_b",
          localEdgeLimit = 0L)
        .as[(Long, Long)].collect().toMap
      val local = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
        .as[(Long, Long)].collect().toMap
      dist == unionFind(edges) && local == unionFind(edges)
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop).passed)
  }

  test("star contraction labels a long chain in ~log rounds, not diameter") {
    // a 512-link path is the adversarial topology: min-label propagation
    // would need 512 rounds; alternating large-star/small-star must finish
    // in roughly log2(n) alternations (generous margin below)
    val n = 512L
    val chain = (0L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(chain, "doc_a", "doc_b", localEdgeLimit = 0L)
      .as[(Long, Long)].collect()
    assert(got.length == n + 1 && got.forall(_._2 == 0L),
      s"chain must collapse to one min-labeled cluster, got ${got.take(5).toSeq}…")
    val rounds = Dedup.lastDistributedRounds.get
    assert(rounds <= 15, s"chain of $n links took $rounds star rounds — not log-round")
  }

  test("CC fixpoint checkpoints durably when the session has a checkpoint dir; labels unchanged") {
    // the cluster-run toggle: with sc.setCheckpointDir configured, every
    // star round truncates lineage through DURABLE checkpoint files (a lost
    // executor recomputes from storage instead of killing the 21-round
    // job); without one, localCheckpoint keeps the single-box fast path
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "fixture assumes no ambient checkpoint dir")
    val dir = TestSpark.tempDir("graft-ccdur").toString
    val n = 128L
    val chain = (0L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val expect = (0L to n).map(_ -> 0L).toMap
    sc.setCheckpointDir(dir)
    val (durable, durableRounds) = try {
      val got = Dedup.connectedComponents(chain, "doc_a", "doc_b", localEdgeLimit = 0L)
        .as[(Long, Long)].collect().toMap
      (got, Dedup.lastDistributedRounds.get)
    } finally {
      sc.setCheckpointDir(null) // restore the single-box default
      Dedup.unpersistAll()
    }
    assert(durable == expect)
    // proof the durable mode actually engaged: checkpoint files on disk
    def rddFiles(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles()).toSeq.flatten.flatMap(c =>
        if (c.isDirectory) rddFiles(c) else Seq(c))
    assert(rddFiles(new java.io.File(dir)).nonEmpty,
      s"no checkpoint files under $dir — durable mode never engaged")
    // same input without the toggle: localCheckpoint path, identical labels
    // and the same log-round convergence
    val local = Dedup.connectedComponents(chain, "doc_a", "doc_b", localEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(local == expect)
    assert(Dedup.lastDistributedRounds.get == durableRounds,
      "round count must not depend on the checkpoint mode")
  }

  test("connectedComponents string ids: both paths agree, labels in UTF-8 order") {
    // U+FFFD sorts BEFORE U+1F600 in UTF-8 bytes (EF BF BD < F0 9F 98 80) but
    // AFTER it in UTF-16 code units (FFFD > D83D surrogate) — the fast path's
    // comparator must follow Spark's UTF-8 min, or the canonical label would
    // flip with edge count (ADVICE r5)
    val emoji = "😀" // U+1F600
    val fffd = "�"        // U+FFFD
    val pairs = Seq((emoji, fffd), ("b", "a")).toDF("doc_a", "doc_b")
    val expected = Map(emoji -> fffd, fffd -> fffd, "a" -> "a", "b" -> "a")
    val local = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(String, String)].collect().toMap
    Dedup.unpersistAll()
    val dist = Dedup.connectedComponents(pairs, "doc_a", "doc_b", localEdgeLimit = 0L)
      .as[(String, String)].collect().toMap
    assert(local == expected)
    assert(dist == expected)
  }

  test("connectedComponents drops null-id edges and rejects mixed pair types") {
    val withNulls = Seq((Option(1L), Option(2L)), (None, Option(3L)), (Option(4L), None))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(withNulls, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L)) // null edges carry no information
    val mixed = Seq((1, 2L)).toDF("doc_a", "doc_b") // int vs long
    intercept[IllegalArgumentException](
      Dedup.connectedComponents(mixed, "doc_a", "doc_b"))
  }

  test("connectedComponents labels transitive clusters with the min member") {
    // chain 1–2–3 (diameter 2, needs >1 propagation round) + separate pair 5–6
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("bucketPairs expands each unordered pair exactly once") {
    val keyed = Seq((10, 1L), (10, 2L), (10, 3L), (20, 2L), (20, 3L)).toDF("k", "id")
    val got = Dedup.bucketPairs(keyed, "k", "id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("pair budget: degenerated blocking refuses BEFORE pair formation, with the estimate") {
    // a collapsed band key (every id in one bucket) — the mis-threshold /
    // broken-clock shape: 200 ids = 19900 candidate pairs
    val hot = (1L to 200L).map(i => (1, i)).toDF("k", "id")
    val e = intercept[IllegalArgumentException](
      Dedup.bucketPairs(hot, "k", "id", pairBudget = 1000L))
    assert(e.getMessage.contains("19900"), e.getMessage)
    assert(e.getMessage.contains("budget 1000"), e.getMessage)
    assert(e.getMessage.contains("200 ids"), e.getMessage) // hottest bucket
    // at/under budget: proceeds and the output is complete
    assert(Dedup.bucketPairs(hot, "k", "id", pairBudget = 19900L).count() == 19900L)
    // opt-out: pairBudget = 0 skips the estimate entirely
    assert(Dedup.bucketPairs(hot, "k", "id", pairBudget = 0L).count() == 19900L)
    // the guard reaches the public wide-threshold formers: an LSH pair
    // search over clone vectors (everything collides in every band)
    // refuses with the same loud message instead of expanding
    val clones = (1L to 100L).map(i => (i, Seq.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException](
      Similarity.cosinePairsLsh(clones, "vec_id", "embedding", 0.45,
        pairBudget = 500L).count())
    assert(e2.getMessage.contains("candidate pairs"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      Dedup.jaccardPairs(
        (1L to 80L).map(i => (i, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
        "doc_id", "text", threshold = 0.1, pairBudget = 100L))
    assert(e3.getMessage.contains("candidate pairs"), e3.getMessage)
    Dedup.unpersistAll()
  }

  test("duplicateSpans: islands merge, disjoint spans stay split, within-doc repeats don't mark") {
    val corpus = Seq(
      (1L, "a b c d M N e f g h"), // shares "a b c d" with 2 and "e f g h" with 3
      (2L, "x y a b c d z q"),
      (3L, "e f g h u v w"),
      (4L, "p q"),                 // < n tokens: no spans possible
      (5L, "m m m m"))             // repeated gram but only within ONE doc
      .toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(corpus, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    // doc 1: marked starts {0,1} -> [0,3], then {6,7} -> [6,9]; 6 > 3+1 so
    // the two regions stay separate islands
    assert(got == Set(
      (1L, 0L, 3L, 4L), (1L, 6L, 9L, 4L),
      (2L, 2L, 5L, 4L),
      (3L, 0L, 3L, 4L)))
  }

  test("duplicateSpans withinDoc=true marks same-doc repeats the cross-doc default ignores") {
    val corpus = Seq(
      (5L, "m n o p Q m n o p"), // "m n o p" repeats WITHIN the doc only
      (6L, "u v w x y z a b"))
      .toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(corpus, "doc_id", "text", n = 3).count() == 0)
    val got = Dedup.duplicateSpans(corpus, "doc_id", "text", n = 3, withinDoc = true)
      .as[(Long, Long, Long, Long)].collect().toSet
    // starts {0,1} -> [0,3] and {5,6} -> [5,8]; the gap at Q splits islands
    assert(got == Set((5L, 0L, 3L, 4L), (5L, 5L, 8L, 4L)))
  }

  test("duplicateSpans merges overlapping and adjacent gram intervals into one span") {
    // docs share tokens 0..5 -> starts {0,1,2,3} with n=3: every interval
    // overlaps the next, one island [0,5]
    val corpus = Seq((1L, "a b c d e f Q"), (2L, "a b c d e f R")).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(corpus, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 0L, 5L, 6L), (2L, 0L, 5L, 6L)))
  }

  test("stripDuplicateSpans removes exactly the span tokens; spanless docs pass through") {
    val corpus = Seq(
      (1L, "a b c d M N e f g h"),
      (2L, "x y a b c d z q"),
      (4L, "p q")).toDF("doc_id", "text")
    val spans = Seq((1L, 0L, 3L, 4L), (1L, 6L, 9L, 4L), (2L, 2L, 5L, 4L))
      .toDF("doc_id", "span_start", "span_end", "span_tokens")
    val got = Dedup.stripDuplicateSpans(corpus, spans, "doc_id", "text")
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "M N", 2L -> "x y z q", 4L -> "p q"))
  }

  test("containmentPairs finds near-supersets that Jaccard under-scores; equals brute force") {
    // doc 2 = doc 1 wrapped in ~3x boilerplate: containment(1 in 2) = 1.0,
    // Jaccard ~ 1/3 — the pair the containment mode exists for
    val core = (1 to 20).map(i => s"w$i").mkString(" ")
    val wrap = (100 to 140).map(i => s"b$i").mkString(" ")
    val corpus = Seq(
      (1L, core), (2L, s"$wrap $core"), (3L, "x y z q r s t u v"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(corpus, "doc_id", "text", 3, 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
    assert(Dedup.jaccardPairs(corpus, "doc_id", "text", 3, 0.9).count() == 0)
    // brute-force equivalence on a denser corpus (dup groups + partial overlaps)
    val dense = (0L until 40L).map(i => (i, ((i % 7) to (i % 7 + 10 + (i % 5))).map(k => s"t${k}").mkString(" ")))
      .toDF("doc_id", "text")
    val fast = Dedup.containmentPairs(dense, "doc_id", "text", 3, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val sets = Dedup.hashedShingleSets(dense, "doc_id", "text", 3)
      .select("doc_id", "hs").as[(Long, Seq[Long])].collect().toMap
    val brute = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = sets(a).toSet.intersect(sets(b).toSet).size
      cont = inter.toDouble / math.min(sets(a).size, sets(b).size)
      if cont >= 0.8
    } yield (a, b, cont)).toSet
    assert(fast == brute, s"fast ${fast.size} vs brute ${brute.size}")
  }

  test("bloomAntiJoin is row-identical to a plain left_anti join") {
    val big = spark.range(0, 5000).select(col("id"),
      concat(lit("k"), (col("id") % 700).cast("string")).as("key"))
    val keys = spark.range(0, 5000, 9).select(
      concat(lit("k"), (col("id") % 700).cast("string")).as("key"))
    val expect = big.join(keys.distinct(), Seq("key"), "left_anti")
      .select("id", "key").as[(Long, String)].collect().toSet
    val got = Dedup.bloomAntiJoin(big, keys, "key")
      .select("id", "key").as[(Long, String)].collect().toSet
    assert(got == expect && got.nonEmpty && got.size < 5000)
  }

  test("bloomAntiJoin: empty blocklist is identity; NULL keys are kept (left-anti semantics)") {
    val big = Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, "c")).toDF("id", "key")
    val none = Seq.empty[String].toDF("key")
    assert(Dedup.bloomAntiJoin(big, none, "key").count() == 3)
    val bl = Seq("a", null.asInstanceOf[String]).toDF("key")
    val got = Dedup.bloomAntiJoin(big, bl, "key").select("id").as[Long].collect().toSet
    assert(got == Set(2L, 3L)) // "a" dropped; NULL-key row kept; blocklist NULL ignored
  }

  test("linkNamesJaroWinkler: adaptive blocking widens with the corpus (r17 verdict)") {
    // 40 names all sharing the 2-char prefix "aa": a pinned 2-char key puts
    // everything in ONE block (40×40 candidates); the adaptive mode must
    // widen until the candidate estimate fits targetPairsPerRow·n
    val names = (0 until 40).map { i =>
      (i.toLong, f"aa${('a' + i % 8).toChar}${('a' + i / 8).toChar}tail$i%02d")
    }.toDF("id", "name")
    val fixed = Dedup.linkNamesJaroWinkler(names, names, "id", "name", "id", "name",
      threshold = 0.0, blockChars = 2)
    assert(fixed.count() == 1600L, "precondition: 2-char blocking is one hot block")
    // auto with a 4-pairs-per-row target: 2 chars ⇒ 40/row (too hot),
    // 3 chars ⇒ 8 blocks of 5 ⇒ 25·... per-row 5 rows on each side ⇒ 5/row
    // still over 4 ⇒ widens to 4 chars (40 singleton blocks ⇒ 1/row)
    val auto = Dedup.linkNamesJaroWinkler(names, names, "id", "name", "id", "name",
      threshold = 0.0, blockChars = 0, targetPairsPerRow = 4L)
    val pairs = auto.select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.length == 40, s"4-char singleton blocks ⇒ self-pairs only: ${pairs.length}")
    assert(pairs.forall { case (a, b) => a == b })
    // and a corpus that already fits the target keeps the caller-visible
    // 2-char semantics (the gate's regime: auto resolves to the floor)
    val fits = Dedup.linkNamesJaroWinkler(names, names, "id", "name", "id", "name",
      threshold = 0.0, blockChars = 0, targetPairsPerRow = 64L)
    assert(fits.count() == 1600L, "under-budget corpora keep the 2-char floor")
  }
}
