package graft.ext

import graft.TestSpark
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SamplingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = graft.io.Tables.load(spark, TestSpark.Sf0001, "documents")

  test("hashFraction is deterministic and partitioning-invariant") {
    val a = Sampling.hashFraction(docs, "doc_id", 200)
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.hashFraction(docs.repartition(7), "doc_id", 200)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b) // df.sample() would NOT survive this — per-partition RNG
    assert(a.nonEmpty && a.size < docs.count())
  }

  test("assignSplits: disjoint-exhaustive, partitioning-invariant, fractions respected") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val a = Sampling.assignSplits(docs, "doc_id", splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // every row assigned exactly one split; same assignment on any partitioning
    assert(a.size == docs.count())
    assert(a.values.toSet == Set("train", "val", "test"))
    val b = Sampling.assignSplits(docs.repartition(7), "doc_id", splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(a == b) // randomSplit would NOT survive this
    // fractions roughly respected (hash-uniform; wide tolerance at 500 docs)
    val frac = a.values.groupBy(identity).view.mapValues(_.size.toDouble / a.size).toMap
    assert(math.abs(frac("train") - 0.8) < 0.08, s"train=$frac")
    // a NULL id gets a NULL split, not silently the last split
    val withNull = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(null.asInstanceOf[Any])),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType))))
    assert(Sampling.assignSplits(withNull, "doc_id", splits)
      .select("split").collect().head.isNullAt(0))
    // bad configs refused
    intercept[IllegalArgumentException](
      Sampling.assignSplits(docs, "doc_id", Seq("a" -> 0.5)))
    intercept[IllegalArgumentException](
      Sampling.assignSplits(docs, "doc_id", Seq("a" -> 0.5, "a" -> 0.5)))
    intercept[IllegalArgumentException](
      Sampling.assignSplits(docs, "doc_id", Seq("a" -> 0.6, "b" -> 0.6)))
    intercept[IllegalArgumentException](
      Sampling.assignSplits(docs, "doc_id", splits, splitCol = "lang"))
  }

  test("groupQuantileFilter keeps rows at or above the per-group quantile") {
    val df = Seq(("a", 1), ("a", 2), ("a", 3), ("a", 4), ("b", 10), ("b", 20))
      .toDF("g", "s")
    // exact medians: a → 2.5 (keep 3, 4), b → 15.0 (keep 20)
    val exact = Sampling.groupQuantileFilter(df, "g", "s", 0.5)
      .select("s").as[Int].collect().toSet
    assert(exact == Set(3, 4, 20))
    assert(Sampling.groupQuantileFilter(df, "g", "s", 0.5).columns.toSeq == df.columns.toSeq)
    // sketch path: threshold is a real data point, every survivor clears it
    val approx = Sampling.groupQuantileFilter(df, "g", "s", 0.5, approx = true)
      .select("s").as[Int].collect().toSet
    assert(approx.nonEmpty && approx.subsetOf(Set(1, 2, 3, 4, 10, 20)))
    assert(Set(4, 20).subsetOf(approx)) // group maxima always survive any quantile
  }

  test("quantileBins: equal-frequency deciles, ties fall lower, NULL stays NULL") {
    val df = (1 to 100).map(v => (v.toLong, Some(v.toDouble)))
      .:+((0L, Option.empty[Double])).toDF("id", "v")
    val got = Sampling.quantileBins(df, "v", 4)
    // thresholds (n−1)·q over 1..100: 25.75 / 50.5 / 75.25 → 25 rows per bin
    val counts = got.filter($"v".isNotNull).groupBy("bin").count()
      .as[(Int, Long)].collect().toMap
    assert(counts == Map(1 -> 25L, 2 -> 25L, 3 -> 25L, 4 -> 25L))
    assert(got.filter($"id" === 0L).select("bin").head().isNullAt(0))
    // a value exactly ON a threshold lands in the LOWER bin: median of
    // {1,2,3} is exactly 2 → 2 gets bin 1
    val tie = Sampling.quantileBins(Seq(1.0, 2.0, 3.0).toDF("v"), "v", 2)
      .orderBy("v").select("bin").as[Int].collect().toSeq
    assert(tie == Seq(1, 1, 2))
    // sketch path: bins are monotone in v and span 1..k
    val approx = Sampling.quantileBins(df.filter($"v".isNotNull), "v", 4, approx = true)
      .orderBy("v").select("bin").as[Int].collect().toSeq
    assert(approx == approx.sorted && approx.head == 1 && approx.last == 4)
  }

  test("groupQuantileBins: per-group cuts, ties fall lower, NULL value/group bins NULL") {
    // group a: 1..90 (terciles at 30⅔ / 60⅓ → 30 rows per bin);
    // group b: 1000..1002 only — its OWN cuts, untouched by a's range
    val rows = (1 to 90).map(v => (Some("a"), Some(v.toDouble))) ++
      Seq(1000.0, 1001.0, 1002.0).map(v => (Some("b"), Some(v))) :+
      ((Some("a"), Option.empty[Double])) :+ ((Option.empty[String], Some(5.0)))
    val got = Sampling.groupQuantileBins(rows.toDF("g", "v"), "g", "v", 3)
    val aCounts = got.filter($"g" === "a" && $"v".isNotNull).groupBy("bin").count()
      .as[(Int, Long)].collect().toMap
    assert(aCounts == Map(1 -> 30L, 2 -> 30L, 3 -> 30L))
    // b's terciles sit between its three values (1000.66… / 1001.33…) →
    // exactly one row per bin, cut from b's OWN range, not a's
    val bBins = got.filter($"g" === "b").orderBy("v").select("bin").as[Int].collect().toSeq
    assert(bBins == Seq(1, 2, 3))
    assert(got.filter($"v".isNull).select("bin").head().isNullAt(0))
    assert(got.filter($"g".isNull).select("bin").head().isNullAt(0))
    // group column with the default bin name colliding is refused upstream
    // by freshCol (same machinery as quantileBins) — bin lands as a new col
    assert(got.columns.toSeq == Seq("g", "v", "bin"))
  }

  test("negativePairs: deterministic, partitioning-invariant, self excluded, ids from corpus") {
    val ids = (0L until 50L).toDF("id")
    def draw(df: org.apache.spark.sql.DataFrame) =
      Sampling.negativePairs(df, "id", 3).orderBy("anchor_id", "j")
        .as[(Long, Int, Long)].collect().toSeq
    val got = draw(ids.repartition(7))
    assert(got == draw(ids.repartition(1)))
    assert(got.forall { case (a, _, n) => a != n && n >= 0 && n < 50 })
    // every anchor draws k or k-1 (a dropped self-collision) negatives
    val perAnchor = got.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perAnchor.size == 50 && perAnchor.values.forall(c => c == 3 || c == 2))
    // per-(anchor, j) the draw is unique
    assert(got.map(t => (t._1, t._2)).distinct.size == got.size)
  }

  test("hashFraction permille bounds: 0 keeps nothing, 1000 keeps everything") {
    assert(Sampling.hashFraction(docs, "doc_id", 0).count() == 0L)
    assert(Sampling.hashFraction(docs, "doc_id", 1000).count() == docs.count())
    intercept[IllegalArgumentException](Sampling.hashFraction(docs, "doc_id", 1001))
  }

  test("stratified equals the single-window reference and is partitioning-invariant") {
    val n = 7
    // semantics reference: the naive one-task-per-stratum window (fine at
    // test scale; the production operator must produce EXACTLY this set)
    val w = Window.partitionBy(col("lang")).orderBy(Sampling.idHash(col("doc_id")), col("doc_id"))
    val ref = docs.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
      .drop("rn").select("doc_id").as[Long].collect().toSet
    val got = Sampling.stratified(docs, "lang", "doc_id", n)
      .select("doc_id").as[Long].collect().toSet
    val gotRepart = Sampling.stratified(docs.repartition(13), "lang", "doc_id", n)
      .select("doc_id").as[Long].collect().toSet
    assert(got == ref)
    assert(gotRepart == ref)
  }

  test("stratified keeps at most n rows per stratum and preserves the schema") {
    val out = Sampling.stratified(docs, "lang", "doc_id", 20)
    assert(out.columns.toSeq == docs.columns.toSeq)
    val counts = out.groupBy("lang").count().as[(String, Long)].collect()
    assert(counts.nonEmpty && counts.forall(_._2 <= 20L))
  }

  test("stratified temp columns never clobber user columns") {
    val df = docs.withColumn("__rn0", lit(1)).withColumn("__pid0", lit(2))
    val out = Sampling.stratified(df, "lang", "doc_id", 3)
    assert(out.columns.count(_ == "__rn0") == 1 && out.columns.count(_ == "__pid0") == 1)
    assert(out.select("__rn0").distinct().as[Int].collect().toSeq == Seq(1))
  }

  test("weightedFraction: clamps weights, drops null weights, monotone in weight") {
    // weight ≥ 1 always keeps (hash % 1e6 < 1e6 is vacuous); ≤ 0 always drops
    val df = Seq((1L, 2.0), (2L, -1.0), (3L, 1.0)).toDF("id", "w")
    val got = Sampling.weightedFraction(df, "id", "w").select("id").as[Long].collect().toSet
    assert(got == Set(1L, 3L))
    val withNull = Seq((1L, Option(1.0)), (2L, Option.empty[Double])).toDF("id", "w")
    assert(Sampling.weightedFraction(withNull, "id", "w")
      .select("id").as[Long].collect().toSeq == Seq(1L))
    // monotone: raising every weight never evicts a previously-kept row —
    // the property that makes quality-threshold sweeps consistent
    val k3 = Sampling.weightedFraction(docs.withColumn("w", lit(0.3)), "doc_id", "w")
      .select("doc_id").as[Long].collect().toSet
    val k6 = Sampling.weightedFraction(docs.withColumn("w", lit(0.6)), "doc_id", "w")
      .select("doc_id").as[Long].collect().toSet
    assert(k3.nonEmpty && k3.subsetOf(k6) && k6.size < docs.count())
  }

  test("stratifiedQuotas: quotas respected, unquota'd strata dropped, uniform ≡ stratified") {
    val out = Sampling.stratifiedQuotas(docs, "lang", "doc_id", Map("en" -> 7, "de" -> 3))
    assert(out.columns.toSeq == docs.columns.toSeq)
    val counts = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("en", "de")) // es/fr/zh have no quota
    assert(counts("en") <= 7L && counts("de") <= 3L)
    val langs = docs.select("lang").distinct().as[String].collect()
    val uni = Sampling.stratifiedQuotas(docs, "lang", "doc_id", langs.map(_ -> 5).toMap)
      .select("doc_id").as[Long].collect().toSet
    val ref = Sampling.stratified(docs, "lang", "doc_id", 5)
      .select("doc_id").as[Long].collect().toSet
    assert(uni == ref)
  }

  test("budgetSelect equals the naive global-cumsum selection, any bucketing, any partitioning") {
    // naive reference: one global-order window (the semantics, not the plan)
    val w = Window.orderBy(Sampling.idHash(col("doc_id")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val budget = 30000L
    val ref = docs.withColumn("cum", sum(col("n_chars")).over(w))
      .filter(col("cum") <= budget).select("doc_id").as[Long].collect().toSet
    // bucketBits=2 → 4 buckets over 500 docs: the cut lands INSIDE a bucket,
    // exercising prefix offsets, in-bucket cumsum, and past-budget pruning
    for (bits <- Seq(2, 12)) {
      val got = Sampling.budgetSelect(docs, "doc_id", "n_chars", budget, bits)
        .select("doc_id").as[Long].collect().toSet
      assert(got == ref, s"bucketBits=$bits")
    }
    val gotRepart = Sampling.budgetSelect(docs.repartition(13), "doc_id", "n_chars", budget, 2)
      .select("doc_id").as[Long].collect().toSet
    assert(gotRepart == ref)
    assert(ref.nonEmpty && ref.size < docs.count())
  }

  test("repeatToBudget: whole epochs + budget-walk partial, hand-checked per domain") {
    val en = docs.filter(col("lang") === "en")
    val enTotal = en.agg(sum(col("n_chars"))).head().getLong(0)
    val budget = enTotal * 2 + enTotal / 3 // 2 full epochs + a partial
    val got = Sampling.repeatToBudget(docs, "lang", "doc_id", "n_chars",
      Map("en" -> budget)).select("doc_id", "epoch").as[(Long, Long)].collect()
    val nEn = en.count()
    // every en doc appears at epochs 0 and 1
    assert(got.count(_._2 == 0L) == nEn && got.count(_._2 == 1L) == nEn)
    // the partial epoch is exactly budgetSelect over the leftover
    val expectPartial = Sampling.budgetSelect(en, "doc_id", "n_chars", budget % enTotal)
      .select("doc_id").as[Long].collect().toSet
    assert(got.filter(_._2 == 2L).map(_._1).toSet == expectPartial)
    assert(got.forall(_._2 <= 2L))
    // non-budgeted languages contribute nothing
    val langs = Sampling.repeatToBudget(docs, "lang", "doc_id", "n_chars",
      Map("en" -> 100L)).select("lang").distinct().as[String].collect()
    assert(langs.forall(_ == "en"))
  }

  test("repeatToBudget: exact-multiple budgets still run the leftover-0 partial walk") {
    // zero-weight docs whose (idHash, id) prefix precedes any positive
    // weight stay selectable at leftover 0 (cum stays 0 <= 0) — the
    // oracle's cum <= leftover walk keeps them, so skipping the partial
    // pass on leftover == 0 would silently diverge
    val rows = (1L to 12L).map(i => (i, "d", if (i % 3 == 0) 0L else 10L + i))
    val df = rows.toDF("id", "dom", "w")
    val total = rows.map(_._3).sum
    val got = Sampling.repeatToBudget(df, "dom", "id", "w", Map("d" -> total * 2))
      .select("id", "epoch").as[(Long, Long)].collect()
    assert(got.count(_._2 == 0L) == 12 && got.count(_._2 == 1L) == 12)
    val expectPartial = Sampling.budgetSelect(df, "id", "w", 0L)
      .select("id").as[Long].collect().toSet
    assert(got.filter(_._2 == 2L).map(_._1).toSet == expectPartial)
  }

  test("repeatToBudget edge cases: zero budget, exact multiple, validation") {
    val de = docs.filter(col("lang") === "de")
    val deTotal = de.agg(sum(col("n_chars"))).head().getLong(0)
    // zero budget → domain contributes nothing
    assert(Sampling.repeatToBudget(docs, "lang", "doc_id", "n_chars",
      Map("de" -> 0L)).count() == 0L)
    // exact multiple → whole epochs only, no partial
    val exact = Sampling.repeatToBudget(docs, "lang", "doc_id", "n_chars",
      Map("de" -> deTotal * 3)).select("epoch").as[Long].collect()
    assert(exact.length == de.count() * 3 && exact.forall(_ < 3L))
    intercept[IllegalArgumentException](
      Sampling.repeatToBudget(docs, "lang", "doc_id", "n_chars", Map.empty))
    intercept[IllegalArgumentException](
      Sampling.repeatToBudget(docs, "lang", "doc_id", "n_chars", Map("en" -> -1L)))
    intercept[IllegalArgumentException](
      Sampling.repeatToBudget(docs.withColumn("epoch", lit(1)), "lang", "doc_id",
        "n_chars", Map("en" -> 10L)))
  }

  test("budgetSelect edge budgets: zero keeps nothing, total keeps everything") {
    val total = docs.agg(sum(col("n_chars"))).head().getLong(0)
    assert(Sampling.budgetSelect(docs, "doc_id", "n_chars", 0L).count() == 0L)
    assert(Sampling.budgetSelect(docs, "doc_id", "n_chars", total).count() == docs.count())
    intercept[IllegalArgumentException](Sampling.budgetSelect(docs, "doc_id", "n_chars", -1L))
  }

  test("stratified scale contract: phase-1 window is keyed by (stratum, input partition)") {
    // VERDICT r5 item 2: no task may sort a whole stratum. The plan must
    // carry TWO windows — a local prune partitioned by (groupCol,
    // SPARK_PARTITION_ID()) whose per-task input is one input partition's
    // stratum share, then the exact global top-n over ≤ n × partitions rows.
    val lp = Sampling.stratified(docs, "lang", "doc_id", 5).queryExecution.optimizedPlan
    val windows = lp.collect { case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.size == 2, s"expected local-prune + global windows, got:\n$lp")
    // the prune window partitions on TWO keys (stratum + the aliased
    // SPARK_PARTITION_ID() attribute); the global one on the stratum alone
    assert(windows.map(_.partitionSpec.size).sorted == Seq(1, 2), s"plan:\n$lp")
    assert(lp.toString.contains("SPARK_PARTITION_ID"), s"plan:\n$lp")
  }

  test("assignSplitsClusterSafe: cluster members share one split, singletons keep per-id labels") {
    // find two ids whose PER-ID splits differ, then cluster them together:
    // the guard must collapse them onto the cluster label's split
    val ids = (0L until 200L)
    val df = ids.toDF("doc_id")
    val plain = Sampling.assignSplits(df, "doc_id", Seq("train" -> 0.8, "test" -> 0.2))
      .as[(Long, String)].collect().toMap
    val (a, b) = ids.flatMap(i => ids.map(j => (i, j)))
      .find { case (i, j) => i < j && plain(i) != plain(j) }.get
    val clusters = Seq((a, a), (b, a)).toDF("node", "cluster") // b joins a's cluster
    val safe = Sampling.assignSplitsClusterSafe(df, clusters, "doc_id",
      Seq("train" -> 0.8, "test" -> 0.2)).as[(Long, String)].collect().toMap
    assert(safe(a) == plain(a) && safe(b) == plain(a),
      s"cluster ($a,$b) must share $a's split: ${safe(a)}/${safe(b)} vs plain ${plain(a)}/${plain(b)}")
    // every unclustered id keeps its per-id assignment
    assert(ids.filter(i => i != a && i != b).forall(i => safe(i) == plain(i)))
  }

  test("temperatureSample: α=1 reduces to one uniform budget/N rate across domains") {
    // p_d ∝ n_d at α=1 ⇒ rate_d = budget·(n_d/N)/n_d = budget/N for every d,
    // so the selection must equal the plain global hash-fraction at that rate
    val got = Sampling.temperatureSample(docs, "lang", "doc_id", alpha = 1.0, budget = 100L)
      .select("doc_id").as[Long].collect().toSet
    val n = docs.count()
    val expect = docs
      .filter((Sampling.idHash(col("doc_id")) % 1000000L).cast("double")
        < lit(100.0 / n) * 1000000.0)
      .select("doc_id").as[Long].collect().toSet
    assert(got == expect && got.nonEmpty)
  }

  test("temperatureSample: α=0.5 up-weights low-resource domains; big budget keeps all") {
    val df = (0 until 900).map(i => (i.toLong, if (i < 800) "big" else "small"))
      .toDF("id", "dom")
    val kept = Sampling.temperatureSample(df, "dom", "id", alpha = 0.5, budget = 300L)
    val byDom = kept.groupBy("dom").count().as[(String, Long)].collect().toMap
    // keep RATE must be strictly higher for the small domain (flattening)
    val rBig = byDom.getOrElse("big", 0L).toDouble / 800
    val rSmall = byDom.getOrElse("small", 0L).toDouble / 100
    assert(rSmall > rBig, s"small=$rSmall big=$rBig")
    // a budget >= N clamps every rate at 1.0: everything survives
    assert(Sampling.temperatureSample(df, "dom", "id", 0.5, 10000L).count() == 900)
    intercept[IllegalArgumentException](
      Sampling.temperatureSample(df, "dom", "id", alpha = 0.0, budget = 10L))
    intercept[IllegalArgumentException](
      Sampling.temperatureSample(df, "dom", "id", alpha = 0.5, budget = 0L))
  }

  test("weightedSampleK: exact ES selection, firm k, weight-scale invariance, hygiene") {
    def md5Hash(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    // the reference selection, independently derived (same rounded ranking)
    val rows = docs.select("doc_id", "n_chars").as[(Long, Long)].collect().toSeq
    def key(id: Long, w: Double) =
      math.rint(math.log((md5Hash(id) % 1000000L + 0.5) / 1000000.0) / w * 1e9) / 1e9
    val expect = rows.filter(_._2 > 0)
      .sortBy { case (id, w) => (-key(id, w.toDouble), id) }.take(50).map(_._1).toSet
    val got = Sampling.weightedSampleK(docs, "doc_id", "n_chars", 50)
      .select("doc_id").as[Long].collect()
    assert(got.length == 50 && got.toSet == expect)
    // uniform weight scaling preserves the ES ranking: identical sample
    val scaled = Sampling.weightedSampleK(
        docs.withColumn("w2", col("n_chars") * 1000.0), "doc_id", "w2", 50)
      .select("doc_id").as[Long].collect().toSet
    assert(scaled == got.toSet)
    // extreme weights force inclusion: ln(u)/1e9 always beats ln(u)/0.001
    val forced = (1L to 5L).map((_, 1e9)) ++ (6L to 30L).map((_, 0.001))
    val fGot = Sampling.weightedSampleK(forced.toDF("id", "w"), "id", "w", 5)
      .select("id").as[Long].collect().toSet
    assert(fGot == (1L to 5L).toSet)
    // NULL / zero / negative weights and NULL ids carry no odds
    val dirty = Seq((1L, 10.0), (2L, 0.0), (3L, -4.0),
        (4L, Double.NaN), (5L, 10.0)).toDF("id", "w")
      .union(Seq((0L, 0.0)).toDF("id", "w")
        .select(lit(null).cast("long").as("id"), lit(10.0).as("w")))
    val dGot = Sampling.weightedSampleK(dirty, "id", "w", 10)
      .select("id").as[Long].collect().toSet
    assert(dGot == Set(1L, 5L))
    intercept[IllegalArgumentException](Sampling.weightedSampleK(dirty, "id", "w", 0))
  }

  test("shuffleToShards: exact md5 permutation, balanced strides, seed and partitioning contracts") {
    def md5Ord(id: Long, seed: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:$seed".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val ids = docs.select("doc_id").as[Long].collect().toSeq
    val expect = ids.sortBy(id => (md5Ord(id, 0L), id)).zipWithIndex
      .map { case (id, i) => id -> ((i.toLong % 8, i.toLong / 8)) }.toMap
    val got = Sampling.shuffleToShards(docs.select("doc_id"), "doc_id", 8)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == expect) // the reference permutation, independently derived
    // strided striping: shard sizes balanced within one row
    val sizes = got.values.groupBy(_._1).view.mapValues(_.size).values.toSet
    assert(sizes.size <= 2 && (sizes.max - sizes.min) <= 1, s"sizes=$sizes")
    // per-shard positions are contiguous 0..size-1 (the stream read order)
    got.values.groupBy(_._1).foreach { case (sh, rows) =>
      assert(rows.map(_._2).toSeq.sorted == (0L until rows.size).toSeq, s"shard $sh")
    }
    // partitioning-invariant (orderBy(rand()) would fail both of these)
    val repart = Sampling.shuffleToShards(
        docs.select("doc_id").repartition(7), "doc_id", 8)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(repart == got)
    // a different seed deals a genuinely different permutation
    val reseed = Sampling.shuffleToShards(docs.select("doc_id"), "doc_id", 8, seed = 1L)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(reseed != got)
    intercept[IllegalArgumentException](
      Sampling.shuffleToShards(docs.select("doc_id"), "doc_id", 0))
  }

  test("winsorize clamps to per-group quantile bands; NULLs pass through") {
    // group g: values 1..10 — quantile_cont thresholds lo(0.1) = 1.9,
    // hi(0.9) = 9.1 (linear interpolation over the sorted 10 values)
    val df = ((1 to 10).map(v => ("g", Some(v))) :+ (("g", None: Option[Int])))
      .toDF("grp", "v")
    val out = Sampling.winsorize(df, "grp", "v", loQ = 0.1, hiQ = 0.9)
      .as[(String, Option[Int], Option[Double], Boolean)].collect()
      .map(r => r._2 -> ((r._3, r._4))).toMap
    assert(out(Some(1)) == ((Some(1.9), true)))
    assert(out(Some(10)) == ((Some(9.1), true)))
    assert(out(Some(5)) == ((Some(5.0), false)))
    assert(out(Some(2)) == ((Some(2.0), false))) // exactly inside the band
    assert(out(None) == ((None, false))) // NULL in, NULL out, not clipped
    intercept[IllegalArgumentException](
      Sampling.winsorize(df, "grp", "v", loQ = 0.5, hiQ = 0.5))
    intercept[IllegalArgumentException](
      Sampling.winsorize(df.withColumnRenamed("v", "winsorized"),
        "grp", "winsorized"))
  }

  test("winsorize keeps rows without a band: NULL group, all-NULL group") {
    // group "n" holds only NULL values (no threshold row), and one row has a
    // NULL group (it matches no threshold row): both are kept, unclamped
    // NULL and not clipped, beside the banded group's clamped rows
    val df = Seq((Some("g"), Some(1.0)), (Some("g"), Some(5.0)), (Some("g"), Some(9.0)),
        (Some("n"), None), (Some("n"), None), (None, Some(3.0)))
      .toDF("grp", "v")
    val out = Sampling.winsorize(df, "grp", "v", loQ = 0.25, hiQ = 0.75)
      .as[(Option[String], Option[Double], Option[Double], Boolean)].collect()
      .sortBy(r => (r._1.getOrElse(""), r._2.getOrElse(-1.0))).toSeq
    assert(out == Seq(
      (None, Some(3.0), None, false),
      (Some("g"), Some(1.0), Some(3.0), true),
      (Some("g"), Some(5.0), Some(5.0), false),
      (Some("g"), Some(9.0), Some(7.0), true),
      (Some("n"), None, None, false),
      (Some("n"), None, None, false)))
  }

  test("approx quantile operators equal the exact ones when every quantile is observed") {
    // two groups of the 11 distinct values 0..10: every per-group quantile
    // i/10 is (n−1)·q = i, an observed value, and so is every global one
    // (position 2.1·i over the 22 sorted values falls between two equal
    // values) — the sketch then has no error to show
    val df = (for (g <- Seq("a", "b"); v <- 0 to 10) yield (g, v.toDouble, s"$g$v"))
      .toDF("g", "v", "id")
    def rows(f: Boolean => org.apache.spark.sql.DataFrame) = {
      val Seq(exact, approx) = Seq(false, true).map(a =>
        f(a).orderBy("id").collect().toSeq)
      assert(exact.nonEmpty)
      assert(approx == exact)
    }
    rows(a => Sampling.winsorize(df, "g", "v", loQ = 0.1, hiQ = 0.9, approx = a))
    rows(a => Sampling.quantileNormalize(df, "g", "v", gridK = 10, approx = a))
    rows(a => Sampling.groupQuantileBins(df, "g", "v", 10, approx = a))
    // and the exact answers are the observed values themselves
    assert(Sampling.winsorize(df, "g", "v", loQ = 0.1, hiQ = 0.9, approx = true)
      .filter($"g" === "a").orderBy("v").select("winsorized").as[Double].collect().toSeq ==
      Seq(1.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 9.0))
    assert(Sampling.groupQuantileBins(df, "g", "v", 10, approx = true)
      .filter($"g" === "b").orderBy("v").select("bin").as[Int].collect().toSeq ==
      Seq(1, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10))
    assert(Sampling.quantileNormalize(df, "g", "v", gridK = 10, approx = true)
      .filter($"g" === "a").orderBy("v").select("calibrated").as[Double].collect().toSeq ==
      (0 to 10).map(_.toDouble))
  }
}
