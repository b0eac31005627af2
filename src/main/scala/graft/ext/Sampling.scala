package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Ops.freshName

/**
 * Deterministic sampling, splitting and quantile operators for
 * training-data pipelines (SURVEY.md §2.12). Unlike `df.sample()` (seeded
 * per-partition RNG — the selection changes with the partitioning, so two
 * runs over differently-split inputs disagree), every selection here keys
 * on a content hash of a stable id ([[idHash]]): the same rows come back on
 * any cluster, any partitioning, any engine — which is what a reproducible
 * training-data pipeline needs, and what lets the DuckDB oracles verify the
 * selections bit-for-bit.
 *
 * The operators share a few formulas, each derived once in this object:
 *  - the id hash and its parts-per-million draw ([[idHash]], `ppm`) drive
 *    the per-row selectors — [[hashFraction]], [[weightedFraction]],
 *    [[assignSplits]], [[temperatureSample]], [[weightedSampleK]] — and the
 *    `(idHash, id)` order of [[budgetSelect]], [[negativePairs]] and
 *    [[shuffleToShards]];
 *  - one two-phase per-stratum top-n serves [[stratified]] and
 *    [[stratifiedQuotas]];
 *  - one percentile aggregate (`percentileOf`, exact or sketch) serves
 *    every quantile operator — [[groupQuantileFilter]], [[winsorize]],
 *    [[quantileBins]], [[quantileNormalize]], [[groupQuantileBins]] — and
 *    the medians of [[Profiling.madOutliers]] and
 *    [[TimeSeries.theilSenTrend]].
 *
 * Most operators only build a plan: per-row maps, broadcast joins of
 * group-cardinality tables and key-partitioned windows, with no driver-side
 * state, so the plan is the same at 10^3 or 10^9 rows. Four run jobs at
 * CALL time: [[budgetSelect]] (one small per-bucket weight aggregate),
 * [[repeatToBudget]] (per-domain totals, then one [[budgetSelect]] per
 * domain), and [[negativePairs]] and [[shuffleToShards]] (the two ordinal
 * jobs of [[graft.ops.Ops.globalOrdinals]]).
 */
object Sampling {

  /** 60-bit portable id hash: first 15 hex chars of `md5(CAST(id AS STRING))`
    * — the one md5 hash of the package (SimHash's [[Dedup.md5TokenHash]],
    * the winnowing gram hash, the count-min sketch rows), computable
    * bit-identically in any engine with md5 (DuckDB:
    * `CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15) AS BIGINT)`). */
  def idHash(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 15), 16, 10).cast("long")

  /** The parts-per-million draw `idHash(id) mod 10^6` — the per-row
    * uniform integer in `[0, 10^6)` that the weighted selectors compare
    * against a rate, the splits against cumulative ppm thresholds. */
  private def ppm(id: Column): Column = idHash(id) % 1000000L

  /** The one percentile aggregate of the quantile operators, and the only
    * reader of their `approx` flag: exact interpolated `percentile`
    * (≡ DuckDB `quantile_cont`, the form every oracle mirrors) or, with
    * `approx`, the constant-memory mergeable `percentile_approx` sketch at
    * accuracy 10000 — the only feasible form when one group holds billions
    * of rows. `probs` is one probability or an array of them; the result is
    * a value or an array to match. */
  private[ext] def percentileOf(c: Column, probs: Column, approx: Boolean = false): Column =
    if (approx) percentile_approx(c, probs, lit(10000)) else percentile(c, probs)

  /** Keep ~`permille`/1000 of rows: `idHash(id) % 1000 < permille`.
    * Deterministic, engine-portable, and composable — the selection of one
    * row never depends on any other row. */
  def hashFraction(df: DataFrame, idCol: String, permille: Int): DataFrame = {
    require(permille >= 0 && permille <= 1000, s"permille out of range: $permille")
    df.filter(idHash(col(idCol)) % 1000 < permille)
  }

  /** Keep each row with probability ≈ its `weightCol` ∈ [0,1] — quality-
    * proportional downsampling (keep high-quality documents more often),
    * deterministic on the id hash: `idHash % 10^6 < weight · 10^6`. Weights
    * are clamped to [0,1]; a null weight drops the row. A pure per-row
    * filter, composable and engine-portable like [[hashFraction]] — both
    * sides of the comparison are exact IEEE doubles, so any engine computes
    * the identical selection. */
  def weightedFraction(df: DataFrame, idCol: String, weightCol: String): DataFrame = {
    val w = least(greatest(col(weightCol).cast("double"), lit(0.0)), lit(1.0))
    df.filter(ppm(col(idCol)).cast("double") < w * 1000000.0)
  }

  /**
   * Deterministic train/val/test split assignment: every row gets a
   * `splitCol` label by its id-hash bucket — `idHash(id) % 10^6` falls in
   * the cumulative parts-per-million range of its split's fraction. Like
   * every operator here the assignment is a pure per-row map, stable under
   * any partitioning, cluster, or engine (the property `df.randomSplit`
   * lacks — its per-partition RNG reassigns rows when the input splits
   * differently), and a document keeps its split across pipeline re-runs —
   * the train/test-leak guard a training pipeline actually needs.
   *
   * Thresholds are integer ppm of the CUMULATIVE fractions (never per-split
   * rounding, which can drift off 10^6 and drop a bucket). Fractions must
   * sum to 1 (±1e-9). A NULL id has no hash to assign by → NULL split,
   * explicitly (not silently the last split).
   */
  def assignSplits(df: DataFrame, idCol: String, splits: Seq[(String, Double)],
      splitCol: String = "split"): DataFrame = {
    require(splits.size >= 2, s"assignSplits needs at least two splits, got ${splits.size}")
    require(splits.map(_._1).distinct.size == splits.size,
      s"split names must be distinct: ${splits.map(_._1).mkString(", ")}")
    require(splits.forall(_._2 > 0), "every split fraction must be positive")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1.0, got ${splits.map(_._2).sum}")
    require(!df.columns.contains(splitCol),
      s"assignSplits: column '$splitCol' already exists — pass a free splitCol")
    val cumPpm = splits.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(f => math.round(f * 1000000.0))
    val b = ppm(col(idCol))
    val base = when(col(idCol).isNull, lit(null).cast("string"))
    val chained = splits.map(_._1).zip(cumPpm).init.foldLeft(base) {
      case (acc, (name, hi)) => acc.when(b < hi, lit(name))
    }
    df.withColumn(splitCol, chained.otherwise(lit(splits.last._1)))
  }

  /**
   * [[assignSplits]] with the near-dup LEAKAGE GUARD: all members of a
   * duplicate cluster land in the SAME split. Plain per-id assignment
   * leaks: two near-identical documents can fall on opposite sides of the
   * train/test boundary, and the model is then evaluated on (a paraphrase
   * of) its own training data — the standard contamination failure the
   * dedup pipeline exists to prevent. Here the split key is the cluster
   * label (its canonical min-id member) for clustered docs and the doc's
   * own id for singletons, so the boundary can only fall BETWEEN clusters.
   *
   * `clusters` is `(node, cluster)` membership as produced by
   * [[graft.ext.Dedup.connectedComponents]] over any pair operator.
   * Membership is usually far smaller than the corpus (hint-if-small
   * broadcast); the corpus itself never shuffles. NULL ids keep the NULL →
   * NULL-split contract.
   */
  def assignSplitsClusterSafe(df: DataFrame, clusters: DataFrame, idCol: String,
      splits: Seq[(String, Double)], splitCol: String = "split"): DataFrame = {
    val key = freshName(df.columns.toSet, "__splitkey")
    val m = graft.ops.Ops.hintIfSmall(
      clusters.select(col("node").as(idCol), col("cluster").as(key)))
    val keyed = df.join(m, Seq(idCol), "left_outer")
      .withColumn(key, coalesce(col(key), col(idCol)))
    assignSplits(keyed, key, splits, splitCol).drop(key)
  }

  /** Stratified sample: the `n` rows with the smallest `(idHash, id)` per
    * `groupCol` stratum — a deterministic per-class quota (class-balanced
    * subset selection); hash order makes the pick uniform-ish while
    * `(hash, id)` stays a total order.
    *
    * TWO-PHASE so no task ever sorts a whole stratum: strata in a
    * training-data pipeline are low-cardinality (language, source, label) —
    * a single `row_number() OVER (PARTITION BY stratum)` window would funnel
    * every row of a stratum into ONE task (terabytes per task at 100 TB).
    * Phase 1 windows on `(stratum, spark_partition_id())` — each input
    * partition independently keeps its local smallest-`n` per stratum, so
    * per-task input is bounded by one input partition's share of a stratum
    * and the survivor set is ≤ `n × input_partitions` rows per stratum.
    * Phase 2 runs the exact global per-stratum top-`n` over only those
    * survivors. Any row in the true global top-`n` is necessarily in its
    * partition's local top-`n`, so the two-phase result is EXACTLY the
    * single-window result (pinned by `SamplingSpec`). */
  def stratified(df: DataFrame, groupCol: String, idCol: String, n: Int): DataFrame = {
    require(n > 0, s"sample size must be positive: $n")
    topPerStratum(df, groupCol, idCol, n, lit(n), df.columns.toIndexedSeq)
  }

  /** The two-phase per-stratum top-n of [[stratified]] and
    * [[stratifiedQuotas]]: keep each row whose `(idHash, id)` rank within
    * its `groupCol` stratum is at most its `quota` (a column, or `lit(n)`
    * for one quota everywhere), then project `cols`. Phase 1 ranks within
    * `(stratum, spark_partition_id())` and also caps the rank at the
    * literal `n` ≥ every quota; phase 2 ranks the phase-1 survivors (the
    * [[stratified]] contract). */
  private def topPerStratum(df: DataFrame, groupCol: String, idCol: String, n: Int,
      quota: Column, cols: Seq[String]): DataFrame = {
    val h = idHash(col(idCol))
    val rn = freshName(df.columns.toSet, "__rn")
    val pid = freshName(df.columns.toSet, "__pid")
    val wLocal = Window.partitionBy(col(groupCol), col(pid)).orderBy(h, col(idCol))
    val pruned = df.withColumn(pid, spark_partition_id())
      .withColumn(rn, row_number().over(wLocal))
      .filter(col(rn) <= n && col(rn) <= quota).drop(pid, rn)
    val wGlobal = Window.partitionBy(col(groupCol)).orderBy(h, col(idCol))
    pruned.withColumn(rn, row_number().over(wGlobal)).filter(col(rn) <= quota)
      .select(cols.map(col): _*)
  }

  /** Domain mixing: per-stratum quotas (e.g. `Map("en" -> 3_000_000,
    * "de" -> 500_000)`) — the corpus-blending shape of a training-data
    * pipeline, where each language/source/domain contributes a fixed number
    * of documents. Same deterministic `(idHash, id)` order and the same
    * two-phase no-whole-stratum-in-one-task plan as [[stratified]]; the
    * quota table rides along as a broadcast join. Strata absent from
    * `quotas` are dropped (quota 0). The phase-1 prune also carries the
    * LITERAL max quota so Spark's rank-limit pushdown (`WindowGroupLimit`)
    * still applies before the exact per-stratum filter. */
  def stratifiedQuotas(df: DataFrame, groupCol: String, idCol: String,
      quotas: Map[String, Int]): DataFrame = {
    require(quotas.nonEmpty, "quotas must be non-empty")
    quotas.foreach { case (k, v) => require(v > 0, s"quota for stratum '$k' must be positive: $v") }
    val spark = df.sparkSession
    import spark.implicits._
    val q = freshName(df.columns.toSet, "__quota")
    val qdf = quotas.toSeq.toDF(groupCol, q)
    topPerStratum(df.join(broadcast(qdf), groupCol), groupCol, idCol,
      quotas.values.max, col(q), df.columns.toIndexedSeq) // original schema & order
  }

  /** Budget-capped selection — THE training-corpus assembly primitive: walk
    * rows in deterministic `(idHash, id)` order and keep them while the
    * running total of `weightCol` (token counts — integral, nulls count 0)
    * stays ≤ `budget`. "Fill a 2-trillion-token budget from the deduped
    * corpus, reproducibly" is exactly this call.
    *
    * A naive `sum OVER (ORDER BY hash)` cumsum is a GLOBAL-order window —
    * one task sorts the whole corpus. Instead the hash's top `bucketBits`
    * bits split the order into 2^bucketBits contiguous ranges: per-bucket
    * weight totals (one small agg) prefix-summed on the driver (≤ 2^bucketBits
    * longs — the broadcast-threshold pattern, independent of data size) tell
    * each bucket its starting offset; buckets that start past the budget are
    * pruned before the shuffle, and the exact cumsum window runs PER BUCKET
    * (each ~1/2^bucketBits of the order, thousands of parallel tasks at
    * 100 TB). Result is EXACTLY the naive global cumsum selection (pinned by
    * `SamplingSpec`).
    *
    * EAGER like [[Dedup.connectedComponents]]: the per-bucket totals run at
    * CALL time (one small distributed agg), not at action time. */
  def budgetSelect(df: DataFrame, idCol: String, weightCol: String, budget: Long,
      bucketBits: Int = 12): DataFrame = {
    require(budget >= 0, s"budget must be non-negative: $budget")
    require(bucketBits >= 1 && bucketBits <= 30, s"bucketBits out of range: $bucketBits")
    val spark = df.sparkSession
    import spark.implicits._
    val h = idHash(col(idCol))
    val bkt = freshName(df.columns.toSet, "__bkt")
    val cum = freshName(df.columns.toSet, "__cum")
    val pre = freshName(df.columns.toSet, "__pre")
    val withB = df.withColumn(bkt, shiftright(h, 60 - bucketBits))
    val sums = withB.groupBy(bkt)
      .agg(coalesce(sum(col(weightCol).cast("long")), lit(0L)).as("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val prefixes = sums.map { case (b, w) => val p = acc; acc += w; (b, p) }
    val kept = prefixes.filter(_._2 <= budget) // buckets starting past budget pruned
    val prefixDf = broadcast(kept.toIndexedSeq.toDF(bkt, pre))
    val wB = Window.partitionBy(col(bkt)).orderBy(h, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withB.join(prefixDf, bkt)
      .withColumn(cum, sum(coalesce(col(weightCol).cast("long"), lit(0L))).over(wB) + col(pre))
      .filter(col(cum) <= budget)
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  /** Data-constrained corpus assembly (Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models"): when a domain's token budget
    * EXCEEDS its corpus, repeat the corpus — whole epochs first, then a
    * deterministic partial epoch filling the remainder. Each `budgets`
    * domain contributes `budget div total` full epochs (every doc, epochs
    * `0 .. full-1`) plus one partial epoch (`epoch = full`) chosen by
    * [[budgetSelect]]'s `(idHash, id)`-prefix walk over the leftover
    * budget — so repeated-data mixes ("4 epochs of wiki, 1.3 of books")
    * are reproducible on any engine or partitioning. Domains absent from
    * `budgets` are dropped; a zero-total domain contributes nothing.
    *
    * Scale shape: totals are one #domains-row agg; the full-epoch fan-out
    * is a broadcast join + a plain `sequence` explode (output-sized, never
    * shuffled); the partial epoch runs one bucket-prefix [[budgetSelect]]
    * per domain — `budgets` is bounded operator config (the
    * [[stratifiedQuotas]] contract), so the per-domain loop is a bounded
    * number of small aggs, not data-driven driver work. */
  def repeatToBudget(df: DataFrame, groupCol: String, idCol: String, weightCol: String,
      budgets: Map[String, Long], bucketBits: Int = 12): DataFrame = {
    require(budgets.nonEmpty, "budgets must be non-empty")
    budgets.foreach { case (k, v) => require(v >= 0, s"budget for domain '$k' must be non-negative: $v") }
    require(!df.columns.contains("epoch"), "input already has an 'epoch' column")
    require(df.schema(groupCol).dataType == org.apache.spark.sql.types.StringType,
      s"budgets are keyed by string domains, but column '$groupCol' is " +
        s"${df.schema(groupCol).dataType.simpleString}")
    val spark = df.sparkSession
    import spark.implicits._
    val keys = budgets.keys.toSeq.sorted
    val totals = df.filter(col(groupCol).isin(keys: _*))
      .groupBy(col(groupCol))
      .agg(coalesce(sum(col(weightCol).cast("long")), lit(0L)).as("__tot"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plan = keys.flatMap { d =>
      val tot = totals.getOrElse(d, 0L)
      if (tot <= 0L) None
      else Some((d, budgets(d) / tot, budgets(d) % tot))
    }
    val ep = freshName(df.columns.toSet, "__epoch")
    val fullCol = freshName(df.columns.toSet, "__full")
    val fullDomains = plan.filter(_._2 > 0).map { case (d, full, _) => (d, full) }
    val fullPart = if (fullDomains.isEmpty) None else {
      val fdf = broadcast(fullDomains.toDF(groupCol, fullCol))
      Some(df.join(fdf, groupCol)
        .withColumn(ep, explode(sequence(lit(0L), col(fullCol) - 1)))
        .drop(fullCol))
    }
    // the partial epoch runs for EVERY planned domain, leftover 0 included:
    // budgetSelect(0) keeps exactly the zero-weight (idHash, id)-prefix
    // docs (cum stays 0 <= 0), which is what the oracle's cum <= leftover
    // walk selects — skipping the walk on leftover == 0 would silently
    // drop those docs from the final epoch
    val partials = plan.map { case (d, full, leftover) =>
      budgetSelect(df.filter(col(groupCol) === d), idCol, weightCol, leftover, bucketBits)
        .withColumn(ep, lit(full))
    }
    val parts = fullPart.toSeq ++ partials
    val out = parts.reduceOption(_ unionByName _)
      .getOrElse(df.limit(0).withColumn(ep, lit(0L)))
    out.select(df.columns.toIndexedSeq.map(col) :+ col(ep).cast("long").as("epoch"): _*)
  }

  /** Quality-quantile selection: keep rows whose `scoreCol` is at or above
    * their `groupCol` group's `q`-quantile — "keep the best ~(1−q) of every
    * language/domain", the per-group form of quality filtering (a fixed
    * global threshold over-prunes low-resource groups). One aggregation pass
    * computes the thresholds (group cardinality = languages/domains, so the
    * result is broadcast); the selection itself is then a pure per-row
    * filter — the corpus never shuffles.
    *
    * `approx = false` uses exact interpolated `percentile` (a full sort per
    * group inside the agg — fine at fixture scale, and it matches DuckDB's
    * `quantile_cont` for the oracle). At 100 TB pass `approx = true`:
    * `percentile_approx` is a constant-memory mergeable sketch, the only
    * feasible form when one group holds billions of rows; the threshold then
    * carries sketch error, which a quality CUTOFF tolerates by design
    * (membership at the boundary shifts, the bulk selection does not). */
  def groupQuantileFilter(df: DataFrame, groupCol: String, scoreCol: String,
      q: Double, approx: Boolean = false): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"quantile out of range: $q")
    val thr = freshName(df.columns.toSet, "__thr")
    val thresholds = df.groupBy(col(groupCol))
      .agg(percentileOf(col(scoreCol), lit(q), approx).as(thr))
    df.join(broadcast(thresholds), Seq(groupCol))
      .filter(col(scoreCol) >= col(thr))
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  /**
   * Per-group winsorization — clamp a numeric column to its group's
   * `[loQ, hiQ]` quantile band, the standard feature-preprocessing step
   * before means/regressions meet heavy-tailed signals (lengths, scores,
   * latencies): unlike dropping outliers ([[groupQuantileFilter]]'s cut),
   * winsorizing keeps the ROW and caps its leverage. Output: the input
   * plus `<outCol>` (the clamped value, rounded at 6 — the thresholds are
   * interpolated percentiles, the one place engine ulps can enter) and
   * `<outCol>_clipped` (whether the raw value fell outside the band).
   *
   * Scale shape: one exact-percentile aggregation per group (the
   * [[groupQuantileFilter]] contract — group-cardinality output) broadcast
   * back onto the rows by a LEFT join; the clamp itself is a pure
   * codegen'd projection. NULL values pass through unclamped (`NULL` in,
   * `NULL` out, not clipped). A row with no band — its group is NULL, or
   * every value of its group is NULL — is kept with `<outCol>` NULL and
   * `<outCol>_clipped` false. `approx` switches to `percentile_approx` for
   * the constant-memory path at extreme group cardinalities.
   */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      loQ: Double = 0.01, hiQ: Double = 0.99, approx: Boolean = false,
      outCol: String = "winsorized"): DataFrame = {
    require(loQ >= 0.0 && hiQ <= 1.0 && loQ < hiQ,
      s"need 0 <= loQ < hiQ <= 1: [$loQ, $hiQ]")
    require(!df.columns.contains(outCol) && !df.columns.contains(outCol + "_clipped"),
      s"output column '$outCol'(_clipped) already exists on the input frame")
    val lo = freshName(df.columns.toSet, "__wlo")
    val hi = freshName(df.columns.toSet, "__whi")
    val thresholds = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(percentileOf(col(valueCol), lit(loQ), approx).as(lo),
        percentileOf(col(valueCol), lit(hiQ), approx).as(hi))
    val v = col(valueCol).cast("double")
    // explicit guard: least/greatest SKIP nulls in both engines, so without
    // it a NULL value would silently "clamp" to the lo threshold, and a row
    // without a band would pass through as if clamped
    val banded = v.isNotNull && col(lo).isNotNull
    df.join(broadcast(thresholds), Seq(groupCol), "left")
      .withColumn(outCol, when(banded, round(least(greatest(v, col(lo)), col(hi)), 6)))
      .withColumn(outCol + "_clipped",
        when(banded, v < col(lo) || v > col(hi)).otherwise(lit(false)))
      .drop(lo, hi)
  }

  /**
   * Deterministic contrastive negative sampling: for every anchor row, `k`
   * pseudo-random partner rows drawn uniformly from the corpus — the
   * negative-pair generator of contrastive embedding training (word2vec
   * negative sampling, Mikolov et al. 2013; DPR-style retrieval training).
   * `df.sample`/`rand()` would re-draw per run AND per partitioning; here
   * partner choice is a pure function of `(anchor id, j)`, so the pair set
   * is reproducible on any engine — the same portability contract as
   * [[idHash]] selection everywhere else in this module.
   *
   * Shape: anchors get contiguous ordinals `0..n−1`
   * ([[graft.ops.Ops.globalOrdinals]] — range-partitioned, no
   * single-partition exchange), partner ordinal =
   * `idHash("<id>:<j>") mod n` (n travels as one broadcast row), and ONE
   * keyed join on the ordinal fetches the partner id. Hash collisions
   * with the anchor itself are DROPPED (that anchor gets k−1 negatives
   * for that j) — the standard trade; re-rolling would make each draw
   * depend on the previous one and break per-row determinism.
   *
   * EAGER like `globalOrdinals` (two ordinal jobs at call time). Returns
   * `(anchor_id, j, negative_id)`.
   */
  def negativePairs(df: DataFrame, idCol: String, k: Int,
      numParts: Int = 32): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val ord = freshName(df.columns.toSet, "__negord")
    val orded = graft.ops.Ops.globalOrdinals(
      df.select(col(idCol)), Seq(col(idCol).asc), numParts, ord)
    val n = orded.agg(count(lit(1)).as("__n"))
    val anchors = orded.crossJoin(broadcast(n))
      .select(col(idCol).as("anchor_id"), col(ord).as("__aord"), col("__n"),
        explode(sequence(lit(0), lit(k - 1))).as("j"))
      .withColumn("__pord",
        idHash(concat(col("anchor_id").cast("string"), lit(":"), col("j").cast("string")))
          % col("__n"))
    anchors.filter(col("__pord") =!= col("__aord"))
      .join(orded.select(col(ord).as("__pord"), col(idCol).as("negative_id")), Seq("__pord"))
      .select("anchor_id", "j", "negative_id")
  }

  /**
   * Equal-frequency discretization: assign every row its `k`-quantile
   * bucket of `valueCol` — the feature-binning step of a training
   * pipeline (score deciles for quality tiers, length buckets for batch
   * shaping, stratification keys for [[stratified]]).
   *
   * Contract (spelled identically in the SQL oracle): thresholds are the
   * exact interpolated `percentile(valueCol, i/k)` for `i = 1..k−1`
   * (≡ DuckDB `quantile_cont`, both the (n−1)·q linear interpolation);
   * `bin = 1 + #{thresholds strictly below the value}` — values exactly
   * ON a threshold fall in the LOWER bin, NULL values get a NULL bin.
   *
   * Plan: one aggregation computes all `k−1` thresholds, which travel as
   * a single broadcast row; bin assignment is then a pure per-row
   * projection (a sum of `when`s, codegen-friendly — a higher-order
   * `filter` lambda would drop the projection out of codegen). The corpus
   * never shuffles. Exact `percentile` buffers values per partition —
   * at the 100 TB scale pass `approx = true` (`percentile_approx`,
   * constant memory, the [[groupQuantileFilter]] trade).
   */
  def quantileBins(df: DataFrame, valueCol: String, k: Int, binCol: String = "bin",
      approx: Boolean = false): DataFrame = {
    val thr = freshName(df.columns.toSet, "__qthr")
    val (thresholds, bin) = thresholdBin(col(valueCol), k, thr, approx)
    df.crossJoin(broadcast(df.agg(thresholds)))
      .withColumn(binCol, bin)
      .drop(thr)
  }

  /** The equal-frequency bin rule of [[quantileBins]] and
    * [[groupQuantileBins]]: the threshold aggregate (named `thr`: the
    * `k−1` percentiles `i/k` of `v` in one array) and the bin over it,
    * `1 + #{thresholds strictly below v}` as a codegen-friendly sum of
    * `when`s — NULL when `v` or the thresholds are NULL. */
  private def thresholdBin(v: Column, k: Int, thr: String,
      approx: Boolean): (Column, Column) = {
    require(k >= 2, s"need at least 2 bins: $k")
    val probs = (1 until k).map(i => lit(i.toDouble / k))
    val bin = (1 until k).map(i => when(v > element_at(col(thr), i), 1).otherwise(0))
      .reduce(_ + _) + lit(1)
    (percentileOf(v, array(probs: _*), approx).as(thr),
      when(v.isNull || col(thr).isNull, lit(null)).otherwise(bin))
  }

  /**
   * Cross-domain quantile normalization — map every row's score onto the
   * GLOBAL score distribution at the row's within-domain percent rank:
   * `calibrated = globalQuantile(percent_rank_within(group))`. This is the
   * calibration step a mixed-corpus curation pass needs before comparing
   * quality scores across heterogeneous sources (a "good" web page and a
   * "good" reference-corpus page sit at the same within-source rank but on
   * incomparable raw scales — rank-then-requantize puts them on one scale;
   * the microarray literature calls it quantile normalization).
   *
   * Contract (spelled identically in the SQL oracle): within-group rank is
   * SQL `percent_rank` — `(minRank − 1) / (n − 1)` with ties sharing the
   * min rank, single-row groups at 0 — and the global grid is the exact
   * interpolated `percentile(valueCol, i/gridK)` for `i = 0..gridK`
   * (≡ DuckDB `quantile_cont`); `calibrated = round(grid[round(pr·gridK)],
   * 6)`, both `round`s half-away-from-zero in both engines. Rows with a
   * NULL group or NULL value are excluded (their rank is undefined; the
   * engines also disagree on NULL sort order).
   *
   * Plan: percent rank is computed WITHOUT sorting each group into one
   * task — value counts grouped by `(group, value)`, a running sum over
   * each group's DISTINCT values (the window input is gram-sized, not
   * corpus-sized), and a `(group, value)` join back onto the rows; the
   * grid is one aggregation traveling as a single broadcast row, and the
   * final calibration is a pure per-row projection. Exact `percentile`
   * buffers values per partition — at the 100 TB scale pass
   * `approx = true` (`percentile_approx`, constant memory, the
   * [[quantileBins]] trade; the oracle only mirrors the exact form).
   */
  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
      outCol: String = "calibrated", gridK: Int = 1000,
      approx: Boolean = false): DataFrame = {
    require(gridK >= 2, s"need at least 2 grid intervals: $gridK")
    require(!df.columns.contains(outCol),
      s"input already has a '$outCol' column — pass a free outCol")
    val probs = (0 to gridK).map(i => lit(i.toDouble / gridK))
    // cached: the filtered corpus is consumed three times (grid
    // aggregation, the (group, value) count aggregation, and the join-back
    // probe side) — the bigramSurprisal multi-consumer convention
    val base = Caches.track(
      df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull))
    val grid = freshName(df.columns.toSet, "__qngrid")
    val gridRow = base.agg(percentileOf(col(valueCol), array(probs: _*), approx).as(grid))
    val c = freshName(df.columns.toSet, "__qnc")
    val cum = freshName(df.columns.toSet, "__qncum")
    val n = freshName(df.columns.toSet, "__qnn")
    val pr = freshName(df.columns.toSet, "__qnpr")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(valueCol))
    val ranks = base.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as(c))
      .withColumn(cum, sum(col(c)).over(w))
      .withColumn(n, sum(col(c)).over(Window.partitionBy(col(groupCol))))
      .withColumn(pr, when(col(n) > 1,
          (col(cum) - col(c)).cast("double") / (col(n) - 1).cast("double"))
        .otherwise(lit(0.0)))
      .select(col(groupCol), col(valueCol), col(pr))
    base.join(ranks, Seq(groupCol, valueCol))
      .crossJoin(broadcast(gridRow))
      .withColumn(outCol, round(element_at(col(grid),
        round(col(pr) * gridK, 0).cast("int") + 1), 6))
      .select(df.columns.toIndexedSeq.map(col) :+ col(outCol): _*)
  }

  /**
   * Per-GROUP equal-frequency discretization — [[quantileBins]] with the
   * thresholds computed within each `groupCol` partition of the corpus:
   * the CCNet bucketing step (Wenzek et al. 2020 §3.3 — documents split
   * into head/middle/tail by per-LANGUAGE perplexity terciles, because one
   * global cut would just rank languages by their LM fit rather than rank
   * documents within a language). Same contract as [[quantileBins]],
   * spelled identically in the SQL oracle: per-group thresholds are the
   * exact interpolated `percentile(valueCol, i/k)` (≡ DuckDB
   * `quantile_cont`), `bin = 1 + #{thresholds strictly below the value}`,
   * values exactly ON a threshold fall in the LOWER bin, NULL values get
   * a NULL bin. Rows whose group is NULL also get a NULL bin (they have
   * no threshold row; CCNet's analog is "language unidentified — not
   * bucketed").
   *
   * Plan: ONE grouped aggregation computes every group's `k−1` thresholds
   * (the frame is group-cardinality-sized — languages, domains — so it
   * broadcasts), a broadcast LEFT join lands them back, and bin assignment
   * is the same codegen-friendly sum-of-`when`s projection. The corpus
   * never shuffles. Exact `percentile` buffers each group's values per
   * partition — at the 100 TB scale pass `approx = true`
   * (`percentile_approx`, constant memory, the [[groupQuantileFilter]]
   * trade).
   */
  def groupQuantileBins(df: DataFrame, groupCol: String, valueCol: String, k: Int,
      binCol: String = "bin", approx: Boolean = false): DataFrame = {
    val thr = freshName(df.columns.toSet, "__gqthr")
    val (thresholds, bin) = thresholdBin(col(valueCol), k, thr, approx)
    df.join(broadcast(df.groupBy(col(groupCol)).agg(thresholds)), Seq(groupCol), "left")
      .withColumn(binCol, bin)
      .drop(thr)
  }

  /**
   * Temperature-based mixture sampling — the multilingual/multi-domain
   * re-balancing rule from the XLM/mT5 line of work: sample domain `d` with
   * probability `p_d ∝ n_d^α`, flattening the natural distribution so
   * low-resource domains are up-weighted relative to their share (α = 1
   * keeps natural proportions, α → 0 approaches uniform). Given a total row
   * `budget`, each domain's keep rate is
   * `min(1, budget · p_d / n_d)` — rates > 1 clamp (a tiny domain can't
   * supply more than itself; the realized total then lands slightly under
   * budget, the standard behavior).
   *
   * Selection is the deterministic [[idHash]] permille-style filter, so the
   * sample is reproducible, engine-portable, and composable like every
   * operator here. Plan: one grouped count (domain cardinality — languages/
   * sources — so the counts frame is tiny), the normalizer as a one-row
   * broadcast, then a pure per-row filter: the corpus itself never
   * shuffles.
   *
   * α = 0.5 (the common temperature √-flatten) is computed via `sqrt` —
   * correctly rounded per IEEE-754, so any engine derives bit-identical
   * rates; other α use `pow` (documented ≤ 1 ulp, which an oracle on
   * another libm may round differently at the keep boundary — immaterial
   * for sampling, but the gate pins α = 0.5 for exactness).
   */
  def temperatureSample(df: DataFrame, domainCol: String, idCol: String,
      alpha: Double, budget: Long): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha out of range (0,1]: $alpha")
    require(budget > 0, s"budget must be positive: $budget")
    val nD = col("__n").cast("double")
    val wExpr = if (alpha == 0.5) sqrt(nD) else pow(nD, lit(alpha))
    val rate = freshName(df.columns.toSet, "__rate")
    val counts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("__n"))
      .withColumn("__w", wExpr)
    val norm = counts.agg(sum(col("__w")).as("__s"))
    val rates = counts.crossJoin(broadcast(norm))
      .select(col(domainCol),
        least(lit(1.0), (lit(budget.toDouble) * col("__w")) / (col("__s") * nD))
          .as(rate))
    df.join(broadcast(rates), Seq(domainCol))
      .filter(ppm(col(idCol)).cast("double") < col(rate) * 1000000.0)
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  /**
   * Weighted sampling WITHOUT replacement, exactly `k` rows (Efraimidis &
   * Spirakis 2006): each row draws key `ln(u)/w` from its deterministic
   * hash-uniform `u ∈ (0,1)` and the `k` LARGEST keys win — the classic
   * one-pass weighted reservoir, here rank-ordered so it is deterministic
   * and engine-portable like every sampler in this module.
   * [[weightedFraction]] keeps each row independently (output SIZE is
   * binomial); this returns exactly `k` — the "pick exactly 10 k docs,
   * quality-proportional" curation call, where inclusion odds scale with
   * `weightCol` but the budget is firm.
   *
   * Determinism contract (mirrored in the SQL twin): `u = (idHash(id) mod
   * 10^6 + 0.5) / 10^6` (the +0.5 keeps u strictly inside (0,1) — ln(0)
   * is −∞), key = `ln(u)/w`, ranking by `round(key, 9)` descending then
   * id ascending — ROUNDED ranking because `ln` differs across libms in
   * ulps and a cutoff tie would otherwise make the selected SET
   * engine-dependent ([[graft.ext.TextAnalysis.bm25]]'s cutoff rule).
   * Rows with NULL, NaN, zero, or negative weight are excluded (they have
   * no sampling odds — and NaN needs saying: Spark and DuckDB both order
   * NaN ABOVE every number, so `> 0` alone would let a NaN weight through
   * to a NaN key); NULL ids have no hash and are excluded with them.
   *
   * Scale shape: one per-row projection + Spark's TakeOrdered top-k
   * (per-partition heaps) — no global sort, no shuffle beyond the k-row
   * result. Returns the input columns unchanged.
   */
  def weightedSampleK(df: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val key = freshName(df.columns.toSet, "__eskey")
    val u = (ppm(col(idCol)) + lit(0.5)) / lit(1000000.0)
    df.filter(col(idCol).isNotNull && col(weightCol).cast("double") > 0.0 &&
        !isnan(col(weightCol).cast("double")))
      .withColumn(key, round(log(u) / col(weightCol).cast("double"), 9))
      .orderBy(col(key).desc, col(idCol).asc)
      .limit(k)
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  /**
   * Deterministic global corpus shuffle with strided shard assignment —
   * the "shuffle the corpus once, then stream shards in order" step every
   * pre-training run performs before sequence packing (gradient quality
   * degrades measurably when adjacent training examples correlate; a
   * corpus sorted by crawl source or URL is maximally correlated). Rows
   * are permuted by `(idHash("<id>:<seed>"), id)` — a total order, so the
   * SAME permutation materializes on any engine, any partitioning, any
   * run; `df.orderBy(rand())` would re-deal per run and per retry, making
   * a resumed training job see a different epoch order than the one it
   * checkpointed under.
   *
   * Output adds `shard = ordinal % numShards` and `pos_in_shard =
   * ordinal / numShards`. Strided (mod) rather than block (div) striping
   * so shard sizes balance to within one row even when `n % numShards ≠ 0`
   * — with block striping the last shard runs short, and data loaders that
   * zip shards round-robin starve early. Each shard is itself a uniform
   * hash-ordered slice of the corpus, so any shard prefix is an unbiased
   * corpus sample (the property epoch-partial training relies on).
   *
   * Scale shape: the permutation is [[graft.ops.Ops.globalOrdinals]] — a
   * range-partitioned distributed sort on the hash, never an
   * `Exchange SinglePartition` — and shard/pos are pure per-row
   * projections on the ordinal. Writing shards afterwards is
   * `.repartition(col("shard"))` + the [[graft.io.Export]] sinks; within
   * a shard, `pos_in_shard` IS the read order. EAGER like
   * `globalOrdinals` (two ordinal jobs at call time).
   *
   * `idCol` must be unique and non-NULL (the usual doc-id contract): NULL
   * hashes and duplicate ids would leave `(hash, id)` a partial order and
   * the assignment partition-boundary-dependent; `globalOrdinals`' total-
   * order requirement is load-bearing here.
   */
  def shuffleToShards(df: DataFrame, idCol: String, numShards: Int,
      seed: Long = 0L, numParts: Int = 32): DataFrame = {
    require(numShards > 0, s"numShards must be positive: $numShards")
    val h = freshName(df.columns.toSet, "__shufhash")
    val ord = freshName(df.columns.toSet, "__shuford")
    val hashed = df.withColumn(h,
      idHash(concat(col(idCol).cast("string"), lit(":"), lit(seed.toString))))
    graft.ops.Ops.globalOrdinals(hashed, Seq(col(h).asc, col(idCol).asc),
        numParts, ord)
      .select(df.columns.toIndexedSeq.map(col) :+
        (col(ord) % numShards).as("shard") :+
        // `div`, not `/`: Column./ is floating division (a Double column),
        // and past 2^53 rows doubles stop holding exact ordinals
        expr(s"`$ord` div $numShards").as("pos_in_shard"): _*)
  }

  /**
   * UniMax language-budget allocation (Chung et al. 2023): spread a total
   * training budget of `budget` document units across languages as
   * UNIFORMLY as possible, capping every language at `maxEpochs` passes
   * over its corpus — the multilingual mixing rule that replaced
   * temperature sampling for mT5-class pretraining (temperature still
   * over-samples head languages and epoch-starves the tail; UniMax gives
   * every language the same budget unless its cap binds first).
   *
   * The paper's greedy waterfall (ascending by capacity, each language
   * takes `min(cap, remaining/langs_left)`) has a closed form because
   * capacity is sorted ascending: a language takes its FULL capacity
   * `c_r = n_r · maxEpochs` iff `c_r · (L − r) ≤ B − P_r` (with `P_r` the
   * running capacity sum and `r` its 1-based rank) — and that predicate is
   * a PREFIX property (if rank r fails, every later rank fails too, since
   * later capacities are ≥ and the residual shrinks by exactly one share
   * per row). Everything after the prefix sits at the common waterline
   * `(B − P_{k*}) / (L − k*)` where `k*` is the prefix length. So the
   * whole allocation is four window functions over the LANGUAGE-cardinality
   * frame (rank, running sum, and two whole-frame sums) — bounded metadata
   * (≤ a few hundred rows for any real corpus), never a corpus-sized
   * exchange; the per-language counts are one map-side-combined `groupBy`.
   *
   * Output: `(lang, n_docs, capacity, alloc_docs, epochs)` — `alloc_docs`
   * the budget share in document units, `epochs = alloc/n` the per-language
   * pass count a sampler (e.g. [[repeatToBudget]]) executes; doubles
   * rounded at 6. NULL group keys are excluded (no language, no budget
   * line). A language can never exceed `maxEpochs` and the allocation
   * total is exactly `min(budget, Σ capacity)` up to float addition.
   */
  def unimaxAllocation(df: DataFrame, langCol: String, budget: Double,
      maxEpochs: Double): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    require(maxEpochs > 0, s"maxEpochs must be positive: $maxEpochs")
    val counts = df.filter(col(langCol).isNotNull)
      .groupBy(col(langCol)).agg(count(lit(1)).as("n_docs"))
      .withColumn("__cap", col("n_docs").cast("double") * lit(maxEpochs))
    // ascending capacity with the lang tiebreak is the waterfall's total
    // order; all four analytics share one ≤L-row window frame
    val byCap = Window.orderBy(col("__cap").asc, col(langCol).asc)
    val whole = byCap.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val staged = counts
      .withColumn("__r", row_number().over(byCap))
      .withColumn("__p", sum(col("__cap")).over(byCap))
      .withColumn("__l", count(lit(1)).over(whole))
      .withColumn("__fits",
        col("__cap") * (col("__l") - col("__r")) <= lit(budget) - col("__p"))
      .withColumn("__k", sum(when(col("__fits"), 1L).otherwise(0L)).over(whole))
      .withColumn("__pk",
        sum(when(col("__fits"), col("__cap")).otherwise(0.0)).over(whole))
    val alloc = when(col("__fits"), col("__cap"))
      .otherwise((lit(budget) - col("__pk")) /
        (col("__l") - col("__k")).cast("double"))
    staged.select(col(langCol), col("n_docs"),
      round(col("__cap"), 6).as("capacity"),
      round(alloc, 6).as("alloc_docs"),
      round(alloc / col("n_docs").cast("double"), 6).as("epochs"))
  }
}
