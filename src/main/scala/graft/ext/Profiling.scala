package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Dataset profiling (SURVEY.md §2.12) — the QA pass a training-data pipeline
 * runs before and after every transformation: per-column row/null/distinct
 * counts in long format, ONE aggregation pass over the data regardless of
 * column count (every metric is a partial-aggregable expression in a single
 * `agg`, reshaped to long rows afterward with a typed explode). No driver-side
 * state; the single-row wide aggregate is the only thing that leaves the
 * executors.
 */
object Profiling {

  /** Exact-name column reference: backtick-quoted with embedded backticks
    * doubled, so names containing dots, quotes, or backticks resolve as the
    * single column the existence check validated — never as a parsed path or
    * a malformed expression. */
  private def exact(c: String): Column =
    col("`" + c.replace("`", "``") + "`")

  /** Per-column profile: `(col_name, n_rows, n_nulls, n_distinct)` — one row
    * per requested column. `n_nulls = count(*) − count(col)` so every metric
    * stays a plain BIGINT count in any engine; `n_distinct` is exact
    * (null excluded, matching SQL `count(DISTINCT col)`). The long reshape is
    * typed (array-of-struct + explode) with index-keyed internal aliases, so
    * no user-supplied name is ever spliced into SQL text. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val bad = cols.filterNot(df.columns.toSet)
    require(bad.isEmpty, s"profile: no such columns: ${bad.mkString(", ")}")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) => Seq(
      count(exact(c)).as(s"__nn_$i"),
      countDistinct(exact(c)).as(s"__nd_$i")) }
    val wide = df.agg(count(lit(1)).as("__rows"), aggs: _*)
    val rows = cols.zipWithIndex.map { case (c, i) =>
      struct(lit(c).as("col_name"), col("__rows").as("n_rows"),
        (col("__rows") - col(s"__nn_$i")).as("n_nulls"),
        col(s"__nd_$i").as("n_distinct")) }
    wide.select(explode(array(rows: _*)).as("__r")).select("__r.*")
  }

  /**
   * Equi-width histogram of a numeric column: `bins` buckets over the
   * observed `[min, max]`, one row per non-empty bucket as
   * `(bin, bin_lo, bin_hi, n)`. Two passes: a scalar min/max aggregation
   * (driver-side bounds, not data) then ONE grouped count on the computed
   * bin — the shuffle moves at most `bins` partial counts per partition.
   * The top edge closes (`x = max` lands in the last bin); a constant
   * column yields a single bucket. NULLs and NaNs are excluded (nulls are
   * a [[profile]] metric, not a histogram value; a NaN would poison
   * `max()` into NaN-width bins since Spark sorts NaN above every double).
   *
   * NB the bounds aggregation runs EAGERLY at construction time (the bin
   * width must be a literal for the grouped count to stay one codegen'd
   * pass) — building this DataFrame costs a min/max scan even if the plan
   * is never executed. Plan-only consumers should not build histograms.
   */
  def histogram(df: DataFrame, valueCol: String, bins: Int): DataFrame = {
    require(bins > 0, s"bins must be positive: $bins")
    require(df.columns.contains(valueCol), s"histogram: no such column: $valueCol")
    require(df.schema(valueCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"histogram: $valueCol must be numeric, is ${df.schema(valueCol).dataType}")
    val v = exact(valueCol).cast("double")
    val clean = df.filter(v.isNotNull && !isnan(v))
    // all-null / empty input: no rows to bin, no buckets
    val (lo, w) = equiWidth(clean, v, bins).getOrElse((0.0, 1.0))
    clean
      .select(equiWidthBin(v, lo, w, bins).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .select(col("bin"), (lit(lo) + col("bin") * lit(w)).as("bin_lo"),
        (lit(lo) + (col("bin") + 1) * lit(w)).as("bin_hi"), col("n"))
  }

  /**
   * Population-stability-index drift between two corpus snapshots — the
   * monitoring signal of a recurring-ingest pipeline ("did this crawl's
   * score/length/quality distribution move?"; PSI is the standard
   * credit-scoring drift measure, > 0.2 conventionally "significant").
   *
   * Contract (spelled identically in the SQL oracle): bin edges are
   * equi-width over the REFERENCE's observed [min, max] (degenerate range
   * ⇒ width 1), both sides clamp out-of-range values into the edge bins
   * (standard PSI practice — new mass outside the reference range shows
   * up as edge-bin drift, never disappears), NULL/NaN excluded, and
   * per-bin shares are smoothed as `(count + 0.5) / (n + 0.5·bins)`
   * (Laplace-style, so an empty bin contributes finitely). Returns one
   * row per bin: `(bin, p_ref, p_cur, psi_contrib)` with
   * `psi_contrib = (p_ref − p_cur)·ln(p_ref/p_cur)`; `sum(psi_contrib)`
   * is the PSI.
   *
   * Plan: one eager min/max on the reference (literal edges keep the
   * grouped counts codegen'd, the [[histogram]] trade), one grouped count
   * per side, both joined onto a `bins`-row spine — every corpus-sized
   * frame moves through exactly one aggregation; totals ride as one
   * broadcast row each.
   */
  def psiDrift(ref: DataFrame, cur: DataFrame, valueCol: String, bins: Int): DataFrame = {
    require(bins >= 2, s"need at least 2 bins: $bins")
    def clean(df: DataFrame) = {
      val v = col(valueCol).cast("double")
      // ±Infinity excluded alongside NaN: an infinite value would land in
      // an edge bin here but error/diverge in integer-cast engines (the
      // floor result overflows int before the clamp) — non-finite inputs
      // are drift of a kind PSI's binning cannot represent either way
      df.filter(v.isNotNull && !isnan(v) && abs(v) =!= lit(Double.PositiveInfinity))
        .select(v.as("__v"))
    }
    val (r, c) = (clean(ref), clean(cur))
    val edges = equiWidth(r, col("__v"), bins)
    require(edges.nonEmpty, s"psiDrift: reference has no non-null '$valueCol' values")
    val (lo, w) = edges.get
    def counts(df: DataFrame, name: String) = df
      .select(equiWidthBin(col("__v"), lo, w, bins).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as(name))
    val spine = ref.sparkSession.range(bins).select(col("id").cast("int").as("bin"))
    val nr = r.agg(count(lit(1)).as("__nr"))
    val nc = c.agg(count(lit(1)).as("__nc"))
    val p = (col("__cr") + lit(0.5)) / (col("__nr") + lit(0.5 * bins))
    val q = (col("__cc") + lit(0.5)) / (col("__nc") + lit(0.5 * bins))
    spine.join(counts(r, "__cr"), Seq("bin"), "left_outer")
      .join(counts(c, "__cc"), Seq("bin"), "left_outer")
      .na.fill(0L, Seq("__cr", "__cc"))
      .crossJoin(broadcast(nr)).crossJoin(broadcast(nc))
      .select(col("bin"), p.as("p_ref"), q.as("p_cur"),
        ((p - q) * log(p / q)).as("psi_contrib"))
  }

  /** Equi-width bin edges of [[histogram]] and [[psiDrift]]: `(lo, w)`
    * over the observed `[min, max]` of `v` in `df`, with width
    * `(hi − lo)/bins` (a degenerate range ⇒ width 1); `None` when `df` has
    * no non-null `v`. The min/max runs EAGERLY: literal edges keep the
    * grouped count one codegen'd pass. */
  private def equiWidth(df: DataFrame, v: Column, bins: Int): Option[(Double, Double)] = {
    val mm = df.agg(min(v), max(v)).head()
    if (mm.isNullAt(0)) None else {
      val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
      Some((lo, if (hi > lo) (hi - lo) / bins else 1.0))
    }
  }

  /** The equi-width bin of `x`: `floor((x − lo)/w)` clamped into
    * `[0, bins−1]` — the top edge closes (`x = max` lands in the last bin)
    * and out-of-range values land in the edge bins. [[histogram]] bins the
    * frame its edges came from, so only its upper clamp can bind. */
  private def equiWidthBin(x: Column, lo: Double, w: Double, bins: Int): Column =
    greatest(lit(0), least(lit(bins - 1), floor((x - lit(lo)) / lit(w)))).cast("int")

  /**
   * Robust outlier detection via the modified z-score (Iglewicz & Hoaglin
   * 1993): per group, `robust_z = 0.6745·(x − median) / MAD` with
   * `MAD = median(|x − median|)`, flagging rows where `|robust_z| > k`
   * (their recommended k = 3.5). The profiling pass mean/stddev z-scores
   * cannot be: on the heavy-tailed value distributions training corpora
   * actually have, the outliers themselves inflate the stddev until
   * nothing is three sigmas out (masking), while the median/MAD pair has
   * a 50% breakdown point — the standard anomaly screen between ingest
   * and aggregation.
   *
   * Returns the flagged rows as `keyCols :+ (idCols…) :+ value :+
   * robust_z` — the caller picks which identifying columns ride along.
   * Groups whose MAD is zero (a majority-constant column) are excluded:
   * every deviation there is infinitely many MADs out, which is a
   * data-shape report ([[profile]]'s n_distinct), not a per-row score.
   * NULL and NaN values never flag (NaN comparisons are false).
   *
   * Plan: two grouped aggregations on the key (exact `percentile`, whose
   * per-group value-count map is bounded by VALUE CARDINALITY — fine for
   * the fixed-precision measures this targets; unbounded-cardinality
   * doubles at 100 TB should screen with `approx_percentile` instead)
   * plus two broadcast joins of the tiny per-group median/MAD tables back
   * onto the corpus — the corpus itself never shuffles, and the filter
   * stays one codegen'd projection over the scan.
   */
  def madOutliers(df: DataFrame, keyCols: Seq[String], valueCol: String,
      carryCols: Seq[String] = Nil, k: Double = 3.5): DataFrame = {
    require(k > 0.0, s"k must be positive: $k")
    require(keyCols.nonEmpty, "madOutliers needs at least one group column")
    val v = exact(valueCol).cast("double")
    val keys = keyCols.map(exact)
    val med = df.groupBy(keys: _*)
      .agg(Sampling.percentileOf(exact(valueCol), lit(0.5)).as("__med"))
    val dev = df.join(broadcast(med), keyCols)
      .withColumn("__dev", abs(v - col("__med")))
    val mad = dev.groupBy(keys: _*)
      .agg(Sampling.percentileOf(col("__dev"), lit(0.5)).as("__mad"))
    val z = lit(0.6745) * (v - col("__med")) / col("__mad")
    dev.join(broadcast(mad.filter(col("__mad") > 0.0)), keyCols)
      .withColumn("__z", z)
      .filter(abs(col("__z")) > lit(k))
      .select((keyCols ++ carryCols).map(exact) ++
        Seq(exact(valueCol), col("__z").as("robust_z")): _*)
  }

  /** Sketch-based profile for scales where exact `count(DISTINCT)` /
    * `percentile` are infeasible: HyperLogLog++ distinct estimates per key
    * column and approximate percentiles per numeric column, one aggregation
    * pass, constant memory per sketch (HLL ~1.5 KB at 2% rsd; the quantile
    * summary is bounded by `accuracy`). At 100 TB this runs where the exact
    * variants would shuffle every distinct value; estimates are spec-pinned
    * against the exact answers on fixtures (`ProfilingSpec`), not
    * oracle-gated — approximate output has no bit-stable cross-engine form.
    *
    * `rsd` is the HLL target relative standard deviation; `accuracy` the
    * `approx_percentile` inverse-epsilon (10000 → ±0.01% rank error). */
  def approxProfile(df: DataFrame, keyCols: Seq[String], numCols: Seq[String],
      rsd: Double = 0.02, accuracy: Int = 10000): DataFrame = {
    require(keyCols.nonEmpty || numCols.nonEmpty, "approxProfile needs at least one column")
    val bad = (keyCols ++ numCols).filterNot(df.columns.toSet)
    require(bad.isEmpty, s"approxProfile: no such columns: ${bad.mkString(", ")}")
    val aggs =
      keyCols.zipWithIndex.map { case (c, i) =>
        approx_count_distinct(exact(c), rsd).as(s"__ad_$i") } ++
      numCols.zipWithIndex.flatMap { case (c, i) => Seq(
        percentile_approx(exact(c), lit(0.5), lit(accuracy)).cast("double").as(s"__p50_$i"),
        percentile_approx(exact(c), lit(0.99), lit(accuracy)).cast("double").as(s"__p99_$i")) }
    val wide = df.agg(count(lit(1)).as("__rows"), aggs: _*)
    val rows =
      keyCols.zipWithIndex.map { case (c, i) =>
        struct(lit(c).as("col_name"), col("__rows").as("n_rows"),
          col(s"__ad_$i").as("approx_distinct"),
          lit(null).cast("double").as("approx_p50"),
          lit(null).cast("double").as("approx_p99")) } ++
      numCols.zipWithIndex.map { case (c, i) =>
        struct(lit(c).as("col_name"), col("__rows").as("n_rows"),
          lit(null).cast("bigint").as("approx_distinct"),
          col(s"__p50_$i").as("approx_p50"), col(s"__p99_$i").as("approx_p99")) }
    wide.select(explode(array(rows: _*)).as("__r")).select("__r.*")
  }

  /**
   * Count–min sketch (Cormode & Muthukrishnan 2005) over a token column —
   * the mergeable constant-memory frequency estimator that answers "how
   * often does term X occur" over a corpus too large to hold an exact
   * term-count table per shard: `depth` hash rows × `width` buckets of
   * simple counters, estimate = the MINIMUM of a term's `depth` bucket
   * counters (never an underestimate; overestimates bounded by collision
   * mass ~N/width per row, and taking the min across independent rows
   * drives the error to the ε–δ guarantee).
   *
   * Distributive by construction: the sketch of a union is the cell-wise
   * SUM of the shard sketches — Spark's partial aggregation IS the merge,
   * one `groupBy(row, bucket)` with map-side combine, and the result is
   * `depth × width` rows regardless of corpus size. Each term pays ONE
   * portable [[Sampling.idHash]] (md5 is the per-row cost that matters —
   * depth independent hashes measurably tripled the gate); the `depth`
   * row functions are affine derivations of that hash,
   * `bucket_i = ((h mod 2^31−1) · (2i+1) + i) mod width` — weaker than
   * pairwise-independent hashes in theory, standard in practice, and the
   * `mod 2^31−1` pre-reduction keeps every product far from BIGINT
   * overflow (Spark would silently wrap where DuckDB raises — the mirror
   * must never reach either behavior).
   *
   * Output: `(row, bucket, cnt)` — only OCCUPIED cells (absent cell ≡ 0,
   * the sparse convention; estimates joining the sketch must
   * `coalesce(cnt, 0)`). NULL tokens carry no frequency and are excluded.
   */
  def cmsSketch(tokens: DataFrame, tokenCol: String,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1, s"depth must be >= 1: $depth")
    require(width >= 2, s"width must be >= 2: $width")
    cmsCells(tokens.select(col(tokenCol).as("__t")).filter(col("__t").isNotNull),
        depth, width)
      .groupBy(col("row"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The `depth` count-min cells of each `__t` token in `df`: one row per
    * (token, sketch row) carrying `df`'s columns plus `row` and
    * `bucket = ((h mod 2^31−1) · (2·row+1) + row) mod width` — the cell rule
    * [[cmsSketch]] counts and [[probeTop]] looks up. The hash is projected
    * BEFORE the row explode, so each token pays one md5. */
  private def cmsCells(df: DataFrame, depth: Int, width: Int): DataFrame =
    df.withColumn("__h", Sampling.idHash(col("__t")) % 2147483647L)
      .withColumn("row", explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("bucket", (col("__h") * (col("row") * 2 + 1) + col("row")) % width)

  /**
   * The CMS accuracy probe: exact top-`topK` terms by `(count desc, term)`
   * joined with their sketch estimates — the gate-able demonstration that
   * the sketch's min-of-rows estimate dominates the exact count (a CMS
   * never undercounts) while staying within the collision-mass bound. The
   * exact count table exists only for the probe's `topK` terms (TakeOrdered
   * heap); production callers keep just the [[cmsSketch]] artifact. The
   * estimate join explodes the `topK × depth` probe rows (bounded) against
   * the sketch and takes the per-term min.
   */
  def cmsHeavyHitters(docs: DataFrame, textCol: String,
      depth: Int = 4, width: Int = 1024, topK: Int = 30): DataFrame = {
    val tok = Caches.track(
      docs.select(explode(TextAnalysis.tokens(col(textCol))).as("__t")))
    probeTop(tok, cmsSketch(tok, "__t", depth, width), depth, width, topK)
  }

  /** [[cmsHeavyHitters]] against a PREBUILT sketch (e.g. one merged
    * cell-wise from shard or micro-batch sketches — the merge is a plain
    * `groupBy(row, bucket).sum(cnt)` because the sketch is distributive):
    * exact top-`topK` terms of `docs` joined with their estimates from
    * `sketch`. The sketch must have been built with the same
    * `depth`/`width`. */
  def cmsProbe(docs: DataFrame, textCol: String, sketch: DataFrame,
      depth: Int = 4, width: Int = 1024, topK: Int = 30): DataFrame =
    probeTop(docs.select(explode(TextAnalysis.tokens(col(textCol))).as("__t")),
      sketch, depth, width, topK)

  private def probeTop(tok: DataFrame, sketch: DataFrame,
      depth: Int, width: Int, topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1: $topK")
    val top = tok.groupBy(col("__t")).agg(count(lit(1)).as("exact_count"))
      .orderBy(col("exact_count").desc, col("__t").asc).limit(topK)
    // LEFT join + coalesce: the sketch is sparse (absent cell ≡ 0), and a
    // probed term the sketched corpus never saw must estimate 0 over its
    // empty cells — an inner join would drop it (all cells empty) or min
    // over only the collision-occupied subset (a wrong overestimate)
    cmsCells(top, depth, width)
      .join(sketch, Seq("row", "bucket"), "left_outer")
      .groupBy(col("__t").as("token"), col("exact_count"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_estimate"))
  }

  /**
   * One-row corpus data card — the summary block of a dataset card
   * (Gebru et al. 2021's datasheets; every public corpus release ships
   * one): document/null counts, language and source cardinalities, token
   * and character mass, mean document length, the short-document fraction,
   * and the exact-duplicate rate by content fingerprint. One aggregation
   * pass over the corpus (the count-distincts expand the pass by a
   * constant factor — a card is computed once per release, not per query);
   * every emitted number is an exact integer or an exact
   * integer-over-integer division, so the card is bit-identical across
   * engines with no rounding contract.
   *
   * NULL-text documents count toward `n_docs`/`n_null_text` but contribute
   * no tokens, no fingerprint, and are excluded from the per-document
   * denominators (a document with no text has no length to average).
   */
  def corpusCard(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", langCol: String = "lang",
      sourceCol: String = "source", minTokens: Int = 30): DataFrame = {
    require(minTokens >= 1, s"minTokens must be >= 1: $minTokens")
    val t = col(textCol)
    val nt = when(t.isNotNull, size(TextAnalysis.tokens(t)))
    val staged = docs.select(t.as("__t"), nt.as("__nt"),
      col(langCol).as("__lang"), col(sourceCol).as("__src"),
      graft.ext.Dedup.contentFingerprint(t).as("__fp"))
    val agg = staged.agg(
      count(lit(1)).as("n_docs"),
      (count(lit(1)) - count(col("__t"))).as("n_null_text"),
      countDistinct(col("__lang")).as("n_langs"),
      countDistinct(col("__src")).as("n_sources"),
      sum(col("__nt").cast("long")).as("total_tokens"),
      sum(length(col("__t")).cast("long")).as("total_chars"),
      sum(when(col("__nt") < minTokens, 1L).otherwise(0L)).as("n_short"),
      countDistinct(col("__fp")).as("n_distinct_fingerprints"))
    val nText = (col("n_docs") - col("n_null_text")).cast("double")
    agg.select(col("*"),
      (col("total_tokens").cast("double") / nText).as("mean_tokens"),
      (col("n_short").cast("double") / nText).as("short_frac"),
      ((col("n_docs") - col("n_null_text") - col("n_distinct_fingerprints"))
        .cast("double") / nText).as("dup_frac"))
  }

  /**
   * Zipf's-law fit over the corpus token-frequency distribution — the
   * classic one-number corpus diagnostic (Zipf 1949; Piantadosi 2014
   * surveys why natural text sits near slope −1): OLS of `ln(frequency)`
   * on `ln(rank)` over the `topRanks` most frequent whitespace tokens.
   * Outputs ONE row `(n_ranks, zipf_slope, zipf_intercept, zipf_r2)`.
   * A healthy natural-language corpus fits slope ≈ −1 with high R²;
   * boilerplate-heavy or template-generated corpora flatten the head
   * (slope → 0) or break linearity (R² drops) — which makes the fit a
   * cheap drift/quality tripwire next to [[psiDrift]].
   *
   * Scale shape: the token count is one map-side-combined `groupBy`
   * (vocabulary-sized output at any corpus size); the top-`topRanks` cut
   * is a TakeOrdered heap (never a full sort); ranks are numbered over the
   * ≤`topRanks` bounded frame via `Ops.globalOrdinals` (the RRF-pool
   * convention — no corpus-sized single-partition exchange anywhere); the
   * fit reduces the ≤`topRanks` (x, y) points in one aggregation. The OLS
   * terms are EXPLICIT sums (`n·Σxy − Σx·Σy` over `n·Σx² − (Σx)²`) rather
   * than `regr_slope`, so the oracle mirrors the exact arithmetic shape —
   * engine-internal covariance updates never enter the comparison; ranks
   * and counts are exact integers so both engines take `ln` of identical
   * doubles, and the derived stats are rounded at 6 decimals (the
   * established ln/summation-order contract).
   */
  def zipfFit(docs: DataFrame, textCol: String = "text",
      topRanks: Int = 100): DataFrame = {
    require(topRanks >= 3, s"zipfFit needs >= 3 ranks for a fit: $topRanks")
    val cnt = TextAnalysis.tokenCounts(docs, textCol, "__c")
    val top = cnt.orderBy(col("__c").desc, col("__w").asc).limit(topRanks)
    val xy = graft.ops.Ops.globalOrdinals(top,
        Seq(col("__c").desc, col("__w").asc), 1, "__ord")
      .select(log((col("__ord") + 1L).cast("double")).as("__x"),
        log(col("__c").cast("double")).as("__y"))
    val s = xy.agg(count(lit(1)).as("__n"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum(col("__x") * col("__y")).as("__sxy"),
      sum(col("__x") * col("__x")).as("__sxx"),
      sum(col("__y") * col("__y")).as("__syy"))
    val n = col("__n").cast("double")
    val covn = n * col("__sxy") - col("__sx") * col("__sy")
    val varx = n * col("__sxx") - col("__sx") * col("__sx")
    val vary = n * col("__syy") - col("__sy") * col("__sy")
    // a degenerate head (all topRanks counts identical → varY = 0, or a
    // single rank → varX = 0) has no meaningful fit — fail loudly rather
    // than emit NaN/Infinity rows a downstream gate would hash
    val guarded = when(varx === 0.0 || vary === 0.0, raise_error(lit(
        "zipfFit: degenerate frequency head (zero rank or frequency " +
          "variance) — no Zipf fit exists")))
      .otherwise(covn / varx)
    s.select(col("__n").as("n_ranks"),
      round(guarded, 6).as("zipf_slope"),
      round((col("__sy") - (covn / varx) * col("__sx")) / n, 6)
        .as("zipf_intercept"),
      round((covn * covn) / (varx * vary), 6).as("zipf_r2"))
  }

  /**
   * Two-sample Kolmogorov–Smirnov statistic `D = max_v |F_A(v) − F_B(v)|`
   * between the value distributions of two row predicates — the
   * distribution-drift test with an actual decision theory behind it
   * (unlike [[psiDrift]]'s binned heuristic, KS is bin-free and its null
   * distribution is known), used to compare a new corpus snapshot's
   * feature against the reference before re-training on it.
   *
   * Exactness: both empirical CDFs step only at observed values, so D is
   * attained on the distinct-value grid — per grid point the CDFs are
   * exact integer-count divisions and the max/argmin are tie-free on
   * identically-computed doubles. One row out: `(n_a, n_b, ks_stat,
   * at_value)` with `at_value` the LOWEST value attaining the max.
   *
   * Scale contract: the cumulative pass runs over the DISTINCT-value
   * frame in one ordered window — value-cardinality-bounded, the
   * [[madOutliers]]/quantileNormalize posture. Continuous measures must
   * be pre-binned/quantized; `maxDistinct` refuses loudly (with the
   * pre-binning pointer) before a corpus-sized frame reaches the
   * single-task sort.
   */
  def ksStatistic(df: DataFrame, value: org.apache.spark.sql.Column,
      isA: org.apache.spark.sql.Column, isB: org.apache.spark.sql.Column,
      maxDistinct: Long = 1000000L): DataFrame = {
    require(maxDistinct >= 2, s"maxDistinct must be >= 2: $maxDistinct")
    val base = df.select(value.cast("double").as("__v"),
        when(isA, 1L).otherwise(0L).as("__a"),
        when(isB, 1L).otherwise(0L).as("__b"))
      .filter(col("__v").isNotNull && (col("__a") === 1 || col("__b") === 1))
    val g = Caches.track(base.groupBy("__v")
      .agg(sum("__a").as("__ca"), sum("__b").as("__cb")))
    val tot = broadcast(g.agg(sum("__ca").as("__na"), sum("__cb").as("__nb"),
      count(lit(1)).as("__nv")))
    val w = org.apache.spark.sql.expressions.Window.orderBy("__v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val d = Caches.track(g.crossJoin(tot)
      .filter(when(col("__nv") > maxDistinct, raise_error(lit(
        s"ksStatistic: more than $maxDistinct distinct values — the CDF " +
          "grid would single-task sort a corpus-sized frame; pre-bin or " +
          "quantize the measure first (quantileBins)")))
        .when(col("__na") === 0 || col("__nb") === 0, raise_error(lit(
          "ksStatistic: one sample is empty — no distribution to compare")))
        .otherwise(lit(true)))
      .withColumn("__d", abs(
        sum("__ca").over(w).cast("double") / col("__na").cast("double") -
          sum("__cb").over(w).cast("double") / col("__nb").cast("double"))))
    val mx = broadcast(d.agg(max("__d").as("__mx")))
    d.crossJoin(mx).filter(col("__d") === col("__mx"))
      .agg(max("__na").as("n_a"), max("__nb").as("n_b"),
        round(max("__mx"), 6).as("ks_stat"), min("__v").as("at_value"))
  }
}
