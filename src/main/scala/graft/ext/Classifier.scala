package graft.ext

import org.apache.spark.sql.{DataFrame, Encoder, Row}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/**
 * Distributed linear text classification without MLlib — the
 * quality-filter trainer of the LLM-data pipeline (the fastText-style
 * "does this look like reference text" scorer of CCNet/GPT-3-line
 * filtering, Joulin et al. 2016; hashing-trick features per Weinberger
 * et al. 2009): logistic regression by gradient descent where each
 * iteration is ONE distributed aggregation — full-batch Adagrad or
 * preconditioned Adam over deterministic mini-batch hash slices.
 *
 * Scale shape: the hashed feature frame is built once (token explode →
 * slot counts → dense `array<double>`, length-normalized) and cached;
 * per iteration the margin is a codegen'd `vector_dot` against the
 * BROADCAST weight literal, and the gradient is a `posexplode` +
 * per-slot sum — a `dim`-row aggregate, so the driver receives O(dim)
 * doubles per step regardless of corpus size (the classic
 * parameter-server-free batch GD layout). Weights update on the driver
 * in constant memory. Training is deterministic up to floating-point
 * partial-sum order (zero init, fixed rate and steps; mini-batch slices
 * are hash-selected, not RNG-drawn) — accuracy-level results are
 * partitioning-stable, pinned by spec.
 */
object Classifier {

  import org.apache.spark.sql.graftx.VectorFunctions.vec_dot

  /**
   * Hashing-trick bag-of-tokens features: every token lands in
   * `xxhash64(token) pmod dim`, counts are normalized by the document's
   * token count (so long docs don't dominate the margin), and slot
   * `dim` (one past the hashed range) carries the constant 1.0 bias.
   * Returns `(idCol, features array<double> of length dim+1)`.
   * Docs with NULL text produce no tokens and are absent (the `unnest`
   * convention shared with the rest of the text family).
   */
  def hashedFeatures(docs: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame = {
    require(dim > 0, s"dim must be positive: $dim")
    val tok = docs.select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("__w"))
    val slots = tok.groupBy(col(idCol), pmod(xxhash64(col("__w")), lit(dim.toLong)).as("__slot"))
      .agg(count(lit(1)).as("__c"))
    val n = slots.groupBy(col(idCol)).agg(sum(col("__c")).as("__n"))
    // dense vector assembled from the doc's sparse slot map; the transform
    // lambda runs once per doc at build time (the frame is cached by the
    // trainer), not in the per-iteration hot path
    slots.join(n, Seq(idCol))
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("__slot"),
        col("__c").cast("double") / col("__n").cast("double")))).as("__m"))
      .select(col(idCol), concat(
        transform(sequence(lit(0L), lit(dim.toLong - 1L)),
          i => coalesce(element_at(col("__m"), i), lit(0.0))),
        array(lit(1.0))).as("features"))
  }

  /** One trained model: weight vector (length dim+1, bias last) plus the
    * final training diagnostics. `optimizerUsed` records the path actually
    * taken (load-bearing under `optimizer = "auto"` — the routing spec pins
    * the crossover through it). */
  final case class Model(weights: Array[Double], trainAccuracy: Double,
      trainLogLoss: Double, steps: Int, optimizerUsed: String = "adagrad")

  /** `optimizer = "auto"` routes to Newton/IRLS at or below this feature
    * dimension. The crossover is DIM-driven, not corpus-size-driven — both
    * paths are linear in rows (each iteration is ONE distributed
    * aggregation; the sampled-adam slice floors at 250‰, so its ~42-step
    * schedule is ~10.5 full passes at any scale), so the trade is Newton's
    * O(dim²)/row gram against adam's O(dim)/row gradient × ~10.5/5 more
    * passes. Measured at 30× (150k rows, dim 129, 32 cores): Newton 24.3 s
    * vs auto-sampled adam 45.3 s — equal-cost extrapolates to dim ≈ 240;
    * 200 leaves margin. (The r19 verdict hypothesized a corpus-size
    * crossover; the 30× fork measurement refuted it — recorded in
    * BASELINE.md round 20.) */
  val NewtonAutoMaxDim: Int = 200

  /** Below this row count, per-step JOB overhead dominates either path, so
    * `auto` prefers Newton's ~7× fewer sequential barriers even at dims
    * past [[NewtonAutoMaxDim]] (still bounded by the gram's hard
    * `dim <= 2048` guard). */
  val NewtonSmallCorpusRows: Long = 20000L

  /** IRLS normal-equation accumulator (one Newton step of logistic
    * regression): given each row's current margin `m = w·x` and label, one
    * pass computes the weighted gram `X'WX` (full dim×dim, symmetric half
    * mirrored at finish) and `X'Wz` for the working response
    * `z = m + (y − p)/w_i`, `w_i = p(1−p)` clamped away from 0 — i.e.
    * `X'Wz = Σ (w_i·m + (y − p))·x`. From `w = 0` this degenerates to the
    * classic linearized least squares (`p = ½`, `t = 4(y − ½)`). O(dim²)
    * work per row and per merge buffer — which is why the Newton path is
    * bounded to moderate dims; the gradient path has no such bound. */
  private final class GramAggregator(dim: Int)
      extends Aggregator[(Seq[Double], Double, Double),
        (Array[Double], Array[Double], Long), (Seq[Double], Seq[Double], Long)] {
    override def zero: (Array[Double], Array[Double], Long) =
      (new Array[Double](dim * dim), new Array[Double](dim), 0L)
    override def reduce(b: (Array[Double], Array[Double], Long),
        v: (Seq[Double], Double, Double)): (Array[Double], Array[Double], Long) = {
      // one unboxing copy per row, then primitive access in the O(dim²)
      // inner loop — Seq apply there is boxed and megamorphic
      val x = new Array[Double](dim)
      v._1.copyToArray(x)
      val m = v._2
      val p = 1.0 / (1.0 + math.exp(-m))
      val wi = math.max(1e-6, p * (1.0 - p))
      val r = wi * m + (v._3 - p)
      var i = 0
      while (i < dim) {
        val xi = x(i)
        if (xi != 0.0) { // hashed features are sparse — skip zero slots
          b._2(i) += r * xi
          val wxi = wi * xi
          var j = i
          while (j < dim) { b._1(i * dim + j) += wxi * x(j); j += 1 }
        }
        i += 1
      }
      (b._1, b._2, b._3 + 1)
    }
    override def merge(a: (Array[Double], Array[Double], Long),
        b: (Array[Double], Array[Double], Long)): (Array[Double], Array[Double], Long) = {
      var i = 0
      while (i < dim * dim) { a._1(i) += b._1(i); i += 1 }
      i = 0
      while (i < dim) { a._2(i) += b._2(i); i += 1 }
      (a._1, a._2, a._3 + b._3)
    }
    override def finish(b: (Array[Double], Array[Double], Long)): (Seq[Double], Seq[Double], Long) = {
      // mirror the upper triangle down so the driver reads a full matrix
      var i = 1
      while (i < dim) {
        var j = 0
        while (j < i) { b._1(i * dim + j) = b._1(j * dim + i); j += 1 }
        i += 1
      }
      (b._1.toSeq, b._2.toSeq, b._3)
    }
    override def bufferEncoder: Encoder[(Array[Double], Array[Double], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Double], Array[Double], Long)]()
    override def outputEncoder: Encoder[(Seq[Double], Seq[Double], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Seq[Double], Seq[Double], Long)]()
  }

  /** Solve `A w = b` for symmetric positive-definite `A` (in-place
    * Cholesky, O(dim³) driver arithmetic — microseconds at warm-start
    * dims). `a` is row-major dim×dim and is CLOBBERED. */
  private def choleskySolve(a: Array[Double], b: Array[Double], dim: Int): Array[Double] = {
    var i = 0
    while (i < dim) {
      var j = 0
      while (j <= i) {
        var s = a(i * dim + j)
        var k = 0
        while (k < j) { s -= a(i * dim + k) * a(j * dim + k); k += 1 }
        if (i == j) {
          require(s > 0, s"warm-start gram not positive definite at $i (s=$s)")
          a(i * dim + i) = math.sqrt(s)
        } else a(i * dim + j) = s / a(j * dim + j)
        j += 1
      }
      i += 1
    }
    val y = new Array[Double](dim)
    i = 0
    while (i < dim) { // forward: L y = b
      var s = b(i)
      var k = 0
      while (k < i) { s -= a(i * dim + k) * y(k); k += 1 }
      y(i) = s / a(i * dim + i)
      i += 1
    }
    val w = new Array[Double](dim)
    i = dim - 1
    while (i >= 0) { // backward: L' w = y
      var s = y(i)
      var k = i + 1
      while (k < dim) { s -= a(k * dim + i) * w(k); k += 1 }
      w(i) = s / a(i * dim + i)
      i -= 1
    }
    w
  }

  /**
   * Logistic regression over `(features array<double>, labelCol ∈ {0,1})`,
   * with ADAGRAD per-coordinate step scaling (Duchi et al. 2011) — plain GD
   * stalls here because the feature scales are badly mixed
   * (length-normalized token slots ~1/n_tokens vs the 1.0 bias slot), and
   * Adagrad's `lr / √Σg²` equalizes them without any per-slot
   * standardization pass.
   *
   * Job shape: `steps` aggregation jobs total — `steps − 1` gradient
   * updates, then ONE final job whose gradient is discarded and whose FUSED
   * metrics columns (accuracy + clamped log-loss, computed in the same
   * grouped aggregate as the gradient — every group's `avg` over the batch
   * equals the batch metric, read from group 0) describe EXACTLY the
   * returned weights. Fusing removes the separate metrics pass the previous
   * layout paid, and because the metric columns ride every step's job the
   * plan shape — and therefore the one janino compile — is shared by all
   * steps. EAGER; the feature frame is cached for the duration.
   *
   * `samplePermille` = 0 means AUTO: target ~1000 rows per mini-batch
   * (`clamp(1e6 / nRows, 250, 1000)` permille), so small corpora train
   * full-batch and large ones sample — the knob the 0-config gate uses.
   * Any other `samplePermille` < 1000 switches gradient steps to MINI-BATCH over a
   * deterministic per-step hash slice (`xxhash64(features, step) pmod 1000 <
   * samplePermille` — the [[Sampling.hashFraction]] discipline keyed by the
   * feature vector itself, salted by step so successive steps see different
   * slices; reproducible on any cluster/partitioning, no RNG state). Each
   * sampled gradient normalizes by ITS OWN row count (read from the same
   * aggregate), and the final metrics job is ALWAYS full-batch — the
   * fastText-lineage shape that keeps a 100 TB corpus from paying
   * `steps` full passes. The step salt travels in the broadcast one-row
   * frame, NOT as a literal, so sampled steps also share one compiled plan.
   */
  def trainLogistic(data: DataFrame, labelCol: String, steps: Int,
      learningRate: Double, samplePermille: Int = 1000,
      optimizer: String = "adagrad"): Model = {
    require(steps > 0 && learningRate > 0, s"bad hyperparams: $steps, $learningRate")
    require(samplePermille >= 0 && samplePermille <= 1000,
      s"samplePermille must be in [0, 1000] (0 = auto): $samplePermille")
    require(optimizer == "adagrad" || optimizer == "adam" || optimizer == "newton"
        || optimizer == "auto",
      s"optimizer must be adagrad|adam|newton|auto: $optimizer")
    val spark = data.sparkSession
    import spark.implicits._
    // checkpoint, not cache: per-step plans embed the training frame's
    // logical tree, so with a plain cache every one of `steps` driver-side
    // re-plans re-analyzes the full feature-build lineage — bounded here,
    // but it grows with whatever pipeline feeds `data`. The checkpoint swaps
    // that tree for a leaf LogicalRDD (steps analyze a 4-node plan) and has
    // a REAL release path (Caches.unpersistAll; Dataset.unpersist on
    // checkpointed frames is a silent no-op).
    val full = Caches.trackCheckpoint(data.select(col("features"),
      col(labelCol).cast("double").as("__y")))
    // right-size the per-step task count to the DATA: the materialized frame
    // inherits the feature build's shuffle partitioning (32+), but a step
    // job over a small corpus then pays ~32 near-empty tasks × steps in
    // pure scheduling. coalesce reads the SAME blocks through fewer tasks
    // (no shuffle, no re-materialize); a 100 TB feature frame keeps its
    // parallelism because n/20k dominates the executor count there.
    val nRows = full.count()
    val pmEff = if (samplePermille == 0)
      math.min(1000L, math.max(250L, 1000000L / math.max(1L, nRows))).toInt
    else samplePermille
    // toRdd (the already-materialized internal RDD), NOT .rdd: the public
    // accessor plans a full InternalRow->Row deserializer (an extra codegen
    // compile) just to ask a partition count
    val fullParts = full.queryExecution.toRdd.getNumPartitions
    val targetParts = math.max(1L, math.min(nRows / 20000L + 1L,
      fullParts.toLong)).toInt
    val cached = if (targetParts < fullParts) full.coalesce(targetParts) else full
    val dim = cached.select(size(col("features"))).head().getInt(0)
    // "auto" routes on the MEASURED crossover (r19 verdict item 5, with the
    // hypothesis corrected by the 30× fork measurement — see
    // [[NewtonAutoMaxDim]]): Newton/IRLS at moderate dims or tiny corpora,
    // sampled-adam for high-dim hashing models (O(dim)/row — the 100 TB
    // path there). The caller's `steps` means Newton iterations; the adam
    // branch converts by the documented ~7 gradient-steps-per-Newton-step
    // equivalence (floor 40, the r16 production schedule).
    val resolved =
      if (optimizer != "auto") optimizer
      else if (dim <= NewtonAutoMaxDim || (nRows <= NewtonSmallCorpusRows && dim <= 2048))
        "newton"
      else "adam"
    val effSteps =
      if (optimizer == "auto" && resolved == "adam") math.max(40, steps * 7) else steps
    var w = new Array[Double](dim)
    val gsq = new Array[Double](dim)
    // weights (and the sampling salt) travel as a broadcast ONE-ROW FRAME,
    // not a literal: a fresh typedLit per step changes the generated source,
    // so every iteration would pay a full janino compile (measured: the
    // compile dominates the whole training). With the identical plan shape
    // each step, Spark's codegen cache compiles once and steps only pay the
    // (tiny) broadcast.
    def job(salt: Long, sampled: Boolean): Array[Row] = {
      val base = cached.crossJoin(broadcast(Seq((w.toSeq, salt)).toDF("__w", "__salt")))
      val sliced = if (sampled)
        base.filter(pmod(xxhash64(col("features"), col("__salt")), lit(1000L))
          < lit(pmEff.toLong))
      else base
      // p = σ(w·x) once per row, pre-explode; err/acc/loss derive from it
      sliced
        .withColumn("__p",
          lit(1.0) / (lit(1.0) + exp(-vec_dot(col("features"), col("__w")))))
        .withColumn("__err", col("__p") - col("__y"))
        .withColumn("__acc",
          when((col("__p") > 0.5) === (col("__y") > 0.5), 1.0).otherwise(0.0))
        // clamped log-loss (pure diagnostics; clamping only guards ln(0))
        .withColumn("__loss",
          -(col("__y") * log(greatest(lit(1e-12), col("__p")))
            + (lit(1.0) - col("__y")) * log(greatest(lit(1e-12), lit(1.0) - col("__p")))))
        .select(posexplode(col("features")).as(Seq("__j", "__x")),
          col("__err"), col("__acc"), col("__loss"))
        .groupBy(col("__j"))
        .agg(sum(col("__x") * col("__err")).as("__g"), count(lit(1)).as("__n"),
          avg(col("__acc")).as("__acc"), avg(col("__loss")).as("__loss"))
        .collect()
    }
    // NEWTON path (IRLS, the classic GLM fit): `steps − 1` Newton
    // iterations, each ONE distributed aggregation building the weighted
    // normal equations at the current weights (margins via the same
    // broadcast-one-row-frame trick as the gradient path, so all
    // iterations share one compiled plan), solved on the driver with a
    // scale-free ridge (λ = 1e-6·tr(X'WX)/dim — also what keeps separable
    // data from diverging). Quadratic convergence: ~5 iterations land
    // where the gradient path needs ~40 — the lever when per-step JOB
    // overhead dominates (small/medium corpora, or any corpus where 8×
    // fewer sequential barriers matters). The trade is O(dim²) work per
    // row, so the path requires moderate dims; high-dim hashing models
    // keep the O(dim)/row gradient path. `learningRate`/`samplePermille`
    // are unused here (full-batch, naturally-scaled Newton steps).
    if (resolved == "newton") {
      require(dim <= 2048,
        s"newton solves a dim² normal system — not for dim=$dim (> 2048); use adam")
      val gagg = udaf(new GramAggregator(dim))
      // Newton does O(dim²) work per ROW — unlike the O(dim)-per-row
      // gradient jobs the coalesce heuristic was sized for, the gram pass
      // wants the checkpoint's full parallelism (per-task buffers are one
      // dim² array each, merged once at the final agg)
      val gramFrame = full
      var it = 0
      while (it < steps - 1) {
        val g = gramFrame
          .crossJoin(broadcast(Seq(Tuple1(w.toSeq)).toDF("__w")))
          .withColumn("__m", vec_dot(col("features"), col("__w")))
          .select(gagg(col("features"), col("__m"), col("__y")).as("g"))
          .select(col("g._1"), col("g._2"), col("g._3")).head()
        val xtwx = g.getSeq[Double](0).toArray
        val xtwz = g.getSeq[Double](1).toArray
        require(g.getLong(2) > 0, "empty training frame: no feature rows")
        var tr = 0.0
        var i = 0
        while (i < dim) { tr += xtwx(i * dim + i); i += 1 }
        val lambda = math.max(1e-12, 1e-6 * tr / dim)
        i = 0
        while (i < dim) { xtwx(i * dim + i) += lambda; i += 1 }
        w = choleskySolve(xtwx, xtwz, dim)
        it += 1
      }
      val fin = job(steps.toLong, sampled = false)
      val m0 = fin.find(_.getInt(0) == 0).getOrElse(
        throw new IllegalStateException("empty training frame: no feature rows"))
      return Model(w, m0.getDouble(3), m0.getDouble(4), steps, "newton")
    }
    // Diagonal preconditioning for the adam path: training runs in the
    // IMPLICITLY standardized space x' = x / std (per-slot population std,
    // ONE extra aggregation job) without touching the distributed plan —
    // margin w·x is scale-invariant under (w, x) → (w·std, x/std), so the
    // driver just divides each incoming gradient by std_j, runs Adam in the
    // scaled space, and divides the update by std_j on the way back into
    // raw-space weights. In the scaled space every slot has unit variance,
    // so the separator's coordinates are O(1-10) instead of O(n_tokens) and
    // convergence stops being bound by the token-slot/bias scale gap
    // (standard GLM preprocessing, done as pure driver arithmetic).
    val precond: Array[Double] =
      if (resolved == "adam") {
        val s = new Array[Double](dim)
        cached.select(posexplode(col("features")).as(Seq("__j", "__x")))
          .groupBy(col("__j")).agg(stddev_pop(col("__x")).as("__s"))
          .collect().foreach { r: Row => s(r.getInt(0)) = r.getDouble(1) }
        s.map(v => if (v > 1e-9) v else 1.0) // constant slots (bias): no-op
      } else Array.fill(dim)(1.0)
    // Adam state (Kingma & Ba 2015, arXiv:1412.6980): bias-corrected first/
    // second moments move every coordinate ~learningRate per step regardless
    // of gradient SCALE — which is what the mixed-scale feature space needs
    // (the bias slot's x=1.0 vs token slots' ~1/n_tokens leaves Adagrad's
    // √Σg² displacement cap orders of magnitude apart per coordinate)
    val mom = new Array[Double](dim)
    val vel = new Array[Double](dim)
    val (b1, b2) = (0.9, 0.999)
    var step = 0
    while (step < effSteps - 1) {
      val rows = job(step.toLong, sampled = pmEff < 1000)
      val g = new Array[Double](dim)
      rows.foreach { r: Row =>
        g(r.getInt(0)) = r.getDouble(1) / math.max(1L, r.getLong(2)).toDouble
      }
      var j = 0
      while (j < dim) {
        if (resolved == "adam") {
          val gs = g(j) / precond(j) // gradient in the standardized space
          mom(j) = b1 * mom(j) + (1 - b1) * gs
          vel(j) = b2 * vel(j) + (1 - b2) * gs * gs
          val mh = mom(j) / (1 - math.pow(b1, step + 1))
          val vh = vel(j) / (1 - math.pow(b2, step + 1))
          w(j) -= learningRate * mh / ((math.sqrt(vh) + 1e-10) * precond(j))
        } else {
          gsq(j) += g(j) * g(j)
          if (gsq(j) > 0) w(j) -= learningRate * g(j) / math.sqrt(gsq(j) + 1e-10)
        }
        j += 1
      }
      step += 1
    }
    // final job: full-batch, gradient discarded — its metrics describe the
    // exact weights returned
    val fin = job(effSteps.toLong, sampled = false)
    val m0 = fin.find(_.getInt(0) == 0).getOrElse(
      throw new IllegalStateException("empty training frame: no feature rows"))
    Model(w, m0.getDouble(3), m0.getDouble(4), effSteps, resolved)
  }

  /** Score a corpus with a trained model: `(idCol, score)` where score =
    * `σ(w·x)` — one narrow codegen'd projection over the cached-or-fresh
    * feature frame; the weight vector broadcasts as a literal. */
  def score(features: DataFrame, model: Model, idCol: String): DataFrame = {
    val wLit = typedLit(model.weights.toSeq)
    features.select(col(idCol),
      (lit(1.0) / (lit(1.0) + exp(-vec_dot(col("features"), wLit)))).as("score"))
  }
}
