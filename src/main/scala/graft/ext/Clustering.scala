package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Distributed k-means clustering (Lloyd's algorithm) over an embedding
 * column — the cluster structure that powers cluster-balanced corpus
 * curation (SemDeDup-style pruning partitions the corpus with exactly this
 * before deduplicating inside clusters, and data-mixing recipes sample per
 * cluster to flatten topic skew).
 *
 * Unlike [[Similarity.trainCentroids]] (a bounded-sample quantizer private
 * to the IVF index), this is the full-corpus assignment operator: every
 * iteration is one distributed pass — a narrow codegen'd map for the
 * assignment (all k dot products from ONE `centroid_dots` call, the same
 * janino-safe expression the IVF path uses) and one partial-aggregating
 * `groupBy` for the recenter. Driver state is exactly the k×dim centroid
 * matrix (bounded metadata, independent of corpus size), so the shape holds
 * at any row count.
 *
 * Determinism contract (what makes the gate hash-exact): the k seed
 * centroids are the k lowest-id vectors; per-dimension means are rounded to
 * `scale` decimals before feeding the next round (so cross-engine
 * summation-order drift in `avg` cannot compound); assignment costs
 * `round(|c|^2 - 2*v.c, scale)` round BEFORE the argmin and break ties on
 * the lowest cluster id. An oracle that follows the same recipe (DuckDB:
 * chained CTEs, `list_dot_product`, `round(avg(..), scale)`) reproduces the
 * assignment bit-for-bit — the squared-norm/dot decomposition drops the
 * per-vector |v|^2 term, which is constant under the argmin.
 */
object Clustering {

  /** Argmin-cost cluster id for `v` against a literal centroid matrix:
    * cost_c = round(|c_c|^2 - 2 * v.c_c, scale), ties to the lowest c.
    * Linear-sized expression tree (array_position of the array_min), same
    * shape as the IVF list assignment. */
  private def costs(v: Column, cents: Array[Array[Double]], scale: Int): Column = {
    // |c|^2 computed left-to-right on the driver — the same sequential fold
    // DuckDB's list_sum applies, so the doubles agree bitwise
    val cc = cents.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      s
    }
    val dots = org.apache.spark.sql.graftx.VectorFunctions.centroid_dots(v, cents)
    zip_with(dots, array(cc.toSeq.map(lit(_)): _*),
      (d, q) => round(q - d * lit(2.0), scale))
  }

  private def assignment(v: Column, cents: Array[Array[Double]], scale: Int): Column = {
    val cs = costs(v, cents, scale)
    (array_position(cs, array_min(cs)) - 1).cast("int")
  }

  /**
   * Assign every row to one of `k` clusters after `iters` Lloyd rounds.
   * Output: (vec_id BIGINT, cluster BIGINT). Seeds = the `k` lowest-id
   * vectors (deterministic, mirrorable); empty clusters keep their previous
   * centroid. `iters = 0` gates pure seed-assignment.
   */
  def kmeansAssign(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, scale: Int = 6): DataFrame = {
    val (base, cents) = fitCentroids(corpus, idCol, vecCol, k, iters, scale)
    base.withColumn("cluster", assignment(col("v"), cents, scale))
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
  }

  /**
   * Supervised nearest-centroid classification (Rocchio): per-label mean
   * centroids, every vector re-assigned to its nearest label centroid —
   * the standard embedding-space QUALITY EVAL (how linearly separable are
   * the labels? which pairs confuse?), feeding the confusion-matrix gate.
   *
   * Determinism contract = [[kmeansAssign]]'s recipe verbatim: per-label
   * per-dimension means round to `scale` decimals BEFORE use, assignment
   * costs `round(|c|² − 2·v·c, scale)` round before the argmin, ties to
   * the lowest LABEL (the centroid matrix rows are label-sorted, so
   * array_position's first-min ≡ ORDER BY cost, label). Driver state is
   * the label-vocabulary × dim centroid matrix — bounded metadata.
   * Returns `(vec_id, label, predicted)`.
   */
  def nearestLabelCentroid(corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String, scale: Int = 6): DataFrame = {
    val base = Caches.track(corpus
      .select(col(idCol).cast("long").as("vec_id"),
        col(labelCol).cast("long").as("label"),
        col(vecCol).cast("array<double>").as("v"))
      .filter(col("v").isNotNull && col("label").isNotNull))
    val means = base.select(col("label"), posexplode(col("v")).as(Seq("idx", "x")))
      .groupBy("label", "idx").agg(round(avg("x"), scale).as("m"))
      .collect()
    require(means.nonEmpty, "cannot build label centroids from an empty corpus")
    val labels = means.map(_.getLong(0)).distinct.sorted
    val dim = means.map(_.getInt(1)).max + 1
    val lidx = labels.zipWithIndex.toMap
    val cents = Array.ofDim[Double](labels.length, dim)
    means.foreach(r => cents(lidx(r.getLong(0)))(r.getInt(1)) = r.getDouble(2))
    base.withColumn("pidx", assignment(col("v"), cents, scale))
      .select(col("vec_id"), col("label"),
        element_at(array(labels.toSeq.map(lit(_)): _*), col("pidx") + 1).as("predicted"))
  }

  /** The shared Lloyd fit: project + cache the `(vec_id, v)` frame, seed
    * from the `k` lowest ids, run `iters` assignment/recenter rounds.
    * Returns the cached base frame and the final centroid matrix. */
  private def fitCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, scale: Int): (DataFrame, Array[Array[Double]]) = {
    require(k > 0, s"k must be positive, got $k")
    require(iters >= 0, s"iters must be non-negative, got $iters")
    // cached: the normalized projection is re-read iters+1 times; without
    // the persist every Lloyd round re-scans and re-casts the source
    val base = Caches.track(corpus
      .select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .filter(col("v").isNotNull))
    // seed centroids: k lowest ids — k rows to the driver (bounded, = the
    // centroid matrix itself; float->double widening is exact, no rounding)
    val seeds = base.orderBy("vec_id").limit(k).collect()
    require(seeds.nonEmpty, "cannot cluster an empty corpus")
    var cents: Array[Array[Double]] = seeds.map(_.getSeq[Double](1).toArray)
    for (_ <- 0 until iters) {
      val assigned = base.withColumn("cluster", assignment(col("v"), cents, scale))
      // recenter: posexplode -> partial-aggregating groupBy over (cluster,
      // dim) — map-side combine keeps the shuffle at k*dim rows; the collect
      // is the k*dim centroid matrix (bounded metadata)
      val means = assigned
        .select(col("cluster"), posexplode(col("v")).as(Seq("idx", "x")))
        .groupBy("cluster", "idx").agg(round(avg("x"), scale).as("m"))
        .collect()
      val next = cents.map(_.clone())
      means.foreach { r =>
        val c = r.getInt(0); val i = r.getInt(1)
        if (c >= 0 && c < next.length) next(c)(i) = r.getDouble(2)
      }
      cents = next
    }
    (base, cents)
  }

  /**
   * Prototype pruning (the SSL-prototypes rule of Sorscher et al. 2022,
   * "Beyond neural scaling laws", applied corpus-side in D4, Abbas et al.
   * 2023): cluster the corpus, then DROP the most prototypical points of
   * every cluster — the ones nearest their centroid, which carry the least
   * marginal information once the cluster is represented — and keep the
   * `keepFraction` FARTHEST per cluster. The complement of
   * [[Similarity.semanticDedup]]-style duplicate pruning: SemDeDup removes
   * redundancy BETWEEN near-identical points, prototype pruning removes
   * redundancy against the cluster's center of mass.
   *
   * Determinism contract: assignment and cost reuse [[kmeansAssign]]'s
   * exact recipe (seeded from the `k` lowest ids, per-round means and the
   * `round(|c|² − 2·v·c, scale)` cost both rounded before use — the
   * assigned cluster's cost IS `array_min` of the rounded cost vector);
   * the per-cluster keep threshold is the exact interpolated
   * `percentile(cost, 1 − keepFraction)` (≡ DuckDB `quantile_cont`) and
   * the filter keeps `cost >= threshold` — a pure value predicate, no
   * rank tie-breaking needed. Pass a `keepFraction` whose complement is
   * binary-exact (0.75, 0.5, 0.25) when gating cross-engine: `1.0 − 0.7`
   * is `0.30000000000000004` and a SQL literal `0.3` would disagree.
   *
   * Scale shape: the Lloyd fit is [[kmeansAssign]]'s (k×dim driver state);
   * scoring is one codegen'd map; the thresholds are one per-cluster
   * aggregation traveling as a ≤ k-row broadcast ([[Sampling
   * .groupQuantileFilter]] — no per-cluster sort, no rank window). Output:
   * `(vec_id, cluster, proto_cost)` for the kept rows; `proto_cost` is the
   * rounded assignment cost (monotone in distance-to-centroid).
   */
  def prototypePrune(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, keepFraction: Double, scale: Int = 6): DataFrame = {
    require(keepFraction > 0.0 && keepFraction <= 1.0,
      s"keepFraction must be in (0, 1]: $keepFraction")
    val (base, cents) = fitCentroids(corpus, idCol, vecCol, k, iters, scale)
    // one projection materializes the cost vector, the next consumes it
    // twice (argmin id + min cost) — split so CollapseProject cannot
    // re-inline the k-dot expression per reference; the narrow scored
    // frame is cached because the quantile filter reads it on BOTH sides
    // (per-cluster threshold aggregation + the keep-filter probe)
    val scored = Caches.track(base
      .select(col("vec_id"), costs(col("v"), cents, scale).as("__cs"))
      .select(col("vec_id"),
        (array_position(col("__cs"), array_min(col("__cs"))) - 1).cast("long")
          .as("cluster"),
        array_min(col("__cs")).as("proto_cost")))
    Sampling.groupQuantileFilter(scored, "cluster", "proto_cost", 1.0 - keepFraction)
  }
}
