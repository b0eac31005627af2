package graft.ext

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/**
 * Typed custom-aggregation surface (SURVEY.md §2.12 "UDF/UDAF surface"):
 * a Spark `Aggregator` computing per-group embedding centroids in one pass.
 * The buffer is `(element-wise sums, count)` — constant size per group
 * regardless of group cardinality, with map-side partial aggregation, so a
 * 100 TB corpus aggregates with one small shuffle of `nGroups × dim`
 * doubles.
 */
object Aggregators {

  /** Mean vector per group. IN = the row's vector; BUF = (sums, n). */
  final class CentroidAggregator(dim: Int)
      extends Aggregator[Seq[Double], (Array[Double], Long), Seq[Double]] {
    override def zero: (Array[Double], Long) = (new Array[Double](dim), 0L)
    override def reduce(b: (Array[Double], Long), v: Seq[Double]): (Array[Double], Long) = {
      var i = 0
      while (i < dim && i < v.length) { b._1(i) += v(i); i += 1 }
      (b._1, b._2 + 1)
    }
    override def merge(a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) = {
      var i = 0
      while (i < dim) { a._1(i) += b._1(i); i += 1 }
      (a._1, a._2 + b._2)
    }
    override def finish(b: (Array[Double], Long)): Seq[Double] =
      if (b._2 == 0) Seq.fill(dim)(0.0) else b._1.toIndexedSeq.map(_ / b._2)
    override def bufferEncoder: Encoder[(Array[Double], Long)] =
      Encoders.tuple(
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]](),
        Encoders.scalaLong)
    override def outputEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  /**
   * Misra–Gries frequent-items sketch: a MERGEABLE heavy-hitters summary of
   * at most `capacity` counters — the 100 TB top-k/vocabulary path where an
   * exact `groupBy(token)` would shuffle every distinct token. Map-side
   * partials hold ≤ `capacity` entries each; the shuffle moves one summary
   * per partition instead of the token universe.
   *
   * Guarantees (standard Misra–Gries, preserved under the summing merge):
   * for every item, `true_count − n/(capacity+1) <= estimate <= true_count`
   * over a stream of n items, so any item with true frequency above
   * `n/(capacity+1)` is PRESENT in the summary. Estimates are
   * order-dependent (not gated on a bit-exact oracle); the bounds are
   * spec-pinned against exact counts.
   */
  final class FrequentItemsSketch(capacity: Int)
      extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    require(capacity > 0, s"capacity must be positive: $capacity")

    private def shrink(m: Map[String, Long]): Map[String, Long] =
      if (m.size <= capacity) m
      else {
        // subtract the (capacity+1)-th largest count from everything — the
        // batch form of Misra–Gries' decrement-all-on-miss (merge path only;
        // the per-row path below never needs the sort)
        val d = m.values.toIndexedSeq.sorted(Ordering[Long].reverse)(capacity)
        m.collect { case (k, v) if v > d => k -> (v - d) }
      }

    override def zero: Map[String, Long] = Map.empty
    override def reduce(b: Map[String, Long], item: String): Map[String, Long] =
      if (item == null) b
      else if (b.contains(item) || b.size < capacity)
        b.updated(item, b.getOrElse(item, 0L) + 1L)
      else
        // full table, absent item: the (capacity+1)-th largest count would be
        // this item's provisional 1, so the shrink delta is ALWAYS 1 here —
        // classic MG decrement-all, O(capacity) with no sort on the hot path
        b.collect { case (k, v) if v > 1L => k -> (v - 1L) }
    override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
      val (small, large) = if (a.size < b.size) (a, b) else (b, a)
      shrink(small.foldLeft(large) { case (m, (k, v)) =>
        m.updated(k, m.getOrElse(k, 0L) + v)
      })
    }
    override def finish(b: Map[String, Long]): Map[String, Long] = b
    override def bufferEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
    override def outputEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  /**
   * Bounded per-group top-k of `(id, score)` pairs under the engine-wide
   * `(score DESC, id ASC)` total order — the map-side-combining form of the
   * `row_number().over(partitionBy(group).orderBy(score.desc, id))` top-k
   * window. The window shuffles EVERY scored candidate row to its group's
   * reducer (225 M rows for a 30k×30k quarter-probe pair pool); this buffer
   * holds k pairs per group and partially aggregates before the exchange,
   * so the shuffle moves ≤ k rows per (group × map partition) instead.
   * Fixed-size arrays, in-place insertion — no per-row allocation on the
   * hot path; results are arrival-order-independent because the comparator
   * is a total order (exact doubles, id tiebreak).
   */
  final class TopKPairsAggregator(k: Int)
      extends Aggregator[(Long, Double), (Array[Long], Array[Double]), Seq[(Long, Double)]] {
    require(k >= 1, s"k must be >= 1: $k")

    // (c1, i1) strictly better than (c2, i2) under (score DESC, id ASC)
    private def better(c1: Double, i1: Long, c2: Double, i2: Long): Boolean =
      c1 > c2 || (c1 == c2 && i1 < i2)

    override def zero: (Array[Long], Array[Double]) = (Array.empty, Array.empty)

    override def reduce(b: (Array[Long], Array[Double]),
        v: (Long, Double)): (Array[Long], Array[Double]) = {
      val (ids, cs) = b
      val n = ids.length
      if (n < k) {
        // grow (only the first k inserts allocate): insert in sorted place
        var p = 0
        while (p < n && better(cs(p), ids(p), v._2, v._1)) p += 1
        val nids = new Array[Long](n + 1); val ncs = new Array[Double](n + 1)
        System.arraycopy(ids, 0, nids, 0, p); System.arraycopy(cs, 0, ncs, 0, p)
        nids(p) = v._1; ncs(p) = v._2
        System.arraycopy(ids, p, nids, p + 1, n - p)
        System.arraycopy(cs, p, ncs, p + 1, n - p)
        (nids, ncs)
      } else if (!better(v._2, v._1, cs(n - 1), ids(n - 1))) b
      else {
        // beats the current worst: shift down in place, no allocation
        var p = 0
        while (p < n && better(cs(p), ids(p), v._2, v._1)) p += 1
        var i = n - 1
        while (i > p) { ids(i) = ids(i - 1); cs(i) = cs(i - 1); i -= 1 }
        ids(p) = v._1; cs(p) = v._2
        b
      }
    }

    override def merge(a: (Array[Long], Array[Double]),
        b: (Array[Long], Array[Double])): (Array[Long], Array[Double]) = {
      val n = math.min(k, a._1.length + b._1.length)
      val ids = new Array[Long](n); val cs = new Array[Double](n)
      var ia = 0; var ib = 0; var o = 0
      while (o < n) {
        val takeA = ib >= b._1.length || (ia < a._1.length &&
          !better(b._2(ib), b._1(ib), a._2(ia), a._1(ia)))
        if (takeA) { ids(o) = a._1(ia); cs(o) = a._2(ia); ia += 1 }
        else { ids(o) = b._1(ib); cs(o) = b._2(ib); ib += 1 }
        o += 1
      }
      (ids, cs)
    }

    override def finish(b: (Array[Long], Array[Double])): Seq[(Long, Double)] =
      b._1.indices.map(i => (b._1(i), b._2(i)))

    override def bufferEncoder: Encoder[(Array[Long], Array[Double])] =
      Encoders.tuple(
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]](),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]())
    override def outputEncoder: Encoder[Seq[(Long, Double)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Double)]]()
  }

  /** Approximate corpus-wide frequent tokens: explode → ONE sketch pass →
    * `(token, est_count)` rows, descending. `capacity` bounds both memory
    * and error (`n_tokens/(capacity+1)`); see [[FrequentItemsSketch]]. */
  def frequentTokens(spark: SparkSession, docs: DataFrame, capacity: Int,
      textCol: String = "text"): DataFrame = {
    val agg = udaf(new FrequentItemsSketch(capacity))
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .agg(agg(col("tok")).as("sketch"))
      .select(explode(col("sketch")).as(Seq("token", "est_count")))
      .orderBy(col("est_count").desc, col("token"))
  }

  /** Per-label centroid of the `embeddings` table, values rounded to
    * `scale` decimals so the result is robust to summation order. */
  def labelCentroids(spark: SparkSession, emb: DataFrame, scale: Int = 6): DataFrame = {
    val dim = emb.select(col("embedding")).head().getSeq[Float](0).length
    val agg = udaf(new CentroidAggregator(dim))
    emb.select(col("label"), col("embedding").cast("array<double>").as("v"))
      .groupBy("label")
      .agg(agg(col("v")).as("centroid_raw"))
      .select(col("label"),
        transform(col("centroid_raw"), x => round(x, scale)).as("centroid"))
  }
}
