package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch event-log analytics beyond plain windowed aggregation — the
  * product-analytics queries every warehouse grows next to its fact
  * tables. Streaming analogs live in [[graft.streaming.EventStream]]. */
object Events {

  /**
   * First-touch sequential funnel: for every user who performed
   * `steps.head`, how far through the ordered step list they progressed
   * within `windowSeconds` of their FIRST step-1 event — the
   * view→cart→purchase conversion query of product analytics.
   *
   * Contract (spelled identically in the SQL twin):
   *  - the funnel anchors at each user's EARLIEST step-1 event (first
   *    touch); users who never fired step 1 are absent (funnels count
   *    entrants, not the population);
   *  - step k+1 matches the earliest step-k+1 event STRICTLY after the
   *    matched step-k event (simultaneous events do not advance a funnel
   *    — ordering within a timestamp tie is unknowable) and no later than
   *    `anchor + windowSeconds`;
   *  - greedy earliest matching throughout. A later window might convert
   *    where the first-touch window lapsed — re-anchoring funnels are a
   *    different (and rarely default) product; this is the deterministic
   *    first-touch semantics.
   *
   * Returns `(user, ts_1 … ts_k, steps_completed, converted)` — the
   * per-step match timestamps ride along so a caller can compute
   * step-to-step latencies without re-running the match.
   *
   * Scale shape: the log is filtered to the funnel's event types once
   * (typically a tiny fraction of a 100 TB log — the filter reaches the
   * scan), then each step is ONE user-keyed grouped aggregation over that
   * step's events joined against the accumulated match frame: k steps =
   * k shuffles on the user key, every aggregation map-side combined, no
   * per-user arrays or windows anywhere — a user with a billion events
   * costs their partial aggregates, not a sort or a collect_list. The
   * carried match columns are constant per user, so they aggregate as
   * `min` (deterministic on any partitioning).
   */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String], windowSeconds: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size, s"funnel steps must be distinct: $steps")
    require(windowSeconds > 0, s"windowSeconds must be positive: $windowSeconds")
    val typed = events.select(col(userCol).as("user"), col(typeCol).as("__t"),
        col(tsCol).as("__e"))
      .filter(col("__t").isin(steps: _*))
    var acc = typed.filter(col("__t") === steps.head)
      .groupBy("user").agg(min(col("__e")).as("ts_1"))
      .withColumn("__deadline",
        col("ts_1") + make_interval(lit(0), lit(0), lit(0), lit(0), lit(0), lit(0),
          lit(java.math.BigDecimal.valueOf(windowSeconds))))
    steps.indices.drop(1).foreach { i =>
      val prev = s"ts_$i"
      val cur = s"ts_${i + 1}"
      val carried = acc.columns.filterNot(_ == "user")
        .map(c => min(col(c)).as(c)) // constant per user; min = deterministic
      acc = acc.join(typed.filter(col("__t") === steps(i)).select("user", "__e"),
          Seq("user"), "left_outer")
        .groupBy("user")
        .agg(carried.head, carried.tail.toSeq :+
          min(when(col("__e") > col(prev) && col("__e") <= col("__deadline"),
            col("__e"))).as(cur): _*)
    }
    val stepCols = steps.indices.map(i => col(s"ts_${i + 1}"))
    acc.select(col("user") +: stepCols :+
      stepCols.map(c => when(c.isNotNull, 1).otherwise(0))
        .reduce(_ + _).as("steps_completed") :+
      stepCols.last.isNotNull.as("converted"): _*)
  }

  /**
   * Frequent contiguous event paths: every length-`length` run of
   * consecutive events in each user's timeline, counted across the log —
   * the "what do users actually DO around this feature" sequence-mining
   * query (the contiguous-n-gram core of PrefixSpan-style mining, which
   * is what product funnels get built FROM: [[funnel]] checks a
   * hypothesized path, this surfaces the paths worth hypothesizing).
   *
   * Support is reported both ways sequence miners need it:
   * `n_occurrences` (every sliding occurrence counts — a user looping
   * view→click→view ten times contributes ten) and `n_users` (distinct
   * users whose timeline contains the path at least once — the
   * PrefixSpan support notion, immune to one obsessive user). The
   * `minSupport` threshold filters on OCCURRENCES; pick the stricter
   * per-user reading from `n_users` downstream.
   *
   * Ordering within a user is `(tsCol, tieCol)` — the tie column makes
   * simultaneous events deterministic (same contract as the transition
   * digraph the `graph_*` operators consume; an undetermined tie order
   * would make path counts depend on partitioning).
   *
   * Scale shape: ONE window shuffle on the user key builds the leads
   * (each row carries `length − 1` following types — no per-user arrays,
   * a billion-event user streams through their sorted partition), then
   * ONE grouped count on the path tuple with map-side partial
   * aggregation; at most `|event types|^length` groups ever shuffle.
   * The threshold filter sits above the aggregation (it must see total
   * counts), which is already the minimal plan.
   */
  def frequentPaths(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, tieCol: String, length: Int,
      minSupport: Long = 1L): DataFrame = {
    require(length >= 2, s"a path needs at least 2 steps: $length")
    require(minSupport >= 1, s"minSupport must be at least 1: $minSupport")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val stepCols = (1 to length).map { i =>
      (if (i == 1) col(typeCol) else lead(col(typeCol), i - 1).over(w))
        .as(s"step_$i")
    }
    val names = (1 to length).map(i => s"step_$i")
    events.select(col(userCol).as("__u") +: stepCols: _*)
      .filter(col(s"step_$length").isNotNull) // runs crossing the timeline end
      .groupBy(names.map(col): _*)
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("__u")).as("n_users"))
      .filter(col("n_occurrences") >= minSupport)
  }
}
