package graft
package gates

import java.time.LocalDate

import graft.Queries._
import graft.ext.Sampling
import graft.ops.Ops
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Aggregation, window, join, time-series and event analytics
 * (`agg_*`, `window_*`, `join_*`, `set_ops_*`, `ts_*`, `events_*` and the
 * keyless range/interval joins).
 */
object AnalyticsGates {

  /** `ts_ewma_daily` oracle: the identical truncated-kernel EWMA
    * ([[graft.ext.TimeSeries.truncatedEwma]] at alpha=0.3, 8 taps) with the
    * coefficient chain computed HERE by the same IEEE product chain and
    * interpolated as shortest-roundtrip literals (Double.toString), so both
    * engines evaluate bit-identical tap sums. */
  private val ewmaDailySql: String = {
    val coefs = Array.iterate(0.3, 8)(_ * (1.0 - 0.3))
    def tap(j: Int) = if (j == 0) "x" else s"lag(x, $j) OVER w"
    val num = (0 until 8).map(j =>
      s"(CASE WHEN ${tap(j)} IS NOT NULL THEN ${tap(j)} * ${coefs(j)} ELSE 0.0 END)")
      .mkString(" + ")
    val den = (0 until 8).map(j =>
      s"(CASE WHEN ${tap(j)} IS NOT NULL THEN ${coefs(j)} ELSE 0.0 END)")
      .mkString(" + ")
    s"""WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
       |                      sum(CAST(value AS DECIMAL(18,2))) AS tv
       |                 FROM events GROUP BY 1, 2),
       |l AS (SELECT user_id, day, CAST(tv AS DOUBLE) AS x FROM daily)
       |SELECT user_id, day, round(x, 2) AS daily_value,
       |       round(($num) / ($den), 6) AS ewma
       |  FROM l WINDOW w AS (PARTITION BY user_id ORDER BY day)""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    Gate("join_enrich_orders", ((s, d) =>
      orders(s, d).filter(Ops.datePredicate("o_orderdate", OrdFrom, OrdTo))
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")),
      """SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        | WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1998-03-01' AND DATE '1998-03-31'""".stripMargin),
    // deliberate pre-salting of a skewed join (Skew.saltedJoin): results are
    // IDENTICAL to the plain inner join — which is exactly what the oracle
    // checks — while hot keys spread over 8 shuffle partitions
    Gate("join_salted_skew", ((s, d) => {
      val ev = events(s, d)
      val dim = ev.groupBy("user_id").agg(count(lit(1)).as("user_total"))
      graft.ops.Skew.saltedJoin(ev.select("event_id", "user_id"), dim, "user_id", 8)
        .select("event_id", "user_id", "user_total")
    }),
      """SELECT event_id, e.user_id, user_total
        |  FROM events e
        |  JOIN (SELECT user_id, count(*) AS user_total FROM events GROUP BY user_id) d
        |    ON e.user_id = d.user_id""".stripMargin),
    Gate("window_topk_per_segment", ((s, d) => {
      val j = orders(s, d).join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
      val w = Window.partitionBy("c_mktsegment").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      j.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).drop("rn")
    }),
      """SELECT c_mktsegment, o_orderkey, o_totalprice FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |    FROM orders JOIN customer ON o_custkey = c_custkey) x
        | WHERE rn <= 3""".stripMargin),
    // analytic window functions (§2.5): lag/lead/row_number + a running sum,
    // one shuffle on the partition key; the running sum accumulates exact
    // decimals (order-independent) and only the final value is rounded double
    Gate("window_order_ledger", ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      orders(s, d).select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
        row_number().over(w).as("order_seq"),
        lag("o_totalprice", 1).over(w).as("prev_price"),
        lead("o_totalprice", 1).over(w).as("next_price"),
        round(sum(col("o_totalprice").cast("decimal(18,2)"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"), 2).as("running_total"))
    }),
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |       row_number() OVER w AS order_seq,
        |       lag(o_totalprice, 1) OVER w AS prev_price,
        |       lead(o_totalprice, 1) OVER w AS next_price,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running_total
        |  FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin),
    // bounded-frame moving aggregate (§2.5): daily rollup then a 7-row
    // trailing sum per type — the grouped pass partial-aggregates map-side,
    // the frame pass shuffles once on event_type
    Gate("window_moving_daily", ((s, d) => {
      val daily = events(s, d).groupBy(
        date_trunc("day", col("ts")).cast("timestamp_ntz").as("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("value").cast("decimal(18,2)")).as("tv"))
      val w = Window.partitionBy("event_type").orderBy("event_date")
      daily.select(
        col("event_date"), col("event_type"), col("n_events"),
        round(col("tv").cast("double"), 2).as("total_value"),
        (col("n_events") - lag("n_events", 1).over(w)).as("delta_events"),
        round(sum(col("tv")).over(w.rowsBetween(-6, Window.currentRow)).cast("double"), 2)
          .as("total_7d"))
    }),
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS event_date, event_type,
        |         count(*) AS n_events, sum(CAST(value AS DECIMAL(18,2))) AS tv
        |    FROM events GROUP BY 1, 2)
        |SELECT event_date, event_type, n_events,
        |       round(CAST(tv AS DOUBLE), 2) AS total_value,
        |       n_events - lag(n_events, 1) OVER (PARTITION BY event_type ORDER BY event_date) AS delta_events,
        |       round(CAST(sum(tv) OVER (PARTITION BY event_type ORDER BY event_date
        |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS total_7d
        |  FROM daily""".stripMargin),
    // set operations (§2.7): INTERSECT / EXCEPT / UNION ALL as first-class
    // ops — Spark plans intersect/except as hash left-semi/anti over the
    // distinct sets, shuffling only the (small) key projections
    Gate("set_ops_user_cohorts", ((s, d) => {
      val ev = events(s, d)
      def users(t: String) = ev.filter(col("event_type") === t).select("user_id").distinct()
      val buyers = users("purchase")
      val erring = users("error")
      buyers.intersect(erring).withColumn("cohort", lit("both"))
        .unionByName(buyers.except(erring).withColumn("cohort", lit("purchase_only")))
        .unionByName(erring.except(buyers).withColumn("cohort", lit("error_only")))
    }),
      """SELECT user_id, 'both' AS cohort
        |  FROM (SELECT user_id FROM events WHERE event_type = 'purchase'
        |        INTERSECT
        |        SELECT user_id FROM events WHERE event_type = 'error') t
        |UNION ALL
        |SELECT user_id, 'purchase_only' AS cohort
        |  FROM (SELECT user_id FROM events WHERE event_type = 'purchase'
        |        EXCEPT
        |        SELECT user_id FROM events WHERE event_type = 'error') t
        |UNION ALL
        |SELECT user_id, 'error_only' AS cohort
        |  FROM (SELECT user_id FROM events WHERE event_type = 'error'
        |        EXCEPT
        |        SELECT user_id FROM events WHERE event_type = 'purchase') t""".stripMargin),
    // CUBE: all four grouping sets over (status, month) in one pass —
    // partial-aggregated map-side like any groupBy, one shuffle
    Gate("agg_cube_orders", ((s, d) =>
      orders(s, d)
        .cube(col("o_orderstatus"), date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2).as("total_price"))),
      """SELECT o_orderstatus, strftime(o_orderdate, '%Y-%m') AS order_month, count(*) AS n_orders,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price
        |  FROM orders GROUP BY CUBE (o_orderstatus, strftime(o_orderdate, '%Y-%m'))""".stripMargin),
    // LEFT OUTER enrichment with null preservation: every customer row
    // survives, order-less customers carry NULL aggregates — the dimension
    // side pre-aggregates so only (key, count, sum) rows join
    Gate("join_left_outer_orders", ((s, d) => {
      val per = orders(s, d).groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
            .as("total_price"))
      customer(s, d).select("c_custkey", "c_name", "c_nationkey")
        .join(per, col("c_custkey") === col("o_custkey"), "left")
        .drop("o_custkey")
    }),
      """WITH per AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price
        |    FROM orders GROUP BY 1)
        |SELECT c_custkey, c_name, c_nationkey, n_orders, total_price
        |  FROM customer LEFT JOIN per ON c_custkey = o_custkey""".stripMargin),
    // snapshot reconciliation as a FULL OUTER join of two windowed per-key
    // aggregates — the sync-engine "diff two table states" shape; both sides
    // pre-aggregate before the join so only (key, count) rows shuffle
    Gate("join_full_outer_reconcile", ((s, d) => {
      val ev = events(s, d)
      val a = ev.filter(Ops.datePredicate("ts", EvFrom, EvTo))
        .groupBy("user_id").agg(count(lit(1)).as("n_week1"))
      val b = ev.filter(Ops.datePredicate("ts", LocalDate.of(2024, 1, 10), LocalDate.of(2024, 1, 14)))
        .groupBy("user_id").agg(count(lit(1)).as("n_week2"))
      a.join(b, Seq("user_id"), "full_outer")
        .select(col("user_id"), col("n_week1"), col("n_week2"),
          when(col("n_week1").isNull, lit("week2_only"))
            .when(col("n_week2").isNull, lit("week1_only"))
            .otherwise(lit("both")).as("presence"))
    }),
      """WITH a AS (SELECT user_id, count(*) AS n_week1 FROM events
        |            WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-09' GROUP BY user_id),
        |     b AS (SELECT user_id, count(*) AS n_week2 FROM events
        |            WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-14' GROUP BY user_id)
        |SELECT COALESCE(a.user_id, b.user_id) AS user_id, n_week1, n_week2,
        |       CASE WHEN n_week1 IS NULL THEN 'week2_only'
        |            WHEN n_week2 IS NULL THEN 'week1_only'
        |            ELSE 'both' END AS presence
        |  FROM a FULL JOIN b ON a.user_id = b.user_id""".stripMargin),
    Gate("agg_rollup_orders", ((s, d) =>
      // ROLLUP: per-(priority, status) totals plus per-priority subtotals and
      // a grand total — one pass, partial-aggregated like any groupBy
      orders(s, d).rollup("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          // compared as round(double, 2), not decimal(38,2): wide-decimal
          // output hash-mismatched at the driver 3 rounds running (r3 verdict)
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2).as("total_price"))),
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price
        |  FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""".stripMargin),
    Gate("agg_events_daily", ((s, d) =>
      // day key as a day-truncated TIMESTAMP_NTZ, not DATE (date32 output
      // hash-differs from DuckDB's day-timestamp at the driver) and not bare
      // date_trunc output (LTZ TimestampType → legacy INT96 parquet, the
      // 3-round hash-red root cause). Cast is value-identity under UTC.
      events(s, d).groupBy(
        date_trunc("day", col("ts")).cast("timestamp_ntz").as("event_date"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          // decimal(18,2) output hash-mismatched at the driver in r4 even
          // after the NTZ day-key fix; rounded double is the representation
          // the gate demonstrably hashes reliably (q1/rollup, fixed r4)
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2).as("total_value"))),
      // CAST chain (not date_trunc): DuckDB's date_trunc('day') returns DATE
      """SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS event_date, event_type, count(*) AS n_events,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
        |  FROM events GROUP BY 1, 2""".stripMargin),
    // GROUPING SETS beyond rollup/cube's hierarchies: two independent
    // one-dimension aggregates in ONE pass over the fact table (status
    // totals ∪ priority totals), partial-aggregated map-side like any groupBy
    Gate("agg_grouping_sets", ((s, d) =>
      orders(s, d).groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
            .as("total_price"))),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price
        |  FROM orders
        | GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin),
    // rank/distribution analytics (§2.5): dense_rank, quartile ntile,
    // percent_rank, cume_dist per event type over per-user totals — exact
    // rational arithmetic both engines compute bit-identically
    Gate("window_rank_metrics", ((s, d) => {
      val pu = events(s, d).groupBy("event_type", "user_id")
        .agg(round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
          .as("total_value"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("total_value").desc, col("user_id"))
      pu.select(col("event_type"), col("user_id"), col("total_value"),
        dense_rank().over(w).as("drank"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cdist"))
    }),
      """WITH pu AS (
        |  SELECT event_type, user_id,
        |         round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
        |    FROM events GROUP BY 1, 2)
        |SELECT event_type, user_id, total_value,
        |       dense_rank() OVER w AS drank,
        |       ntile(4) OVER w AS quartile,
        |       round(percent_rank() OVER w, 6) AS pct_rank,
        |       round(cume_dist() OVER w, 6) AS cdist
        |  FROM pu
        |WINDOW w AS (PARTITION BY event_type ORDER BY total_value DESC, user_id)""".stripMargin),
    // rolling volume anomaly: per-type daily counts z-scored against the
    // trailing 7-day baseline (current day excluded); integer window sums
    // make every derived double bit-identical cross-engine
    Gate("ts_volume_anomaly", ((s, d) =>
      ext.TimeSeries.rollingVolumeAnomaly(events(s, d), "event_type", "ts")),
      // same dense grid + the same integer rolling sums over ROWS BETWEEN 7
      // PRECEDING AND 1 PRECEDING; the derived mean/var/z expressions mirror
      // the operator's shape exactly (exact-integer inputs -> identical IEEE
      // doubles, rounding is display-only; the anomaly flag compares the
      // UNROUNDED z)
      """WITH daily AS (
        |  SELECT event_type AS k, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
        |         count(*) AS c FROM events GROUP BY 1, 2),
        |span AS (SELECT k, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
        |grid AS (SELECT k, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
        |           FROM span),
        |g AS (SELECT g.k, g.day, coalesce(d.c, 0) AS c
        |        FROM grid g LEFT JOIN daily d ON g.k = d.k AND g.day = d.day),
        |w AS (SELECT k, day, c,
        |        count(*) OVER win AS n,
        |        CAST(coalesce(sum(c) OVER win, 0) AS BIGINT) AS sx,
        |        CAST(coalesce(sum(c * c) OVER win, 0) AS BIGINT) AS sxx
        |      FROM g WINDOW win AS (PARTITION BY k ORDER BY day
        |        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |v AS (SELECT *, CAST(n * sxx - sx * sx AS DOUBLE)
        |               / CAST(n * n AS DOUBLE) AS vr,
        |             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean
        |        FROM w)
        |SELECT k AS event_type, day, c AS n_events, n AS baseline_days,
        |       CASE WHEN n > 0 THEN round(mean, 6) END AS baseline_mean,
        |       CASE WHEN n >= 3 AND vr > 0 THEN round(sqrt(vr), 6) END AS baseline_std,
        |       CASE WHEN n >= 3 AND vr > 0
        |            THEN round((CAST(c AS DOUBLE) - mean) / sqrt(vr), 6) END AS z_score,
        |       CASE WHEN n >= 3 AND vr > 0
        |            THEN abs((CAST(c AS DOUBLE) - mean) / sqrt(vr)) >= 2.0
        |            ELSE FALSE END AS anomaly
        |  FROM v""".stripMargin),
    // temporal regularization: sparse per-user signup days resampled to each
    // user's dense day grid, totals forward-filled — one window pass, no
    // fabricated-grid join (TimeSeries.dailyGridFill)
    Gate("ts_resample_fill", ((s, d) => {
      val daily = events(s, d).filter(col("event_type") === "signup")
        .groupBy(col("user_id"),
          date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
            .as("total_value"))
      graft.ext.TimeSeries.dailyGridFill(daily, "user_id", "day", Seq("total_value"))
    }),
      """WITH daily AS (
        |  SELECT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
        |         count(*) AS n_events,
        |         round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
        |    FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
        |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
        |           FROM span),
        |j AS (SELECT g.user_id, g.day, d.n_events, d.total_value
        |        FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day)
        |SELECT user_id, day, n_events,
        |       last_value(total_value IGNORE NULLS) OVER (
        |         PARTITION BY user_id ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS total_value
        |  FROM j""".stripMargin),
    // truncated-kernel EWMA (8 taps, alpha 0.3) over per-user daily value
    // totals — the smoothed-trend signal; one window pass, coefficients an
    // IEEE product chain the oracle folds to bit-identically
    Gate("ts_ewma_daily", ((s, d) => {
      val daily = events(s, d).groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("tv"))
      graft.ext.TimeSeries.truncatedEwma(daily, "user_id", "day", "tv")
        .select(col("user_id"), col("day"),
          round(col("tv").cast("double"), 2).as("daily_value"),
          round(col("ewma"), 6).as("ewma"))
    }),
      ewmaDailySql),
    // lag-1 autocorrelation of per-type daily event counts (over OBSERVED
    // days — the lag is the previous observation, not the previous
    // calendar day): Pearson r from six exact INTEGER sums, so every
    // derived double is the same IEEE expression both engines compute
    Gate("ts_autocorr_daily", ((s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val pairs = daily.withColumn("y", lag(col("x"), 1).over(w))
        .filter(col("y").isNotNull)
      val g = pairs.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
      val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
      val dx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      val dy = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
      g.select(col("event_type"), col("n").as("n_pairs"),
        when(dx > 0.0 && dy > 0.0, round(num / (sqrt(dx) * sqrt(dy)), 6)).as("autocorr"))
    }),
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
        |                 FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, x,
        |             lag(x) OVER (PARTITION BY event_type ORDER BY day) AS y
        |        FROM daily),
        |g AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |        FROM p WHERE y IS NOT NULL GROUP BY 1)
        |SELECT event_type, n AS n_pairs,
        |       CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0.0
        |             AND CAST(n * syy - sy * sy AS DOUBLE) > 0.0
        |            THEN round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |                       (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |                        sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
        |       END AS autocorr
        |  FROM g""".stripMargin),
    // COUNT(DISTINCT) under ROLLUP: distinct users per (type, day) with
    // both subtotal levels — each grouping set re-aggregates the distinct
    // set (no sketch), the expand-then-aggregate plan Spark partials
    Gate("agg_distinct_rollup", ((s, d) =>
      events(s, d)
        .select(col("event_type"), col("ts").cast("date").as("day"), col("user_id"))
        .rollup("event_type", "day")
        .agg(countDistinct("user_id").as("n_users"), count(lit(1)).as("n_events"))),
      """SELECT event_type, day, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |  FROM (SELECT event_type, CAST(ts AS DATE) AS day, user_id FROM events) t
        | GROUP BY ROLLUP (event_type, day)""".stripMargin),
    // retention/survival curve: fraction of users still active >= k days
    // after their first event, at every realized lifetime k — exact
    // integer suffix sums over the (tiny, day-span-bounded) lifetime
    // histogram; the windowed cumulative runs on <= 31 rows by design
    Gate("events_survival_retention", ((s, d) => {
      val span = events(s, d).groupBy("user_id")
        .agg(datediff(max(col("ts").cast("date")), min(col("ts").cast("date"))).as("m"))
      val hist = span.groupBy("m").agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy(col("m").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      hist.select(col("m").as("k"), sum(col("cnt")).over(w).as("survivors"),
          round(sum(col("cnt")).over(w).cast("double") /
            sum(col("cnt")).over(tot), 6).as("fraction"))
    }),
      """WITH span AS (SELECT user_id,
        |                     date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) AS m
        |                FROM events GROUP BY 1),
        |h AS (SELECT m, count(*) AS cnt FROM span GROUP BY 1)
        |SELECT m AS k,
        |       CAST(sum(cnt) OVER (ORDER BY m DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS survivors,
        |       round(CAST(sum(cnt) OVER (ORDER BY m DESC ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |             / CAST(sum(cnt) OVER () AS DOUBLE), 6) AS fraction
        |  FROM h""".stripMargin),
    // weekly cohort retention matrix (r18): users grouped by first-active
    // week, each cohort's distinct-active count at every realized week
    // offset — the cohort grid behind every retention dashboard, and the
    // survival curve's two-dimensional refinement. Week key = epoch-days/7
    // (integer, engine-portable); exact distinct counts + ONE rounded
    // ratio. Scale shape: one distinct (user, week) projection, a per-user
    // min, and two grouped counts — the matrix is (weeks × offsets)-
    // bounded, never user-count-sized
    Gate("events_retention_cohorts", ((s, d) => {
      val wk = floor(datediff(col("ts").cast("date"),
        lit("1970-01-01").cast("date")) / lit(7.0)).cast("long")
      // tracked: the distinct activity frame feeds the cohort derivation
      // and the offset join; the cohort frame feeds sizes and the join
      val ue = graft.ext.Caches.track(
        events(s, d).select(col("user_id"), wk.as("week")).distinct())
      val cohort = graft.ext.Caches.track(
        ue.groupBy("user_id").agg(min("week").as("cohort_week")))
      val sizes = cohort.groupBy("cohort_week").agg(count(lit(1)).as("cohort_n"))
      ue.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
        .agg(countDistinct("user_id").as("active_n"))
        .join(broadcast(sizes), Seq("cohort_week"))
        .withColumn("retention",
          round(col("active_n").cast("double") / col("cohort_n"), 6))
        .select("cohort_week", "week_offset", "active_n", "cohort_n", "retention")
    }),
      """WITH uw AS (SELECT DISTINCT user_id,
        |         CAST(floor((CAST(ts AS DATE) - DATE '1970-01-01') / 7.0) AS BIGINT) AS week
        |       FROM events),
        |ch AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1),
        |sz AS (SELECT cohort_week, count(*) AS cohort_n FROM ch GROUP BY 1),
        |act AS (SELECT ch.cohort_week, uw.week - ch.cohort_week AS week_offset,
        |               count(DISTINCT uw.user_id) AS active_n
        |          FROM uw JOIN ch USING (user_id) GROUP BY 1, 2)
        |SELECT act.cohort_week, act.week_offset, act.active_n, sz.cohort_n,
        |       round(CAST(act.active_n AS DOUBLE) / sz.cohort_n, 6) AS retention
        |  FROM act JOIN sz USING (cohort_week)""".stripMargin),
    // day-of-week-adjusted volume anomaly: each day's count z-scored
    // against its type's SAME-WEEKDAY profile (population stats, current
    // day included) — the seasonal complement to ts_volume_anomaly's
    // trailing window; all-integer sums make every double the same IEEE
    // expression both engines compute
    Gate("ts_seasonal_anomaly", ((s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
        .withColumn("dow", expr("weekday(day)"))
      val g = Window.partitionBy("event_type", "dow")
      val staged = daily
        .withColumn("n", count(lit(1)).over(g))
        .withColumn("sx", sum(col("x")).over(g))
        .withColumn("sxx", sum(col("x") * col("x")).over(g))
      val mean = col("sx").cast("double") / col("n").cast("double")
      val varN = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") /
        (col("n") * col("n")).cast("double")
      val z = (col("x").cast("double") - mean) / sqrt(varN)
      val ok = col("n") >= 2 && varN > 0.0
      staged.select(col("event_type"), col("day"), col("x").as("n_events"),
        col("dow"), col("n").as("dow_days"),
        when(ok, round(z, 6)).as("z_score"))
    }),
      // weekday(day) in Spark is 0=Monday; DuckDB's isodow is 1=Monday → −1
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
        |                 FROM events GROUP BY 1, 2),
        |d2 AS (SELECT event_type, day, x, CAST(isodow(day) - 1 AS INT) AS dow FROM daily),
        |g AS (SELECT event_type, day, x, dow,
        |             count(*) OVER w AS n, sum(x) OVER w AS sx,
        |             sum(x * x) OVER w AS sxx
        |        FROM d2 WINDOW w AS (PARTITION BY event_type, dow))
        |SELECT event_type, day, x AS n_events, dow, n AS dow_days,
        |       CASE WHEN n >= 2 AND CAST(n * sxx - sx * sx AS DOUBLE)
        |                            / CAST(n * n AS DOUBLE) > 0.0
        |            THEN round((CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n * n AS DOUBLE)), 6)
        |       END AS z_score
        |  FROM g""".stripMargin),
    // Lorenz/Pareto revenue concentration by customer decile: the global
    // rank comes from Ops.globalOrdinals (range partition + zipWithIndex —
    // NO single-partition exchange at any scale), deciles are INTEGER
    // arithmetic on that ordinal, and only the 10-row decile frame sees a
    // window; shares divide doubles cast from exact decimal sums
    Gate("window_pareto_deciles", ((s, d) => {
      val rev = orders(s, d).groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      val tot = broadcast(rev.agg(sum(col("rev")).as("total"), count(lit(1)).as("n")))
      val ord = graft.ops.Ops.globalOrdinals(rev,
        Seq(col("rev").desc, col("o_custkey")), 8, "ord")
      val dec = ord.crossJoin(tot)
        .withColumn("decile", expr("CAST(ord * 10 DIV n AS INT) + 1"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_customers"), sum(col("rev")).as("drev"),
          first(col("total")).as("total"))
      val w = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dec.select(col("decile"), col("n_customers"),
        round(col("drev").cast("double") / col("total").cast("double"), 6).as("rev_share"),
        round(sum(col("drev")).over(w).cast("double") / col("total").cast("double"), 6)
          .as("cum_share"))
    }),
      """WITH rev AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |               FROM orders GROUP BY 1),
        |t AS (SELECT sum(rev) AS total, count(*) AS n FROM rev),
        |o AS (SELECT rev, row_number() OVER (ORDER BY rev DESC, o_custkey) - 1 AS ord
        |        FROM rev),
        |d AS (SELECT CAST(ord * 10 // n AS INT) + 1 AS decile,
        |             count(*) AS n_customers, sum(rev) AS drev
        |        FROM o, t GROUP BY 1)
        |SELECT decile, n_customers,
        |       round(CAST(drev AS DOUBLE) / CAST(total AS DOUBLE), 6) AS rev_share,
        |       round(CAST(sum(drev) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |             / CAST(total AS DOUBLE), 6) AS cum_share
        |  FROM d, t""".stripMargin),
    // Gini coefficient of order value per market segment via the rank
    // formula G = (2Σi·x − (n+1)Σx)/(nΣx) with x ascending — all-integer
    // cents arithmetic, Σi·x accumulated in DECIMAL(38,0) (a 30× probe
    // overflowed the long accumulator at ~2×10¹⁹; DuckDB mirrors with
    // HUGEINT — both exact in any accumulation order)
    Gate("agg_gini_segments", ((s, d) => {
      val j = orders(s, d)
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      val w = Window.partitionBy("c_mktsegment").orderBy(col("cents"), col("o_orderkey"))
      j.withColumn("i", row_number().over(w).cast("long"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"),
          sum(col("cents")).as("sx"),
          sum(col("i").cast("decimal(19,0)") * col("cents").cast("decimal(19,0)")).as("six"))
        .select(col("c_mktsegment"), col("n"),
          round((lit(2.0) * col("six").cast("double") -
              (col("n") + 1).cast("double") * col("sx").cast("double")) /
            (col("n").cast("double") * col("sx").cast("double")), 6).as("gini"))
    }),
      """WITH j AS (SELECT c_mktsegment, o_orderkey,
        |                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |             FROM orders JOIN customer ON o_custkey = c_custkey),
        |r AS (SELECT c_mktsegment, cents,
        |             row_number() OVER (PARTITION BY c_mktsegment
        |                 ORDER BY cents, o_orderkey) AS i
        |        FROM j)
        |SELECT c_mktsegment, count(*) AS n,
        |       round((2.0 * CAST(sum(CAST(i AS HUGEINT) * cents) AS DOUBLE)
        |              - CAST(count(*) + 1 AS DOUBLE) * CAST(sum(cents) AS DOUBLE))
        |             / (CAST(count(*) AS DOUBLE) * CAST(sum(cents) AS DOUBLE)), 6) AS gini
        |  FROM r GROUP BY 1""".stripMargin),
    // linear multi-touch attribution: each purchase's credit split equally
    // across the DISTINCT touch types (view/click) seen in its user's
    // 7 prior days — credits are 1/k with k ≤ 2, so every credit is an
    // exact binary fraction and the sums are exact in any order
    Gate("events_attribution_linear", ((s, d) => {
      val ev = events(s, d)
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("conv_id"), col("user_id"), col("ts").as("cts"))
      val touch = ev.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("event_type").as("touch_type"), col("ts").as("tts"))
      val j = conv.join(touch, Seq("user_id"))
        .filter(col("tts") < col("cts") &&
          col("tts") >= col("cts") - expr("INTERVAL 7 DAYS"))
        .select(col("conv_id"), col("touch_type")).distinct()
      j.withColumn("credit",
          lit(1.0) / count(lit(1)).over(Window.partitionBy("conv_id")))
        .groupBy("touch_type")
        .agg(count(lit(1)).as("n_conversions"), round(sum("credit"), 6).as("credit"))
    }),
      """WITH conv AS (SELECT event_id AS conv_id, user_id, ts AS cts
        |                FROM events WHERE event_type = 'purchase'),
        |touch AS (SELECT user_id, event_type AS touch_type, ts AS tts
        |            FROM events WHERE event_type IN ('view', 'click')),
        |j AS (SELECT DISTINCT conv_id, touch_type
        |        FROM conv JOIN touch USING (user_id)
        |       WHERE tts < cts AND tts >= cts - INTERVAL 7 DAY),
        |c AS (SELECT conv_id, touch_type,
        |             CAST(1.0 AS DOUBLE) / count(*) OVER (PARTITION BY conv_id) AS credit
        |        FROM j)
        |SELECT touch_type, count(*) AS n_conversions, round(sum(credit), 6) AS credit
        |  FROM c GROUP BY 1""".stripMargin),
    // RFM segmentation: per-user recency/frequency/monetary quartile codes
    // via three chained global quantile-bin passes (Sampling.quantileBins —
    // exact interpolated thresholds, ties fall lower); recency in exact
    // microseconds from the corpus max, monetary an exact decimal sum
    Gate("events_rfm_segments", ((s, d) => {
      val ev = events(s, d)
      val mx = broadcast(ev.agg(max(unix_micros(col("ts").cast("timestamp"))).as("mx")))
      val rfm = ev.groupBy("user_id").agg(
        max(unix_micros(col("ts").cast("timestamp"))).as("last_us"),
        count(lit(1)).as("f"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("m"))
      val base = rfm.crossJoin(mx)
        .select(col("user_id"), (col("mx") - col("last_us")).as("r_us"), col("f"), col("m"))
      val binned = Sampling.quantileBins(
        Sampling.quantileBins(
          Sampling.quantileBins(base, "r_us", 4, "r_bin"),
          "f", 4, "f_bin"),
        "m", 4, "m_bin")
      binned.select(col("user_id"), col("r_bin"), col("f_bin"), col("m_bin"),
        concat(col("r_bin").cast("string"), col("f_bin").cast("string"),
          col("m_bin").cast("string")).as("segment"))
    }),
      """WITH rfm AS (SELECT user_id, max(epoch_us(ts)) AS last_us, count(*) AS f,
        |                    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS m
        |               FROM events GROUP BY 1),
        |mx AS (SELECT max(epoch_us(ts)) AS mx FROM events),
        |w AS (SELECT user_id, mx - last_us AS r_us, f, m FROM rfm, mx),
        |tr AS (SELECT quantile_cont(r_us, [0.25, 0.5, 0.75]) AS t FROM w),
        |tf AS (SELECT quantile_cont(f, [0.25, 0.5, 0.75]) AS t FROM w),
        |tm AS (SELECT quantile_cont(m, [0.25, 0.5, 0.75]) AS t FROM w),
        |b AS (SELECT user_id,
        |             1 + len(list_filter(tr.t, x -> r_us > x)) AS r_bin,
        |             1 + len(list_filter(tf.t, x -> f > x)) AS f_bin,
        |             1 + len(list_filter(tm.t, x -> m > x)) AS m_bin
        |        FROM w, tr, tf, tm)
        |SELECT user_id, r_bin, f_bin, m_bin,
        |       CAST(r_bin AS VARCHAR) || CAST(f_bin AS VARCHAR) || CAST(m_bin AS VARCHAR) AS segment
        |  FROM b""".stripMargin),
    // conversion lag: per-user first purchase AFTER the first view, exact
    // microsecond arithmetic (unix_micros ≡ epoch_us), interpolated
    // percentiles over the integral lags — one row out
    Gate("events_conversion_lag", ((s, d) => {
      val ev = events(s, d)
      val fv = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("first_view"))
      val lags = ev.filter(col("event_type") === "purchase")
        .join(fv, "user_id").filter(col("ts") > col("first_view"))
        .groupBy(col("user_id"), col("first_view"))
        .agg(min(unix_micros(col("ts").cast("timestamp"))).as("mb"))
        .select((col("mb") - unix_micros(col("first_view").cast("timestamp"))).as("lag_us"))
      def pct(q: Double, nm: String) =
        round(expr(s"percentile(lag_us, $q)") / 1000000.0, 6).as(nm)
      lags.agg(count(lit(1)).as("n_converted"), pct(0.25, "p25_s"),
        pct(0.5, "p50_s"), pct(0.75, "p75_s"), pct(0.9, "p90_s"))
    }),
      """WITH fv AS (SELECT user_id, min(ts) AS first_view FROM events
        |             WHERE event_type = 'view' GROUP BY 1),
        |lg AS (SELECT e.user_id,
        |              min(epoch_us(e.ts)) - epoch_us(first_view) AS lag_us
        |         FROM events e JOIN fv USING (user_id)
        |        WHERE e.event_type = 'purchase' AND e.ts > first_view
        |        GROUP BY e.user_id, first_view)
        |SELECT count(*) AS n_converted,
        |       round(quantile_cont(lag_us, 0.25) / 1000000.0, 6) AS p25_s,
        |       round(quantile_cont(lag_us, 0.5) / 1000000.0, 6) AS p50_s,
        |       round(quantile_cont(lag_us, 0.75) / 1000000.0, 6) AS p75_s,
        |       round(quantile_cont(lag_us, 0.9) / 1000000.0, 6) AS p90_s
        |  FROM lg""".stripMargin),
    Gate("distinct_counts", ((s, d) =>
      events(s, d).agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("n_types"))),
      "SELECT count(DISTINCT user_id) AS n_users, count(DISTINCT event_type) AS n_types FROM events"),
    // pivot: per-user value totals spread across the 5 event types — one
    // grouped pass, each cell a partial-aggregated sum (users missing a type
    // get NULL, matching the SQL CASE-sum)
    Gate("agg_pivot_event_types", ((s, d) =>
      events(s, d).groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2))),
      """SELECT user_id,
        |       round(CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 2) AS click,
        |       round(CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 2) AS view,
        |       round(CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 2) AS purchase,
        |       round(CAST(sum(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 2) AS signup,
        |       round(CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 2) AS error
        |  FROM events GROUP BY user_id""".stripMargin),
    // exact interpolated quantiles per type (Spark `percentile` ≡ DuckDB
    // `quantile_cont`, both the (n−1)·q linear-interpolation definition;
    // round(6) absorbs summation-order ulps)
    Gate("agg_value_percentiles", ((s, d) =>
      events(s, d).groupBy("event_type").agg(
        round(expr("percentile(value, 0.25)"), 6).as("p25"),
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.75)"), 6).as("p75"))),
      """SELECT event_type,
        |       round(quantile_cont(value, 0.25), 6) AS p25,
        |       round(quantile_cont(value, 0.50), 6) AS p50,
        |       round(quantile_cont(value, 0.75), 6) AS p75
        |  FROM events GROUP BY event_type""".stripMargin),
    // cohort retention: users grouped by first-activity day, distinct-user
    // counts per (cohort, day offset) — two key shuffles, both on user/day
    Gate("agg_user_retention", ((s, d) => {
      val ev = events(s, d).select(col("user_id"),
        date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"))
      val first = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      ev.join(first, "user_id")
        .groupBy(col("cohort_day"),
          datediff(col("day").cast("date"), col("cohort_day").cast("date")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),
      """WITH e AS (SELECT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1)
        |SELECT cohort_day, date_diff('day', CAST(cohort_day AS DATE), CAST(day AS DATE)) AS day_offset,
        |       count(DISTINCT e.user_id) AS n_users
        |  FROM e JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin),
    // first-touch conversion funnel view -> click -> purchase within 7 days
    // of each user's first view; per-step match timestamps ride the hash
    Gate("events_funnel", ((s, d) =>
      graft.ext.Events.funnel(events(s, d), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"), windowSeconds = 604800L)
        .withColumnRenamed("user", "user_id")),
      // first-touch funnel: the same greedy min-filter chain; step k+1
      // strictly after step k, no later than first-view + 7 days
      """WITH f AS (SELECT user_id, event_type, ts FROM events
        |            WHERE event_type IN ('view', 'click', 'purchase')),
        |s1 AS (SELECT user_id, min(ts) AS ts_1 FROM f
        |        WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT s1.user_id, s1.ts_1, min(f.ts) AS ts_2
        |         FROM s1 LEFT JOIN f ON f.user_id = s1.user_id
        |              AND f.event_type = 'click' AND f.ts > s1.ts_1
        |              AND f.ts <= s1.ts_1 + INTERVAL 604800 SECOND
        |        GROUP BY s1.user_id, s1.ts_1),
        |s3 AS (SELECT s2.user_id, s2.ts_1, s2.ts_2, min(f.ts) AS ts_3
        |         FROM s2 LEFT JOIN f ON f.user_id = s2.user_id
        |              AND f.event_type = 'purchase' AND f.ts > s2.ts_2
        |              AND f.ts <= s2.ts_1 + INTERVAL 604800 SECOND
        |        GROUP BY s2.user_id, s2.ts_1, s2.ts_2)
        |SELECT user_id, ts_1, ts_2, ts_3,
        |       1 + (CASE WHEN ts_2 IS NULL THEN 0 ELSE 1 END)
        |         + (CASE WHEN ts_3 IS NULL THEN 0 ELSE 1 END) AS steps_completed,
        |       ts_3 IS NOT NULL AS converted
        |  FROM s3""".stripMargin),
    // contiguous 3-step path mining over per-user timelines (PrefixSpan's
    // n-gram core): occurrence + distinct-user support, min 20 occurrences
    Gate("events_frequent_paths", ((s, d) =>
      graft.ext.Events.frequentPaths(events(s, d), "user_id", "event_type",
        "ts", "event_id", length = 3, minSupport = 20L)),
      // same (ts, event_id) tie order as the transition digraph; support
      // filter on total occurrences, distinct-user support rides along
      """WITH s AS (SELECT user_id, event_type AS step_1,
        |         lead(event_type, 1) OVER w AS step_2,
        |         lead(event_type, 2) OVER w AS step_3
        |    FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT step_1, step_2, step_3, count(*) AS n_occurrences,
        |       count(DISTINCT user_id) AS n_users
        |  FROM s WHERE step_3 IS NOT NULL
        | GROUP BY 1, 2, 3 HAVING count(*) >= 20""".stripMargin),
    Gate("json_extract_props", ((s, d) =>
      events(s, d).select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))),
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events"),
    // ---- keyless time-range join (§2.12): clicks near ANY error within 60 s.
    // Both sides deliberately name their time column `ts` — the canonical
    // event-correlation shape — so the gate exercises the collision-safe
    // internal rename, not just the easy distinct-names case.
    Gate("range_join_events", ((s, d) => {
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("ts"))
      Ops.rangeJoin(clicks, errors, "ts", "ts", java.time.Duration.ofSeconds(60))
        .select("click_id", "error_id")
    }),
      rangeJoinEventsSql),
    // interval-OVERLAP join: click/error SPANS (deterministic variable
    // lengths, event_id % 60 s) that intersect — both sides name their
    // bounds (s, e), exercising the collision-safe rename like range_join
    Gate("interval_join_events", ((s, d) => {
      val ev = events(s, d)
      def spans(tpe: String, idName: String) = ev.filter(col("event_type") === tpe)
        .select(col("event_id").as(idName), col("ts").as("s"),
          expr("ts + make_dt_interval(0, 0, 0, cast(event_id % 60 as double))").as("e"))
      Ops.intervalJoin(spans("click", "click_id"), spans("error", "error_id"),
        "s", "e", "s", "e", java.time.Duration.ofSeconds(60))
        .select("click_id", "error_id")
    }),
      // overlap of [ts, ts + (event_id % 60)s] spans; touching endpoints count
      """WITH c AS (SELECT event_id AS click_id,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) AS s,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) + (event_id % 60) * 1000000 AS e
        |             FROM events WHERE event_type = 'click'),
        |er AS (SELECT event_id AS error_id,
        |              epoch_us(CAST(ts AS TIMESTAMP)) AS s,
        |              epoch_us(CAST(ts AS TIMESTAMP)) + (event_id % 60) * 1000000 AS e
        |         FROM events WHERE event_type = 'error')
        |SELECT click_id, error_id FROM c, er
        | WHERE c.s <= er.e AND er.s <= c.e""".stripMargin),
    // contiguous global ordinals without the Exchange SinglePartition the
    // naive global row_number plans: range-partition + per-partition
    // offsets (two parallel jobs, driver holds only #partitions counts)
    Gate("window_global_ordinal", ((s, d) =>
      Ops.globalOrdinals(docs(s, d).select("doc_id"), Seq(col("doc_id")), numParts = 8)),
      """SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS ordinal
        |  FROM documents""".stripMargin),
    // first-order Markov transition matrix of user behavior: lead() within
    // each user's (ts, event_id)-ordered stream, then (src,dst) counts and
    // per-source probabilities — the behavioral prior behind session
    // simulation and next-event models; one window pass + one agg
    Gate("events_markov_transitions", ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      events(s, d)
        .withColumn("dst_type", lead(col("event_type"), 1).over(w))
        .filter(col("dst_type").isNotNull)
        .groupBy(col("event_type").as("src_type"), col("dst_type"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("prob", round(col("cnt").cast("double") /
          sum("cnt").over(Window.partitionBy("src_type")), 6))
    }),
      """WITH t AS (SELECT event_type AS src_type,
        |                  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst_type
        |             FROM events),
        |c AS (SELECT src_type, dst_type, count(*) AS cnt FROM t
        |       WHERE dst_type IS NOT NULL GROUP BY 1, 2)
        |SELECT src_type, dst_type, cnt,
        |       round(CAST(cnt AS DOUBLE) / sum(cnt) OVER (PARTITION BY src_type), 6) AS prob
        |  FROM c""".stripMargin),
    // market-basket association over per-user event-type sets: support /
    // confidence / lift per ordered type pair. The pair join runs on the
    // DISTINCT (user, type) projection — fan-out bounded by the type
    // vocabulary per user, not event volume — and the per-type support
    // frame broadcasts (it is vocabulary-sized by construction)
    Gate("events_basket_lift", ((s, d) => {
      // cached: the distinct (user, type) projection feeds the user count,
      // the support frame, and both pair-join sides — four consumers
      val ut = graft.ext.Caches.track(
        events(s, d).select(col("user_id"), col("event_type")).distinct())
      val n = ut.select(countDistinct("user_id").as("n"))
      val supp = ut.groupBy("event_type").agg(count(lit(1)).as("s1"))
      ut.select(col("user_id"), col("event_type").as("ta"))
        .join(ut.select(col("user_id"), col("event_type").as("tb")), "user_id")
        .filter(col("ta") < col("tb"))
        .groupBy("ta", "tb").agg(count(lit(1)).as("supp_ab"))
        .join(broadcast(supp.select(col("event_type").as("ta"), col("s1").as("supp_a"))), "ta")
        .join(broadcast(supp.select(col("event_type").as("tb"), col("s1").as("supp_b"))), "tb")
        .crossJoin(broadcast(n))
        .select(col("ta"), col("tb"), col("supp_ab"), col("supp_a"), col("supp_b"),
          round(col("supp_ab").cast("double") / col("supp_a"), 6).as("confidence"),
          round(col("supp_ab").cast("double") * col("n") /
            (col("supp_a") * col("supp_b")), 6).as("lift"))
    }),
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |n AS (SELECT count(DISTINCT user_id) AS n FROM ut),
        |s AS (SELECT event_type, count(*) AS s1 FROM ut GROUP BY 1),
        |p AS (SELECT x.event_type AS ta, y.event_type AS tb, count(*) AS supp_ab
        |        FROM ut x JOIN ut y ON x.user_id = y.user_id AND x.event_type < y.event_type
        |       GROUP BY 1, 2)
        |SELECT ta, tb, supp_ab, sa.s1 AS supp_a, sb.s1 AS supp_b,
        |       round(CAST(supp_ab AS DOUBLE) / sa.s1, 6) AS confidence,
        |       round(CAST(supp_ab AS DOUBLE) * n.n / (sa.s1 * sb.s1), 6) AS lift
        |  FROM p JOIN s sa ON p.ta = sa.event_type
        |         JOIN s sb ON p.tb = sb.event_type, n""".stripMargin),
    // gaps-and-islands: maximal runs of consecutive active DAYS per user
    // (the classic day - row_number() constant-group trick) — streak
    // detection for engagement/retention cohorts; one window pass, one agg
    Gate("window_gap_islands", ((s, d) => {
      val days = events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      days.withColumn("grp", date_sub(col("day"), row_number().over(w)))
        .groupBy("user_id", "grp")
        .agg(min("day").as("island_start"), max("day").as("island_end"),
          count(lit(1)).as("n_days"))
        .select("user_id", "island_start", "island_end", "n_days")
    }),
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |g AS (SELECT user_id, day,
        |             day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INT) AS grp
        |        FROM days)
        |SELECT user_id, min(day) AS island_start, max(day) AS island_end,
        |       count(*) AS n_days
        |  FROM g GROUP BY user_id, grp""".stripMargin),
    // gated output is posexploded to scalar (label, idx, value) rows — the
    // driver's checker cannot sort/hash array<double> columns
    Gate("agg_label_centroids", ((s, d) =>
      ext.Aggregators.labelCentroids(s, emb(s, d))
        .select(col("label"), posexplode(col("centroid")))
        .select(col("label"), col("pos").cast("long").as("idx"), col("col").as("value"))),
      """SELECT label, CAST(idx - 1 AS BIGINT) AS idx, round(avg(val), 6) AS value FROM (
        |  SELECT label, unnest(embedding::DOUBLE[]) AS val,
        |         generate_subscripts(embedding, 1) AS idx FROM embeddings) t
        |GROUP BY label, idx""".stripMargin),
    Gate("agg_user_sessions", ((s, d) => {
      // batch analog of streaming sessionize: gap-based sessions via
      // lag + cumulative session-break sum, then per-user rollup
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val sess = events(s, d)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts") > col("prev_ts") + expr("INTERVAL 1800 SECONDS"), 1).otherwise(0))
        .withColumn("session_id", sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sess.groupBy("user_id", "session_id").agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), max(col("n")).as("longest_session"))
    }),
      userSessionsSql),
    // the Misra–Gries sketch gated in its EXACT regime: capacity above the
    // corpus' distinct-token count means no counter ever decrements and no
    // merge ever shrinks, so the sketch IS `GROUP BY token / count(*)` —
    // DuckDB-expressible; the approximate regime's ±n/(capacity+1) bounds
    // stay spec-pinned (AggregatorsSpec)
    Gate("agg_frequent_tokens", ((s, d) =>
      ext.Aggregators.frequentTokens(s, docs(s, d), capacity = 1 << 17)),
      // exact-regime Misra–Gries (capacity > distinct tokens) ≡ GROUP BY
      """SELECT tok AS token, count(*) AS est_count
        |  FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS tok FROM documents) t
        | GROUP BY tok""".stripMargin),
    // Herfindahl–Hirschman revenue concentration per segment: exact
    // Σcᵢ²/S² over integer customer-revenue cents — one division total
    Gate("agg_hhi_segments", ((s, d) => {
      val cust = orders(s, d)
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("c_custkey"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        .groupBy("c_mktsegment", "c_custkey")
        .agg(sum("cents").cast("decimal(38,0)").as("ci"))
      cust.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("ci") * col("ci")).as("__sq"), sum("ci").as("__s"))
        .select(col("c_mktsegment"), col("n_customers"),
          round(col("__sq").cast("double") /
            (col("__s").cast("double") * col("__s").cast("double")), 6).as("hhi"))
    }),
      // Σcᵢ²/S² with HUGEINT squares, one double division
      """WITH cu AS (SELECT c_mktsegment, c_custkey,
        |                   sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS ci
        |              FROM orders JOIN customer ON o_custkey = c_custkey
        |             GROUP BY 1, 2)
        |SELECT c_mktsegment, count(*) AS n_customers,
        |       round(CAST(sum(CAST(ci AS HUGEINT) * ci) AS DOUBLE)
        |             / (CAST(sum(ci) AS DOUBLE) * CAST(sum(ci) AS DOUBLE)), 6) AS hhi
        |  FROM cu GROUP BY 1""".stripMargin),
    // Theil–Sen robust daily-volume trend per event type: median of all
    // pairwise day-slopes over the zero-filled day grid
    Gate("ts_trend_theil_sen", ((s, d) =>
      graft.ext.TimeSeries.theilSenTrend(events(s, d), "event_type", "ts")),
      // identical grid fill + per-pair IEEE slope + interpolated median
      """WITH daily AS (SELECT event_type AS k, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
        |                      count(*) AS x
        |                 FROM events GROUP BY 1, 2),
        |g AS (SELECT k, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day
        |        FROM (SELECT k, min(day) AS mn, max(day) AS mx FROM daily GROUP BY 1)),
        |f AS (SELECT g.k, g.day, coalesce(x, 0) AS x
        |        FROM g LEFT JOIN daily ON g.k = daily.k AND g.day = daily.day),
        |dd AS (SELECT k, datediff('day', min(day) OVER (PARTITION BY k), day) AS d, x
        |         FROM f),
        |p AS (SELECT a.k, CAST(b.x - a.x AS DOUBLE) / (b.d - a.d) AS s
        |        FROM dd a JOIN dd b ON a.k = b.k AND a.d < b.d)
        |SELECT k AS event_type, count(*) AS n_pairs,
        |       round(quantile_cont(s, 0.5), 6) AS slope
        |  FROM p GROUP BY 1""".stripMargin),
    // Theil T inequality per market segment beside the Gini gate: exact
    // integer cents, per-row (x·n/Σx)·ln(x·n/Σx) terms, one grouped sum
    Gate("agg_theil_index", ((s, d) => {
      val j = orders(s, d)
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      val tot = j.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum("cents").as("sx"))
      val r = col("cents").cast("double") * col("n").cast("double") /
        col("sx").cast("double")
      j.join(broadcast(tot), Seq("c_mktsegment"))
        .groupBy(col("c_mktsegment"))
        .agg(max(col("n")).as("n"),
          round(sum(r * log(r)) / max(col("n")).cast("double"), 6).as("theil"))
    }),
      // identical per-row double term (x·n/Σx)·ln(...), one grouped sum
      """WITH j AS (SELECT c_mktsegment,
        |                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |             FROM orders JOIN customer ON o_custkey = c_custkey),
        |t AS (SELECT c_mktsegment, count(*) AS n, sum(cents) AS sx FROM j GROUP BY 1)
        |SELECT j.c_mktsegment, max(n) AS n,
        |       round(sum((CAST(cents AS DOUBLE) * CAST(n AS DOUBLE) / CAST(sx AS DOUBLE))
        |                 * ln(CAST(cents AS DOUBLE) * CAST(n AS DOUBLE) / CAST(sx AS DOUBLE)))
        |             / CAST(max(n) AS DOUBLE), 6) AS theil
        |  FROM j JOIN t USING (c_mktsegment) GROUP BY 1""".stripMargin),
    // one-sided CUSUM level-shift chart per event type: the sequential
    // change detector for sustained small feed shifts the per-day z-score
    // misses; exact integer deviations via n-scaling, closed-form
    // prefix-sum/running-min windows (never the raw recursion)
    Gate("ts_cusum_shift", ((s, d) =>
      graft.ext.TimeSeries.cusumShift(events(s, d), "event_type", "ts",
        slackPerDay = 2L, threshold = 5.0)),
      // closed-form CUSUM: P_i − min(0, min prefix P) over n-scaled integer
      // deviations; generate_series densifies gap days to real zeros
      """WITH daily AS (SELECT event_type AS k, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
        |                      count(*) AS x
        |                 FROM events GROUP BY 1, 2),
        |g AS (SELECT k, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day
        |        FROM (SELECT k, min(day) AS mn, max(day) AS mx FROM daily GROUP BY 1)),
        |f AS (SELECT g.k, g.day, coalesce(x, 0) AS x
        |        FROM g LEFT JOIN daily ON g.k = daily.k AND g.day = daily.day),
        |t AS (SELECT k, day, x,
        |             count(*) OVER (PARTITION BY k) AS n,
        |             sum(x) OVER (PARTITION BY k) AS sx
        |        FROM f),
        |c AS (SELECT k, day, x, n,
        |             sum(CAST(n AS HUGEINT) * x - sx - n * 2)
        |               OVER (PARTITION BY k ORDER BY day) AS cum
        |        FROM t),
        |m AS (SELECT k, day, x, n, cum,
        |             least(min(cum) OVER (PARTITION BY k ORDER BY day), 0) AS mp
        |        FROM c)
        |SELECT k AS event_type, day, x AS n_events,
        |       round(CAST(cum - mp AS DOUBLE) / CAST(n AS DOUBLE), 6) AS cusum,
        |       CAST(cum - mp AS DOUBLE) > 5.0 * n AS shift_alarm
        |  FROM m""".stripMargin)
  )
}
