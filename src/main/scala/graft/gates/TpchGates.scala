package graft
package gates

import graft.Queries._
import graft.io.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The TPC-H analytics the extension surface builds on (`q*`).
 */
object TpchGates {

  val gates: Seq[Gate] = Seq(
    // ---- general analytics the extension surface builds on (§2.12) ----
    Gate("q1_pricing_summary", ((s, d) => {
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      li(s, d).filter(col("l_shipdate") <= lit(java.time.LocalDateTime.of(1998, 9, 1, 0, 0)))
        .groupBy("l_returnflag", "l_linestatus")
        // exact decimal math INTERNALLY, but the COMPARED representation is
        // round(CAST(sum AS DOUBLE), native scale): decimal128(38,x) output
        // hash-mismatched at the driver for three straight rounds despite
        // arrow-level bit-identity (r3 verdict) — doubles behind round() are
        // the representation the gate demonstrably hashes reliably
        // (stream_windowed_counts, agg_label_centroids). Rounding at the
        // sum's native scale never hits a .xx5 boundary, so HALF_UP-vs-
        // banker's divergence between engines cannot trigger.
        .agg(
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2).as("sum_qty"),
          round(sum(price).cast("double"), 2).as("sum_base_price"),
          round(sum(price * (lit(BigDecimal(1)) - disc)).cast("double"), 4).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),
      // sums compared as round(double, native scale) — see the query comment
      """SELECT l_returnflag, l_linestatus,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS sum_disc_price,
        |       count(*) AS count_order
        |  FROM lineitem
        | WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        | GROUP BY l_returnflag, l_linestatus""".stripMargin),
    Gate("q3_shipping_priority", ((s, d) => {
      // TPC-H Q3 shape: revenue per order for one segment, top 10 — exercises
      // a 3-way join (dim broadcast), grouped agg, deterministic top-k
      val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = orders(s, d).filter(col("o_orderdate") < lit(java.time.LocalDateTime.of(1998, 3, 15, 0, 0)))
      val l = li(s, d).filter(col("l_shipdate") > lit(java.time.LocalDateTime.of(1998, 3, 15, 0, 0)))
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(price * (lit(BigDecimal(1)) - disc)).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |       sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        | WHERE c_mktsegment = 'BUILDING'
        |   AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |   AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        | GROUP BY l_orderkey, o_orderdate, o_orderpriority
        | ORDER BY revenue DESC, l_orderkey
        | LIMIT 10""".stripMargin),
    // TPC-H Q5 shape: local-supplier revenue per nation for one region-year —
    // the classic 6-table join-reorder/broadcast exercise. The fact join
    // (lineitem × orders) shuffles on the order key; customer, supplier,
    // nation, and region are all broadcast dims, and the "local" condition
    // (c_nationkey = s_nationkey) rides the supplier broadcast join
    Gate("q5_local_supplier_volume", ((s, d) => {
      val o = orders(s, d)
        .filter(col("o_orderdate") >= lit(java.time.LocalDateTime.of(1996, 1, 1, 0, 0)) &&
          col("o_orderdate") < lit(java.time.LocalDateTime.of(1997, 1, 1, 0, 0)))
      val n = Tables.load(s, d, "nation")
      val r = Tables.load(s, d, "region").filter(col("r_name") === "ASIA")
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      li(s, d).join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.load(s, d, "supplier")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(price * (lit(BigDecimal(1)) - disc)).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),
      """SELECT n_name,
        |       sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        | WHERE r_name = 'ASIA'
        |   AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |   AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        | GROUP BY n_name
        | ORDER BY revenue DESC, n_name""".stripMargin),
    // TPC-H Q18 shape (large-volume orders): the HAVING aggregation IS the
    // carried value, so the big-order set joins back once instead of
    // re-aggregating lineitem; quantities are integral doubles, so the sum
    // is exact in any accumulation order and the > cut cannot flap
    Gate("q18_large_orders", ((s, d) => {
      val big = li(s, d).groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 280.0)
      orders(s, d).join(big, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
        .limit(100)
    }),
      """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS total_qty
        |               FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 280)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
        |  FROM orders JOIN big ON o_orderkey = l_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        | ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        | LIMIT 100""".stripMargin),
    // TPC-H Q6 shape (forecast-revenue change): the pure scan-side query —
    // every predicate pushes to the parquet reader, no join, one global
    // decimal sum. Decimal(18,2)×Decimal(18,2) sums land on DECIMAL(38,4)
    // in both engines, so the raw decimal compares exactly (q3/q5 pattern)
    Gate("q6_forecast_revenue", ((s, d) =>
      li(s, d)
        .filter(col("l_shipdate") >= lit(java.time.LocalDateTime.of(1996, 1, 1, 0, 0)) &&
          col("l_shipdate") < lit(java.time.LocalDateTime.of(1997, 1, 1, 0, 0)) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24.0)
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          col("l_discount").cast("decimal(18,2)")).as("revenue"))),
      """SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS revenue
        |  FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |   AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |   AND l_discount BETWEEN 0.05 AND 0.07
        |   AND l_quantity < 24""".stripMargin),
    // TPC-H Q10 shape (returned items): one quarter of orders, only
    // R-flagged lines, revenue per customer, top 20 — fact×fact shuffle
    // join on the order key, customer and nation ride broadcasts
    Gate("q10_returned_items", ((s, d) => {
      val o = orders(s, d)
        .filter(col("o_orderdate") >= lit(java.time.LocalDateTime.of(1996, 1, 1, 0, 0)) &&
          col("o_orderdate") < lit(java.time.LocalDateTime.of(1996, 4, 1, 0, 0)))
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      li(s, d).filter(col("l_returnflag") === "R")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.load(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        // round(CAST(sum AS DOUBLE), 4): the exact decimal sum is identical
        // in both engines; hashing the rounded double sidesteps the wide-
        // decimal canonicalization that forked the r17 hash (q1 pattern).
        // Documented deviation (r18 ADVICE): ORDERING is on the rounded
        // value, so two customers whose exact revenues differ by < 5e-5
        // tie here and break on c_custkey, where exact-decimal TPC-H
        // ranking could order them the other way — both engines apply the
        // identical rule, so the gate is stable; the exact sums at these
        // SFs differ by cents, far above the rounding grain
        .agg(round(sum(price * (lit(BigDecimal(1)) - disc)).cast("double"), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        | WHERE l_returnflag = 'R'
        |   AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |   AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
        | GROUP BY c_custkey, c_name, c_acctbal, n_name
        | ORDER BY revenue DESC, c_custkey
        | LIMIT 20""".stripMargin),
    // TPC-H Q13 shape (customer order-count distribution): the classic
    // left-outer + double aggregation — zero-order customers MUST appear
    // in the c_count=0 bucket, which is exactly what the outer join
    // preserves and an inner join would silently drop
    Gate("q13_order_count_distribution", ((s, d) =>
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey")).agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)),
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |   GROUP BY c_custkey) x
        | GROUP BY c_count
        | ORDER BY custdist DESC, c_count DESC""".stripMargin),
    // TPC-H Q14 shape (promo-revenue share): one month of lineitem against
    // the part dim (broadcast), CASE-gated revenue ratio; the division
    // happens on DOUBLES cast from exact decimal sums, so both engines
    // perform the identical IEEE op on identical operands
    Gate("q14_promo_effect", ((s, d) => {
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      val rev = price * (lit(BigDecimal(1)) - disc)
      li(s, d)
        .filter(col("l_shipdate") >= lit(java.time.LocalDateTime.of(1996, 3, 1, 0, 0)) &&
          col("l_shipdate") < lit(java.time.LocalDateTime.of(1996, 4, 1, 0, 0)))
        .join(broadcast(Tables.load(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) * sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(BigDecimal(0)))).cast("double") /
          sum(rev).cast("double"), 6).as("promo_share"))
    }),
      """SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |           THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |           ELSE 0 END) AS DOUBLE)
        |         / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
        |         6) AS promo_share
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        | WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |   AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'""".stripMargin),
    // TPC-H Q19 shape (discounted revenue, OR-of-ANDs): three disjunct
    // brand/size/quantity branches over the part join — the classic
    // "OR does not kill pushdown" exercise: the common l_partkey join key
    // still hashes, and the disjunction evaluates post-join in codegen
    Gate("q19_discounted_revenue", ((s, d) => {
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      val branch =
        (col("p_brand") === "Brand#11" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1.0, 20.0)) ||
        (col("p_brand") === "Brand#22" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10.0, 30.0)) ||
        (col("p_brand") === "Brand#13" && col("p_size").between(1, 50) &&
          col("l_quantity").between(20.0, 40.0))
      li(s, d)
        .join(broadcast(Tables.load(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .filter(branch)
        .agg(sum(price * (lit(BigDecimal(1)) - disc)).as("revenue"))
    }),
      """SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        | WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
        |    OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
        |    OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 50 AND l_quantity BETWEEN 20 AND 40)""".stripMargin),
    // TPC-H Q22 shape (idle balances): customers above the positive-balance
    // average with NO RECENT orders (none since 2001), per nation. The
    // scalar cutoff is an EXACT decimal sum cast to double ONCE (identical
    // IEEE division both engines — no ulp flap at the > boundary),
    // broadcast as a one-row frame; the no-recent-order test is a
    // left-anti join against the date-pruned order scan, never NOT IN
    Gate("q22_idle_balances", ((s, d) => {
      val c = customer(s, d)
      val cutoff = broadcast(c.filter(col("c_acctbal") > 0.0)
        .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
          count(lit(1))).as("cutoff")))
      val recent = orders(s, d)
        .filter(col("o_orderdate") >= lit(java.time.LocalDateTime.of(2001, 1, 1, 0, 0)))
      c.crossJoin(cutoff).filter(col("c_acctbal") > col("cutoff"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(Tables.load(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("numcust"),
          round(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2).as("totacctbal"))
    }),
      """WITH cut AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS cutoff
        |               FROM customer WHERE c_acctbal > 0)
        |SELECT n_name, count(*) AS numcust,
        |       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS totacctbal
        |  FROM customer, cut
        |  JOIN nation ON c_nationkey = n_nationkey
        | WHERE c_acctbal > cutoff
        |   AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                      AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
        | GROUP BY n_name""".stripMargin),
    // TPC-H Q7 shape (volume shipping): bilateral trade between two
    // nations by ship year — the two-role nation-dim exercise (the same
    // dim joins twice under different keys); the OR couples the two
    // role filters so it evaluates post-join, on broadcast-joined rows
    Gate("q7_volume_shipping", ((s, d) => {
      val nat = Tables.load(s, d, "nation")
      val n1 = nat.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = nat.select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      li(s, d)
        .filter(col("l_shipdate") >= lit(java.time.LocalDateTime.of(1996, 1, 1, 0, 0)) &&
          col("l_shipdate") < lit(java.time.LocalDateTime.of(1998, 1, 1, 0, 0)))
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.load(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
          (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
        .agg(sum(price * (lit(BigDecimal(1)) - disc)).as("revenue"))
    }),
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       EXTRACT(YEAR FROM l_shipdate) AS l_year,
        |       sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        | WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |   AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |   AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |     OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        | GROUP BY 1, 2, 3""".stripMargin),
    // TPC-H Q8 shape (national market share): one supplier nation's share
    // of a region+part-type market by order year — CASE-gated revenue
    // ratio per group, sums exact decimal, the division on cast doubles
    Gate("q8_market_share", ((s, d) => {
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      val rev = price * (lit(BigDecimal(1)) - disc)
      val p = Tables.load(s, d, "part").filter(col("p_type") === "ECONOMY").select("p_partkey")
      val r = Tables.load(s, d, "region").filter(col("r_name") === "ASIA")
      val nat = Tables.load(s, d, "nation")
      val n2 = nat.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      li(s, d)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(orders(s, d)
          .filter(col("o_orderdate") >= lit(java.time.LocalDateTime.of(1995, 1, 1, 0, 0)) &&
            col("o_orderdate") < lit(java.time.LocalDateTime.of(1997, 1, 1, 0, 0))),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(Tables.load(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(round(sum(when(col("supp_nation") === "NATION_3", rev)
            .otherwise(lit(BigDecimal(0)))).cast("double") /
          sum(rev).cast("double"), 6).as("mkt_share"))
    }),
      """SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
        |       round(CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
        |                 THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |                 ELSE 0 END) AS DOUBLE)
        |             / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
        |             6) AS mkt_share
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        | WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
        |   AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |   AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        | GROUP BY 1""".stripMargin),
    // TPC-H Q15 shape (top supplier): quarter revenue per supplier, the
    // argmax selected by an exact-decimal equality against a broadcast
    // one-row max — never a global sort; the revenue agg is cache-tracked
    // (it feeds both the max and the final filter)
    Gate("q15_top_supplier", ((s, d) => {
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      val rev = graft.ext.Caches.track(
        li(s, d)
          .filter(col("l_shipdate") >= lit(java.time.LocalDateTime.of(1996, 1, 1, 0, 0)) &&
            col("l_shipdate") < lit(java.time.LocalDateTime.of(1996, 4, 1, 0, 0)))
          .groupBy(col("l_suppkey"))
          .agg(sum(price * (lit(BigDecimal(1)) - disc)).as("total_revenue")))
      val mx = broadcast(rev.agg(max(col("total_revenue")).as("mx")))
      rev.crossJoin(mx).filter(col("total_revenue") === col("mx"))
        .join(broadcast(Tables.load(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
    }),
      """WITH rev AS (SELECT l_suppkey,
        |                    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
        |               FROM lineitem
        |              WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |                AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        |              GROUP BY 1),
        |mx AS (SELECT max(total_revenue) AS m FROM rev)
        |SELECT s_suppkey, s_name, total_revenue
        |  FROM rev, mx JOIN supplier ON l_suppkey = s_suppkey
        | WHERE total_revenue = m""".stripMargin),
    // TPC-H Q17 shape (small-quantity revenue): the correlated per-part
    // average decorrelated into a grouped cutoff frame joined back — the
    // cutoff is (0.2·Σqty)/n on INTEGRAL-double sums (exact in any
    // accumulation order), so the < boundary cannot ulp-flap
    Gate("q17_small_quantity_revenue", ((s, d) => {
      val bp = Tables.load(s, d, "part")
        .filter(col("p_brand") === "Brand#13").select("p_partkey")
      val l = graft.ext.Caches.track(
        li(s, d).join(broadcast(bp), col("l_partkey") === col("p_partkey")))
      val cut = l.groupBy(col("l_partkey").as("pk"))
        .agg((lit(0.2) * sum(col("l_quantity")) / count(lit(1))).as("cutoff"))
      l.join(cut, col("l_partkey") === col("pk"))
        .filter(col("l_quantity") < col("cutoff"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") / 7.0, 2)
          .as("avg_yearly"))
    }),
      """WITH l AS (SELECT l_partkey, l_quantity, l_extendedprice
        |             FROM lineitem JOIN part ON l_partkey = p_partkey
        |            WHERE p_brand = 'Brand#13'),
        |cut AS (SELECT l_partkey AS pk, 0.2 * sum(l_quantity) / count(*) AS cutoff
        |          FROM l GROUP BY 1)
        |SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2) AS avg_yearly
        |  FROM l JOIN cut ON l_partkey = pk
        | WHERE l_quantity < cutoff""".stripMargin),
    // TPC-H Q2 shape (min-cost supplier): groupwise-min correlated subquery
    // decorrelated into a window min — the fixture has no partsupp, so the
    // part×supplier "catalog" is DERIVED from lineitem (unit cost = min
    // observed l_extendedprice/l_quantity per pair; identical IEEE division
    // both engines). One shuffle builds the catalog, the window min rides
    // the same partkey partitioning; all dims broadcast
    Gate("q2_min_cost_supplier", ((s, d) => {
      val sup = Tables.load(s, d, "supplier")
      val nat = Tables.load(s, d, "nation")
      val eur = sup
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.load(s, d, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val cat = li(s, d)
        .join(broadcast(eur.select("s_suppkey")), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
      val w = Window.partitionBy("l_partkey")
      val p = Tables.load(s, d, "part")
        .filter(col("p_size").isin(15, 25, 35) && col("p_type").isin("LARGE", "SMALL"))
        .select("p_partkey")
      cat.withColumn("best", min(col("unit_cost")).over(w))
        .filter(col("unit_cost") === col("best"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(eur), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
          col("unit_cost"))
        .orderBy(col("s_acctbal").desc, col("p_partkey"), col("s_name"))
        .limit(100)
    }),
      """WITH cat AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
        |    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN nation ON s_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |   WHERE r_name = 'EUROPE'
        |   GROUP BY 1, 2),
        |win AS (SELECT *, min(unit_cost) OVER (PARTITION BY l_partkey) AS best FROM cat)
        |SELECT s_acctbal, s_name, n_name, p_partkey, unit_cost
        |  FROM win JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        | WHERE unit_cost = best
        |   AND p_size IN (15, 25, 35) AND p_type IN ('LARGE', 'SMALL')
        | ORDER BY s_acctbal DESC, p_partkey, s_name
        | LIMIT 100""".stripMargin),
    // TPC-H Q4 shape (priority checking): EXISTS decorrelated to a
    // left-semi join with a NON-EQUI residual (the fixture has no
    // commit/receipt dates, so "late" = shipped >60 days after the order
    // date); the semi join still hashes on the order key, the residual
    // evaluates per matched pair — no nested loop
    Gate("q4_priority_late_ship", ((s, d) => {
      val o = orders(s, d)
        .filter(col("o_orderdate") >= lit(java.time.LocalDateTime.of(1996, 7, 1, 0, 0)) &&
          col("o_orderdate") < lit(java.time.LocalDateTime.of(1996, 10, 1, 0, 0)))
      o.join(li(s, d).select("l_orderkey", "l_shipdate"),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),
      """SELECT o_orderpriority, count(*) AS order_count
        |  FROM orders
        | WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |   AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
        |   AND EXISTS (SELECT 1 FROM lineitem
        |                WHERE l_orderkey = o_orderkey
        |                  AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        | GROUP BY 1 ORDER BY 1""".stripMargin),
    // TPC-H Q9 shape (product-type profit by nation/year): 4-way join with
    // a LIKE part filter, profit = revenue − cost where cost is a
    // retail-price proxy (no partsupp supplycost in the fixture — 0.8·
    // p_retailprice·qty, documented). Both sums stay EXACT decimal through
    // the agg; the subtraction and 0.8 scale happen ONCE per group on cast
    // doubles (identical IEEE ops both engines — no rounding needed)
    Gate("q9_nation_profit", ((s, d) => {
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      val p = Tables.load(s, d, "part")
        .filter(col("p_name").like("%widget%"))
        .select(col("p_partkey"), col("p_retailprice").cast("decimal(18,2)").as("retail"))
      li(s, d)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.load(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(orders(s, d).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.load(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
        .agg((sum(price * (lit(BigDecimal(1)) - disc)).cast("double") -
          lit(0.8) * sum(col("retail") * col("l_quantity").cast("decimal(18,2)"))
            .cast("double")).as("profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),
      """SELECT n_name AS nation, EXTRACT(YEAR FROM o_orderdate) AS o_year,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |       - 0.8 * CAST(sum(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |         AS profit
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN nation ON s_nationkey = n_nationkey
        | WHERE p_name LIKE '%widget%'
        | GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin),
    // TPC-H Q11 shape (important stock values): per-part value vs a GLOBAL
    // scalar threshold — the scalar is an exact decimal sum divided once
    // on doubles (mean-relative, so the gate is non-degenerate at every
    // SF), broadcast as a one-row frame against the cache-tracked value
    // aggregation that feeds both sides
    Gate("q11_important_values", ((s, d) => {
      val sup = Tables.load(s, d, "supplier")
        .join(broadcast(Tables.load(s, d, "nation")
          .filter(col("n_name").isin("NATION_5", "NATION_6", "NATION_7", "NATION_8"))),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val value = graft.ext.Caches.track(
        li(s, d)
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("l_partkey"))
          .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("value")))
      val cut = broadcast(value.agg(
        (lit(1.5) * sum(col("value")).cast("double") / count(lit(1))).as("cutoff")))
      // the exact decimal sum drives the cutoff compare and the sort; the
      // OUTPUT is round(CAST(sum AS DOUBLE), native scale) — wide-decimal
      // (38,2) dumps have hash-mismatched at the driver even when locally
      // bit-identical (r3 forensics), rounded doubles never have
      value.crossJoin(cut)
        .filter(col("value").cast("double") > col("cutoff"))
        .select(col("l_partkey"), round(col("value").cast("double"), 2).as("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    }),
      """WITH val AS (
        |  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS value
        |    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN nation ON s_nationkey = n_nationkey
        |   WHERE n_name IN ('NATION_5','NATION_6','NATION_7','NATION_8')
        |   GROUP BY 1)
        |SELECT l_partkey, round(CAST(value AS DOUBLE), 2) AS value FROM val
        | WHERE CAST(value AS DOUBLE) > 1.5 * (SELECT CAST(sum(value) AS DOUBLE) / count(*) FROM val)
        | ORDER BY value DESC, l_partkey""".stripMargin),
    // TPC-H Q12 shape (late lines by class): CASE-gated dual counts per
    // line class (the fixture has no shipmode — l_returnflag stands in),
    // the "late" residual is the same non-equi ship-vs-order-date test as
    // q4; counts via count(CASE) so both engines emit BIGINT (DuckDB
    // sum(int) would widen to HUGEINT and hash-mismatch)
    Gate("q12_late_lines_by_flag", ((s, d) => {
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      orders(s, d)
        .filter(col("o_orderdate") >= lit(java.time.LocalDateTime.of(1996, 1, 1, 0, 0)) &&
          col("o_orderdate") < lit(java.time.LocalDateTime.of(1997, 1, 1, 0, 0)))
        .join(li(s, d).select("l_orderkey", "l_returnflag", "l_shipdate"),
          col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy(col("l_returnflag"))
        .agg(count(when(hi, 1)).as("high_line_count"),
          count(when(!hi, 1)).as("low_line_count"))
        .orderBy(col("l_returnflag"))
    }),
      """SELECT l_returnflag,
        |       count(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END) AS high_line_count,
        |       count(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 END) AS low_line_count
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        | WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
        |   AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |   AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        | GROUP BY 1 ORDER BY 1""".stripMargin),
    // TPC-H Q16 shape (supplier variety by part attrs): COUNT DISTINCT per
    // attribute triple with a NOT-IN supplier exclusion — the exclusion is
    // a broadcast left-anti (keys non-null by construction, so NOT IN ≡
    // anti join); the part/supplier relation is DERIVED from lineitem
    // (no partsupp in the fixture)
    Gate("q16_supplier_variety", ((s, d) => {
      val excluded = Tables.load(s, d, "supplier")
        .filter(col("s_acctbal") < 0.0).select("s_suppkey")
      val p = Tables.load(s, d, "part")
        .filter(col("p_brand") =!= "Brand#15" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 9, 14, 23, 36, 45, 49, 50))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      li(s, d).select("l_partkey", "l_suppkey")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }),
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        | WHERE p_brand <> 'Brand#15' AND p_type <> 'PROMO'
        |   AND p_size IN (1, 9, 14, 23, 36, 45, 49, 50)
        |   AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        | GROUP BY 1, 2, 3
        | ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),
    // TPC-H Q20 shape (bulk suppliers): the nested IN chain — suppliers in
    // a nation set whose (supplier, part) shipped volume of a LIKE-filtered
    // part family crossed a HAVING threshold in a year; the inner agg
    // shrinks to distinct suppkeys BEFORE the semi join, dims broadcast
    Gate("q20_bulk_suppliers", ((s, d) => {
      val reds = Tables.load(s, d, "part")
        .filter(col("p_name").like("red%")).select("p_partkey")
      val bulky = li(s, d)
        .filter(col("l_shipdate") >= lit(java.time.LocalDateTime.of(1996, 1, 1, 0, 0)) &&
          col("l_shipdate") < lit(java.time.LocalDateTime.of(1997, 1, 1, 0, 0)))
        .join(broadcast(reds), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity")).as("qty"))
        .filter(col("qty") > 25.0)
        .select("l_suppkey").distinct()
      Tables.load(s, d, "supplier")
        .join(broadcast(Tables.load(s, d, "nation")
          .filter(col("n_name").isin("NATION_3", "NATION_7", "NATION_11", "NATION_15"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(bulky, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_name"), col("s_suppkey"))
        .orderBy(col("s_suppkey"))
    }),
      """SELECT s_name, s_suppkey FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        | WHERE n_name IN ('NATION_3','NATION_7','NATION_11','NATION_15')
        |   AND s_suppkey IN (
        |     SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
        |      WHERE p_name LIKE 'red%'
        |        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |      GROUP BY l_suppkey, l_partkey
        |     HAVING sum(l_quantity) > 25)
        | ORDER BY s_suppkey""".stripMargin),
    // TPC-H Q21 shape (suppliers who kept orders waiting): the classic
    // EXISTS + NOT-EXISTS self-join pair — "my line shipped late AND the
    // order had another supplier AND no other supplier shipped after me",
    // decorrelated to a left-semi then a left-anti on the order key with
    // non-equi residuals; the late test is ship > order date + 45 days
    // (no receipt/commit dates in the fixture)
    Gate("q21_waiting_suppliers", ((s, d) => {
      // all three roles (the late line, the other-supplier EXISTS probe, the
      // shipped-after NOT-EXISTS probe) only ever see lines of F orders —
      // join lineitem to the F filter ONCE, cache it, and derive the three
      // sides from the cached frame (the naive form re-scanned and re-joined
      // the full fact three times: 11× wall at 30× data; this form is ~3×)
      val fLines = graft.ext.Caches.track(
        li(s, d).select("l_orderkey", "l_suppkey", "l_shipdate")
          .join(orders(s, d).filter(col("o_orderstatus") === "F")
            .select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
            col("o_orderdate")))
      val base = fLines
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 45 DAYS"))
      val l2 = fLines.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
      val l3 = fLines.select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"),
        col("l_shipdate").as("sd3"))
      base
        .join(l2, col("l_orderkey") === col("ok2") && col("l_suppkey") =!= col("sk2"),
          "left_semi")
        .join(l3, col("l_orderkey") === col("ok3") && col("l_suppkey") =!= col("sk3") &&
          col("sd3") > col("l_shipdate"), "left_anti")
        .join(broadcast(Tables.load(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }),
      """SELECT s_name, count(*) AS numwait
        |  FROM lineitem l1
        |  JOIN orders ON l1.l_orderkey = o_orderkey
        |  JOIN supplier ON l1.l_suppkey = s_suppkey
        | WHERE o_orderstatus = 'F'
        |   AND l1.l_shipdate > o_orderdate + INTERVAL 45 DAY
        |   AND EXISTS (SELECT 1 FROM lineitem l2
        |                WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |   AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |                      AND l3.l_shipdate > l1.l_shipdate)
        | GROUP BY s_name
        | ORDER BY numwait DESC, s_name
        | LIMIT 20""".stripMargin)
  )
}
