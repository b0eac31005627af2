package graft
package gates

import graft.Queries._
import graft.ext.Graphs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Graph analytics over the event-transition and part co-occurrence
 * graphs (`graph_*`).
 */
object GraphGates {

  /** The part co-occurrence graph shared by the `graph_*` structure gates
    * (`graph_triangles`, `graph_link_prediction`, `graph_kcore`,
    * `graph_assortativity`) AND mirrored as one constant CTE prefix in
    * their oracles: parts appearing together on >= 2 orders, weighted by
    * co-order count. Cached because the self-join consumes the distinct
    * projection twice; one builder so the gates cannot fork the fixture. */
  private def partCoOccurrence(s: SparkSession, d: String): DataFrame = {
    // one groupBy(order) + in-row pair expansion, NOT a distinct + self-join
    // on the order key: collect_set dedups (order, part) for free, so the
    // whole derivation is TWO keyed shuffles (order groupBy, pair groupBy)
    // instead of four exchanges, and the per-order fan-out is visible for a
    // pair-budget check BEFORE the expansion shuffles anything — the r17
    // verdict's mover for the shared triangles/link-prediction/assortativity
    // fixture (the pair groupBy dominated the 30x marathon at 9.9x)
    val grouped = graft.ext.Caches.track(
      li(s, d).groupBy(col("l_orderkey").as("ok"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("ids"))
        .filter(size(col("ids")) > 1))
    val sz = size(col("ids")).cast("long")
    val est = grouped.agg(
      coalesce(sum(sz * (sz - 1L)), lit(0L)).as("twice"),
      coalesce(max(sz), lit(0L)).as("hot")).head()
    // guard the PER-BASKET fan-out, not the aggregate pair total: with
    // bounded baskets total pairs grow linearly with the corpus (that is
    // the operator working as designed — r18 review fix: a fixed total cap
    // would hard-fail a healthy linear computation past ~100× gate scale),
    // while one pathological basket (a misjoined key, a collapsed order id)
    // is the quadratic hazard worth refusing loudly
    val hot = est.getLong(1)
    require(hot * (hot - 1L) / 2L <= graft.ext.Dedup.DefaultPairBudget,
      s"partCoOccurrence: the hottest order carries $hot distinct parts " +
        s"(~${hot * (hot - 1L) / 2L} pairs from ONE basket; budget " +
        s"${graft.ext.Dedup.DefaultPairBudget}; ~${est.getLong(0) / 2} total) — " +
        "a basket this hot is a key-collapse symptom, not shopping behavior")
    // ascending array_sort ⇒ every expanded struct already has pa < pb
    grouped
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.as("pa"), y.as("pb")))))).as("p"))
      .select(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
  }

  /** Per-user event-type transition digraph, weights = transition counts —
    * the fixture's natural graph, shared by the `graph_*` gates. */
  private def eventTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(s, d)
      .select(col("event_type"), lead("event_type", 1).over(w).as("__next"))
      .filter(col("__next").isNotNull)
      .groupBy(col("event_type").as("src"), col("__next").as("dst"))
      .agg(count(lit(1)).cast("double").as("w"))
  }

  /** [[partCoOccurrence]] for the four co-occurrence graph gates: the
    * shared derived edge list (its derivation is mirrored as one constant
    * CTE prefix in the oracles and certified through every consumer's
    * hash), built once per JVM instead of once per gate. */
  private val partCoocFixture =
    Fixture.frame("partcooc", "graft-fix-cooc")(partCoOccurrence)

  /** [[eventTransitions]] for the six transition-digraph gates. */
  private val eventTransitionsFixture =
    Fixture.frame("evtrans", "graft-fix-etr")(eventTransitions)

  /** Shared co-occurrence-graph CTEs (`graph_triangles` /
    * `graph_link_prediction`): parts sharing an order, support ≥ 2,
    * canonical `a < b`, plus node degrees — ONE text so the two gates'
    * edge derivations cannot fork. */
  private val partCoocCtes =
    """op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (SELECT x.pk AS a, y.pk AS b FROM op x JOIN op y ON x.ok = y.ok AND x.pk < y.pk
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |deg AS (SELECT node, count(*) AS dg FROM (
      |          SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1)""".stripMargin

  /** 5 k-core peel rounds (k=3) over the part co-occurrence graph,
    * unrolled as chained MATERIALIZED CTEs (the bpe_merges precedent —
    * without MATERIALIZED each round's three references to the prior
    * round re-INLINE the whole chain, a 3⁸ plan blowup that hangs the
    * oracle; materialized, the chain runs in 0.1 s) — each round
    * re-derives degrees over the prior round's edge set and keeps only
    * >= k endpoints, exactly the operator's loop. */
  private val kcoreSql: String = {
    val k = 3
    val head =
      """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0r AS MATERIALIZED (SELECT a.pk AS pa, b.pk AS pb FROM op a JOIN op b
        |         ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2 HAVING count(*) >= 2),
        |e0 AS MATERIALIZED (SELECT DISTINCT pa AS a, pb AS b FROM e0r)""".stripMargin
    val rounds = (1 to 5).map { i =>
      s""",
         |d$i AS MATERIALIZED (SELECT node, count(*) AS dg FROM (SELECT a AS node FROM e${i - 1}
         |        UNION ALL SELECT b FROM e${i - 1}) GROUP BY 1),
         |n$i AS MATERIALIZED (SELECT node FROM d$i WHERE dg >= $k),
         |e$i AS MATERIALIZED (SELECT e${i - 1}.a, e${i - 1}.b FROM e${i - 1}
         |        JOIN n$i x ON e${i - 1}.a = x.node
         |        JOIN n$i y ON e${i - 1}.b = y.node)""".stripMargin
    }.mkString
    head + rounds +
      "\nSELECT node, count(*) AS degree FROM (SELECT a AS node FROM e5" +
      "\nUNION ALL SELECT b FROM e5) GROUP BY 1"
  }

  /** `graph_bfs_distance` oracle: the BFS rounds unrolled as chained
    * min-union CTEs over the SAME `graphHeadSql` transition graph. */
  private def bfsSql(seeds: Seq[String], rounds: Int): String = {
    val list = seeds.map(x => s"'$x'").mkString(", ")
    val steps = (1 to rounds).map { i =>
      val p = i - 1
      s"""d$i AS (SELECT node, min(dist) AS dist FROM (
         |  SELECT node, dist FROM d$p
         |  UNION ALL
         |  SELECT e.dst AS node, d$p.dist + 1 AS dist FROM d$p JOIN e ON d$p.node = e.src) t
         | GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""$graphHeadSql,
       |d0 AS (SELECT node, 0 AS dist FROM nodes WHERE node IN ($list)),
       |$steps
       |SELECT node, dist FROM d$rounds""".stripMargin
  }

  /** `graph_hits` oracle: the 10 HITS rounds unrolled as chained
    * MATERIALIZED CTEs over the same transition digraph as `rankSql` (raw
    * merged weights, NOT out-normalized — HITS propagates endorsement, not
    * a walk). Each round mirrors the operator's arithmetic exactly: grouped
    * `sum(score·w)`, an L1 total, `coalesce(c, 0)/total` with the
    * zero-total collapse as a CASE. */
  private def hitsSql(rounds: Int): String = {
    val head =
      s"""$graphHeadSql,
         |h0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) / n AS hub FROM nodes, nn)""".stripMargin
    val body = (1 to rounds).map { i =>
      val p = i - 1
      s"""ar$i AS (SELECT e.dst AS node, sum(h$p.hub * e.w) AS c
         |           FROM h$p JOIN e ON h$p.node = e.src GROUP BY e.dst),
         |at$i AS (SELECT coalesce(sum(c), CAST(0 AS DOUBLE)) AS t FROM ar$i),
         |a$i AS MATERIALIZED (SELECT nodes.node,
         |         CASE WHEN at$i.t = 0 THEN CAST(0 AS DOUBLE)
         |              ELSE coalesce(ar$i.c, CAST(0 AS DOUBLE)) / at$i.t END AS authority
         |         FROM nodes CROSS JOIN at$i LEFT JOIN ar$i ON nodes.node = ar$i.node),
         |hr$i AS (SELECT e.src AS node, sum(a$i.authority * e.w) AS c
         |           FROM a$i JOIN e ON a$i.node = e.dst GROUP BY e.src),
         |ht$i AS (SELECT coalesce(sum(c), CAST(0 AS DOUBLE)) AS t FROM hr$i),
         |h$i AS MATERIALIZED (SELECT nodes.node,
         |         CASE WHEN ht$i.t = 0 THEN CAST(0 AS DOUBLE)
         |              ELSE coalesce(hr$i.c, CAST(0 AS DOUBLE)) / ht$i.t END AS hub
         |         FROM nodes CROSS JOIN ht$i LEFT JOIN hr$i ON nodes.node = hr$i.node)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$body
       |SELECT h$rounds.node, round(h$rounds.hub, 6) AS hub,
       |       round(a$rounds.authority, 6) AS authority
       |  FROM h$rounds JOIN a$rounds ON h$rounds.node = a$rounds.node""".stripMargin
  }

  /** `graph_communities` oracle: the synchronous label-propagation rounds
    * of [[graft.ext.Graphs.labelPropagation]] unrolled as chained
    * MATERIALIZED CTEs over the same transition digraph. The undirected
    * view mirrors the operator's construction EXACTLY (each merged
    * directed edge seen from both endpoints then re-merged — so a
    * self-loop's weight doubles in its own view, and a u→v plus v→u pair
    * collapse additively); per round, per-label vote sums (exact — the
    * weights are integer counts) and the max-weight / min-label argmax as
    * a `row_number` pick. Labels are node ids (strings): no floats ever
    * reach the output, so the gate hashes exactly with no rounding. */
  private def lpaSql(rounds: Int): String = {
    val head =
      s"""$graphHeadSql,
         |und AS MATERIALIZED (SELECT node, nbr, sum(w) AS w FROM (
         |         SELECT src AS node, dst AS nbr, w FROM e
         |         UNION ALL SELECT dst AS node, src AS nbr, w FROM e)
         |       GROUP BY node, nbr),
         |l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)""".stripMargin
    val body = (1 to rounds).map { i =>
      val p = i - 1
      s"""v$i AS (SELECT u.node, l.label, sum(u.w) AS wsum
         |          FROM und u JOIN l$p l ON u.nbr = l.node
         |         GROUP BY u.node, l.label),
         |l$i AS MATERIALIZED (SELECT node, label FROM (
         |         SELECT node, label, row_number() OVER (PARTITION BY node
         |                  ORDER BY wsum DESC, label ASC) AS rn FROM v$i)
         |       WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$body
       |SELECT node, label AS community FROM l$rounds""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    // per-node degree/strength/reciprocity over the transition digraph —
    // the graph's shape card (hubs, sinks, mutual-loop density); counts
    // and integral-double weight sums, exact in any order
    Gate("graph_degree_stats", ((s, d) => {
      val e = graft.ext.Caches.track(eventTransitionsFixture(s, d))
      val out = e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("out_deg"), sum("w").as("out_w"))
      val in = e.groupBy(col("dst").as("node"))
        .agg(count(lit(1)).as("in_deg"), sum("w").as("in_w"))
      val recip = e.join(e.select(col("dst").as("src"), col("src").as("dst")),
          Seq("src", "dst"), "left_semi")
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("n_reciprocal"))
      out.join(in, Seq("node"), "full_outer").join(recip, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("out_deg"), lit(0L)).as("out_deg"),
          coalesce(col("out_w"), lit(0.0)).as("out_w"),
          coalesce(col("in_deg"), lit(0L)).as("in_deg"),
          coalesce(col("in_w"), lit(0.0)).as("in_w"),
          coalesce(col("n_reciprocal"), lit(0L)).as("n_reciprocal"))
    }),
      s"""$graphHeadSql,
        |o AS (SELECT src AS node, count(*) AS out_deg, sum(w) AS out_w FROM e GROUP BY 1),
        |i AS (SELECT dst AS node, count(*) AS in_deg, sum(w) AS in_w FROM e GROUP BY 1),
        |r AS (SELECT e.src AS node, count(*) AS n_reciprocal
        |        FROM e WHERE EXISTS (SELECT 1 FROM e e2 WHERE e2.src = e.dst AND e2.dst = e.src)
        |       GROUP BY 1)
        |SELECT n.node, coalesce(out_deg, 0) AS out_deg, coalesce(out_w, 0.0) AS out_w,
        |       coalesce(in_deg, 0) AS in_deg, coalesce(in_w, 0.0) AS in_w,
        |       coalesce(n_reciprocal, 0) AS n_reciprocal
        |  FROM nodes n LEFT JOIN o USING (node) LEFT JOIN i USING (node)
        |       LEFT JOIN r USING (node)""".stripMargin,
      fixtures = Seq(eventTransitionsFixture)),
    // PageRank over the per-user event-type transition graph (the host-graph
    // centrality prior of crawl curation, exercised on the fixture's only
    // natural digraph); 10 fixed rounds, weights = transition counts; ranks
    // rounded at 6 (keyed-sum order differs by ulps across engines)
    Gate("graph_pagerank", ((s, d) =>
      Graphs.pageRank(eventTransitionsFixture(s, d), "src", "dst", iterations = 10,
          weightCol = Some("w"))
        .select(col("node"), round(col("rank"), 6).as("rank"))),
      rankSql(None),
      fixtures = Seq(eventTransitionsFixture)),
    // TrustRank over the same digraph: teleport pinned to two seed types —
    // the seeded host-trust variant (link farms off the seed cone rank 0)
    Gate("graph_trustrank", ((s, d) => {
      val seeds = { import s.implicits._; Seq("view", "signup").toDF("etype") }
      Graphs.trustRank(eventTransitionsFixture(s, d), "src", "dst", seeds, "etype",
          iterations = 10, weightCol = Some("w"))
        .select(col("node"), round(col("rank"), 6).as("rank"))
    }),
      rankSql(Some(Seq("view", "signup"))),
      fixtures = Seq(eventTransitionsFixture)),
    // HITS hubs & authorities over the same digraph — the directory-vs-
    // content link prior (PageRank says "important", HITS says which nodes
    // POINT WELL vs which are POINTED AT well); 10 rounds, L1-normalized
    Gate("graph_hits", ((s, d) =>
      Graphs.hits(eventTransitionsFixture(s, d), "src", "dst", iterations = 10,
          weightCol = Some("w"))
        .select(col("node"), round(col("hub"), 6).as("hub"),
          round(col("authority"), 6).as("authority"))),
      hitsSql(10),
      fixtures = Seq(eventTransitionsFixture)),
    // synchronous label propagation over the same digraph's undirected view
    // — the host-graph community pass of crawl curation; 5 fixed rounds,
    // max-weight/min-label argmax, output is exact strings (no rounding)
    Gate("graph_communities", ((s, d) =>
      Graphs.labelPropagation(eventTransitionsFixture(s, d), "src", "dst",
        iterations = 5, weightCol = Some("w"))),
      lpaSql(5),
      fixtures = Seq(eventTransitionsFixture)),
    // multi-source BFS trust distance over the same digraph: minimum hop
    // count from the seed cone, capped at 4 rounds (TrustRank's discrete
    // cousin — "how many referrals from trusted?"); integer output, the
    // fixed round count is the determinism contract
    Gate("graph_bfs_distance", ((s, d) => {
      val seeds = { import s.implicits._; Seq("view", "signup").toDF("etype") }
      Graphs.seededDistances(eventTransitionsFixture(s, d), "src", "dst",
        seeds, "etype", rounds = 4)
    }),
      bfsSql(Seq("view", "signup"), 4),
      fixtures = Seq(eventTransitionsFixture)),
    // per-node triangle participation over the part co-occurrence graph
    // (parts sharing an order, support >= 2) — the dense-neighborhood
    // clustering prior. Pair formation is per-order (<= 13 parts/order in
    // the fixture → <= 78 pairs), never all-pairs; the triangle pass is
    // degree-oriented so hub parts cannot explode the wedge join
    Gate("graph_triangles", ((s, d) => {
      // cached: the distinct projection feeds BOTH self-join sides — uncached
      // it would scan + exchange lineitem twice
      val pairs = partCoocFixture(s, d)
      Graphs.triangleCounts(pairs, "pa", "pb")
    }),
      // degree-oriented wedge closure mirrored step for step: canonical a<b
      // edges with support >= 2, (degree,id)-orientation, wedge self-join at
      // the smallest corner, closing-edge probe, 3-corner count union
      s"""WITH $partCoocCtes,
        |o AS (SELECT CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.a < e.b) THEN e.a ELSE e.b END AS u,
        |             CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.a < e.b) THEN e.b ELSE e.a END AS v,
        |             CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.a < e.b) THEN db.dg ELSE da.dg END AS dv
        |        FROM e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node),
        |w AS (SELECT x.u, x.v AS v1, y.v AS v2 FROM o x JOIN o y ON x.u = y.u
        |       WHERE x.dv < y.dv OR (x.dv = y.dv AND x.v < y.v)),
        |t AS (SELECT w.u, w.v1, w.v2 FROM w JOIN o ON w.v1 = o.u AND w.v2 = o.v)
        |SELECT node, count(*) AS triangles FROM (
        |  SELECT u AS node FROM t UNION ALL SELECT v1 FROM t UNION ALL SELECT v2 FROM t)
        | GROUP BY node""".stripMargin,
      fixtures = Seq(partCoocFixture)),
    // common-neighbor link prediction over the same co-occurrence graph:
    // distance-2 non-edges scored by shared-neighbor count + neighborhood
    // Jaccard — exact integer ratios, wedge join keyed on the center
    Gate("graph_link_prediction", ((s, d) => {
      val pairs = partCoocFixture(s, d)
      Graphs.linkPrediction(pairs, "pa", "pb", minCommon = 2)
        .select(col("node_a"), col("node_b"), col("cn"),
          round(col("jaccard"), 6).as("jaccard"))
    }),
      // distance-2 non-edges scored by shared-neighbor count + neighborhood
      // Jaccard — the same symmetric-adjacency wedge join and exact integer
      // ratio as Graphs.linkPrediction
      s"""WITH $partCoocCtes,
        |adj AS (SELECT a AS x, b AS y FROM e UNION ALL SELECT b, a FROM e),
        |cn AS (SELECT v1.y AS v, v2.y AS w, count(*) AS cn
        |         FROM adj v1 JOIN adj v2 ON v1.x = v2.x AND v1.y < v2.y
        |        GROUP BY 1, 2 HAVING count(*) >= 2),
        |ne AS (SELECT cn.v, cn.w, cn.cn FROM cn
        |         LEFT JOIN e ON cn.v = e.a AND cn.w = e.b
        |        WHERE e.a IS NULL)
        |SELECT v AS node_a, w AS node_b, cn,
        |       round(CAST(cn AS DOUBLE) / (da.dg + db.dg - cn), 6) AS jaccard
        |  FROM ne JOIN deg da ON v = da.node JOIN deg db ON w = db.node""".stripMargin,
      fixtures = Seq(partCoocFixture)),
    // k-core peeling (5 fixed rounds, k=3) over the part co-occurrence
    // graph — the dense-subgraph screen; fixed-round so the oracle can
    // unroll the identical peels as chained CTEs
    Gate("graph_kcore", ((s, d) => {
      val pairs = partCoocFixture(s, d)
      Graphs.kCore(pairs, "pa", "pb", k = 3, rounds = 5)
    }),
      // the identical 5 peel rounds unrolled as chained CTEs
      kcoreSql,
      fixtures = Seq(partCoocFixture)),
    // degree assortativity of the part co-occurrence graph (the
    // graph_triangles/link-prediction fixture): one exact-integer Pearson
    // over edge-endpoint degrees
    Gate("graph_assortativity", ((s, d) => {
      val pairs = partCoocFixture(s, d)
      Graphs.degreeAssortativity(pairs, "pa", "pb")
    }),
      // Newman degree assortativity over the co-occurrence graph: numerator
      // and denominator each ONE exact HUGEINT cast to double once
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS (SELECT a.pk AS pa, b.pk AS pb FROM op a JOIN op b
        |        ON a.ok = b.ok AND a.pk < b.pk
        |        GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS (SELECT DISTINCT least(pa, pb) AS a, greatest(pa, pb) AS b FROM e0),
        |deg AS (SELECT node, count(*) AS dg FROM (
        |          SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        |         GROUP BY 1),
        |j AS (SELECT da.dg AS dj, db.dg AS dk
        |        FROM und JOIN deg da ON und.a = da.node
        |                 JOIN deg db ON und.b = db.node),
        |s AS (SELECT CAST(count(*) AS HUGEINT) * 2 AS m2,
        |             sum(CAST(dj AS HUGEINT) + dk) AS sj,
        |             sum(2 * CAST(dj AS HUGEINT) * dk) AS sjk,
        |             sum(CAST(dj AS HUGEINT) * dj + CAST(dk AS HUGEINT) * dk) AS sj2
        |        FROM j)
        |SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
        |       CASE WHEN m2 * sj2 - sj * sj = 0 THEN NULL
        |            ELSE round(CAST(m2 * sjk - sj * sj AS DOUBLE)
        |                       / CAST(m2 * sj2 - sj * sj AS DOUBLE), 6) END AS assortativity
        |  FROM s""".stripMargin,
      fixtures = Seq(partCoocFixture))
  )
}
