package graft.ext

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Edge-list graph analytics. The crawl-curation use case: host-graph
 * centrality is a standard URL-level quality prior (Common Crawl publishes
 * host/domain ranks; RefinedWeb- and FineWeb-style pipelines filter or
 * weight URLs by them), computed over a link graph far too large for any
 * single machine — exactly the keyed-join shape Spark executes well.
 * Component extraction lives in [[Dedup.connectedComponents]]; this module
 * holds the value-propagation side.
 */
object Graphs {

  /**
   * PageRank (Brin & Page 1998) over a weighted edge list, with uniform
   * teleport and dangling-mass redistribution: for `iterations` rounds,
   *
   *   rank'(v) = (1−d)/n + d·( Σ_{(u,v)∈E} rank(u)·w(u,v)/outw(u)
   *                            + danglingMass/n )
   *
   * where `outw(u)` is u's total out-weight, `danglingMass` is the rank
   * currently parked on nodes with no out-edges, and `n` counts distinct
   * nodes. Ranks start uniform at `1/n` and sum to exactly 1 after every
   * round (the dangling term is what keeps the distribution stochastic —
   * dropping it, as naive implementations do, leaks mass every round and
   * ranks stop being comparable across graphs).
   *
   * Fixed iteration count, no convergence test: the gate/oracle contract
   * needs a deterministic round count, callers wanting convergence pick
   * `iterations` from the graph's diameter (20 is the classic web-graph
   * default; ranks move by < d^k after k rounds).
   *
   * Scale shape: one round = one keyed join (ranks × transition edges on
   * src) + one grouped sum on dst + one left join back to the node spine —
   * all shuffles keyed on node ids, AQE-splittable on skew (a hub host's
   * in-edges spread across its dst partitions' map sides first). Two
   * scalars reach the driver: the node count (once) and each round's
   * dangling mass (ONE double per round, from a distributed aggregation —
   * the same bounded-metadata shape as GraphX's per-round accumulators;
   * when the graph has no dangling nodes, detected once up front, the
   * per-round job is skipped entirely). Embedding them as literals
   * instead of broadcast one-row frames costs per-round broadcast
   * exchanges measured at ~3× the whole round's useful work on small
   * graphs. Rounds run through the [[Caches.iterate]] round loop: ranks
   * are checkpointed every round (local, or durable when the session
   * configures a checkpoint dir) — each round references the previous
   * ranks again, so an untruncated plan doubles per round and Catalyst
   * analysis goes exponential — and the dead round is released as the
   * next materializes. The transition matrix, node spine, and dangling set
   * materialize ONCE ([[Caches]]-tracked, released by `unpersistAll`).
   *
   * Edges with NULL endpoints or non-positive weight are dropped;
   * parallel edges merge additively (their weights sum before
   * normalization). Self-loops are legal PageRank edges and kept. Returns
   * `(node, rank)`.
   *
   * When the merged edge list has at most `localEdgeLimit` rows the rank
   * loop runs driver-side over the collected edges instead (identical
   * update, one distributed job for the counts/collect) — the
   * [[Dedup.connectedComponents]] small-graph gate; `0` forces the
   * distributed path. NB the gate counts EDGES, not bytes — fat string
   * node ids deserve a smaller limit.
   */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 20, damping: Double = 0.85,
      weightCol: Option[String] = None,
      localEdgeLimit: Long = 1000000L): DataFrame =
    rankLoop(edges, srcCol, dstCol, None, iterations, damping, weightCol, localEdgeLimit)

  /**
   * TrustRank (Gyöngyi, Garcia-Molina & Pedersen 2004): PageRank with the
   * teleport concentrated on a curated SEED set instead of spread
   * uniformly — trust flows outward from hand-vetted hosts, so link farms
   * far from any seed rank near zero however densely they cite each
   * other. The crawl-curation companion to [[pageRank]]: uniform ranks
   * say "important", seeded ranks say "reachable from what we trust".
   *
   *   rank'(v) = (1−d)·tp(v) + d·( Σ in-contrib + danglingMass·tp(v) )
   *   tp(v)    = 1/|S ∩ V| for seed nodes present in the graph, else 0
   *
   * Ranks start AT `tp` and dangling mass teleports to the seeds, so the
   * distribution stays stochastic (sums to exactly 1) every round. Seeds
   * not present in the graph are ignored (they can neither receive nor
   * forward trust); at least one seed must be a graph node. Same edge
   * hygiene, fast-path gate, per-round truncation, and driver-scalar
   * budget as [[pageRank]] — the seed membership column rides the cached
   * node spine, costing one broadcast semi-join at build.
   */
  def trustRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, iterations: Int = 20,
      damping: Double = 0.85, weightCol: Option[String] = None,
      localEdgeLimit: Long = 1000000L): DataFrame = {
    val seedSet = Caches.track(seeds.select(col(seedCol).as("node"))
      .filter(col("node").isNotNull).distinct())
    rankLoop(edges, srcCol, dstCol, Some(seedSet), iterations, damping, weightCol, localEdgeLimit)
  }

  /** The one rank loop of [[pageRank]] (`seeds` None: uniform teleport)
    * and [[trustRank]] (teleport onto the seed nodes in the graph). They
    * differ only in `share(m)`, the part of a mass `m` that teleports to a
    * node: `m/n` uniform — a division, as the local loop spells it;
    * multiplying by `1/n` instead differs in ulps and the gate hashes ride
    * on parity — or `m·tp(v)` seeded. */
  private def rankLoop(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Option[DataFrame], iterations: Int, damping: Double,
      weightCol: Option[String], localEdgeLimit: Long): DataFrame = {
    require(iterations >= 0, s"iterations must be non-negative: $iterations")
    require(damping >= 0.0 && damping <= 1.0, s"damping out of [0,1]: $damping")
    val trans = transitions(edges, srcCol, dstCol, weightCol)
    // small-graph fast path (the [[Dedup.connectedComponents]] gate, same
    // rationale): when the MERGED edge list fits driver memory, 10–20
    // distributed rounds of checkpoint + broadcast machinery cost ~5× the
    // arithmetic they schedule (measured 7.9 s vs 1.6 s on the 25-edge
    // gate graph). The count runs over the already-cached `trans`, and the
    // node spine / dangling set derive locally from the collected edges
    // (every node appears in `trans` — dropped-edge endpoints are not
    // nodes). Above the gate — real host graphs — the distributed loop
    // below runs unchanged. `localEdgeLimit = 0` forces it (the spec pins
    // both paths to the same ranks).
    if (trans.count() <= localEdgeLimit) {
      // collect only seeds ∩ graph BEFORE the driver hop: the graph being
      // small says nothing about the seed LIST's size (a million-host trust
      // file against a toy graph must not land on the driver)
      val localSeeds = seeds.map(_.join(nodeSpine(trans), Seq("node"), "left_semi")
        .collect().map(_.get(0)).toSet)
      return localRanks(trans, iterations, damping, localSeeds)
    }
    val nodes = nodeSpine(trans)
    // nodes without out-edges: their rank teleports each round
    val dangling = Caches.track(
      nodes.join(trans.select(col("__src").as("node")), Seq("node"), "left_anti"))
    val (spine, share) = seeds match {
      case None =>
        val n: Long = nodes.count() // ONE driver scalar: the node count
        (nodes, (m: Double) => lit(m / n))
      case Some(seedSet) =>
        val sN: Long = nodes.join(seedSet, Seq("node"), "left_semi").count()
        require(sN > 0, "trustRank: no seed is a node of the graph — nothing to teleport to")
        // the teleport column rides the cached spine: 1/|S∩V| on seeds, 0 off
        (Caches.track(nodes
          .join(seedSet.select(col("node"), lit(1).as("__isSeed")), Seq("node"), "left_outer")
          .select(col("node"),
            when(col("__isSeed").isNotNull, lit(1.0 / sN)).otherwise(lit(0.0)).as("__tp"))),
          (m: Double) => lit(m) * col("__tp"))
    }
    val hasDangling = !dangling.isEmpty
    Caches.iterate(spine.select(col("node"), share(1.0).as("rank")), iterations) { (ranks, _) =>
      val dm: Double =
        if (!hasDangling) 0.0
        else ranks.join(dangling, Seq("node"), "left_semi")
          .agg(coalesce(sum("rank"), lit(0.0))).head().getDouble(0)
      val contrib = ranks.join(trans, col("node") === col("__src"))
        .groupBy(col("__dst").as("node"))
        .agg(sum(col("rank") * col("__p")).as("__c"))
      Some(spine.join(contrib, Seq("node"), "left_outer")
        .select(col("node"),
          (share(1.0 - damping) +
            lit(damping) * (coalesce(col("__c"), lit(0.0)) + share(dm))).as("rank")))
    }
  }

  /**
   * HITS hubs & authorities (Kleinberg 1999, "Authoritative sources in a
   * hyperlinked environment") — the other classic link prior next to
   * [[pageRank]]: PageRank asks where a random surfer concentrates; HITS
   * separates DIRECTORY-like nodes (hubs: point at many good authorities)
   * from CONTENT-like nodes (authorities: pointed at by many good hubs).
   * For crawl curation, hub scores surface link lists/sitemaps while
   * authority scores surface the documents worth fetching.
   *
   * Per round (mutual reinforcement, authorities first):
   *
   *   a'(v) = Σ_{(u,v)∈E} h(u)·w(u,v),  a ← a' / Σ_v a'(v)
   *   h'(u) = Σ_{(u,v)∈E} a(v)·w(u,v),  h ← h' / Σ_u h'(u)
   *
   * Normalization is L1 (not Kleinberg's L2): one exact sum + one
   * division is the determinism contract every rank loop here holds
   * (an sqrt in the loop compounds ulp drift the oracle can't mirror),
   * and either norm converges to the same principal-eigenvector
   * DIRECTION — only the reported scale differs (L1 scores read as mass
   * shares). Hub mass starts uniform at 1/n; `iterations = 0` returns it
   * with authorities all zero (nothing propagated yet). Edges merge
   * additively over parallel edges and are NOT out-normalized — HITS
   * propagates raw endorsement, not a stochastic walk. The zero-total
   * branch is defensive only: with ≥ 1 merged edge both L1 totals are
   * provably positive every round (every positive-authority node is some
   * edge's dst, every positive-hub node some edge's src), so no real
   * input reaches the collapse.
   *
   * Scale shape: same budget as [[pageRank]] — one keyed join + grouped
   * sum per direction per round, per-round lineage truncation, the edge
   * list cached once, and TWO driver scalars per round (the L1 totals,
   * one double each, from distributed aggregations). Small graphs take
   * the same `localEdgeLimit` driver fast path (spec-pinned equal to the
   * distributed loop). Returns `(node, hub, authority)`.
   */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 20, weightCol: Option[String] = None,
      localEdgeLimit: Long = 1000000L): DataFrame = {
    require(iterations >= 0, s"iterations must be non-negative: $iterations")
    val merged = mergedEdges(edges, srcCol, dstCol, weightCol)
    if (merged.count() <= localEdgeLimit)
      return localHits(merged, iterations)
    val nodes = nodeSpine(merged)
    val n: Long = nodes.count()
    // one half-round: each node's L1-normalized sum of `score` over its
    // edges `from` → `to`, replacing column `out` of `base` (every node)
    def propagate(base: DataFrame, score: String, from: String, to: String,
        out: String): DataFrame = {
      val raw = base.join(merged, col("node") === col(from))
        .groupBy(col(to).as("node")).agg(sum(col(score) * col("__w")).as("__c"))
      val total = raw.agg(coalesce(sum("__c"), lit(0.0))).head().getDouble(0)
      val norm = if (total == 0.0) lit(0.0) else coalesce(col("__c"), lit(0.0)) / lit(total)
      base.join(raw, Seq("node"), "left_outer")
        .select(base.columns.toSeq.map(c => if (c == out) norm.as(out) else col(c)): _*)
    }
    Caches.iterate(nodes.select(col("node"), lit(1.0 / n).as("hub"),
        lit(0.0).as("authority")), iterations) { (scores, round) =>
      val auth = round.scratch(propagate(scores, "hub", "__src", "__dst", "authority"))
      Some(propagate(auth, "authority", "__dst", "__src", "hub"))
    }
  }

  /**
   * Synchronous label propagation (Raghavan, Albert & Kumara 2007) —
   * community detection over the UNDIRECTED view of an edge list. Every
   * node starts labeled with its own id; each round, every node adopts
   * the label carrying the largest total edge weight among its
   * neighbors' CURRENT labels, ties broken by the smallest label. After
   * a few rounds, densely connected regions converge onto one label —
   * the near-linear-time community pass RefinedWeb-style pipelines run
   * over host graphs to group near-duplicate sources, and the grouping
   * step above [[Dedup.connectedComponents]] when "reachable" is too
   * coarse (a single stray link merges two components; LPA keeps them
   * apart unless the cross-links outweigh the internal ones).
   *
   * Deterministic by construction, unlike the textbook's random-order
   * asynchronous sweep: updates are synchronous (all nodes flip on the
   * round boundary from the previous round's labels) and the tie-break
   * is total (max weight, then min label), so the result is a pure
   * function of the graph — the property the cross-engine oracle gate
   * rides on. Integer-valued weights (counts) keep the per-label sums
   * exact in doubles, so the argmax itself is partitioning-invariant;
   * fractional weights can land ulp-close and then the argmax may
   * legitimately differ across summation orders. Synchronous LPA can
   * oscillate on bipartite-ish structures (the classic two-coloring
   * flip) — the fixed `iterations` bounds that by contract; callers
   * wanting a fixpoint pick small graphs' diameters or post-check.
   *
   * Directed edges are symmetrized additively (u→v weight w contributes
   * w to BOTH endpoints' views; parallel edges merge first, so a u→v
   * plus a v→u edge yield the same undirected weight in both views).
   * Self-loops vote for the node's own current label. NULL endpoints and
   * non-positive weights drop ([[cleanedEdges]]).
   *
   * Scale shape: one round = one keyed join (labels × undirected edges
   * on the neighbor id) + one grouped sum on (node, label) + one
   * per-node argmax (window over the node key — same key as the grouped
   * sum, so AQE coalesces the two into adjacent stages without an extra
   * exchange). The undirected edge list materializes ONCE, cached
   * hash-partitioned on the join key; labels are lineage-truncated per
   * round exactly as [[pageRank]]'s ranks. NO driver scalar at all in
   * the loop — label propagation has no global mass to re-balance.
   * Returns `(node, community)`; `community` keeps the node-id type.
   *
   * Small-graph fast path below `localEdgeLimit` UNDIRECTED edges (the
   * [[pageRank]] gate, same rationale).
   */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, weightCol: Option[String] = None,
      localEdgeLimit: Long = 1000000L): DataFrame = {
    require(iterations >= 0, s"iterations must be non-negative: $iterations")
    val merged = mergedEdges(edges, srcCol, dstCol, weightCol)
    // undirected neighbor view: each merged directed edge seen from both
    // endpoints, re-merged so u→v + v→u collapse to one neighbor weight
    val und = Caches.track(
      merged.select(col("__src").as("node"), col("__dst").as("__nbr"), col("__w"))
        .unionAll(merged.select(col("__dst").as("node"), col("__src").as("__nbr"),
          col("__w")))
        .groupBy("node", "__nbr").agg(sum("__w").as("__w"))
        .repartition(col("__nbr")))
    if (und.count() <= localEdgeLimit)
      return localLabelPropagation(und, iterations)
    // every node has ≥1 undirected edge (dropped-edge endpoints are not
    // nodes), so the per-round argmax already covers the whole spine
    Caches.iterate(und.select(col("node")).distinct()
        .select(col("node"), col("node").as("__label")), iterations) { (labels, _) =>
      val votes = und.join(labels.select(col("node").as("__ln"), col("__label")),
          col("__nbr") === col("__ln"))
        .groupBy(col("node"), col("__label")).agg(sum("__w").as("__wsum"))
      val pick = Window.partitionBy("node")
        .orderBy(col("__wsum").desc, col("__label").asc)
      Some(votes
        .withColumn("__rn", row_number().over(pick))
        .filter(col("__rn") === 1).select(col("node"), col("__label")))
    }.select(col("node"), col("__label").as("community"))
  }

  /** Driver-side LPA loop (the small-graph fast path of
    * [[labelPropagation]]): same synchronous update and max-weight /
    * min-label tie-break in Spark's id order, edges iterated in sorted
    * order so the per-label sums never depend on collect order. */
  private def localLabelPropagation(und: DataFrame, iterations: Int): DataFrame =
    onDriver(und, StructField("community", und.schema("node").dataType)) { g =>
      var labels: Array[Any] = g.nodes.clone()
      for (_ <- 1 to iterations) {
        val votes = Array.fill(g.nodes.length)(LinkedHashMap.empty[Any, Double])
        g.edges.foreach { case (v, nbr, w) =>
          val m = votes(v)
          m.update(labels(nbr), m.getOrElse(labels(nbr), 0.0) + w)
        }
        labels = Array.tabulate(g.nodes.length) { v =>
          // max weight, then min label — votes is never empty (≥1 edge/node)
          votes(v).reduceLeft { (a, b) =>
            if (b._2 > a._2 || (b._2 == a._2 && idOrder.lt(b._1, a._1))) b else a
          }._1
        }
      }
      g.nodes.indices.map(i => Row(g.nodes(i), labels(i)))
    }

  /**
   * Per-node triangle participation counts over an undirected simple graph
   * — the local clustering signal behind link-farm/spam-cluster priors
   * (dense co-citation neighborhoods triangle-close; organic link
   * neighborhoods mostly don't) and the community-density complement to
   * [[labelPropagation]].
   *
   * Algorithm: degree-oriented wedge closure (Cohen 2009 / Suri &
   * Vassilvitskii 2011, the MapReduce-era standard). Edges are
   * canonicalized (self-loops dropped, parallel edges collapsed, `a < b`),
   * then oriented from the (degree, id)-SMALLER endpoint to the larger —
   * a total order, so every triangle is enumerated exactly once as a
   * wedge at its smallest corner plus one closing-edge probe. The
   * orientation is the scale guarantee: out-degree under it is bounded by
   * O(√m) on any graph (a node keeps only neighbors of even-higher
   * degree), so the wedge join materializes O(m^1.5) rows worst-case
   * instead of the Σdeg² a hub explodes to under id-ordering — a star
   * graph produces ZERO wedges at its center this way.
   *
   * Scale shape: two keyed joins (degree attach), one self-join keyed on
   * the wedge corner, one closure join keyed on the (v,w) pair, one
   * grouped count — all shuffle-partitioned on node/pair keys, nothing on
   * the driver. Returns `(node, triangles)` with one row per node that
   * participates in at least one triangle.
   *
   * When the canonical edge set has at most `localEdgeLimit` rows the
   * triangle pass runs driver-side over sorted adjacency intersections
   * instead (the [[pageRank]] small-graph gate — one distributed job for
   * the canonicalization, then zero further stages; the distributed pass
   * is 6 keyed exchanges of near-empty frames on such graphs, pure stage
   * overhead); `0` forces the distributed path (spec-pinned equal).
   */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String,
      localEdgeLimit: Long = 1000000L): DataFrame = {
    // cached: the canonical edge set feeds the degree pass, the orientation
    // attach, and (reoriented) the closure probe — without it the caller's
    // possibly-expensive edge derivation would re-run three times
    val und = Caches.track(simpleEdges(edges, srcCol, dstCol))
    if (und.count() <= localEdgeLimit) return localTriangles(und)
    val withDeg = withDegrees(und, Caches.track(degrees(und)), "a", "b")
    val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    // oriented edge u→v with v's (deg, id) kept for the wedge total order
    // cached: referenced three times (both wedge sides + the closure probe)
    val oriented = Caches.track(withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"),
      when(aFirst, col("db")).otherwise(col("da")).as("dv")))
    val x = oriented.select(col("u"), col("v").as("v1"), col("dv").as("dv1"))
    val y = oriented.select(col("u"), col("v").as("v2"), col("dv").as("dv2"))
    val wedges = x.join(y, Seq("u"))
      .filter(col("dv1") < col("dv2") || (col("dv1") === col("dv2") && col("v1") < col("v2")))
      .select(col("u"), col("v1"), col("v2"))
    // (deg,id)-ordered (v1,v2) means a closing edge is oriented v1→v2
    val tri = wedges.join(oriented.select(col("u").as("v1"), col("v").as("v2")), Seq("v1", "v2"))
    tri.select(col("u").as("node"))
      .unionAll(tri.select(col("v1")))
      .unionAll(tri.select(col("v2")))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
  }

  /**
   * Multi-source BFS: the minimum DIRECTED hop count from any seed node,
   * capped at `rounds` — the "trust distance" prior of seeded crawl
   * curation ([[trustRank]]'s discrete cousin: TrustRank weights by
   * damped mass, hop distance answers "how many referrals separate this
   * node from the trusted set"). Nodes unreachable within `rounds` hops
   * are ABSENT from the result (their distance is unknown at this cap,
   * not infinite — a fixed round count is what makes the gate/oracle
   * deterministic, the [[pageRank]] convention).
   *
   * Scale shape: one keyed join + one map-side-combined min per round
   * over the FULL known-distance frontier (|V|-bounded rows, lineage
   * truncated per round — the label-propagation shape); edges stay
   * cache-partitioned on `__src` across rounds. Same `localEdgeLimit`
   * driver fast path as the rank trio, spec-pinned equal. Returns
   * `(node, dist)`, seeds at 0.
   */
  def seededDistances(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, rounds: Int,
      localEdgeLimit: Long = 1000000L): DataFrame = {
    require(rounds >= 0, s"rounds must be non-negative: $rounds")
    val seedSet = Caches.track(seeds.select(col(seedCol).as("node"))
      .filter(col("node").isNotNull).distinct())
    val merged = mergedEdges(edges, srcCol, dstCol, None)
    val members = nodeSpine(merged)
    val inGraph = Caches.track(seedSet.join(members, Seq("node"), "left_semi"))
    if (merged.count() <= localEdgeLimit) {
      val localSeeds = inGraph.collect().map(_.get(0)).toSet
      return localDistances(merged, localSeeds, rounds)
    }
    Caches.iterate(inGraph.select(col("node"), lit(0).as("dist")), rounds) { (dist, _) =>
      val step = dist.join(merged, col("node") === col("__src"))
        .select(col("__dst").as("node"), (col("dist") + 1).as("dist"))
      Some(dist.unionAll(step).groupBy("node").agg(min("dist").as("dist")))
    }
  }

  /** Driver-side BFS for [[seededDistances]] under `localEdgeLimit`: in
    * round `r`, every edge out of a node first reached in round `r − 1`
    * reaches its unreached target. */
  private def localDistances(merged: DataFrame, seeds: Set[Any],
      rounds: Int): DataFrame =
    onDriver(merged, StructField("dist", IntegerType, nullable = false)) { g =>
      val dist = Array.fill(g.nodes.length)(-1)
      seeds.foreach(s => dist(g.index(s)) = 0)
      for (r <- 1 to rounds; (s, d, _) <- g.edges if dist(s) == r - 1 && dist(d) < 0)
        dist(d) = r
      g.nodes.indices.filter(dist(_) >= 0).map(i => Row(g.nodes(i), dist(i)))
    }

  /**
   * Common-neighbor link prediction over an undirected simple graph: for
   * every NON-adjacent pair at distance 2, the shared-neighbor count and
   * the neighborhood Jaccard `cn / (deg(a) + deg(b) − cn)` — the two
   * classic exact link-prediction scores (Liben-Nowell & Kleinberg 2003;
   * the Adamic–Adar variant needs per-degree log weights, a
   * transcendental both engines would have to re-derive — deliberately
   * not offered in gated form). The crawl-curation use: predicted links
   * over a host/part co-occurrence graph surface near-duplicate
   * neighborhoods and recommendation candidates before any model runs.
   *
   * Scale shape: one symmetric-adjacency self-join keyed on the wedge
   * CENTER (candidate pairs exist only where a shared neighbor does — no
   * all-pairs), one grouped count, one anti-join against the edge set,
   * two degree attaches. The wedge join materializes Σ deg(x)² rows —
   * unlike [[triangleCounts]] no orientation can prune it, because BOTH
   * endpoints of a candidate pair need the full count; `minCommon` cuts
   * the OUTPUT (default 2 keeps only pairs with real evidence), and a
   * hub-heavy graph deserves a degree cap upstream (the same posture as
   * the band-cardinality guards in `Ops.assertBandCardinality`). All
   * scores are exact integer ratios — deterministic on any partitioning.
   * Returns `(node_a, node_b, cn, jaccard)` with `node_a < node_b`.
   */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
      minCommon: Int = 2): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1: $minCommon")
    val und = Caches.track(simpleEdges(edges, srcCol, dstCol))
    val adj = und.select(col("a").as("x"), col("b").as("y"))
      .unionAll(und.select(col("b"), col("a")))
    val cn = adj.select(col("x"), col("y").as("v"))
      .join(adj.select(col("x"), col("y").as("w")), Seq("x"))
      .filter(col("v") < col("w"))
      .groupBy("v", "w").agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= minCommon)
    val cand = cn.join(und, cn("v") === und("a") && cn("w") === und("b"), "left_anti")
    withDegrees(cand, degrees(und), "v", "w")
      .select(col("v").as("node_a"), col("w").as("node_b"), col("cn"),
        (col("cn").cast("double") / (col("dv") + col("dw") - col("cn"))).as("jaccard"))
  }

  /**
   * Degree assortativity (Newman 2002): the Pearson correlation of endpoint
   * degrees across undirected edges — the one-number structure diagnostic
   * separating social-style graphs (positive: hubs link hubs) from
   * web/biology-style ones (negative: hubs link leaves); a crawl-derived
   * link or co-occurrence graph whose assortativity flips between
   * snapshots changed its growth regime, which is a data-quality tripwire
   * the per-node degree card cannot see.
   *
   * Computed on the canonical undirected distinct edge set, each edge
   * counted in BOTH orientations (the standard symmetrization — makes the
   * j and k margins identical):
   * `r = (M·Σjk − (Σj)²) / (M·Σj² − (Σj)²)` with M = 2·|E|.
   * Every sum is an exact integer in DECIMAL(38,0) (degree² sums overflow
   * longs near 10⁹ edges on hub-heavy graphs), the numerator and
   * denominator each collapse to ONE exact integer cast to double, so the
   * single division is the only float op — engine-portable at round 6. A
   * degree-regular graph has zero variance → NULL, not a divide-by-zero.
   *
   * Scale shape: degrees from one groupBy over the exploded endpoints,
   * joined back onto edges by node key (shuffle joins — the degree table
   * is node-sized, deliberately NOT broadcast), one scalar aggregate out.
   */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = Caches.track(simpleEdges(edges, srcCol, dstCol))
    val dec = "decimal(38,0)"
    val sums = withDegrees(und, degrees(und), "a", "b")
      .agg((count(lit(1)) * 2).cast(dec).as("__m2"),
        sum((col("da") + col("db")).cast(dec)).as("__sj"),
        sum(lit(2).cast(dec) * col("da") * col("db")).as("__sjk"),
        sum(col("da").cast(dec) * col("da") + col("db").cast(dec) * col("db"))
          .as("__sj2"))
    val num = col("__m2") * col("__sjk") - col("__sj") * col("__sj")
    val den = col("__m2") * col("__sj2") - col("__sj") * col("__sj")
    sums.select((col("__m2") / 2).cast("long").as("n_edges"),
      when(den === 0, lit(null).cast("double"))
        .otherwise(round(num.cast("double") / den.cast("double"), 6))
        .as("assortativity"))
  }

  /**
   * k-core peeling (Seidman 1983): repeatedly remove nodes of degree < k
   * from the undirected graph until `rounds` peel passes have run — the
   * dense-subgraph screen on crawl/co-occurrence graphs (spam farms and
   * boilerplate templates live in unnaturally dense cores; thin periphery
   * is usually organic). Fixed-round rather than run-to-fixpoint so a
   * DuckDB oracle can unroll the identical rounds as chained CTEs (the
   * `bpeTrain`/`kmeansAssign` precedent); callers wanting the true core
   * iterate until `n_nodes` stops shrinking — each extra call is cheap
   * because peeling is monotone (already-peeled inputs pass through).
   *
   * Returns the surviving nodes with their degree in the peeled subgraph.
   *
   * Scale shape: each round is ONE degree aggregation + two node-keyed
   * semi-joins over the shrinking edge set — O(rounds · |E|) total, no
   * driver-side state at all; per-round lineage is truncated exactly like
   * [[pageRank]]'s rank frames so `rounds` cannot compound a plan.
   */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 1 && rounds <= 64, s"rounds must be in [1,64]: $rounds")
    val core = Caches.iterate(simpleEdges(edges, srcCol, dstCol), rounds) { (cur, _) =>
      val keep = degrees(cur).filter(col("dg") >= k).select("node")
      Some(cur
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi"))
    }
    degrees(core).select(col("node"), col("dg").as("degree"))
  }

  /** Small-graph fast path for [[triangleCounts]]: sorted-adjacency
    * intersection over the collected canonical edge set (node ids mapped
    * to dense indices, so no ordering is required of the id type —
    * triangle membership is orientation-free). O(Σ deg(u)·deg(v)) over
    * edges, bounded by the caller's `localEdgeLimit`. */
  private def localTriangles(und: DataFrame): DataFrame =
    onDriver(und, StructField("triangles", LongType, nullable = false)) { g =>
      val adjB = Array.fill(g.nodes.length)(ArrayBuffer.empty[Int])
      g.edges.foreach { case (i, j, _) => adjB(i) += j; adjB(j) += i }
      val adj = adjB.map(_.sorted.toArray)
      val tri = new Array[Long](g.nodes.length)
      // enumerate each triangle once as i < j < k (dense-index order): for
      // every edge (i, j) walk the sorted intersection of their adjacencies
      g.edges.foreach { case (a, b, _) =>
        val (i, j) = if (a < b) (a, b) else (b, a)
        var (p, q) = (0, 0)
        val (ai, aj) = (adj(i), adj(j))
        while (p < ai.length && q < aj.length) {
          if (ai(p) < aj(q)) p += 1
          else if (ai(p) > aj(q)) q += 1
          else { val k = ai(p); if (k > j) { tri(i) += 1; tri(j) += 1; tri(k) += 1 }; p += 1; q += 1 }
        }
      }
      g.nodes.indices.filter(tri(_) > 0).map(i => Row(g.nodes(i), tri(i)))
    }

  /** Shared edge hygiene: NULL endpoints and non-positive weights dropped,
    * endpoint types required to match, the cleaned frame cached (an
    * expensive upstream edge derivation computes once, not per consumer). */
  private def cleanedEdges(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String]): DataFrame = {
    val dtS = edges.schema(edges.schema.fieldIndex(srcCol)).dataType
    val dtD = edges.schema(edges.schema.fieldIndex(dstCol)).dataType
    require(dtS == dtD,
      s"graph endpoint columns must share one id type: $srcCol is $dtS, $dstCol is $dtD")
    val w = weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    Caches.track(
      edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"), w.as("__w"))
        .filter(col("__src").isNotNull && col("__dst").isNotNull && col("__w") > 0.0))
  }

  /** Parallel-merged raw edge list for [[hits]] — additive weights, no
    * stochastic normalization — cached hash-partitioned on `__src`. */
  private def mergedEdges(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String]): DataFrame = {
    val e = cleanedEdges(edges, srcCol, dstCol, weightCol)
    Caches.track(e.groupBy("__src", "__dst").agg(sum("__w").as("__w"))
      .repartition(col("__src")))
  }

  /** Cleaned, merged, out-weight-normalized transition list — cached
    * hash-partitioned on `__src` so every rank round's join reuses the
    * layout and only the (smaller) rank side exchanges. */
  private def transitions(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String]): DataFrame = {
    val e = cleanedEdges(edges, srcCol, dstCol, weightCol)
    val merged = e.groupBy("__src", "__dst").agg(sum("__w").as("__w"))
    val outW = merged.groupBy("__src").agg(sum("__w").as("__ow"))
    Caches.track(merged.join(outW, "__src")
      .select(col("__src"), col("__dst"), (col("__w") / col("__ow")).as("__p"))
      .repartition(col("__src")))
  }

  /** Distinct node set of a transition list (every node appears in it —
    * dropped-edge endpoints are not nodes). */
  private def nodeSpine(trans: DataFrame): DataFrame = Caches.track(
    trans.select(col("__src").as("node"))
      .union(trans.select(col("__dst").as("node"))).distinct())

  /** The canonical undirected simple edge set `(a, b)` with `a < b`:
    * [[cleanedEdges]] minus self-loops, parallel and reverse edges
    * collapsed — the graph [[triangleCounts]], [[linkPrediction]],
    * [[degreeAssortativity]] and [[kCore]] read. */
  private def simpleEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    cleanedEdges(edges, srcCol, dstCol, None).filter(col("__src") =!= col("__dst"))
      .select(least(col("__src"), col("__dst")).as("a"),
        greatest(col("__src"), col("__dst")).as("b"))
      .distinct()

  /** Node degrees `(node, dg)` of a [[simpleEdges]] frame. */
  private def degrees(und: DataFrame): DataFrame =
    und.select(col("a").as("node")).unionAll(und.select(col("b")))
      .groupBy("node").agg(count(lit(1)).as("dg"))

  /** `df` with the degree of each endpoint column `e` attached as `d<e>`. */
  private def withDegrees(df: DataFrame, deg: DataFrame, ends: String*): DataFrame =
    ends.foldLeft(df)((f, e) => f.join(deg.select(col("node").as(e), col("dg").as("d" + e)), e))

  /** Driver-side [[rankLoop]] (the small-graph fast path): same update,
    * same IEEE double operations; edges iterate in a SORTED order so the
    * floating sums never depend on collect order (the distributed path's
    * partial-agg order can still differ by ulps — callers gating ranks
    * across engines round them, as the update's own compounding demands
    * anyway). */
  private def localRanks(trans: DataFrame, iterations: Int, damping: Double,
      seeds: Option[Set[Any]]): DataFrame =
    onDriver(trans, StructField("rank", DoubleType, nullable = false)) { g =>
      val n = g.nodes.length
      val share: (Double, Int) => Double = seeds match {
        case None => (m, _) => m / n
        case Some(s) =>
          val inGraph = g.nodes.count(s.contains)
          require(inGraph > 0,
            "trustRank: no seed is a node of the graph — nothing to teleport to")
          val tp = g.nodes.map(nd => if (s.contains(nd)) 1.0 / inGraph else 0.0)
          (m, i) => m * tp(i)
      }
      val hasOut = g.edges.map(_._1).toSet
      val danglingIdx = (0 until n).filterNot(hasOut).toArray
      var rank = Array.tabulate(n)(share(1.0, _))
      for (_ <- 1 to iterations) {
        var dm = 0.0
        danglingIdx.foreach(i => dm += rank(i))
        val contrib = new Array[Double](n)
        g.edges.foreach { case (s, d, p) => contrib(d) += rank(s) * p }
        rank = Array.tabulate(n)(i =>
          share(1.0 - damping, i) + damping * (contrib(i) + share(dm, i)))
      }
      g.nodes.indices.map(i => Row(g.nodes(i), rank(i)))
    }

  /** Driver-side HITS loop (the small-graph fast path of [[hits]]): same
    * update and L1 normalization, edges iterated in sorted order so the
    * floating sums never depend on collect order. */
  private def localHits(merged: DataFrame, iterations: Int): DataFrame =
    onDriver(merged, StructField("hub", DoubleType, nullable = false),
        StructField("authority", DoubleType, nullable = false)) { g =>
      val n = g.nodes.length
      // one half-round: L1-normalized sums of `score` along the edges,
      // forward (src → dst) or backward
      def propagate(score: Array[Double], forward: Boolean): Array[Double] = {
        val raw = new Array[Double](n)
        g.edges.foreach { case (s, d, w) =>
          if (forward) raw(d) += score(s) * w else raw(s) += score(d) * w
        }
        var total = 0.0
        raw.foreach(total += _)
        if (total == 0.0) new Array[Double](n) else raw.map(_ / total)
      }
      var hub = Array.fill(n)(1.0 / n)
      var auth = new Array[Double](n)
      for (_ <- 1 to iterations) {
        auth = propagate(hub, forward = true)
        hub = propagate(auth, forward = false)
      }
      g.nodes.indices.map(i => Row(g.nodes(i), hub(i), auth(i)))
    }

  /** The id order Spark sorts by (`min`, `least`, `ORDER BY`): UTF-8 binary
    * for strings — NOT `String.compareTo`'s UTF-16 code units, which sort
    * supplementary characters (surrogates) before U+E000..U+FFFF — and the
    * natural order otherwise. The driver-side fast paths order and
    * tie-break ids by it, so they pick the labels the distributed paths do. */
  private[ext] val idOrder: Ordering[Any] = new Ordering[Any] {
    def compare(x: Any, y: Any): Int = (x, y) match {
      case (a: String, b: String) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
      case _ => x.asInstanceOf[Comparable[Any]].compareTo(y)
    }
  }

  /** An edge frame collected to the driver — the shared prologue of the
    * small-graph fast paths: the node ids in [[idOrder]], and the edges as
    * dense `(src, dst, weight)` index triples sorted by `(src, dst)`, so no
    * loop over them depends on collect order. Columns 0 and 1 are the
    * endpoints, column 2 (when present) the weight, else 1.0. */
  private final class LocalGraph(frame: DataFrame) {
    private val rows = frame.collect()
    val nodes: Array[Any] = rows.flatMap(r => Seq(r.get(0), r.get(1))).distinct.sorted(idOrder)
    val index: Map[Any, Int] = nodes.zipWithIndex.toMap
    val edges: Array[(Int, Int, Double)] = rows
      .map(r => (index(r.get(0)), index(r.get(1)), if (r.length > 2) r.getDouble(2) else 1.0))
      .sortBy(e => (e._1, e._2))
  }

  /** Runs a small-graph fast path over `edges` collected as a
    * [[LocalGraph]]; `body`'s rows become a frame of `node` (the edges' id
    * type) plus `fields` — empty, without running `body`, when the graph
    * is. */
  private def onDriver(edges: DataFrame, fields: StructField*)(
      body: LocalGraph => Seq[Row]): DataFrame = {
    val g = new LocalGraph(edges)
    val rows = if (g.nodes.isEmpty) Seq.empty[Row] else body(g)
    edges.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(StructField("node", edges.schema(0).dataType) +: fields))
  }
}
