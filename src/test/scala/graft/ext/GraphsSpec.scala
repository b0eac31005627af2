package graft.ext

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class GraphsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Independent scalar PageRank — the textbook loop over in-memory maps,
    * sharing no code with the operator. */
  private def referenceRank(edges: Seq[(String, String, Double)],
      iterations: Int, d: Double): Map[String, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size
    val outW = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val byDst = edges.groupBy(_._2)
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iterations) {
      val dm = nodes.filterNot(outW.contains).map(rank).sum
      rank = nodes.map { v =>
        val in = byDst.getOrElse(v, Nil)
          .map { case (u, _, w) => rank(u) * w / outW(u) }.sum
        v -> ((1 - d) / n + d * (in + dm / n))
      }.toMap
    }
    rank
  }

  private def run(edges: Seq[(String, String, Double)], iterations: Int,
      d: Double = 0.85, weighted: Boolean = true,
      localLimit: Long = 1000000L): Map[String, Double] = {
    val df = edges.toDF("s", "t", "w")
    val got = Graphs.pageRank(df, "s", "t", iterations, d,
        if (weighted) Some("w") else None, localEdgeLimit = localLimit)
      .as[(String, Double)].collect().toMap
    Caches.unpersistAll()
    got
  }

  private def assertClose(got: Map[String, Double], want: Map[String, Double]): Unit = {
    assert(got.keySet == want.keySet, s"nodes: ${got.keySet} vs ${want.keySet}")
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-12, s"$k: $v vs ${want(k)}")
    }
  }

  test("pageRank: two-node cycle is uniform; ranks always sum to 1") {
    val got = run(Seq(("a", "b", 1.0), ("b", "a", 1.0)), 7)
    assertClose(got, Map("a" -> 0.5, "b" -> 0.5))
    assert(math.abs(got.values.sum - 1.0) < 1e-12)
  }

  test("pageRank: matches the scalar reference on a graph with hub, dangling node, and weights") {
    // c is dangling (mass redistributes); a→b carries 3× the weight of a→c
    val edges = Seq(("a", "b", 3.0), ("a", "c", 1.0), ("b", "a", 1.0),
      ("b", "c", 1.0), ("d", "a", 2.0))
    for (iters <- Seq(0, 1, 5, 12)) {
      val got = run(edges, iters)
      assertClose(got, referenceRank(edges, iters, 0.85))
      assert(math.abs(got.values.sum - 1.0) < 1e-12, s"iters=$iters mass leak")
    }
  }

  test("pageRank: distributed path (localEdgeLimit=0) agrees with the local fast path") {
    // dangling node included so the distributed per-round mass job runs too
    val edges = Seq(("a", "b", 3.0), ("a", "c", 1.0), ("b", "a", 1.0),
      ("b", "c", 1.0), ("d", "a", 2.0))
    val dist = run(edges, 6, localLimit = 0L)
    assertClose(dist, run(edges, 6))
    assertClose(dist, referenceRank(edges, 6, 0.85))
  }

  test("pageRank: unweighted treats parallel edges additively; weight merge matches") {
    // two parallel a→b edges unweighted ≡ one a→b edge of weight 2
    val parallel = Seq(("a", "b", 99.0), ("a", "b", 99.0), ("a", "c", 99.0),
      ("c", "a", 99.0), ("b", "a", 99.0))
    val merged = Seq(("a", "b", 2.0), ("a", "c", 1.0), ("c", "a", 1.0),
      ("b", "a", 1.0))
    assertClose(run(parallel, 6, weighted = false), run(merged, 6))
  }

  test("pageRank: iterations=0 is uniform; damping=0 is uniform teleport; edge hygiene") {
    val edges = Seq(("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0), ("c", "b", 1.0))
    assertClose(run(edges, 0), Map("a" -> 1.0 / 3, "b" -> 1.0 / 3, "c" -> 1.0 / 3))
    assertClose(run(edges, 9, d = 0.0), Map("a" -> 1.0 / 3, "b" -> 1.0 / 3, "c" -> 1.0 / 3))
    // NULL endpoints and non-positive weights drop; the edge (x,y) survives
    val dirty = Seq((null, "b", 1.0), ("a", null, 1.0), ("a", "b", 0.0),
      ("a", "b", -1.0), ("x", "y", 1.0)).toDF("s", "t", "w")
    val got = Graphs.pageRank(dirty, "s", "t", 3, 0.85, Some("w"))
      .as[(String, Double)].collect().toMap
    Caches.unpersistAll()
    assert(got.keySet == Set("x", "y"))
    intercept[IllegalArgumentException](Graphs.pageRank(dirty, "s", "t", -1))
    intercept[IllegalArgumentException](Graphs.pageRank(dirty, "s", "t", 1, 1.5))
  }

  /** The TrustRank scalar reference: teleport on the seed set only. */
  private def referenceTrust(edges: Seq[(String, String, Double)],
      seeds: Set[String], iterations: Int, d: Double): Map[String, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val inGraph = nodes.count(seeds)
    val tp = nodes.map(v => v -> (if (seeds(v)) 1.0 / inGraph else 0.0)).toMap
    val outW = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val byDst = edges.groupBy(_._2)
    var rank = tp
    for (_ <- 1 to iterations) {
      val dm = nodes.filterNot(outW.contains).map(rank).sum
      rank = nodes.map { v =>
        val in = byDst.getOrElse(v, Nil)
          .map { case (u, _, w) => rank(u) * w / outW(u) }.sum
        v -> ((1 - d) * tp(v) + d * (in + dm * tp(v)))
      }.toMap
    }
    rank
  }

  private def runTrust(edges: Seq[(String, String, Double)], seeds: Seq[String],
      iterations: Int, localLimit: Long = 1000000L): Map[String, Double] = {
    val df = edges.toDF("s", "t", "w")
    val sf = seeds.toDF("h")
    val got = Graphs.trustRank(df, "s", "t", sf, "h", iterations, 0.85,
        Some("w"), localEdgeLimit = localLimit)
      .as[(String, Double)].collect().toMap
    Caches.unpersistAll()
    got
  }

  test("trustRank: seeded teleport matches the scalar reference; mass conserved; trust is local") {
    // a,b,c,d linked; e<->f is a 'link farm' unreachable from the seeds
    val edges = Seq(("a", "b", 3.0), ("a", "c", 1.0), ("b", "a", 1.0),
      ("b", "c", 1.0), ("d", "a", 2.0), ("e", "f", 1.0), ("f", "e", 1.0))
    for (iters <- Seq(0, 1, 7)) {
      val got = runTrust(edges, Seq("a"), iters)
      assertClose(got, referenceTrust(edges, Set("a"), iters, 0.85))
      assert(math.abs(got.values.sum - 1.0) < 1e-12, s"iters=$iters mass leak")
    }
    val got = runTrust(edges, Seq("a"), 7)
    // the farm cites only itself and no seed reaches it: rank EXACTLY zero
    assert(got("e") == 0.0 && got("f") == 0.0)
    // d has no in-edges and is no seed: zero too; the seed side holds all mass
    assert(got("d") == 0.0 && got("a") > 0.2)
    // iterations=0 returns the teleport vector itself
    assert(runTrust(edges, Seq("a"), 0) ==
      Map("a" -> 1.0, "b" -> 0.0, "c" -> 0.0, "d" -> 0.0, "e" -> 0.0, "f" -> 0.0))
  }

  test("trustRank: dangling mass teleports to seeds; off-graph seeds ignored; no-seed errors") {
    // c is dangling — its mass must flow back to the seed, not uniformly
    val edges = Seq(("a", "b", 1.0), ("b", "c", 1.0))
    val got = runTrust(edges, Seq("a"), 5)
    assertClose(got, referenceTrust(edges, Set("a"), 5, 0.85))
    assert(math.abs(got.values.sum - 1.0) < 1e-12)
    // a seed absent from the graph changes nothing (|S ∩ V| basis)
    assert(runTrust(edges, Seq("a", "zz"), 5) == got)
    // two seeds split the teleport
    assertClose(runTrust(edges, Seq("a", "b"), 4),
      referenceTrust(edges, Set("a", "b"), 4, 0.85))
    intercept[IllegalArgumentException](runTrust(edges, Seq("zz"), 3))
    intercept[IllegalArgumentException](runTrust(edges, Seq("zz"), 3, localLimit = 0L))
  }

  test("trustRank: distributed path (localEdgeLimit=0) agrees with the local fast path") {
    val edges = Seq(("a", "b", 3.0), ("a", "c", 1.0), ("b", "a", 1.0),
      ("b", "c", 1.0), ("d", "a", 2.0), ("e", "f", 1.0), ("f", "e", 1.0))
    val dist = runTrust(edges, Seq("a", "d"), 6, localLimit = 0L)
    val local = runTrust(edges, Seq("a", "d"), 6)
    assert(dist.keySet == local.keySet)
    dist.foreach { case (k, v) => assert(math.abs(v - local(k)) < 1e-12, s"$k differs") }
  }

  test("pageRank: partitioning-invariant and deterministic across runs") {
    val edges = (0 until 40).map(i => (s"n${i % 10}", s"n${(i * 7 + 3) % 10}", 1.0 + i % 3))
    val a = run(edges, 8)
    val b = {
      val df = edges.toDF("s", "t", "w").repartition(13)
      val got = Graphs.pageRank(df, "s", "t", 8, 0.85, Some("w"))
        .as[(String, Double)].collect().toMap
      Caches.unpersistAll()
      got
    }
    assert(a.keySet == b.keySet)
    // partial-agg sum ORDER shifts with partitioning, so ulps may move;
    // anything past ulp scale means the assignment depended on layout
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12, s"$k differs") }
  }

  /** Independent scalar HITS — textbook loop over in-memory maps, L1
    * normalization, sharing no code with the operator. */
  private def referenceHits(edges: Seq[(String, String, Double)],
      iterations: Int): Map[String, (Double, Double)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    var hub = nodes.map(_ -> 1.0 / nodes.size).toMap
    var auth = nodes.map(_ -> 0.0).toMap
    for (_ <- 1 to iterations) {
      val aRaw = nodes.map(v =>
        v -> edges.filter(_._2 == v).map { case (u, _, w) => hub(u) * w }.sum).toMap
      val aSum = aRaw.values.sum
      auth = if (aSum == 0.0) nodes.map(_ -> 0.0).toMap
        else aRaw.view.mapValues(_ / aSum).toMap
      val hRaw = nodes.map(u =>
        u -> edges.filter(_._1 == u).map { case (_, v, w) => auth(v) * w }.sum).toMap
      val hSum = hRaw.values.sum
      hub = if (hSum == 0.0) nodes.map(_ -> 0.0).toMap
        else hRaw.view.mapValues(_ / hSum).toMap
    }
    nodes.map(v => v -> ((hub(v), auth(v)))).toMap
  }

  private def runHits(edges: Seq[(String, String, Double)], iterations: Int,
      localLimit: Long = 1000000L): Map[String, (Double, Double)] = {
    val got = Graphs.hits(edges.toDF("s", "t", "w"), "s", "t", iterations,
        Some("w"), localEdgeLimit = localLimit)
      .as[(String, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    Caches.unpersistAll()
    got
  }

  test("hits matches the scalar reference on a hub/authority asymmetric digraph") {
    // d1 is a pure directory (points at everything), c1/c2 pure content,
    // m both links and is linked — the shape HITS exists to separate
    val edges = Seq(("d1", "c1", 1.0), ("d1", "c2", 1.0), ("d1", "m", 1.0),
      ("m", "c1", 2.0), ("m", "c2", 1.0))
    for (iters <- Seq(0, 1, 3, 10)) {
      val want = referenceHits(edges, iters)
      val got = runHits(edges, iters)
      assert(got.keySet == want.keySet)
      got.foreach { case (k, (h, a)) =>
        assert(math.abs(h - want(k)._1) < 1e-12, s"hub $k at $iters iters")
        assert(math.abs(a - want(k)._2) < 1e-12, s"auth $k at $iters iters")
      }
    }
    // the separation itself: m's weight-2 endorsement makes it the top hub;
    // d1 hubs too but is NO authority (nothing links it); c1 out-ranks c2
    // as authority (heavier in-weight)
    val r = runHits(edges, 10)
    assert(r("m")._1 == r.values.map(_._1).max && r("d1")._2 == 0.0)
    assert(r("d1")._1 > 0.0)
    assert(r("c1")._2 > r("c2")._2)
    assert(r("c1")._1 == 0.0 && r("c2")._1 == 0.0) // pure content: no out-edges
    // both L1 norms hold after every round
    assert(math.abs(r.values.map(_._1).sum - 1.0) < 1e-12)
    assert(math.abs(r.values.map(_._2).sum - 1.0) < 1e-12)
  }

  private def runLpa(edges: Seq[(String, String, Double)], iterations: Int,
      localLimit: Long = 1000000L): Map[String, String] = {
    val got = Graphs.labelPropagation(edges.toDF("s", "t", "w"), "s", "t",
        iterations, Some("w"), localEdgeLimit = localLimit)
      .as[(String, String)].collect().toMap
    Caches.unpersistAll()
    got
  }

  test("labelPropagation: planted two-triangle graph resolves into two communities across a weak bridge") {
    // two weight-3 triangles joined by a single weight-1 bridge c—d: LPA
    // must keep them apart (connectedComponents would merge them) and the
    // hand-traced sync dynamics reach the {a,b,c}→a, {d,e,f}→d fixpoint
    // by round 3
    val tri = Seq(("a", "b", 3.0), ("b", "c", 3.0), ("c", "a", 3.0),
      ("d", "e", 3.0), ("e", "f", 3.0), ("f", "d", 3.0), ("c", "d", 1.0))
    val got = runLpa(tri, 5)
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "d" -> "d", "e" -> "d", "f" -> "d"))
    // iterations=0: every node keeps its own label
    assert(runLpa(tri, 0) == tri.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => v -> v).toMap)
  }

  test("labelPropagation: distributed path (localEdgeLimit=0) agrees with the local fast path") {
    val tri = Seq(("a", "b", 3.0), ("b", "c", 3.0), ("c", "a", 3.0),
      ("d", "e", 3.0), ("e", "f", 3.0), ("f", "d", 3.0), ("c", "d", 1.0))
    for (iters <- Seq(1, 2, 5))
      assert(runLpa(tri, iters, localLimit = 0L) == runLpa(tri, iters),
        s"paths diverge at $iters rounds")
  }

  test("labelPropagation: min-label tie-break; symmetrization merges direction pairs additively") {
    // a 4-cycle with uniform weights is all ties: round 1 each node takes
    // the min neighbor label, and the tie-break must be identical on both
    // paths (this is the determinism the oracle gate rides on)
    val square = Seq(("a", "b", 1.0), ("b", "c", 1.0), ("c", "d", 1.0), ("d", "a", 1.0))
    val one = runLpa(square, 1)
    assert(one == Map("a" -> "b", "b" -> "a", "c" -> "b", "d" -> "a"))
    assert(runLpa(square, 1, localLimit = 0L) == one)
    // u→v weight 2, v→u weight 2, and both directions at weight 1 apiece
    // all produce the same undirected view — identical communities
    val base = Seq(("x", "y", 2.0), ("y", "z", 1.0))
    val flip = Seq(("y", "x", 2.0), ("y", "z", 1.0))
    val both = Seq(("x", "y", 1.0), ("y", "x", 1.0), ("y", "z", 1.0))
    assert(runLpa(base, 3) == runLpa(flip, 3))
    assert(runLpa(base, 3) == runLpa(both, 3))
  }

  test("labelPropagation: ties break in Spark's UTF-8 binary id order on both paths") {
    // x's two weight-1 neighbours tie. UTF-8 sorts U+E000 (EE 80 80) before
    // U+1F600 (F0 9F 98 80); UTF-16 sorts the emoji's surrogates (D83D DE00)
    // before E000
    val (bmp, emoji) = ("\uE000", "\uD83D\uDE00")
    val edges = Seq(("x", bmp, 1.0), ("x", emoji, 1.0))
    for (limit <- Seq(1000000L, 0L))
      assert(runLpa(edges, 1, localLimit = limit)("x") == bmp, s"localEdgeLimit = $limit")
  }

  test("labelPropagation: edge hygiene drops NULLs and non-positive weights; invalid iterations error") {
    val dirty = Seq((null, "b", 1.0), ("a", null, 1.0), ("a", "b", 0.0),
      ("x", "y", 1.0)).toDF("s", "t", "w")
    val got = Graphs.labelPropagation(dirty, "s", "t", 3, Some("w"))
      .as[(String, String)].collect().toMap
    Caches.unpersistAll()
    assert(got.keySet == Set("x", "y"))
    intercept[IllegalArgumentException](
      Graphs.labelPropagation(dirty, "s", "t", -1))
  }

  test("hits: distributed and local paths agree; parallel edges merge; iterations = 0") {
    val edges = Seq(("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0),
      ("a", "c", 0.5), ("b", "a", 2.0))
    val local = runHits(edges, 8)
    val dist = runHits(edges, 8, localLimit = 0L)
    assert(local.keySet == dist.keySet)
    local.foreach { case (k, (h, a)) =>
      assert(math.abs(h - dist(k)._1) < 1e-12 && math.abs(a - dist(k)._2) < 1e-12, k)
    }
    // parallel edges merge additively: (a,b,1)+(a,b,1) ≡ (a,b,2)
    val dup = runHits(Seq(("a", "b", 1.0), ("a", "b", 1.0), ("b", "a", 1.0)), 5)
    val mrg = runHits(Seq(("a", "b", 2.0), ("b", "a", 1.0)), 5)
    dup.foreach { case (k, (h, a)) =>
      assert(math.abs(h - mrg(k)._1) < 1e-12 && math.abs(a - mrg(k)._2) < 1e-12, k)
    }
    // iterations = 0: uniform hub mass, nothing propagated yet
    val zero = runHits(edges, 0)
    assert(zero.values.forall { case (h, a) => h == 1.0 / 3 && a == 0.0 })
    intercept[IllegalArgumentException](runHits(edges, -1))
  }

  private def runTriangles(edges: Seq[(String, String)],
      localLimit: Long = 1000000L): Map[String, Long] = {
    val got = Graphs.triangleCounts(edges.toDF("s", "t"), "s", "t", localLimit)
      .as[(String, Long)].collect().toMap
    Caches.unpersistAll()
    got
  }

  /** Independent brute force: all node triples tested against the
    * canonical undirected edge set. */
  private def referenceTriangles(edges: Seq[(String, String)]): Map[String, Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => if (e._1 < e._2) e else e.swap).distinct.toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val m = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.size; k <- (j + 1) until nodes.size
      a = nodes(i); b = nodes(j); c = nodes(k)
      if und((a, b)) && und((b, c)) && und((a, c))
    } { m(a) += 1; m(b) += 1; m(c) += 1 }
    m.toMap
  }

  test("triangleCounts: K4, star, square, self-loops and parallel edges") {
    // K4: every node participates in C(3,2) = 3 triangles
    val k4 = for (a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d"); if a < b) yield (a, b)
    assert(runTriangles(k4) == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    // a star closes no triangles (and its hub must not explode the wedge join)
    assert(runTriangles(Seq(("hub", "x"), ("hub", "y"), ("hub", "z"))).isEmpty)
    // a 4-cycle without diagonals closes none
    assert(runTriangles(Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))).isEmpty)
    // self-loops dropped, parallel/reversed duplicates collapse: one triangle
    val messy = Seq(("a", "a"), ("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"), ("a", "c"))
    assert(runTriangles(messy) == Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
  }

  test("triangleCounts: distributed path (localEdgeLimit=0) agrees with the local fast path") {
    val k4plus = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
      ("c", "d"), ("d", "e"), ("e", "f"), ("f", "d"), ("x", "y"))
    assert(runTriangles(k4plus, localLimit = 0L) == runTriangles(k4plus))
    assert(runTriangles(k4plus) ==
      Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 4L, "e" -> 1L, "f" -> 1L))
  }

  private def runBfs(edges: Seq[(String, String)], seeds: Seq[String],
      rounds: Int, localLimit: Long = 1000000L): Map[String, Int] = {
    val got = Graphs.seededDistances(edges.toDF("s", "t"), "s", "t",
        seeds.toDF("n"), "n", rounds, localLimit)
      .as[(String, Int)].collect().toMap
    Caches.unpersistAll()
    got
  }

  test("seededDistances: directed hops, round cap, multi-seed min, dist/local parity") {
    // a -> b -> c -> d, plus x -> a (x is upstream of the seed, unreachable)
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "a"))
    assert(runBfs(chain, Seq("a"), 4) == Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3))
    // round cap: d is absent at rounds = 2 (unknown, not infinite)
    assert(runBfs(chain, Seq("a"), 2) == Map("a" -> 0, "b" -> 1, "c" -> 2))
    // multi-seed: min over seeds; seed not in the graph contributes nothing
    assert(runBfs(chain, Seq("a", "c", "zzz"), 4) ==
      Map("a" -> 0, "b" -> 1, "c" -> 0, "d" -> 1))
    // rounds = 0: seeds only
    assert(runBfs(chain, Seq("a"), 0) == Map("a" -> 0))
    // distributed path (localEdgeLimit = 0) agrees with the driver fast path
    assert(runBfs(chain, Seq("a", "c"), 3, localLimit = 0L) ==
      runBfs(chain, Seq("a", "c"), 3))
    intercept[IllegalArgumentException](runBfs(chain, Seq("a"), -1))
  }

  private def runLinkPred(edges: Seq[(String, String)], minCommon: Int = 1)
      : Map[(String, String), (Long, Double)] = {
    val got = Graphs.linkPrediction(edges.toDF("s", "t"), "s", "t", minCommon)
      .as[(String, String, Long, Double)].collect()
      .map { case (a, b, cn, j) => (a, b) -> (cn, j) }.toMap
    Caches.unpersistAll()
    got
  }

  test("linkPrediction: distance-2 non-edges only, exact cn and jaccard") {
    // square a-b-c-d: diagonals (a,c) and (b,d) share BOTH corners
    val sq = runLinkPred(Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")))
    assert(sq == Map(("a", "c") -> (2L, 1.0), ("b", "d") -> (2L, 1.0)))
    // path a-b-c: one shared neighbor, deg(a)=deg(c)=1 → jaccard 1/(1+1-1)
    assert(runLinkPred(Seq(("a", "b"), ("b", "c"))) == Map(("a", "c") -> (1L, 1.0)))
    // minCommon prunes: the path pair has cn=1 < 2
    assert(runLinkPred(Seq(("a", "b"), ("b", "c")), minCommon = 2).isEmpty)
    // existing edges are never candidates: a triangle predicts nothing
    assert(runLinkPred(Seq(("a", "b"), ("b", "c"), ("a", "c"))).isEmpty)
    // star hub: all leaf pairs share exactly the hub
    val star = runLinkPred(Seq(("h", "x"), ("h", "y"), ("h", "z")))
    assert(star.keySet == Set(("x", "y"), ("x", "z"), ("y", "z")))
    assert(star.values.forall(_ == (1L, 1.0)))
    intercept[IllegalArgumentException](runLinkPred(Seq(("a", "b")), minCommon = 0))
  }

  test("property: linkPrediction equals brute-force scoring on random graphs") {
    import org.scalacheck.{Test => SCTest, Prop, Gen}
    val nodeGen = Gen.chooseNum(0, 9).map(i => s"n$i")
    val edgesGen = Gen.listOfN(20, Gen.zip(nodeGen, nodeGen))
    val prop = Prop.forAll(edgesGen) { es =>
      val und = es.filter(e => e._1 != e._2)
        .map(e => if (e._1 < e._2) e else e.swap).distinct
      val adj = (und ++ und.map(_.swap)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      val nodes = adj.keys.toSeq.sorted
      val want = (for {
        i <- nodes.indices; j <- (i + 1) until nodes.size
        a = nodes(i); b = nodes(j)
        if !adj(a).contains(b)
        cn = (adj(a) & adj(b)).size
        if cn >= 1
      } yield (a, b) -> (cn.toLong,
        cn.toDouble / (adj(a).size + adj(b).size - cn))).toMap
      runLinkPred(und) == want
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop).passed)
  }

  test("property: triangleCounts equals brute-force triple enumeration on random graphs") {
    import org.scalacheck.{Test => SCTest, Prop, Gen}
    val nodeGen = Gen.chooseNum(0, 11).map(i => s"n$i")
    val edgesGen = Gen.listOfN(30, Gen.zip(nodeGen, nodeGen))
    val prop = Prop.forAll(edgesGen) { es =>
      runTriangles(es) == referenceTriangles(es) &&
        runTriangles(es, localLimit = 0L) == referenceTriangles(es)
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop).passed)
  }

  test("kCore: peel cascade, fixed-round semantics, monotone pass-through") {
    import spark.implicits._
    def run(es: Seq[(String, String)], k: Int, rounds: Int): Map[String, Long] = {
      val r = Graphs.kCore(es.toDF("s", "d"), "s", "d", k, rounds)
        .as[(String, Long)].collect().toMap
      Caches.unpersistAll()
      r
    }
    // triangle + pendant, k=2: one round peels the pendant AND drops the
    // hub's degree to 2; the triangle is the 2-core
    val triPend = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("a", "d"))
    assert(run(triPend, k = 2, rounds = 1) ==
      Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    // path a-b-c-d-e, k=2: the peel CASCADES — ends first, then inward;
    // one round is not enough, three empty it
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
    assert(run(path, k = 2, rounds = 1) == Map("b" -> 1L, "c" -> 2L, "d" -> 1L))
    assert(run(path, k = 2, rounds = 3).isEmpty)
    // already-converged input passes through unchanged (monotone)
    assert(run(triPend, k = 2, rounds = 8) == run(triPend, k = 2, rounds = 1))
    intercept[IllegalArgumentException](run(path, k = 0, rounds = 1))
    intercept[IllegalArgumentException](run(path, k = 2, rounds = 0))
  }

  test("degreeAssortativity: hand-computed values, regular-graph NULL, input hygiene") {
    import spark.implicits._
    def run(es: Seq[(String, String)]): (Long, Option[Double]) = {
      val r = Graphs.degreeAssortativity(es.toDF("s", "d"), "s", "d").head()
      Caches.unpersistAll()
      (r.getAs[Long]("n_edges"),
        if (r.isNullAt(r.fieldIndex("assortativity"))) None
        else Some(r.getAs[Double]("assortativity")))
    }
    // star K1,3: every edge pairs the hub (deg 3) with a leaf (deg 1) —
    // perfect anticorrelation
    assert(run(Seq(("h", "a"), ("h", "b"), ("h", "c"))) == (3L, Some(-1.0)))
    // triangle + pendant: degrees a=3 b=2 c=2 d=1; by the exact sums
    // M=8 Σj=18 Σjk=38 Σj²=44 → r = (8·38−324)/(8·44−324) = −20/28
    assert(run(Seq(("a", "b"), ("a", "c"), ("b", "c"), ("a", "d")))
      == (4L, Some(-0.714286)))
    // cycle: degree-regular → zero variance → NULL, never divide-by-zero
    assert(run(Seq(("a", "b"), ("b", "c"), ("c", "a"))) == (3L, None))
    // self-loops and duplicate/reversed edges collapse before counting
    assert(run(Seq(("h", "a"), ("a", "h"), ("h", "h"), ("h", "b"), ("h", "c")))
      == (3L, Some(-1.0)))
  }
}
