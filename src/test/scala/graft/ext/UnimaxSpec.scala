package graft.ext

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Sampling.unimaxAllocation]]: the hand-computed waterfall on a
  * three-language fixture (capped prefix + waterline tail), the all-capped
  * and all-waterline edges, the invariants (never above cap, total =
  * min(budget, Σ capacity)), and bounds. */
class UnimaxSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** counts a=2, b=3, c=10 → caps 4, 6, 20 at maxEpochs 2. */
  private val docs = (
    (1 to 2).map(i => (i.toLong, "a")) ++
    (3 to 5).map(i => (i.toLong, "b")) ++
    (6 to 15).map(i => (i.toLong, "c"))).toDF("doc_id", "lang")

  private def alloc(budget: Double): Map[String, (Long, Double, Double, Double)] =
    Sampling.unimaxAllocation(docs, "lang", budget, maxEpochs = 2.0)
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap

  test("waterfall: small languages take full capacity, the rest waterline") {
    val m = alloc(18.0)
    // a: 4·2 = 8 ≤ 18−4 → full 4; b: 6·1 = 6 ≤ 18−10 → full 6;
    // c: waterline (18−10)/1 = 8, epochs 0.8
    assert(m("a") == ((2L, 4.0, 4.0, 2.0)))
    assert(m("b") == ((3L, 6.0, 6.0, 2.0)))
    assert(m("c") == ((10L, 20.0, 8.0, 0.8)))
  }

  test("budget above total capacity caps every language at maxEpochs") {
    val m = alloc(40.0)
    assert(m.values.forall { case (_, cap, a, e) => a == cap && e == 2.0 })
    assert(m.values.map(_._3).sum == 30.0)
  }

  test("budget below every share puts all languages on one waterline") {
    val m = alloc(9.0)
    assert(m.values.forall(_._3 == 3.0))
    assert(m("a")._4 == 1.5)
  }

  test("invariants: never above capacity, total = min(budget, sum capacity)") {
    for (b <- Seq(1.0, 5.0, 12.0, 18.0, 25.0, 29.0, 30.0, 100.0)) {
      val m = alloc(b)
      m.foreach { case (l, (_, cap, a, e)) =>
        assert(a <= cap + 1e-9, s"budget $b lang $l alloc $a above cap $cap")
        assert(e <= 2.0 + 1e-9, s"budget $b lang $l epochs $e above max")
      }
      // alloc_docs is rounded at 6 decimals per language, so the total can
      // drift by up to L·5e-7 from the exact waterfall sum
      val total = m.values.map(_._3).sum
      assert(math.abs(total - math.min(b, 30.0)) < 5e-6,
        s"budget $b allocated $total")
    }
  }

  test("property: closed form equals the paper's greedy waterfall") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genCounts = Gen.resize(8, Gen.nonEmptyListOf(Gen.choose(1, 500)))
      .map(_.zipWithIndex.map { case (n, i) => (f"l$i%02d", n) })
    val genCase = Gen.zip(genCounts, Gen.choose(1, 3000), Gen.oneOf(0.5, 1.0, 2.0, 3.0))
    val prop = Prop.forAll(genCase) { case (langs, budget, e) =>
      // the paper's greedy: ascending capacity, each language takes
      // min(cap, remaining / langs_left)
      val sorted = langs.map { case (l, n) => (l, n * e) }
        .sortBy { case (l, c) => (c, l) }
      var remaining = budget.toDouble
      val want = sorted.zipWithIndex.map { case ((l, cap), i) =>
        val share = remaining / (sorted.size - i)
        val a = math.min(cap, share)
        remaining -= a
        l -> a
      }.toMap
      val docs = langs.flatMap { case (l, n) => (1 to n).map(i => (l, i)) }
        .zipWithIndex.map { case ((l, _), id) => (id.toLong, l) }
        .toDF("doc_id", "lang")
      val got = Sampling.unimaxAllocation(docs, "lang", budget.toDouble, e)
        .as[(String, Long, Double, Double, Double)].collect()
        .map(r => r._1 -> r._4).toMap
      got.keySet == want.keySet &&
        got.forall { case (l, a) => math.abs(a - want(l)) < 1e-5 }
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop).passed)
  }

  test("null language rows are excluded; bounds are enforced") {
    val withNull = docs.union(Seq((99L, null.asInstanceOf[String]))
      .toDF("doc_id", "lang"))
    val m = Sampling.unimaxAllocation(withNull, "lang", 18.0, 2.0)
      .as[(String, Long, Double, Double, Double)].collect()
    assert(m.length == 3)
    intercept[IllegalArgumentException] {
      Sampling.unimaxAllocation(docs, "lang", 0.0, 2.0)
    }
    intercept[IllegalArgumentException] {
      Sampling.unimaxAllocation(docs, "lang", 18.0, 0.0)
    }
  }
}
