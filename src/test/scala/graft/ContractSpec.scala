package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards on the driver contract itself (SparkEntry): a typo'd oracle key or
  * a query without an oracle silently downgrades the driver's correctness
  * gate for that operator — fail here first. */
class ContractSpec extends AnyFunSuite {

  /** Gates deliberately shipped WITHOUT an oracle (driver falls back to its
    * rows-only check). Each needs a reason here and a spec pinning what the
    * oracle can't. EMPTY since round 16: text_bpe_merges — the last holdout —
    * now hash-gates the full merge table via the chained-CTE fixpoint unroll
    * (TextGates.bpeMergesOracle). */
  private val rowsOnlyByDesign = Set.empty[String]

  test("every gated query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q.diff(o) == rowsOnlyByDesign.filter(q),
      s"queries without oracles beyond the documented rows-only set: " +
        s"${(q.diff(o) -- rowsOnlyByDesign).toSeq.sorted}")
    assert(o.diff(q).isEmpty, s"oracles without queries: ${o.diff(q).toSeq.sorted}")
  }

  test("flagship entry returns rows on sf0.001 (the driver's smoke check)") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }

  test("oracle SQL texts are non-empty and mention a fixture table") {
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, s"$name: empty oracle")
      assert(tables.exists(sql.contains), s"$name: oracle references no fixture table")
    }
  }

  test("the gate registry refuses a duplicate gate name and names it") {
    val g = gates.Gate("dup_gate", (s, _) => s.emptyDataFrame, "SELECT 1 FROM orders")
    val e = intercept[IllegalArgumentException](
      gates.Gate.registry(Seq(g, g.copy(oracle = "SELECT 2 FROM orders"))))
    assert(e.getMessage.contains("dup_gate"))
  }
}
