package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * One gated operator: its `body`, served as `SparkEntry.queries(name)` —
 * (SparkSession, sfDir) => DataFrame — paired with the equivalent ANSI SQL
 * `oracle` that DuckDB executes over the same parquet tables
 * (`SparkEntry.oracleSql(name)`), plus the per-JVM [[Fixture]]s the body
 * reads, which `Bench` prewarms outside its timed region. Every gated
 * query has an oracle: the approximate ops are gated at their exact
 * operating points (sim_ann_ivf at full probe, dedup_minhash_lsh
 * verified-exact) with the approximate points covered by specs.
 */
final case class Gate(
    name: String,
    body: (SparkSession, String) => DataFrame,
    oracle: String,
    fixtures: Seq[Fixture[_]] = Nil)

object Gate {

  /** The gates by name. A duplicate name fails here: a `Map` literal would
    * silently keep the last binding and drop a gate from
    * `SparkEntry.queries`. */
  def registry(gates: Seq[Gate]): Map[String, Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
    gates.map(g => g.name -> g).toMap
  }
}
