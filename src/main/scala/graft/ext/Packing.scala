package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Training-sequence assembly (SURVEY.md §2.12): pack documents into
 * fixed token-budget sequences, the "concat then chunk" shape every LLM
 * pre-training pipeline runs between corpus selection and tokenization.
 *
 * The pipeline is fully deterministic and engine-portable:
 *  1. shard by the portable 60-bit id hash ([[Sampling.idHash]]) —
 *     a deterministic "global shuffle" (hash order is uncorrelated with
 *     crawl/source order, which is what sequence packing wants);
 *  2. within a shard, order by `(idHash, id)` — a total order;
 *  3. prefix-sum token counts and assign `pack_id = cum_before / budget`
 *     (integer division): consecutive documents fill a sequence, a document
 *     straddling the boundary starts counting into the next bin.
 *
 * Scale contract: each shard sorts in ONE task (window partition), so
 * callers size `nShards` to the corpus — tokens_total / nShards should be
 * task-sized (e.g. 100 TB at ~256 MB/task → nShards ≈ 400k). Shards are
 * hash-uniform, so there is no hot-shard skew by construction; the plan is
 * one shuffle on the shard key regardless of corpus size.
 */
object Packing {

  /** `docs(idCol, nTokensCol, ...)` → `(id, shard, n_tokens, pack_id)`.
    * `pack_id` is shard-local; `(shard, pack_id)` is the global sequence
    * key. Rows with null/negative token counts are rejected up front —
    * silently packing them would corrupt every later bin in the shard. */
  def packTokenBudget(docs: DataFrame, idCol: String, nTokensCol: String,
      budget: Int, nShards: Int): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    require(nShards > 0, s"nShards must be positive: $nShards")
    val taken = docs.columns.toSet
    val Seq(hCol, shardCol, cumCol) =
      Seq("__idhash", "__shard", "__cum_before").map(graft.ops.Ops.freshName(taken, _))
    val base = docs
      .filter(col(nTokensCol).isNotNull && col(nTokensCol) >= 0)
      .select(col(idCol), col(nTokensCol).cast("long").as(nTokensCol))
      .withColumn(hCol, Sampling.idHash(col(idCol)))
      .withColumn(shardCol, pmod(col(hCol), lit(nShards.toLong)).cast("int"))
    val w = Window.partitionBy(shardCol).orderBy(col(hCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn(cumCol, sum(col(nTokensCol)).over(w) - col(nTokensCol))
      .select(
        col(idCol),
        col(shardCol).as("shard"),
        col(nTokensCol),
        // integer `div`, not `/`: Column./ is double division, which goes
        // inexact past 2^53 cumulative tokens — div stays exact at any scale
        expr(s"`$cumCol` div ${budget}L").cast("long").as("pack_id"))
  }
}
