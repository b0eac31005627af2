package graft

import org.scalatest.funsuite.AnyFunSuite

/** Global physical-plan contract over EVERY gated query: nothing may plan a
  * CartesianProduct, and unkeyed broadcast-nested-loop joins are allowed
  * only where the operator's design is explicitly an all-pairs scan over a
  * broadcast side (brute-force similarity top-k: tiny query set × corpus,
  * the baseline ANN is measured against). A new query that accidentally
  * joins without a key fails here before it ships. */
class PlanSweepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Queries whose INTENDED plan contains an unkeyed broadcast join:
    *  - sim_topk: brute-force all-pairs over the broadcast query set (the
    *    measured baseline the IVF path is compared against);
    *  - text_tfidf: the distinct-doc count N is a single broadcast row
    *    attached to every token group (a scalar, not a table);
    *  - text_bm25_search: the (N, avgdl) corpus stats are the same one-row
    *    broadcast scalar attached to the postings;
    *  - text_vocab_divergence: the (Na, Nb, V) smoothing totals are one
    *    broadcast row attached to the vocab-sized joined counts;
    *  - join_salted_skew: the dim side fans out across the tiny salt range
    *    (rows × 8) before the keyed join — the salting expansion itself;
    *  - sampling_temperature: the weight normalizer Σ n_d^α is a single
    *    broadcast row attached to the (domain-cardinality-sized) counts
    *    frame — same scalar shape as text_tfidf's N;
    *  - text_surprisal: the corpus token total N is the same one-row
    *    broadcast scalar;
    *  - text_bigram_surprisal: the reference-LM totals (N, V) are the same
    *    one-row broadcast scalar attached to the bigram stream;
    *  - pipeline_ccnet_buckets: embeds the surprisal chain, so it carries
    *    the same one-row token-total broadcast;
    *  - text_ce_diff: the (N_raw, N_target, V) smoothing totals are one
    *    broadcast row attached to the token stream — same scalar shape;
    *  - sampling_quantile_bins: the k−1 quantile thresholds are a single
    *    broadcast row attached per-row for the bin projection;
    *  - sampling_negative_pairs: the corpus size n (the hash modulus) is
    *    the same one-row broadcast scalar. */
  private val broadcastAllPairsByDesign =
    Set("sim_topk", "text_tfidf", "join_salted_skew", "sampling_temperature",
      "text_surprisal", "text_bigram_surprisal", "text_bm25_search",
      "text_vocab_divergence", "pipeline_ccnet_buckets", "text_ce_diff",
      "sampling_quantile_bins", "sampling_negative_pairs",
      // hard negatives ranks the same brute-force broadcast query×corpus
      // scan as sim_topk (minus the cluster-mate anti-join)
      "pipeline_hard_negatives",
      // PSI drift attaches the two one-row count totals to the bins-row
      // spine — the same broadcast-scalar shape
      "profile_psi_drift",
      // PMI attaches the one-row (N_bi, N_uni) totals to the (pruned)
      // bigram-count frame — the same broadcast-scalar shape
      "text_collocations",
      // Kneser–Ney attaches the one-row (B, V) type/vocab totals to the
      // bigram stream — the same broadcast-scalar shape as its Stupid
      // Backoff sibling
      "text_kn_bigram_ppl",
      // quantile normalization attaches the one-row global quantile grid
      // for the calibration projection — the sampling_quantile_bins shape
      "sampling_quantile_normalize",
      // per-doc keywords attach the same one-row N broadcast as text_tfidf
      "text_keywords_per_doc",
      // basket lift attaches the one-row user-count N (the lift
      // denominator's corpus size) — the same broadcast-scalar shape
      "events_basket_lift",
      // the q22 cutoff is a one-row broadcast scalar (exact positive-
      // balance average) attached to every customer row
      "q22_idle_balances",
      // the q15 argmax is a one-row broadcast scalar (max revenue)
      // attached to the supplier-revenue frame
      "q15_top_supplier",
      // the NDCG eval ranks the same brute-force broadcast query×corpus
      // scan as sim_topk (that exact ranking IS the metric's ground truth)
      "sim_retrieval_ndcg",
      // MRR ranks the identical broadcast query×corpus scan as NDCG
      "sim_retrieval_mrr",
      // k-NN classification votes over the same broadcast query×corpus scan
      "sim_knn_classify",
      // NB attaches the label-stats row set and the V/D scalar row as
      // broadcast constants to the doc×label score spine
      "text_nb_classify",
      // the P/R/F1 report evaluates the same NB prediction subtree
      "eval_nb_report",
      // KS attaches the one-row sample totals and the one-row max-D as
      // broadcast scalars to the distinct-value grid
      "profile_ks_drift",
      // the Pareto total/count is a one-row broadcast scalar attached to
      // the ranked customer-revenue frame
      "window_pareto_deciles",
      // RFM chains three quantile-bin passes, each attaching its one-row
      // broadcast threshold grid, plus the corpus-max recency scalar
      "events_rfm_segments",
      // the q11 cutoff is a one-row broadcast scalar (mean-relative value
      // threshold) attached to the per-part value frame — the q22 shape
      "q11_important_values",
      // bitext mining scores the brute-force broadcast A×B pair grid (the
      // sim_topk shape: one side broadcasts, the other streams once) — the
      // documented exact baseline; huge-side callers swap in the IVF pool
      "sim_bitext_margin",
      // calibration attaches the one-row broadcast score-max (the bin
      // normalizer) to every scored row — the q22 scalar shape
      "eval_calibration_bins",
      // kappa combines two one-row aggregate frames (totals × expected-
      // agreement sum) — broadcast scalars, never data-proportional
      "eval_langid_kappa",
      // cluster keywords attaches the one-row broadcast distinct-cluster
      // count (the IDF normalizer) to the vocab×k score frame — the
      // calibration-bins scalar shape
      "sim_cluster_keywords",
      // the sharpen fixture attaches the ONE-ROW broadcast base vector to
      // the m-row planted-cluster spine (plantDenseCluster) — a broadcast
      // scalar, never data-proportional
      "dedup_cosine_lsh_sharpen")

  test("no gated query plans a cartesian product; BNLJ only where designed") {
    val undeclared = scala.collection.mutable.ListBuffer.empty[String]
    val offenders = Queries.all.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      // fixture declarations cannot drift: with only the gate's declared
      // fixtures prewarmed (Bench's path), building the gate builds no other
      gates.Fixture.clearCache()
      Queries.prewarmFixtures(spark, TestSpark.Sf0001, Seq(name))
      val prewarmed = gates.Fixture.cachedKeys
      val plan =
        try fn(spark, TestSpark.Sf0001).queryExecution.executedPlan.toString
        finally graft.ext.Dedup.unpersistAll()
      val extra = gates.Fixture.cachedKeys -- prewarmed
      if (extra.nonEmpty) undeclared += s"$name: ${extra.toSeq.sorted.mkString(", ")}"
      val cartesian = plan.contains("CartesianProduct")
      val bnlj = plan.contains("BroadcastNestedLoopJoin") &&
        !broadcastAllPairsByDesign(name)
      if (cartesian || bnlj)
        Some(s"$name: ${if (cartesian) "CartesianProduct" else "unplanned BroadcastNestedLoopJoin"}")
      else None
    }
    assert(offenders.isEmpty, s"unkeyed join plans:\n${offenders.mkString("\n")}")
    assert(undeclared.isEmpty,
      s"gates building undeclared fixtures:\n${undeclared.mkString("\n")}")
  }
}
