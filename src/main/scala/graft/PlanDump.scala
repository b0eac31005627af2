package graft
import java.nio.file.{Files, Paths}

/** Dump formatted physical plans — the plan-shape evidence (pushdown,
  * broadcasts, codegen spans) that would otherwise be collected by hand
  * with `.explain("formatted")`. Two output modes over one loop:
  *  - `runMain graft.PlanDump [sfDir] [outFile]`: every headline query into
  *    one markdown file (default `PLANS.md`);
  *  - `runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>`: one
  *    `<outDir>/<query>_<suffix>.txt` per named query — the before/after
  *    evidence trail of an optimization (`plans/r20/`). */
object PlanDump {
  private val Headline = Seq(
    "s2_window_scan", "a5_window_reload", "a4_upsert", "q3_shipping_priority",
    "dedup_minhash_lsh", "dedup_embedding_cosine", "sim_ann_ivf", "dedup_clusters",
    "pack_token_budget", "window_order_ledger",
    "dedup_keep_best", "dedup_edit_distance", "ts_resample_fill",
    "dedup_span_exact", "dedup_decontaminate_bloom", "text_ce_diff",
    "interval_join_events", "sampling_quantile_bins", "asof_next_error",
    "sim_ann_rerank", "text_c4_clean", "text_url_domain_psl",
    "text_repetition_topgram", "pipeline_clean_corpus",
    "dedup_paragraphs_global", "pipeline_ccnet_buckets",
    "text_bm25_search", "events_funnel", "sampling_shuffle_shards",
    "text_bigram_surprisal", "sampling_weighted_k", "text_vocab_divergence",
    "profile_outliers_mad", "events_frequent_paths", "text_lexicon_screen",
    "text_encoding_screen", "text_nfc_normalize", "text_phrase_screen",
    "text_readability", "q5_local_supplier_volume", "text_kn_bigram_ppl",
    "sim_rrf_fusion", "sampling_quantile_normalize", "sim_prototype_prune",
    "profile_cms_heavy_hitters", "profile_zipf_fit", "sampling_unimax",
    "text_script_profile", "text_url_host_stats", "dedup_url_canonical",
    "ts_volume_anomaly", "dedup_source_overlap", "q18_large_orders",
    "q2_min_cost_supplier", "q9_nation_profit", "q12_late_lines_by_flag",
    "q21_waiting_suppliers", "sim_bitext_margin",
    "eval_auc_purchase", "eval_langid_kappa", "dedup_name_linkage",
    "privacy_suppress_k", "ts_cusum_shift", "graph_assortativity",
    "sim_retrieval_mrr", "text_nb_classify", "graph_kcore",
    "eval_nb_report", "ts_trend_theil_sen", "sim_knn_classify",
    "eval_kendall_tau", "agg_theil_index",
    "text_bm25_index_search", "text_html_extract", "text_html_links",
    "sim_cluster_keywords", "events_retention_cohorts", "o19_jdbc_roundtrip",
    "graph_triangles", "pipeline_hard_negatives")

  def main(args: Array[String]): Unit = if (args.length == 4) perQuery(args) else headlines(args)

  private def headlines(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val sb = new StringBuilder(
      s"# Physical plans — generated by `runMain graft.PlanDump $sfDir`\n\n" +
        "Formatted `.explain` of the headline queries; regenerate after plan-affecting changes.\n")
    forEachPlan(sfDir, Headline)((n, plan) => sb.append(s"\n## $n\n\n```\n$plan```\n"))
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plandump] wrote $out")
  }

  private def perQuery(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, namesCsv) = args
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    Files.createDirectories(Paths.get(outDir))
    forEachPlan(sfDir, names) { (n, plan) =>
      Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), plan)
      System.err.println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
    }
  }

  /** Plan each named query on `sfDir` in one session and hand its formatted
    * physical plan to `emit`. */
  private def forEachPlan(sfDir: String, names: Seq[String])(emit: (String, String) => Unit): Unit = {
    val spark = io.Sessions.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      emit(n, df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      graft.ext.Dedup.unpersistAll()
    }
    spark.stop()
  }
}
