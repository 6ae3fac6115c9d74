package graft.util

/** Dumps `.explain("formatted")` for the scale-critical queries (source
  * material for PLANS.md). Not part of the driver contract. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Driver.session("8")
    spark.sparkContext.setLogLevel("ERROR")
    val picks = Seq(
      "agg_sales_by_category_year", "incremental_upsert", "scan_parquet",
      "filter_last_3_months", "llm_dedup_minhash", "llm_dedup_simhash",
      "llm_similarity_topk",
      "agg_skew_salted",
      // round 3
      "sink_bucketed_colocated", "join_skew_salted", "agg_grouping_sets",
      "llm_decontaminate", "agg_hll_mergeable",
      // round 5
      "llm_chunk_documents", "llm_tfidf_topterms",
      "join_interval_overlap", "llm_unigram_logprob", "llm_domain_mixture",
      "sink_zorder_cluster",
      // round 9
      "join_dpp_prune",
      // round 11
      "agg_histogram_approx", "agg_heavy_hitters_cms",
      "window_topn_per_group",
      "upsert_positional_delete", "join_fuzzy_levenshtein",
      "llm_sample_per_group_k",
      // round 11, second wave
      "join_snowflake_chain", "agg_bitmap_distinct", "llm_dedup_span",
      "agg_gini_revenue", "agg_conversion_lag")
    picks.foreach { name =>
      println(s"\n======== $name ========")
      graft.SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
