package graft.llm

import org.apache.spark.sql.SparkSession

/** What Bench builds, untimed, before it times any operator, and which
  * operators read each build. Without it whichever operator runs first
  * absorbs a shared build into its timed row, and per-query regressions
  * are not attributable. At 100 TB these are the offline passes (index
  * builds, ANALYZE, source staging) a deployment runs before query time.
  */
object Warmup {
  /** One untimed build `name`, run when some selected operator `serves`. */
  final case class Step(name: String, serves: String => Boolean,
      build: (SparkSession, String) => Unit)

  /** A shared llm_* index, model or stored table, built when one of the
    * operators that read it is selected. */
  private def llm(name: String, readers: Set[String])(
      build: (SparkSession, String) => Any): Step =
    Step(name, readers, (s, d) => { build(s, d); () })

  // the operators that read each shared build, directly or through another
  private val minhashOps = Set("llm_dedup_cluster", "llm_dedup_cluster_incremental",
    "llm_dedup_minhash", "llm_dedup_ngram_jaccard", "llm_pipeline_clean_corpus",
    "llm_source_overlap", "llm_split_decontaminated")
  private val embOps = Set("llm_cluster_kmeans", "llm_dedup_embedding",
    "llm_embedding_centroid", "llm_knn_classify", "llm_similarity_ann", "llm_similarity_ivf",
    "llm_similarity_knn_join", "llm_similarity_knn_join_ann", "llm_similarity_topk")
  private val perplexityOps = Set("llm_perplexity_buckets", "llm_perplexity_score")
  private val containmentOps = Set("llm_dedup_containment", "llm_dedup_containment_indexed")
  private val gramOps = containmentOps ++ Set("llm_decontaminate",
    "llm_decontaminate_bloom", "llm_decontaminate_indexed", "llm_dedup_passage",
    "llm_gram_index_append", "llm_gram_index_build")
  private val spanPairOps = Set("llm_dedup_span", "llm_dedup_span_indexed")

  /** Every step, in run order. */
  val steps: Seq[Step] = Seq(
    // the persisted per-session indexes (MinHash signatures, LSH
    // candidates, SimHash, embeddings, IVF cells) and text models
    llm("sigIndex", minhashOps + "llm_dedup_incremental_batch")(
      DedupOps.sigIndex(_, _).count()),
    llm("minhashCandidates", minhashOps)(DedupOps.minhashCandidates(_, _).count()),
    llm("simIndex", Set("llm_dedup_simhash"))(DedupOps.simIndex(_, _).count()),
    llm("embIndex", embOps)(DedupOps.embIndex(_, _).count()),
    llm("ivfIndex", Set("llm_similarity_ivf"))(SimilarityOps.ivfIndex(_, _)._1.count()),
    llm("unigramModel", perplexityOps + "llm_unigram_logprob")(
      TextOps.unigramModel(_, _).count()),
    llm("perplexityScored", perplexityOps)(TextOps.perplexityScored(_, _).count()),
    // the stored bucketed index tables: every llm_*_index_build and
    // *_indexed row then times its profile/consume stage, not the
    // once-per-corpus table build. The gram and span tables are their
    // families' only materialization; the rare-key tables (with the
    // gram-set table, from the same aggregate), the gram-append table and
    // the train-gram bloom are built from their rows
    llm("gramTable", gramOps)(DedupOps.gramTable),
    llm("gramRareTable", containmentOps)(DedupOps.gramRareTable),
    llm("trainBloom", Set("llm_decontaminate_bloom"))(DedupOps.trainBloom(_, _).count()),
    llm("embTable", Set("llm_dedup_embedding_indexed", "llm_dedup_semantic",
      "llm_emb_index_build"))(DedupOps.embTable),
    llm("sigTable", Set("llm_dedup_incremental_batch", "llm_dedup_minhash_indexed",
      "llm_sig_index_build"))(DedupOps.sigTable),
    llm("simTable", Set("llm_dedup_simhash_indexed", "llm_sim_index_build"))(
      DedupOps.simTable),
    llm("spanTable", spanPairOps + "llm_span_index_build")(DedupOps.spanTable),
    llm("spanRareTable", spanPairOps)(DedupOps.spanRareTable),
    llm("sigAppendTable", Set("llm_sig_index_append"))(DedupOps.sigAppendTable),
    llm("gramAppendTable", Set("llm_gram_index_append"))(DedupOps.gramAppendTable),
    llm("embAppendTable", Set("llm_emb_index_append"))(DedupOps.embAppendTable),
    // the stored cluster state the incremental-CC op folds its delta into
    llm("baseClusters", Set("llm_dedup_cluster_incremental"))(
      DedupOps.baseClusters(_, _).count()),
    // the BPE merge table is a trained model shared by llm_bpe_train
    // (emits it) and llm_bpe_apply (encodes with it): train once per
    // corpus, both rows time their consume stage
    llm("bpeMerges", Set("llm_bpe_train", "llm_bpe_apply"))(TextOps.bpeMerges),
    // each stream op's simulated S3 drops are deterministic corpus
    // functions; checkpoints, state and sinks stay per-run fresh inside
    // the ops, so re-runs remain independent
    Step("streamFixtures", _.startsWith("stream_"),
      graft.streaming.StreamOps.stageFixtures),
    Step("starStats", Set("agg_sales_by_category_star", "agg_histogram_approx"),
      starStats),
    // the per-segment medians the single-scan median+MAD op broadcasts
    Step("segmentMedians", _ == "agg_median_mad_approx",
      (s, d) => { graft.analytics.Advanced.segmentMedians(s, d); () }),
    // the Derby OLTP seed both JDBC ops read and write (at scale the
    // source database exists before the extract runs)
    Step("derby", Set("scan_jdbc_export", "sink_jdbc_load"),
      (s, d) => { graft.etl.Ingest.derbyUrl(s, d); () }),
    // the SQL-text operators call registerAll defensively; it is memoized,
    // so their calls are no-ops after this one
    Step("catalog", _ => true, graft.tables.Tables.registerAll))

  /** Run, in order, every step that serves some `selected` operator; print
    * `[warmup] <name> <s>s` for each. A failing step is reported and
    * skipped, and the steps after it still run. Returns each run step's
    * seconds, -1 for a failed one. */
  def run(spark: SparkSession, sfDir: String,
      selected: Iterable[String]): Seq[(String, Double)] =
    steps.filter(st => selected.exists(st.serves)).map { st =>
      val sec =
        try graft.util.Driver.secs(st.build(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[bench] ${st.name} warmup failed: ${e.getMessage}"); -1.0
        }
      if (sec >= 0) System.err.println(f"[warmup] ${st.name} $sec%.2fs")
      st.name -> sec
    }

  /** The star catalog tables + ANALYZE statistics (a deployment runs
    * ANALYZE at load time, not per dashboard query). */
  def starStats(spark: SparkSession, sfDir: String): Unit =
    graft.analytics.Queries.starStatsTag(spark, sfDir)
}
