package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.catalog._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY §2 is registered here as a
  * named query over the driver-provided parquet tables, with matching
  * DuckDB oracle SQL (the driver's correctness gate compares Spark's
  * parquet output against the oracle per query: rows/schema/hash).
  */
object SparkEntry {

  private val catalogs: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (TextQueries.queries, TextQueries.oracle),
      (SimilarityQueries.queries, SimilarityQueries.oracle),
      (FilterQueries.queries, FilterQueries.oracle),
      (GraphQueries.queries, GraphQueries.oracle),
      (SearchQueries.queries, SearchQueries.oracle),
      (WriteQueries.queries, WriteQueries.oracle),
      (AlgoQueries.queries, AlgoQueries.oracle),
      (MultimodalQueries.queries, MultimodalQueries.oracle),
      (MiscQueries.queries, MiscQueries.oracle),
      (SampleQueries.queries, SampleQueries.oracle),
      (UrlQueries.queries, UrlQueries.oracle),
      (HtmlQueries.queries, HtmlQueries.oracle)
    )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. End-to-end: seeds a store through the full add pipeline
    * (SCD2 writes, entity graph), then runs the staged search (hybrid +
    * graph merge, boosts, top-k).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_pipeline_search")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalogs.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalogs.map(_._2).reduce(_ ++ _)

  /** Headline subset run by [[Bench]] at sf0.1 — the scale-relevant
    * dataflow queries. Excluded: the q_write_* scenario (fixed-size
    * write-path check, not a scale benchmark) and q_emb_neardup_exact
    * (the deliberate all-pairs oracle baseline; q_emb_neardup_lsh is the
    * scale path and IS measured).
    */
  /** Bench-only variants with no oracle entry: they force the
    * distributed large-graph code paths (wave Brandes, min-label
    * clustering) that a 100× run would take, on graphs whose bounded-path
    * results are oracle-verified; AlgoSpec/OpsSpec assert the two paths
    * agree. Timed by [[Bench]] after the main list.
    */
  def benchExtras: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_write_bulk_ingest" -> (WriteQueries.bulkIngestBench _),
    "q_write_reconcile" -> (WriteQueries.reconcileBench _),
    "q_write_reconcile_batch" -> (WriteQueries.reconcileBatchBench _),
    "q_pipeline_search_scaled" -> (WriteQueries.pipelineSearchScaledBench _),
    "q_betweenness_waves" -> (AlgoQueries.betweennessWavesBench _),
    "q_communities_refined_dist" -> (AlgoQueries.refinedShuffledSigmaBench _),
    "q_dedup_clusters_dist" -> (TextQueries.clustersDistBench _),
    "q_ann_ivf_kmeans" -> (SimilarityQueries.ivfKMeansBench _),
    // renamed from q_ann_ivfpq in r11 when the strided composed path
    // got an oracle entry under that name: this row keeps the
    // kmeans-codebook production variant measured
    "q_ann_ivfpq_kmeans" -> (SimilarityQueries.ivfPqBench _),
    "q_mmr_largek" -> (SimilarityQueries.mmrLargeKBench _),
    // carry path at curation k; the O(k²) recompute sibling
    // (SampleQueries.kCenterRecomputeBench) is deliberately NOT a
    // per-round row — it reads ~193 s at ANY sf (planning-dominated:
    // step i's projection carries i literal-centroid kernels), which is
    // the crossover finding itself (the one-off sweep is BASELINE §19).
    "q_sample_kcenter_carry" -> (SampleQueries.kCenterCarryBench _),
    // no-split histogram best-fit packing; spec-gated (independent
    // doc-by-doc simulator equality) — the solver is a data-dependent
    // loop, not SQL-replayable (the unigram-train precedent)
    "q_pack_bins" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      graft.ops.ShardOps.packBins(
          Tables.load(s, dir, "documents"), "doc_id", "n_chars",
          seqLen = 1024L)
        .groupBy(col("bin_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("fill"))
        .orderBy(col("bin_id"))
    }),
    "q_unigram_train" -> (TextQueries.unigramTrainBench _),
    // renamed from q_unigram_encode in r11 when the pinned-oracle
    // subset query took that name: this row is the FULL-corpus encode
    // throughput with a runtime-trained model
    "q_unigram_encode_full" -> (TextQueries.unigramEncodeBench _)
  )

  /** Recall-telemetry-only queries: computed by [[Bench]] in the untimed
    * recall section (the point is the recall number, not the wall time —
    * VERDICT r5 #8), so the timed list stays comparable across rounds.
    */
  def benchUntimed: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_emb_neardup_lsh_design" -> (SimilarityQueries.nearDupDesignBench _),
    "q_ann_ivf_append_brute" -> (SimilarityQueries.ivfAppendBruteforceBench _),
    "q_ann_ivf_append_stale" -> (SimilarityQueries.ivfAppendStaleBench _),
    "q_ann_ivf_append_fresh" -> (SimilarityQueries.ivfAppendFreshBench _)
  )

  def benchQueries: Seq[String] = Seq(
    "q_text_stats", "q_text_entropy", "q_text_langid", "q_text_fingerprint",
    "q_text_normalize",
    "q_text_quality_rules", "q_text_repetition", "q_pii_redact", "q_betweenness",
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_lsh_pairs",
    "q_dedup_incremental", "q_dedup_incremental_bloom",
    "q_dedup_incremental_lsh", "q_dedup_segments",
    "q_dedup_substrings", "q_memorization_risk", "q_span_corruption",
    "q_dedup_simhash", "q_dedup_simhash_pairs", "q_dedup_clusters",
    "q_dedup_ngram_jaccard", "q_dedup_keep_best", "q_shard_pack",
    "q_shuffle_shards", "q_curriculum", "q_token_budget", "q_prep_pipeline",
    "q_zorder_layout", "q_salted_join", "q_bucketed_join",
    "q_decontaminate", "q_decontaminate_bloom", "q_mix_epochs",
    "q_mix_temperature", "q_doremi_weights", "q_select_contrastive",
    "q_mix_doremi",
    "q_corpus_report", "q_corpus_drift", "q_seq_pack",
    "q_chunk_overlap",
    "q_vocab_topk", "q_vocab_coverage", "q_pmi_collocations",
    "q_bpe_merges",
    "q_wordpiece_merges",
    "q_bpe_encode", "q_quality_classifier", "q_classifier_train", "q_lm_score",
    "q_quality_buckets",
    "q_heavy_hitters", "q_dsir_weights", "q_dsir_sample",
    "q_sample_stratified", "q_sample_cluster", "q_sample_kcenter",
    "q_corpus_quantiles", "q_quantile_approx", "q_distinct_approx",
    "q_filter_adaptive", "q_outliers_mad",
    "q_emb_neardup_lsh", "q_semdedup", "q_proto_prune", "q_pair_mining",
    "q_ann_bruteforce", "q_ann_ivf", "q_ann_pq", "q_ann_pq_rerank",
    "q_ann_ivfpq", "q_ann_sq8", "q_ann_binary", "q_ann_truncated",
    "q_unigram_encode",
    "q_cosine_topk", "q_recon_candidates",
    "q_mmr", "q_bm25", "q_rrf", "q_hybrid",
    "q_filter_timerange", "q_filter_predicates", "q_latest_per_key",
    "q_group_by_session", "q_sessionize", "q_funnel", "q_retention",
    "q_transitions", "q_top_paths", "q_rolling_window",
    "q_asof_join", "q_asof_tolerance", "q_interval_join",
    "q_asof_nearest", "q_range_join", "q_band_join", "q_rollup",
    "q_pivot", "q_cube",
    "q_stats",
    "q_graph_expand", "q_graph_two_hop", "q_graph_var_paths",
    "q_graph_merge", "q_graph_topology", "q_graph_reinforcement",
    "q_score_boost", "q_score_composite",
    "q_pagerank", "q_ppr", "q_communities", "q_modularity",
    "q_clustering", "q_triangles", "q_components", "q_kcore",
    "q_harmonic", "q_link_prediction", "q_tfidf_keywords",
    "q_communities_refined", "q_modularity_refined", "q_score_crosssession",
    "q_betweenness_sampled", "q_url_normalize", "q_domain_filter",
    "q_domain_quality",
    "q_unigram_seed", "q_unigram_train_round", "q_unigram_train_round2",
    "q_pipeline_search"
  )
}
