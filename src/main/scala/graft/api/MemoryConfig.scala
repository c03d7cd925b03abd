package graft.api

/** Engine configuration — port of the reference's MemoryConfig
  * (types.py:49-171) with its __post_init__ range validation
  * (types.py:107-146). LLM-client fields are replaced by the injectable
  * traits in [[graft.ext]].
  */
final case class MemoryConfig(
    userId: String = "default",
    agentId: Option[String] = None,
    runId: Option[String] = None,
    graphName: Option[String] = None,
    embeddingDimensions: Int = 16,
    // reconciliation (types.py:59-61)
    reconciliationThreshold: Double = 0.3,
    reconciliationCandidates: Int = 10,
    agreementBonus: Double = 0.1,
    // search
    searchMinScore: Option[Double] = None,
    graphSearchDepth: Int = 1,
    mmrLambda: Double = 0.5,
    rrfK: Double = 1.0,
    // importance scoring (types.py:71-84)
    enableImportance: Boolean = false,
    weightSimilarity: Double = 0.4,
    weightRecency: Double = 0.3,
    weightFrequency: Double = 0.15,
    weightImportance: Double = 0.15,
    weightTopology: Double = 0.0,
    recencyDecayRate: Double = 0.01,
    enableStructuralDecay: Boolean = false,
    structuralFeedbackGamma: Double = 0.3,
    enableTopologyBoost: Boolean = false,
    topologyBoostFactor: Double = 0.2,
    // graph algorithms / communities
    enableGraphAlgorithms: Boolean = false,
    crossSessionFactor: Double = 0.0,
    enableCommunitySummaries: Boolean = false,
    // above this node count the engine's metric recompute switches from
    // exact full-source Brandes (O(V·E)) to pivot-sampled roots
    // (Brandes–Pich estimator), keeping the write path bounded at scale
    betweennessExactMaxNodes: Long = 4096L,
    betweennessSampleRoots: Int = 256,
    // modularity refinement over the LPA partition (the reference runs
    // Louvain here, manager.py:1633-1642). DEFAULT ON at the measured
    // knee (16 rounds, mod-4 — BASELINE §7b):
    // on manager-style graphs the refined partition reproduces
    // sequential Louvain's modularity AND its materialized ≥2-member
    // entity sets exactly on the multi-session and shared-hub families
    // (where raw LPA label-floods to one giant community, Q 0.20 vs
    // Louvain 0.60), and approximates Louvain's split on the
    // single-cluster family — which the reference's own Louvain also
    // splits, so the old keep-LPA "stability" default was a deviation
    // from reference behavior, not fidelity to it. 0 opts out to raw
    // LPA.
    communityRefineRounds: Int = 16,
    // at or below this node count the community partition runs the
    // reference's sequential Louvain on the driver (bounded collect,
    // the betweennessExactMaxNodes pattern): small-tenant lifecycles
    // match grafeo-memory exactly, and the synchronous refinement's
    // tiny-graph swap-oscillation (BASELINE §7b) is moot.
    // Above it, the distributed LPA + refineCommunities pair runs.
    communityExactMaxNodes: Long = 4096L,
    // push the tenant scope into BOTH hybrid candidate legs instead of
    // the reference's post-hoc filter (search/vector.py:96-97,159-160):
    // faithful mode can return zero in-scope rows on a crowded shared
    // store; scoped mode guarantees the tenant a full candidate page
    scopedHybridCandidates: Boolean = false,
    // temporal
    enableBitemporal: Boolean = false,
    enableEpisodes: Boolean = false,
    // multimodal
    enableVision: Boolean = false,
    // consolidation (W7)
    consolidationBatchSize: Int = 10,
    consolidationPreserveRecent: Int = 5,
    consolidationProtectThreshold: Double = 0.8
) {
  private def req(ok: Boolean, msg: String): Unit =
    if (!ok) throw new IllegalArgumentException(msg)

  // validation mirrors types.py:107-146
  req(userId.nonEmpty, "user_id must be non-empty")
  req(embeddingDimensions > 0, "embedding_dimensions must be positive")
  req(
    reconciliationThreshold >= 0.0 && reconciliationThreshold <= 1.0,
    "reconciliation_threshold must be in [0, 1]")
  req(agreementBonus >= 0.0, "agreement_bonus must be >= 0")
  searchMinScore.foreach(m =>
    req(m >= 0.0 && m <= 1.0, "search_min_score must be in [0, 1]"))
  req(graphSearchDepth == 1 || graphSearchDepth == 2, "graph_search_depth must be 1 or 2")
  req(mmrLambda >= 0.0 && mmrLambda <= 1.0, "mmr_lambda must be in [0, 1]")
  Seq(
    "weight_similarity" -> weightSimilarity,
    "weight_recency" -> weightRecency,
    "weight_frequency" -> weightFrequency,
    "weight_importance" -> weightImportance,
    "weight_topology" -> weightTopology
  ).foreach { case (n, w) => req(w >= 0.0 && w <= 1.0, s"$n must be in [0, 1]") }
  req(recencyDecayRate >= 0.0, "recency_decay_rate must be >= 0")
  req(
    structuralFeedbackGamma >= 0.0 && structuralFeedbackGamma <= 1.0,
    "structural_feedback_gamma must be in [0, 1]")
  req(topologyBoostFactor >= 0.0, "topology_boost_factor must be >= 0")
  req(
    !enableCommunitySummaries || enableGraphAlgorithms,
    "community summaries require graph algorithms (types.py:107-109)")
  req(consolidationBatchSize > 0, "consolidation_batch_size must be positive")
  req(betweennessExactMaxNodes >= 0, "betweenness_exact_max_nodes must be >= 0")
  req(communityExactMaxNodes >= 0, "community_exact_max_nodes must be >= 0")
  req(betweennessSampleRoots > 0, "betweenness_sample_roots must be positive")
  req(consolidationPreserveRecent >= 0, "consolidation_preserve_recent must be >= 0")

  /** F1 scope filter map (manager.py:164-175). */
  def scopeFilters: Map[String, String] =
    Map("user_id" -> userId) ++
      agentId.map("agent_id" -> _) ++
      runId.map("run_id" -> _) ++
      graphName.map("graph_name" -> _)
}
