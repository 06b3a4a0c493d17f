package perfbench

/** The batch workload's fixed query mix. Every key is oracled (its
  * reference digest comes from the key's DuckDB twin) and none is one of
  * the keys whose bench timings were served from a cross-run snapshot. */
object Workloads {

  /** Event and log traffic: bound by fixed cost per query — table opens,
    * eager pins, Catalyst over wide flow/CEP/grok plans, stage scheduling. */
  val eventQueries: Seq[String] = Seq(
    "fn_grok_dispatch", "evt_pattern_match", "flow_compiled_route",
    "flow_named_rollup", "join_asof_nearest")

  val mixes: Map[String, Seq[String]] = Map("event_queries" -> eventQueries)

  /** Keys the engine's own bench reported as served from a committed
    * snapshot of an earlier run (`snapshot_backed`); kept out of the mixes. */
  val snapshotBacked: Set[String] = Set(
    "graph_bfs_hops", "graph_cc_fixpoint", "graph_common_neighbors",
    "graph_community_stats", "graph_cooccur_edges", "graph_degree_hist",
    "graph_hashmin_cc", "graph_kcore_peel", "graph_label_prop", "graph_pagerank",
    "graph_triangle_count", "graph_wcc_sizes", "llm_cluster_purity",
    "llm_corpus_select", "llm_dedup_clusters", "llm_dedup_incremental",
    "llm_dedup_keep", "llm_minhash_jaccard_est", "llm_minhash_md5",
    "llm_semantic_dedup_cellsized", "llm_semantic_dedup_keep",
    "scale_bucketed_agg", "scale_bucketed_join", "scale_cbo_reorder",
    "scale_compact_write", "scale_dpp_join", "scale_manifest_prune",
    "scale_partition_evolution", "scale_sorted_layout_scan", "scale_zorder_scan",
    "scan_partition_pruned", "source_schema_evolution", "stream_near_dedup")

  require(mixes.values.flatten.forall(k => !snapshotBacked(k)),
    "a snapshot-backed key is in a mix")
}
