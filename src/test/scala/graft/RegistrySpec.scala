package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions.col

/** The driver contract: every query is declared once, as a [[Case]]. */
class RegistrySpec extends SparkSpec {

  test("a registry built with a duplicate query name throws") {
    val c = Case.query("q_dup", "SELECT 1")((s, _) => s.range(1).toDF)
    val e = intercept[IllegalArgumentException](new Registry(Seq(c, c.copy(name = "q_other"), c)))
    assert(e.getMessage.contains("q_dup"))
  }

  test("the registry holds exactly the driver's 196 query names") {
    val expected = Seq(
      "d_chunk_windows", "d_decontaminate", "d_dedup_norm", "d_fingerprint", "d_fuzzy_survivors",
      "d_gopher_rules", "d_jaccard_adj", "d_langid", "d_minhash_groups", "d_mixture_sample",
      "d_pack_chunks", "d_pack_stats", "d_pii_redact", "d_prep_pipeline", "d_quality",
      "d_repetition", "d_simhash_pairs", "d_split_stratified", "d_textstats", "d_tfidf_top",
      "d_unigram_lp", "m_audio_decode", "m_frames", "m_image_decode", "m_image_resize",
      "q_add_column", "q_anti", "q_apply", "q_clear_edges", "q_cross", "q_csv_load", "q_dedup",
      "q_event_hopping", "q_event_sessions", "q_event_window", "q_explode", "q_gremlin_mutate",
      "q_group_agg", "q_join_agg", "q_modify_edges", "q_modify_vertices", "q_outer",
      "q_project_view", "q_scan_filter", "q_semi", "q_snapshot_sink", "q_topk", "q_union",
      "q_window", "s_ann_recall", "s_cosine_pairs", "s_cosine_topk", "s_ivf_topk", "s_kmeans",
      "s_lsh_topk", "s_pq_topk", "s_quantize", "s_sq8_topk", "tg_apsp", "tg_assortativity",
      "tg_attr_assort", "tg_avg_path_len", "tg_avgclustering", "tg_avgdegconn", "tg_betweenness",
      "tg_bfs", "tg_bfs_preds", "tg_bfs_succs", "tg_bfs_tree", "tg_boundary", "tg_cdlp",
      "tg_closeness", "tg_closeness_all", "tg_degcent", "tg_degcent_in", "tg_degcent_out",
      "tg_degrees", "tg_edge_boundary", "tg_edges", "tg_eigen", "tg_gie_2hop", "tg_gie_exists",
      "tg_gie_pathexpand", "tg_gie_paths", "tg_gie_segment", "tg_gie_shortest", "tg_gie_topk",
      "tg_gie_weighted_shortest", "tg_gremlin_1hop_micro", "tg_gremlin_2hop",
      "tg_gremlin_2hop_micro", "tg_gremlin_aggregate", "tg_gremlin_bool", "tg_gremlin_both",
      "tg_gremlin_bothe", "tg_gremlin_branch", "tg_gremlin_cap", "tg_gremlin_cc_step",
      "tg_gremlin_choose", "tg_gremlin_coalesce", "tg_gremlin_coin", "tg_gremlin_cyclic",
      "tg_gremlin_distinct", "tg_gremlin_edgelabel", "tg_gremlin_elementmap", "tg_gremlin_emit",
      "tg_gremlin_esource", "tg_gremlin_exists", "tg_gremlin_group", "tg_gremlin_hasid",
      "tg_gremlin_haslabel", "tg_gremlin_hits_step", "tg_gremlin_hll", "tg_gremlin_ldbc_cr1",
      "tg_gremlin_ldbc_cr11", "tg_gremlin_ldbc_cr12", "tg_gremlin_ldbc_cr2", "tg_gremlin_ldbc_cr4",
      "tg_gremlin_ldbc_cr5", "tg_gremlin_ldbc_cr6", "tg_gremlin_ldbc_filter",
      "tg_gremlin_ldbc_reach", "tg_gremlin_ldbc_top", "tg_gremlin_local", "tg_gremlin_localagg",
      "tg_gremlin_lpa_step", "tg_gremlin_match", "tg_gremlin_math", "tg_gremlin_numeric",
      "tg_gremlin_pagerank_step", "tg_gremlin_pathexpand", "tg_gremlin_paths",
      "tg_gremlin_profile", "tg_gremlin_project", "tg_gremlin_properties", "tg_gremlin_range",
      "tg_gremlin_repeat", "tg_gremlin_sack", "tg_gremlin_sample", "tg_gremlin_select",
      "tg_gremlin_shortest_step", "tg_gremlin_shuffle", "tg_gremlin_store", "tg_gremlin_subgraph",
      "tg_gremlin_tags", "tg_gremlin_textp", "tg_gremlin_topk", "tg_gremlin_tree",
      "tg_gremlin_union", "tg_gremlin_vids", "tg_gremlin_weighted_shortest_step", "tg_gsl",
      "tg_gsl_edge", "tg_harmonic", "tg_has_path", "tg_hits", "tg_induce", "tg_is_simple_path",
      "tg_katz", "tg_kcore", "tg_kshell", "tg_lcc", "tg_louvain", "tg_lpau2i", "tg_ml_invoke_deg",
      "tg_ml_wcc_reply", "tg_negative_indeg", "tg_negative_nodew", "tg_negative_sample",
      "tg_neighbor_indeg", "tg_neighbor_noreplace", "tg_neighbor_sample", "tg_neighbor_topk",
      "tg_neighbor_wprob", "tg_numeric_assort", "tg_pagerank", "tg_pagerank_resume",
      "tg_pagerank_tol", "tg_pagerank_w", "tg_pathexpand", "tg_pattern", "tg_ppr", "tg_ppr_sparse",
      "tg_pregel_wcc", "tg_report", "tg_salted_hub", "tg_sampling", "tg_simple_edge_paths",
      "tg_simple_paths", "tg_sssp", "tg_sssp_path", "tg_to_undirected", "tg_transitivity",
      "tg_triangles", "tg_wcc", "tg_wcc_resume")
    assert(expected.size == 196)
    assert(SparkEntry.registry.cases.map(_.name).sorted == expected.sorted)
    assert(SparkEntry.queries.keySet == expected.toSet)
    assert(SparkEntry.oracleSql.keySet == expected.toSet)
  }

  test("each convergence probe starts from its case's twin") {
    val probed = SparkEntry.registry.cases.filter(_.twin.probe.isDefined)
    assert(probed.size == 22)
    probed.foreach { c =>
      val (k, k1) = c.twin.probe.get
      assert(k == c.twin.sql, c.name)
      assert(k1 != k, c.name)
    }
    assert(SparkEntry.convergenceSql.keySet == probed.map(_.name).toSet)
  }

  test("Verify rejects query names that no case declares") {
    assert(Verify.unknownNames(Nil).isEmpty, "Verify.slowFirst names an unknown query")
    assert(Verify.unknownNames(Seq("q_dedup", "q_no_such", "tg_wcc")) == Seq("q_no_such"))
  }

  test("a scratch dir is deleted after its query, whether the body fails or not") {
    var seen: Option[Path] = None
    intercept[IllegalStateException](Case.withScratch("graft-spec") { dir =>
      seen = Some(Path.of(dir))
      Files.writeString(Path.of(dir, "part"), "x")
      throw new IllegalStateException("body failed")
    })
    assert(seen.isDefined && !Files.exists(seen.get))

    val out = Case.withScratch("graft-spec") { dir =>
      seen = Some(Path.of(dir))
      spark.range(10).write.parquet(s"$dir/t")
      spark.read.parquet(s"$dir/t").where(col("id") % 2 === 0)
    }
    assert(!Files.exists(seen.get))
    assert(out.count() == 5)
  }
}
