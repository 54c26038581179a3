package graft

import java.io.PrintWriter

/** Dumps `explain("formatted")` for a headline subset of queries to
  * PLANS.md — the human-readable companion to PlanShapeSpec's
  * machine-checked assertions. Usage:
  *
  * {{{ sbt "runMain graft.PlanDump [outFile] [sfDir]" }}}
  *
  * The dump is reproducible: the ids Spark numbers per JVM (expression
  * ids, exchange `plan_id`s) and the random suffixes of temporary table
  * directories are masked, so two runs of one commit are byte-identical
  * and a diff of PLANS.md shows only plan changes.
  */
object PlanDump {
  /** One query per plan family: scan+pushdown, broadcast star join, SMJ,
    * top-k, window, as-of (native), minhash bands, simhash, LSH ANN,
    * range-blocked join, pipeline, DSv2 connector, broadcast
    * contamination probe, connected-components output. */
  val headline: Seq[String] = Seq(
    "q_scan_pruned", "q_join_broadcast", "q_join_smj", "q_sort_limit",
    "q_win_topk_group", "q_join_asof_native", "q_dedup_near",
    "q_dedup_simhash", "q_dedup_embed_lsh", "q_join_range_blocked",
    "q_pipeline_clean", "q_src_dsv2", "q_text_contamination",
    "q_dedup_connected", "q_layout_zorder", "q_join_salted",
    "q_pipeline_pack", "q_join_dpp", "q_sql_recursive", "q_sql_lateral",
    "q_graph_triangles", "q_win_topk_native", "q_rule_topk",
    "q_text_dupgrams", "q_curate_dsir", "q_stream_outer",
    "q_sql_timerange",
    // round 6: composite funnel, bin-pack compaction read-back, parallel
    // LTTB, BPE encode
    "q_pipeline_e2e", "q_layout_compact", "q_ts_lttb", "q_text_bpe_apply",
    // round 7: distributed rank kernel, DSv2 depth (aggregate pushdown,
    // storage-partitioned join, connector DPP, catalog DDL), bloom join,
    // connector sink commit protocol
    "q_win_rank_dist", "q_src_aggpush", "q_src_spj", "q_join_dpp_v2",
    "q_join_bloom", "q_catalog_sql", "q_sink_roundtrip", "q_dedup_substring",
    "q_dedup_semantic",
    // round 7 second half: change feed (batch), z-ordered store read,
    // CDF-fed incremental curation, perplexity gate via DistRank,
    // partitioned-table read-back
    "q_store_cdf", "q_store_zorder", "q_pipeline_incr",
    "q_curate_perplexity", "q_store_partitioned",
    // round 8: stored-sidecar scale paths (signature table, IVF index),
    // lakehouse maintenance, streaming CDC-apply, count-min
    "q_pipeline_incr_stored", "q_sim_ivf_stored", "q_store_restore",
    "q_store_clone", "q_stream_upsert", "q_agg_countmin",
    // round 8 second half: merge-on-read DVs, WAP publish read-back,
    // blocked sparse cosine, MV substitution (parquet + store), CBO
    // reorder, event-time RANGE frame
    "q_store_dv", "q_store_wap", "q_sim_sparse", "q_mv_rewrite",
    "q_store_mv", "q_cbo_reorder", "q_win_range_time",
    // round 9: manifest-stats CBO (no ANALYZE), join-aware MV, exactly-
    // once txn-watermark refresh, salted block-capped sparse cosine,
    // sorted SPJ (ordering + partitioning from the manifest)
    "q_store_cbo", "q_mv_join", "q_mv_txn_refresh", "q_sim_sparse_capped",
    "q_store_spj", "q_embed_pool", "q_store_mv_join",
    // round 11: partition-spec evolution (mixed-spec pruning), SCD2
    // history apply, grouped metadata aggregate, two-level partitioning
    "q_store_part_evolve", "q_store_scd2", "q_store_metaagg_group",
    "q_store_part_multi", "q_store_part_days", "q_store_part_bucket",
    "q_store_spj_bucket",
    // round 12: merge-on-read MERGE, two-key zero-exchange SPJ, filtered
    // metadata aggregate, hour-grain hidden partitioning, $partitions
    // metadata table, transformWithState batch analog
    "q_store_merge_mor", "q_store_spj_multi", "q_store_metaagg_filtered",
    "q_store_part_hours", "q_store_partitions_meta", "q_stream_stateful_tws",
    // round 13: temporal eq-delete keys, named-branch publish read-back,
    // streamed partitioned tail (pruned), rename+widen read-back, v2 view,
    // by-source MERGE, streamed branch publish
    "q_store_eqdelete_ts", "q_store_branch", "q_stream_sink_part",
    "q_store_evolve_rename", "q_catalog_view", "q_store_merge_nbs",
    "q_stream_sink_branch", "q_catalog_rtas",
    // round 14
    "q_dedup_suffix",
    // round 15: composite hidden partitioning, sorted OPTIMIZE read-back,
    // nested-struct evolution read, TVF change feed, age-based retention
    "q_store_part_composite", "q_store_optimize_sort",
    "q_store_evolve_nested", "q_store_cdf_sql", "q_store_expire_age",
    // round 16: time×key z-order read-back, evolved MERGE read-back,
    // nested drop+widen read, timestamp TVF boundaries, keyed-slice
    // restatement read-back, LSH-join-shape embedding ANN
    "q_store_zorder_ts", "q_store_merge_evolve", "q_store_evolve_nested2",
    "q_store_cdf_sql_ts", "q_stream_restate_pred",
    // round 17: the last TPC-H relational shapes (EXISTS+NOT-EXISTS
    // chain, correlated scalar-agg decorrelations), the split-read Avro
    // connector scan
    "q_sql_q21", "q_sql_q17", "q_sql_q2", "q_src_avro",
    // round 18: Q11 single-derivation (both partsupp references off one
    // InMemoryRelation), nested-avro round-trip, staged IVF+PQ probe
    "q_sql_q11", "q_src_avro_nested", "q_sim_ivfpq",
    // round 19: stored sparse-postings probe (no tokenize/window/corpus
    // scan in-plan), frozen-idf incremental growth, manifest repair
    // read-back through the regrouped layout
    "q_sim_sparse_incr", "q_store_rewrite_manifests")

  private val tmpDir = java.util.regex.Pattern.quote(
    new java.io.File(System.getProperty("java.io.tmpdir")).getPath)

  /** `plan` with its run-specific parts replaced by fixed tokens:
    * `name#123L` → `name#N`, `plan_id=7` → `plan_id=N`, and
    * `<java.io.tmpdir>/graft_x_8243…/t` → `<tmp>/graft_x_N/t`. */
  private def mask(plan: String): String = plan
    .replaceAll("#\\d+L?", "#N")
    .replaceAll("plan_id=\\d+", "plan_id=N")
    .replaceAll(tmpDir + "/([A-Za-z0-9_.-]*?)\\d+(?=[/\\],\\s)]|$)", "<tmp>/$1N")

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("PLANS.md")
    val sfDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val w = new PrintWriter(out)
    try {
      w.println("# Formatted physical plans (headline queries)")
      w.println()
      w.println(s"Generated by `graft.PlanDump` against `$sfDir`. The")
      w.println("machine-checked versions of these shapes live in")
      w.println("`PlanShapeSpec`; this file is the human-readable evidence.")
      headline.foreach { name =>
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        w.println()
        w.println(s"## $name")
        w.println()
        w.println("```")
        w.println(mask(plan.trim))
        w.println("```")
      }
    } finally {
      w.close()
      spark.stop()
    }
  }
}
