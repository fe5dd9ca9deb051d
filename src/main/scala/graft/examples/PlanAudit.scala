package graft.examples

/** Prints a plan-characteristics table for representative queries:
  * exchange counts, join strategies, pushdown evidence. Run with
  * {{{ sbt "runMain graft.examples.PlanAudit" }}} — output recorded in
  * docs/PLANS.md per round. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.util.Sessions.local(4)
    val sf = "/root/testdata/sf0.001"
    println("| query | exchanges | broadcast joins | sort-merge joins | pushed filters | codegen spans |")
    println("|---|---|---|---|---|---|")
    for (q <- Seq("q10_projection","q14_pos_anti_join","q15_eq_anti_join_seq",
        "q16_chained_deletes","q1_agg","q3_join_agg","q5_star_join","q6_filter_agg",
        "q_outer_join","q_semi_join","q_window_topk","q_asof_join","q_rollup",
        "d1_exact_dedup","d4_ngram_jaccard","d5_embed_neardup","s1_ann_topk",
        "s2_ann_lsh_buckets","t5_vocab",
        "t7_repetition","t8_pii","p1_hash_split","p2_stratified_sample",
        "t9_domains","t10_decontaminate",
        "t11_line_dedup","t12_nfc","t13_tfidf","p3_pack_chunks",
        "t14_gopher","t15_c4_clean","p4_domain_mix","s4_kmeans_update",
        "t16_substring_dup","t17_substring_excise","s5_quantize_int8",
        "q_pivot","q_cube","q_sessionize","q_date_trunc",
        "t18_cms","r1_range_join","r2_interval_overlap",
        "t19_hll","r3_bloom_join","s6_pq_encode","d7_semdedup","p5_shards",
        "t20_quantile","p6_interleave","t21_truncate","t22_oov","s7_pq_search",
        "t23_group_quantile","p7_domain_cap","p8_fixed_sample","t24_url_canon",
        "s8_ann_index","t25_html_strip","i1_incremental_exact",
        "i2_incremental_minhash",
        "b1_bm25","b2_text_index","d8_keep_best","t26_bpe_pairs","m5_warc",
        "t27_bigram_coherence","d9_semantic_decontam","b3_phrase_search",
        "q_cow_update","q_convert_eq",
        "q_dv","c1_classifier","g1_pagerank","h1_heavy_hitters",
        "mv1_refresh","v1_constraints","q_wap","z1_zorder",
        "t28_lm_score","t29_script","g2_triangles","m6_image_dhash",
        "t30_cards","q_add_files","d10_fuzzy_join","m7_audio_signal",
        "m8_video_neardup","q_partition_ops","q_sync_mirror","q_row_lineage",
        "t31_domain_blocklist","t32_iban","t33_collocations",
        "q_funnel","q_retention","q_resample","q_locf","q_window_funcs","q_anti_join",
        "q_scalar_subquery","q_array_agg","q_unpivot","q_grouping_sets",
        "d11_containment","t34_char_diversity","p10_weighted_sample",
        "m9_audio_neardup","z2_hilbert","q_session_window","q_anomaly",
        "q_growth","g3_kcore","d12_containment_lsh","t36_edit_distance","t37_winnow","d13_winnow_pairs","p11_chunk_overlap",
        "q_moving_sum","t38_winnow_decontam","q_argmax","q_first_last",
        "q_day_retention","d4p_jaccard_prefix","d11p_containment_prefix",
        "d5t_embed_tiled","q_cost_budget","q_sql_frontdoor","q_sql_dml",
        "q_prune_scan","q_meta_count","q_dpp_star",
        "q_truncate_prune","q_sql_spec_evolve","q_meta_group","q_wap_sql",
        "q_ndv_stats","q_v3_attach","q_meta_partitions","q_theta_sql",
        "q_view_sql","q_rest_create","q_rest_replace","q_plan_under_commit")) {
      val df = graft.SparkEntry.queries(q)(spark, sf)
      // materialize THIS df (count() would execute a different plan):
      // AQE final plans + codegen stages exist only post-execution
      df.collect()
      // audit the FINAL executed trees — AdaptiveSparkPlanExec.toString
      // prints initial AND final plans (double counts), and codegen/
      // exchange nodes hide inside query stages
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def nodes(p: SparkPlan): Seq[SparkPlan] =
        p.collect {
          case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
          case qs: QueryStageExec => qs +: nodes(qs.plan)
          case n => Seq(n)
        }.flatten
      val ns = nodes(df.queryExecution.executedPlan)
      val nEx = ns.count {
        case _: org.apache.spark.sql.execution.exchange.Exchange => true
        case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => true
        case _ => false
      }
      val nBhj = ns.count(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
      val nSmj = ns.count(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.SortMergeJoinExec])
      val pushed = ns.count {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metadata.get("PushedFilters").exists(v => v.nonEmpty && v != "[]")
        case _ => false
      }
      val nWsc = ns.count(_.isInstanceOf[
        org.apache.spark.sql.execution.WholeStageCodegenExec])
      println(s"| $q | $nEx | $nBhj | $nSmj | $pushed scans | $nWsc |")
    }
    spark.stop()
  }
}
