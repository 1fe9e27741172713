package graft

import graft.plans.RelToSql
import org.scalatest.funsuite.AnyFunSuite

/** The FULL-REGISTRY rel2sql cycle gate: EVERY registry query is either
  * re-rendered from its analyzed plan into Spark-dialect SQL, re-parsed,
  * re-executed and checked for exact result identity — or it must throw
  * the converter's documented partial-by-design rejection
  * ("rel2sql: unsupported ..."), never any other failure. The r6 UnixMicros
  * breakage escaped because the cycle ran over a hand-picked carrier
  * subset; this gate makes every expression the registry's own plans
  * produce part of the corpus (r6 VERDICT #6). `mustCycle` pins the
  * queries KNOWN to convert — one of them regressing to "unsupported" is
  * a failure, while a new query becoming convertible just passes.
  */
class TpchCycleSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Queries pinned as convertible (the r8 census — re-taken at the
    * commit that added LocalRelation→VALUES rendering). Everything else
    * in the registry must reject with "rel2sql: unsupported" — custom
    * kernels (DotProduct, ShingleHashes...), object-boundary plans
    * (SerializeFromObject/LogicalRDD from mapGroups/driver loops), and
    * expressions no dialect renders yet. */
  private val mustCycle = Set(
    // the fixpoint results held on the driver are LocalRelations, which
    // render as VALUES
    "dedup_clusters", "recursive_closure", "recursive_series",
    "ddl_ctas_typed", "ddl_default_virtual",
    "agg_cube", "agg_distinct_filter", "agg_group_id", "agg_grouping_fn",
    "agg_grouping_sets", "agg_rollup", "agg_tpch_q1", "fn_extract_time",
    "foodmart_allmembers_crossjoin", "foodmart_banding",
    "foodmart_ancestor_3level", "foodmart_avg_of_children",
    "foodmart_bdesc_rank", "foodmart_above_avg_members",
    "foodmart_coalesceempty", "foodmart_cousin", "foodmart_item_first",
    "foodmart_rank_tuple_ties", "foodmart_count_filtered_members",
    "foodmart_degenerate_dim", "foodmart_mtd_running",
    "foodmart_prev_member_ratio", "foodmart_topk_concentration",
    "foodmart_bottomcount", "foodmart_bottompercent", "foodmart_corr_rank",
    "foodmart_generate_topk", "foodmart_member_range",
    "foodmart_namedset_slicer", "foodmart_nonempty_4level",
    "foodmart_nonempty_count", "foodmart_union_dedup_agg",
    "foodmart_except_remainder", "foodmart_order_crossjoin",
    "foodmart_set_head_tail",
    "foodmart_regression", "foodmart_toppercent", "foodmart_topsum",
    "foodmart_tuple_filter_share",
    "foodmart_descendants_depth", "foodmart_descendants_leaves",
    "foodmart_distinct_customers",
    "foodmart_hierarchize", "foodmart_namedset_except",
    "foodmart_namedset_generate", "foodmart_namedset_intersect",
    "foodmart_namedset_union", "foodmart_rank_vs_parent_rank",
    "foodmart_drilldown", "foodmart_filter_count", "foodmart_having",
    "foodmart_in_list", "foodmart_member_rank", "foodmart_members_vs_other",
    "foodmart_multi_distinct", "foodmart_multi_hierarchy_geo",
    "foodmart_multi_measure", "foodmart_nonempty_crossjoin",
    "foodmart_pct_of_parent", "foodmart_semiadd_closing",
    "foodmart_share_of_total", "foodmart_star_5way", "foodmart_topcount",
    "foodmart_topcount_detail", "foodmart_topcount_ties",
    "foodmart_topcount_aggregate", "foodmart_visual_totals",
    "foodmart_two_fact_ratio", "foodmart_virtual_cube", "join_anti",
    "join_full_outer", "mv_spj_join_rewrite", "mv_agg_rollup_rewrite",
    "mv_ukfk_rewrite", "mv_cube_rollup_rewrite",
    "tpcds_s_monthneighbor", "tpcds_s_excessdiscount", "tpcds_s_shipbuckets",
    "tpcds_s_uniontags", "tpcds_s_bestworst", "tpcds_s_promoratio",
    "tpcds_s_yeartotal", "tpcds_s_handoff", "tpcds_s_sharegrowth",
    "tpcds_s_monthpivot", "tpcds_s_weekpivot", "tpcds_s_beforeafter",
    "tpcds_s_orbands", "tpcds_s_existsbands",
    // r15: the four still-absent TpcdsTest structures (q23/q49/q78/q95)
    "tpcds_s_freqbest_channels", "tpcds_s_threechannel_rank",
    "tpcds_s_channelratio", "tpcds_s_shipchain2hop",
    "tpcds_s_shipchain_anti", "tpcds_s_existsnotexists",
    "tpcds_s_twoepoch_selfjoin", "tpcds_s_crossitems_iceberg",
    "tpcds_s_crossitems_1scan",
    // r13: the RuntimeReplaceable rendering fallback (RelToSql) made the
    // whole Between/assert_true-sugar family convertible
    "foodmart_avg_time_members", "foodmart_covariance",
    "foodmart_drillthrough", "foodmart_linreg_r2", "foodmart_linregpoint",
    "foodmart_month_rollup", "foodmart_multi_hierarchy",
    "foodmart_opening_closing", "foodmart_parallel_period",
    "foodmart_parallel_period_month_year",
    "foodmart_parallel_period_quarter_edge", "foodmart_period_growth_pct",
    "foodmart_qtd_running", "foodmart_quarter_pivot",
    "foodmart_rollup_year", "foodmart_safe_divide",
    "foodmart_semiadd_avg_period", "foodmart_set_ytd",
    "foodmart_ytd_running", "tpcds_s_meandev", "tpcds_s_sliceratio",
    "foodmart_stdev_months", "foodmart_minmax_children",
    // r13: SQRT/GREATEST/LEAST rendering made the stats family convertible
    "fn_agg_stats", "fn_conditional", "foodmart_correlation",
    "foodmart_stdev_sample_children", "foodmart_var_children",
    "text_mix_temperature", "tpcds_s_volatility",
    "join_inner_multiway", "join_left_outer", "join_semi", "join_theta_nl",
    "lateral_posexplode", "match_recognize_agg_define", "profile_lattice",
    "profile_column_origins", "profile_sql_advisor",
    "profile_plan_predicates",
    "stream_stream_join_batch",
    "match_recognize_reluctant", "match_recognize_running_measures",
    "match_recognize_sql", "match_recognize_within", "profile_fds",
    "refdis_implicit_date_literal", "refdis_join_on_filter_full",
    "refdis_join_on_filter_left", "refdis_join_on_filter_right",
    "refdis_scalar_limit", "refdis_winagg_firstval",
    "refdis_window_tied_count", "rel2sql_roundtrip",
    "rel2sql_roundtrip_pg", "sample_hash", "scan_filter_project",
    "setop_except", "setop_except_all", "setop_intersect",
    "setop_intersect_all", "setop_union_all", "setop_union_distinct",
    "sort_limit_offset", "stream_dedup_batch", "stream_table_join_batch",
    "subq_exists_correlated", "subq_in", "subq_not_in",
    "subq_quantified_all", "subq_quantified_some", "subq_scalar",
    "temporal_snapshot", "temporal_system_time", "text_mix_quota",
    "tpcds_s_catavg", "tpcds_s_channels", "tpcds_s_cumcompare",
    "tpcds_s_dategap", "tpcds_s_dualrank", "tpcds_s_equalshare",
    "tpcds_s_existschain", "tpcds_s_freqbest", "tpcds_s_iceberg",
    "tpcds_s_intersect", "tpcds_s_lochierarchy", "tpcds_s_missingchannel",
    "tpcds_s_missingchannel_1scan",
    "tpcds_s_orexists", "tpcds_s_netreturns", "tpcds_s_multiwarehouse",
    "tpcds_s_movingdev", "tpcds_s_multicount", "tpcds_s_orderband",
    "tpcds_s_quantitystats", "tpcds_s_returnavg", "tpcds_s_rolluptopk",
    "tpcds_s_salesgrowth", "tpcds_s_staterollup", "tpcds_s_yoyratio",
    "tpch_q10", "tpch_q11", "tpch_q12", "tpch_q13", "tpch_q14", "tpch_q15",
    "tpch_q16", "tpch_q17", "tpch_q18", "tpch_q19", "tpch_q2", "tpch_q20",
    "tpch_q21", "tpch_q22", "tpch_q3", "tpch_q4", "tpch_q5", "tpch_q6",
    "tpch_q7", "tpch_q8", "tpch_q9", "values_inline", "window_navigation",
    "window_ntile", "window_rank_frames")

  for (q <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"$q cycles through its regenerated SQL, or rejects as documented") {
      Tables.registerAll(spark, sfDir)
      val df = SparkEntry.queries(q)(spark, sfDir)
      if (!df.isStreaming) {
        val regen =
          try {
            val sql = RelToSql.convert(df, RelToSql.Spark)
            assert(mustCycle(q),
              s"$q newly converts — add it to the mustCycle census:\n$sql")
            Some(sql)
          } catch {
            case e: UnsupportedOperationException
                if e.getMessage.startsWith("rel2sql: unsupported") =>
              assert(!mustCycle(q),
                s"$q is pinned convertible but now rejects: ${e.getMessage}")
              None
          }
        regen.foreach { sql =>
          val a = df.collect().map(_.toString).sorted.toSeq
          val b = spark.sql(sql).collect().map(_.toString).sorted.toSeq
          assert(a == b, s"cycle diverged for $q:\n$sql")
        }
      }
    }
  }
}
