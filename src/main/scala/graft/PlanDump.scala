package graft

import java.nio.file.{Files, Paths}

/** Writes PLANS.md — formatted physical plans for flagship queries, the
  * `.explain("formatted")` audit trail: scan pruning (ReadSchema),
  * predicate pushdown (PushedFilters), broadcast choices, partial
  * aggregation, and WholeStageCodegen spans are the properties each plan
  * is iterated against (asserted programmatically in ModifyAndPlanSpec /
  * StatsSpec; this artifact makes them reviewable).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Engine.session("graft-plandump", "local[8]")
    val names = Seq(
      "agg_tpch_q1", "tpch_q7", "tpch_q18", "dedup_ngram_jaccard",
      "sim_ann_lsh_topk", "sim_ann_ivf_topk", "asof_join_events",
      "fn_udaf_wavg", "stream_table_join_batch", "window_navigation",
      "profile_columns", "tpcds_s_cumcompare", "rel2sql_roundtrip",
      "tpcds_s_channels", "text_contamination", "seq_next_value",
      "foodmart_quarter_pivot", "text_repetition", "dedup_minhash_portable",
      "foodmart_semiadd_closing", "foodmart_multi_hierarchy_geo",
      "foodmart_two_fact_ratio", "profile_lattice",
      "text_pii_redact", "dedup_span_exact", "stream_stream_join_batch",
      "pipeline_curation_funnel", "dedup_semantic",
      "tpcds_s_missingchannel_1scan", "foodmart_namedset_union",
      "foodmart_toppercent", "tpcds_s_segmentbands",
      "profile_columns_sketch",
      // r15: the four full TpcdsTest structures and the two
      // codegen-kernel-fixed similarity paths (r14 VERDICT #1)
      "tpcds_s_freqbest_channels", "tpcds_s_threechannel_rank",
      "tpcds_s_channelratio", "tpcds_s_shipchain2hop",
      "sim_quantized_cosine", "sim_pq_adc_topk",
      // r16: q64 two-epoch self-joined CTE, q14 cross_items INTERSECT,
      // and its single-scan window rewrite (5 scans → 1)
      "tpcds_s_twoepoch_selfjoin", "tpcds_s_crossitems_iceberg",
      "tpcds_s_crossitems_1scan")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans (flagship queries)\n\n")
    sb.append("Generated by `sbt \"runMain graft.PlanDump\"` at sf0.01. What to\n")
    sb.append("look for, per plan: `ReadSchema` lists ONLY referenced columns\n")
    sb.append("(pruning); `PushedFilters` carries the predicates (pushdown);\n")
    sb.append("dimension sides appear under `BroadcastHashJoin`/`BroadcastExchange`;\n")
    sb.append("aggregates appear as partial+final `HashAggregate` pairs around one\n")
    sb.append("`Exchange`; hot projections sit inside `WholeStageCodegen` spans —\n")
    sb.append("including the native graft expressions (dot_product,\n")
    sb.append("intersect_size_sorted, st_contains_ring, weighted_avg,\n")
    sb.append("hyperplane_bits).\n")
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, sfDir)
      sb.append(s"\n## $n\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      sb.append("```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${names.size} plans)")
    spark.stop()
  }
}
