package graft

/** Plan-audit tool: prints `explain("formatted")` for the named queries
  * (or a default set of scale-critical ones), on the session the bench
  * times them under ([[Bench.session]]: its cores and shuffle
  * partitions). Used to keep pushdown / broadcast / codegen properties
  * honest; findings recorded in PLANS.md.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("o1_serving_filter_limit", "j1_broadcast_join", "j3_star_join",
        "a1_pricing_summary", "o2_topk", "d2_minhash_lsh", "j8_asof_join",
        "o5_keyset_pagination", "j14_volume_shipping", "w9_funnel",
        "d12_line_dedup", "a7_approx_sketch", "n14_ann_filtered",
        "x21_bpe_encode", "j15_big_orders", "u4_merge_upsert",
        "u5_table_diff", "d14_fuzzy_dedup", "d15_containment",
        "x26_inverted_index", "x27_pmi_collocations", "w14_anomaly_zscore",
        "d16_dedup_recall", "x28_nfc_normalize", "q6_recursive_cte",
        "q7_pipe_syntax", "x30_intake_audit", "x31_intake_contract",
        "x32_token_budget", "x33_leakage_split", "o6_global_rank")
    val spark = Bench.session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n########## $n ##########")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
