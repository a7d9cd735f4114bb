package graft

/** Diagnostic main: prints `explain("formatted")` for the named queries (or
  * a default set of plan-sensitive ones) so shuffle counts, PushedFilters,
  * join strategies, and WholeStageCodegen spans can be audited per round. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SessionTuning.session(cpus)
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q1_agg", "q_join_one", "q_match_steps", "q_funnel",
        "q_dedup_minhash", "q_ann_lsh", "q_ann_ivf", "q_fold",
        "q_sessionize", "q_retention", "q_contamination",
        "q_window_calc", "q_asof_join", "q_dedup_ngram_k",
        "q_bm25_search", "q_tfidf_terms", "q_block_dedup",
        "q_grouping_sets", "q_window_rank", "q_lang_mix",
        "q_ann_quantized", "q_multimodal_pixels", "q_json_props",
        "q_dedup_cross", "q_dedup_boilerplate_skew", "q_xlsx_source",
        "q_multimodal_jpeg", "q_funnel_partition_limit",
        // the llm_pipeline benchmark pool (q_dedup_minhash is above)
        "q_lm_kn", "q_ann_opq", "q_dedup_clusters")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
