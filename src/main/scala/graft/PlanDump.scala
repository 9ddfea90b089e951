package graft

/** Plan dossier generator: `.explain("formatted")` for the headline
  * queries against a scale-factor dir, written to a markdown file — the
  * "explain and iterate until it's the plan you'd want" audit trail
  * (PLANS.md is the checked-in snapshot; regenerate after plan work).
  * The session is Bench's ([[Sessions.local]]), so a dumped plan is the
  * plan the bench measures; optional trailing query names dump those
  * queries instead of the headline set (a before/after pair for a plan
  * change).
  *
  * Usage: runMain graft.PlanDump [sfDir] [outFile] [queryName...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = Sessions.local()
    val named = args.drop(2).toSeq
    val headline = if (named.nonEmpty) named else Seq(
      "q1_pricing_summary", "q2_filter_project", "q3_join_revenue", "q6_topk",
      "q21_ngram_jaccard", "q23_sessionize", "q24_asof_join", "q25_json_extract",
      "q27_dot_topk",
      "q31_minhash_lsh", "q34_ann_lsh", "q35_approx_distinct", "q38_median",
      "q39_simhash_neardup", "q42_ann_ivf", "q46_embedding_neardup_lsh",
      "q49_stratified_sample", "q50_sequence_packing", "q51_decontaminate",
      "q52_source_novelty", "q58_ann_pq", "q59_length_percentiles",
      "q60_centroid_outliers", "q64_ann_ivfpq", "q65_bm25", "q66_perplexity",
      "q67_span_dedup", "q68_leakage_safe_split", "q69_chunk_windows",
      "q70_split_contamination",
      "q71_image_neardup", "q73_hybrid_rrf", "q74_semdedup", "q75_funnel",
      "q76_retention", "q77_lexical_knn", "q78_funnel_latency",
      "q79_video_shots", "q80_event_flow", "q81_split_drift", "q82_bpe_merges",
      "q83_datasheet", "q84_bpe_apply", "q85_embed_quant", "q86_quant_audit",
      "q87_softmax_features", "q88_softmax_test", "q89_band_recall",
      "q90_embedding_moments", "q92_ann_pq_trained", "q93_importance_resample",
      "q94_blocklist_filter", "q95_bpe_fertility", "q96_repetition_filter",
      "q97_bigram_zipf", "q98_source_dup_matrix", "q99_packing_audit",
      "q100_minhash_calibration", "q101_dedup_savings", "q102_doc_keywords",
      "q103_label_centroid_matrix", "q104_cluster_purity",
      "q105_boilerplate_spans", "q106_pq_distortion",
      "q107_simhash_calibration", "q108_ivf_cell_audit",
      "q109_cluster_density", "q110_curriculum_schedule",
      "q111_source_dedup_cost", "q112_retrieval_agreement",
      "q113_representative_regret", "q114_canonical_best",
      "q115_df_spectrum", "q116_fingerprint_profile", "q117_vocab_growth",
      "q118_bigram_perplexity", "q119_lm_disagreement",
      "q120_char_concentration", "q121_cdc_chunks", "q122_cdc_savings")
    val sb = new StringBuilder
    sb.append("# Physical plans (headline queries)\n\n")
    sb.append(s"Generated by `runMain graft.PlanDump $sfDir` — regenerate after plan work.\n")
    sb.append("What to look for per plan: `PushedFilters`/`ReadSchema` at the scans,\n")
    sb.append("`BroadcastHashJoin` for dim/probe sides, `TakeOrderedAndProject` for\n")
    sb.append("top-k, `HashAggregate` partial/final pairs, and the native expressions\n")
    sb.append("(`float_vector_dot`, `minhash_signature`, `tokenize`, `shingle_hashes`)\n")
    sb.append("inside project nodes.\n")
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n```\n")
      sb.append(plan.trim.take(8000))
      sb.append("\n```\n")
      Caches.clearAll(spark)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
