package graft.perfbench

/** The frozen `registry_light` query list: the 50 fastest production
  * queries among those that read only the fixture tables, agree with their
  * DuckDB oracle at sf0.1, and kept stable times across two shuffled passes
  * of a 4-core calibration run ([[Calibrate]]; see the README).
  * `d18_cluster_split` passed calibration but takes 6-9 s in a fresh JVM:
  * it serves from a memo that `d07_dedup_clusters` fills and that survives
  * cache clearing, so it is left out and `q34_histogram` takes its place.
  * Changing the list changes the workload: the list digest in every run
  * record shows which list a number was measured with.
  */
object LightList {
  val names: Seq[String] = Seq(
    "d01_dedup_exact", "d02_minhash_bands", "d05_simhash", "d11_source_cap",
    "d12_hash_split", "e02_json_extract", "e12_value_streaks",
    "e20_srm_check", "m01_media_plumbing", "m02_frame_sample", "m06_audio_energy",
    "m09_audio_silence_trim", "m12_image_channel_stats", "q04_left_join_null",
    "q06_global_minmax", "q08_conjunctive_filter", "q09_dim_filter",
    "q10_projection_pushdown", "q12_minmax_normalize", "q13_derived_columns",
    "q14_ratio_round", "q15_report_projection", "q23_running_window", "q24_order_limit",
    "q25_deterministic_sample", "q27_asof_join", "q30_string_funcs", "q32_data_profile",
    "q34_histogram",    "q35_correlation", "q38_window_suite", "q40_string_agg", "q41_string_parse",
    "q44_date_funcs", "q55_stratified_sample", "q69_range_interval_window",
    "q77_distinct_sketch", "q87_sketch_set_ops", "q93_anonymity_audit",
    "q97_join_skew_report", "s07_embedding_quantize", "t01_token_stats",
    "t02_quality_score", "t04_fingerprint", "t07_pii_redaction", "t09_normalize",
    "t17_substring_dedup", "t18_classifier_score", "t24_chunk_overlap",
    "t35_contamination_report")
}
