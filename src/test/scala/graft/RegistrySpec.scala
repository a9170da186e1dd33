package graft

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

/** The query registry ([[SparkEntry.registry]]): one ordered list of
  * names, build functions and oracle SQL, with `queries` and
  * `oracleSql` as views of it. Needs no Spark session.
  */
class RegistrySpec extends AnyFunSuite {

  /** The timing order `Bench` kept as a hand-written list before the
    * registry existed; its run order and JSON key order must not move.
    */
  private val benchOrder = Seq(
    "dedup_ngram_jaccard", "q1_pricing", "q3_topk_join", "q5_join5", "events_hourly",
    "events_hourly_skewed", "window_rank", "sessionize", "event_transitions", "rollup_pricing",
    "cube_pricing", "decile_spend", "brand_revenue", "supplier_balance", "distinct_users",
    "q6_filter_agg", "cust_no_orders", "q4_semi_join", "q18_large_orders", "q13_cust_dist",
    "q17_small_qty", "q22_idle_rich", "funnel_counts", "q2_min_cost", "q7_nation_volume",
    "q8_market_share", "q9_product_profit", "q10_returned", "q11_stock_value", "q12_late_lines",
    "q14_promo_share", "q15_top_supplier", "q16_supplier_cnt", "q19_disjunctive", "q20_part_promo",
    "q21_waiting", "median_price", "quartiles_price", "winsorize_stats", "anomaly_days",
    "anomaly_mad", "changepoint_cusum", "events_twap", "events_ewma", "events_holt",
    "recon_counts", "retention_cohorts", "resample_gapfill", "moving_7d", "cumulative_revenue",
    "pivot_daily_events", "grouping_sets_mix", "window_suite", "trend_slope", "corr_pairs",
    "cdc_apply", "events_hourly_incr", "profile_table", "equidepth_hist", "rfm_segments",
    "basket_lift", "dq_violations", "drift_report", "skew_report", "asof_last_click",
    "asof_within", "asof_nearest", "interval_join", "range_join_binned", "range_count_sweep",
    "flatten_json", "stringify_all", "incremental_read", "incremental_by_id", "incremental_by_oid",
    "incremental_or", "sync_state", "snapshot_diff", "scd2_intervals", "upsert_latest",
    "scan_fields", "multi_table_union", "dedup_exact", "dedup_containment", "dedup_minhash_lsh",
    "dedup_incr_exact", "dedup_incr_minhash", "dedup_incr_winnow", "dedup_simhash",
    "dedup_embedding", "dedup_embedding_blocked", "dedup_incr_embedding", "dedup_clusters",
    "dedup_passages", "dedup_semantic", "fuzzy_match_join", "sim_topk_brute", "sim_topk_lsh",
    "sim_topk_ivf", "sim_topk_ivf_sq8", "sim_topk_pq", "sim_topk_ivfpq", "sim_topk_hnsw",
    "sim_topk_quant", "embed_nearest_centroid", "embed_quantize", "embed_project", "embed_pca_top",
    "embed_kmeans", "embed_outliers", "graph_pagerank", "graph_triangles", "graph_hits",
    "graph_kcore", "dedup_incr_bloom", "domain_cap", "dedup_url", "text_langid",
    "text_langid_ngram", "text_quality", "text_stats", "text_tokens", "text_fingerprint",
    "text_topterms", "text_rep_stats", "text_tfidf_top", "text_unigram_score", "text_model_score",
    "corpus_stats", "text_scrub_pii", "text_strip_html", "sample_split", "sample_stratified",
    "decontam_overlap", "decontam_fuzzy", "heavy_hitters", "mix_allocate", "sample_weighted",
    "shuffle_shards", "dup_span_stats", "text_bigram_pmi", "pack_sequences", "curate_corpus",
    "curate_corpus_v2", "dup_ngram_mass", "text_clip_dedup", "text_novelty", "text_winnow_fp",
    "sparse_cosine_join", "chunk_overlap", "moving_distinct_7d", "cumulative_distinct",
    "mm_binary_meta", "mm_frame_sample", "mm_frame_bytes", "mm_pixel_resize", "mm_byte_resize",
    "mm_png_meta", "mm_wav_meta", "mm_jpeg_meta", "mm_gif_meta", "mm_tiff_meta",
    "events_props_agg", "length_histogram", "quality_gate_pctl", "text_bigrams_top",
    "src_discovery", "src_format_orc", "json_path_census", "ddl_generate", "ddl_allstring",
    "schema_evolution", "type_mapping", "acf_lags", "dow_seasonality", "state_durations",
    "seasonal_decompose", "funnel_latency", "session_stats", "text_bigram_lm", "domain_quality",
    "mm_mp4_meta", "mm_exif_meta", "mm_wav_rms", "mm_phash_dedup", "sim_range_search",
    "sim_dim_truncate", "funnel_attrib", "dedup_embedding_simhash", "mm_phash_incr",
    "sim_range_ivf", "dedup_soft", "attribution_linear", "cohort_ltv", "sim_rrf_fusion",
    "mm_webp_meta", "graph_label_prop", "text_ccnet_bucket", "decontam_embedding",
    "forecast_snaive", "new_vs_returning", "funnel_window", "dedup_incr_containment",
    "funnel_window_strict", "funnel_window_dedup", "text_gopher_gate", "dedup_keep_best",
    "sequence_match", "sequence_count", "text_kn_bigram", "holt_winters", "segment_overlap",
    "mm_color_hist", "text_lm_incr", "token_drift", "text_watermark", "sequence_next_node",
    "text_bpe_tokens", "pack_sequences_bpe", "corpus_diff", "sample_weighted_strat"
  )

  private val rowsOnly = Set(
    "sim_topk_lsh", "sim_topk_ivf", "sim_topk_ivf_sq8", "sim_topk_pq", "sim_topk_ivfpq", "sim_topk_hnsw")

  test("221 unique names, in the order Bench has always timed them") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 221)
    assert(names.distinct == names)
    assert(names == benchOrder)
  }

  test("exactly the six sim_topk ANN probes have no oracle") {
    val missing = SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name).toSet
    assert(missing == rowsOnly)
  }

  test("queries and oracleSql are views of the registry") {
    assert(SparkEntry.queries.keySet == SparkEntry.registry.map(_.name).toSet)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.registry.map(_.name).toSet -- rowsOnly)
    SparkEntry.registry.foreach { q =>
      assert(SparkEntry.queries(q.name) eq q.build, q.name)
      assert(SparkEntry.oracleSql.get(q.name) == q.oracle, q.name)
    }
    // computed once: the harness looks them up on every query build
    assert(SparkEntry.queries eq SparkEntry.queries)
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
  }

  test("an entry's oracle SQL is formatted on first use, not when the entry is built") {
    var formatted = 0
    val q = SparkEntry.query("lazy_oracle")((s, _) => s.range(1).select(lit(1L)))({ formatted += 1; "SELECT 1" })
    assert(formatted == 0)
    assert(q.oracle.contains("SELECT 1") && q.oracle.contains("SELECT 1"))
    assert(formatted == 1)
  }

  test("a duplicate name is rejected when the registry is built") {
    val a = SparkEntry.query("dup")((s, _) => s.range(1).toDF())("SELECT 1")
    val b = SparkEntry.rowsOnly("dup")((s, _) => s.range(2).toDF())
    val c = SparkEntry.rowsOnly("other")((s, _) => s.range(3).toDF())
    val e = intercept[IllegalArgumentException](SparkEntry.distinctNames(Seq(a, c, b)))
    assert(e.getMessage.contains("dup") && !e.getMessage.contains("other"))
    assert(SparkEntry.distinctNames(Seq(a, c)) == Seq(a, c))
  }

  test("a selection keeps registry order and rejects unknown names, naming each") {
    assert(SparkEntry.select(" q5_join5,q1_pricing ,,").map(_.name) == Seq("q1_pricing", "q5_join5"))
    assert(SparkEntry.select("").isEmpty)
    val e = intercept[IllegalArgumentException](SparkEntry.select("q1_pricing,q1_pricnig,no_such_query"))
    assert(e.getMessage.contains("q1_pricnig") && e.getMessage.contains("no_such_query"))
    assert(!e.getMessage.contains("q1_pricing"))
  }
}
