package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times the headline queries at
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Each query is fully materialized through the noop sink (forces
  * complete execution of every operator — `count()` would let Catalyst
  * prune the projections we want measured). One untimed warm-up query
  * absorbs one-time session/codegen costs so numbers reflect
  * steady-state throughput. The session's codegen class cache
  * ([[GraftSession.CodegenCacheEntries]]) holds a query's classes
  * between its runs and across neighbouring queries, so "warm" means
  * no recompilation, not only a second run.
  */
object Bench {

  private val headline: Seq[String] = Seq(
    "dedup_ngram_jaccard",
    "q1_pricing", "q3_topk_join", "q5_join5", "events_hourly", "events_hourly_skewed",
    "window_rank", "sessionize", "event_transitions",
    "rollup_pricing", "cube_pricing", "decile_spend", "brand_revenue", "supplier_balance", "distinct_users",
    "q6_filter_agg", "cust_no_orders", "q4_semi_join", "q18_large_orders",
    "q13_cust_dist", "q17_small_qty", "q22_idle_rich", "funnel_counts",
    "q2_min_cost", "q7_nation_volume", "q8_market_share", "q9_product_profit", "q10_returned",
    "q11_stock_value", "q12_late_lines", "q14_promo_share", "q15_top_supplier", "q16_supplier_cnt",
    "q19_disjunctive", "q20_part_promo", "q21_waiting",
    "median_price", "quartiles_price", "winsorize_stats", "anomaly_days", "anomaly_mad", "changepoint_cusum", "events_twap", "events_ewma", "events_holt", "recon_counts", "retention_cohorts", "resample_gapfill", "moving_7d", "cumulative_revenue", "pivot_daily_events",
    "grouping_sets_mix", "window_suite", "trend_slope", "corr_pairs", "cdc_apply",
    "events_hourly_incr", "profile_table", "equidepth_hist", "rfm_segments", "basket_lift", "dq_violations", "drift_report", "skew_report",
    "asof_last_click", "asof_within", "asof_nearest", "interval_join", "range_join_binned", "range_count_sweep",
    "flatten_json", "stringify_all", "incremental_read", "incremental_by_id", "incremental_by_oid",
    "incremental_or", "sync_state", "snapshot_diff", "scd2_intervals",
    "upsert_latest", "scan_fields", "multi_table_union",
    "dedup_exact", "dedup_containment", "dedup_minhash_lsh", "dedup_incr_exact", "dedup_incr_minhash", "dedup_incr_winnow",
    "dedup_simhash", "dedup_embedding", "dedup_embedding_blocked", "dedup_incr_embedding",
    "dedup_clusters",
    "dedup_passages", "dedup_semantic", "fuzzy_match_join",
    "sim_topk_brute", "sim_topk_lsh", "sim_topk_ivf", "sim_topk_ivf_sq8", "sim_topk_pq", "sim_topk_ivfpq", "sim_topk_hnsw", "sim_topk_quant", "embed_nearest_centroid",
    "embed_quantize", "embed_project", "embed_pca_top", "embed_kmeans", "embed_outliers", "graph_pagerank", "graph_triangles", "graph_hits", "graph_kcore", "dedup_incr_bloom", "domain_cap", "dedup_url",
    "text_langid", "text_langid_ngram", "text_quality", "text_stats", "text_tokens", "text_fingerprint", "text_topterms",
    "text_rep_stats", "text_tfidf_top", "text_unigram_score", "text_model_score", "corpus_stats",
    "text_scrub_pii", "text_strip_html", "sample_split", "sample_stratified", "decontam_overlap", "decontam_fuzzy", "heavy_hitters", "mix_allocate", "sample_weighted", "shuffle_shards", "dup_span_stats", "text_bigram_pmi",
    "pack_sequences", "curate_corpus", "curate_corpus_v2", "dup_ngram_mass", "text_clip_dedup", "text_novelty",
    "text_winnow_fp", "sparse_cosine_join", "chunk_overlap", "moving_distinct_7d", "cumulative_distinct",
    "mm_binary_meta", "mm_frame_sample", "mm_frame_bytes", "mm_pixel_resize",
    "mm_byte_resize", "mm_png_meta", "mm_wav_meta", "mm_jpeg_meta", "mm_gif_meta", "mm_tiff_meta",
    "events_props_agg", "length_histogram", "quality_gate_pctl", "text_bigrams_top",
    "src_discovery", "src_format_orc", "json_path_census", "ddl_generate", "ddl_allstring", "schema_evolution", "type_mapping",
    // round-7 late additions
    "acf_lags", "dow_seasonality", "state_durations", "seasonal_decompose", "funnel_latency", "session_stats",
    "text_bigram_lm", "domain_quality", "mm_mp4_meta", "mm_exif_meta", "mm_wav_rms", "mm_phash_dedup",
    "sim_range_search", "sim_dim_truncate",
    // round-8 additions
    "funnel_attrib", "dedup_embedding_simhash", "mm_phash_incr", "sim_range_ivf",
    "dedup_soft", "attribution_linear", "cohort_ltv", "sim_rrf_fusion", "mm_webp_meta",
    "graph_label_prop", "text_ccnet_bucket", "decontam_embedding", "forecast_snaive",
    "new_vs_returning", "funnel_window",
    // round-9 additions
    "dedup_incr_containment", "funnel_window_strict", "funnel_window_dedup",
    "text_gopher_gate", "dedup_keep_best",
    "sequence_match", "sequence_count", "text_kn_bigram", "holt_winters",
    "segment_overlap", "mm_color_hist", "text_lm_incr",
    "token_drift", "text_watermark", "sequence_next_node",
    // round-10 additions
    "text_bpe_tokens", "pack_sequences_bpe",
    // round-12 additions
    "corpus_diff", "sample_weighted_strat"
  )

  /** Coverage guard: every SparkEntry query must have a timing record —
    * an entry missing from the manual ordering above is appended (and
    * flagged) rather than silently unbenched.
    */
  private def fullHeadline: Seq[String] = {
    val missing = (SparkEntry.queries.keySet -- headline).toSeq.sorted
    if (missing.nonEmpty)
      System.err.println(s"[bench] WARNING: queries missing from headline, appending: ${missing.mkString(",")}")
    val gone = headline.filterNot(SparkEntry.queries.contains)
    if (gone.nonEmpty)
      System.err.println(s"[bench] WARNING: headline names without a query entry, skipping: ${gone.mkString(",")}")
    headline.filter(SparkEntry.queries.contains) ++ missing
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // Optional comma-separated subset for iterating on one query's
    // plan without paying for the whole suite.
    val selected = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .map(sel => fullHeadline.filter(sel))
      .getOrElse(fullHeadline)
    val spark: SparkSession = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // names of queries that threw in any run, in first-failure order:
    // a failed run is still timed below, so the JSON must say which
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def run(name: String): Unit =
      try SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => failed += name; throw e }

    run("q1_pricing") // warm-up, untimed

    // min of N runs: the first pays one-time plan/codegen compilation,
    // later runs measure steady-state throughput (what a long-running
    // cluster job sees). The later runs reuse the first run's compiled
    // classes: GraftSession sizes the codegen cache above one query's
    // working set (Spark's 100-entry default evicted them between runs
    // and across queries, so "warm" still recompiled). Sub-second
    // queries get a third run so one noisy-neighbor hiccup can't
    // distort a number that small. The
    // noise tie-break deliberately does NOT compare warm vs cold —
    // cold includes compilation and exceeds warm*1.25 almost always,
    // which would silently make this min-of-3 for every query (a
    // measured systematic bench-time increase, not a variance guard).
    // Instead the third run fires only when the WARM sample itself is
    // suspect: slower than the cold run (steady state can't cost more
    // than compile+run, so the warm sample hit GC/neighbor noise).
    val results = selected.map { name =>
      def once(): Double = {
        val t0 = System.nanoTime()
        try run(name)
        catch { case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}") }
        (System.nanoTime() - t0) / 1e9
      }
      val cold = once()
      val t =
        if (cold >= 60.0) cold
        else {
          val second = once()
          val warm = math.min(cold, second)
          if (warm < 1.0 || second > cold)
            math.min(warm, once())
          else warm
        }
      // drop this query's internally-persisted frames (LSH buckets,
      // selection bases, ...): leaving ~100 queries' caches to fight
      // over executor memory evicts mid-measurement and makes later
      // queries pay eviction+respill instead of their own cost
      spark.catalog.clearCache()
      // NO System.gc() here: measured round-10, a forced full GC per
      // query made the NEXT query's runs uniformly ~0.7-1.9s slower
      // (heap uncommit / re-commit after the full collection) —
      // +35s across the 218-query suite at sf0.1. The tie-breaking
      // third run above is the variance guard; the GC was a trap.
      name -> t
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","failed":$failedJson}"""
    println(json)
    // Also write to a file: the stdout line gets buried in sbt [info]
    // noise, which left the driver's BENCH parse empty in round 1.
    // subset runs must not clobber the committed full-suite artifact
    val defaultOut =
      if (sys.env.contains("SPARK_GRAFT_BENCH_ONLY")) "bench_subset.json" else "bench_out.json"
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    )
    // The full line above is ~4 KB at 140+ queries — longer than a
    // tail-window stdout parse can see the START of (every BENCH_r*
    // artifact so far has parsed:null for exactly this reason). Emit a
    // SHORT summary as the LAST line: total + the slowest queries,
    // pointing at the file carrying the complete per-query map.
    val slow = results.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"queries":$slow,"queries_note":"10 slowest; full map in $out","sf":"$sfDir","failed":$failedJson}""")
    spark.stop()
  }
}
