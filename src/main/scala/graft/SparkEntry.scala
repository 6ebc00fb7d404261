package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 Part B for the declared
  * inventory. Every entry in `queries` returns a totally-ordered DataFrame
  * whose column names match the DuckDB `oracleSql` exactly (the driver's
  * compare sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1 core (Q-A2): multi-measure hash aggregate over lineitem. */
  def entry(spark: SparkSession): DataFrame =
    Relational.qA2(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // scans / sources
    "q_s1_scan_projection" -> (Relational.qS1 _),
    "q_s2_json_access"     -> (Relational.qS2 _),
    "q_s3_variant"         -> (Relational.qS3 _),
    // filters
    "q_f1_conjunctive"     -> (Relational.qF1 _),
    "q_f2_valid_id"        -> (Relational.qF2 _),
    // projection
    "q_p1_coalesce_inject" -> (Relational.qP1 _),
    // joins
    "q_j1_broadcast_dim"   -> (Joins.qJ1 _),
    "q_j2_fact_fact"       -> (Joins.qJ2 _),
    "q_j3_left_anti"       -> (Joins.qJ3 _),
    "q_j4_left_semi"       -> (Joins.qJ4 _),
    "q_j5_full_outer_diff" -> (Joins.qJ5 _),
    "q_j6_composite_key"   -> (Joins.qJ6 _),
    "q_j7_bucketed_cojoin" -> (Bucketing.qJ7 _),
    "q_j8_skew_join"       -> (Joins.qJ8 _),
    "q_j9_asof_join"       -> (Joins.qJ9 _),
    "q_j10_range_band"     -> (Joins.qJ10 _),
    "q_j11_nullaware_anti" -> (Joins.qJ11 _),
    "q_j12_bloom_prejoin"  -> (Joins.qJ12 _),
    // aggregates
    "q_a1_count"           -> (Relational.qA1 _),
    "q_a2_hash_agg"        -> (Relational.qA2 _),
    "q_a3_count_distinct"  -> (Relational.qA3 _),
    "q_a4_rollup"          -> (Relational.qA4 _),
    "q_a5_cube"            -> (Relational.qA5 _),
    "q_a6_pivot"           -> (Relational.qA6 _),
    "q_a7_top_revenue"     -> (Relational.qA7 _),
    "q_a9_small_orders"    -> (Relational.qA9 _),
    // windows
    "q_w1_dedup_latest"    -> (Windows.qW1 _),
    "q_w2_running_sum"     -> (Windows.qW2 _),
    "q_w3_lag_gap"         -> (Windows.qW3 _),
    "q_w4_ntile_rank"      -> (Windows.qW4 _),
    "q_w5_distribution"    -> (Windows.qW5 _),
    "q_w6_interval_merge"  -> (Windows.qW6 _),
    "q_x7_event_paths"     -> (Windows.qX7 _),
    "q_x8_sessionize"      -> (Windows.qX8 _),
    "q_x9_retention"       -> (Windows.qX9 _),
    "q_x10_mix_lift"       -> (Relational.qX10 _),
    "q_x11_transitions"    -> (Windows.qX11 _),
    "q_w7_cumulative_users" -> (Windows.qW7 _),
    "q_w8_spike_detect"    -> (Windows.qW8 _),
    "q_w9_robust_spike"    -> (Windows.qW9 _),
    // sort / limit
    "q_o1_topk"            -> (Relational.qO1 _),
    "q_o2_diverse_topk"    -> (Relational.qO2 _),
    "q_o3_weighted_sample" -> (Relational.qO3 _),
    // set ops
    "q_u1_union_all"       -> (Relational.qU1 _),
    "q_u2_except"          -> (Relational.qU2 _),
    "q_u3_intersect"       -> (Relational.qU3 _),
    "q_u5_union_distinct"  -> (Relational.qU5 _),
    "q_u6_except_all"      -> (Relational.qU6 _),
    "q_a8_grouping_sets"   -> (Relational.qA8 _),
    // scalar battery / json
    "q_x1_scalar_battery"  -> (Relational.qX1 _),
    "q_x6_date_battery"    -> (Relational.qX6 _),
    "q_x3_json_agg"        -> (Relational.qX3 _),
    // verification
    "q_v1_count_parity"    -> (Relational.qV1 _),
    "q_v2_content_hash"    -> (Relational.qV2 _),
    // HLL estimate checked via a relative-error bound (exact + within_bound)
    "q_v3_approx_distinct" -> (Relational.qV3 _),
    "q_v4_profile"         -> (Relational.qV4 _),
    "q_v5_sketch_quantile" -> (Relational.qV5 _),
    // bloom membership + count-min frequency, bound-checked like q_v3/q_v5
    "q_v6_bloom_member"    -> (Relational.qV6 _),
    "q_v7_cms_freq"        -> (Relational.qV7 _),
    "q_v8_skew_profile"    -> (Relational.qV8 _),
    // Misra-Gries frequent items: zero-false-negative heavy hitters
    "q_v9_heavy_hitters"   -> (Relational.qV9 _),
    // data-quality constraint battery (null/range/sign/RI/pk-unique)
    "q_v10_quality_checks" -> (Relational.qV10 _),
    "q_v11_kmv_overlap"    -> (Relational.qV11 _),
    // text analysis (LLM-pipeline battery)
    "q_x4_term_freq"       -> (TextAnalysis.qX4 _),
    "q_t1_lang_id"         -> (TextAnalysis.qT1 _),
    "q_t2_quality_score"   -> (TextAnalysis.qT2 _),
    "q_t3_token_count"     -> (TextAnalysis.qT3 _),
    "q_t4_fingerprint"     -> (TextAnalysis.qT4 _),
    "q_t5_curate"          -> (TextAnalysis.qT5 _),
    "q_t6_stratified_sample" -> (TextAnalysis.qT6 _),
    "q_t7_normalize"       -> (TextAnalysis.qT7 _),
    "q_t8_chunk"           -> (TextAnalysis.qT8 _),
    "q_t9_tfidf"           -> (TextAnalysis.qT9 _),
    "q_t10_quota_sample"   -> (TextAnalysis.qT10 _),
    "q_t11_decontaminate"  -> (TextAnalysis.qT11 _),
    "q_t12_repetition"     -> (TextAnalysis.qT12 _),
    "q_t13_lang_confusion" -> (TextAnalysis.qT13 _),
    "q_t14_pii_density"    -> (TextAnalysis.qT14 _),
    "q_t15_train_split"    -> (TextAnalysis.qT15 _),
    "q_t16_split_leakage"  -> (TextAnalysis.qT16 _),
    "q_t17_pack_stats"     -> (TextAnalysis.qT17 _),
    "q_t42_shard_pack"     -> (TextAnalysis.qT42 _),
    "q_t43_ppl_buckets"    -> (TextAnalysis.qT43 _),
    "q_t44_gopher_rules"   -> (TextAnalysis.qT44 _),
    "q_t18_cluster_split"  -> (TextAnalysis.qT18 _),
    "q_t19_keep_canonical" -> (TextAnalysis.qT19 _),
    "q_t39_safe_keep"      -> (TextAnalysis.qT39 _),
    "q_t26_dedup_mix"      -> (TextAnalysis.qT26 _),
    "q_t27_temperature_mix" -> (TextAnalysis.qT27 _),
    "q_t28_bpe_merges"     -> (TextAnalysis.qT28 _),
    "q_t20_unigram_ll"     -> (TextAnalysis.qT20 _),
    "q_t29_bigram_ll"      -> (TextAnalysis.qT29 _),
    "q_t30_bpe_apply"      -> (TextAnalysis.qT30 _),
    "q_t31_eval_contam"    -> (TextAnalysis.qT31 _),
    "q_t32_curation_funnel" -> (TextAnalysis.qT32 _),
    "q_t33_dsir_weights"   -> (TextAnalysis.qT33 _),
    "q_t34_fertility"      -> (TextAnalysis.qT34 _),
    "q_t35_semantic_contam" -> (TextAnalysis.qT35 _),
    "q_t36_decontam_served" -> (TextAnalysis.qT36 _),
    "q_t37_intradoc_rep"    -> (TextAnalysis.qT37 _),
    "q_t38_eval_report"     -> (TextAnalysis.qT38 _),
    "q_t21_bm25"           -> (TextAnalysis.qT21 _),
    "q_t41_bm25_query"     -> (TextAnalysis.qT41 _),
    "q_t22_mix_weights"    -> (TextAnalysis.qT22 _),
    "q_t23_rrf_fusion"     -> (TextAnalysis.qT23 _),
    "q_t24_fuzzy_decontam" -> (TextAnalysis.qT24 _),
    "q_t25_token_spectrum" -> (TextAnalysis.qT25 _),
    // dedup family
    "q_x5_distinct_hash"   -> (Dedup.qX5 _),
    "q_d1_exact_dedup"     -> (Dedup.qD1 _),
    "q_d2_jaccard_pairs"   -> (Dedup.qD2 _),
    "q_d3_minhash_sig"     -> (Dedup.qD3 _),
    "q_d4_lsh_pairs"       -> (Dedup.qD4 _),
    "q_d5_simhash"         -> (Dedup.qD5 _),
    "q_d6_simhash_pairs"   -> (Dedup.qD6 _),
    "q_d7_emb_neardup"     -> (Dedup.qD7 _),
    "q_d8_lsh_neardup"     -> (Dedup.qD8 _),
    "q_d9_dup_components"  -> (Dedup.qD9 _),
    "q_d10_block_pairs"    -> (Dedup.qD10 _),
    "q_d11_edit_verified"  -> (Dedup.qD11 _),
    "q_d12_chunk_dups"     -> (Dedup.qD12 _),
    "q_d13_minhash_est"    -> (Dedup.qD13 _),
    "q_d14_containment"    -> (Dedup.qD14 _),
    "q_d15_semantic_dedup" -> (Dedup.qD15 _),
    "q_d21_proto_prune"    -> (Dedup.qD21 _),
    "q_d22_d4_verdict"     -> (Dedup.qD22 _),
    "q_d16_boilerplate"    -> (Dedup.qD16 _),
    "q_d17_dup_gram_mass"  -> (Dedup.qD17 _),
    // dup-graph structure diagnostics
    "q_g1_degree_hist"     -> (Dedup.qG1 _),
    "q_g2_triangles"       -> (Dedup.qG2 _),
    "q_g3_component_sizes" -> (Dedup.qG3 _),
    "q_g4_pagerank"        -> (Dedup.qG4 _),
    "q_g5_clustering_coeff" -> (Dedup.qG5 _),
    "q_g6_label_prop"      -> (Dedup.qG6 _),
    "q_g7_kcore"           -> (Dedup.qG7 _),
    "q_g8_kcore3"          -> (Dedup.qG8 _),
    "q_g9_ktruss"          -> (Dedup.qG9 _),
    "q_g10_cohesion"       -> (Dedup.qG10 _),
    "q_g11_weak_links"     -> (Dedup.qG11 _),
    "q_g12_severed_components" -> (Dedup.qG12 _),
    "q_g13_family_depth"   -> (Dedup.qG13 _),
    "q_d18_substr_removal" -> (Dedup.qD18 _),
    "q_d19_substr_clean"   -> (Dedup.qD19 _),
    "q_d20_lsh_plan"       -> (Dedup.qD20 _),
    // similarity search
    "q_x2_cosine_topk"     -> (Similarity.qX2 _),
    "q_sim1_knn_brute"     -> (Similarity.qSim1 _),
    "q_sim2_lsh_ann"       -> (Similarity.qSim2 _),
    "q_sim3_ivf_ann"       -> (Similarity.qSim3 _),
    "q_sim4_ivf_kmeans"    -> (Similarity.qSim4 _),
    "q_sim5_lang_centroids" -> (Similarity.qSim5 _),
    "q_sim6_filtered_knn"  -> (Similarity.qSim6 _),
    "q_sim7_centroid_assign" -> (Similarity.qSim7 _),
    "q_sim8_norm_profile"  -> (Similarity.qSim8 _),
    "q_sim9_int8_recall"   -> (Similarity.qSim9 _),
    "q_sim10_mrl_recall"   -> (Similarity.qSim10 _),
    "q_sim11_ivf_int8"     -> (Similarity.qSim11 _),
    "q_sim12_range_search" -> (Similarity.qSim12 _),
    "q_sim13_pq_adc"       -> (Similarity.qSim13 _),
    "q_sim14_ivfpq"        -> (Similarity.qSim14 _),
    "q_sim16_pq_rerank"    -> (Similarity.qSim16 _),
    "q_sim15_hybrid_rrf"   -> (Similarity.qSim15 _),
    "q_sim17_hybrid_served" -> (Similarity.qSim17 _),
    "q_sim18_mmr_diverse"  -> (Similarity.qSim18 _),
    "q_sim19_cell_balance" -> (Similarity.qSim19 _),
    "q_sim20_topic_mix"    -> (Similarity.qSim20 _),
    "q_sim21_hybrid_query" -> (Similarity.qSim21 _),
    "q_sim22_nprobe_sweep" -> (Similarity.qSim22 _),
    // merge engine (the reference's core pipeline, A9-A12)
    "q_m1_merge_classify"  -> (RawMerge.qM1 _),
    "q_m2_merge_state"     -> (RawMerge.qM2 _),
    "q_m3_merge_idempotent" -> (RawMerge.qM3 _),
    // schemaless raw-JSON merge (round-trip fidelity + error channel)
    "q_m4_raw_classify"    -> (RawMerge.qM4 _),
    "q_m5_raw_fidelity"    -> (RawMerge.qM5 _),
    // PII masking (U-1)
    "q_k1_mask_pii"        -> (Sanitize.qK1 _),
    // streaming cores, batch form (ST-1..ST-5; streaming form in StreamingSpec)
    "q_st1_tumbling"       -> (graft.streaming.Streams.qSt1 _),
    "q_st2_sliding"        -> (graft.streaming.Streams.qSt2 _),
    "q_st3_session"        -> (graft.streaming.Streams.qSt3 _),
    "q_st4_dedup_count"    -> (graft.streaming.Streams.qSt4 _),
    "q_st5_incremental_merge" -> (graft.streaming.Streams.qSt5 _),
    "q_st7_funnel_join"    -> (graft.streaming.Streams.qSt7 _),
    "q_st10_abandoned"     -> (graft.streaming.Streams.qSt10 _),
    "q_st11_drift"         -> (graft.streaming.Streams.qSt11 _),
    "q_st12_drift_alert"   -> (graft.streaming.Streams.qSt12 _),
    "q_st13_gate_verdict"  -> (graft.streaming.Streams.qSt13 _),
    // multimodal binary-column pipeline
    "q_mm1_asset_features"  -> (Multimodal.qMm1 _),
    "q_mm2_frame_sample"    -> (Multimodal.qMm2 _),
    "q_mm3_resize"          -> (Multimodal.qMm3 _),
    "q_mm4_decode_real"     -> (Multimodal.qMm4 _),
    "q_mm5_audio_real"      -> (Multimodal.qMm5 _),
    "q_mm6_video_frames"    -> (Multimodal.qMm6 _),
    "q_mm7_motion_energy"   -> (Multimodal.qMm7 _),
    "q_mm8_audio_bands"     -> (Multimodal.qMm8 _),
    "q_mm9_image_hash_dups" -> (Multimodal.qMm9 _),
    "q_mm10_png_meta"       -> (Multimodal.qMm10 _),
    "q_mm11_tile_stats"     -> (Multimodal.qMm11 _),
    "q_mm14_img_entropy"    -> (Multimodal.qMm14 _),
    "q_mm15_flip_dups"      -> (Multimodal.qMm15 _),
    "q_mm16_keyframes"      -> (Multimodal.qMm16 _),
    "q_mm17_vad"            -> (Multimodal.qMm17 _),
    "q_mm18_sharpness"      -> (Multimodal.qMm18 _),
    "q_mm19_img_ivf"        -> (MmIvf.qMm19 _),
    "q_mm20_modal_consistency" -> (MmIvf.qMm20 _),
    "q_mm21_audio_ivf"      -> (MmIvf.qMm21 _),
    "q_mm22_ext_ivf"        -> (MmIvf.qMm22 _),
    "q_mm23_y4m_sample"     -> (Multimodal.qMm23 _),
    "q_mm24_mp4_meta"       -> (Multimodal.qMm24 _),
    "q_mm25_mp4_keyframes"  -> (Multimodal.qMm25 _),
    "q_mm26_mkv_meta"       -> (Multimodal.qMm26 _),
    "q_mm27_mkv_keyframes"  -> (Multimodal.qMm27 _),
    "q_mm28_mp3_meta"       -> (Multimodal.qMm28 _),
    "q_mm29_warc_records"   -> (Warc.qMm29 _),
    "q_mm30_warc_http"      -> (Warc.qMm30 _),
    "q_mm31_tar_members"    -> (Tar.qMm31 _),
    "q_mm32_wds_samples"    -> (Tar.qMm32 _),
    "q_mm33_sniff_profile"  -> (Profile.qMm33 _),
    "q_mm34_flac_meta"      -> (Multimodal.qMm34 _),
    "q_mm12_audio_dups"     -> (Multimodal.qMm12 _),
    "q_mm13_jpeg_decode"    -> (Multimodal.qMm13 _),
    // document flattener (U-3 Generator; u4 slot — u3 is INTERSECT's)
    "q_u4_flatten"          -> (Documents.qU4 _),
  )

  /** DuckDB-dialect equivalent for each key in `queries` (the driver runs
    * these on the same parquet tables at sf0.01 and hash-compares). */
  def oracleSql: Map[String, String] = Map(
    "q_s1_scan_projection" -> (
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem ORDER BY l_orderkey, l_linenumber"),
    "q_s2_json_access" -> (
      "SELECT event_id, json_extract_string(props, '$.k') AS k FROM events ORDER BY event_id"),
    "q_s3_variant" -> (
      "SELECT event_id, CAST(json_extract(props, '$.k') AS INT) AS kv FROM events ORDER BY event_id"),
    "q_f1_conjunctive" -> (
      "SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_discount > 0.05 AND l_returnflag = 'R' ORDER BY l_orderkey, l_linenumber"),
    "q_f2_valid_id" -> (
      "SELECT count(1) AS n FROM events WHERE user_id IS NOT NULL"),
    "q_p1_coalesce_inject" -> (
      "SELECT o_orderkey, coalesce(o_orderpriority, 'NONE') AS pr FROM orders ORDER BY o_orderkey"),
    "q_j1_broadcast_dim" -> (
      "SELECT n_name, count(1) AS c FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name"),
    "q_j2_fact_fact" -> (
      "SELECT o_orderkey, count(1) AS c FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY o_orderkey ORDER BY o_orderkey"),
    "q_j7_bucketed_cojoin" -> (
      // same logical result as q_j2 — bucketing only changes the physical plan
      "SELECT o_orderkey, count(1) AS c FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY o_orderkey ORDER BY o_orderkey"),
    "q_j3_left_anti" -> (
      "SELECT event_id FROM events ANTI JOIN orders ON user_id = o_custkey ORDER BY event_id"),
    "q_j4_left_semi" -> (
      "SELECT c_custkey FROM customer SEMI JOIN orders ON c_custkey = o_custkey ORDER BY c_custkey"),
    "q_j5_full_outer_diff" -> (
      "SELECT coalesce(c_custkey, o_custkey) AS k, (c_custkey IS NULL) AS only_t, (o_custkey IS NULL) AS only_s " +
        "FROM customer FULL JOIN (SELECT DISTINCT o_custkey FROM orders) o ON c_custkey = o_custkey ORDER BY k"),
    "q_j6_composite_key" -> (
      "SELECT count(1) AS n FROM lineitem l JOIN lineitem r ON l.l_orderkey = r.l_orderkey AND l.l_linenumber = r.l_linenumber"),
    "q_j8_skew_join" -> (
      "SELECT k, count(1) AS c, CAST(sum(event_id % 100003) AS BIGINT) AS se FROM " +
        "(SELECT CASE WHEN user_id % 10 <> 0 THEN 0 ELSE user_id END AS k, event_id FROM events) e " +
        "JOIN (SELECT o_orderkey % 1500 AS k FROM orders) o USING (k) " +
        "GROUP BY k ORDER BY k"),
    "q_j11_nullaware_anti" -> (
      // ANSI NOT IN three-valued logic in both engines: null-keyed probe
      // rows (falsy-id validation nulls the key) drop out as UNKNOWN
      "SELECT event_id FROM events " +
        "WHERE (CASE WHEN user_id % 97 = 0 THEN NULL ELSE user_id END) NOT IN " +
        "(SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') " +
        "ORDER BY event_id"),
    "q_j12_bloom_prejoin" -> (
      // the bloom prefilter is exchange physics, not semantics: false
      // positives die at the exact join, so the oracle is the PLAIN join
      "SELECT CAST(count(1) AS BIGINT) AS n, " +
        "CAST(coalesce(bit_xor((l_orderkey % 1000003) * 100003 + l_linenumber), 0) AS BIGINT) AS h " +
        "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "WHERE o.o_orderstatus = 'F' AND o.o_orderpriority = '1-URGENT'"),
    "q_j10_range_band" -> (
      // point-in-interval with no equi key: the oracle is DuckDB's native
      // IEJoin over the SAME range predicate — an independent algorithm
      // validating the banded equi-join decomposition; interval bounds are
      // integer-derived through single IEEE double ops (engine-identical)
      "WITH iv AS (SELECT o_orderkey, CAST(o_orderkey % 2800 AS DOUBLE) / 20.0 AS lo FROM orders), " +
        "iv2 AS (SELECT o_orderkey, lo, lo + 0.05 AS hi FROM iv) " +
        "SELECT count(1) AS n, CAST(coalesce(bit_xor((e.event_id % 1000003) * 100003 + (iv2.o_orderkey % 100003)), 0) AS BIGINT) AS h " +
        "FROM events e JOIN iv2 ON e.value >= iv2.lo AND e.value < iv2.hi"),
    "q_j9_asof_join" -> (
      // DuckDB's NATIVE ASOF JOIN is the oracle for the union+window
      // formulation; orders pre-aggregated to one row per (custkey, date)
      // so the same-time pick is deterministic in both engines
      "WITH od AS (SELECT o_custkey AS k, o_orderdate AS t, max(o_orderkey) AS ok " +
        "FROM orders GROUP BY 1, 2) " +
        "SELECT e.event_id, od.ok AS asof_orderkey " +
        "FROM events e ASOF LEFT JOIN od ON e.user_id = od.k AND e.ts >= od.t " +
        "ORDER BY e.event_id"),
    "q_a1_count" -> (
      "SELECT count(1) AS n FROM lineitem"),
    "q_a2_hash_agg" -> (
      "SELECT l_returnflag, l_linestatus, count(1) AS c, ROUND(sum(l_quantity), 2) AS sq, ROUND(avg(l_extendedprice), 2) AS ap " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "q_a3_count_distinct" -> (
      "SELECT count(DISTINCT o_custkey) AS n FROM orders"),
    "q_a4_rollup" -> (
      "SELECT n_name, o_orderstatus, count(1) AS c FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY ROLLUP(n_name, o_orderstatus) " +
        "ORDER BY n_name NULLS FIRST, o_orderstatus NULLS FIRST, c"),
    "q_a5_cube" -> (
      "SELECT n_name, o_orderstatus, count(1) AS c FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY CUBE(n_name, o_orderstatus) " +
        "ORDER BY n_name NULLS FIRST, o_orderstatus NULLS FIRST, c"),
    "q_a6_pivot" -> (
      "SELECT user_id, count(1) FILTER (WHERE event_type = 'click') AS click, " +
        "count(1) FILTER (WHERE event_type = 'error') AS error, " +
        "count(1) FILTER (WHERE event_type = 'purchase') AS purchase, " +
        "count(1) FILTER (WHERE event_type = 'signup') AS signup, " +
        "count(1) FILTER (WHERE event_type = 'view') AS view " +
        "FROM events GROUP BY user_id ORDER BY user_id"),
    "q_a7_top_revenue" -> (
      "SELECT o_orderkey, " +
        "CAST(ROUND(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(3,2)))), 2) AS DOUBLE) AS revenue, " +
        "CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS od " +
        "FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey " +
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1996-01-01' AND l_shipdate > TIMESTAMP '1996-01-01' " +
        "GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, o_orderkey LIMIT 10"),
    "q_a9_small_orders" -> (
      // TPC-H Q17 shape, decorrelated; 0.2·avg gate cross-multiplied to
      // integers (5·q·cnt < Σq) so the oracle is division-free
      "WITH pp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'), " +
        "l AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q, " +
        "CAST(l_extendedprice AS DECIMAL(18,2)) AS ep " +
        "FROM lineitem JOIN pp ON l_partkey = p_partkey), " +
        "a AS (SELECT l_partkey AS pk, count(1) AS cnt, sum(q) AS sq FROM l GROUP BY 1) " +
        "SELECT CAST(count(1) AS BIGINT) AS n_small, " +
        "CAST(sum(q) AS BIGINT) AS qty_sum, " +
        "CAST(ROUND(sum(ep), 2) AS DOUBLE) AS revenue " +
        "FROM l JOIN a ON l.l_partkey = a.pk WHERE 5 * q * cnt < sq"),
    "q_w1_dedup_latest" -> (
      "SELECT event_id FROM (SELECT event_id, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id) AS rn FROM events) t " +
        "WHERE rn = 1 ORDER BY event_id"),
    "q_w2_running_sum" -> (
      "SELECT event_id, ROUND(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS rs " +
        "FROM events ORDER BY event_id"),
    "q_w3_lag_gap" -> (
      "SELECT event_id, epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us " +
        "FROM events ORDER BY event_id"),
    "q_w4_ntile_rank" -> (
      "SELECT o_orderkey, ntile(4) OVER w AS quartile, rank() OVER w AS rk FROM orders " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) ORDER BY o_orderkey"),
    "q_w5_distribution" -> (
      "SELECT o_orderkey, percent_rank() OVER w AS pr, cume_dist() OVER w AS cd FROM orders " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) ORDER BY o_orderkey"),
    "q_x6_date_battery" -> (
      "SELECT o_orderkey, year(o_orderdate) AS y, quarter(o_orderdate) AS q, month(o_orderdate) AS m, " +
        "day(o_orderdate) AS dom, date_trunc('month', o_orderdate) AS mstart, " +
        "datediff('day', DATE '1995-01-01', o_orderdate::DATE) AS dd, " +
        "CAST(last_day(o_orderdate::DATE) AS VARCHAR) AS ld FROM orders ORDER BY o_orderkey"),
    "q_o1_topk" -> (
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
    "q_o2_diverse_topk" -> (
      // per-language rank caps the group BEFORE the global top-20
      "WITH r AS (SELECT doc_id, lang, n_chars, row_number() OVER " +
        "(PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS lr FROM documents) " +
        "SELECT doc_id, lang, n_chars, CAST(lr AS BIGINT) AS lang_rank " +
        "FROM r WHERE lr <= 3 ORDER BY n_chars DESC, doc_id LIMIT 20"),
    "q_o3_weighted_sample" -> (
      // priority sampling, integer-exact: q = w*2^32 DIV (h+1) with h the
      // 32-bit md5 fragment of the doc id (Hashing.md5h32's DuckDB form)
      "SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS w, " +
        "(CAST(n_chars AS BIGINT) * 4294967296) // " +
        "((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) + 1) AS priority " +
        "FROM documents ORDER BY priority DESC, doc_id LIMIT 20"),
    "q_u1_union_all" -> (
      "SELECT k FROM (SELECT c_nationkey AS k FROM customer UNION ALL SELECT s_nationkey AS k FROM supplier) t ORDER BY k"),
    "q_u2_except" -> (
      "SELECT c_custkey FROM (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders) t ORDER BY c_custkey"),
    "q_u3_intersect" -> (
      "SELECT c_nationkey FROM (SELECT c_nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier) t ORDER BY c_nationkey"),
    "q_u5_union_distinct" -> (
      "SELECT k FROM (SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey FROM supplier) t ORDER BY k"),
    "q_u6_except_all" -> (
      "SELECT k, count(1) AS c FROM (SELECT o_custkey AS k FROM orders EXCEPT ALL SELECT c_custkey FROM customer) t " +
        "GROUP BY k ORDER BY k"),
    "q_a8_grouping_sets" -> (
      "SELECT o_orderstatus, o_orderpriority, count(1) AS c FROM orders " +
        "GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority)) " +
        "ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST, c"),
    "q_x1_scalar_battery" -> (
      "SELECT l_orderkey, l_linenumber, lower(l_returnflag) AS lf, substr(l_linestatus, 1, 1) AS s1, " +
        "year(l_shipdate) AS y, month(l_shipdate) AS m, " +
        "CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(3,2))), 2) AS DOUBLE) AS net, abs(l_quantity) AS q " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber"),
    "q_x3_json_agg" -> (
      "SELECT event_type, count(1) AS c FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL GROUP BY event_type ORDER BY event_type"),
    "q_v1_count_parity" -> (
      "SELECT ((SELECT count(1) FROM lineitem) = (SELECT count(1) FROM lineitem)) AS ok"),
    "q_v2_content_hash" -> (
      "SELECT count(1) AS n, CAST(sum(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT) AS BIGINT) AS h FROM orders"),
    "q_v4_profile" -> (
      // exact percentiles: Spark `percentile` and DuckDB `quantile_cont`
      // share the linear-interpolation definition
      "SELECT count(1) AS n, " +
        "CAST(count(CASE WHEN l_quantity IS NULL THEN 1 END) AS BIGINT) AS q_nulls, " +
        "ROUND(min(l_quantity), 2) AS q_min, ROUND(max(l_quantity), 2) AS q_max, " +
        "ROUND(quantile_cont(l_quantity, 0.25), 2) AS q_p25, " +
        "ROUND(quantile_cont(l_quantity, 0.5), 2) AS q_p50, " +
        "ROUND(quantile_cont(l_quantity, 0.9), 2) AS q_p90, " +
        "count(DISTINCT l_returnflag) AS rf_distinct FROM lineitem"),
    "q_v5_sketch_quantile" -> (
      // the sketch estimate is engine-specific; the checked contract is
      // exact median + "sketch lands within the exact p49..p51 window"
      "SELECT ROUND(quantile_cont(l_quantity, 0.5), 2) AS p50_exact, " +
        "true AS within_bound FROM lineitem"),
    "q_v6_bloom_member" -> (
      // bloom's hard guarantee (no false negatives) + tuned fp bound; the
      // probe set is keys 1..200 (members iff they ordered) + 200 keys
      // outside the key space
      "SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS members, " +
        "CAST(0 AS BIGINT) AS false_negatives, true AS fp_ok " +
        "FROM orders WHERE o_custkey <= 200"),
    "q_v7_cms_freq" -> (
      // CMS guarantee is one-sided: estimate >= exact, over-count <= eps*N
      "SELECT l_returnflag, count(1) AS exact, true AS within_bound " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_v8_skew_profile" -> (
      // integer-exact skew factor (max/avg x1000 via DIV); p90 of the
      // per-key counts uses the shared linear-interpolation quantile
      "WITH k AS (SELECT l_suppkey, count(1) AS c FROM lineitem GROUP BY l_suppkey) " +
        "SELECT count(1) AS n_keys, max(c) AS max_c, " +
        "ROUND(quantile_cont(c, 0.9), 2) AS p90_c, " +
        "CAST((max(c) * 1000 * count(1)) // sum(c) AS BIGINT) AS skew_x1000 FROM k"),
    "q_v9_heavy_hitters" -> (
      // MG guarantees collapse to pinned booleans: every token with
      // c*k > n is found (est > 0 after merge) and the merged estimate
      // error is <= n/k — the exact side replays in SQL, the booleans
      // are the sketch's contract (same posture as q_v6/q_v7)
      "WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents), " +
        "tt AS (SELECT t, count(1) AS c FROM tok WHERE t <> '' GROUP BY t), " +
        "n AS (SELECT sum(c) AS n FROM tt) " +
        "SELECT t, c, true AS found, true AS within_bound " +
        "FROM tt, n WHERE c * 32 > n ORDER BY c DESC, t"),
    "q_w6_interval_merge" -> (
      "WITH iv AS (SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS st, " +
        "CAST(o_orderdate AS DATE) + CAST(o_orderkey % 30 AS INT) AS en FROM orders), " +
        "x AS (SELECT o_custkey, o_orderkey, st, en, " +
        "max(en) OVER (PARTITION BY o_custkey ORDER BY st, en, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM iv), " +
        "o AS (SELECT o_custkey, o_orderkey, st, en, " +
        "CASE WHEN pm IS NULL OR st > pm THEN 1 ELSE 0 END AS opens FROM x), " +
        "isl AS (SELECT o_custkey, st, en, " +
        "sum(opens) OVER (PARTITION BY o_custkey ORDER BY st, en, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM o), " +
        "sp AS (SELECT o_custkey, island, min(st) AS s0, max(en) AS e0 " +
        "FROM isl GROUP BY o_custkey, island) " +
        "SELECT o_custkey, count(1) AS n_spans, " +
        "CAST(sum(date_diff('day', s0, e0) + 1) AS BIGINT) AS covered_days " +
        "FROM sp GROUP BY o_custkey ORDER BY o_custkey"),
    "q_w8_spike_detect" -> (
      // all-integer day-over-day doubling flag; day from the UTC-naive
      // timestamp both engines read identically
      "WITH dc AS (SELECT event_type, CAST(ts AS DATE) AS day, count(1) AS c " +
        "FROM events GROUP BY 1, 2), " +
        "l AS (SELECT event_type, day, c, lag(c) OVER " +
        "(PARTITION BY event_type ORDER BY day) AS prev_c FROM dc) " +
        "SELECT event_type, day, c, prev_c, " +
        "(prev_c IS NOT NULL AND c > prev_c * 2) AS spike " +
        "FROM l ORDER BY event_type, day"),
    "q_w9_robust_spike" -> (
      // trailing-7-day LOWER median (integer selection, no float averaging)
      // via a windowed list — replays qW9's collect→sort→pick exactly
      "WITH dc AS (SELECT event_type, CAST(ts AS DATE) AS day, count(1) AS c " +
        "FROM events GROUP BY 1, 2), " +
        "h AS (SELECT event_type, day, c, list_sort(list(c) OVER " +
        "(PARTITION BY event_type ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)) AS hist FROM dc), " +
        "m AS (SELECT event_type, day, c, CASE WHEN len(hist) >= 4 " +
        "THEN CAST(hist[CAST((len(hist)+1)//2 AS INT)] AS BIGINT) END AS med FROM h) " +
        "SELECT event_type, day, c, med, " +
        "(med IS NOT NULL AND c > med * 2) AS anomaly FROM m ORDER BY event_type, day"),
    "q_v10_quality_checks" -> (
      "WITH li AS (SELECT " +
        "sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS null_ok, " +
        "sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS qty_oor, " +
        "sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS price_nonpos FROM lineitem), " +
        "orph AS (SELECT count(1) AS orphans FROM orders o " +
        "WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)), " +
        "dup AS (SELECT count(1) AS dup_pk FROM " +
        "(SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(1) > 1)) " +
        "SELECT chk, n_bad FROM (" +
        "SELECT 'lineitem_null_orderkey' AS chk, CAST(null_ok AS BIGINT) AS n_bad FROM li " +
        "UNION ALL SELECT 'lineitem_qty_range', CAST(qty_oor AS BIGINT) FROM li " +
        "UNION ALL SELECT 'lineitem_price_nonpositive', CAST(price_nonpos AS BIGINT) FROM li " +
        "UNION ALL SELECT 'orders_orphan_custkey', CAST(orphans AS BIGINT) FROM orph " +
        "UNION ALL SELECT 'orders_dup_pk', CAST(dup_pk AS BIGINT) FROM dup) " +
        "ORDER BY chk"),
    "q_v11_kmv_overlap" -> (
      // KMV k=16 sketches over md5h32(user_id), union = k smallest of the
      // sketch union, intersection via the rho estimator with the |kmv(U)|
      // denominator (collapses to exact when under-full); exact truth
      // alongside (the q_d13 audit pattern). M = 2^32.
      "WITH ah AS (SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h " +
        "FROM events WHERE event_type = 'click'), " +
        "bh AS (SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h " +
        "FROM events WHERE event_type = 'purchase'), " +
        "ka AS (SELECT h FROM ah ORDER BY h LIMIT 16), " +
        "kb AS (SELECT h FROM bh ORDER BY h LIMIT 16), " +
        "ku AS (SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb) t ORDER BY h LIMIT 16), " +
        "ea AS (SELECT CASE WHEN count(1) < 16 THEN count(1) ELSE (15 * 4294967296) // max(h) END AS est_a FROM ka), " +
        "eb AS (SELECT CASE WHEN count(1) < 16 THEN count(1) ELSE (15 * 4294967296) // max(h) END AS est_b FROM kb), " +
        "ug AS (SELECT count(1) AS s_u, max(h) AS mx_u FROM ku), " +
        "eu AS (SELECT CASE WHEN s_u < 16 THEN s_u ELSE (15 * 4294967296) // mx_u END AS est_union, s_u FROM ug), " +
        "rh AS (SELECT count(1) AS rho FROM ku WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)), " +
        "exu AS (SELECT count(DISTINCT user_id) AS exact_union FROM events WHERE event_type IN ('click', 'purchase')), " +
        "exi AS (SELECT count(1) AS exact_inter FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'click' " +
        "INTERSECT SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') t) " +
        "SELECT CAST(16 AS BIGINT) AS k, CAST(est_a AS BIGINT) AS est_a, CAST(est_b AS BIGINT) AS est_b, " +
        "CAST(est_union AS BIGINT) AS est_union, CAST((rho * est_union) // s_u AS BIGINT) AS est_inter, " +
        "CAST(exact_union AS BIGINT) AS exact_union, CAST(exact_inter AS BIGINT) AS exact_inter " +
        "FROM ea, eb, eu, rh, exu, exi"),
    "q_w7_cumulative_users" -> (
      "WITH fd AS (SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id), " +
        "nd AS (SELECT day, count(1) AS n_new FROM fd GROUP BY day) " +
        "SELECT day, n_new, CAST(sum(n_new) OVER (ORDER BY day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users " +
        "FROM nd ORDER BY day"),
    "q_x9_retention" -> (
      // cohort = first-seen day; activity reduced to distinct (user, day);
      // integer DATE arithmetic keeps the offset hash-exact
      "WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events), " +
        "act AS (SELECT DISTINCT user_id, day FROM ev), " +
        "fd AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id) " +
        "SELECT cohort_day, CAST(date_diff('day', cohort_day, day) AS BIGINT) AS offset_d, " +
        "count(1) AS n_active " +
        "FROM act a JOIN fd f ON a.user_id = f.user_id " +
        "WHERE date_diff('day', cohort_day, day) BETWEEN 0 AND 7 " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "q_x10_mix_lift" -> (
      // contingency lift per (lang, source): n*N*1000 // (n_lang*n_source)
      // in per-mille; skew flags 1.5x over / 2/3 under independence
      "WITH c AS (SELECT lang, source, CAST(count(1) AS BIGINT) AS n " +
        "FROM documents GROUP BY 1, 2), " +
        "l AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nl FROM c GROUP BY 1), " +
        "s2 AS (SELECT source, CAST(sum(n) AS BIGINT) AS ns FROM c GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c) " +
        "SELECT c.lang, c.source, c.n, " +
        "CAST((c.n * nn * 1000) // (nl * ns) AS BIGINT) AS lift_pm, " +
        "CAST(CASE WHEN (c.n * nn * 1000) // (nl * ns) >= 1500 THEN 1 " +
        "WHEN (c.n * nn * 1000) // (nl * ns) <= 667 THEN -1 ELSE 0 END AS BIGINT) AS skew " +
        "FROM c JOIN l USING (lang) JOIN s2 USING (source), t " +
        "ORDER BY lang, source"),
    "q_x11_transitions" -> (
      // first-order Markov matrix: per-user lead(), pair counts, per-mille
      // row shares of transitions leaving each source type
      "WITH s AS (SELECT user_id, event_type, " +
        "lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2 " +
        "FROM events), " +
        "c AS (SELECT event_type AS src, e2 AS dst, CAST(count(1) AS BIGINT) AS n " +
        "FROM s WHERE e2 IS NOT NULL GROUP BY 1, 2), " +
        "t AS (SELECT src, CAST(sum(n) AS BIGINT) AS ns FROM c GROUP BY 1) " +
        "SELECT c.src, c.dst, c.n, CAST((c.n * 1000) // ns AS BIGINT) AS share_pm " +
        "FROM c JOIN t USING (src) ORDER BY src, dst"),
    "q_t10_quota_sample" -> (
      "WITH n AS (SELECT count(1) AS n_docs FROM documents), " +
        "r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents) " +
        "SELECT lang, doc_id FROM r CROSS JOIN n WHERE rn <= n_docs // 10 " +
        "ORDER BY lang, doc_id"),
    "q_t11_decontaminate" -> (
      // 8-token grams; eval set = doc_id < 20 (declared bound standing in
      // for the benchmark corpus). DuckDB range(a,b) is end-exclusive and
      // list slices are 1-based inclusive — i..i+7 is an 8-gram
      "WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents), " +
        "ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i " +
        "FROM tok WHERE len(w) >= 8), " +
        "g AS (SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram FROM ix), " +
        "ev AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20), " +
        "co AS (SELECT doc_id, gram FROM g WHERE doc_id >= 20) " +
        "SELECT co.doc_id, count(DISTINCT co.gram) AS n_shared " +
        "FROM co JOIN ev USING (gram) GROUP BY co.doc_id ORDER BY co.doc_id"),
    "q_t12_repetition" -> (
      // top-token mass x10000 via integer DIV (HALF-free); tiebreak:
      // count desc, token asc — the same order min(struct(-c, t)) picks
      "WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents), " +
        "c AS (SELECT doc_id, t, count(1) AS c FROM tok WHERE t <> '' GROUP BY doc_id, t), " +
        "r AS (SELECT doc_id, t, c, row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY c DESC, t) AS rn, sum(c) OVER (PARTITION BY doc_id) AS tot FROM c) " +
        "SELECT doc_id, t AS top_term, c AS top_c, " +
        "CAST((c * 10000) // tot AS BIGINT) AS rep_x10000 " +
        "FROM r WHERE rn = 1 ORDER BY doc_id"),
    "q_mm8_audio_bands" -> (
      // real WAV decode Spark-side; the oracle replays the closed-form
      // sample function (Multimodal.wavSample) and squares exactly
      "WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200), " +
        "k AS (SELECT doc_id, unnest(generate_series(0, 63)) AS k FROM d), " +
        "sm AS (SELECT doc_id, k, ((doc_id * 37 + k * 11) % 2048 - 1024) AS s FROM k) " +
        "SELECT doc_id AS asset_id, " +
        "CAST(sum(CASE WHEN k < 16 THEN s * s ELSE 0 END) AS BIGINT) AS b0, " +
        "CAST(sum(CASE WHEN k >= 16 AND k < 32 THEN s * s ELSE 0 END) AS BIGINT) AS b1, " +
        "CAST(sum(CASE WHEN k >= 32 AND k < 48 THEN s * s ELSE 0 END) AS BIGINT) AS b2, " +
        "CAST(sum(CASE WHEN k >= 48 THEN s * s ELSE 0 END) AS BIGINT) AS b3 " +
        "FROM sm GROUP BY doc_id ORDER BY asset_id"),
    "q_mm17_vad" -> (
      // energy-gate VAD: 8 frames of 8 samples from the wavSample closed
      // form; speech iff 2*e_f*8 >= total (half the mean frame energy,
      // division-free); segments = maximal speech runs via lag()
      "WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200), " +
        "k AS (SELECT doc_id, unnest(generate_series(0, 63)) AS k FROM d), " +
        "sm AS (SELECT doc_id, k, ((doc_id * 37 + k * 11) % 2048 - 1024) AS s FROM k), " +
        "f AS (SELECT doc_id, k // 8 AS f, CAST(sum(s * s) AS BIGINT) AS e FROM sm GROUP BY 1, 2), " +
        "t AS (SELECT doc_id, CAST(sum(e) AS BIGINT) AS total FROM f GROUP BY 1), " +
        "sp AS (SELECT f.doc_id, f.f, (2 * f.e * 8 >= t.total) AS s FROM f JOIN t USING (doc_id)), " +
        "g AS (SELECT doc_id, f, s, lag(s, 1, false) OVER (PARTITION BY doc_id ORDER BY f) AS prev FROM sp) " +
        "SELECT doc_id AS asset_id, CAST(8 AS INT) AS n_frames, " +
        "CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS INT) AS n_speech, " +
        "CAST(sum(CASE WHEN s THEN CAST(1 AS BIGINT) << f ELSE 0 END) AS BIGINT) AS speech_mask, " +
        "CAST(sum(CASE WHEN s AND NOT prev THEN 1 ELSE 0 END) AS INT) AS n_segs " +
        "FROM g GROUP BY doc_id ORDER BY asset_id"),
    "q_mm18_sharpness" -> (
      // interior 4-neighbor |Laplacian| over the closed-form canvas
      // (pngGray = (id*31 + 7x + 13y) mod 256): telescopes to 0 except at
      // mod wrap seams; sharp_c = centi-mean over the (w-2)(h-2) interior
      "WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200), " +
        "l AS (SELECT doc_id, abs(4 * ((doc_id*31 + x.i*7 + y.i*13) % 256) " +
        "- ((doc_id*31 + (x.i-1)*7 + y.i*13) % 256) " +
        "- ((doc_id*31 + (x.i+1)*7 + y.i*13) % 256) " +
        "- ((doc_id*31 + x.i*7 + (y.i-1)*13) % 256) " +
        "- ((doc_id*31 + x.i*7 + (y.i+1)*13) % 256)) AS v FROM d, " +
        "(SELECT unnest(generate_series(1, 6)) AS i) x, " +
        "(SELECT unnest(generate_series(1, 6)) AS i) y) " +
        "SELECT doc_id AS asset_id, CAST(8 AS INT) AS w, CAST(8 AS INT) AS h, " +
        "CAST(sum(v) AS BIGINT) AS lap_sum, " +
        "CAST((sum(v) * 100) // 36 AS BIGINT) AS sharp_c, " +
        "CAST(CASE WHEN (sum(v) * 100) // 36 < 2000 THEN 1 ELSE 0 END AS BIGINT) AS blur " +
        "FROM l GROUP BY doc_id ORDER BY asset_id"),
    "q_x7_event_paths" -> (
      "WITH s AS (SELECT user_id, event_type, " +
        "lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2, " +
        "lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3 " +
        "FROM events) " +
        "SELECT event_type || '>' || e2 || '>' || e3 AS path, count(1) AS c " +
        "FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL " +
        "GROUP BY 1 ORDER BY c DESC, path LIMIT 20"),
    "q_x8_sessionize" -> (
      // gap arithmetic on FLOOR-seconds (both engines truncate the same
      // way for positive epochs) so every output column is integer-exact;
      // ordering keeps the full-precision timestamp
      "WITH e AS (SELECT user_id, ts, event_id, " +
        "CAST(floor(date_part('epoch', ts)) AS BIGINT) AS sec FROM events), " +
        "b AS (SELECT user_id, ts, event_id, sec, " +
        "CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800 " +
        "THEN 1 ELSE 0 END AS brk FROM e " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "s AS (SELECT user_id, sec, sum(brk) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess FROM b), " +
        "g AS (SELECT user_id, sess, count(1) AS events_n, " +
        "max(sec) - min(sec) AS dur FROM s GROUP BY 1, 2) " +
        "SELECT events_n, count(1) AS sessions, " +
        "CAST(sum(dur) AS BIGINT) AS total_dur_s " +
        "FROM g GROUP BY 1 ORDER BY events_n"),
    "q_t9_tfidf" -> (
      // integer-surrogate idf ((n*1000) // df): monotone in ln(n/df), so
      // identical ranking, and hash-exact where ln() is libm-dependent
      "WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, count(1) AS tf FROM tok WHERE term <> '' GROUP BY doc_id, term), " +
        "dfq AS (SELECT term, count(1) AS df FROM tf GROUP BY term), " +
        "n AS (SELECT count(1) AS n_docs FROM documents), " +
        "sc AS (SELECT tf.doc_id, tf.term, CAST(tf.tf * ((n.n_docs * 1000) // dfq.df) AS BIGINT) AS score " +
        "FROM tf JOIN dfq USING (term) CROSS JOIN n), " +
        "r AS (SELECT doc_id, term, score, CAST(row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rnk FROM sc) " +
        "SELECT doc_id, term, score, rnk FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk"),
    "q_d10_block_pairs" -> (
      "WITH d AS (SELECT doc_id, " +
        "substr(trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')), 1, 12) AS blk, " +
        "list_distinct(string_split(lower(text), ' ')) AS w FROM documents), " +
        "d0 AS (SELECT * FROM d WHERE length(blk) > 0), " +
        // supersized blocks (> MaxBlockSide members) are skipped — the
        // declared linear-candidates cap; no-op at sf scale (max block 13)
        "ob AS (SELECT blk FROM d0 GROUP BY blk " +
        s"HAVING count(1) > ${graft.operators.Dedup.MaxBlockSide}), " +
        "dd AS (SELECT * FROM d0 WHERE blk NOT IN (SELECT blk FROM ob)) " +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, " +
        "ROUND(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) / len(list_distinct(list_concat(a.w, b.w))), 4) AS jac " +
        "FROM dd a JOIN dd b ON a.blk = b.blk AND a.doc_id < b.doc_id " +
        "WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) / len(list_distinct(list_concat(a.w, b.w))) >= 0.9 " +
        "ORDER BY a_id, b_id"),
    "q_d11_edit_verified" -> (simhashPairsSql +
      ", dt AS (SELECT sp.a_id, sp.b_id, levenshtein(x.text, y.text) AS dist " +
      "FROM sp JOIN documents x ON sp.a_id = x.doc_id JOIN documents y ON sp.b_id = y.doc_id) " +
      "SELECT a_id, b_id, CAST(dist AS BIGINT) AS dist FROM dt WHERE dist <= 30 ORDER BY a_id, b_id"),
    "q_d12_chunk_dups" -> (
      "WITH ch AS (SELECT doc_id, md5(substring(text, st, 200)) AS h " +
        "FROM documents, unnest(generate_series(1, greatest(length(text), 1), 200)) AS t(st)), " +
        "c AS (SELECT doc_id, count(1) OVER (PARTITION BY h) AS c FROM ch) " +
        "SELECT doc_id, count(1) AS n_chunks, " +
        "CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks " +
        "FROM c GROUP BY doc_id ORDER BY doc_id"),
    "q_g1_degree_hist" -> (simhashPairsSql +
      ", deg AS (SELECT id, count(1) AS degree FROM " +
      "(SELECT a_id AS id FROM sp UNION ALL SELECT b_id FROM sp) t GROUP BY id) " +
      "SELECT degree, count(1) AS n_nodes FROM deg GROUP BY degree ORDER BY degree"),
    "q_g2_triangles" -> (simhashPairsSql +
      " SELECT CAST(count(1) AS BIGINT) AS triangles FROM sp e1 " +
      "JOIN sp e2 ON e1.b_id = e2.a_id " +
      "JOIN sp e3 ON e1.a_id = e3.a_id AND e2.b_id = e3.b_id"),
    "q_g10_cohesion" -> (simhashPairsSql
      .replaceFirst("WITH ", "WITH RECURSIVE ") +
      // components over the simhash graph (the oracleSqlD9 reach pattern),
      // then per-component edge density and mean verified Hamming
      ", edges AS (SELECT a_id, b_id FROM sp UNION SELECT b_id, a_id FROM sp), " +
      "reach(id, lbl) AS (SELECT a_id AS id, a_id AS lbl FROM edges " +
      "UNION SELECT e.a_id, r.lbl FROM edges e JOIN reach r ON e.b_id = r.id), " +
      "comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id), " +
      "m AS (SELECT component, CAST(count(1) AS BIGINT) AS n_members FROM comp GROUP BY 1), " +
      "eh AS (SELECT c.component, CAST(count(1) AS BIGINT) AS n_edges, " +
      "CAST(sum(bit_count(xor(x.simhash, y.simhash))) AS BIGINT) AS hs, " +
      "CAST(sum(CASE WHEN bit_count(xor(x.simhash, y.simhash)) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS exact_edges " +
      "FROM sp JOIN comp c ON c.id = sp.a_id " +
      "JOIN sh x ON x.doc_id = sp.a_id JOIN sh y ON y.doc_id = sp.b_id GROUP BY 1) " +
      "SELECT eh.component, m.n_members, eh.n_edges, eh.exact_edges, " +
      "CAST((2 * n_edges * 1000) // (n_members * (n_members - 1)) AS BIGINT) AS density_pm, " +
      "CAST((hs * 100) // n_edges AS BIGINT) AS mean_ham_c " +
      "FROM eh JOIN m USING (component) ORDER BY component"),
    "q_g5_clustering_coeff" -> (simhashPairsSql +
      // 3·triangles / Σ deg·(deg−1)/2 in integer e4: (6T·10000) DIV t2
      ", dg AS (SELECT id, count(1) AS deg FROM " +
      "(SELECT a_id AS id FROM sp UNION ALL SELECT b_id FROM sp) t GROUP BY id), " +
      "t2 AS (SELECT sum(deg * (deg - 1)) AS t2 FROM dg), " +
      "tri AS (SELECT count(1) AS triangles FROM sp e1 " +
      "JOIN sp e2 ON e1.b_id = e2.a_id " +
      "JOIN sp e3 ON e1.a_id = e3.a_id AND e2.b_id = e3.b_id) " +
      "SELECT CAST(triangles AS BIGINT) AS triangles, " +
      "CAST(t2 // 2 AS BIGINT) AS triads, " +
      "CAST(CASE WHEN t2 = 0 THEN 0 ELSE (triangles * 6 * 10000) // t2 END AS BIGINT) AS coeff_e4 " +
      "FROM tri, t2"),
    "q_g4_pagerank" -> (simhashPairsSql +
      // fixed-iteration integer power method (micro-units, floor-div
      // contributions) — chained CTEs, one per iteration, replaying
      // Dedup.qG4's recurrence exactly
      ", ed AS (SELECT a_id AS s, b_id AS t FROM sp UNION ALL SELECT b_id, a_id FROM sp), " +
      "dg AS (SELECT s, count(1) AS deg FROM ed GROUP BY s), " +
      "r0 AS (SELECT s AS id, CAST(1000000 AS BIGINT) AS r FROM dg)" +
      (1 to graft.operators.Dedup.PageRankIters).map { i =>
        s", r$i AS (SELECT e.t AS id, 150000 + (85 * sum(r.r // d.deg)) // 100 AS r " +
          s"FROM ed e JOIN r${i - 1} r ON e.s = r.id JOIN dg d ON d.s = e.s GROUP BY e.t)"
      }.mkString +
      s" SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_e6 " +
      s"FROM r${graft.operators.Dedup.PageRankIters} ORDER BY doc_id"),
    "q_d18_substr_removal" -> (
      // a token position is removed iff covered by a duplicated 8-gram
      // occurrence (corpus-wide count >= 2); coverage = distinct positions
      "WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents), " +
        "tk AS (SELECT doc_id, len(w) AS n, w FROM t), " +
        "g AS (SELECT doc_id, i, array_to_string(w[i:i+7], ' ') AS gram " +
        "FROM tk, unnest(generate_series(1, greatest(n - 7, 0))) AS s(i)), " +
        "dup AS (SELECT gram FROM g GROUP BY gram HAVING count(1) >= 2), " +
        "cov AS (SELECT doc_id, count(DISTINCT p) AS covered FROM " +
        "(SELECT g.doc_id, unnest(generate_series(g.i, g.i + 7)) AS p " +
        "FROM g JOIN dup USING (gram)) q GROUP BY doc_id) " +
        "SELECT tk.doc_id, CAST(n AS BIGINT) AS n_tokens, " +
        "CAST(coalesce(covered, 0) AS BIGINT) AS covered, " +
        "CAST(((n - coalesce(covered, 0)) * 1000) // n AS BIGINT) AS kept_pm " +
        "FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id ORDER BY tk.doc_id"),
    "q_d20_lsh_plan" -> (
      // the S-curve 1-(1-s^r)^b as explicit left-assoc multiplications
      // (no pow), floored to ppm per pair, integers summed after that
      "WITH ws AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS w " +
        "FROM documents WHERE doc_id < 100), " +
        "pj AS (SELECT (len(list_intersect(a.w, b.w)) * 10000) // " +
        "len(list_distinct(list_concat(a.w, b.w))) AS jac4 " +
        "FROM ws a JOIN ws b ON a.doc_id < b.doc_id), " +
        "pv AS (SELECT jac4, CAST(jac4 AS DOUBLE) / 10000.0 AS s FROM pj), " +
        "pp AS (SELECT jac4, " +
        "CAST(FLOOR((1.0 - ((1.0 - (s * s * s * s)))) * 1000000.0) AS BIGINT) AS p14, " +
        "CAST(FLOOR((1.0 - ((1.0 - (s * s)) * (1.0 - (s * s)))) * 1000000.0) AS BIGINT) AS p22, " +
        "CAST(FLOOR((1.0 - ((1.0 - (s)) * (1.0 - (s)) * (1.0 - (s)) * (1.0 - (s)))) * 1000000.0) AS BIGINT) AS p41 " +
        "FROM pv), " +
        "c AS (SELECT CAST(sum(CASE WHEN jac4 >= 7000 THEN 1 ELSE 0 END) AS BIGINT) AS nt, " +
        "CAST(sum(CASE WHEN jac4 < 7000 THEN 1 ELSE 0 END) AS BIGINT) AS nf, " +
        "CAST(sum(CASE WHEN jac4 >= 7000 THEN p14 ELSE 0 END) AS BIGINT) AS t14, " +
        "CAST(sum(CASE WHEN jac4 < 7000 THEN p14 ELSE 0 END) AS BIGINT) AS f14, " +
        "CAST(sum(CASE WHEN jac4 >= 7000 THEN p22 ELSE 0 END) AS BIGINT) AS t22, " +
        "CAST(sum(CASE WHEN jac4 < 7000 THEN p22 ELSE 0 END) AS BIGINT) AS f22, " +
        "CAST(sum(CASE WHEN jac4 >= 7000 THEN p41 ELSE 0 END) AS BIGINT) AS t41, " +
        "CAST(sum(CASE WHEN jac4 < 7000 THEN p41 ELSE 0 END) AS BIGINT) AS f41 FROM pp) " +
        "SELECT * FROM (" +
        "SELECT CAST(1 AS BIGINT) AS bands, CAST(4 AS BIGINT) AS rows_per_band, nt AS n_target, nf AS n_other, " +
        "t14 // NULLIF(nt, 0) AS recall_ppm, f14 // NULLIF(nf, 0) AS false_cand_ppm FROM c " +
        "UNION ALL SELECT 2, 2, nt, nf, t22 // NULLIF(nt, 0), f22 // NULLIF(nf, 0) FROM c " +
        "UNION ALL SELECT 4, 1, nt, nf, t41 // NULLIF(nt, 0), f41 // NULLIF(nf, 0) FROM c) " +
        "ORDER BY bands"),
    "q_d19_substr_clean" -> (
      // the q_d18 coverage machinery APPLIED: kept positions (not covered
      // by any duplicated 8-gram occurrence) re-joined in order
      "WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents), " +
        "tk AS (SELECT doc_id, len(w) AS n, w FROM t), " +
        "g AS (SELECT doc_id, i, array_to_string(w[i:i+7], ' ') AS gram " +
        "FROM tk, unnest(generate_series(1, greatest(n - 7, 0))) AS s(i)), " +
        "dup AS (SELECT gram FROM g GROUP BY gram HAVING count(1) >= 2), " +
        "cp AS (SELECT DISTINCT doc_id, p FROM " +
        "(SELECT g.doc_id, unnest(generate_series(g.i, g.i + 7)) AS p " +
        "FROM g JOIN dup USING (gram)) q), " +
        "pos AS (SELECT doc_id, n, w, unnest(generate_series(1, n)) AS i FROM tk), " +
        "kept AS (SELECT pos.doc_id, pos.i, pos.w[pos.i] AS tok FROM pos " +
        "LEFT JOIN cp ON cp.doc_id = pos.doc_id AND cp.p = pos.i WHERE cp.p IS NULL), " +
        "agg AS (SELECT doc_id, CAST(count(1) AS BIGINT) AS cnt, " +
        "string_agg(tok, ' ' ORDER BY i) AS txt FROM kept GROUP BY doc_id) " +
        "SELECT tk.doc_id, CAST(tk.n AS BIGINT) AS n_tokens, " +
        "coalesce(agg.cnt, 0) AS n_kept, coalesce(agg.txt, '') AS clean_text " +
        "FROM tk LEFT JOIN agg ON tk.doc_id = agg.doc_id ORDER BY tk.doc_id"),
    "q_g6_label_prop" -> (simhashPairsSql +
      // fixed-round synchronous label propagation: label(i+1) = the neighbor
      // label maximizing (count, −label) — chained CTEs, one per round,
      // replaying Dedup.qG6's recurrence exactly (the q_g4 pattern)
      ", ed AS (SELECT a_id AS s, b_id AS t FROM sp UNION ALL SELECT b_id, a_id FROM sp), " +
      "l0 AS (SELECT DISTINCT s AS id, s AS lbl FROM ed)" +
      (1 to graft.operators.Dedup.LabelPropIters).map { i =>
        s", c$i AS (SELECT e.s AS id, l.lbl, count(1) AS c " +
          s"FROM ed e JOIN l${i - 1} l ON e.t = l.id GROUP BY 1, 2), " +
          s"l$i AS (SELECT id, lbl FROM (SELECT id, lbl, row_number() OVER " +
          s"(PARTITION BY id ORDER BY c DESC, lbl) AS rn FROM c$i) t WHERE rn = 1)"
      }.mkString +
      s" SELECT id AS doc_id, CAST(lbl AS BIGINT) AS community " +
      s"FROM l${graft.operators.Dedup.LabelPropIters} ORDER BY doc_id"),
    "q_g7_kcore" -> kcoreOracleSql(2),
    "q_g8_kcore3" -> kcoreOracleSql(3),
    "q_g9_ktruss" -> ktrussOracleSql(3),
    // DuckDB needs RECURSIVE on the WITH clause for the reach() CTE
    "q_t18_cluster_split" -> (simhashPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ") +
      // components over the simhash pair graph (recursive min-reachable,
      // the oracleSqlD9 pattern), singletons = themselves; both routings'
      // split thresholds are qT15's md5-prefix bands; edge-leak counters
      // attribute each edge to its a-endpoint's CLUSTER-routed split
      ", edges AS (SELECT a_id, b_id FROM sp UNION SELECT b_id, a_id FROM sp), " +
      "reach(id, lbl) AS (SELECT a_id AS id, a_id AS lbl FROM edges " +
      "UNION SELECT e.a_id, r.lbl FROM edges e JOIN reach r ON e.b_id = r.id), " +
      "comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id), " +
      "asg AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component " +
      "FROM documents d LEFT JOIN comp c ON d.doc_id = c.id), " +
      "rt AS (SELECT doc_id, component, CASE " +
      "WHEN substr(md5(CAST(component AS VARCHAR)), 1, 2) < 'e6' THEN 'train' " +
      "WHEN substr(md5(CAST(component AS VARCHAR)), 1, 2) < 'f3' THEN 'val' " +
      "ELSE 'test' END AS split FROM asg), " +
      "hsp AS (SELECT doc_id, CASE " +
      "WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train' " +
      "WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val' " +
      "ELSE 'test' END AS split FROM documents), " +
      "ec AS (SELECT ra.split, " +
      "CAST(sum(CASE WHEN ra.split <> rb.split THEN 1 ELSE 0 END) AS BIGINT) AS ce, " +
      "CAST(sum(CASE WHEN ha.split <> hb.split THEN 1 ELSE 0 END) AS BIGINT) AS he " +
      "FROM sp JOIN rt ra ON sp.a_id = ra.doc_id JOIN rt rb ON sp.b_id = rb.doc_id " +
      "JOIN hsp ha ON sp.a_id = ha.doc_id JOIN hsp hb ON sp.b_id = hb.doc_id " +
      "GROUP BY ra.split), " +
      "tot AS (SELECT count(1) AS n FROM asg), " +
      "base AS (SELECT split, count(1) AS n_docs, " +
      "count(DISTINCT component) AS n_clusters FROM rt GROUP BY split) " +
      "SELECT b.split, b.n_docs, CAST(b.n_clusters AS BIGINT) AS n_clusters, " +
      "CAST((b.n_docs * 1000) // tot.n AS BIGINT) AS share_pm, " +
      "coalesce(ec.ce, 0) AS cross_edges, coalesce(ec.he, 0) AS hash_cross_edges " +
      "FROM base b CROSS JOIN tot LEFT JOIN ec ON b.split = ec.split ORDER BY b.split"),
    "q_t19_keep_canonical" -> (simhashPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ") +
      // the q_g4 integer pagerank chain + the component CTE over the SAME
      // graph; survivor = max rank, tiebreak min id — both total orders
      ", ed AS (SELECT a_id AS s, b_id AS t FROM sp UNION ALL SELECT b_id, a_id FROM sp), " +
      "dg AS (SELECT s, count(1) AS deg FROM ed GROUP BY s), " +
      "r0 AS (SELECT s AS id, CAST(1000000 AS BIGINT) AS r FROM dg)" +
      (1 to graft.operators.Dedup.PageRankIters).map { i =>
        s", r$i AS (SELECT e.t AS id, 150000 + (85 * sum(r.r // d.deg)) // 100 AS r " +
          s"FROM ed e JOIN r${i - 1} r ON e.s = r.id JOIN dg d ON d.s = e.s GROUP BY e.t)"
      }.mkString +
      ", edges AS (SELECT a_id, b_id FROM sp UNION SELECT b_id, a_id FROM sp), " +
      "reach(id, lbl) AS (SELECT a_id AS id, a_id AS lbl FROM edges " +
      "UNION SELECT e.a_id, r.lbl FROM edges e JOIN reach r ON e.b_id = r.id), " +
      "comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id), " +
      "cs AS (SELECT component, count(1) AS csize FROM comp GROUP BY component), " +
      "mem AS (SELECT c.id, c.component, cs.csize, rr.r AS rank_e6 " +
      "FROM comp c JOIN cs ON c.component = cs.component " +
      s"JOIN r${graft.operators.Dedup.PageRankIters} rr ON rr.id = c.id), " +
      "pick AS (SELECT component, id, csize, rank_e6, row_number() OVER " +
      "(PARTITION BY component ORDER BY rank_e6 DESC, id) AS rn FROM mem) " +
      "SELECT component, id AS survivor_id, CAST(csize AS BIGINT) AS csize, " +
      "CAST(rank_e6 AS BIGINT) AS rank_e6 FROM pick WHERE rn = 1 ORDER BY component"),
    "q_t39_safe_keep" -> (gatedPickSql +
      // the gated keeper's survivors: one row per (component, group) with
      // the collapse mode and group size — replays qT39 exactly
      ", gs AS (SELECT component, group_id, count(1) AS gsize FROM grp GROUP BY 1, 2) " +
      "SELECT p.component, p.mode, CAST(p.group_id AS BIGINT) AS group_id, " +
      "p.id AS survivor_id, CAST(gs.gsize AS BIGINT) AS gsize, " +
      "CAST(p.rank_e6 AS BIGINT) AS rank_e6 " +
      "FROM pick p JOIN gs USING (component, group_id) WHERE p.rn = 1 " +
      "ORDER BY p.component, p.group_id"),
    "q_t26_dedup_mix" -> (gatedPickSql +
      // the gated keeper inverted: DROPPED = non-survivors per collapse
      // group; per-language doc/token mass before vs after exclusion
      ", dropd AS (SELECT id FROM pick WHERE rn > 1), " +
      "d AS (SELECT doc_id, lang, " +
      "len(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS ntok FROM documents), " +
      "bef AS (SELECT lang, count(1) AS docs_before, sum(ntok) AS tokens_before FROM d GROUP BY lang), " +
      "aft AS (SELECT lang, count(1) AS docs_after, sum(ntok) AS tokens_after FROM d " +
      "WHERE doc_id NOT IN (SELECT id FROM dropd) GROUP BY lang) " +
      "SELECT b.lang, CAST(docs_before AS BIGINT) AS docs_before, " +
      "CAST(coalesce(docs_after, 0) AS BIGINT) AS docs_after, " +
      "CAST(tokens_before AS BIGINT) AS tokens_before, " +
      "CAST(coalesce(tokens_after, 0) AS BIGINT) AS tokens_after, " +
      "CAST((coalesce(docs_after, 0) * 1000) // docs_before AS BIGINT) AS kept_docs_pm, " +
      "CAST(CASE WHEN tokens_before = 0 THEN 1000 " +
      "ELSE (coalesce(tokens_after, 0) * 1000) // tokens_before END AS BIGINT) AS kept_tokens_pm " +
      "FROM bef b LEFT JOIN aft a ON b.lang = a.lang ORDER BY b.lang"),
    "q_t20_unigram_ll" -> (
      // unigram-LM score with integer floor-log2 (length(bin(c))-1) per
      // token — the engine-exact surrogate for log-likelihood; sums CAST
      // to BIGINT (DuckDB widens sum(BIGINT) to HUGEINT)
      "WITH tf AS (SELECT doc_id, w, count(1) AS tf FROM " +
        "(SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents) t " +
        "WHERE w <> '' GROUP BY doc_id, w), " +
        "uni AS (SELECT w, length(bin(CAST(sum(tf) AS BIGINT))) - 1 AS bits " +
        "FROM tf GROUP BY w) " +
        "SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens, " +
        "CAST((sum(tf.tf * uni.bits) * 1000) // sum(tf.tf) AS BIGINT) AS ll_pm " +
        "FROM tf JOIN uni USING (w) GROUP BY tf.doc_id ORDER BY doc_id"),
    "q_t29_bigram_ll" -> (
      // bigram-LM score: adjacency over the ""-filtered token list, bits
      // = floor-log2((c12*1024) DIV c1) with c1 = w1's left-element count
      // (sums CAST to BIGINT for DuckDB's HUGEINT widening)
      "WITH tk AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks FROM documents), " +
        "bgu AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS i, toks FROM tk WHERE len(toks) >= 2), " +
        "bg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2, count(1) AS tf FROM bgu GROUP BY 1, 2, 3), " +
        "big AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2), " +
        "unil AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM big GROUP BY 1), " +
        "bits AS (SELECT b.w1, b.w2, length(bin((b.c12 * 1024) // u.c1)) - 1 AS bits " +
        "FROM big b JOIN unil u USING (w1)) " +
        "SELECT bg.doc_id, CAST(sum(bg.tf) AS BIGINT) AS n_pairs, " +
        "CAST((sum(bg.tf * bits.bits) * 1000) // sum(bg.tf) AS BIGINT) AS bll_pm " +
        "FROM bg JOIN bits ON bg.w1 = bits.w1 AND bg.w2 = bits.w2 " +
        "GROUP BY bg.doc_id ORDER BY doc_id"),
    "q_t25_token_spectrum" -> (
      // frequency spectrum binned by floor-log2(tf) — the q_t20
      // length(bin(c))-1 idiom; shares integer per-mille vs 1-row totals
      "WITH tf AS (SELECT w, CAST(count(1) AS BIGINT) AS c FROM " +
        "(SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents) t " +
        "WHERE w <> '' GROUP BY w), " +
        "b AS (SELECT CAST(length(bin(c)) - 1 AS BIGINT) AS bin, " +
        "CAST(count(1) AS BIGINT) AS n_types, CAST(sum(c) AS BIGINT) AS occ_mass " +
        "FROM tf GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n_types) AS BIGINT) AS vocab, CAST(sum(occ_mass) AS BIGINT) AS total FROM b) " +
        "SELECT bin, n_types, occ_mass, " +
        "CAST((n_types * 1000) // vocab AS BIGINT) AS type_pm, " +
        "CAST((occ_mass * 1000) // total AS BIGINT) AS mass_pm " +
        "FROM b, tot ORDER BY bin"),
    "q_t21_bm25" -> (
      // Okapi BM25 with k1=6/5, b=3/4 in exact rational form (see the
      // qT21 scaladoc for the algebra); query = the 3 terms with df
      // closest to N/2. DuckDB `//` = Spark DIV; sums CAST to BIGINT.
      "WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents), " +
        "tf AS (SELECT doc_id, w, CAST(count(1) AS BIGINT) AS tf FROM tok WHERE w <> '' GROUP BY doc_id, w), " +
        "dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id), " +
        "tot AS (SELECT CAST(sum(dl) AS BIGINT) AS t, CAST(count(1) AS BIGINT) AS n FROM dl), " +
        "dfreq AS (SELECT w, CAST(count(1) AS BIGINT) AS df FROM tf GROUP BY w), " +
        "qt AS (SELECT w, df FROM dfreq, tot ORDER BY abs(2 * df - n), w LIMIT 3), " +
        "sc AS (SELECT tf.doc_id, " +
        "((2 * (n - df) + 1) * 1000) // (2 * df + 1) AS idf_s, " +
        "(22000 * tf * t) // (10 * tf * t + 3 * t + 9 * dl.dl * n) AS tfpart " +
        "FROM tf JOIN qt USING (w) JOIN dl USING (doc_id), tot) " +
        "SELECT doc_id, CAST(count(1) AS BIGINT) AS n_hit, " +
        "CAST(sum(idf_s * tfpart) AS BIGINT) AS bm25_s " +
        "FROM sc GROUP BY doc_id ORDER BY bm25_s DESC, doc_id LIMIT 20"),
    "q_t41_bm25_query" -> (
      // user-supplied-query BM25: the q_t21 integer formula scored for
      // each FIXTURE query's distinct in-vocabulary terms (OOV terms match
      // no tf rows and drop out — the skip path); per-query top-20 with
      // rank by (bm25_s desc, doc_id)
      "WITH q AS (SELECT * FROM (VALUES " +
      graft.operators.TextAnalysis.Bm25FixtureQueries
        .map { case (id, t) => s"($id, '$t')" }.mkString(", ") +
      ") t(query_id, qw)), " +
        "qt AS (SELECT query_id, unnest(list_distinct(string_split(qw, ' '))) AS w FROM q), " +
        "tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents), " +
        "tf AS (SELECT doc_id, w, CAST(count(1) AS BIGINT) AS tf FROM tok WHERE w <> '' GROUP BY doc_id, w), " +
        "dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id), " +
        "tot AS (SELECT CAST(sum(dl) AS BIGINT) AS t, CAST(count(1) AS BIGINT) AS n FROM dl), " +
        "dfreq AS (SELECT w, CAST(count(1) AS BIGINT) AS df FROM tf GROUP BY w), " +
        "sc AS (SELECT qt.query_id, tf.doc_id, " +
        "((2 * (n - df) + 1) * 1000) // (2 * df + 1) AS idf_s, " +
        "(22000 * tf * t) // (10 * tf * t + 3 * t + 9 * dl.dl * n) AS tfpart " +
        "FROM tf JOIN dfreq USING (w) JOIN qt USING (w) JOIN dl USING (doc_id), tot), " +
        "ag AS (SELECT query_id, doc_id, CAST(count(1) AS BIGINT) AS n_hit, " +
        "CAST(sum(idf_s * tfpart) AS BIGINT) AS bm25_s FROM sc GROUP BY 1, 2), " +
        "rk AS (SELECT query_id, doc_id, n_hit, bm25_s, row_number() OVER " +
        "(PARTITION BY query_id ORDER BY bm25_s DESC, doc_id) AS rank FROM ag) " +
        "SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, n_hit, bm25_s, " +
        "CAST(rank AS BIGINT) AS rank FROM rk WHERE rank <= 20 " +
        "ORDER BY query_id, rank"),
    "q_t22_mix_weights" -> (
      "WITH pl AS (SELECT lang, CAST(count(1) AS BIGINT) AS n_docs, " +
        "CAST(sum(len(list_filter(string_split(lower(text), ' '), w -> w <> ''))) AS BIGINT) AS tokens " +
        "FROM documents GROUP BY lang), " +
        "tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS t, CAST(count(1) AS BIGINT) AS l FROM pl) " +
        "SELECT lang, n_docs, tokens, (tokens * 1000) // t AS share_pm, " +
        "(t * 1000) // (l * tokens) AS weight_pm " +
        "FROM pl, tot ORDER BY lang"),
    "q_t27_temperature_mix" -> (
      // alpha = 1/2 temperature resampling: pow(x, 0.5) is IEEE sqrt,
      // correctly rounded in both engines, so floor(sqrt(tokens)) is
      // bit-stable where a general pow(tokens, alpha) is not
      "WITH pl AS (SELECT lang, " +
        "CAST(sum(len(list_filter(string_split(lower(text), ' '), w -> w <> ''))) AS BIGINT) AS tokens " +
        "FROM documents GROUP BY lang), " +
        "ph AS (SELECT lang, tokens, CAST(floor(sqrt(tokens)) AS BIGINT) AS s_half FROM pl), " +
        "tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS t, CAST(sum(s_half) AS BIGINT) AS sh FROM ph) " +
        ", sh2 AS (SELECT lang, tokens, (tokens * 1000) // t AS share_pm, " +
        "(s_half * 1000) // sh AS tshare_pm FROM ph, tot) " +
        // boost on the per-mille-ROUNDED shares (overflow contract, see
        // TextAnalysis.qT27): intermediates <= 1e6, no s_half*t product
        "SELECT lang, tokens, share_pm, tshare_pm, " +
        "(tshare_pm * 1000) // NULLIF(share_pm, 0) AS boost_pm " +
        "FROM sh2 ORDER BY lang"),
    "q_t32_curation_funnel" -> (
      // sequential-stage attrition: quality -> lang -> dedup-among-
      // survivors (min-doc-id per hash over p2 rows) -> decontam vs the
      // doc_id < 20 eval set; counts unpivoted to one row per stage
      "WITH t AS (SELECT doc_id, text, md5(lower(text)) AS chash, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS w, " +
        "CAST(n_chars AS BIGINT) AS nc, string_split(lower(text), ' ') AS toks " +
        "FROM documents WHERE doc_id >= 20), " +
        "h AS (SELECT doc_id, text, chash, w, nc, " +
        "len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it'))) AS en_hits, " +
        "len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un'))) AS es_hits, " +
        "len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein'))) AS de_hits, " +
        "len(list_filter(toks, x -> x IN ('le','la','de','et','un','une','est'))) AS fr_hits FROM t), " +
        "s AS (SELECT doc_id, chash, " +
        "(20000 * (5 * least(w, 100) * w + 300 * en_hits + 20 * least(nc, 10 * w)) + 1000 * w) " +
        "// (2000 * w) AS q10k, " +
        "CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en' " +
        "WHEN es_hits >= de_hits AND es_hits >= fr_hits AND es_hits > 0 THEN 'es' " +
        "WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de' " +
        "WHEN fr_hits > 0 THEN 'fr' ELSE 'und' END AS lang_pred FROM h), " +
        "p AS (SELECT doc_id, chash, (q10k >= 5000) AS p1, " +
        "(q10k >= 5000 AND lang_pred <> 'und') AS p2 FROM s), " +
        "k AS (SELECT doc_id, p1, p2, (p2 AND doc_id = " +
        "min(CASE WHEN p2 THEN doc_id END) OVER (PARTITION BY chash)) AS p3 FROM p), " +
        "tok2 AS (SELECT doc_id, string_split(lower(text), ' ') AS wt FROM documents), " +
        "ix AS (SELECT doc_id, wt, unnest(generate_series(1, len(wt) - 7)) AS i " +
        "FROM tok2 WHERE len(wt) >= 8), " +
        "g AS (SELECT doc_id, array_to_string(wt[i:i+7], ' ') AS gram FROM ix), " +
        "ev AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20), " +
        "bad AS (SELECT DISTINCT g.doc_id FROM g " +
        "JOIN k ON k.doc_id = g.doc_id AND k.p3 " +
        "WHERE g.gram IN (SELECT gram FROM ev)), " +
        "f AS (SELECT k.*, (k.p3 AND k.doc_id NOT IN (SELECT doc_id FROM bad)) AS p4 FROM k), " +
        "c AS (SELECT CAST(count(1) AS BIGINT) AS n0, " +
        "CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n1, " +
        "CAST(sum(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS n2, " +
        "CAST(sum(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT) AS n3, " +
        "CAST(sum(CASE WHEN p4 THEN 1 ELSE 0 END) AS BIGINT) AS n4 FROM f), " +
        "u AS (SELECT CAST(1 AS BIGINT) AS stage_id, 'quality' AS stage, n0 AS n_in, n1 AS n_out FROM c " +
        "UNION ALL SELECT 2, 'lang_id', n1, n2 FROM c " +
        "UNION ALL SELECT 3, 'exact_dedup', n2, n3 FROM c " +
        "UNION ALL SELECT 4, 'decontam', n3, n4 FROM c) " +
        "SELECT stage_id, stage, n_in, n_out, " +
        "CAST((n_in - n_out) * 1000 // n_in AS BIGINT) AS drop_pm " +
        "FROM u ORDER BY stage_id"),
    "q_t33_dsir_weights" -> (
      // DSIR importance weights with the integer floor-log2 llr: b10 =
      // len(bin(1024-scaled Laplace ratio)) - 1 stays NON-NEGATIVE through
      // every division (DuckDB // floors, Spark DIV truncates — they only
      // agree >= 0); re-centering by -10 bits is plain subtraction after
      "WITH tf AS (SELECT doc_id, w, count(1) AS tf FROM " +
        "(SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents) t " +
        "WHERE w <> '' GROUP BY doc_id, w), " +
        "ct AS (SELECT w, CAST(sum(tf) AS BIGINT) AS ct FROM tf WHERE doc_id < 20 GROUP BY w), " +
        "cr AS (SELECT w, CAST(sum(tf) AS BIGINT) AS cr FROM tf WHERE doc_id >= 20 GROUP BY w), " +
        "j AS (SELECT coalesce(ct.w, cr.w) AS w, coalesce(ct.ct, 0) AS ct, " +
        "coalesce(cr.cr, 0) AS cr FROM ct FULL JOIN cr ON ct.w = cr.w), " +
        "tot AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS nt, " +
        "CAST(coalesce(sum(cr), 0) AS BIGINT) AS nr, count(1) AS v FROM j), " +
        "llr AS (SELECT w, CAST(length(bin(((ct + 1) * (nr + v) * 1024) // ((cr + 1) * (nt + v)))) - 1 AS BIGINT) AS b10 " +
        "FROM j, tot) " +
        "SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens, " +
        "CAST(sum(tf.tf * llr.b10) - 10 * sum(tf.tf) AS BIGINT) AS dsir_bits, " +
        "CAST((sum(tf.tf * llr.b10) * 1000) // sum(tf.tf) - 10000 AS BIGINT) AS dsir_pm " +
        "FROM tf JOIN llr USING (w) WHERE tf.doc_id >= 20 " +
        "GROUP BY tf.doc_id ORDER BY doc_id"),
    "q_t31_eval_contam" -> (
      // eval-side dirtiness: per eval doc (doc_id < 20), distinct 8-grams,
      // grams found anywhere in training (doc_id >= 20), integer per-mille
      "WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents), " +
        "ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i " +
        "FROM tok WHERE len(w) >= 8), " +
        "g AS (SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram FROM ix), " +
        "ev AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id < 20), " +
        "hit AS (SELECT DISTINCT g.gram FROM g WHERE g.doc_id >= 20 " +
        "AND g.gram IN (SELECT gram FROM ev)) " +
        "SELECT ev.doc_id, CAST(count(1) AS BIGINT) AS n_grams, " +
        "CAST(sum(CASE WHEN hit.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit, " +
        "CAST(sum(CASE WHEN hit.gram IS NOT NULL THEN 1 ELSE 0 END) * 1000 // count(1) AS BIGINT) AS contam_pm " +
        "FROM ev LEFT JOIN hit ON ev.gram = hit.gram " +
        "GROUP BY ev.doc_id ORDER BY ev.doc_id"),
    "q_t30_bpe_apply" -> (
      // q_t28's top-20 merge table applied in rank order: words become
      // " c1 c2 ... cn "; rule "ab" rewrites " a b " -> " ab " via plain
      // literal replace run TWICE (one left-to-right pass leaves only
      // non-adjacent survivors; the second takes them all) — folded over
      // ranks with a recursive CTE, then symbol counts weigh by tf
      "WITH RECURSIVE t AS (SELECT unnest(string_split(lower(text), ' ')) AS w, doc_id FROM documents), " +
        "wf AS (SELECT doc_id, w, CAST(count(1) AS BIGINT) AS tf FROM t WHERE w <> '' GROUP BY 1, 2), " +
        "cw AS (SELECT w, CAST(count(1) AS BIGINT) AS n FROM t WHERE w <> '' GROUP BY w), " +
        "px AS (SELECT n, w, unnest(generate_series(1, length(w) - 1)) AS i FROM cw WHERE length(w) >= 2), " +
        "mt AS (SELECT pair, row_number() OVER (ORDER BY n_occ DESC, pair) AS rk FROM " +
        "(SELECT substring(w, i, 2) AS pair, CAST(sum(n) AS BIGINT) AS n_occ FROM px GROUP BY 1 " +
        "ORDER BY n_occ DESC, pair LIMIT 20) tt), " +
        "vocab AS (SELECT DISTINCT w FROM wf), " +
        "seg(w, s, k) AS (" +
        "SELECT w, ' ' || regexp_replace(w, '(?s)(.)', '\\1 ', 'g'), 0 FROM vocab " +
        "UNION ALL " +
        "SELECT seg.w, replace(replace(seg.s, " +
        "' ' || substring(mt.pair, 1, 1) || ' ' || substring(mt.pair, 2, 1) || ' ', ' ' || mt.pair || ' '), " +
        "' ' || substring(mt.pair, 1, 1) || ' ' || substring(mt.pair, 2, 1) || ' ', ' ' || mt.pair || ' '), seg.k + 1 " +
        "FROM seg JOIN mt ON mt.rk = seg.k + 1), " +
        "sw AS (SELECT w, CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_sym FROM seg WHERE k = 20) " +
        "SELECT wf.doc_id, CAST(sum(wf.tf) AS BIGINT) AS n_words, " +
        "CAST(sum(wf.tf * sw.n_sym) AS BIGINT) AS n_bpe, " +
        "CAST(sum(wf.tf * sw.n_sym) * 1000 // sum(wf.tf) AS BIGINT) AS bpe_pm " +
        "FROM wf JOIN sw USING (w) GROUP BY wf.doc_id ORDER BY doc_id"),
    "q_t34_fertility" -> (
      // q_t30's BPE segmentation (recursive-CTE merge fold) rolled up by
      // q_t1's predicted language: fertility = BPE symbols per word x1000
      "WITH RECURSIVE t AS (SELECT unnest(string_split(lower(text), ' ')) AS w, doc_id FROM documents), " +
        "wf AS (SELECT doc_id, w, CAST(count(1) AS BIGINT) AS tf FROM t WHERE w <> '' GROUP BY 1, 2), " +
        "cw AS (SELECT w, CAST(count(1) AS BIGINT) AS n FROM t WHERE w <> '' GROUP BY w), " +
        "px AS (SELECT n, w, unnest(generate_series(1, length(w) - 1)) AS i FROM cw WHERE length(w) >= 2), " +
        "mt AS (SELECT pair, row_number() OVER (ORDER BY n_occ DESC, pair) AS rk FROM " +
        "(SELECT substring(w, i, 2) AS pair, CAST(sum(n) AS BIGINT) AS n_occ FROM px GROUP BY 1 " +
        "ORDER BY n_occ DESC, pair LIMIT 20) tt), " +
        "vocab AS (SELECT DISTINCT w FROM wf), " +
        "seg(w, s, k) AS (" +
        "SELECT w, ' ' || regexp_replace(w, '(?s)(.)', '\\1 ', 'g'), 0 FROM vocab " +
        "UNION ALL " +
        "SELECT seg.w, replace(replace(seg.s, " +
        "' ' || substring(mt.pair, 1, 1) || ' ' || substring(mt.pair, 2, 1) || ' ', ' ' || mt.pair || ' '), " +
        "' ' || substring(mt.pair, 1, 1) || ' ' || substring(mt.pair, 2, 1) || ' ', ' ' || mt.pair || ' '), seg.k + 1 " +
        "FROM seg JOIN mt ON mt.rk = seg.k + 1), " +
        "sw AS (SELECT w, CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_sym FROM seg WHERE k = 20), " +
        "pd AS (SELECT wf.doc_id, CAST(sum(wf.tf) AS BIGINT) AS nw, " +
        "CAST(sum(wf.tf * sw.n_sym) AS BIGINT) AS nb FROM wf JOIN sw USING (w) GROUP BY wf.doc_id), " +
        "hh AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents), " +
        "l AS (SELECT doc_id, CASE " +
        "WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en' " +
        "WHEN es_hits >= de_hits AND es_hits >= fr_hits AND es_hits > 0 THEN 'es' " +
        "WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de' " +
        "WHEN fr_hits > 0 THEN 'fr' ELSE 'und' END AS lang_pred FROM " +
        "(SELECT doc_id, " +
        "len(list_filter(toks, w -> w IN ('the','a','of','and','to','in','is','it'))) AS en_hits, " +
        "len(list_filter(toks, w -> w IN ('el','la','de','que','y','en','un'))) AS es_hits, " +
        "len(list_filter(toks, w -> w IN ('der','die','das','und','ist','ein'))) AS de_hits, " +
        "len(list_filter(toks, w -> w IN ('le','la','de','et','un','une','est'))) AS fr_hits FROM hh) x) " +
        "SELECT l.lang_pred, CAST(count(1) AS BIGINT) AS n_docs, " +
        "CAST(sum(pd.nw) AS BIGINT) AS n_words, CAST(sum(pd.nb) AS BIGINT) AS n_bpe, " +
        "CAST(sum(pd.nb) * 1000 // sum(pd.nw) AS BIGINT) AS fert_pm " +
        "FROM pd JOIN l USING (doc_id) GROUP BY 1 ORDER BY lang_pred"),
    "q_t28_bpe_merges" -> (
      // one BPE merge round over the word-frequency table: adjacent char
      // pairs weighted by word count, top-20 by (mass desc, pair asc);
      // words under 2 chars carry no pair (both sides filter them)
      "WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents), " +
        "wf AS (SELECT w, CAST(count(1) AS BIGINT) AS n FROM t WHERE w <> '' GROUP BY w), " +
        "px AS (SELECT n, w, unnest(generate_series(1, length(w) - 1)) AS i " +
        "FROM wf WHERE length(w) >= 2) " +
        "SELECT substring(w, i, 2) AS pair, CAST(sum(n) AS BIGINT) AS n_occ " +
        "FROM px GROUP BY 1 ORDER BY n_occ DESC, pair LIMIT 20"),
    "q_t23_rrf_fusion" -> (
      // RRF (k=60) over two top-100 candidate lists: qT2's integer quality
      // composite and qT20's unigram-LM score; absent rank contributes 0
      "WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS w, " +
        "CAST(n_chars AS BIGINT) AS nc, " +
        "len(list_filter(string_split(lower(text), ' '), x -> x IN ('the','a','of','and','to','in','is','it'))) AS h " +
        "FROM documents), " +
        "q AS (SELECT doc_id, (20000 * (5 * least(w, 100) * w + 300 * h + 20 * least(nc, 10 * w)) + 1000 * w) " +
        "// (2000 * w) AS q10k FROM t), " +
        "qr AS (SELECT doc_id, row_number() OVER (ORDER BY q10k DESC, doc_id) AS r_q " +
        "FROM q ORDER BY q10k DESC, doc_id LIMIT 100), " +
        "tf AS (SELECT doc_id, w, count(1) AS tf FROM " +
        "(SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents) x " +
        "WHERE w <> '' GROUP BY doc_id, w), " +
        "uni AS (SELECT w, length(bin(CAST(sum(tf) AS BIGINT))) - 1 AS bits FROM tf GROUP BY w), " +
        "ll AS (SELECT tf.doc_id, CAST((sum(tf.tf * uni.bits) * 1000) // sum(tf.tf) AS BIGINT) AS ll_pm " +
        "FROM tf JOIN uni USING (w) GROUP BY tf.doc_id), " +
        "lr AS (SELECT doc_id, row_number() OVER (ORDER BY ll_pm DESC, doc_id) AS r_l " +
        "FROM ll ORDER BY ll_pm DESC, doc_id LIMIT 100), " +
        "f AS (SELECT coalesce(qr.doc_id, lr.doc_id) AS doc_id, " +
        "CAST(coalesce(r_q, 0) AS BIGINT) AS r_q, CAST(coalesce(r_l, 0) AS BIGINT) AS r_l, " +
        "coalesce(1000000 // (60 + r_q), 0) + coalesce(1000000 // (60 + r_l), 0) AS rrf_s " +
        "FROM qr FULL OUTER JOIN lr ON qr.doc_id = lr.doc_id) " +
        "SELECT doc_id, r_q, r_l, CAST(rrf_s AS BIGINT) AS rrf_s " +
        "FROM f ORDER BY rrf_s DESC, doc_id LIMIT 20"),
    "q_t24_fuzzy_decontam" -> (minhashSigSql +
      // qD4's signature/band CTEs restricted to eval(doc_id<20) × corpus
      // candidates, exact shingle-Jaccard verify in integer permyriad
      ", sig AS (SELECT doc_id, " + minhashMinsSql + " FROM h GROUP BY doc_id), " +
      "bands AS (SELECT doc_id, 1 AS band, m1 || '_' || m2 AS bk FROM sig " +
      "UNION ALL SELECT doc_id, 2, m3 || '_' || m4 FROM sig), " +
      "cand AS (SELECT DISTINCT b.doc_id AS c_id, a.doc_id AS e_id FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < 20 AND b.doc_id >= 20), " +
      "gs AS (SELECT doc_id, list_distinct(list(g)) AS gl FROM grams GROUP BY doc_id), " +
      "j AS (SELECT c.c_id AS doc_id, c.e_id, " +
      "(CAST(len(list_intersect(x.gl, y.gl)) AS BIGINT) * 10000) // len(list_distinct(list_concat(x.gl, y.gl))) AS jac_e4 " +
      "FROM cand c JOIN gs x ON c.c_id = x.doc_id JOIN gs y ON c.e_id = y.doc_id) " +
      "SELECT doc_id, CAST(count(1) AS BIGINT) AS n_eval_hits, CAST(max(jac_e4) AS BIGINT) AS max_jac_e4, " +
      "CAST(CASE WHEN max(jac_e4) >= 2000 THEN 1 ELSE 0 END AS BIGINT) AS flagged " +
      "FROM j GROUP BY doc_id ORDER BY doc_id"),
    "q_t38_eval_report" -> (
      // all three decontam legs per EVAL doc: t31's exact grams, t24's
      // fuzzy chain rolled up by e_id, t35's semantic cosine — composed
      // from the SAME CTE chains as the single-leg oracles
      minhashSigSql +
        ", sig AS (SELECT doc_id, " + minhashMinsSql + " FROM h GROUP BY doc_id), " +
        "bands AS (SELECT doc_id, 1 AS band, m1 || '_' || m2 AS bk FROM sig " +
        "UNION ALL SELECT doc_id, 2, m3 || '_' || m4 FROM sig), " +
        "cand AS (SELECT DISTINCT b.doc_id AS c_id, a.doc_id AS e_id FROM bands a " +
        "JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < 20 AND b.doc_id >= 20), " +
        "gs AS (SELECT doc_id, list_distinct(list(g)) AS gl FROM grams GROUP BY doc_id), " +
        "j AS (SELECT c.c_id AS doc_id, c.e_id, " +
        "(CAST(len(list_intersect(x.gl, y.gl)) AS BIGINT) * 10000) // len(list_distinct(list_concat(x.gl, y.gl))) AS jac_e4 " +
        "FROM cand c JOIN gs x ON c.c_id = x.doc_id JOIN gs y ON c.e_id = y.doc_id), " +
        "fz AS (SELECT e_id AS q_id, CAST(count(1) AS BIGINT) AS n_fuzzy, " +
        "CAST(max(jac_e4) AS BIGINT) AS max_jac_e4 FROM j GROUP BY e_id), " +
        "tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents), " +
        "ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i " +
        "FROM tok WHERE len(w) >= 8), " +
        "gg AS (SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram FROM ix), " +
        "ev AS (SELECT DISTINCT doc_id, gram FROM gg WHERE doc_id < 20), " +
        "hit AS (SELECT DISTINCT gg.gram FROM gg WHERE gg.doc_id >= 20 " +
        "AND gg.gram IN (SELECT gram FROM ev)), " +
        "ex AS (SELECT ev.doc_id AS q_id, " +
        "CAST(sum(CASE WHEN hit.gram IS NOT NULL THEN 1 ELSE 0 END) * 1000 // count(1) AS BIGINT) AS exact_pm " +
        "FROM ev LEFT JOIN hit ON ev.gram = hit.gram GROUP BY ev.doc_id), " +
        "p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.embedding AS ea, b.embedding AS eb " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < 20 AND b.vec_id >= 20), " +
        cosineSumSql +
        ", r AS (SELECT a_id AS q_id, dot/(sqrt(na)*sqrt(nb)) AS sim_raw, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS rank FROM s), " +
        "sm AS (SELECT q_id, ROUND(sim_raw, 4) AS sem_sim, " +
        "CAST(CASE WHEN ROUND(sim_raw, 4) >= 0.995 THEN 1 ELSE 0 END AS BIGINT) AS semantic " +
        "FROM r WHERE rank = 1), " +
        // base = the EVAL DOCUMENT SET (not the semantic leg): an eval doc
        // without an embeddings row still reports, sem leg coalesced clean
        "eb AS (SELECT doc_id AS q_id FROM documents WHERE doc_id < 20) " +
        "SELECT eb.q_id, CAST(coalesce(ex.exact_pm, 0) AS BIGINT) AS exact_pm, " +
        "CAST(coalesce(fz.n_fuzzy, 0) AS BIGINT) AS n_fuzzy, " +
        "CAST(coalesce(fz.max_jac_e4, 0) AS BIGINT) AS max_jac_e4, " +
        "CAST(CASE WHEN coalesce(fz.max_jac_e4, 0) >= 2000 THEN 1 ELSE 0 END AS BIGINT) AS fuzzy, " +
        "coalesce(sm.sem_sim, 0.0) AS sem_sim, " +
        "CAST(coalesce(sm.semantic, 0) AS BIGINT) AS semantic, " +
        "CAST(CASE WHEN coalesce(ex.exact_pm, 0) = 0 AND coalesce(fz.max_jac_e4, 0) < 2000 " +
        "AND coalesce(sm.semantic, 0) = 0 THEN 1 ELSE 0 END AS BIGINT) AS clean " +
        "FROM eb LEFT JOIN sm ON sm.q_id = eb.q_id " +
        "LEFT JOIN ex ON ex.q_id = eb.q_id " +
        "LEFT JOIN fz ON fz.q_id = eb.q_id ORDER BY eb.q_id"),
    "q_t6_stratified_sample" -> (
      "SELECT lang, doc_id FROM (SELECT lang, doc_id, " +
        "row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn " +
        "FROM documents) t WHERE rn <= 20 ORDER BY lang, doc_id"),
    "q_t7_normalize" -> (
      // DuckDB regexp_replace replaces the FIRST match by default — 'g'
      // makes it global like Spark's
      "WITH n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text), " +
        "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm FROM documents) " +
        "SELECT doc_id, CAST(length(norm) AS BIGINT) AS n_norm, " +
        "('0x' || substr(md5(norm), 1, 8))::BIGINT AS h32 FROM n ORDER BY doc_id"),
    "q_x4_term_freq" -> (
      "SELECT w, count(1) AS c FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents) t " +
        "WHERE w <> '' GROUP BY w ORDER BY c DESC, w LIMIT 20"),
    "q_t8_chunk" -> (
      "WITH st AS (SELECT doc_id, text, unnest(generate_series(1, greatest(length(text), 1), 80)) AS s FROM documents), " +
        "c AS (SELECT doc_id, CAST((s - 1) / 80 AS INT) AS chunk_idx, substr(text, CAST(s AS INT), 100) AS chunk FROM st) " +
        "SELECT doc_id, chunk_idx, CAST(length(chunk) AS BIGINT) AS c_len, " +
        "('0x' || substr(md5(chunk), 1, 8))::BIGINT AS c_hash " +
        "FROM c ORDER BY doc_id, chunk_idx"),
    "q_t1_lang_id" -> (
      "WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents), " +
        "h AS (SELECT doc_id, " +
        "len(list_filter(toks, w -> w IN ('the','a','of','and','to','in','is','it'))) AS en_hits, " +
        "len(list_filter(toks, w -> w IN ('el','la','de','que','y','en','un'))) AS es_hits, " +
        "len(list_filter(toks, w -> w IN ('der','die','das','und','ist','ein'))) AS de_hits, " +
        "len(list_filter(toks, w -> w IN ('le','la','de','et','un','une','est'))) AS fr_hits FROM t) " +
        "SELECT doc_id, en_hits, es_hits, de_hits, fr_hits, " +
        "CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en' " +
        "WHEN es_hits >= de_hits AND es_hits >= fr_hits AND es_hits > 0 THEN 'es' " +
        "WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de' " +
        "WHEN fr_hits > 0 THEN 'fr' ELSE 'und' END AS lang_pred FROM h ORDER BY doc_id"),
    "q_t13_lang_confusion" -> (
      // q_t1's classifier joined back to the labeled lang column, rolled
      // up into the confusion matrix
      "WITH t AS (SELECT lang, string_split(lower(text), ' ') AS toks FROM documents), " +
        "h AS (SELECT lang, " +
        "len(list_filter(toks, w -> w IN ('the','a','of','and','to','in','is','it'))) AS en_hits, " +
        "len(list_filter(toks, w -> w IN ('el','la','de','que','y','en','un'))) AS es_hits, " +
        "len(list_filter(toks, w -> w IN ('der','die','das','und','ist','ein'))) AS de_hits, " +
        "len(list_filter(toks, w -> w IN ('le','la','de','et','un','une','est'))) AS fr_hits FROM t), " +
        "p AS (SELECT lang, " +
        "CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en' " +
        "WHEN es_hits >= de_hits AND es_hits >= fr_hits AND es_hits > 0 THEN 'es' " +
        "WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de' " +
        "WHEN fr_hits > 0 THEN 'fr' ELSE 'und' END AS lang_pred FROM h) " +
        "SELECT lang, lang_pred, count(1) AS n FROM p " +
        "GROUP BY lang, lang_pred ORDER BY lang, lang_pred"),
    "q_t14_pii_density" -> (
      // deterministic PII injection (doc_id mod 7), mirroring
      // TextAnalysis.qT14; patterns stay in the RE2-compatible subset so
      // java.util.regex and RE2 agree match-for-match
      "WITH t AS (SELECT source, concat(text, CASE " +
        "WHEN doc_id % 7 = 0 THEN concat(' contact user', CAST(doc_id AS VARCHAR), '@example.com or admin@data-site.org') " +
        "WHEN doc_id % 7 = 1 THEN ' call 555-867-5309 or 555-123-4567' " +
        "WHEN doc_id % 7 = 2 THEN ' ssn 123-45-6789 on file' " +
        "ELSE '' END) AS t FROM documents), " +
        "c AS (SELECT source, " +
        "len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+')) AS n_email, " +
        "len(regexp_extract_all(t, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phone, " +
        "len(regexp_extract_all(t, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS n_ssn FROM t) " +
        "SELECT source, count(1) AS n_docs, " +
        "CAST(sum(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii_email, " +
        "CAST(sum(n_email) AS BIGINT) AS emails, " +
        "CAST(sum(n_phone) AS BIGINT) AS phones, " +
        "CAST(sum(n_ssn) AS BIGINT) AS ssns " +
        "FROM c GROUP BY source ORDER BY source"),
    "q_t15_train_split" -> (
      // md5-prefix thresholds ('e6'/'f3' ≈ 90/5/5) — pure string compare,
      // engine-exact; share in integer per-mille via DIV
      "WITH a AS (SELECT lang, CASE " +
        "WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train' " +
        "WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val' " +
        "ELSE 'test' END AS split FROM documents), " +
        "g AS (SELECT lang, split, count(1) AS n_docs FROM a GROUP BY 1, 2) " +
        "SELECT lang, split, n_docs, " +
        "CAST((n_docs * 1000) // sum(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS share_pm " +
        "FROM g ORDER BY lang, split"),
    "q_t16_split_leakage" -> (
      // q_t15's split thresholds + q_t11's 8-gram machinery: train docs
      // sharing a verbatim gram with ANY test doc, per language
      "WITH sp AS (SELECT doc_id, lang, text, CASE " +
        "WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train' " +
        "WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val' " +
        "ELSE 'test' END AS split FROM documents), " +
        "tok AS (SELECT doc_id, split, string_split(lower(text), ' ') AS w FROM sp), " +
        "ix AS (SELECT doc_id, split, w, unnest(generate_series(1, len(w) - 7)) AS i " +
        "FROM tok WHERE len(w) >= 8), " +
        "g AS (SELECT doc_id, split, array_to_string(w[i:i+7], ' ') AS gram FROM ix), " +
        "tg AS (SELECT DISTINCT gram FROM g WHERE split = 'test'), " +
        "lk AS (SELECT DISTINCT g.doc_id FROM g JOIN tg USING (gram) WHERE g.split = 'train') " +
        "SELECT sp.lang, count(1) AS n_train, " +
        "CAST(sum(CASE WHEN lk.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky, " +
        "CAST((sum(CASE WHEN lk.doc_id IS NOT NULL THEN 1 ELSE 0 END) * 1000) // count(1) AS BIGINT) AS leak_pm " +
        "FROM sp LEFT JOIN lk ON sp.doc_id = lk.doc_id WHERE sp.split = 'train' " +
        "GROUP BY sp.lang ORDER BY sp.lang"),
    "q_t17_pack_stats" -> (
      // concat-then-chunk packing at 2048 tokens, md5 order per language;
      // a doc fragments when its start and end land in different bins
      "WITH t AS (SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok " +
        "FROM documents), " +
        "c AS (SELECT lang, tok, sum(tok) OVER (PARTITION BY lang " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t), " +
        "f AS (SELECT lang, tok, cum, CASE WHEN (cum - tok) // 2048 <> (cum - 1) // 2048 " +
        "THEN 1 ELSE 0 END AS frag FROM c) " +
        "SELECT lang, count(1) AS n_docs, CAST(sum(tok) AS BIGINT) AS total_tokens, " +
        "CAST((sum(tok) + 2047) // 2048 AS BIGINT) AS n_seqs, " +
        "CAST((sum(tok) * 1000) // (((sum(tok) + 2047) // 2048) * 2048) AS BIGINT) AS fill_pm, " +
        "CAST(sum(frag) AS BIGINT) AS n_fragmented " +
        "FROM f GROUP BY lang ORDER BY lang"),
    "q_t2_quality_score" -> (
      // integer-exact HALF_UP rounding of each ratio — see TextAnalysis.qT2
      "WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS w, " +
        "CAST(n_chars AS BIGINT) AS nc, " +
        "len(list_filter(string_split(lower(text), ' '), x -> x IN ('the','a','of','and','to','in','is','it'))) AS h " +
        "FROM documents) " +
        "SELECT doc_id, w AS n_words, " +
        "CAST((20000 * nc + w) // (2 * w) AS DOUBLE) / 10000 AS avg_wlen, " +
        "CAST((20000 * h + w) // (2 * w) AS DOUBLE) / 10000 AS stop_ratio, " +
        "CAST((20000 * (5 * least(w, 100) * w + 300 * h + 20 * least(nc, 10 * w)) + 1000 * w) " +
        "// (2000 * w) AS DOUBLE) / 10000 AS quality " +
        "FROM t ORDER BY doc_id"),
    "q_t3_token_count" -> (
      "SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens, " +
        "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens FROM documents ORDER BY doc_id"),
    "q_t5_curate" -> (
      // composed curation gate: quality >= 0.5 (integer-exact q10k) AND
      // confident lang-ID AND first-doc-per-content-hash; exact integer
      // quality sum so the aggregate is order-independent bit-for-bit
      "WITH t AS (SELECT doc_id, md5(lower(text)) AS chash, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS w, " +
        "CAST(n_chars AS BIGINT) AS nc, string_split(lower(text), ' ') AS toks FROM documents), " +
        "h AS (SELECT doc_id, chash, w, nc, " +
        "len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it'))) AS en_hits, " +
        "len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un'))) AS es_hits, " +
        "len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein'))) AS de_hits, " +
        "len(list_filter(toks, x -> x IN ('le','la','de','et','un','une','est'))) AS fr_hits FROM t), " +
        "s AS (SELECT doc_id, chash, w, " +
        "(20000 * (5 * least(w, 100) * w + 300 * en_hits + 20 * least(nc, 10 * w)) + 1000 * w) " +
        "// (2000 * w) AS q10k, " +
        "CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en' " +
        "WHEN es_hits >= de_hits AND es_hits >= fr_hits AND es_hits > 0 THEN 'es' " +
        "WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de' " +
        "WHEN fr_hits > 0 THEN 'fr' ELSE 'und' END AS lang_pred, " +
        "row_number() OVER (PARTITION BY chash ORDER BY doc_id) AS rn FROM h) " +
        "SELECT lang_pred, count(1) AS kept, CAST(sum(q10k) AS BIGINT) AS q10k_sum, " +
        "CAST(sum(w) AS BIGINT) AS words FROM s " +
        "WHERE rn = 1 AND q10k >= 5000 AND lang_pred <> 'und' " +
        "GROUP BY lang_pred ORDER BY lang_pred"),
    "q_t4_fingerprint" -> (
      "WITH idx AS (SELECT doc_id, text, unnest(generate_series(1, greatest(length(text)-7, 1))) AS i FROM documents), " +
        "h AS (SELECT doc_id, ('0x' || substr(md5(substr(text, i, 8)), 1, 8))::BIGINT AS hv FROM idx) " +
        "SELECT doc_id, min(hv) AS fp_min, CAST(count(DISTINCT hv) AS BIGINT) AS n_grams FROM h GROUP BY doc_id ORDER BY doc_id"),
    "q_x5_distinct_hash" -> (
      "SELECT count(DISTINCT md5(lower(text))) AS n FROM documents"),
    "q_d1_exact_dedup" -> (
      "SELECT min(doc_id) AS doc_id, count(1) AS dups FROM documents GROUP BY md5(lower(text)) ORDER BY doc_id"),
    "q_d2_jaccard_pairs" -> (
      "WITH ws AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS w FROM documents WHERE doc_id < 100) " +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, " +
        "ROUND(CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) / len(list_distinct(list_concat(a.w, b.w))), 4) AS jac " +
        "FROM ws a JOIN ws b ON a.doc_id < b.doc_id " +
        "WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) / len(list_distinct(list_concat(a.w, b.w))) >= 0.9 " +
        "ORDER BY a_id, b_id"),
    "q_d3_minhash_sig" -> (minhashSigSql +
      " SELECT doc_id, " + minhashMinsSql + " FROM h GROUP BY doc_id ORDER BY doc_id"),
    "q_d4_lsh_pairs" -> (minhashSigSql +
      ", sig AS (SELECT doc_id, " + minhashMinsSql + " FROM h GROUP BY doc_id), " +
      "bands AS (SELECT doc_id, 1 AS band, m1 || '_' || m2 AS bk FROM sig " +
      "UNION ALL SELECT doc_id, 2, m3 || '_' || m4 FROM sig), " +
      "cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id), " +
      "gs AS (SELECT doc_id, list_distinct(list(g)) AS gl FROM grams GROUP BY doc_id) " +
      "SELECT c.a_id, c.b_id, ROUND(CAST(len(list_intersect(x.gl, y.gl)) AS DOUBLE) / len(list_distinct(list_concat(x.gl, y.gl))), 4) AS jac " +
      "FROM cand c JOIN gs x ON c.a_id = x.doc_id JOIN gs y ON c.b_id = y.doc_id ORDER BY a_id, b_id"),
    "q_d13_minhash_est" -> (minhashSigSql +
      // qD4's candidate CTEs + per-pair estimator-vs-truth in integer
      // permyriad: est = 2500 × matched minima, exact = (∩ × 10000) // ∪
      ", sig AS (SELECT doc_id, " + minhashMinsSql + " FROM h GROUP BY doc_id), " +
      "bands AS (SELECT doc_id, 1 AS band, m1 || '_' || m2 AS bk FROM sig " +
      "UNION ALL SELECT doc_id, 2, m3 || '_' || m4 FROM sig), " +
      "cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id), " +
      "gs AS (SELECT doc_id, list_distinct(list(g)) AS gl FROM grams GROUP BY doc_id), " +
      "p AS (SELECT c.a_id, c.b_id, " +
      "CAST((CASE WHEN sx.m1 = sy.m1 THEN 2500 ELSE 0 END) + (CASE WHEN sx.m2 = sy.m2 THEN 2500 ELSE 0 END) " +
      "+ (CASE WHEN sx.m3 = sy.m3 THEN 2500 ELSE 0 END) + (CASE WHEN sx.m4 = sy.m4 THEN 2500 ELSE 0 END) AS BIGINT) AS est_e4, " +
      "CAST((len(list_intersect(x.gl, y.gl)) * 10000) // len(list_distinct(list_concat(x.gl, y.gl))) AS BIGINT) AS jac_e4 " +
      "FROM cand c JOIN sig sx ON c.a_id = sx.doc_id JOIN sig sy ON c.b_id = sy.doc_id " +
      "JOIN gs x ON c.a_id = x.doc_id JOIN gs y ON c.b_id = y.doc_id) " +
      "SELECT a_id, b_id, est_e4, jac_e4, abs(est_e4 - jac_e4) AS err_e4 FROM p ORDER BY a_id, b_id"),
    "q_d15_semantic_dedup" -> (
      // SemDeDup: seeded k-means cells (q_sim3's assignment CTE verbatim),
      // in-cell pairs only, cosine >= 0.4, keep-first prune accounting
      "WITH p AS (SELECT e.vec_id AS a_id, c.vec_id AS b_id, e.embedding AS ea, c.embedding AS eb " +
        "FROM embeddings e JOIN embeddings c ON c.vec_id < 16), " +
        cosineSumSql +
        ", cs AS (SELECT a_id AS vec_id, b_id AS cid, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS rn FROM s), " +
        "cell AS (SELECT vec_id, cid FROM cs WHERE rn = 1), " +
        "p2 AS (SELECT x.cid AS cell, x.vec_id AS a_id, y.vec_id AS b_id, " +
        "a.embedding AS ea, b.embedding AS eb " +
        "FROM cell x JOIN cell y ON x.cid = y.cid AND x.vec_id < y.vec_id " +
        "JOIN embeddings a ON a.vec_id = x.vec_id JOIN embeddings b ON b.vec_id = y.vec_id), " +
        "u2 AS (SELECT cell, a_id, b_id, unnest(generate_series(1, 64)) AS i, ea, eb FROM p2), " +
        "s2 AS (SELECT cell, a_id, b_id, sum(ea[i]::DOUBLE * eb[i]::DOUBLE) AS dot, " +
        "sum(ea[i]::DOUBLE * ea[i]::DOUBLE) AS na, sum(eb[i]::DOUBLE * eb[i]::DOUBLE) AS nb " +
        "FROM u2 GROUP BY cell, a_id, b_id), " +
        "dup AS (SELECT cell, a_id, b_id FROM s2 WHERE dot/(sqrt(na)*sqrt(nb)) >= 0.4), " +
        "sizes AS (SELECT cid AS cell, count(1) AS n_vecs FROM cell GROUP BY cid), " +
        "ps AS (SELECT cell, count(1) AS np, count(DISTINCT b_id) AS npr FROM dup GROUP BY cell) " +
        "SELECT sz.cell, sz.n_vecs, CAST(coalesce(ps.np, 0) AS BIGINT) AS n_dup_pairs, " +
        "CAST(coalesce(ps.npr, 0) AS BIGINT) AS n_pruned, " +
        "CAST(((sz.n_vecs - coalesce(ps.npr, 0)) * 1000) // sz.n_vecs AS BIGINT) AS keep_pm " +
        "FROM sizes sz LEFT JOIN ps USING (cell) ORDER BY cell"),
    "q_d21_proto_prune" -> (
      // q_d15's seeded assignment CTE, then rank-to-own-centroid within
      // each cell (sim DESC, vec_id tiebreak); pruned = top n DIV 5
      "WITH p AS (SELECT e.vec_id AS a_id, c.vec_id AS b_id, e.embedding AS ea, c.embedding AS eb " +
        s"FROM embeddings e JOIN embeddings c ON c.vec_id < ${graft.operators.Similarity.IvfCells}), " +
        cosineSumSql +
        ", cs AS (SELECT a_id AS vec_id, b_id AS cell, dot/(sqrt(na)*sqrt(nb)) AS sim_raw, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS rn FROM s), " +
        "asg AS (SELECT vec_id, cell, sim_raw FROM cs WHERE rn = 1), " +
        "r AS (SELECT vec_id, cell, sim_raw, " +
        "row_number() OVER (PARTITION BY cell ORDER BY sim_raw DESC, vec_id) AS rank, " +
        "count(1) OVER (PARTITION BY cell) AS n_vecs FROM asg) " +
        "SELECT vec_id, cell, ROUND(sim_raw, 4) AS sim, CAST(rank AS BIGINT) AS rank, " +
        "CAST(n_vecs AS BIGINT) AS n_vecs, " +
        s"CAST(CASE WHEN rank <= n_vecs // ${graft.operators.Dedup.ProtoPruneDiv} THEN 1 ELSE 0 END AS BIGINT) AS pruned " +
        "FROM r ORDER BY cell, rank"),
    "q_d22_d4_verdict" -> (
      // D4 composed: q_d15's in-cell keep-first dup set, then q_d21's
      // prototype rank RE-COMPUTED over the survivors, verdict precedence
      "WITH p AS (SELECT e.vec_id AS a_id, c.vec_id AS b_id, e.embedding AS ea, c.embedding AS eb " +
        s"FROM embeddings e JOIN embeddings c ON c.vec_id < ${graft.operators.Similarity.IvfCells}), " +
        cosineSumSql +
        ", cs AS (SELECT a_id AS vec_id, b_id AS cell, dot/(sqrt(na)*sqrt(nb)) AS sim_raw, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS rn FROM s), " +
        "asg AS (SELECT vec_id, cell, sim_raw FROM cs WHERE rn = 1), " +
        "p2 AS (SELECT x.cell, x.vec_id AS a_id, y.vec_id AS b_id, " +
        "a.embedding AS ea, b.embedding AS eb " +
        "FROM asg x JOIN asg y ON x.cell = y.cell AND x.vec_id < y.vec_id " +
        "JOIN embeddings a ON a.vec_id = x.vec_id JOIN embeddings b ON b.vec_id = y.vec_id), " +
        "u2 AS (SELECT a_id, b_id, unnest(generate_series(1, 64)) AS i, ea, eb FROM p2), " +
        "s2 AS (SELECT a_id, b_id, sum(ea[i]::DOUBLE * eb[i]::DOUBLE) AS dot, " +
        "sum(ea[i]::DOUBLE * ea[i]::DOUBLE) AS na, sum(eb[i]::DOUBLE * eb[i]::DOUBLE) AS nb FROM u2 GROUP BY a_id, b_id), " +
        "sdset AS (SELECT DISTINCT b_id AS vec_id FROM s2 WHERE dot/(sqrt(na)*sqrt(nb)) >= 0.4), " +
        "surv AS (SELECT a.vec_id, a.cell, a.sim_raw FROM asg a " +
        "LEFT JOIN sdset sx ON sx.vec_id = a.vec_id WHERE sx.vec_id IS NULL), " +
        "pr AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY cell " +
        "ORDER BY sim_raw DESC, vec_id) AS rank, count(1) OVER (PARTITION BY cell) AS n_surv FROM surv), " +
        s"ppset AS (SELECT vec_id FROM pr WHERE rank <= n_surv // ${graft.operators.Dedup.ProtoPruneDiv}) " +
        "SELECT a.vec_id, a.cell, CASE WHEN sd.vec_id IS NOT NULL THEN 'semdedup' " +
        "WHEN pp.vec_id IS NOT NULL THEN 'proto' ELSE 'keep' END AS verdict " +
        "FROM asg a LEFT JOIN sdset sd ON sd.vec_id = a.vec_id " +
        "LEFT JOIN ppset pp ON pp.vec_id = a.vec_id ORDER BY a.vec_id"),
    "q_g11_weak_links" -> (simhashPairsSql
      .replaceFirst("WITH ", "WITH RECURSIVE ") +
      // triangle-supported edges (common-neighbor probe), components (the
      // oracleSqlD9 reach pattern), then the anti-joined weak remainder
      ", edges AS (SELECT a_id, b_id FROM sp UNION SELECT b_id, a_id FROM sp), " +
      "supp AS (SELECT DISTINCT t.a_id, t.b_id FROM sp t " +
      "JOIN edges x ON x.a_id = t.a_id " +
      "JOIN edges y ON y.a_id = t.b_id AND y.b_id = x.b_id), " +
      "reach(id, lbl) AS (SELECT a_id AS id, a_id AS lbl FROM edges " +
      "UNION SELECT e.a_id, r.lbl FROM edges e JOIN reach r ON e.b_id = r.id), " +
      "comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id) " +
      "SELECT w.a_id, w.b_id, CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS ham, c.component " +
      "FROM sp w JOIN sh x ON x.doc_id = w.a_id JOIN sh y ON y.doc_id = w.b_id " +
      "JOIN comp c ON c.id = w.a_id " +
      "LEFT JOIN supp sx ON sx.a_id = w.a_id AND sx.b_id = w.b_id " +
      "WHERE sx.a_id IS NULL ORDER BY w.a_id, w.b_id"),
    "q_g12_severed_components" -> (simhashPairsSql
      .replaceFirst("WITH ", "WITH RECURSIVE ") +
      // raw components, then the severing: weak (zero-triangle) edges
      // refuted by levenshtein past the bound are dropped and components
      // recompute over the survivors; isolated nodes self-label
      ", ed AS (SELECT a_id AS s, b_id AS t FROM sp UNION ALL SELECT b_id, a_id FROM sp), " +
      "edges AS (SELECT a_id, b_id FROM sp UNION SELECT b_id, a_id FROM sp), " +
      "reach(id, lbl) AS (SELECT a_id AS id, a_id AS lbl FROM edges " +
      "UNION SELECT e.a_id, r.lbl FROM edges e JOIN reach r ON e.b_id = r.id), " +
      "comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id), " +
      "wsupp AS (SELECT DISTINCT t.a_id, t.b_id FROM sp t " +
      "JOIN ed x ON x.s = t.a_id JOIN ed y ON y.s = t.b_id AND y.t = x.t), " +
      "wk AS (SELECT t.a_id, t.b_id FROM sp t LEFT JOIN wsupp s " +
      "ON s.a_id = t.a_id AND s.b_id = t.b_id WHERE s.a_id IS NULL), " +
      "ref AS (SELECT w.a_id, w.b_id FROM wk w " +
      "JOIN documents da ON da.doc_id = w.a_id " +
      "JOIN documents db ON db.doc_id = w.b_id " +
      s"WHERE levenshtein(da.text, db.text) > ${graft.operators.Dedup.SeverEditBound}), " +
      "sv AS (SELECT t.a_id, t.b_id FROM sp t LEFT JOIN ref r " +
      "ON r.a_id = t.a_id AND r.b_id = t.b_id WHERE r.a_id IS NULL), " +
      "sedges AS (SELECT a_id, b_id FROM sv UNION SELECT b_id, a_id FROM sv), " +
      "sreach(id, lbl) AS (SELECT a_id AS id, a_id AS lbl FROM sedges " +
      "UNION SELECT e.a_id, r.lbl FROM sedges e JOIN sreach r ON e.b_id = r.id), " +
      "scomp AS (SELECT id, min(lbl) AS component FROM sreach GROUP BY id) " +
      "SELECT c.id, c.component, coalesce(sc.component, c.id) AS component_sev " +
      "FROM comp c LEFT JOIN scomp sc ON sc.id = c.id ORDER BY c.id"),
    "q_g13_family_depth" -> (simhashPairsSql
      .replaceFirst("WITH ", "WITH RECURSIVE ") +
      // the q_g12 severing chain, then BOUNDED BFS from each family's
      // min-id root over the raw and the surviving edge sets; nodes past
      // the cap coalesce to exactly the cap (the declared truncation)
      ", ed AS (SELECT a_id AS s, b_id AS t FROM sp UNION ALL SELECT b_id, a_id FROM sp), " +
      "edges AS (SELECT a_id, b_id FROM sp UNION SELECT b_id, a_id FROM sp), " +
      "reach(id, lbl) AS (SELECT a_id AS id, a_id AS lbl FROM edges " +
      "UNION SELECT e.a_id, r.lbl FROM edges e JOIN reach r ON e.b_id = r.id), " +
      "comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id), " +
      "wsupp AS (SELECT DISTINCT t.a_id, t.b_id FROM sp t " +
      "JOIN ed x ON x.s = t.a_id JOIN ed y ON y.s = t.b_id AND y.t = x.t), " +
      "wk AS (SELECT t.a_id, t.b_id FROM sp t LEFT JOIN wsupp s " +
      "ON s.a_id = t.a_id AND s.b_id = t.b_id WHERE s.a_id IS NULL), " +
      "ref AS (SELECT w.a_id, w.b_id FROM wk w " +
      "JOIN documents da ON da.doc_id = w.a_id " +
      "JOIN documents db ON db.doc_id = w.b_id " +
      s"WHERE levenshtein(da.text, db.text) > ${graft.operators.Dedup.SeverEditBound}), " +
      "sv AS (SELECT t.a_id, t.b_id FROM sp t LEFT JOIN ref r " +
      "ON r.a_id = t.a_id AND r.b_id = t.b_id WHERE r.a_id IS NULL), " +
      "sedges AS (SELECT a_id, b_id FROM sv UNION SELECT b_id, a_id FROM sv), " +
      "sreach(id, lbl) AS (SELECT a_id AS id, a_id AS lbl FROM sedges " +
      "UNION SELECT e.a_id, r.lbl FROM sedges e JOIN sreach r ON e.b_id = r.id), " +
      "scomp0 AS (SELECT id, min(lbl) AS component FROM sreach GROUP BY id), " +
      "rawn AS (SELECT DISTINCT s AS id FROM ed), " +
      "scomp AS (SELECT rawn.id, coalesce(c.component, rawn.id) AS component " +
      "FROM rawn LEFT JOIN scomp0 c ON c.id = rawn.id), " +
      "rb(id, d) AS (SELECT DISTINCT component AS id, 0 AS d FROM comp " +
      "UNION SELECT e.b_id, rb.d + 1 FROM edges e JOIN rb ON e.a_id = rb.id " +
      s"WHERE rb.d < ${graft.operators.Dedup.DepthCap}), " +
      "rmin AS (SELECT id, min(d) AS d FROM rb GROUP BY id), " +
      "rdep AS (SELECT c.component, count(1) AS n_members, " +
      s"max(coalesce(m.d, ${graft.operators.Dedup.DepthCap})) AS depth " +
      "FROM comp c LEFT JOIN rmin m ON m.id = c.id GROUP BY 1), " +
      "sb(id, d) AS (SELECT DISTINCT component AS id, 0 AS d FROM scomp " +
      "UNION SELECT e.b_id, sb.d + 1 FROM sedges e JOIN sb ON e.a_id = sb.id " +
      s"WHERE sb.d < ${graft.operators.Dedup.DepthCap}), " +
      "smin AS (SELECT id, min(d) AS d FROM sb GROUP BY id), " +
      "sdep AS (SELECT c.component, count(1) AS n_members, " +
      s"max(coalesce(m.d, ${graft.operators.Dedup.DepthCap})) AS depth " +
      "FROM scomp c LEFT JOIN smin m ON m.id = c.id GROUP BY 1) " +
      "SELECT graph, component, CAST(n_members AS BIGINT) AS n_members, " +
      "CAST(depth AS BIGINT) AS depth FROM (" +
      "SELECT 'raw' AS graph, component, n_members, depth FROM rdep " +
      "UNION ALL SELECT 'severed', component, n_members, depth FROM sdep) t " +
      "ORDER BY graph, component"),
    "q_t42_shard_pack" -> (
      // the boundary-cut packing as ONE sequential window (the engine's
      // two-pass bucket prefix sum collapses to this at oracle scale)
      "WITH t AS (SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS tok FROM documents), " +
        "pp AS (SELECT doc_id, tok, CAST(coalesce(sum(tok) OVER " +
        "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pre FROM t) " +
        s"SELECT CAST(pre // ${graft.operators.TextAnalysis.ShardTokenBudget} AS BIGINT) AS shard, " +
        "CAST(count(1) AS BIGINT) AS n_docs, CAST(sum(tok) AS BIGINT) AS tokens, " +
        "min(doc_id) AS first_doc, max(doc_id) AS last_doc " +
        "FROM pp GROUP BY 1 ORDER BY 1"),
    "q_t44_gopher_rules" -> (
      // the five Gopher document rules, integer end-to-end; the rep leg
      // is q_t12's top-token mass; rule bounds inline as in the engine
      "WITH w AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws FROM documents), " +
        "base AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words, " +
        "CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT) AS chars, " +
        "CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha, " +
        "CAST(len(list_intersect(list_distinct(ws), " +
        // engine constants interpolated (ADVICE r15): editing GopherStops
        // cannot silently desynchronize the pair
        s"[${graft.operators.TextAnalysis.GopherStops.map(w => s"'$w'").mkString(", ")}])) " +
        "AS BIGINT) AS stop_hits FROM w), " +
        "tf AS (SELECT doc_id, t, count(1) AS c FROM " +
        "(SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents) q " +
        "WHERE t <> '' GROUP BY doc_id, t), " +
        "rep AS (SELECT doc_id, CAST((max(c) * 1000) // sum(c) AS BIGINT) AS rep_pm FROM tf GROUP BY doc_id) " +
        "SELECT base.doc_id, n_words, " +
        "CAST((chars * 10) // n_words AS BIGINT) AS mwl_e1, " +
        "CAST((n_alpha * 1000) // n_words AS BIGINT) AS alpha_pm, " +
        "stop_hits, rep_pm, " +
        "CAST(CASE WHEN n_words BETWEEN 50 AND 100000 " +
        "AND (chars * 10) // n_words BETWEEN 30 AND 100 " +
        "AND (n_alpha * 1000) // n_words >= 800 " +
        s"AND stop_hits >= ${graft.operators.TextAnalysis.GopherMinStopHits} " +
        "AND rep_pm <= 200 THEN 1 ELSE 0 END AS BIGINT) AS pass " +
        "FROM base JOIN rep USING (doc_id) ORDER BY base.doc_id"),
    "q_t43_ppl_buckets" -> (
      // q_t20's integer unigram-LL score -> bounded per-lang histogram ->
      // tercile boundary bins -> per-doc bucket; integer end-to-end
      "WITH tf AS (SELECT doc_id, w, count(1) AS tf FROM " +
        "(SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents) t " +
        "WHERE w <> '' GROUP BY doc_id, w), " +
        "uni AS (SELECT w, length(bin(CAST(sum(tf) AS BIGINT))) - 1 AS bits " +
        "FROM tf GROUP BY w), " +
        "ll AS (SELECT tf.doc_id, CAST((sum(tf * bits) * 1000) // sum(tf) AS BIGINT) AS ll_pm " +
        "FROM tf JOIN uni USING (w) GROUP BY tf.doc_id), " +
        "ld AS (SELECT d.doc_id, d.lang, ll_pm FROM ll JOIN documents d USING (doc_id)), " +
        s"hist AS (SELECT lang, ll_pm // ${graft.operators.TextAnalysis.PplBinWidth} AS bin, count(1) AS cnt FROM ld GROUP BY 1, 2), " +
        "cum AS (SELECT lang, bin, sum(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum, " +
        "sum(cnt) OVER (PARTITION BY lang) AS n FROM hist), " +
        "th AS (SELECT lang, min(CASE WHEN cum * 3 >= n THEN bin END) AS t1, " +
        "min(CASE WHEN cum * 3 >= 2 * n THEN bin END) AS t2 FROM cum GROUP BY lang) " +
        "SELECT doc_id, ld.lang, ll_pm, " +
        s"CASE WHEN ll_pm // ${graft.operators.TextAnalysis.PplBinWidth} <= t1 THEN 'tail' " +
        s"WHEN ll_pm // ${graft.operators.TextAnalysis.PplBinWidth} <= t2 THEN 'middle' ELSE 'head' END AS bucket " +
        "FROM ld JOIN th USING (lang) ORDER BY doc_id"),
    "q_d16_boilerplate" -> (
      // q_t11's 8-gram kernel, per-doc DISTINCT, shared-by->=3-docs filter
      "WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents), " +
        "ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i " +
        "FROM tok WHERE len(w) >= 8), " +
        "g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS gram FROM ix), " +
        "c AS (SELECT gram, CAST(count(1) AS BIGINT) AS df FROM g GROUP BY gram) " +
        "SELECT gram, df FROM c WHERE df >= 3 ORDER BY df DESC, gram LIMIT 20"),
    "q_d17_dup_gram_mass" -> (
      // q_d16's 8-gram kernel WITH multiplicity; duplicated-occurrence
      // mass in integer per-mille (DuckDB `//` = Spark DIV; sums CAST to
      // BIGINT against HUGEINT widening)
      "WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents), " +
        "ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i " +
        "FROM tok WHERE len(w) >= 8), " +
        "g AS (SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram FROM ix), " +
        "pg AS (SELECT gram, doc_id, count(1) AS c FROM g GROUP BY gram, doc_id), " +
        "cg AS (SELECT gram, CAST(sum(c) AS BIGINT) AS occ, CAST(count(1) AS BIGINT) AS df FROM pg GROUP BY gram) " +
        "SELECT CAST(sum(occ) AS BIGINT) AS total_occ, CAST(count(1) AS BIGINT) AS distinct_grams, " +
        "CAST(sum(CASE WHEN occ >= 2 THEN occ ELSE 0 END) AS BIGINT) AS dup_occ, " +
        "CAST(sum(CASE WHEN df >= 2 THEN occ ELSE 0 END) AS BIGINT) AS cross_doc_occ, " +
        "CAST((sum(CASE WHEN occ >= 2 THEN occ ELSE 0 END) * 1000) // sum(occ) AS BIGINT) AS dup_pm, " +
        "CAST((sum(CASE WHEN df >= 2 THEN occ ELSE 0 END) * 1000) // sum(occ) AS BIGINT) AS cross_doc_pm " +
        "FROM cg"),
    "q_d14_containment" -> (
      // q_d10's block-key candidates, verified with ASYMMETRIC containment
      // |A∩B| / min(|A|,|B|) — integer-DIV e4 fixed point, engine-exact
      "WITH d AS (SELECT doc_id, " +
        "substr(trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')), 1, 12) AS blk, " +
        "list_distinct(string_split(lower(text), ' ')) AS w FROM documents), " +
        "d0 AS (SELECT * FROM d WHERE length(blk) > 0), " +
        "ob AS (SELECT blk FROM d0 GROUP BY blk " +
        s"HAVING count(1) > ${graft.operators.Dedup.MaxBlockSide}), " +
        "dd AS (SELECT * FROM d0 WHERE blk NOT IN (SELECT blk FROM ob)), " +
        "p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, " +
        "len(list_intersect(a.w, b.w)) AS inter, " +
        "least(len(a.w), len(b.w)) AS mn, " +
        "len(list_distinct(list_concat(a.w, b.w))) AS un " +
        "FROM dd a JOIN dd b ON a.blk = b.blk AND a.doc_id < b.doc_id) " +
        "SELECT a_id, b_id, CAST((inter * 10000) // mn AS BIGINT) AS cont_e4, " +
        "CAST((inter * 10000) // un AS BIGINT) AS jac_e4 " +
        "FROM p WHERE (inter * 10000) // mn >= 9000 ORDER BY a_id, b_id"),
    "q_d5_simhash" -> (simhashSql + " SELECT doc_id, simhash FROM sh ORDER BY doc_id"),
    "q_d6_simhash_pairs" -> (simhashSql +
      " SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS ham " +
      "FROM sh a JOIN sh b ON a.doc_id < b.doc_id WHERE bit_count(xor(a.simhash, b.simhash)) <= 2 ORDER BY a_id, b_id"),
    "q_d7_emb_neardup" -> (cosinePairsSql("a.vec_id < b.vec_id AND a.vec_id < 200") +
      " SELECT a_id, b_id, ROUND(dot/(sqrt(na)*sqrt(nb)), 4) AS sim FROM s " +
      "WHERE dot/(sqrt(na)*sqrt(nb)) >= 0.4 ORDER BY a_id, b_id"),
    "q_d8_lsh_neardup" -> oracleSqlD8,
    "q_d9_dup_components" -> oracleSqlD9,
    "q_g3_component_sizes" -> (
      "SELECT csize, count(1) AS n_components FROM (" +
        "SELECT component, count(1) AS csize FROM (" + oracleSqlD9 + ") c " +
        "GROUP BY component) s GROUP BY csize ORDER BY csize"),
    "q_x2_cosine_topk" -> (cosinePairsSql("a.vec_id < b.vec_id AND a.vec_id <= 20") +
      " SELECT a_id, b_id, ROUND(dot/(sqrt(na)*sqrt(nb)), 4) AS sim FROM s " +
      "ORDER BY sim DESC, a_id, b_id LIMIT 50"),
    "q_sim1_knn_brute" -> (
      "WITH p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.embedding AS ea, b.embedding AS eb " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND a.vec_id <> b.vec_id), " +
        cosineSumSql +
        ", r AS (SELECT a_id AS q_id, b_id AS n_id, dot/(sqrt(na)*sqrt(nb)) AS sim_raw, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS rank FROM s) " +
        "SELECT q_id, n_id, ROUND(sim_raw, 4) AS sim, rank FROM r WHERE rank <= 3 ORDER BY q_id, rank"),
    "q_t35_semantic_contam" -> (
      // directional eval->train exact-cosine top-1 (the q_sim1 kernel with
      // disjoint sides); the flag thresholds the ROUNDED sim
      "WITH p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.embedding AS ea, b.embedding AS eb " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < 20 AND b.vec_id >= 20), " +
        cosineSumSql +
        ", r AS (SELECT a_id AS q_id, b_id AS n_id, dot/(sqrt(na)*sqrt(nb)) AS sim_raw, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS rank FROM s) " +
        "SELECT q_id, n_id, ROUND(sim_raw, 4) AS sim, " +
        "CAST(CASE WHEN ROUND(sim_raw, 4) >= 0.995 THEN 1 ELSE 0 END AS BIGINT) AS contaminated " +
        "FROM r WHERE rank = 1 ORDER BY q_id"),
    "q_t36_decontam_served" -> (
      // the IVF-SERVED decontam lane: q_sim11's int8 shortlist machinery
      // (seeded cells, frozen-scale quantization, exact BIGINT dots) with
      // eval probes (vec_id < 20), TRAIN-side candidates (vec_id >= 20),
      // top-10 shortlist, then q_sim16's exact-cosine rerank reduced to
      // the q_t35 argmax + rounded-sim flag
      "WITH mx AS (SELECT max(list_max(list_transform(embedding, x -> abs(x::DOUBLE)))) AS mx FROM embeddings), " +
        "qz AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 127.0 / mx + 0.5) AS BIGINT)) AS qv FROM embeddings, mx), " +
        "p AS (SELECT e.vec_id AS a_id, c.vec_id AS b_id, e.embedding AS ea, c.embedding AS eb " +
        "FROM embeddings e JOIN embeddings c ON c.vec_id < 16), " +
        cosineSumSql +
        ", cs AS (SELECT a_id AS vec_id, b_id AS cid, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS rn FROM s), " +
        "cell AS (SELECT vec_id, cid FROM cs WHERE rn = 1), " +
        "probe AS (SELECT vec_id AS q_id, cid FROM cs WHERE vec_id < 20 AND rn <= 4), " +
        "cand AS (SELECT pr.q_id, t.vec_id AS n_id FROM probe pr " +
        "JOIN cell t ON t.cid = pr.cid AND t.vec_id >= 20), " +
        "iu AS (SELECT c.q_id, c.n_id, unnest(generate_series(1, 64)) AS i, a.qv AS qa, b.qv AS qb " +
        "FROM cand c JOIN qz a ON a.vec_id = c.q_id JOIN qz b ON b.vec_id = c.n_id), " +
        "idot AS (SELECT q_id, n_id, CAST(sum(qa[i] * qb[i]) AS BIGINT) AS qdot FROM iu GROUP BY q_id, n_id), " +
        "sl AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY qdot DESC, n_id) AS rnk FROM idot) t WHERE rnk <= 10), " +
        "ru AS (SELECT sl.q_id, sl.n_id, unnest(generate_series(1, 64)) AS i, " +
        "qa.embedding AS ea, nb.embedding AS eb FROM sl " +
        "JOIN embeddings qa ON qa.vec_id = sl.q_id " +
        "JOIN embeddings nb ON nb.vec_id = sl.n_id), " +
        "rs AS (SELECT q_id, n_id, sum(ea[i]::DOUBLE * eb[i]::DOUBLE) AS dot, " +
        "sum(ea[i]::DOUBLE * ea[i]::DOUBLE) AS na, sum(eb[i]::DOUBLE * eb[i]::DOUBLE) AS nb " +
        "FROM ru GROUP BY 1, 2), " +
        "am AS (SELECT q_id, n_id, ROUND(dot/(sqrt(na)*sqrt(nb)), 4) AS sim, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, n_id) AS rnk FROM rs) " +
        "SELECT q_id, n_id, sim, " +
        "CAST(CASE WHEN sim >= 0.995 THEN 1 ELSE 0 END AS BIGINT) AS contaminated " +
        "FROM am WHERE rnk = 1 ORDER BY q_id"),
    "q_t37_intradoc_rep" -> (
      // per-doc duplicate 2-/3-gram occurrence mass (Gopher-style rep-n);
      // keep flag at 200/180 pm; zero-guarded pm for too-short docs, which
      // anchor on the documents frame (occ2=occ3=0, keep=1 — total result)
      "WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents), " +
        "g2 AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS gram FROM " +
        "(SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i FROM tok WHERE len(w) >= 2) t), " +
        "c2 AS (SELECT doc_id, gram, count(1) AS c FROM g2 GROUP BY 1, 2), " +
        "m2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS occ2, " +
        "CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup2 FROM c2 GROUP BY 1), " +
        "g3 AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS gram FROM " +
        "(SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM tok WHERE len(w) >= 3) t), " +
        "c3 AS (SELECT doc_id, gram, count(1) AS c FROM g3 GROUP BY 1, 2), " +
        "m3 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS occ3, " +
        "CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup3 FROM c3 GROUP BY 1), " +
        "j AS (SELECT tok.doc_id, " +
        "coalesce(occ2, 0) AS occ2, coalesce(occ3, 0) AS occ3, " +
        "CASE WHEN coalesce(occ2, 0) = 0 THEN 0 ELSE (coalesce(dup2, 0) * 1000) // occ2 END AS dup2_pm, " +
        "CASE WHEN coalesce(occ3, 0) = 0 THEN 0 ELSE (coalesce(dup3, 0) * 1000) // occ3 END AS dup3_pm " +
        "FROM tok LEFT JOIN m2 ON tok.doc_id = m2.doc_id " +
        "LEFT JOIN m3 ON tok.doc_id = m3.doc_id) " +
        "SELECT doc_id, occ2, occ3, CAST(dup2_pm AS BIGINT) AS dup2_pm, " +
        "CAST(dup3_pm AS BIGINT) AS dup3_pm, " +
        "CAST(CASE WHEN dup2_pm <= 200 AND dup3_pm <= 180 THEN 1 ELSE 0 END AS BIGINT) AS keep " +
        "FROM j ORDER BY doc_id"),
    "q_sim12_range_search" -> (
      // q_sim1's pair/cosine kernel with a radius filter instead of top-k
      "WITH p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.embedding AS ea, b.embedding AS eb " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND a.vec_id <> b.vec_id), " +
        cosineSumSql +
        " SELECT a_id AS q_id, b_id AS n_id, ROUND(dot/(sqrt(na)*sqrt(nb)), 4) AS sim " +
        "FROM s WHERE dot/(sqrt(na)*sqrt(nb)) >= 0.3 ORDER BY q_id, n_id"),
    "q_sim6_filtered_knn" -> (
      // same shape as q_sim1 with the metadata PRE-filter in the pair
      // predicate: neighbors must share the query's label
      "WITH p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.embedding AS ea, b.embedding AS eb " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND a.vec_id <> b.vec_id AND a.label = b.label), " +
        cosineSumSql +
        ", r AS (SELECT a_id AS q_id, b_id AS n_id, dot/(sqrt(na)*sqrt(nb)) AS sim_raw, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS rank FROM s) " +
        "SELECT q_id, n_id, ROUND(sim_raw, 4) AS sim, rank FROM r WHERE rank <= 3 ORDER BY q_id, rank"),
    "q_sim9_int8_recall" -> (
      // int8 lane integer end-to-end: floor(x*127/max + 0.5) is
      // deterministic IEEE double arithmetic (no HALF_UP ambiguity),
      // the quantized dot/rank is pure BIGINT; float lane = q_sim1's
      // established cosine contract
      "WITH mx AS (SELECT max(list_max(list_transform(embedding, x -> abs(x::DOUBLE)))) AS mx FROM embeddings), " +
        "qz AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 127.0 / mx + 0.5) AS BIGINT)) AS qv FROM embeddings, mx), " +
        "p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.embedding AS ea, b.embedding AS eb " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND a.vec_id <> b.vec_id), " +
        cosineSumSql +
        ", f AS (SELECT a_id AS q_id, b_id AS n_id, row_number() OVER " +
        "(PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS r FROM s), " +
        "iu AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id, unnest(generate_series(1, 64)) AS i, a.qv AS qa, b.qv AS qb " +
        "FROM qz a JOIN qz b ON a.vec_id < 10 AND a.vec_id <> b.vec_id), " +
        "idot AS (SELECT q_id, n_id, sum(qa[i] * qb[i]) AS dot FROM iu GROUP BY q_id, n_id), " +
        "itop AS (SELECT q_id, n_id, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY dot DESC, n_id) AS r FROM idot) " +
        "SELECT f.q_id, CAST(sum(CASE WHEN itop.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS overlap_at_10 " +
        "FROM (SELECT q_id, n_id FROM f WHERE r <= 10) f " +
        "LEFT JOIN (SELECT q_id, n_id FROM itop WHERE r <= 10) itop USING (q_id, n_id) " +
        "GROUP BY f.q_id ORDER BY f.q_id"),
    "q_sim11_ivf_int8" -> (
      // q_sim3's seeded cell/probe machinery + q_sim9's int8 lane: members
      // of the 4 probed cells rescored by the EXACT BIGINT dot of globally
      // scaled int8 vectors — ranking and output integer end-to-end
      "WITH mx AS (SELECT max(list_max(list_transform(embedding, x -> abs(x::DOUBLE)))) AS mx FROM embeddings), " +
        "qz AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 127.0 / mx + 0.5) AS BIGINT)) AS qv FROM embeddings, mx), " +
        "p AS (SELECT e.vec_id AS a_id, c.vec_id AS b_id, e.embedding AS ea, c.embedding AS eb " +
        "FROM embeddings e JOIN embeddings c ON c.vec_id < 16), " +
        cosineSumSql +
        ", cs AS (SELECT a_id AS vec_id, b_id AS cid, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS rn FROM s), " +
        "cell AS (SELECT vec_id, cid FROM cs WHERE rn = 1), " +
        "probe AS (SELECT vec_id AS q_id, cid FROM cs WHERE vec_id < 10 AND rn <= 4), " +
        "cand AS (SELECT pr.q_id, t.vec_id AS n_id FROM probe pr " +
        "JOIN cell t ON t.cid = pr.cid AND t.vec_id <> pr.q_id), " +
        "iu AS (SELECT c.q_id, c.n_id, unnest(generate_series(1, 64)) AS i, a.qv AS qa, b.qv AS qb " +
        "FROM cand c JOIN qz a ON a.vec_id = c.q_id JOIN qz b ON b.vec_id = c.n_id), " +
        "idot AS (SELECT q_id, n_id, CAST(sum(qa[i] * qb[i]) AS BIGINT) AS qdot FROM iu GROUP BY q_id, n_id), " +
        "r AS (SELECT q_id, n_id, qdot, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY qdot DESC, n_id) AS rank FROM idot) " +
        "SELECT q_id, n_id, qdot, rank FROM r WHERE rank <= 3 ORDER BY q_id, rank"),
    "q_sim15_hybrid_rrf" -> (
      // hybrid retrieval: exact-cosine vector lane + distinct-token
      // Jaccard lexical lane (integer permyriad), each top-100, fused with
      // integer RRF (k=60, absent rank contributes 0 — the q_t23 contract)
      "WITH p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.embedding AS ea, b.embedding AS eb " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < 5 AND a.vec_id <> b.vec_id), " +
        cosineSumSql +
        ", v AS (SELECT q_id, n_id, r_v FROM (SELECT a_id AS q_id, b_id AS n_id, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS r_v FROM s) t " +
        "WHERE r_v <= 100), " +
        "ws AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS w FROM documents), " +
        "lx AS (SELECT a.doc_id AS q_id, b.doc_id AS n_id, " +
        "(len(list_intersect(a.w, b.w)) * 10000) // len(list_distinct(list_concat(a.w, b.w))) AS jac4 " +
        "FROM ws a JOIN ws b ON a.doc_id < 5 AND a.doc_id <> b.doc_id), " +
        "l AS (SELECT q_id, n_id, r_l FROM (SELECT q_id, n_id, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY jac4 DESC, n_id) AS r_l FROM lx) t " +
        "WHERE r_l <= 100), " +
        "f AS (SELECT coalesce(v.q_id, l.q_id) AS q_id, coalesce(v.n_id, l.n_id) AS n_id, " +
        "CAST(coalesce(v.r_v, 0) AS BIGINT) AS r_v, CAST(coalesce(l.r_l, 0) AS BIGINT) AS r_l, " +
        "CAST(coalesce(1000000 // (60 + v.r_v), 0) + coalesce(1000000 // (60 + l.r_l), 0) AS BIGINT) AS rrf_s " +
        "FROM v FULL OUTER JOIN l ON v.q_id = l.q_id AND v.n_id = l.n_id), " +
        "r AS (SELECT q_id, n_id, r_v, r_l, rrf_s, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY rrf_s DESC, n_id) AS rank FROM f) " +
        "SELECT q_id, n_id, r_v, r_l, rrf_s, CAST(rank AS BIGINT) AS rank " +
        "FROM r WHERE rank <= 10 ORDER BY q_id, rank"),
    "q_sim21_hybrid_query" -> (
      // user-supplied-query hybrid: int8 IVF vector lane probed with the
      // fixture vector (= embedding vec_id 7, NO self-exclusion — a user
      // query has no self), BM25 lexical lane for the fixture text, fused
      // with integer RRF under q_id = 0
      "WITH mx AS (SELECT max(list_max(list_transform(embedding, x -> abs(x::DOUBLE)))) AS mx FROM embeddings), " +
        "qz AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 127.0 / mx + 0.5) AS BIGINT)) AS qv FROM embeddings, mx), " +
        "p AS (SELECT e.vec_id AS a_id, c.vec_id AS b_id, e.embedding AS ea, c.embedding AS eb " +
        "FROM embeddings e JOIN embeddings c ON c.vec_id < 16), " +
        cosineSumSql +
        ", cs AS (SELECT a_id AS vec_id, b_id AS cid, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS rn FROM s), " +
        "cell AS (SELECT vec_id, cid FROM cs WHERE rn = 1), " +
        "probe AS (SELECT CAST(0 AS BIGINT) AS q_id, cid FROM cs WHERE vec_id = 7 AND rn <= 4), " +
        "cand AS (SELECT pr.q_id, t.vec_id AS n_id FROM probe pr JOIN cell t ON t.cid = pr.cid), " +
        "iu AS (SELECT c.q_id, c.n_id, unnest(generate_series(1, 64)) AS i, a.qv AS qa, b.qv AS qb " +
        "FROM cand c JOIN qz a ON a.vec_id = 7 JOIN qz b ON b.vec_id = c.n_id), " +
        "idot AS (SELECT q_id, n_id, CAST(sum(qa[i] * qb[i]) AS BIGINT) AS qdot FROM iu GROUP BY 1, 2), " +
        "v AS (SELECT q_id, n_id, r_v FROM (SELECT q_id, n_id, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY qdot DESC, n_id) AS r_v FROM idot) t WHERE r_v <= 100), " +
        "tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents), " +
        "tf AS (SELECT doc_id, w, CAST(count(1) AS BIGINT) AS tf FROM tok WHERE w <> '' GROUP BY doc_id, w), " +
        "dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id), " +
        "tot AS (SELECT CAST(sum(dl) AS BIGINT) AS t, CAST(count(1) AS BIGINT) AS n FROM dl), " +
        "dfreq AS (SELECT w, CAST(count(1) AS BIGINT) AS df FROM tf GROUP BY w), " +
        "qt AS (SELECT unnest(list_distinct(string_split('" +
        graft.operators.TextAnalysis.Bm25FixtureQueries.head._2 +
        "', ' '))) AS w), " +
        "sc AS (SELECT tf.doc_id, " +
        "((2 * (n - df) + 1) * 1000) // (2 * df + 1) AS idf_s, " +
        "(22000 * tf * t) // (10 * tf * t + 3 * t + 9 * dl.dl * n) AS tfpart " +
        "FROM tf JOIN dfreq USING (w) JOIN qt USING (w) JOIN dl USING (doc_id), tot), " +
        "ag AS (SELECT doc_id, CAST(sum(idf_s * tfpart) AS BIGINT) AS bm25_s FROM sc GROUP BY 1), " +
        "l AS (SELECT CAST(0 AS BIGINT) AS q_id, doc_id AS n_id, r_l FROM " +
        "(SELECT doc_id, row_number() OVER (ORDER BY bm25_s DESC, doc_id) AS r_l FROM ag) t " +
        "WHERE r_l <= 100), " +
        "f AS (SELECT coalesce(v.q_id, l.q_id) AS q_id, coalesce(v.n_id, l.n_id) AS n_id, " +
        "CAST(coalesce(v.r_v, 0) AS BIGINT) AS r_v, CAST(coalesce(l.r_l, 0) AS BIGINT) AS r_l, " +
        "CAST(coalesce(1000000 // (60 + v.r_v), 0) + coalesce(1000000 // (60 + l.r_l), 0) AS BIGINT) AS rrf_s " +
        "FROM v FULL OUTER JOIN l ON v.q_id = l.q_id AND v.n_id = l.n_id), " +
        "r AS (SELECT q_id, n_id, r_v, r_l, rrf_s, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY rrf_s DESC, n_id) AS rank FROM f) " +
        "SELECT q_id, n_id, r_v, r_l, rrf_s, CAST(rank AS BIGINT) AS rank " +
        "FROM r WHERE rank <= 10 ORDER BY q_id, rank"),
    "q_sim18_mmr_diverse" -> mmrOracleSql(5),
    "q_sim19_cell_balance" -> (
      // replay the seeded quantizer assignment (the q_sim3 CTE), count per
      // cell, hot = occupancy > 2x the uniform mean over k = 16 cells;
      // EMPTY cells surface with n = 0 (left join from the seed list) —
      // dead cells are retrain evidence exactly like hot ones
      "WITH p AS (SELECT e.vec_id AS a_id, c.vec_id AS b_id, e.embedding AS ea, c.embedding AS eb " +
        "FROM embeddings e JOIN embeddings c ON c.vec_id < 16), " +
        cosineSumSql +
        ", cs AS (SELECT a_id AS vec_id, b_id AS cid, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS rn FROM s), " +
        "cell AS (SELECT vec_id, cid FROM cs WHERE rn = 1), " +
        "cells AS (SELECT vec_id AS cid FROM embeddings WHERE vec_id < 16), " +
        "c2 AS (SELECT cid, CAST(count(1) AS BIGINT) AS n FROM cell GROUP BY cid), " +
        "t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c2) " +
        "SELECT cells.cid, CAST(coalesce(c2.n, 0) AS BIGINT) AS n, " +
        "CAST((coalesce(c2.n, 0) * 1000) // t AS BIGINT) AS share_pm, " +
        "CAST(CASE WHEN coalesce(c2.n, 0) * 16 > 2 * t THEN 1 ELSE 0 END AS BIGINT) AS hot " +
        "FROM cells LEFT JOIN c2 ON c2.cid = cells.cid, t ORDER BY cells.cid"),
    "q_sim20_topic_mix" -> (
      // seeded-quantizer cell assignment (the q_sim3 CTE) joined to the
      // q_t1 lang CASE; per-cell language shares in per-mille
      "WITH p AS (SELECT e.vec_id AS a_id, c.vec_id AS b_id, e.embedding AS ea, c.embedding AS eb " +
        "FROM embeddings e JOIN embeddings c ON c.vec_id < 16), " +
        cosineSumSql +
        ", cs AS (SELECT a_id AS vec_id, b_id AS cid, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS rn FROM s), " +
        "cell AS (SELECT vec_id, cid FROM cs WHERE rn = 1), " +
        "hh AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents), " +
        "l AS (SELECT doc_id, CASE " +
        "WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en' " +
        "WHEN es_hits >= de_hits AND es_hits >= fr_hits AND es_hits > 0 THEN 'es' " +
        "WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de' " +
        "WHEN fr_hits > 0 THEN 'fr' ELSE 'und' END AS lang_pred FROM " +
        "(SELECT doc_id, " +
        "len(list_filter(toks, w -> w IN ('the','a','of','and','to','in','is','it'))) AS en_hits, " +
        "len(list_filter(toks, w -> w IN ('el','la','de','que','y','en','un'))) AS es_hits, " +
        "len(list_filter(toks, w -> w IN ('der','die','das','und','ist','ein'))) AS de_hits, " +
        "len(list_filter(toks, w -> w IN ('le','la','de','et','un','une','est'))) AS fr_hits FROM hh) x), " +
        "j AS (SELECT cell.cid, l.lang_pred FROM cell JOIN l ON l.doc_id = cell.vec_id), " +
        "c2 AS (SELECT cid, lang_pred, CAST(count(1) AS BIGINT) AS n_docs FROM j GROUP BY 1, 2), " +
        "ct AS (SELECT cid, CAST(sum(n_docs) AS BIGINT) AS cn FROM c2 GROUP BY 1) " +
        "SELECT c2.cid, c2.lang_pred, c2.n_docs, " +
        "CAST(c2.n_docs * 1000 // ct.cn AS BIGINT) AS share_pm " +
        "FROM c2 JOIN ct USING (cid) ORDER BY cid, lang_pred"),
    "q_sim17_hybrid_served" -> (
      // served hybrid: the q_sim11 int8-IVF chain (5 probes, top-100
      // shortlist) as the vector lane + q_sim15's lexical and fusion CTEs
      // verbatim — both lanes replayed integer-exactly
      "WITH mx AS (SELECT max(list_max(list_transform(embedding, x -> abs(x::DOUBLE)))) AS mx FROM embeddings), " +
        "qz AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 127.0 / mx + 0.5) AS BIGINT)) AS qv FROM embeddings, mx), " +
        "p AS (SELECT e.vec_id AS a_id, c.vec_id AS b_id, e.embedding AS ea, c.embedding AS eb " +
        "FROM embeddings e JOIN embeddings c ON c.vec_id < 16), " +
        cosineSumSql +
        ", cs AS (SELECT a_id AS vec_id, b_id AS cid, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS rn FROM s), " +
        "cell AS (SELECT vec_id, cid FROM cs WHERE rn = 1), " +
        "probe AS (SELECT vec_id AS q_id, cid FROM cs WHERE vec_id < 5 AND rn <= 4), " +
        "cand AS (SELECT pr.q_id, t.vec_id AS n_id FROM probe pr " +
        "JOIN cell t ON t.cid = pr.cid AND t.vec_id <> pr.q_id), " +
        "iu AS (SELECT c.q_id, c.n_id, unnest(generate_series(1, 64)) AS i, a.qv AS qa, b.qv AS qb " +
        "FROM cand c JOIN qz a ON a.vec_id = c.q_id JOIN qz b ON b.vec_id = c.n_id), " +
        "idot AS (SELECT q_id, n_id, CAST(sum(qa[i] * qb[i]) AS BIGINT) AS qdot FROM iu GROUP BY q_id, n_id), " +
        "v AS (SELECT q_id, n_id, r_v FROM (SELECT q_id, n_id, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY qdot DESC, n_id) AS r_v FROM idot) t WHERE r_v <= 100), " +
        "ws AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS w FROM documents), " +
        "lx AS (SELECT a.doc_id AS q_id, b.doc_id AS n_id, " +
        "(len(list_intersect(a.w, b.w)) * 10000) // len(list_distinct(list_concat(a.w, b.w))) AS jac4 " +
        "FROM ws a JOIN ws b ON a.doc_id < 5 AND a.doc_id <> b.doc_id), " +
        "l AS (SELECT q_id, n_id, r_l FROM (SELECT q_id, n_id, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY jac4 DESC, n_id) AS r_l FROM lx) t " +
        "WHERE r_l <= 100), " +
        "f AS (SELECT coalesce(v.q_id, l.q_id) AS q_id, coalesce(v.n_id, l.n_id) AS n_id, " +
        "CAST(coalesce(v.r_v, 0) AS BIGINT) AS r_v, CAST(coalesce(l.r_l, 0) AS BIGINT) AS r_l, " +
        "CAST(coalesce(1000000 // (60 + v.r_v), 0) + coalesce(1000000 // (60 + l.r_l), 0) AS BIGINT) AS rrf_s " +
        "FROM v FULL OUTER JOIN l ON v.q_id = l.q_id AND v.n_id = l.n_id), " +
        "r AS (SELECT q_id, n_id, r_v, r_l, rrf_s, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY rrf_s DESC, n_id) AS rank FROM f) " +
        "SELECT q_id, n_id, r_v, r_l, rrf_s, CAST(rank AS BIGINT) AS rank " +
        "FROM r WHERE rank <= 10 ORDER BY q_id, rank"),
    "q_sim14_ivfpq" -> (
      // q_sim11's seeded cell/probe machinery + q_sim13's PQ machinery:
      // candidates = members of the 4 probed cells, scored by the integer
      // ADC (per-probe 8x16 LUT, 8 lookups per candidate) — the Faiss
      // IVFPQ shape, integer end-to-end after the one deterministic floor
      ivfPqAdcSql +
        ", r AS (SELECT q_id, n_id, adot, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY adot DESC, n_id) AS rank FROM ad) " +
        "SELECT q_id, n_id, adot, rank FROM r WHERE rank <= 10 ORDER BY q_id, rank"),
    "q_sim16_pq_rerank" -> (
      // two-stage refine: the q_sim14 ADC chain shortlists top-100 per
      // probe, then ONLY the shortlist is re-scored with the exact float
      // cosine (q_sim1's kernel shape) and re-ranked to a top-10 carrying
      // the stage-1 rank
      ivfPqAdcSql +
        ", r AS (SELECT q_id, n_id, adot, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY adot DESC, n_id) AS rank FROM ad), " +
        "sl AS (SELECT q_id, n_id, rank AS r_adc FROM r WHERE rank <= 100), " +
        "ru AS (SELECT sl.q_id, sl.n_id, sl.r_adc, unnest(generate_series(1, 64)) AS i, " +
        "qa.embedding AS ea, nb.embedding AS eb FROM sl " +
        "JOIN embeddings qa ON qa.vec_id = sl.q_id " +
        "JOIN embeddings nb ON nb.vec_id = sl.n_id), " +
        "rs AS (SELECT q_id, n_id, r_adc, sum(ea[i]::DOUBLE * eb[i]::DOUBLE) AS dot, " +
        "sum(ea[i]::DOUBLE * ea[i]::DOUBLE) AS na, sum(eb[i]::DOUBLE * eb[i]::DOUBLE) AS nb " +
        "FROM ru GROUP BY 1, 2, 3), " +
        "fin AS (SELECT q_id, n_id, ROUND(dot/(sqrt(na)*sqrt(nb)), 4) AS sim, r_adc, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, n_id) AS rank FROM rs) " +
        "SELECT q_id, n_id, sim, r_adc, rank FROM fin WHERE rank <= 10 ORDER BY q_id, rank"),
    "q_sim13_pq_adc" -> (
      // PQ replay: q_sim9's int8 lane, codebook = the vec_id<16 int8
      // seeds sliced into 8 sub-spaces × 16 codes; codes argmin exact
      // BIGINT squared-L2 (tiebreak lower code), ADC = per-probe LUT
      // sums — integer end-to-end after the one deterministic floor
      "WITH mx AS (SELECT max(list_max(list_transform(embedding, x -> abs(x::DOUBLE)))) AS mx FROM embeddings), " +
        "qz AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 127.0 / mx + 0.5) AS BIGINT)) AS qv FROM embeddings, mx), " +
        "cb AS (SELECT vec_id AS code, qv AS cq FROM qz WHERE vec_id < 16), " +
        "ms AS (SELECT unnest(generate_series(0, 7)) AS m), " +
        "js AS (SELECT unnest(generate_series(1, 8)) AS j), " +
        "cd AS (SELECT v.vec_id, ms.m, cb.code, " +
        "sum((v.qv[ms.m*8+js.j] - cb.cq[ms.m*8+js.j]) * (v.qv[ms.m*8+js.j] - cb.cq[ms.m*8+js.j])) AS d " +
        "FROM qz v, ms, cb, js GROUP BY 1, 2, 3), " +
        "codes AS (SELECT vec_id, m, code FROM (SELECT vec_id, m, code, " +
        "row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn FROM cd) t WHERE rn = 1), " +
        "lu AS (SELECT q.vec_id AS q_id, ms.m, cb.code, CAST(sum(q.qv[ms.m*8+js.j] * cb.cq[ms.m*8+js.j]) AS BIGINT) AS lt " +
        "FROM qz q, ms, cb, js WHERE q.vec_id < 10 GROUP BY 1, 2, 3), " +
        "ad AS (SELECT l.q_id, c.vec_id AS n_id, CAST(sum(l.lt) AS BIGINT) AS adot " +
        "FROM codes c JOIN lu l ON l.m = c.m AND l.code = c.code AND c.vec_id <> l.q_id " +
        "GROUP BY 1, 2), " +
        "pt AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY adot DESC, n_id) AS r FROM ad) t WHERE r <= 10), " +
        "p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.embedding AS ea, b.embedding AS eb " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND a.vec_id <> b.vec_id), " +
        cosineSumSql +
        ", f AS (SELECT q_id, n_id FROM (SELECT a_id AS q_id, b_id AS n_id, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS r FROM s) t WHERE r <= 10), " +
        "iu AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id, unnest(generate_series(1, 64)) AS i, a.qv AS qa, b.qv AS qb " +
        "FROM qz a JOIN qz b ON a.vec_id < 10 AND a.vec_id <> b.vec_id), " +
        "idot AS (SELECT q_id, n_id, sum(qa[i] * qb[i]) AS dot FROM iu GROUP BY q_id, n_id), " +
        "itop AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, n_id) AS r FROM idot) t WHERE r <= 10) " +
        "SELECT pt.q_id, " +
        "CAST(sum(CASE WHEN f.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS overlap_at_10, " +
        "CAST(sum(CASE WHEN itop.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS overlap_vs_int8 " +
        "FROM pt LEFT JOIN f USING (q_id, n_id) LEFT JOIN itop USING (q_id, n_id) " +
        "GROUP BY pt.q_id ORDER BY pt.q_id"),
    "q_sim10_mrl_recall" -> (
      // both lanes are q_sim1's float-cosine contract; the truncated lane
      // runs over the 16-dim prefix (list slice, deterministic both sides)
      "WITH p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.embedding AS ea, b.embedding AS eb " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND a.vec_id <> b.vec_id), " +
        cosineSumSql +
        ", f AS (SELECT a_id AS q_id, b_id AS n_id, row_number() OVER " +
        "(PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS r FROM s), " +
        "u16 AS (SELECT a_id, b_id, unnest(generate_series(1, 16)) AS i, ea, eb FROM p), " +
        "s16 AS (SELECT a_id, b_id, sum(ea[i]::DOUBLE * eb[i]::DOUBLE) AS dot, " +
        "sum(ea[i]::DOUBLE * ea[i]::DOUBLE) AS na, sum(eb[i]::DOUBLE * eb[i]::DOUBLE) AS nb " +
        "FROM u16 GROUP BY a_id, b_id), " +
        "t AS (SELECT a_id AS q_id, b_id AS n_id, row_number() OVER " +
        "(PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS r FROM s16) " +
        "SELECT f.q_id, CAST(sum(CASE WHEN t.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS overlap_at_10 " +
        "FROM (SELECT q_id, n_id FROM f WHERE r <= 10) f " +
        "LEFT JOIN (SELECT q_id, n_id FROM t WHERE r <= 10) t USING (q_id, n_id) " +
        "GROUP BY f.q_id ORDER BY f.q_id"),
    "q_sim7_centroid_assign" -> (
      // centroids round to 6 decimals BEFORE the cosine (the q_sim5
      // contract); dot products run sequentially in DOUBLE on both sides
      // (list_dot_product / aggregate over the array); similarity sums are
      // integer permyriad, never averaged doubles; argmax ties break on
      // the smaller label in both engines
      "WITH ex AS (SELECT label, unnest(embedding) AS x, unnest(range(len(embedding))) AS i FROM embeddings), " +
        "cd AS (SELECT label AS cl, i, ROUND(avg(CAST(x AS DOUBLE)), 6) AS a FROM ex GROUP BY 1, 2), " +
        "cent AS (SELECT cl, list(a ORDER BY i) AS cvec FROM cd GROUP BY cl), " +
        "sim AS (SELECT e.vec_id, e.label, c.cl, " +
        "list_dot_product(e.embedding::DOUBLE[], c.cvec) / " +
        "(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * " +
        "sqrt(list_dot_product(c.cvec, c.cvec))) AS cos " +
        "FROM embeddings e CROSS JOIN cent c), " +
        "best AS (SELECT vec_id, label, cl, cos, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cl) AS rn FROM sim) " +
        "SELECT label, count(1) AS n, " +
        "CAST(sum(CASE WHEN cl = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct, " +
        "CAST(sum(CAST(round(cos * 10000) AS BIGINT)) AS BIGINT) AS sim_e4 " +
        "FROM best WHERE rn = 1 GROUP BY label ORDER BY label"),
    "q_sim8_norm_profile" -> (
      // index-order double norms (the cosineSumSql contract), quantized to
      // integer permyriad BEFORE aggregation like q_sim7
      "WITH u AS (SELECT vec_id, label, unnest(generate_series(1, 64)) AS i, embedding AS e FROM embeddings), " +
        "s AS (SELECT vec_id, label, sum(e[i]::DOUBLE * e[i]::DOUBLE) AS nn FROM u GROUP BY vec_id, label), " +
        "q AS (SELECT label, CAST(round(sqrt(nn) * 10000) AS BIGINT) AS ne4 FROM s) " +
        "SELECT label, count(1) AS n_vecs, CAST(sum(ne4) AS BIGINT) AS sum_ne4, " +
        "min(ne4) AS min_ne4, max(ne4) AS max_ne4, " +
        "CAST(sum(CASE WHEN ne4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero " +
        "FROM q GROUP BY label ORDER BY label"),
    "q_sim2_lsh_ann" -> (
      // random-hyperplane signs recomputed from md5("p_i") — must mirror
      // Similarity.planeSign; dot summation in index order like cosineSumSql
      "WITH planes AS (SELECT p, i, CASE WHEN ('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 THEN 1 ELSE -1 END AS sg " +
        "FROM (SELECT unnest(generate_series(0, 7)) AS p) pp, (SELECT unnest(generate_series(1, 64)) AS i) ii), " +
        "dots AS (SELECT e.vec_id, pl.p, sum(e.embedding[pl.i]::DOUBLE * pl.sg) AS dot FROM embeddings e, planes pl GROUP BY e.vec_id, pl.p), " +
        "sigs AS (SELECT vec_id, CAST(sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket FROM dots GROUP BY vec_id), " +
        "p AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id, a.embedding AS ea, b.embedding AS eb " +
        "FROM sigs x JOIN sigs y ON x.bucket = y.bucket AND x.vec_id < y.vec_id " +
        "JOIN embeddings a ON a.vec_id = x.vec_id JOIN embeddings b ON b.vec_id = y.vec_id), " +
        cosineSumSql +
        " SELECT a_id, b_id, ROUND(dot/(sqrt(na)*sqrt(nb)), 4) AS sim FROM s " +
        "WHERE dot/(sqrt(na)*sqrt(nb)) >= 0.4 ORDER BY a_id, b_id"),
    "q_sim3_ivf_ann" -> (
      // IVF with seeded centroids (vec_id < 16), nprobe 4, exact rescoring —
      // mirrors Similarity.qSim3: assignment/probe tiebreak on lower cid,
      // candidate ranking tiebreak on n_id; cosine terms in index order
      "WITH p AS (SELECT e.vec_id AS a_id, c.vec_id AS b_id, e.embedding AS ea, c.embedding AS eb " +
        "FROM embeddings e JOIN embeddings c ON c.vec_id < 16), " +
        cosineSumSql +
        ", cs AS (SELECT a_id AS vec_id, b_id AS cid, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS rn FROM s), " +
        "cell AS (SELECT vec_id, cid FROM cs WHERE rn = 1), " +
        "probe AS (SELECT vec_id AS q_id, cid FROM cs WHERE vec_id < 10 AND rn <= 4), " +
        "p2 AS (SELECT pr.q_id AS a_id, t.vec_id AS b_id, a.embedding AS ea, b.embedding AS eb " +
        "FROM probe pr JOIN cell t ON t.cid = pr.cid AND t.vec_id <> pr.q_id " +
        "JOIN embeddings a ON a.vec_id = pr.q_id JOIN embeddings b ON b.vec_id = t.vec_id), " +
        "u2 AS (SELECT a_id, b_id, unnest(generate_series(1, 64)) AS i, ea, eb FROM p2), " +
        "s2 AS (SELECT a_id, b_id, sum(ea[i]::DOUBLE * eb[i]::DOUBLE) AS dot, " +
        "sum(ea[i]::DOUBLE * ea[i]::DOUBLE) AS na, sum(eb[i]::DOUBLE * eb[i]::DOUBLE) AS nb FROM u2 GROUP BY a_id, b_id), " +
        "r AS (SELECT a_id AS q_id, b_id AS n_id, dot/(sqrt(na)*sqrt(nb)) AS sim_raw, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS rank FROM s2) " +
        "SELECT q_id, n_id, ROUND(sim_raw, 4) AS sim, rank FROM r WHERE rank <= 3 ORDER BY q_id, rank"),
    "q_sim22_nprobe_sweep" -> (
      // q_sim3's assignment chain, probe-cell sets per nprobe in
      // {1,2,4,8,16}, ONE exact-cosine pass filtered per sweep point, and
      // integer recall/scan accounting (np=16 is the exact lane itself)
      "WITH p AS (SELECT e.vec_id AS a_id, c.vec_id AS b_id, e.embedding AS ea, c.embedding AS eb " +
        "FROM embeddings e JOIN embeddings c ON c.vec_id < 16), " +
        cosineSumSql +
        ", cs AS (SELECT a_id AS vec_id, b_id AS cid, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS rn FROM s), " +
        "cell AS (SELECT vec_id, cid FROM cs WHERE rn = 1), " +
        "nps AS (SELECT CAST(unnest([1, 2, 4, 8, 16]) AS BIGINT) AS np), " +
        "pn AS (SELECT n.np, cs.vec_id AS q_id, cs.cid FROM nps n " +
        "JOIN cs ON cs.vec_id < 10 AND cs.rn <= n.np), " +
        "p2 AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.embedding AS ea, b.embedding AS eb " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND a.vec_id <> b.vec_id), " +
        "u2 AS (SELECT a_id, b_id, unnest(generate_series(1, 64)) AS i, ea, eb FROM p2), " +
        "s2 AS (SELECT a_id, b_id, sum(ea[i]::DOUBLE * eb[i]::DOUBLE) AS dot, " +
        "sum(ea[i]::DOUBLE * ea[i]::DOUBLE) AS na, sum(eb[i]::DOUBLE * eb[i]::DOUBLE) AS nb FROM u2 GROUP BY a_id, b_id), " +
        "simf AS (SELECT a_id AS q_id, b_id AS n_id, dot/(sqrt(na)*sqrt(nb)) AS sim FROM s2), " +
        "rk AS (SELECT pn.np, simf.q_id, simf.n_id, " +
        "row_number() OVER (PARTITION BY pn.np, simf.q_id ORDER BY simf.sim DESC, simf.n_id) AS rank " +
        "FROM simf JOIN cell tb ON tb.vec_id = simf.n_id " +
        "JOIN pn ON pn.q_id = simf.q_id AND pn.cid = tb.cid), " +
        "topk AS (SELECT np, q_id, n_id FROM rk WHERE rank <= 10), " +
        "hits AS (SELECT r.np, CAST(count(1) AS BIGINT) AS hits FROM topk r " +
        "JOIN topk e ON e.np = 16 AND e.q_id = r.q_id AND e.n_id = r.n_id GROUP BY r.np), " +
        "sizes AS (SELECT cid, count(1) AS csz FROM cell GROUP BY cid), " +
        "sc AS (SELECT np, CAST(sum(csz) - 10 AS BIGINT) AS n_candidates FROM pn " +
        "JOIN sizes USING (cid) GROUP BY np), " +
        "ex AS (SELECT count(1) AS n_exact FROM topk WHERE np = 16), " +
        "nn AS (SELECT count(1) AS n FROM embeddings) " +
        // scans drive the output (zero-overlap points keep their row);
        // the recall denominator is the exact lane's measured row count
        "SELECT sc.np AS nprobe, " +
        "CAST(coalesce(h.hits, 0) * 1000 // ex.n_exact AS BIGINT) AS recall_pm, " +
        "sc.n_candidates, CAST((sc.n_candidates * 1000) // (10 * (nn.n - 1)) AS BIGINT) AS scan_pm " +
        "FROM sc LEFT JOIN hits h USING (np), nn, ex ORDER BY nprobe"),
    "q_sim4_ivf_kmeans" -> (
      // one Lloyd iteration from the vec_id<16 seeds: assign on seed sims,
      // recompute centroids as ROUND(mean, 6) per (cell, dim), reassign +
      // probe on the trained centroids — mirrors Similarity.qSim4 tiebreaks
      "WITH p AS (SELECT e.vec_id AS a_id, c.vec_id AS b_id, e.embedding AS ea, c.embedding AS eb " +
        "FROM embeddings e JOIN embeddings c ON c.vec_id < 16), " +
        cosineSumSql +
        ", cs0 AS (SELECT a_id AS vec_id, b_id AS cid, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS rn FROM s), " +
        "asg0 AS (SELECT vec_id, cid FROM cs0 WHERE rn = 1), " +
        "comp AS (SELECT a.cid AS cell, g.i, ROUND(avg(e.embedding[CAST(g.i AS INT)]::DOUBLE), 6) AS c " +
        "FROM asg0 a JOIN embeddings e ON e.vec_id = a.vec_id, " +
        "(SELECT unnest(generate_series(1, 64)) AS i) g GROUP BY a.cid, g.i), " +
        "vsim AS (SELECT e.vec_id, comp.cell AS cid, " +
        "sum(e.embedding[CAST(comp.i AS INT)]::DOUBLE * comp.c) AS dot, " +
        "sum(e.embedding[CAST(comp.i AS INT)]::DOUBLE * e.embedding[CAST(comp.i AS INT)]::DOUBLE) AS na, " +
        "sum(comp.c * comp.c) AS nb FROM embeddings e, comp GROUP BY e.vec_id, comp.cell), " +
        "cs AS (SELECT vec_id, cid, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, cid) AS rn FROM vsim), " +
        "cell AS (SELECT vec_id, cid FROM cs WHERE rn = 1), " +
        "probe AS (SELECT vec_id AS q_id, cid FROM cs WHERE vec_id < 10 AND rn <= 4), " +
        "p2 AS (SELECT pr.q_id AS a_id, t.vec_id AS b_id, a.embedding AS ea, b.embedding AS eb " +
        "FROM probe pr JOIN cell t ON t.cid = pr.cid AND t.vec_id <> pr.q_id " +
        "JOIN embeddings a ON a.vec_id = pr.q_id JOIN embeddings b ON b.vec_id = t.vec_id), " +
        "u2 AS (SELECT a_id, b_id, unnest(generate_series(1, 64)) AS i, ea, eb FROM p2), " +
        "s2 AS (SELECT a_id, b_id, sum(ea[i]::DOUBLE * eb[i]::DOUBLE) AS dot, " +
        "sum(ea[i]::DOUBLE * ea[i]::DOUBLE) AS na, sum(eb[i]::DOUBLE * eb[i]::DOUBLE) AS nb FROM u2 GROUP BY a_id, b_id), " +
        "r AS (SELECT a_id AS q_id, b_id AS n_id, dot/(sqrt(na)*sqrt(nb)) AS sim_raw, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS rank FROM s2) " +
        "SELECT q_id, n_id, ROUND(sim_raw, 4) AS sim, rank FROM r WHERE rank <= 3 ORDER BY q_id, rank"),
    "q_sim5_lang_centroids" -> (
      // per-(class, dim) mean, ROUND(·,6)-snapped like the IVF Lloyd step
      // (absorbs float sum-order differences between engines/partitions)
      "SELECT d.lang, CAST(g.i AS INT) AS i, ROUND(avg(e.embedding[g.i + 1]::DOUBLE), 6) AS c " +
        "FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id, " +
        "(SELECT unnest(generate_series(0, 63)) AS i) g " +
        "GROUP BY d.lang, g.i ORDER BY lang, i"),
    "q_m1_merge_classify" -> (mergeSnapshotsSql +
      " SELECT action, count(1) AS c FROM (" + mergeClassifySql("tgt", "t") +
      ") x GROUP BY action ORDER BY action"),
    "q_m2_merge_state" -> (mergeSnapshotsSql +
      " SELECT count(1) AS n, CAST(sum(('0x' || substr(md5(id || '|' || pk || '|' || text), 1, 8))::BIGINT) AS BIGINT) AS h FROM merged"),
    "q_m3_merge_idempotent" -> (mergeSnapshotsSql +
      " SELECT action, count(1) AS c FROM (" + mergeClassifySql("merged", "m") +
      ") x GROUP BY action ORDER BY action"),
    "q_m4_raw_classify" -> (
      // analytic ground truth: expected actions are pure doc_id arithmetic
      // (RawMerge snapshot construction), independent of any JSON machinery
      "SELECT action, count(1) AS c FROM (SELECT CASE " +
        "WHEN doc_id % 101 = 0 OR doc_id % 53 = 0 OR doc_id % 71 = 0 THEN 'error' " +
        "WHEN doc_id % 10 = 3 THEN 'insert' " +
        "WHEN doc_id % 10 = 7 THEN 'update' ELSE 'skip' END AS action " +
        "FROM documents) t GROUP BY action ORDER BY action"),
    "q_m5_raw_fidelity" -> (
      // byte-fidelity: rebuild the exact raw lines and checksum the merged
      // state — skips keep TARGET bytes, inserts/updates SOURCE bytes,
      // target rows whose source row errored survive
      "WITH m AS (SELECT doc_id, lang, source, " +
        "(doc_id % 101 = 0 OR doc_id % 53 = 0 OR doc_id % 71 = 0) AS err, " +
        "CAST(doc_id % 7 AS VARCHAR) AS v, " +
        "CAST(doc_id % 7 + CASE WHEN doc_id % 10 = 7 THEN 1 ELSE 0 END AS VARCHAR) AS v2 FROM documents), " +
        "srcs AS (SELECT doc_id, err, '{\"z\":1.0,\"id\":\"' || " +
        "CASE WHEN doc_id % 53 = 0 THEN '' ELSE CAST(doc_id AS VARCHAR) END || " +
        "'\",\"pk\":\"' || CASE WHEN doc_id % 71 = 0 THEN '' ELSE lang END || " +
        "'\",\"payload\":{\"a\":[{\"v\":' || v || ',\"_etag\":\"s\"}],\"src\":\"' || source || '\"},\"_ts\":1}' AS raw FROM m), " +
        "tgts AS (SELECT doc_id, '{\"id\":\"' || CAST(doc_id AS VARCHAR) || " +
        "'\",\"z\":1,\"_rid\":\"r\",\"pk\":\"' || lang || " +
        "'\",\"payload\":{\"src\":\"' || source || '\",\"a\":[{\"_etag\":\"t\",\"v\":' || v2 || '}]},\"_ts\":2}' AS raw " +
        "FROM m WHERE doc_id % 10 <> 3), " +
        "mg AS (SELECT t.raw FROM tgts t JOIN srcs s ON s.doc_id = t.doc_id WHERE s.err " +
        "UNION ALL SELECT s.raw FROM srcs s WHERE NOT s.err AND (s.doc_id % 10 = 3 OR s.doc_id % 10 = 7) " +
        "UNION ALL SELECT t.raw FROM tgts t JOIN srcs s ON s.doc_id = t.doc_id WHERE NOT s.err AND t.doc_id % 10 <> 7) " +
        "SELECT count(1) AS n, CAST(sum(('0x' || substr(md5(raw), 1, 8))::BIGINT) AS BIGINT) AS h FROM mg"),
    "q_k1_mask_pii" -> (
      // seed(x) = unsigned 32-bit md5 prefix (Hashing.md5h32); templates
      // mirror graft.functions.Masking generators exactly
      "WITH src AS (SELECT c_custkey, c_name AS name, c_mktsegment AS city, " +
        "CAST(c_custkey AS VARCHAR) AS accountnumber, " +
        "CAST(c_custkey % 97 AS DOUBLE) AS payrate, " +
        "CAST(c_nationkey AS BIGINT) AS ratingarea FROM customer) " +
        "SELECT c_custkey, " +
        "'Fn' || substr(md5(name), 1, 6) || ' Ln' || substr(md5(name), 1, 6) AS name, " +
        "'City' || substr(md5(city), 1, 6) AS city, " +
        "'BBAN' || lpad(CAST(('0x' || substr(md5(accountnumber), 1, 8))::BIGINT % 1000000000000 AS VARCHAR), 12, '0') AS accountnumber, " +
        "ROUND(15.0 + CAST(('0x' || substr(md5(CAST(payrate AS VARCHAR)), 1, 8))::BIGINT % 13500 AS DOUBLE) / 100.0, 2) AS payrate, " +
        "1 + ('0x' || substr(md5(CAST(ratingarea AS VARCHAR)), 1, 8))::BIGINT % 5 AS ratingarea " +
        "FROM src ORDER BY c_custkey"),
    "q_st1_tumbling" -> (
      "SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start, event_type, count(1) AS c " +
        "FROM events GROUP BY w_start, event_type ORDER BY w_start, event_type"),
    "q_st2_sliding" -> (
      // a 1h window sliding by 30m covers each event twice: the 30m-aligned
      // window starting at floor(ts, 30m) and the one 30m earlier
      "WITH b AS (SELECT time_bucket(INTERVAL '30 minutes', ts) AS s0, event_type FROM events), " +
        "w AS (SELECT s0 AS w_start, event_type FROM b " +
        "UNION ALL SELECT s0 - INTERVAL '30 minutes', event_type FROM b) " +
        "SELECT w_start, event_type, count(1) AS c FROM w GROUP BY w_start, event_type ORDER BY w_start, event_type"),
    "q_st3_session" -> (
      // gap-based sessionization (SURVEY Q-W3 lag + cumulative new-session
      // flags); session end = last event + 30m gap, as session_window defines
      "WITH o AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL " +
        "OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "s AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM o) " +
        "SELECT min(ts) AS s_start, max(ts) + INTERVAL '30 minutes' AS s_end, user_id, count(1) AS n " +
        "FROM s GROUP BY user_id, sid ORDER BY user_id, s_start"),
    "q_st4_dedup_count" -> (
      "SELECT count(DISTINCT event_id) AS n FROM events"),
    "q_st10_abandoned" -> (
      // clicks with NO purchase by the same user inside [c_ts, c_ts+30m)
      "WITH c AS (SELECT user_id, ts AS c_ts, event_id AS c_id FROM events WHERE event_type = 'click') " +
        "SELECT c.c_id, c.user_id FROM c WHERE NOT EXISTS (" +
        "SELECT 1 FROM events p WHERE p.event_type = 'purchase' " +
        "AND p.user_id = c.user_id AND p.ts >= c.c_ts " +
        "AND p.ts < c.c_ts + INTERVAL 30 MINUTE) ORDER BY c_id"),
    "q_st11_drift" -> (
      // total-variation drift between consecutive event-time hours,
      // cleared of denominators: tv4 = (1e4 * sum|c1*n2 - c2*n1|) DIV
      // (2*n1*n2) — non-negative numerator, so // and DIV agree
      "WITH " + driftCtes +
        " SELECT w_start, n1, n2, tv4 FROM dr ORDER BY w_start"),
    "q_st12_drift_alert" -> (
      // the k=2 consecutive debounce over the q_st11 frame: alert iff this
      // pair AND the pair one hour earlier both read tv4 >= 3000; an hour
      // gap (no comparable preceding pair) reports prev_tv4 = -1
      "WITH " + driftCtes +
        ", lg AS (SELECT w_start, tv4, " +
        "lag(w_start) OVER (ORDER BY w_start) AS pw, " +
        "lag(tv4) OVER (ORDER BY w_start) AS ptv FROM dr), " +
        "al AS (SELECT w_start, tv4, CAST(CASE WHEN pw = w_start - INTERVAL 1 HOUR " +
        "THEN ptv ELSE -1 END AS BIGINT) AS prev_tv4 FROM lg) " +
        "SELECT w_start, tv4, prev_tv4, " +
        "CAST(CASE WHEN tv4 >= 3000 AND prev_tv4 >= 3000 THEN 1 ELSE 0 END AS BIGINT) AS alert " +
        "FROM al ORDER BY w_start"),
    "q_st13_gate_verdict" -> (minhashSigSql +
      // the gate's three rejection lanes on a fixture batch (docs
      // 100..249) vs the eval frame (doc_id < 20): contaminated = shares
      // an 8-token gram (the q_t11 rule, precedence) > contaminated_fuzzy
      // = verified MinHash near-dup of an eval doc (the q_t24 chain:
      // band collision + shingle Jaccard >= 2000 e4) > dup = band key
      // shared with a smaller in-batch doc_id (q_d4 banding, min-id-wins)
      // > admit
      ", sig AS (SELECT doc_id, " + minhashMinsSql +
      " FROM h WHERE (doc_id >= 100 AND doc_id < 250) OR doc_id < 20 " +
      "GROUP BY doc_id), " +
      "bands AS (SELECT doc_id, 1 AS band, m1 || '_' || m2 AS bk FROM sig " +
      "UNION ALL SELECT doc_id, 2, m3 || '_' || m4 FROM sig), " +
      "bb AS (SELECT * FROM bands WHERE doc_id >= 100), " +
      "dup AS (SELECT DISTINCT b.doc_id FROM bb b " +
      "JOIN (SELECT band, bk, min(doc_id) AS first_id FROM bb GROUP BY band, bk) f " +
      "ON f.band = b.band AND f.bk = b.bk AND b.doc_id > f.first_id), " +
      "fcand AS (SELECT DISTINCT b.doc_id AS c_id, a.doc_id AS e_id " +
      "FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk " +
      "AND a.doc_id < 20 AND b.doc_id >= 100), " +
      "gs AS (SELECT doc_id, list_distinct(list(g)) AS gl FROM grams " +
      "WHERE doc_id < 20 OR (doc_id >= 100 AND doc_id < 250) " +
      "GROUP BY doc_id), " +
      "fz AS (SELECT c.c_id AS doc_id FROM fcand c " +
      "JOIN gs x ON c.c_id = x.doc_id JOIN gs y ON c.e_id = y.doc_id " +
      "GROUP BY c.c_id HAVING max((CAST(len(list_intersect(x.gl, y.gl)) AS BIGINT) * 10000) " +
      "// len(list_distinct(list_concat(x.gl, y.gl)))) >= 2000), " +
      "tok8 AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents), " +
      "ix8 AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i " +
      "FROM tok8 WHERE len(w) >= 8), " +
      "g8 AS (SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram FROM ix8), " +
      "ev AS (SELECT DISTINCT gram FROM g8 WHERE doc_id < 20), " +
      "ct AS (SELECT DISTINCT g8.doc_id FROM g8 JOIN ev USING (gram) " +
      "WHERE g8.doc_id >= 100 AND g8.doc_id < 250) " +
      "SELECT d.doc_id, CASE WHEN ct.doc_id IS NOT NULL THEN 'contaminated' " +
      "WHEN fz.doc_id IS NOT NULL THEN 'contaminated_fuzzy' " +
      "WHEN dup.doc_id IS NOT NULL THEN 'dup' ELSE 'admit' END AS verdict " +
      "FROM documents d LEFT JOIN ct ON ct.doc_id = d.doc_id " +
      "LEFT JOIN fz ON fz.doc_id = d.doc_id " +
      "LEFT JOIN dup ON dup.doc_id = d.doc_id " +
      "WHERE d.doc_id >= 100 AND d.doc_id < 250 ORDER BY d.doc_id"),
    "q_st7_funnel_join" -> (
      "WITH c AS (SELECT user_id, ts AS c_ts, event_id AS c_id FROM events WHERE event_type = 'click'), " +
        "p AS (SELECT user_id, ts AS p_ts, event_id AS p_id FROM events WHERE event_type = 'purchase') " +
        "SELECT c.c_id, p.p_id FROM c JOIN p ON c.user_id = p.user_id " +
        "AND p.p_ts >= c.c_ts AND p.p_ts < c.c_ts + INTERVAL 30 MINUTE " +
        "ORDER BY c_id, p_id"),
    "q_st5_incremental_merge" -> (
      // final state of the two-batch incremental merge == all events upserted
      // by (event_id, event_type) — batch split is irrelevant to the result
      "SELECT count(1) AS n, CAST(sum(('0x' || substr(md5(CAST(event_id AS VARCHAR) || '|' || event_type || '|' || props), 1, 8))::BIGINT) AS BIGINT) AS h FROM events"),
    "q_mm1_asset_features" -> (
      // documents.text is pure ASCII (verified), so char ops == byte ops
      "SELECT doc_id AS asset_id, CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind, " +
        "CAST(length(text) AS BIGINT) AS n_bytes, ('0x' || substr(md5(text), 1, 8))::BIGINT AS fp " +
        "FROM documents ORDER BY asset_id"),
    "q_mm2_frame_sample" -> (
      "WITH v AS (SELECT doc_id, text, length(text) // 4 AS flen FROM documents WHERE doc_id % 3 = 2), " +
        "f AS (SELECT doc_id, unnest(generate_series(0, 3)) AS i, text, flen FROM v) " +
        "SELECT doc_id AS asset_id, CAST(i AS INT) AS frame_idx, CAST(flen AS BIGINT) AS frame_len, " +
        "('0x' || substr(md5(substr(text, CAST(1 + i * flen AS INT), CAST(flen AS INT))), 1, 8))::BIGINT AS frame_fp " +
        "FROM f ORDER BY asset_id, frame_idx"),
    "q_mm3_resize" -> (
      // stride downsample: every k-th byte, k = ceil(n/256); text is ASCII so
      // character positions == byte offsets (mirrors Multimodal.resize)
      "WITH a AS (SELECT doc_id AS asset_id, text, len(text) AS n, " +
        "CAST(ceil(len(text) / 256.0) AS BIGINT) AS k FROM documents WHERE doc_id % 3 = 0), " +
        "u AS (SELECT asset_id, text, unnest(generate_series(1, n, greatest(k, 1))) AS i FROM a), " +
        "s AS (SELECT asset_id, string_agg(substr(text, CAST(i AS INT), 1), '' ORDER BY i) AS small " +
        "FROM u GROUP BY asset_id) " +
        "SELECT asset_id, CAST(len(small) AS BIGINT) AS r_len, " +
        "('0x' || substr(md5(small), 1, 8))::BIGINT AS r_fp FROM s ORDER BY asset_id"),
    // the HLL estimate itself is engine-specific; the checked contract is
    // "exact count matches AND the estimate is within the documented bound"
    "q_v3_approx_distinct" -> (
      "SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact, true AS within_bound FROM orders"),
    "q_mm4_decode_real" -> (
      // real PNG decode on the Spark side; the oracle replays the pixel
      // function (Multimodal.pngGray) arithmetically — PNG is lossless, so
      // only a correct decode reproduces these sums (r=g=b → 3× gray sum)
      "WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200), " +
        "g AS (SELECT doc_id, x.i AS x, y.i AS y FROM d, " +
        "(SELECT unnest(generate_series(0, 7)) AS i) x, " +
        "(SELECT unnest(generate_series(0, 7)) AS i) y) " +
        "SELECT doc_id AS asset_id, CAST(8 AS INT) AS w, CAST(8 AS INT) AS h, " +
        "CAST(3 * sum((doc_id * 31 + x * 7 + y * 13) % 256) AS BIGINT) AS px_sum " +
        "FROM g GROUP BY doc_id ORDER BY asset_id"),
    "q_mm11_tile_stats" -> (
      // 2x2 grid of 4x4 tiles over the 8x8 canvas; per-tile sums replay the
      // closed-form pixel function (3x gray per pixel, like q_mm4)
      "WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200), " +
        "g AS (SELECT doc_id, x.i AS x, y.i AS y FROM d, " +
        "(SELECT unnest(generate_series(0, 7)) AS i) x, " +
        "(SELECT unnest(generate_series(0, 7)) AS i) y) " +
        "SELECT doc_id AS asset_id, CAST(8 AS INT) AS w, CAST(8 AS INT) AS h, " +
        "CAST(3 * sum(CASE WHEN x < 4 AND y < 4 THEN (doc_id * 31 + x * 7 + y * 13) % 256 ELSE 0 END) AS BIGINT) AS t00, " +
        "CAST(3 * sum(CASE WHEN x >= 4 AND y < 4 THEN (doc_id * 31 + x * 7 + y * 13) % 256 ELSE 0 END) AS BIGINT) AS t01, " +
        "CAST(3 * sum(CASE WHEN x < 4 AND y >= 4 THEN (doc_id * 31 + x * 7 + y * 13) % 256 ELSE 0 END) AS BIGINT) AS t10, " +
        "CAST(3 * sum(CASE WHEN x >= 4 AND y >= 4 THEN (doc_id * 31 + x * 7 + y * 13) % 256 ELSE 0 END) AS BIGINT) AS t11 " +
        "FROM g GROUP BY doc_id ORDER BY asset_id"),
    "q_mm14_img_entropy" -> (
      // 16-bin gray histogram entropy surrogate over the closed-form
      // canvas: bin = g DIV 16, h_cb = sum c*(6 - floorlog2(c)) with the
      // length(bin(c))-1 idiom — PNG decode is lossless so counts replay
      "WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200), " +
        "g AS (SELECT doc_id, ((doc_id * 31 + x.i * 7 + y.i * 13) % 256) // 16 AS b FROM d, " +
        "(SELECT unnest(generate_series(0, 7)) AS i) x, " +
        "(SELECT unnest(generate_series(0, 7)) AS i) y), " +
        "hc AS (SELECT doc_id, b, CAST(count(1) AS BIGINT) AS c FROM g GROUP BY 1, 2) " +
        "SELECT doc_id AS asset_id, CAST(8 AS INT) AS w, CAST(8 AS INT) AS h, " +
        "CAST(count(1) AS BIGINT) AS n_levels, " +
        "CAST(sum(c * (6 - (length(bin(c)) - 1))) AS BIGINT) AS h_cb " +
        "FROM hc GROUP BY doc_id ORDER BY asset_id"),
    "q_mm19_img_ivf" -> (
      // served image ANN from the MmIvf feature index: 20-dim integer
      // features (16 hist bins ++ 4 tile sums) replayed from the closed
      // form; seeds = assets < 8; cells/probes ranked by cosine over
      // EXACT integer-valued doubles (order-free — every accumulator is
      // an integer < 2^53); serving distance = integer squared-L2
      "WITH " + mmFeatureSql +
        ", probe AS (SELECT id AS q_id, cid AS cell FROM rk WHERE id < 10 AND rn <= 2), " +
        "cand AS (SELECT p.q_id, a.id AS n_id FROM probe p " +
        "JOIN asg a ON a.cell = p.cell AND a.id <> p.q_id), " +
        "dp AS (SELECT c.q_id, c.n_id, x.f AS fa, y.f AS fb FROM cand c " +
        "JOIN fv x ON x.doc_id = c.q_id JOIN fv y ON y.doc_id = c.n_id), " +
        "du AS (SELECT q_id, n_id, unnest(generate_series(1, 20)) AS i, fa, fb FROM dp), " +
        "d2t AS (SELECT q_id, n_id, CAST(sum((fa[i] - fb[i]) * (fa[i] - fb[i])) AS BIGINT) AS d2 " +
        "FROM du GROUP BY 1, 2), " +
        "fin AS (SELECT q_id, n_id, d2, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY d2, n_id) AS rnk FROM d2t) " +
        "SELECT q_id, n_id, d2, CAST(rnk AS BIGINT) AS rnk FROM fin " +
        "WHERE rnk <= 5 ORDER BY q_id, rnk"),
    "q_mm21_audio_ivf" -> (
      // served audio ANN from the MmIvf AUDIO lane: 8 frame energies per
      // clip replayed from the closed-form PCM (the q_mm12 chain); seeds
      // = assets < 8; cells ranked by cosine over exact integer-valued
      // doubles; serving distance = integer squared-L2
      "WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200), " +
        "sam AS (SELECT doc_id, k.i AS k, " +
        "CAST((doc_id * 37 + k.i * 11) % 2048 - 1024 AS BIGINT) AS s FROM d, " +
        "(SELECT unnest(generate_series(0, 63)) AS i) k), " +
        "e AS (SELECT doc_id, k // 8 AS fr, CAST(sum(s * s) AS BIGINT) AS ef FROM sam GROUP BY 1, 2), " +
        "fv AS (SELECT doc_id, list(ef ORDER BY fr) AS f FROM e GROUP BY doc_id), " +
        "sd AS (SELECT doc_id AS cid, f AS cf FROM fv WHERE doc_id < 8), " +
        "pp AS (SELECT fv.doc_id AS id, sd.cid, fv.f AS fa, sd.cf AS fb FROM fv, sd), " +
        "uu AS (SELECT id, cid, unnest(generate_series(1, 8)) AS i, fa, fb FROM pp), " +
        "ss AS (SELECT id, cid, sum(fa[i]::DOUBLE * fb[i]::DOUBLE) AS dot, " +
        "sum(fa[i]::DOUBLE * fa[i]::DOUBLE) AS na, " +
        "sum(fb[i]::DOUBLE * fb[i]::DOUBLE) AS nb FROM uu GROUP BY 1, 2), " +
        "rk AS (SELECT id, cid, row_number() OVER (PARTITION BY id " +
        "ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, cid) AS rn FROM ss), " +
        "asg AS (SELECT id, cid AS cell FROM rk WHERE rn = 1), " +
        "probe AS (SELECT id AS q_id, cid AS cell FROM rk WHERE id < 10 AND rn <= 2), " +
        "cand AS (SELECT p.q_id, a.id AS n_id FROM probe p " +
        "JOIN asg a ON a.cell = p.cell AND a.id <> p.q_id), " +
        "dp AS (SELECT c.q_id, c.n_id, x.f AS fa, y.f AS fb FROM cand c " +
        "JOIN fv x ON x.doc_id = c.q_id JOIN fv y ON y.doc_id = c.n_id), " +
        "du AS (SELECT q_id, n_id, unnest(generate_series(1, 8)) AS i, fa, fb FROM dp), " +
        "d2t AS (SELECT q_id, n_id, CAST(sum((fa[i] - fb[i]) * (fa[i] - fb[i])) AS BIGINT) AS d2 " +
        "FROM du GROUP BY 1, 2), " +
        "fin AS (SELECT q_id, n_id, d2, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY d2, n_id) AS rnk FROM d2t) " +
        "SELECT q_id, n_id, d2, CAST(rnk AS BIGINT) AS rnk FROM fin " +
        "WHERE rnk <= 5 ORDER BY q_id, rnk"),
    "q_mm22_ext_ivf" -> (
      // served ANN over EXTERNAL encoder vectors: the embeddings column
      // (asset-bounded, int8-quantized with the subset max as scale - the
      // ivfPqAdcSql qz rule) through the same seed/cosine/probe/L2 chain
      "WITH mx AS (SELECT max(list_max(list_transform(embedding, x -> abs(x::DOUBLE)))) AS mx " +
        "FROM embeddings WHERE vec_id < 200), " +
        "fv AS (SELECT vec_id AS doc_id, list_transform(embedding, " +
        "x -> CAST(floor(x::DOUBLE * 127.0 / mx + 0.5) AS BIGINT)) AS f " +
        "FROM embeddings, mx WHERE vec_id < 200), " +
        "sd AS (SELECT doc_id AS cid, f AS cf FROM fv WHERE doc_id < 8), " +
        "pp AS (SELECT fv.doc_id AS id, sd.cid, fv.f AS fa, sd.cf AS fb FROM fv, sd), " +
        "uu AS (SELECT id, cid, unnest(generate_series(1, 64)) AS i, fa, fb FROM pp), " +
        "ss AS (SELECT id, cid, sum(fa[i]::DOUBLE * fb[i]::DOUBLE) AS dot, " +
        "sum(fa[i]::DOUBLE * fa[i]::DOUBLE) AS na, " +
        "sum(fb[i]::DOUBLE * fb[i]::DOUBLE) AS nb FROM uu GROUP BY 1, 2), " +
        "rk AS (SELECT id, cid, row_number() OVER (PARTITION BY id " +
        "ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, cid) AS rn FROM ss), " +
        "asg AS (SELECT id, cid AS cell FROM rk WHERE rn = 1), " +
        "probe AS (SELECT id AS q_id, cid AS cell FROM rk WHERE id < 10 AND rn <= 2), " +
        "cand AS (SELECT p.q_id, a.id AS n_id FROM probe p " +
        "JOIN asg a ON a.cell = p.cell AND a.id <> p.q_id), " +
        "dp AS (SELECT c.q_id, c.n_id, x.f AS fa, y.f AS fb FROM cand c " +
        "JOIN fv x ON x.doc_id = c.q_id JOIN fv y ON y.doc_id = c.n_id), " +
        "du AS (SELECT q_id, n_id, unnest(generate_series(1, 64)) AS i, fa, fb FROM dp), " +
        "d2t AS (SELECT q_id, n_id, CAST(sum((fa[i] - fb[i]) * (fa[i] - fb[i])) AS BIGINT) AS d2 " +
        "FROM du GROUP BY 1, 2), " +
        "fin AS (SELECT q_id, n_id, d2, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY d2, n_id) AS rnk FROM d2t) " +
        "SELECT q_id, n_id, d2, CAST(rnk AS BIGINT) AS rnk FROM fin " +
        "WHERE rnk <= 5 ORDER BY q_id, rnk"),
    "q_mm20_modal_consistency" -> (
      // cross-artifact audit: image near-dup pairs (within-cell, integer
      // squared-L2 <= ImgDupD2) flagged with whether the two DOCUMENTS
      // share a simhash dup component — both artifact chains replayed
      simhashPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ") +
        ", edges AS (SELECT a_id, b_id FROM sp UNION SELECT b_id, a_id FROM sp), " +
        "reach(id, lbl) AS (SELECT a_id AS id, a_id AS lbl FROM edges " +
        "UNION SELECT e.a_id, r.lbl FROM edges e JOIN reach r ON e.b_id = r.id), " +
        "comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id), " +
        mmFeatureSql +
        ", pr AS (SELECT a.id AS a_id, b.id AS b_id FROM asg a " +
        "JOIN asg b ON a.cell = b.cell AND a.id < b.id), " +
        "dp AS (SELECT pr.a_id, pr.b_id, x.f AS fa, y.f AS fb FROM pr " +
        "JOIN fv x ON x.doc_id = pr.a_id JOIN fv y ON y.doc_id = pr.b_id), " +
        "du AS (SELECT a_id, b_id, unnest(generate_series(1, 20)) AS i, fa, fb FROM dp), " +
        "d2t AS (SELECT a_id, b_id, CAST(sum((fa[i] - fb[i]) * (fa[i] - fb[i])) AS BIGINT) AS d2 " +
        "FROM du GROUP BY 1, 2), " +
        s"flt AS (SELECT a_id, b_id, d2 FROM d2t WHERE d2 <= ${graft.operators.MmIvf.ImgDupD2}) " +
        "SELECT f.a_id, f.b_id, f.d2, " +
        "CAST(CASE WHEN coalesce(cx.component, f.a_id) = coalesce(cy.component, f.b_id) " +
        "THEN 1 ELSE 0 END AS BIGINT) AS same_text_family " +
        "FROM flt f LEFT JOIN comp cx ON cx.id = f.a_id " +
        "LEFT JOIN comp cy ON cy.id = f.b_id ORDER BY f.a_id, f.b_id"),
    "q_mm13_jpeg_decode" -> (
      // real JPEG encode+decode on the Spark side; JPEG is LOSSY, so the
      // oracle checks the recovered decision LEVEL (constant-gray canvases
      // spaced 16 apart — robust to any mean decode error within ±8;
      // measured JDK error ≤ 2) plus the exact geometry
      "SELECT doc_id AS asset_id, CAST(8 AS INT) AS w, CAST(8 AS INT) AS h, " +
        "CAST((doc_id * 37) % 14 AS BIGINT) AS lvl " +
        "FROM documents WHERE doc_id < 200 ORDER BY asset_id"),
    "q_mm12_audio_dups" -> (
      // audio-fingerprint near-dups: the oracle replays the closed-form
      // PCM (Multimodal.wavSample), 8-frame energies, floor-log2 codes
      // (length(bin(x))-1, the q_t20 idiom), 2-band pigeonhole candidates
      // and the <= 1 differing-code verify — all exact integers
      "WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200), " +
        "sam AS (SELECT doc_id, k.i AS k, " +
        "CAST((doc_id * 37 + k.i * 11) % 2048 - 1024 AS BIGINT) AS s FROM d, " +
        "(SELECT unnest(generate_series(0, 63)) AS i) k), " +
        "e AS (SELECT doc_id, k // 8 AS f, sum(s * s) AS ef FROM sam GROUP BY 1, 2), " +
        "q AS (SELECT doc_id, f, CAST(length(bin(CAST(ef + 1 AS BIGINT))) - 1 AS BIGINT) AS qf FROM e), " +
        "v AS (SELECT doc_id, list(qf ORDER BY f) AS qs FROM q GROUP BY doc_id), " +
        "b AS (SELECT doc_id, 0 AS bi, qs[1] AS c1, qs[2] AS c2, qs[3] AS c3, qs[4] AS c4 FROM v " +
        "UNION ALL SELECT doc_id, 1, qs[5], qs[6], qs[7], qs[8] FROM v), " +
        "cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id FROM b x JOIN b y " +
        "ON x.bi = y.bi AND x.c1 = y.c1 AND x.c2 = y.c2 AND x.c3 = y.c3 AND x.c4 = y.c4 " +
        "AND x.doc_id < y.doc_id), " +
        "p2 AS (SELECT c.a_id, c.b_id, CAST(" +
        (1 to 8).map(f => s"CASE WHEN va.qs[$f] <> vb.qs[$f] THEN 1 ELSE 0 END")
          .mkString(" + ") + " AS BIGINT) AS n_diff " +
        "FROM cand c JOIN v va ON va.doc_id = c.a_id JOIN v vb ON vb.doc_id = c.b_id) " +
        "SELECT a_id, b_id, n_diff FROM p2 WHERE n_diff <= 1 ORDER BY a_id, b_id"),
    "q_mm5_audio_real" -> (
      // real WAV decode Spark-side; the oracle replays the PCM sample
      // function (Multimodal.wavSample) arithmetically — PCM is lossless
      "WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200), " +
        "g AS (SELECT doc_id, k.i AS k FROM d, " +
        "(SELECT unnest(generate_series(0, 63)) AS i) k) " +
        "SELECT doc_id AS asset_id, CAST(64 AS INT) AS w, CAST(1 AS INT) AS h, " +
        "CAST(sum((doc_id * 37 + k * 11) % 2048 - 1024) AS BIGINT) AS px_sum " +
        "FROM g GROUP BY doc_id ORDER BY asset_id"),
    "q_mm15_flip_dups" -> (
      // replay the closed-form canvas through all 8 dihedral orientations:
      // target (x,y) of orientation t reads source (sx,sy); bit k=y*8+x
      // set iff g_src*64 >= total; canonical = min of the 8 hex encodings
      "WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200), " +
        "tot AS (SELECT doc_id, sum((doc_id * 31 + x.i * 7 + y.i * 13) % 256) AS t " +
        "FROM d, (SELECT unnest(generate_series(0, 7)) AS i) x, " +
        "(SELECT unnest(generate_series(0, 7)) AS i) y GROUP BY doc_id), " +
        "tx AS (SELECT d.doc_id, tr.t AS o, y.i * 8 + x.i AS k, " +
        "CASE tr.t WHEN 0 THEN x.i WHEN 1 THEN 7 - x.i WHEN 2 THEN x.i WHEN 3 THEN 7 - x.i " +
        "WHEN 4 THEN y.i WHEN 5 THEN 7 - y.i WHEN 6 THEN y.i ELSE 7 - y.i END AS sx, " +
        "CASE tr.t WHEN 0 THEN y.i WHEN 1 THEN y.i WHEN 2 THEN 7 - y.i WHEN 3 THEN 7 - y.i " +
        "WHEN 4 THEN x.i WHEN 5 THEN x.i WHEN 6 THEN 7 - x.i ELSE 7 - x.i END AS sy " +
        "FROM d, (SELECT unnest(generate_series(0, 7)) AS i) x, " +
        "(SELECT unnest(generate_series(0, 7)) AS i) y, " +
        "(SELECT unnest(generate_series(0, 7)) AS t) tr), " +
        "bts AS (SELECT tx.doc_id, tx.o, tx.k, " +
        "CASE WHEN ((tx.doc_id * 31 + tx.sx * 7 + tx.sy * 13) % 256) * 64 >= tot.t " +
        "THEN 1::BIGINT ELSE 0::BIGINT END AS b FROM tx JOIN tot USING (doc_id)), " +
        "h AS (SELECT doc_id, o, " +
        "CAST(sum(CASE WHEN k < 16 THEN b << k ELSE 0 END) AS BIGINT) AS b0, " +
        "CAST(sum(CASE WHEN k BETWEEN 16 AND 31 THEN b << (k - 16) ELSE 0 END) AS BIGINT) AS b1, " +
        "CAST(sum(CASE WHEN k BETWEEN 32 AND 47 THEN b << (k - 32) ELSE 0 END) AS BIGINT) AS b2, " +
        "CAST(sum(CASE WHEN k >= 48 THEN b << (k - 48) ELSE 0 END) AS BIGINT) AS b3 " +
        "FROM bts GROUP BY doc_id, o), " +
        "c AS (SELECT doc_id, min(printf('%04x%04x%04x%04x', b0, b1, b2, b3)) AS chash " +
        "FROM h GROUP BY doc_id) " +
        "SELECT chash, CAST(count(1) AS BIGINT) AS n_assets, " +
        "CAST(min(doc_id) AS BIGINT) AS keeper FROM c " +
        "GROUP BY chash HAVING count(1) >= 2 ORDER BY chash"),
    "q_mm9_image_hash_dups" -> (
      // the oracle replays the pixel function arithmetically, builds the
      // same integer average-hash (bit k set iff g*64 >= sum), and runs
      // the same band-pigeonhole + Hamming verify; only a correct Spark
      // decode reproduces these pairs from real PNG bytes
      "WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200), " +
        "px AS (SELECT doc_id, y.i * 8 + x.i AS k, (doc_id * 31 + x.i * 7 + y.i * 13) % 256 AS g " +
        "FROM d, (SELECT unnest(generate_series(0, 7)) AS i) x, " +
        "(SELECT unnest(generate_series(0, 7)) AS i) y), " +
        "tot AS (SELECT doc_id, sum(g) AS t FROM px GROUP BY doc_id), " +
        "bts AS (SELECT px.doc_id, px.k, CASE WHEN px.g * 64 >= tot.t THEN 1::BIGINT ELSE 0::BIGINT END AS b " +
        "FROM px JOIN tot USING (doc_id)), " +
        "h AS (SELECT doc_id, " +
        "CAST(sum(CASE WHEN k < 16 THEN b << k ELSE 0 END) AS BIGINT) AS b0, " +
        "CAST(sum(CASE WHEN k BETWEEN 16 AND 31 THEN b << (k - 16) ELSE 0 END) AS BIGINT) AS b1, " +
        "CAST(sum(CASE WHEN k BETWEEN 32 AND 47 THEN b << (k - 32) ELSE 0 END) AS BIGINT) AS b2, " +
        "CAST(sum(CASE WHEN k >= 48 THEN b << (k - 48) ELSE 0 END) AS BIGINT) AS b3 " +
        "FROM bts GROUP BY doc_id), " +
        "p AS (SELECT a.doc_id AS a_id, c.doc_id AS b_id, " +
        "bit_count(xor(a.b0, c.b0)) + bit_count(xor(a.b1, c.b1)) + " +
        "bit_count(xor(a.b2, c.b2)) + bit_count(xor(a.b3, c.b3)) AS dist " +
        "FROM h a JOIN h c ON a.doc_id < c.doc_id AND " +
        "(a.b0 = c.b0 OR a.b1 = c.b1 OR a.b2 = c.b2 OR a.b3 = c.b3)) " +
        "SELECT a_id, b_id, CAST(dist AS BIGINT) AS dist FROM p " +
        "WHERE dist <= 3 ORDER BY a_id, b_id"),
    "q_mm10_png_meta" -> (
      // the Spark side parses REAL encoder output header bytes; the oracle
      // replays the closed-form geometry of Multimodal.pngMetaAssets —
      // every field varies per asset, so any offset/endianness defect in
      // the byte parse breaks the match
      "SELECT doc_id AS asset_id, CAST(4 + doc_id % 13 AS BIGINT) AS w, " +
        "CAST(4 + doc_id % 7 AS BIGINT) AS h, CAST(8 AS BIGINT) AS bit_depth, " +
        "CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 0 END AS BIGINT) AS color_type " +
        "FROM documents WHERE doc_id < 300 ORDER BY asset_id"),
    "q_mm6_video_frames" -> (
      // real multi-frame (animated GIF) decode Spark-side; the oracle
      // replays the frame-pixel function (Multimodal.gifGray)
      // arithmetically — palette GIF is lossless
      "WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200), " +
        "g AS (SELECT doc_id, f.i AS f, x.i AS x, y.i AS y FROM d, " +
        "(SELECT unnest(generate_series(0, 3)) AS i) f, " +
        "(SELECT unnest(generate_series(0, 7)) AS i) x, " +
        "(SELECT unnest(generate_series(0, 7)) AS i) y) " +
        "SELECT doc_id AS asset_id, CAST(f AS INT) AS frame_idx, " +
        "CAST(8 AS INT) AS w, CAST(8 AS INT) AS h, " +
        "CAST(sum((doc_id * 31 + f * 17 + x * 7 + y * 13) % 256) AS BIGINT) AS px_sum " +
        "FROM g GROUP BY doc_id, f ORDER BY asset_id, frame_idx"),
    "q_mm23_y4m_sample" -> (
      // real Y4M seek-sampled decode Spark-side (every 2nd frame of 4);
      // the oracle replays the frame-pixel function (Multimodal.y4mGray)
      // arithmetically — raw planes are lossless
      "WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200), " +
        "g AS (SELECT doc_id, f.i AS f, x.i AS x, y.i AS y FROM d, " +
        "(SELECT unnest([0, 2]) AS i) f, " +
        "(SELECT unnest(generate_series(0, 7)) AS i) x, " +
        "(SELECT unnest(generate_series(0, 7)) AS i) y) " +
        "SELECT doc_id AS asset_id, CAST(f AS INT) AS frame_idx, " +
        "CAST(8 AS INT) AS w, CAST(8 AS INT) AS h, " +
        "CAST(sum((doc_id * 23 + f * 17 + x * 5 + y * 11) % 256) AS BIGINT) AS px_sum " +
        "FROM g GROUP BY doc_id, f ORDER BY asset_id, frame_idx"),
    "q_mm24_mp4_meta" -> (
      // real ISO-BMFF box walk Spark-side (ftyp/mdat/moov: mvhd, tkhd,
      // stsd, stss, stsz); the oracle replays the closed forms the
      // generator writes INTO the boxes — duration 2000+(id%7)*500 ms
      // (round-tripped through the 600-unit mvhd timescale, exact),
      // 16.16 tkhd dims, fourcc by id%3, 25+(id%5)*6 samples with a
      // keyframe every 6 (ceil)
      "SELECT doc_id AS asset_id, " +
        "CAST(2000 + (doc_id % 7) * 500 AS BIGINT) AS duration_ms, " +
        "CAST(16 * (1 + doc_id % 4) AS BIGINT) AS width, " +
        "CAST(16 * (1 + doc_id % 3) AS BIGINT) AS height, " +
        "CASE doc_id % 3 WHEN 0 THEN 'avc1' WHEN 1 THEN 'hvc1' " +
        "ELSE 'av01' END AS codec, " +
        "CAST(25 + (doc_id % 5) * 6 AS BIGINT) AS n_samples, " +
        "CAST((25 + (doc_id % 5) * 6 + 5) // 6 AS BIGINT) AS n_keyframes " +
        "FROM documents WHERE doc_id < 200 ORDER BY asset_id"),
    "q_mm25_mp4_keyframes" -> (
      // Spark walks the REAL stss/stsz/stsc/stco tables (two-chunk
      // layout) for sync-sample byte ranges; the oracle replays the
      // muxer's closed forms — per-sample size 100+(id+s-1)%7, offsets a
      // running sum from the mdat payload base 32 (ftyp 24B + mdat hdr),
      // keyframes every 6th sample starting at 1. Chunk contiguity makes
      // the two-chunk layout one cumulative sum
      "WITH d AS (SELECT doc_id, 25 + (doc_id % 5) * 6 AS n " +
        "FROM documents WHERE doc_id < 200), " +
        "smp AS (SELECT doc_id, n, unnest(generate_series(1, n)) AS s FROM d), " +
        "cum AS (SELECT doc_id, s, 100 + (doc_id + s - 1) % 7 AS size, " +
        "32 + coalesce(sum(100 + (doc_id + s - 1) % 7) OVER " +
        "(PARTITION BY doc_id ORDER BY s " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off " +
        "FROM smp) " +
        "SELECT doc_id AS asset_id, CAST(s AS BIGINT) AS sample_no, " +
        "CAST(off AS BIGINT) AS frame_offset, " +
        "CAST(size AS BIGINT) AS frame_size " +
        "FROM cum WHERE (s - 1) % 6 = 0 ORDER BY asset_id, sample_no"),
    "q_mm26_mkv_meta" -> (
      // Spark walks REAL EBML structure (unknown-size Segment, Info
      // TimestampScale + float64 Duration, Tracks/TrackEntry/Video,
      // opaque Cluster skipped); the oracle replays the muxed closed
      // forms — 1 ms ticks make the float64 duration the exact integer
      "SELECT doc_id AS asset_id, " +
        "CAST(3000 + (doc_id % 5) * 250 AS BIGINT) AS duration_ms, " +
        "CAST(32 * (1 + doc_id % 3) AS BIGINT) AS width, " +
        "CAST(24 * (1 + doc_id % 4) AS BIGINT) AS height, " +
        "CASE doc_id % 3 WHEN 0 THEN 'V_MPEG4/ISO/AVC' " +
        "WHEN 1 THEN 'V_MPEGH/ISO/HEVC' ELSE 'V_AV1' END AS codec " +
        "FROM documents WHERE doc_id < 200 ORDER BY asset_id"),
    "q_mm27_mkv_keyframes" -> (
      // Spark walks the REAL Cluster SimpleBlock headers (keyframe flag
      // bit) cross-checked against the REAL Cues index; the oracle
      // replays the muxer's EBML offset algebra, which collapses to
      // frame_offset = 87 + len(codec) + 6b + 10*(b//4) + prefix-sum of
      // block sizes (segment data at 28, Info 23, Tracks 20+clen; each
      // cluster pays 6 header + 4 Timestamp = 10, each SimpleBlock 6);
      // keys = cluster-opening blocks plus the (id+b)%5 mid-cluster extras
      "WITH d AS (SELECT doc_id, 8 + (doc_id % 5) * 4 AS n " +
        "FROM documents WHERE doc_id < 200), " +
        "blk AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS b FROM d), " +
        "cum AS (SELECT doc_id, b, 40 + (doc_id + b) % 23 AS sz, " +
        "coalesce(sum(40 + (doc_id + b) % 23) OVER " +
        "(PARTITION BY doc_id ORDER BY b " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS psz " +
        "FROM blk) " +
        "SELECT doc_id AS asset_id, CAST(b + 1 AS BIGINT) AS block_no, " +
        "CAST(b * 40 AS BIGINT) AS t_ms, " +
        "CAST(87 + (CASE doc_id % 3 WHEN 0 THEN 15 WHEN 1 THEN 16 " +
        "ELSE 5 END) + 6 * b + 10 * (b // 4) + psz AS BIGINT) AS frame_offset, " +
        "CAST(sz AS BIGINT) AS frame_size " +
        "FROM cum WHERE b % 4 = 0 OR (b % 4 = 2 AND (doc_id + b) % 5 = 0) " +
        "ORDER BY asset_id, block_no"),
    "q_mm28_mp3_meta" -> (
      // Spark hops REAL MPEG-1 Layer III frame headers (ID3v2 skip,
      // bitrate/sample-rate indexes, padding bits); the oracle replays
      // the muxed closed forms — duration = frames * 1152 samples / rate
      "SELECT doc_id AS asset_id, " +
        "CAST(20 + (doc_id % 7) * 5 AS BIGINT) AS n_frames, " +
        "CAST(CASE doc_id % 3 WHEN 0 THEN 128 WHEN 1 THEN 192 " +
        "ELSE 256 END AS BIGINT) AS bitrate_kbps, " +
        "CAST(CASE (doc_id % 9) // 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 " +
        "ELSE 32000 END AS BIGINT) AS sample_rate, " +
        "CAST(((20 + (doc_id % 7) * 5) * 1152000) // " +
        "(CASE (doc_id % 9) // 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 " +
        "ELSE 32000 END) AS BIGINT) AS duration_ms " +
        "FROM documents WHERE doc_id < 200 ORDER BY asset_id"),
    "q_mm29_warc_records" -> (
      // Spark walks REAL WARC/1.0 records (version line, WARC-Type,
      // fixed-width Content-Length, record terminator); the oracle
      // replays the muxer's closed forms — header block 88+len(type)
      // bytes, payload lengths per kind, offsets one running sum
      "WITH d AS (SELECT doc_id, 1 + 2 * (2 + doc_id % 3) AS n " +
        "FROM documents WHERE doc_id < 200), " +
        "rec AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS r FROM d), " +
        "t AS (SELECT doc_id, r, " +
        "CASE WHEN r = 0 THEN 'warcinfo' WHEN r % 2 = 1 THEN 'request' " +
        "ELSE 'response' END AS typ, " +
        "CASE WHEN r = 0 THEN 30 + doc_id % 17 " +
        "WHEN r % 2 = 1 THEN 40 + (doc_id + 11 * r) % 23 " +
        "ELSE 147 + (3 * doc_id + 11 * r) % 53 END AS plen, " +
        "CASE WHEN r % 2 = 1 THEN 95 ELSE 96 END AS hdr FROM rec), " +
        "cum AS (SELECT doc_id, r, typ, plen, hdr, " +
        "coalesce(sum(hdr + plen + 4) OVER (PARTITION BY doc_id ORDER BY r " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base " +
        "FROM t) " +
        "SELECT doc_id AS asset_id, CAST(r + 1 AS BIGINT) AS record_no, " +
        "typ AS rec_type, CAST(base + hdr AS BIGINT) AS payload_offset, " +
        "CAST(plen AS BIGINT) AS payload_len " +
        "FROM cum ORDER BY asset_id, record_no"),
    "q_mm30_warc_http" -> (
      // the crawl-to-text step: HTTP/1.1 status + body byte range inside
      // each response payload (inner Content-Length cross-checked
      // Spark-side); the oracle adds the fixed 67-byte HTTP block to the
      // q_mm29 offset algebra and replays the status residue
      "WITH d AS (SELECT doc_id, 1 + 2 * (2 + doc_id % 3) AS n " +
        "FROM documents WHERE doc_id < 200), " +
        "rec AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS r FROM d), " +
        "t AS (SELECT doc_id, r, " +
        "CASE WHEN r = 0 THEN 30 + doc_id % 17 " +
        "WHEN r % 2 = 1 THEN 40 + (doc_id + 11 * r) % 23 " +
        "ELSE 147 + (3 * doc_id + 11 * r) % 53 END AS plen, " +
        "CASE WHEN r % 2 = 1 THEN 95 ELSE 96 END AS hdr FROM rec), " +
        "cum AS (SELECT doc_id, r, plen, hdr, " +
        "coalesce(sum(hdr + plen + 4) OVER (PARTITION BY doc_id ORDER BY r " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base " +
        "FROM t) " +
        "SELECT doc_id AS asset_id, CAST(r + 1 AS BIGINT) AS record_no, " +
        "CAST(CASE WHEN (doc_id + r) % 7 = 0 THEN 404 ELSE 200 END AS BIGINT) AS status, " +
        "CAST(base + hdr + 67 AS BIGINT) AS body_offset, " +
        "CAST(80 + (3 * doc_id + 11 * r) % 53 AS BIGINT) AS body_len " +
        "FROM cum WHERE r > 0 AND r % 2 = 0 ORDER BY asset_id, record_no"),
    "q_mm31_tar_members" -> (
      // Spark walks REAL ustar headers (verified checksums, octal
      // sizes, 512-byte block hops); the oracle replays the muxer's
      // closed forms — each member costs 512 + ceil(size/512)*512
      // bytes, offsets one running sum
      "WITH d AS (SELECT doc_id, 3 * (3 + doc_id % 4) AS n " +
        "FROM documents WHERE doc_id < 200), " +
        "mem AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS m FROM d), " +
        "t AS (SELECT doc_id, m, " +
        "CASE m % 3 WHEN 0 THEN 200 + (doc_id + 7 * (m // 3)) % 64 " +
        "WHEN 1 THEN 50 + (doc_id * 3 + (m // 3)) % 40 " +
        "ELSE 30 + (doc_id + 11 * (m // 3)) % 20 END AS sz, " +
        "printf('%06d', doc_id * 100 + m // 3) || " +
        "CASE m % 3 WHEN 0 THEN '.jpg' WHEN 1 THEN '.txt' " +
        "ELSE '.json' END AS name FROM mem), " +
        "cum AS (SELECT doc_id, m, name, sz, " +
        "coalesce(sum(512 + ((sz + 511) // 512) * 512) OVER " +
        "(PARTITION BY doc_id ORDER BY m " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base " +
        "FROM t) " +
        "SELECT doc_id AS asset_id, CAST(m + 1 AS BIGINT) AS member_no, " +
        "name, CAST(base + 512 AS BIGINT) AS data_offset, " +
        "CAST(sz AS BIGINT) AS size " +
        "FROM cum ORDER BY asset_id, member_no"),
    "q_mm32_wds_samples" -> (
      // WebDataset sample-integrity audit over the member map: per
      // sample key, member count, total bytes, modality flags — the
      // oracle replays the three modality closed forms per sample
      "WITH d AS (SELECT doc_id, 3 + doc_id % 4 AS ns " +
        "FROM documents WHERE doc_id < 200), " +
        "s AS (SELECT doc_id, unnest(generate_series(0, ns - 1)) AS k FROM d) " +
        "SELECT doc_id AS asset_id, " +
        "printf('%06d', doc_id * 100 + k) AS sample_key, " +
        "CAST(3 AS BIGINT) AS n_members, " +
        "CAST(280 + (doc_id + 7 * k) % 64 + (doc_id * 3 + k) % 40 + " +
        "(doc_id + 11 * k) % 20 AS BIGINT) AS total_bytes, " +
        "CAST(1 AS BIGINT) AS has_img, CAST(1 AS BIGINT) AS has_txt, " +
        "CAST(1 AS BIGINT) AS has_meta " +
        "FROM s ORDER BY asset_id, sample_key"),
    "q_mm33_sniff_profile" -> (
      // one pass over a MIXED six-format corpus: Spark sniffs magic
      // bytes and dispatches to the right container walk; the oracle
      // replays each residue class's closed forms (the mkv keyframe
      // count needs its block enumeration, hence the CTE)
      "WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200), " +
        "mkvk AS (SELECT doc_id, count(1) AS nk FROM " +
        "(SELECT d.doc_id, unnest(generate_series(0, 8 + (d.doc_id % 5) * 4 - 1)) AS b " +
        "FROM d WHERE d.doc_id % 6 = 1) x " +
        "WHERE b % 4 = 0 OR (b % 4 = 2 AND (doc_id + b) % 5 = 0) " +
        "GROUP BY doc_id) " +
        "SELECT d.doc_id AS asset_id, " +
        "CASE d.doc_id % 6 WHEN 0 THEN 'mp4' WHEN 1 THEN 'mkv' " +
        "WHEN 2 THEN 'mp3' WHEN 3 THEN 'warc' WHEN 4 THEN 'tar' " +
        "ELSE 'png' END AS format, " +
        "CAST(CASE d.doc_id % 6 " +
        "WHEN 0 THEN 2000 + (d.doc_id % 7) * 500 " +
        "WHEN 1 THEN 3000 + (d.doc_id % 5) * 250 " +
        "WHEN 2 THEN ((20 + (d.doc_id % 7) * 5) * 1152000) // " +
        "(CASE (d.doc_id % 9) // 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 " +
        "ELSE 32000 END) ELSE 0 END AS BIGINT) AS duration_ms, " +
        "CAST(CASE d.doc_id % 6 WHEN 0 THEN 16 * (1 + d.doc_id % 4) " +
        "WHEN 1 THEN 32 * (1 + d.doc_id % 3) " +
        "WHEN 5 THEN 4 + d.doc_id % 13 ELSE 0 END AS BIGINT) AS width, " +
        "CAST(CASE d.doc_id % 6 WHEN 0 THEN 16 * (1 + d.doc_id % 3) " +
        "WHEN 1 THEN 24 * (1 + d.doc_id % 4) " +
        "WHEN 5 THEN 4 + d.doc_id % 7 ELSE 0 END AS BIGINT) AS height, " +
        // n_items = independently-FETCHABLE items: video keyframes
        // (mp4 ceil(n/6) via stss, mkv via SimpleBlock flags), audio
        // frames, warc records, tar members, 1 per still image
        "CAST(CASE d.doc_id % 6 WHEN 0 THEN (25 + (d.doc_id % 5) * 6 + 5) // 6 " +
        "WHEN 1 THEN mkvk.nk " +
        "WHEN 2 THEN 20 + (d.doc_id % 7) * 5 " +
        "WHEN 3 THEN 5 + (d.doc_id % 3) * 2 " +
        "WHEN 4 THEN 3 * (3 + d.doc_id % 4) " +
        "ELSE 1 END AS BIGINT) AS n_items " +
        "FROM d LEFT JOIN mkvk ON mkvk.doc_id = d.doc_id " +
        "ORDER BY asset_id"),
    "q_mm34_flac_meta" -> (
      // Spark walks REAL FLAC metadata blocks (fLaC magic, last-flag
      // block chain, STREAMINFO's 64-bit packed field) and audits the
      // header against measured audio bytes; the oracle replays the
      // muxer's closed forms — duration = total samples * 1000 / rate,
      // block count 3 on even ids (VORBIS_COMMENT present) else 2
      "SELECT doc_id AS asset_id, " +
        "CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 " +
        "ELSE 96000 END AS BIGINT) AS sample_rate, " +
        "CAST(1 + doc_id % 2 AS BIGINT) AS channels, " +
        "CAST(16 + 8 * ((doc_id % 8) // 4) AS BIGINT) AS bits_per_sample, " +
        "CAST(100000 + (doc_id % 13) * 7777 AS BIGINT) AS total_samples, " +
        "CAST(2 + CASE doc_id % 2 WHEN 0 THEN 1 ELSE 0 END AS BIGINT) " +
        "AS n_meta_blocks, " +
        "CAST(((100000 + (doc_id % 13) * 7777) * 1000) // " +
        "(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 " +
        "ELSE 96000 END) AS BIGINT) AS duration_ms " +
        "FROM documents WHERE doc_id < 200 ORDER BY asset_id"),
    "q_mm7_motion_energy" -> (
      // temporal motion energy through the real GIF decode Spark-side;
      // the oracle replays |gifGray(f) - gifGray(f-1)| per pixel over
      // consecutive frame pairs f = 1..3
      "WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200), " +
        "g AS (SELECT doc_id, f.i AS f, x.i AS x, y.i AS y FROM d, " +
        "(SELECT unnest(generate_series(1, 3)) AS i) f, " +
        "(SELECT unnest(generate_series(0, 7)) AS i) x, " +
        "(SELECT unnest(generate_series(0, 7)) AS i) y) " +
        "SELECT doc_id AS asset_id, CAST(4 AS INT) AS n_frames, " +
        "CAST(sum(abs((doc_id * 31 + f * 17 + x * 7 + y * 13) % 256 - " +
        "(doc_id * 31 + (f - 1) * 17 + x * 7 + y * 13) % 256)) AS BIGINT) AS motion " +
        "FROM g GROUP BY doc_id ORDER BY asset_id"),
    "q_mm16_keyframes" -> (
      // keyframes: per-pair deltas from the gifGray closed form, a frame
      // keys iff delta * n_pairs > total (strictly above average); frame 0
      // always keys (bit 0 of the mask)
      "WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200), " +
        "g AS (SELECT doc_id, f.i AS f, x.i AS x, y.i AS y FROM d, " +
        "(SELECT unnest(generate_series(1, 3)) AS i) f, " +
        "(SELECT unnest(generate_series(0, 7)) AS i) x, " +
        "(SELECT unnest(generate_series(0, 7)) AS i) y), " +
        "df AS (SELECT doc_id, f, " +
        "CAST(sum(abs((doc_id * 31 + f * 17 + x * 7 + y * 13) % 256 - " +
        "(doc_id * 31 + (f - 1) * 17 + x * 7 + y * 13) % 256)) AS BIGINT) AS dlt " +
        "FROM g GROUP BY doc_id, f), " +
        "t AS (SELECT doc_id, CAST(sum(dlt) AS BIGINT) AS total FROM df GROUP BY doc_id) " +
        "SELECT df.doc_id AS asset_id, CAST(4 AS INT) AS n_frames, " +
        "CAST(1 + sum(CASE WHEN df.dlt * 3 > t.total THEN 1 ELSE 0 END) AS INT) AS n_key, " +
        "CAST(1 + sum(CASE WHEN df.dlt * 3 > t.total THEN CAST(1 AS BIGINT) << df.f ELSE 0 END) AS BIGINT) AS key_mask " +
        "FROM df JOIN t USING (doc_id) GROUP BY df.doc_id ORDER BY asset_id"),
    "q_u4_flatten" -> (
      "SELECT doc_id, path, value FROM (" +
        "SELECT doc_id, 'lang' AS path, lang AS value FROM documents " +
        "UNION ALL SELECT doc_id, 'n_chars', CAST(n_chars AS VARCHAR) FROM documents " +
        "UNION ALL SELECT doc_id, 'source', source FROM documents " +
        "UNION ALL SELECT doc_id, 'text', text FROM documents) t " +
        "ORDER BY doc_id, path"),
  )

  /** q_d8's oracle — banded sign-LSH candidates (4 bands × 6 planes,
    * md5-seeded signs mirroring Similarity.planeSign) + exact rescore at
    * 0.4; the oracle replicates the banding, so the declared LSH contract
    * is hash-exact. Shared: q_d9's recursive-CTE components run over this
    * pair set. */
  // lazy: references cosineSumSql, declared further down the object body
  /** Connected components over the qD8 pair graph as a recursive CTE (min
    * reachable id per node) — an independent algorithm validating the
    * distributed star rounds; shared by q_d9 and the q_g3 histogram. */
  private lazy val oracleSqlD9: String =
    "WITH RECURSIVE pairs AS (SELECT a_id, b_id FROM (" + oracleSqlD8 + ") t), " +
      "edges AS (SELECT a_id, b_id FROM pairs UNION SELECT b_id, a_id FROM pairs), " +
      "reach(id, lbl) AS (" +
      "SELECT a_id AS id, a_id AS lbl FROM edges " +
      "UNION SELECT e.a_id, r.lbl FROM edges e JOIN reach r ON e.b_id = r.id) " +
      "SELECT id, min(lbl) AS component FROM reach GROUP BY id ORDER BY id"

  private lazy val oracleSqlD8: String =
    "WITH planes AS (SELECT p, i, CASE WHEN ('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 THEN 1 ELSE -1 END AS sg " +
      "FROM (SELECT unnest(generate_series(0, 23)) AS p) pp, (SELECT unnest(generate_series(1, 64)) AS i) ii), " +
      "dots AS (SELECT e.vec_id, pl.p, sum(e.embedding[pl.i]::DOUBLE * pl.sg) AS dot FROM embeddings e, planes pl GROUP BY e.vec_id, pl.p), " +
      "sigs AS (SELECT vec_id, p // 6 AS band, CAST(sum(CASE WHEN dot >= 0 THEN (1::BIGINT << (p % 6)) ELSE 0 END) AS BIGINT) AS bv " +
      "FROM dots GROUP BY vec_id, p // 6), " +
      "cand AS (SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id FROM sigs x " +
      "JOIN sigs y ON x.band = y.band AND x.bv = y.bv AND x.vec_id < y.vec_id), " +
      "p AS (SELECT c.a_id, c.b_id, a.embedding AS ea, b.embedding AS eb FROM cand c " +
      "JOIN embeddings a ON a.vec_id = c.a_id JOIN embeddings b ON b.vec_id = c.b_id), " +
      cosineSumSql +
      " SELECT a_id, b_id, ROUND(dot/(sqrt(na)*sqrt(nb)), 4) AS sim FROM s " +
      "WHERE dot/(sqrt(na)*sqrt(nb)) >= 0.4 ORDER BY a_id, b_id"

  // ---- shared DuckDB oracle fragments (merge engine) ----
  // Deterministic source/target snapshots derived from `documents`; must
  // mirror RawMerge.sourceLines / RawMerge.targetLines exactly.

  private val mergeSnapshotsSql: String =
    "WITH src AS (SELECT CASE WHEN doc_id % 53 = 0 THEN NULL ELSE CAST(doc_id AS VARCHAR) END AS id, " +
      "CASE WHEN doc_id % 71 = 0 THEN '' ELSE lang END AS pk, text FROM documents), " +
      "tgt AS (SELECT CAST(doc_id AS VARCHAR) AS id, lang AS pk, " +
      "CASE WHEN doc_id % 10 = 7 THEN text || ' [stale]' ELSE text END AS text " +
      "FROM documents WHERE doc_id % 10 <> 3), " +
      "vsrc AS (SELECT * FROM src WHERE id IS NOT NULL AND id <> '' AND pk IS NOT NULL AND pk <> ''), " +
      "merged AS (SELECT coalesce(s.id, t.id) AS id, coalesce(s.pk, t.pk) AS pk, coalesce(s.text, t.text) AS text " +
      "FROM vsrc s FULL JOIN tgt t ON s.id = t.id AND s.pk = t.pk)"

  /** Per-row action CASE over `src LEFT JOIN <rel>` (reference branch order:
    * error → insert → skip → update, migration.py:91-146). */
  private def mergeClassifySql(rel: String, a: String): String =
    "SELECT CASE WHEN s.id IS NULL OR s.id = '' OR s.pk IS NULL OR s.pk = '' THEN 'error' " +
      s"WHEN $a.id IS NULL THEN 'insert' " +
      s"WHEN s.text = $a.text THEN 'skip' ELSE 'update' END AS action " +
      s"FROM src s LEFT JOIN $rel $a ON s.id = $a.id AND s.pk = $a.pk"

  // ---- shared DuckDB oracle fragments (minhash / simhash / cosine) ----
  // Constants mirror graft.functions.Hashing.MinhashParams / MinhashPrime.

  /** CTEs: documents → word arrays → distinct 3-gram shingles → 32-bit md5 hashes. */
  private val minhashSigSql: String =
    "WITH ws AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents), " +
      "idx AS (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w)-2, 0))) AS i FROM ws), " +
      "grams AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g FROM idx), " +
      "h AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT AS hv FROM grams)"

  private val minhashMinsSql: String =
    "min((1000003*hv + 12345) % 4294967311) AS m1, min((2000003*hv + 54321) % 4294967311) AS m2, " +
      "min((3000017*hv + 98765) % 4294967311) AS m3, min((4000037*hv + 13579) % 4294967311) AS m4"

  /** CTEs ending in `sh(doc_id, simhash)`: 32-bit simhash by per-bit majority
    * vote over md5 token hashes. */
  private val simhashSql: String =
    "WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents), " +
      "h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS hv FROM tok), " +
      "bits AS (SELECT doc_id, hv, unnest(generate_series(0, 31)) AS b FROM h), " +
      "votes AS (SELECT doc_id, b, sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v FROM bits GROUP BY doc_id, b), " +
      "sh AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash FROM votes GROUP BY doc_id)"

  /** [[simhashSql]] extended with CTE `sp`: the canonical (a_id < b_id)
    * Hamming<=2 pair set — the qD6 candidate graph the edit-verify and
    * graph-diagnostic oracles build on. */
  private val simhashPairsSql: String = simhashSql +
    ", sp AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM sh a JOIN sh b " +
    "ON a.doc_id < b.doc_id WHERE bit_count(xor(a.simhash, b.simhash)) <= 2)"

  /** Fixed-round k-core(k) peel oracle: chained CTEs, one (degree,
    * survivor-edge) pair per round, replaying [[graft.operators.Dedup
    * .kcorePeel]]'s recurrence exactly — `k` parameterizes the survival
    * bound (q_g7 pins k=2, q_g8 k=3). */
  private def kcoreOracleSql(k: Int): String = simhashPairsSql +
    ", e0 AS (SELECT a_id AS u, b_id AS v FROM sp)" +
    (1 to graft.operators.Dedup.KCoreIters).map { i =>
      s", d$i AS (SELECT id, count(1) AS c FROM (SELECT u AS id FROM e${i - 1} " +
        s"UNION ALL SELECT v FROM e${i - 1}) t GROUP BY id), " +
        s"k$i AS (SELECT id FROM d$i WHERE c >= $k), " +
        s"e$i AS (SELECT u, v FROM e${i - 1} " +
        s"WHERE u IN (SELECT id FROM k$i) AND v IN (SELECT id FROM k$i))"
    }.mkString +
    " " +
    (0 to graft.operators.Dedup.KCoreIters).map { i =>
      s"SELECT CAST($i AS BIGINT) AS iter, " +
        s"(SELECT count(DISTINCT id) FROM (SELECT u AS id FROM e$i " +
        s"UNION ALL SELECT v FROM e$i) t) AS n_nodes, " +
        s"(SELECT count(1) FROM e$i) AS n_edges"
    }.mkString(" UNION ALL ") +
    " ORDER BY iter"

  /** Fixed-round k-truss peel oracle ([[kcoreOracleSql]]'s edge-level
    * sibling): per round, per-edge triangle support via two adjacency
    * joins, then the `sup >= k - 2` survival filter — replaying
    * [[graft.operators.Dedup.ktrussPeel]]'s recurrence exactly. */
  private def ktrussOracleSql(k: Int): String = simhashPairsSql +
    ", f0 AS (SELECT a_id AS u, b_id AS v FROM sp)" +
    (1 to graft.operators.Dedup.KCoreIters).map { i =>
      s", fd$i AS (SELECT u, v FROM f${i - 1} UNION ALL SELECT v, u FROM f${i - 1}), " +
        s"fs$i AS (SELECT e.u, e.v, count(1) AS sup FROM f${i - 1} e " +
        s"JOIN fd$i a ON a.u = e.u AND a.v <> e.v " +
        s"JOIN fd$i b ON b.u = e.v AND b.v = a.v GROUP BY e.u, e.v), " +
        s"f$i AS (SELECT e.u, e.v FROM f${i - 1} e JOIN fs$i s " +
        s"ON s.u = e.u AND s.v = e.v WHERE s.sup >= ${k - 2})"
    }.mkString +
    " " +
    (0 to graft.operators.Dedup.KCoreIters).map { i =>
      s"SELECT CAST($i AS BIGINT) AS iter, " +
        s"(SELECT count(DISTINCT id) FROM (SELECT u AS id FROM f$i " +
        s"UNION ALL SELECT v FROM f$i) t) AS n_nodes, " +
        s"(SELECT count(1) FROM f$i) AS n_edges"
    }.mkString(" UNION ALL ") +
    " ORDER BY iter"

  /** The MmIvf image-feature CTE chain shared by q_mm19 / q_mm20 (CTE
    * bodies only — the consumer supplies `WITH `): closed-form canvas
    * pixels → 16-bin first-channel histogram ++ 4 channel-summed quadrant
    * tile sums (the 20-dim integer feature) → seed centroids (assets < 8)
    * → cosine cell ranking over exactly-represented integer doubles. Ends
    * with `fv` (doc_id, f), `rk` (ranked cells), `asg` (cell assignment). */
  private def mmFeatureSql: String =
    "d AS (SELECT doc_id FROM documents WHERE doc_id < 200), " +
      "px AS (SELECT doc_id, x.i AS x, y.i AS y, (doc_id * 31 + x.i * 7 + y.i * 13) % 256 AS g " +
      "FROM d, (SELECT unnest(generate_series(0, 7)) AS i) x, " +
      "(SELECT unnest(generate_series(0, 7)) AS i) y), " +
      "hb AS (SELECT doc_id, g // 16 AS b, count(1) AS c FROM px GROUP BY 1, 2), " +
      "bins AS (SELECT db.doc_id, db.b, coalesce(hb.c, 0) AS c FROM " +
      "(SELECT d.doc_id, b.i AS b FROM d, " +
      "(SELECT unnest(generate_series(0, 15)) AS i) b) db " +
      "LEFT JOIN hb ON hb.doc_id = db.doc_id AND hb.b = db.b), " +
      "hv AS (SELECT doc_id, list(c ORDER BY b) AS h FROM bins GROUP BY doc_id), " +
      "tl AS (SELECT doc_id, " +
      "3 * sum(CASE WHEN x < 4 AND y < 4 THEN g ELSE 0 END) AS t00, " +
      "3 * sum(CASE WHEN x >= 4 AND y < 4 THEN g ELSE 0 END) AS t01, " +
      "3 * sum(CASE WHEN x < 4 AND y >= 4 THEN g ELSE 0 END) AS t10, " +
      "3 * sum(CASE WHEN x >= 4 AND y >= 4 THEN g ELSE 0 END) AS t11 FROM px GROUP BY doc_id), " +
      "fv AS (SELECT hv.doc_id, list_concat(h, [t00, t01, t10, t11]) AS f " +
      "FROM hv JOIN tl USING (doc_id)), " +
      "sd AS (SELECT doc_id AS cid, f AS cf FROM fv WHERE doc_id < 8), " +
      "pp AS (SELECT fv.doc_id AS id, sd.cid, fv.f AS fa, sd.cf AS fb FROM fv, sd), " +
      "uu AS (SELECT id, cid, unnest(generate_series(1, 20)) AS i, fa, fb FROM pp), " +
      "ss AS (SELECT id, cid, sum(fa[i]::DOUBLE * fb[i]::DOUBLE) AS dot, " +
      "sum(fa[i]::DOUBLE * fa[i]::DOUBLE) AS na, " +
      "sum(fb[i]::DOUBLE * fb[i]::DOUBLE) AS nb FROM uu GROUP BY 1, 2), " +
      "rk AS (SELECT id, cid, row_number() OVER (PARTITION BY id " +
      "ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, cid) AS rn FROM ss), " +
      "asg AS (SELECT id, cid AS cell FROM rk WHERE rn = 1)"

  /** The cohesion-gated keeper chain shared by q_t39 / q_t26 — replays
    * [[graft.operators.Dedup.gatedKeepMembers]] over the SEVERED graph
    * (round 16): weak edges (zero triangle support, the q_g11 cut-set)
    * refuted by endpoint edit distance beyond
    * [[graft.operators.Dedup.SeverEditBound]] are dropped; the surviving
    * edges drive the q_g6 fixed-round LPA chain, the severed components
    * (isolated nodes become their own singleton family, trivially safe),
    * the q_g10 cohesion stats, and the declared gate
    * ([[graft.operators.Dedup.SafeDensityPm]] /
    * [[graft.operators.Dedup.SafeMeanHamC]]). Rank centrality stays the
    * q_g4 integer pagerank over the RAW graph — severing changes
    * grouping, not the centrality definition (the engine's severed/ lane
    * copies rank_e6 from clusters/).
    * Ends with CTE `pick` (id, component, rank_e6, mode, group_id, rn);
    * consumers append their own projection. RECURSIVE is already applied
    * (the reach() components CTE needs it). */
  private def gatedPickSql: String =
    simhashPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ") +
      ", ed AS (SELECT a_id AS s, b_id AS t FROM sp UNION ALL SELECT b_id, a_id FROM sp), " +
      "dg AS (SELECT s, count(1) AS deg FROM ed GROUP BY s), " +
      "r0 AS (SELECT s AS id, CAST(1000000 AS BIGINT) AS r FROM dg)" +
      (1 to graft.operators.Dedup.PageRankIters).map { i =>
        s", r$i AS (SELECT e.t AS id, 150000 + (85 * sum(r.r // d.deg)) // 100 AS r " +
          s"FROM ed e JOIN r${i - 1} r ON e.s = r.id JOIN dg d ON d.s = e.s GROUP BY e.t)"
      }.mkString +
      // SEVERING (the q_g12 chain): weak = zero-triangle edges, refuted =
      // endpoint edit distance past the bound, sv = surviving edge set
      ", wsupp AS (SELECT DISTINCT t.a_id, t.b_id FROM sp t " +
      "JOIN ed x ON x.s = t.a_id JOIN ed y ON y.s = t.b_id AND y.t = x.t), " +
      "wk AS (SELECT t.a_id, t.b_id FROM sp t LEFT JOIN wsupp s " +
      "ON s.a_id = t.a_id AND s.b_id = t.b_id WHERE s.a_id IS NULL), " +
      "ref AS (SELECT w.a_id, w.b_id FROM wk w " +
      "JOIN documents da ON da.doc_id = w.a_id " +
      "JOIN documents db ON db.doc_id = w.b_id " +
      s"WHERE levenshtein(da.text, db.text) > ${graft.operators.Dedup.SeverEditBound}), " +
      "sv AS (SELECT t.a_id, t.b_id FROM sp t LEFT JOIN ref r " +
      "ON r.a_id = t.a_id AND r.b_id = t.b_id WHERE r.a_id IS NULL), " +
      "sed AS (SELECT a_id AS s, b_id AS t FROM sv UNION ALL SELECT b_id, a_id FROM sv), " +
      "l0 AS (SELECT DISTINCT s AS id, s AS lbl FROM sed)" +
      (1 to graft.operators.Dedup.LabelPropIters).map { i =>
        s", lc$i AS (SELECT e.s AS id, l.lbl, count(1) AS c " +
          s"FROM sed e JOIN l${i - 1} l ON e.t = l.id GROUP BY 1, 2), " +
          s"l$i AS (SELECT id, lbl FROM (SELECT id, lbl, row_number() OVER " +
          s"(PARTITION BY id ORDER BY c DESC, lbl) AS rn FROM lc$i) t WHERE rn = 1)"
      }.mkString +
      ", sedges AS (SELECT a_id, b_id FROM sv UNION SELECT b_id, a_id FROM sv), " +
      "reach(id, lbl) AS (SELECT a_id AS id, a_id AS lbl FROM sedges " +
      "UNION SELECT e.a_id, r.lbl FROM sedges e JOIN reach r ON e.b_id = r.id), " +
      "comp0 AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id), " +
      "rawn AS (SELECT DISTINCT s AS id FROM ed), " +
      "comp AS (SELECT rawn.id, coalesce(c.component, rawn.id) AS component " +
      "FROM rawn LEFT JOIN comp0 c ON c.id = rawn.id), " +
      "cm AS (SELECT component, count(1) AS n_members FROM comp GROUP BY 1), " +
      "ceh AS (SELECT c.component, count(1) AS n_edges, " +
      "sum(bit_count(xor(x.simhash, y.simhash))) AS hs " +
      "FROM sv JOIN comp c ON c.id = sv.a_id " +
      "JOIN sh x ON x.doc_id = sv.a_id JOIN sh y ON y.doc_id = sv.b_id GROUP BY 1), " +
      "safe AS (SELECT cm.component FROM cm LEFT JOIN ceh USING (component) " +
      s"WHERE n_members = 1 OR ((2 * n_edges * 1000) // (n_members * (n_members - 1)) >= ${graft.operators.Dedup.SafeDensityPm} " +
      s"AND (hs * 100) // n_edges <= ${graft.operators.Dedup.SafeMeanHamC})), " +
      "mem AS (SELECT c.id, c.component, rr.r AS rank_e6, ll.lbl AS community " +
      s"FROM comp c JOIN r${graft.operators.Dedup.PageRankIters} rr ON rr.id = c.id " +
      s"LEFT JOIN l${graft.operators.Dedup.LabelPropIters} ll ON ll.id = c.id), " +
      "grp AS (SELECT id, component, rank_e6, " +
      "CASE WHEN component IN (SELECT component FROM safe) THEN 'component' ELSE 'community' END AS mode, " +
      "CASE WHEN component IN (SELECT component FROM safe) THEN component ELSE coalesce(community, id) END AS group_id FROM mem), " +
      "pick AS (SELECT id, component, rank_e6, mode, group_id, row_number() OVER " +
      "(PARTITION BY component, group_id ORDER BY rank_e6 DESC, id) AS rn FROM grp)"

  /** The IVF-PQ asymmetric-distance chain shared by q_sim14 / q_sim16:
    * int8 quantize → seeded cells + 4-probe assignment → codebook =
    * vec_id<16 int8 seeds sliced 8×16 → exact-BIGINT argmin codes →
    * per-probe LUT → CTE `ad` (q_id, n_id, adot) over the probed-cell
    * candidates. Integer end-to-end after the one deterministic floor. */
  private def ivfPqAdcSql: String =
    "WITH mx AS (SELECT max(list_max(list_transform(embedding, x -> abs(x::DOUBLE)))) AS mx FROM embeddings), " +
      "qz AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 127.0 / mx + 0.5) AS BIGINT)) AS qv FROM embeddings, mx), " +
      "p AS (SELECT e.vec_id AS a_id, c.vec_id AS b_id, e.embedding AS ea, c.embedding AS eb " +
      "FROM embeddings e JOIN embeddings c ON c.vec_id < 16), " +
      cosineSumSql +
      ", cs AS (SELECT a_id AS vec_id, b_id AS cid, " +
      "row_number() OVER (PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS rn FROM s), " +
      "cell AS (SELECT vec_id, cid FROM cs WHERE rn = 1), " +
      "probe AS (SELECT vec_id AS q_id, cid FROM cs WHERE vec_id < 10 AND rn <= 4), " +
      "cb AS (SELECT vec_id AS code, qv AS cq FROM qz WHERE vec_id < 16), " +
      "ms AS (SELECT unnest(generate_series(0, 7)) AS m), " +
      "js AS (SELECT unnest(generate_series(1, 8)) AS j), " +
      "cd AS (SELECT v.vec_id, ms.m, cb.code, " +
      "sum((v.qv[ms.m*8+js.j] - cb.cq[ms.m*8+js.j]) * (v.qv[ms.m*8+js.j] - cb.cq[ms.m*8+js.j])) AS d " +
      "FROM qz v, ms, cb, js GROUP BY 1, 2, 3), " +
      "codes AS (SELECT vec_id, m, code FROM (SELECT vec_id, m, code, " +
      "row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn FROM cd) t WHERE rn = 1), " +
      "lu AS (SELECT q.vec_id AS q_id, ms.m, cb.code, CAST(sum(q.qv[ms.m*8+js.j] * cb.cq[ms.m*8+js.j]) AS BIGINT) AS lt " +
      "FROM qz q, ms, cb, js WHERE q.vec_id < 10 GROUP BY 1, 2, 3), " +
      "cand AS (SELECT pr.q_id, t.vec_id AS n_id FROM probe pr " +
      "JOIN cell t ON t.cid = pr.cid AND t.vec_id <> pr.q_id), " +
      "ad AS (SELECT c.q_id, c.n_id, CAST(sum(l.lt) AS BIGINT) AS adot " +
      "FROM cand c JOIN codes k ON k.vec_id = c.n_id " +
      "JOIN lu l ON l.q_id = c.q_id AND l.m = k.m AND l.code = k.code " +
      "GROUP BY 1, 2)"

  /** CTEs `u`,`s`: explicit index-order double-precision cosine terms for the
    * pair set defined by `p` — must match CosineSimilarity's accumulation
    * order so ROUND(.,4) is bit-stable across engines. */
  /** q_sim18's oracle: the q_sim11 int8-IVF chain (5 probes, top-20
    * shortlist `sl` + pairwise BIGINT dots `pp`), then the greedy MMR
    * rounds statically unrolled (round 1 = argmax rel; round k = argmax
    * rel − max-sim-to-selected over the not-yet-selected, tiebreak n_id).
    * Integer end-to-end, so the replay is exact. */
  private def mmrOracleSql(rounds: Int): String = {
    val base =
      "WITH mx AS (SELECT max(list_max(list_transform(embedding, x -> abs(x::DOUBLE)))) AS mx FROM embeddings), " +
        "qz AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(x::DOUBLE * 127.0 / mx + 0.5) AS BIGINT)) AS qv FROM embeddings, mx), " +
        "p AS (SELECT e.vec_id AS a_id, c.vec_id AS b_id, e.embedding AS ea, c.embedding AS eb " +
        "FROM embeddings e JOIN embeddings c ON c.vec_id < 16), " +
        cosineSumSql +
        ", cs AS (SELECT a_id AS vec_id, b_id AS cid, " +
        "row_number() OVER (PARTITION BY a_id ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, b_id) AS rn FROM s), " +
        "cell AS (SELECT vec_id, cid FROM cs WHERE rn = 1), " +
        "probe AS (SELECT vec_id AS q_id, cid FROM cs WHERE vec_id < 5 AND rn <= 4), " +
        "cand AS (SELECT pr.q_id, t.vec_id AS n_id FROM probe pr " +
        "JOIN cell t ON t.cid = pr.cid AND t.vec_id <> pr.q_id), " +
        "iu AS (SELECT c.q_id, c.n_id, unnest(generate_series(1, 64)) AS i, a.qv AS qa, b.qv AS qb " +
        "FROM cand c JOIN qz a ON a.vec_id = c.q_id JOIN qz b ON b.vec_id = c.n_id), " +
        "idot AS (SELECT q_id, n_id, CAST(sum(qa[i] * qb[i]) AS BIGINT) AS qdot FROM iu GROUP BY q_id, n_id), " +
        "sl AS (SELECT q_id, n_id, qdot AS rel FROM (SELECT q_id, n_id, qdot, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY qdot DESC, n_id) AS rk FROM idot) t WHERE rk <= 20), " +
        "pv AS (SELECT sl.q_id, sl.n_id, qz.qv FROM sl JOIN qz ON qz.vec_id = sl.n_id), " +
        "pu AS (SELECT a.q_id, a.n_id AS a_id, b.n_id AS b_id, unnest(generate_series(1, 64)) AS i, " +
        "a.qv AS va, b.qv AS vb FROM pv a JOIN pv b ON a.q_id = b.q_id AND a.n_id <> b.n_id), " +
        "pp AS (SELECT q_id, a_id, b_id, CAST(sum(va[i] * vb[i]) AS BIGINT) AS psim FROM pu GROUP BY 1, 2, 3), " +
        "sel1 AS (SELECT q_id, n_id, rel, CAST(1 AS BIGINT) AS mmr_rank FROM " +
        "(SELECT q_id, n_id, rel, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, n_id) AS r FROM sl) t WHERE r = 1), " +
        "acc1 AS (SELECT * FROM sel1)"
    val steps = (2 to rounds).map { k =>
      s", pen$k AS (SELECT s.q_id, s.n_id, s.rel, max(p.psim) AS pen " +
        s"FROM sl s JOIN pp p ON p.q_id = s.q_id AND p.a_id = s.n_id " +
        s"JOIN acc${k - 1} t ON t.q_id = s.q_id AND t.n_id = p.b_id " +
        s"WHERE NOT EXISTS (SELECT 1 FROM acc${k - 1} x WHERE x.q_id = s.q_id AND x.n_id = s.n_id) " +
        "GROUP BY 1, 2, 3), " +
        s"sel$k AS (SELECT q_id, n_id, rel, CAST($k AS BIGINT) AS mmr_rank FROM " +
        "(SELECT q_id, n_id, rel, row_number() OVER " +
        s"(PARTITION BY q_id ORDER BY rel - pen DESC, n_id) AS r FROM pen$k) t WHERE r = 1), " +
        s"acc$k AS (SELECT * FROM acc${k - 1} UNION ALL SELECT * FROM sel$k)"
    }.mkString
    base + steps +
      s" SELECT q_id, n_id, rel, mmr_rank FROM acc$rounds ORDER BY q_id, mmr_rank"
  }

  /** The q_st11 drift derivation as reusable CTEs ending in `dr`
    * (w_start, n1, n2, tv4) — q_st12's debounce layers on the same chain
    * so the two oracles can never diverge on the monitor's core. */
  private val driftCtes: String =
    "c AS (SELECT date_trunc('hour', ts) AS w, event_type AS t, " +
      "CAST(count(1) AS BIGINT) AS c FROM events GROUP BY 1, 2), " +
      "n AS (SELECT w, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY w), " +
      "p AS (SELECT coalesce(a.w1, b.w1) AS w1, coalesce(a.t, b.t) AS t, " +
      "coalesce(a.c1, 0) AS c1, coalesce(b.c2, 0) AS c2 FROM " +
      "(SELECT w AS w1, t, c AS c1 FROM c) a FULL JOIN " +
      "(SELECT w - INTERVAL 1 HOUR AS w1, t, c AS c2 FROM c) b " +
      "ON a.w1 = b.w1 AND a.t = b.t), " +
      "dr AS (SELECT p.w1 AS w_start, n1.n AS n1, n2.n AS n2, " +
      "CAST((10000 * sum(abs(p.c1 * n2.n - p.c2 * n1.n))) // (2 * n1.n * n2.n) AS BIGINT) AS tv4 " +
      "FROM p JOIN n n1 ON n1.w = p.w1 " +
      "JOIN n n2 ON n2.w = p.w1 + INTERVAL 1 HOUR " +
      "GROUP BY p.w1, n1.n, n2.n)"

  private val cosineSumSql: String =
    "u AS (SELECT a_id, b_id, unnest(generate_series(1, 64)) AS i, ea, eb FROM p), " +
      "s AS (SELECT a_id, b_id, sum(ea[i]::DOUBLE * eb[i]::DOUBLE) AS dot, " +
      "sum(ea[i]::DOUBLE * ea[i]::DOUBLE) AS na, sum(eb[i]::DOUBLE * eb[i]::DOUBLE) AS nb FROM u GROUP BY a_id, b_id)"

  private def cosinePairsSql(cond: String): String =
    s"WITH p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.embedding AS ea, b.embedding AS eb " +
      s"FROM embeddings a JOIN embeddings b ON $cond), " + cosineSumSql
}
