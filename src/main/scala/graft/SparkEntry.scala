package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators._
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1PricingSummary(Tables(spark, "/root/testdata/sf0.001"))

  /** A registry entry: the operator over one scale factor's tables,
    * then the ONE global sort, ascending on `sortKeys` when any are
    * given. The registry sorts because Verify dumps every entry for a
    * row-for-row DuckDB compare, so the dump's row order must be
    * deterministic; the keys mirror the `ORDER BY` of the entry's
    * oracle SQL. Operators never sort: their deploy callers
    * (TrainingDataJob, Sinks, the streams) don't care about row order,
    * and a global sort would make them pay a range exchange plus a sort
    * of the whole output.
    */
  private def q(f: Tables => DataFrame, sortKeys: String*): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      val df = f(Tables(spark, dir))
      if (sortKeys.isEmpty) df else df.orderBy(sortKeys.map(col): _*)
    }

  // A29/A33 oracle SQL as vals so the A76 ensemble oracle nests the
  // EXACT gated member queries instead of re-stating their formulas
  private val evAnomalyMadSql: String =
    """WITH rates AS (SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
      |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
      |med AS (SELECT event_type, floor(quantile_cont(n, 0.5)*10000 + 0.5)/10000 AS med
      |  FROM rates GROUP BY event_type),
      |dev AS (SELECT rates.event_type, rates.hour, rates.n, med.med,
      |  abs(rates.n - med.med) AS dev FROM rates JOIN med USING (event_type)),
      |mad AS (SELECT event_type, floor(quantile_cont(dev, 0.5)*10000 + 0.5)/10000 AS mad
      |  FROM dev GROUP BY event_type)
      |SELECT dev.event_type, dev.hour, dev.n, dev.med, mad.mad,
      |  CAST(dev.n > dev.med + 3.0*mad.mad AS INTEGER) AS is_anomaly
      |FROM dev JOIN mad USING (event_type)
      |ORDER BY event_type, hour""".stripMargin

  private val evEwmaSql: String =
    """WITH rates AS (SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
      |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
      |wl AS (SELECT event_type, hour, n,
      |  list(n) OVER (PARTITION BY event_type ORDER BY hour
      |    ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING) AS ms
      |  FROM rates),
      |e AS (SELECT event_type, hour, n, len(ms) AS s,
      |  CASE WHEN len(ms) > 0 THEN
      |    list_sum([ms[i+1] * power(0.5, len(ms)-1-i) for i in range(len(ms))]) /
      |    list_sum([power(0.5, len(ms)-1-i) for i in range(len(ms))])
      |  END AS ewma FROM wl)
      |SELECT event_type, hour, n,
      |  floor(ewma*1000000 + 0.5)/1000000 AS ewma_r,
      |  CASE WHEN s > 0 AND n > 3.0*ewma THEN 1 ELSE 0 END AS is_spike
      |FROM e ORDER BY event_type, hour""".stripMargin

  /** The ONLY registry keys allowed to omit an [[oracleSql]] entry —
    * sketches whose output is estimator state with no SQL-expressible
    * oracle (each covered by a named ScalaTest law instead).
    * RegistryHygieneSpec enforces that
    * `queries.keySet -- oracleSql.keySet == rowsOnlyKeys` exactly, so
    * a new entry can't land rows-only by accident (the r9
    * doc_snapshot_churn failure mode).
    */
  val rowsOnlyKeys: Set[String] = Set(
    "q_approx_distinct",    // HLL sketch — SketchSpec error-bound law
    "q_heavy_hitters_cms",  // CMS sketch — SketchSpec overestimate law
    "q_approx_percentiles") // GK sketch — SketchSpec rank-error law

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.A event-stream processing (reference semantics)
    "ev_time_derivation"   -> q(EventOps.evTimeDerivation(_), "event_id"),
    "ev_dedup_exact"       -> q(EventOps.evDedupExact(_), "key"),
    "ev_ttl_cache"         -> q(EventOps.evTtlCache(_), "key", "ts", "event_id"),
    "ev_throttle_lag"      -> q(EventOps.evThrottleLag(_), "key", "ts", "event_id"),
    "ev_counts_by_labels"  -> q(EventOps.evCountsByLabels),
    "ev_cache_stats"       -> q(EventOps.evCacheStats),
    "ev_windowed_rate"     -> q(EventOps.evWindowedRate),
    "ev_anomaly_mad"       -> q(EventOps.evAnomalyMad(_)),
    "ev_ewma"              -> q(EventOps.evEwma(_)),
    "ev_json_props"        -> q(EventOps.evJsonProps),
    "ev_serialize_json"    -> q(EventOps.evSerializeJson(_), "event_id"),
    "ev_top_keys"          -> q(EventOps.evTopKeys(_)),
    "ev_sessionize"        -> q(EventOps.evSessionize(_), "user_id", "sid"),
    "ev_session_stats"     -> q(EventOps.evSessionStats(_)),
    "ev_asof_enrich"       -> q(EventOps.evAsofEnrich(_), "event_id"),
    "ev_asof_tolerance"    -> q(EventOps.evAsofTolerance(_), "event_id"),
    // §2.B OLAP analytics core
    "q1_pricing_summary"   -> q(Analytics.q1PricingSummary),
    "q3_shipping_priority" -> q(Analytics.q3ShippingPriority),
    "q5_local_supplier"    -> q(Analytics.q5LocalSupplier),
    "q_window_running"     -> q(Analytics.qWindowRunning),
    "q_rollup"             -> q(Analytics.qRollup),
    "q_distinct_agg"       -> q(Analytics.qDistinctAgg),
    "q_anti_semi"          -> q(Analytics.qAntiSemi),
    "q_topk_per_group"     -> q(Analytics.qTopkPerGroup),
    "q_topk_sketch"        -> q(Analytics.qTopkSketch(_)),
    "q_pivot"              -> q(Analytics.qPivot),
    "q_histogram"          -> q(Analytics.qHistogram),
    "q_histogram2d"        -> q(Analytics.qHistogram2d),
    "q_skew_salted_join"   -> q(Analytics.qSkewSaltedJoin(_)),
    "q_not_in"             -> q(Analytics.qNotIn),
    "q_revenue_deciles"    -> q(Analytics.qRevenueDeciles),
    "q_percentiles"        -> q(Analytics.qPercentiles),
    "q_approx_distinct"    -> q(Analytics.qApproxDistinct), // rows-only: HLL sketch, no SQL oracle
    "q_heavy_hitters_cms"  -> q(Analytics.qHeavyHittersCms(_)), // rows-only: CMS sketch, no SQL oracle
    "q_cube"               -> q(Analytics.qCube),
    "q_grouping_sets"      -> q(Analytics.qGroupingSets),
    "q_distinct_skewsafe"  -> q(Analytics.qDistinctSkewsafe),
    "q_large_volume"       -> q(Analytics.qLargeVolume),
    "q_rolling_window"     -> q(Analytics.qRollingWindow),
    "q_profile"            -> q(Analytics.qProfile),
    "q_below_avg"          -> q(Analytics.qBelowAvg),
    "q_set_ops"            -> q(Analytics.qSetOps(_)),
    "q_corr"               -> q(Analytics.qCorr),
    "q_regr"               -> q(Analytics.qRegr),
    "q_order_priority_semi" -> q(Analytics.qOrderPrioritySemi),
    "q_nation_trade"       -> q(Analytics.qNationTrade),
    "q_returned_revenue"   -> q(Analytics.qReturnedRevenue),
    "q_late_lines"         -> q(Analytics.qLateLines),
    "q_revenue_forecast"   -> q(Analytics.qRevenueForecast),
    "q_revenue_concentration" -> q(Analytics.qRevenueConcentration(_)),
    "q_cust_order_dist"    -> q(Analytics.qCustOrderDist),
    "q_promo_share"        -> q(Analytics.qPromoShare),
    "q_disjunctive_pred"   -> q(Analytics.qDisjunctivePred),
    "q_sole_late_supplier" -> q(Analytics.qSoleLateSupplier),
    "q_idle_rich_customers" -> q(Analytics.qIdleRichCustomers),
    "q_ship_latency"       -> q(Analytics.qShipLatency),
    "q_window_funcs"       -> q(Analytics.qWindowFuncs),
    "q_full_outer"         -> q(Analytics.qFullOuter),
    "q_revenue_delta"      -> q(Analytics.qRevenueDelta),
    "q_market_share"       -> q(Analytics.qMarketShare),
    "q_top_supplier"       -> q(Analytics.qTopSupplier),
    "q_small_qty_revenue"  -> q(Analytics.qSmallQtyRevenue),
    "q_yoy_growth"         -> q(Analytics.qYoyGrowth),
    "ev_retention"         -> q(EventOps.evRetention),
    "ev_cohort_ltv"        -> q(EventOps.evCohortLtv),
    "ev_state_transitions" -> q(EventOps.evStateTransitions(_), "from_type", "to_type"),
    "ev_stationary_dist"   -> q(EventOps.evStationaryDist(_)),
    "ev_markov_entropy"    -> q(EventOps.evMarkovEntropyRate(_), "from_type"),
    "ev_anomaly_seasonal"  -> q(EventOps.evAnomalySeasonal(_), "event_type", "hour_idx"),
    "text_entropy"         -> q(TextOps.textEntropy(_), "doc_id"),
    "ev_gap_fill"          -> q(EventOps.evGapFill),
    // §2.C dedup family
    "doc_exact_dedup"      -> q(Dedup.docExactDedup(_), "content_hash"),
    "doc_minhash_sig"      -> q(Dedup.docMinhashSig(_), "doc_id"),
    "doc_minhash_lsh_pairs" -> q(Dedup.docMinhashLshPairs(_), "doc_a", "doc_b"),
    "doc_edit_distance"    -> q(Dedup.docEditDistance(_), "doc_a", "doc_b"),
    "doc_minhash_jaccard_est" -> q(Dedup.docMinhashJaccardEst(_), "doc_a", "doc_b"),
    "doc_bbit_minhash_est" -> q(Dedup.docBbitMinhashEst(_), "doc_a", "doc_b"),
    "doc_minhash_calibration" -> q(Dedup.docMinhashCalibration(_)),
    "doc_lsh_bucket_stats" -> q(Dedup.docLshBucketStats(_)),
    "doc_dup_bias"         -> q(Dedup.docDupBias(_)),
    "doc_simhash"          -> q(Dedup.docSimhash(_), "doc_id"),
    "doc_simhash_pairs"    -> q(Dedup.docSimhashPairs(_), "doc_a", "doc_b"),
    "doc_simhash_hamming_hist" -> q(Dedup.docSimhashHammingHist(_)),
    "doc_ngram_jaccard"    -> q(Dedup.docNgramJaccard(_), "doc_a", "doc_b"),
    "doc_ngram_jaccard_capped" -> q(Dedup.docNgramJaccardCapped(_), "doc_a", "doc_b"),
    "doc_ngram_containment" -> q(Dedup.docNgramContainment(_), "doc_a", "doc_b"),
    "doc_ngram_novelty"    -> q(Dedup.docNgramNovelty(_), "doc_id"),
    "doc_incremental_dedup" -> q(Dedup.docIncrementalDedup(_), "doc_id"),
    "doc_incremental_minhash" -> q(Dedup.docIncrementalMinhash(_), "doc_id"),
    "doc_decontaminate"    -> q(Dedup.docDecontaminate(_), "doc_id"),
    "doc_decontaminate_bloom" -> q(Dedup.docDecontaminateBloom(_), "doc_id"),
    "doc_dedup_clusters"   -> q(Dedup.docDedupClusters(_), "doc_id"),
    "doc_split_leakage_safe" -> q(Dedup.docSplitLeakageSafe(_), "doc_id"),
    "doc_lsh_band_planner" -> q(Dedup.docLshBandPlanner(_), "bands"),
    "doc_split_leakage_audit" -> q(Dedup.docSplitLeakageAudit(_), "method"),
    "doc_cluster_stats"    -> q(Dedup.docClusterStats(_)),
    "doc_dedup_rate_by_threshold" -> q(Dedup.docDedupRateByThreshold(_)),
    "doc_cross_source_dup" -> q(Dedup.docCrossSourceDup(_), "content_hash"),
    "ann_threshold_ladder" -> q(Dedup.annThresholdLadder(_)),
    "doc_lsh_tuning"       -> q(Dedup.docLshTuning(_)),
    "doc_lsh_recall"       -> q(Dedup.docLshRecall(_)),
    "doc_shingle_df_hist"  -> q(Dedup.docShingleDfHist),
    "doc_dedup_keep_best"  -> q(Dedup.docDedupKeepBest(_), "doc_id"),
    "doc_fingerprint_pairs" -> q(Dedup.docFingerprintPairs(_), "doc_a", "doc_b"),
    "doc_winnow_pairs"     -> q(Dedup.docWinnowPairs(_), "doc_a", "doc_b"),
    "doc_embed_cosine_dup" -> q(Dedup.docEmbedCosineDup(_), "vec_a", "vec_b"),
    "doc_semdedup"         -> q(Dedup.docSemdedup(_), "vec_id"),
    // §2.D similarity search
    "ann_topk_bruteforce"  -> q(Similarity.annTopkBruteforce(_)),
    "ann_prefix_dim_recall" -> q(Similarity.annPrefixDimRecall(_), "prefix_dims"), // D55 Matryoshka prefix-dim card (r13)
    "ann_prefix_rerank" -> q(Similarity.annPrefixRerank(_)), // D56 Matryoshka serving path (r14): prefix retrieve + full-dim rerank
    "ann_prefix_rerank_ledger" -> q(Similarity.annPrefixRerankLedger(_), "prefix_dims", "method"), // D56b recall/scan ledger at p ∈ {16,32} vs full
    "ann_prefix_ivf_rerank" -> q(Similarity.annPrefixIvfRerank(_)), // D57 Matryoshka INDEX variant: prefix-space IVF + full-dim rerank
    // G43: the SAME two serving paths off the persisted prefix-sliced
    // layout (bit-equal by construction — the oracle is shared), built
    // by each call and read back; retrieval scans only the prefix
    // column group, the rerank fetches the bounded pool by id
    "ann_prefix_rerank_sliced" -> q(t =>
      graft.sources.Sinks.searchPrefixSliced(t.spark,
        graft.sources.Sinks.prefixSlicedFor(t))),
    "ann_prefix_ivf_rerank_sliced" -> q(t =>
      graft.sources.Sinks.searchPrefixSlicedIvf(t.spark,
        graft.sources.Sinks.prefixSlicedFor(t))),
    "ann_lsh_bucketed"     -> q(Similarity.annLshBucketed(_)),
    "ann_lsh_multitable"   -> q(Similarity.annLshMultiTable(_)),
    "ann_knn_graph"        -> q(Similarity.annKnnGraph(_), "src", "rank"),
    "ann_graph_search"     -> q(Similarity.annGraphSearch(_), "q_id", "rank"),
    "ann_graph_reach"      -> q(Similarity.annGraphReach(_), "hop"),
    "ann_graph_reach_single" -> q(Similarity.annGraphReach(_, nTables = 1), "hop"),
    "ann_beam_tuning"      -> q(Similarity.annBeamTuning(_), "beam"),
    "ann_method_recall"    -> q(Similarity.annMethodRecall(_), "method"),
    "ann_graph_search_nnd" -> q(Similarity.annGraphSearchNnd(_), "q_id", "rank"),
    "ann_nnd_tuning"       -> q(Similarity.annNndTuning(_), "desc_rounds"),
    "ann_graph_search_layered" -> q(Similarity.annGraphSearchLayered(_), "q_id", "rank"),
    "ann_nlist_tuning"     -> q(Similarity.annNlistTuning(_), "n_cells"),
    "ann_label_knn"        -> q(Similarity.annLabelKnn(_), "src"),
    "emb_centroid_dist"    -> q(Similarity.embCentroidDist(_), "vec_id"),
    "ann_recall_eval"      -> q(Similarity.annRecallEval(_), "q_id"),
    "ann_nprobe_tuning"    -> q(Similarity.annNprobeTuning(_), "nprobe"),
    "ann_mmr_diversify"    -> q(Similarity.annMmrDiversify(_), "q_id", "rank"),
    "emb_knn_clusters"     -> q(Similarity.embKnnClusters(_), "vec_id"),
    "ann_ivf"              -> q(Similarity.annIvf(_)),
    "ann_maxsim"           -> q(Similarity.annMaxsim(_)),
    "emb_norm_stats"       -> q(Similarity.embNormStats),
    "emb_kmeans_assign"    -> q(Similarity.embKmeansAssign(_), "vec_id"),
    "emb_kmeans_update"    -> q(Similarity.embKmeansUpdate(_), "cell", "dim"),
    "emb_kmeans_reassign"  -> q(Similarity.embKmeansReassign(_), "vec_id"),
    "emb_kmeans_train_curve" -> q(Similarity.embKmeansTrainCurve(_), "round"),
    "emb_cluster_purity"   -> q(Similarity.embClusterPurity(_), "cell"),
    "emb_dim_stats"        -> q(Similarity.embDimStats(_), "dim"),
    "emb_covariance"       -> q(Similarity.embCovariance(_), "i", "j"),
    "emb_power_iteration"  -> q(Similarity.embPowerIteration(_), "i"),
    "emb_pca_project"      -> q(Similarity.embPcaProject(_), "label"),
    "emb_quantizer_drift"  -> q(Similarity.embQuantizerDrift(_), "cell"),
    "emb_pq_codes"         -> q(Similarity.embPqCodes(_), "vec_id", "sub_j"),
    "emb_pq_error"         -> q(Similarity.embPqError(_)),
    "emb_rpq_error"        -> q(Similarity.embRpqError(_), "variant"),
    "emb_sq8_codes"        -> q(Similarity.embSq8Codes(_), "vec_id", "d"),
    "emb_sq8_error"        -> q(Similarity.embSq8Error(_), "d"),
    "ann_ivf_imbalance"    -> q(Similarity.annIvfImbalance(_)),
    "ann_pq_adc"           -> q(Similarity.annPqAdc(_)),
    "ann_range"            -> q(Similarity.annRange(_), "q_id", "vec_id"),
    "ann_sq8_adc"          -> q(Similarity.annSq8Adc(_)),
    "ann_ivf_adc"          -> q(Similarity.annIvfAdc(_)),
    "ann_ivf_rpq"          -> q(Similarity.annIvfRpq(_)),
    "ann_ivf_rpq_rerank"   -> q(Similarity.annIvfRpqRerank(_)),
    "ann_rpq_recall"       -> q(Similarity.annRpqRecall(_), "method", "q_id"),
    "ann_rpq_nprobe_tuning" -> q(Similarity.annRpqNprobeTuning(_), "nprobe"),
    "ann_ivf_rerank"       -> q(Similarity.annIvfRerank(_)),
    "q_approx_percentiles" -> q(Analytics.qApproxPercentiles(_)), // rows-only: GK sketch, no SQL oracle
    // §2.E text analysis
    "text_langid"          -> q(TextOps.textLangid(_), "doc_id"),
    "text_quality"         -> q(TextOps.textQuality(_), "doc_id"),
    "text_tokencount"      -> q(TextOps.textTokencount(_), "doc_id"),
    "text_fingerprint"     -> q(TextOps.textFingerprint(_), "doc_id"),
    "text_normalize_dedup" -> q(TextOps.textNormalizeDedup(_), "norm_hash"),
    "doc_stratified_sample" -> q(TextOps.docStratifiedSample(_), "doc_id"),
    "text_vocab"           -> q(TextOps.textVocab),
    "doc_chunk"            -> q(TextOps.docChunk(_), "doc_id", "chunk_idx"),
    // CDC gate keys run on the multi-byte-planted corpus so the
    // byte-level chunker is oracle-checked on text whose byte and char
    // offsets diverge (plantUtf8Docs ≡ the oracle's docs_aug CTE)
    "doc_cdc_chunks"       -> q(t => TextOps.docCdcChunks(TextOps.plantUtf8Docs(t)), "doc_id", "chunk_idx"),
    "doc_cdc_dup_mass"     -> q(t => TextOps.docCdcDupMass(TextOps.plantUtf8Docs(t)), "source"),
    "text_rolling_fingerprint" -> q(TextOps.textRollingFingerprint(_), "doc_id"),
    "doc_pack"             -> q(TextOps.docPack(_), "doc_id"),
    "doc_quality_filter"   -> q(TextOps.docQualityFilter(_), "doc_id"),
    "text_repetition"      -> q(TextOps.textRepetition(_), "doc_id"),
    "doc_gopher_rules"     -> q(TextOps.docGopherRules(_), "doc_id"), // E63 published Gopher rule card (r13)
    "doc_html_extract"     -> q(TextOps.docHtmlExtract(_), "doc_id"), // E64 HTML→text extraction over planted formula HTML (r15)
    "text_bpe_encode"      -> q(TextOps.textBpeEncode(_), "doc_id"), // E65 per-doc token-id sequences off the E47 merge table (r15)
    "doc_url_canon"        -> q(UrlOps.docUrlCanon(_), "doc_id"), // E66 URL parse + canonicalize over planted formula URLs (r15)
    "doc_url_dup"          -> q(UrlOps.docUrlDup(_), "doc_id"), // C42 URL-identity dedup post-canonicalization (r15)
    "doc_host_stats"       -> q(UrlOps.docHostStats(_), "reg_domain", "host"), // E67 per-(reg_domain, host) crawl rollup card (r15)
    "doc_html_links"       -> q(UrlOps.docHtmlLinks(_), "doc_id", "link_ord"), // E68 outlink extraction + RFC 3986 resolution (r15)
    "host_rank"            -> q(UrlOps.hostRank(_), "host"), // E69 host-graph PageRank on the integer lattice (r15)
    "doc_host_throttle"    -> q(UrlOps.docHostThrottle(_), "doc_id"), // E70 per-host fetch throttle (crawl politeness, r15)
    "doc_robots_filter"    -> q(UrlOps.docRobotsFilter(_), "doc_id"), // E71 RFC 9309 robots.txt filtering (r15)
    "doc_charset_sniff"    -> q(UrlOps.docCharsetSniffGated(_), "doc_id"), // E72 UTF-8/Latin-1 charset custody (r15)
    "crawl_intake_funnel"  -> q(UrlOps.crawlIntakeFunnel(_), "host"), // E73 composed robots→throttle→extract→charset funnel (r15)
    "text_collocations"    -> q(TextOps.textCollocations(_)),
    "doc_curate"           -> q(TextOps.docCurate(_), "doc_id"),
    "doc_curate_explain"   -> q(TextOps.docCurateExplain(_)),
    "text_token_coverage"  -> q(TextOps.textTokenCoverage(_)),
    "doc_pack_efficiency"  -> q(TextOps.docPackEfficiency(_)),
    "doc_scrub_pii"        -> q(TextOps.docScrubPii(_), "doc_id"),
    "corpus_stats"         -> q(TextOps.corpusStats),
    "corpus_stats_merged"  -> q(TextOps.corpusStatsMerged),
    "doc_pii_stats"        -> q(TextOps.docPiiStats),
    "text_bm25"            -> q(TextOps.textBm25(_), "doc_id"),
    "text_unigram_logprob" -> q(TextOps.textUnigramLogprob(_), "doc_id"),
    "doc_span_dedup"       -> q(TextOps.docSpanDedup(_), "doc_id"),
    "doc_span_removal"     -> q(TextOps.docSpanRemoval(_), "doc_id"),
    "doc_mix_weights"      -> q(TextOps.docMixWeights(_), "source"),
    "doc_quality_bucket"   -> q(TextOps.docQualityBucket(_), "doc_id"),
    "doc_quality_model"    -> q(TextOps.docQualityModel(_), "doc_id"),
    "doc_quality_model_trained" -> q(TextOps.docQualityModelTrained(_), "doc_id"),
    "doc_quality_model_eval" -> q(TextOps.docQualityModelEval(_)),
    "doc_quality_calibration" -> q(TextOps.docQualityCalibration(_), "bin"),
    "text_bigram_logprob"  -> q(TextOps.textBigramLogprob(_), "doc_id"),
    "text_keywords"        -> q(TextOps.textKeywords(_), "doc_id", "rank"),
    "text_winnow"          -> q(TextOps.textWinnow(_), "doc_id", "fingerprint"),
    "doc_contamination_stats" -> q(Dedup.docContaminationStats(_)),
    "corpus_dedup_stats"   -> q(Dedup.corpusDedupStats(_)),
    "doc_mix_budget"       -> q(TextOps.docMixBudget(_), "doc_id"),
    "doc_sample_k"         -> q(TextOps.docSampleK(_), "doc_id"),
    "doc_sample_weighted"  -> q(TextOps.docSampleWeighted(_), "doc_id"),
    "doc_lang_confusion"   -> q(TextOps.docLangConfusion),
    "corpus_quality_stats" -> q(TextOps.corpusQualityStats(_)),
    "text_zipf"            -> q(TextOps.textZipf(_)),
    "corpus_heaps_law"     -> q(TextOps.corpusHeapsLaw(_), "bucket"),
    "ev_user_lifespan"     -> q(EventOps.evUserLifespan(_), "user_id"),
    "ev_user_entropy"      -> q(EventOps.evUserEntropy(_), "user_id"),
    "ev_type_affinity"     -> q(EventOps.evTypeAffinity),
    "ev_user_zipf"         -> q(EventOps.evUserZipf(_)),
    "ev_value_profile"     -> q(EventOps.evValueProfile),
    "doc_tokenizer_fertility" -> q(TextOps.docTokenizerFertility),
    "ev_cooccurrence"      -> q(EventOps.evCooccurrence),
    "ev_sliding_rate"      -> q(EventOps.evSlidingRate),
    "ev_top_paths"         -> q(EventOps.evTopPaths(_)),
    "ev_dormant_users"     -> q(EventOps.evDormantUsers(_), "user_id"),
    "ev_cusum_changepoint" -> q(EventOps.evCusumChangepoint(_), "event_type", "hour"),
    "ev_cusum_drop"        -> q(EventOps.evCusumDrop(_), "event_type", "hour"),
    "ev_abtest"            -> q(EventOps.evAbtest(_), "event_type"),
    "ev_mde_power"         -> q(EventOps.evMdePower(_), "event_type"),
    "ev_ab_srm"            -> q(EventOps.evAbSrm(_), "event_type"),
    "ev_cuped"             -> q(EventOps.evCuped(_), "event_type"),
    "ev_bot_suspects"      -> q(EventOps.evBotSuspects(_)),
    "ev_conversion_window_sweep" -> q(EventOps.evConversionWindowSweep(_), "window_hours"),
    "mm_sharpness_proxy"   -> q(Multimodal.mmSharpnessProxy(_), "doc_id"),
    "ev_anomaly_ensemble"  -> q(EventOps.evAnomalyEnsemble(_), "event_type", "hour_idx"),
    "ev_ttl_tuning"        -> q(EventOps.evTtlTuning(_), "ttl_hours"),
    "text_kl_source"       -> q(TextOps.textKlSource(_)),
    "text_bpe_pairs"       -> q(TextOps.textBpePairs(_)),
    "text_bpe_merge"       -> q(TextOps.textBpeMerge(_)),
    "text_bpe_train"       -> q(TextOps.textBpeTrain(_)),
    "text_jsd_pairs"       -> q(TextOps.textJsdPairs(_)),
    "doc_length_profile"   -> q(TextOps.docLengthProfile),
    "ev_rfm"               -> q(EventOps.evRfm(_), "user_id"),
    "ev_active_users"      -> q(EventOps.evActiveUsers),
    "ev_interarrival"      -> q(EventOps.evInterarrival),
    "ev_seasonality"       -> q(EventOps.evSeasonality),
    "ev_attribution"       -> q(EventOps.evAttribution(_)),
    "ev_slo_burn"          -> q(EventOps.evSloBurn(_)),
    "ev_new_vs_returning"  -> q(EventOps.evNewVsReturning),
    "ev_engagement_deciles" -> q(EventOps.evEngagementDeciles),
    "ev_type_share_drift"  -> q(EventOps.evTypeShareDrift),
    "emb_outliers"         -> q(Similarity.embOutliers(_), "vec_id"),
    "ann_pagerank"         -> q(Similarity.annPagerank(_), "vec_id"),
    "text_hapax"           -> q(TextOps.textHapax),
    "doc_template_prefix"  -> q(TextOps.docTemplatePrefix(_), "doc_id"),
    "doc_split"            -> q(TextOps.docSplit(_), "doc_id"),
    "doc_shard_shuffle"    -> q(TextOps.docShardShuffle(_), "doc_id"),
    "ev_scrub_props"       -> q(EventOps.evScrubProps(_), "event_id"),
    "ev_funnel"            -> q(EventOps.evFunnel),
    "ev_funnel_latency"    -> q(EventOps.evFunnelLatency),
    "ev_interval_join"     -> q(EventOps.evIntervalJoin(_)),
    "ev_autocorr"          -> q(EventOps.evAutocorr(_)),
    "ev_holt_forecast"     -> q(EventOps.evHoltForecast(_), "event_type", "hour"),
    "ev_token_bucket"      -> q(EventOps.evTokenBucket(_), "user_id"),
    "ev_forecast_eval"     -> q(EventOps.evForecastEval(_), "event_type"),
    "ev_burst_windows"     -> q(EventOps.evBurstWindows(_)),
    "ev_burst_impact"      -> q(EventOps.evBurstImpact(_)),
    "q_distinct_kmv"       -> q(Analytics.qDistinctKmv(_)),
    "q_quantile_sample"    -> q(Analytics.qQuantileSample(_)),
    "ev_value_quantile_sample" -> q(Analytics.evValueQuantileSample(_), "event_type"),
    "ev_topk_by_value"     -> q(Analytics.evTopkByValue(_), "event_type", "rnk"),
    "q_distinct_bitmap"    -> q(Analytics.qDistinctBitmap),
    "q_important_stock"    -> q(Analytics.qImportantStock(_)),
    "q_cms_portable"       -> q(Analytics.qCmsPortable(_)),
    "q_hll_portable"       -> q(Analytics.qHllPortable),
    "text_vocab_hll"       -> q(TextOps.textVocabHll(_), "source"),
    "doc_quality_quantile_sample" -> q(TextOps.docQualityQuantileSample(_), "source"),
    // G36b: WARC grammar round-trip over planted multi-byte docs — the
    // Content-Length jump must count BYTES, not chars, to survive them
    "doc_warc_roundtrip"   -> q(t => TextOps.docWarcRoundtrip(TextOps.plantUtf8Docs(t)), "doc_id"),
    "doc_quality_vs_dup"   -> q(TextOps.docQualityVsDup(_), "dup_bucket"),
    "doc_snapshot_churn"   -> q(Dedup.docSnapshotChurn(_), "source"),
    "q_min_cost_supplier"  -> q(Analytics.qMinCostSupplier),
    "q_product_profit"     -> q(Analytics.qProductProfit(_)),
    "doc_ppl_reference"    -> q(TextOps.docPplReference(_)),
    "q_supplier_part_types" -> q(Analytics.qSupplierPartTypes(_)),
    "q_partition_advisor"  -> q(Analytics.qPartitionAdvisor(_)),
    "q_potential_promotion" -> q(Analytics.qPotentialPromotion(_)),
    "q_bloom_join_reduce"  -> q(Analytics.qBloomJoinReduce(_)),
    "q_range_frame"        -> q(Analytics.qRangeFrame(_), "o_custkey", "day_n", "o_orderkey"),
    "q_kmv_set_ops"        -> q(Analytics.qKmvSetOps(_)),
    "emb_energy_curve"     -> q(Similarity.embEnergyCurve(_)),
    "ann_triangles"        -> q(Similarity.annTriangles(_), "vec_id"),
    "ann_hubness"          -> q(Similarity.annHubness(_), "vec_id"),
    "emb_explained_variance" -> q(Similarity.embExplainedVariance),
    "ann_hamming_rerank"   -> q(Similarity.annHammingRerank(_)),
    "ann_mips_topk"        -> q(Similarity.annMipsTopk(_)),
    "mm_scene_cuts"        -> q(Multimodal.mmSceneCuts(_), "doc_id", "frame_idx"),
    "mm_keyframe_select"   -> q(Multimodal.mmKeyframeSelect(_), "doc_id", "scene_id"),
    "mm_video_summary"     -> q(Multimodal.mmVideoSummary(_), "doc_id"),
    "mm_cross_source_dup"  -> q(Multimodal.mmCrossSourceDup(_), "source_a", "source_b"),
    "doc_dedup_agreement"  -> q(Dedup.docDedupAgreement(_)),
    "doc_dup_ngram_mass"   -> q(Dedup.docDupNgramMass(_), "source"),
    "doc_curation_funnel"  -> q(TextOps.docCurationFunnel(_)),
    "doc_text_embedding_card" -> q(TextOps.docTextEmbeddingCard),
    "ev_funnel_by_cohort"  -> q(EventOps.evFunnelByCohort),
    "ev_error_after_click" -> q(EventOps.evErrorAfterClick(_), "user_id"),
    "q_month_trend"        -> q(Analytics.qMonthTrend),
    // §2.F multimodal plumbing
    "mm_binary_meta"       -> q(Multimodal.mmBinaryMeta(_), "doc_id"),
    "mm_feature_extract"   -> q(Multimodal.mmFeatureExtract(_), "doc_id"), // REAL netpbm decode (r10), oracle-gated
    "mm_feature_extract_bmp" -> q(Multimodal.mmFeatureExtractBmp(_), "doc_id"), // REAL BMP decode (r11), oracle-gated
    "mm_feature_extract_png" -> q(Multimodal.mmFeatureExtractPng(_), "doc_id"), // REAL PNG decode (r12), oracle-gated
    "mm_feature_extract_png_gray" -> q(Multimodal.mmFeatureExtractPngGray(_), "doc_id"), // F25 grayscale PNG (r15): bpp=1 filters + channel replication
    "mm_feature_extract_png_palette" -> q(Multimodal.mmFeatureExtractPngPalette(_), "doc_id"), // F25b palette PNG (r15): PLTE walk + index resolution
    "mm_feature_extract_png_adam7" -> q(Multimodal.mmFeatureExtractPngAdam7(_), "doc_id"), // F27 Adam7 interlaced PNG (r15): per-pass defilter + scatter
    "mm_feature_extract_jpeg" -> q(Multimodal.mmFeatureExtractJpeg(_), "doc_id"), // REAL baseline JPEG decode (r12), oracle-gated
    "mm_feature_extract_jpeg_color" -> q(Multimodal.mmFeatureExtractJpegColor(_), "doc_id"), // REAL 4:2:0 color JPEG decode (r13), oracle-gated
    "mm_feature_extract_jpeg_dri" -> q(Multimodal.mmFeatureExtractJpegDri(_), "doc_id"), // DRI restart-interval color JPEGs (r14), oracle-gated
    "mm_feature_extract_jpeg_422" -> q(Multimodal.mmFeatureExtractJpeg422(_), "doc_id"), // F26 4:2:2 (Y 2×1) color JPEGs (r15), oracle-gated
    "mm_feature_extract_jpeg_440" -> q(Multimodal.mmFeatureExtractJpeg440(_), "doc_id"), // F28 4:4:0 (Y 1×2) color JPEGs (r15), oracle-gated
    "mm_feature_extract_jpeg_prog" -> q(Multimodal.mmFeatureExtractJpegProg(_), "doc_id"), // PROGRESSIVE (SOF2) color JPEGs (r14), oracle-gated
    "mm_wav_features"      -> q(Multimodal.mmWavFeatures(_), "doc_id"), // REAL RIFF/WAVE PCM decode (r11), oracle-gated
    "mm_channel_hist"      -> q(Multimodal.mmChannelHist(_), "doc_id", "bin"),
    "mm_resize"            -> q(Multimodal.mmResize(_), "doc_id"),
    "mm_frame_sample"      -> q(Multimodal.mmFrameSample(_), "doc_id", "frame_idx"),
    "mm_frame_phash_pairs" -> q(Multimodal.mmFramePhashPairs(_), "doc_a", "doc_b"),
    "mm_exact_dedup"       -> q(Multimodal.mmExactDedup(_), "keep_id"),
    "mm_phash"             -> q(Multimodal.mmPhash(_), "doc_id"),
    "mm_phash_pairs"       -> q(Multimodal.mmPhashPairs(_), "doc_a", "doc_b"),
    "mm_phash_hamming_hist" -> q(Multimodal.mmPhashHammingHist(_)),
    "mm_phash_incremental" -> q(Multimodal.mmPhashIncremental(_), "doc_id"),
    "mm_frame_dedup"       -> q(Multimodal.mmFrameDedup(_), "frame_md5"),
    "mm_phash_clusters"    -> q(Multimodal.mmPhashClusters(_), "doc_id"),
    "mm_joint_dedup"       -> q(Multimodal.mmJointDedup(_), "doc_id"),
    "mm_dedup_keep_best"   -> q(Multimodal.mmDedupKeepBest(_), "doc_id"),
  )

  /** DuckDB-runnable oracle for each key in `queries` (driver gate).
    * Convention: identical column aliases, identical deterministic
    * ORDER BY, row-level math in double, sums through DECIMAL(18,6)
    * then presented as double (order-independent, engine-portable).
    */
  def oracleSql: Map[String, String] = Map(
    "ev_time_derivation" ->
      """SELECT event_id,
        |  COALESCE(last_ts, first_ts, creation_ts) AS derived_ts,
        |  CASE WHEN last_ts IS NOT NULL THEN 'last'
        |       WHEN first_ts IS NOT NULL THEN 'first'
        |       ELSE 'creation' END AS ts_source
        |FROM (
        |  SELECT event_id,
        |    CASE WHEN event_id % 3 <> 0 THEN ts END AS last_ts,
        |    CASE WHEN event_id % 5 <> 0 THEN ts - INTERVAL 1 HOUR END AS first_ts,
        |    ts - INTERVAL 1 DAY AS creation_ts
        |  FROM events)
        |ORDER BY event_id""".stripMargin,

    "ev_dedup_exact" ->
      """SELECT key, ts, event_id, n_events FROM (
        |  SELECT user_id::VARCHAR || ':' || event_type AS key, ts, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id::VARCHAR || ':' || event_type
        |      ORDER BY ts, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id::VARCHAR || ':' || event_type) AS n_events
        |  FROM events)
        |WHERE rn = 1
        |ORDER BY key""".stripMargin,

    "ev_ttl_cache" ->
      """WITH RECURSIVE numbered AS (
        |  SELECT user_id::VARCHAR || ':' || event_type AS key, ts, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id::VARCHAR || ':' || event_type
        |      ORDER BY ts, event_id) AS rn
        |  FROM events
        |), emitted AS (
        |  SELECT key, ts, event_id FROM numbered WHERE rn = 1
        |  UNION ALL
        |  SELECT nx.key, nx.ts, nx.event_id
        |  FROM emitted e, LATERAL (
        |    SELECT n.key, n.ts, n.event_id FROM numbered n
        |    WHERE n.key = e.key AND n.ts >= e.ts + INTERVAL 24 HOUR
        |    ORDER BY n.ts, n.event_id LIMIT 1) nx
        |)
        |SELECT key, ts, event_id FROM emitted
        |ORDER BY key, ts, event_id""".stripMargin,

    "ev_throttle_lag" ->
      """SELECT key, ts, event_id FROM (
        |  SELECT user_id::VARCHAR || ':' || event_type AS key, ts, event_id,
        |    LAG(ts, 1) OVER (PARTITION BY user_id::VARCHAR || ':' || event_type
        |      ORDER BY ts, event_id) AS prev_ts
        |  FROM events)
        |WHERE prev_ts IS NULL OR ts >= prev_ts + INTERVAL 24 HOUR
        |ORDER BY key, ts, event_id""".stripMargin,

    "ev_counts_by_labels" ->
      """SELECT event_type,
        |  CASE WHEN value > 100.0 THEN 'high' ELSE 'low' END AS severity,
        |  user_id % 10 AS shard,
        |  COUNT(*) AS n
        |FROM events
        |GROUP BY 1, 2, 3
        |ORDER BY event_type, severity, shard""".stripMargin,

    "ev_cache_stats" ->
      """SELECT event_type,
        |  COUNT(*) AS total,
        |  COUNT(DISTINCT user_id::VARCHAR || ':' || event_type) AS cache_misses,
        |  COUNT(*) - COUNT(DISTINCT user_id::VARCHAR || ':' || event_type) AS cache_hits
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "ev_windowed_rate" ->
      """SELECT date_trunc('hour', ts) AS hour,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY 1
        |ORDER BY hour""".stripMargin,

    "ev_anomaly_mad" -> evAnomalyMadSql,

    "ev_ewma" -> evEwmaSql,

    // A76: ensemble of the three oracle-gated detectors — built FROM
    // their own SQL (nested subqueries), so the ensemble oracle can
    // never drift from its members
    "ev_anomaly_ensemble" ->
      s"""SELECT m.event_type, epoch_us(m.hour) // 3600000000 AS hour_idx, m.n,
         |  m.is_anomaly AS mad_flag, e.is_spike AS ewma_flag,
         |  CAST(s.flagged AS INTEGER) AS seasonal_flag,
         |  CAST(m.is_anomaly + e.is_spike + CAST(s.flagged AS INTEGER) AS INTEGER) AS votes,
         |  (m.is_anomaly + e.is_spike + CAST(s.flagged AS INTEGER)) >= 2 AS consensus
         |FROM ($evAnomalyMadSql) m
         |JOIN ($evEwmaSql) e ON e.event_type = m.event_type AND e.hour = m.hour
         |JOIN (${OracleSqlGen.evAnomalySeasonal(3.0)}) s
         |  ON s.event_type = m.event_type AND s.hour_idx = epoch_us(m.hour) // 3600000000
         |ORDER BY m.event_type, hour_idx""".stripMargin,

    "ev_json_props" ->
      """SELECT CAST(props->>'k' AS INTEGER) % 10 AS k_bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k
        |FROM events
        |GROUP BY 1
        |ORDER BY k_bucket""".stripMargin,

    "ev_serialize_json" ->
      """SELECT event_id,
        |  '{"event_id":' || event_id || ',"user_id":' || user_id ||
        |  ',"event_type":"' || event_type || '"}' AS json
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "ev_top_keys" ->
      """SELECT user_id::VARCHAR || ':' || event_type AS key, COUNT(*) AS n
        |FROM events
        |GROUP BY 1
        |ORDER BY n DESC, key ASC
        |LIMIT 10""".stripMargin,

    "ev_sessionize" ->
      """SELECT user_id, sid, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS n_events
        |FROM (
        |  SELECT user_id, ts, event_id,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM (
        |    SELECT user_id, ts, event_id,
        |      CASE WHEN LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |        OR ts > LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) + INTERVAL 1 HOUR
        |        THEN 1 ELSE 0 END AS is_new
        |    FROM events))
        |GROUP BY user_id, sid
        |ORDER BY user_id, sid""".stripMargin,

    "ev_session_stats" ->
      """WITH s AS (
        |  SELECT user_id, sid, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |    COUNT(*) AS n_events
        |  FROM (
        |    SELECT user_id, ts, event_id,
        |      CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |    FROM (
        |      SELECT user_id, ts, event_id,
        |        CASE WHEN LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |          OR ts > LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) + INTERVAL 1 HOUR
        |          THEN 1 ELSE 0 END AS is_new
        |      FROM events))
        |  GROUP BY user_id, sid),
        |d AS (
        |  SELECT n_events,
        |    CAST(floor((epoch_us(session_end) - epoch_us(session_start)) / 1000000.0) AS BIGINT) AS dur_sec
        |  FROM s)
        |SELECT COUNT(*) AS n_sessions,
        |  floor((CAST(SUM(n_events) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))*1000000 + 0.5)/1000000 AS avg_events_r,
        |  floor(quantile_cont(n_events, 0.5)*10000 + 0.5)/10000 AS events_p50,
        |  floor(quantile_cont(n_events, 0.9)*10000 + 0.5)/10000 AS events_p90,
        |  floor((CAST(SUM(dur_sec) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))*1000000 + 0.5)/1000000 AS avg_dur_sec_r,
        |  floor(quantile_cont(dur_sec, 0.5)*10000 + 0.5)/10000 AS dur_p50,
        |  floor(quantile_cont(dur_sec, 0.9)*10000 + 0.5)/10000 AS dur_p90
        |FROM d""".stripMargin,

    "ev_asof_enrich" ->
      """WITH r AS (SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY 1, 2)
        |SELECT event_id, user_id, ts, r.o_orderkey, r.o_orderdate
        |FROM events ASOF LEFT JOIN r
        |  ON events.user_id = r.o_custkey AND r.o_orderdate <= events.ts
        |ORDER BY event_id""".stripMargin,

    "ev_asof_tolerance" ->
      """WITH r AS (SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY 1, 2),
        |m AS (SELECT e.event_id, r.o_orderkey, r.o_orderdate,
        |    row_number() OVER (PARTITION BY e.event_id ORDER BY r.o_orderdate DESC) AS rn
        |  FROM events e JOIN r ON r.o_custkey = e.user_id
        |    AND r.o_orderdate <= e.ts AND e.ts - r.o_orderdate <= INTERVAL 7 DAY)
        |SELECT e.event_id, e.user_id, e.ts,
        |  COALESCE(m.o_orderkey, -1) AS o_orderkey,
        |  COALESCE(m.o_orderdate, TIMESTAMP '1970-01-01') AS o_orderdate,
        |  CAST(m.o_orderkey IS NOT NULL AS INTEGER) AS matched
        |FROM events e LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (event_id)
        |ORDER BY e.event_id""".stripMargin,

    "ev_error_after_click" ->
      """SELECT e.user_id,
        |  COUNT(*) AS n_errors,
        |  COUNT(*) FILTER (WHERE EXISTS (
        |    SELECT 1 FROM events c WHERE c.event_type = 'click'
        |      AND c.user_id = e.user_id
        |      AND c.ts <= e.ts AND c.ts >= e.ts - INTERVAL 1 HOUR)) AS n_with_click
        |FROM events e
        |WHERE e.event_type = 'error'
        |GROUP BY e.user_id
        |ORDER BY e.user_id""".stripMargin,

    "ev_funnel" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
        |SELECT (SELECT COUNT(*) FROM s1) AS n_signup,
        |       (SELECT COUNT(*) FROM s2) AS n_click_after,
        |       (SELECT COUNT(*) FROM s3) AS n_purchase_after""".stripMargin,

    "ev_funnel_by_cohort" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s1c AS (SELECT user_id, t1, date_trunc('week', t1) AS cohort_week FROM s1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
        |base AS (SELECT cohort_week, COUNT(*) AS n_signup FROM s1c GROUP BY 1),
        |ck AS (SELECT cohort_week, COUNT(*) AS n_click FROM s1c JOIN s2 USING (user_id) GROUP BY 1),
        |pu AS (SELECT cohort_week, COUNT(*) AS n_purchase FROM s1c JOIN s3 USING (user_id) GROUP BY 1)
        |SELECT base.cohort_week, base.n_signup,
        |  COALESCE(ck.n_click, 0) AS n_click,
        |  COALESCE(pu.n_purchase, 0) AS n_purchase,
        |  floor((CAST(COALESCE(ck.n_click, 0) AS DOUBLE) / CAST(base.n_signup AS DOUBLE))*1000000 + 0.5)/1000000 AS click_rate_r,
        |  floor((CAST(COALESCE(pu.n_purchase, 0) AS DOUBLE) / CAST(base.n_signup AS DOUBLE))*1000000 + 0.5)/1000000 AS purchase_rate_r
        |FROM base LEFT JOIN ck USING (cohort_week) LEFT JOIN pu USING (cohort_week)
        |ORDER BY cohort_week""".stripMargin,

    "ev_funnel_latency" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
        |lat AS (
        |  SELECT 'signup_to_click' AS step,
        |    epoch_us(s2.t2) - epoch_us(s1.t1) AS lat_us
        |  FROM s1 JOIN s2 ON s1.user_id = s2.user_id
        |  UNION ALL
        |  SELECT 'click_to_purchase' AS step,
        |    epoch_us(s3.t3) - epoch_us(s2.t2) AS lat_us
        |  FROM s2 JOIN s3 ON s2.user_id = s3.user_id)
        |SELECT step, COUNT(*) AS n_users,
        |  floor(quantile_cont(lat_us, 0.5)*10000 + 0.5)/10000 AS p50_us,
        |  floor(quantile_cont(lat_us, 0.9)*10000 + 0.5)/10000 AS p90_us
        |FROM lat GROUP BY step ORDER BY step""".stripMargin,

    // the KMV sketch is deterministic order statistics over md5_60, so
    // the oracle reproduces the k-minimum set (and hence the estimate)
    // bit-for-bit — the portable counterpart to B12's rows-only HLL
    "q_distinct_kmv" ->
      """WITH hv AS (SELECT DISTINCT event_type,
        |  ('0x'||substr(md5('kmv:'||CAST(user_id AS VARCHAR)),1,15))::BIGINT AS hv
        |  FROM events),
        |r AS (SELECT event_type, hv,
        |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn FROM hv),
        |ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
        |  FROM events GROUP BY 1),
        |kept AS (SELECT event_type, COUNT(*) AS n_kept, MAX(hv) AS kth_min
        |  FROM r WHERE rn <= 64 GROUP BY 1)
        |SELECT k.event_type, CAST(k.n_kept AS BIGINT) AS n_kept, k.kth_min,
        |  floor((CASE WHEN k.n_kept < 64 THEN CAST(k.n_kept AS DOUBLE)
        |    ELSE CAST(63 AS DOUBLE) * 1152921504606846976.0 / CAST(k.kth_min AS DOUBLE)
        |    END)*1000000 + 0.5)/1000000 AS est_distinct_r,
        |  CAST(ex.n_exact AS BIGINT) AS n_exact
        |FROM kept k JOIN ex USING (event_type)
        |ORDER BY event_type""".stripMargin,

    // the bottom-k row sample is deterministic (h, v) order statistics
    // over md5_60 of the unique line key, and the quantiles are PICKED
    // sample elements (nearest rank, never interpolated) — bit-exact
    // on both engines; the portable counterpart to B24's rows-only
    // approx_percentile
    "q_quantile_sample" ->
      """WITH p AS (SELECT DISTINCT l_returnflag,
        |  ('0x'||substr(md5('qsample:'||CAST(l_orderkey AS VARCHAR)||':'||CAST(l_linenumber AS VARCHAR)),1,15))::BIGINT AS hv,
        |  l_extendedprice AS x FROM lineitem),
        |r AS (SELECT l_returnflag, x,
        |  ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY hv, x) AS rn FROM p),
        |s AS (SELECT l_returnflag, list(x ORDER BY x) AS sv,
        |  COUNT(*) AS n_sample FROM r WHERE rn <= 256 GROUP BY 1),
        |n AS (SELECT l_returnflag, COUNT(*) AS n_rows FROM lineitem GROUP BY 1)
        |SELECT n.l_returnflag, n.n_rows, CAST(s.n_sample AS BIGINT) AS n_sample,
        |  sv[CAST(floor(0.25*CAST(n_sample - 1 AS DOUBLE)+0.5) AS INTEGER)+1] AS q25,
        |  sv[CAST(floor(0.50*CAST(n_sample - 1 AS DOUBLE)+0.5) AS INTEGER)+1] AS q50,
        |  sv[CAST(floor(0.75*CAST(n_sample - 1 AS DOUBLE)+0.5) AS INTEGER)+1] AS q75,
        |  sv[CAST(floor(0.90*CAST(n_sample - 1 AS DOUBLE)+0.5) AS INTEGER)+1] AS q90
        |FROM n JOIN s USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,

    // A88: exact aggregator ==> plain rank-window oracle (B63's rule)
    "ev_topk_by_value" ->
      """SELECT event_type, CAST(rnk AS BIGINT) AS rnk, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id ASC) AS rnk
        |  FROM events
        |) WHERE rnk <= 3
        |ORDER BY event_type, rnk""".stripMargin,

    // A87: same construction over the events measure — A85's batch
    // twin (the stream equals this bit-for-bit)
    "ev_value_quantile_sample" ->
      """WITH p AS (SELECT DISTINCT event_type,
        |  ('0x'||substr(md5('qsample:'||CAST(event_id AS VARCHAR)),1,15))::BIGINT AS hv,
        |  value AS x FROM events),
        |r AS (SELECT event_type, x,
        |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv, x) AS rn FROM p),
        |s AS (SELECT event_type, list(x ORDER BY x) AS sv,
        |  COUNT(*) AS n_sample FROM r WHERE rn <= 256 GROUP BY 1),
        |n AS (SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY 1)
        |SELECT n.event_type, n.n_events, CAST(s.n_sample AS BIGINT) AS n_sample,
        |  sv[CAST(floor(0.25*CAST(n_sample - 1 AS DOUBLE)+0.5) AS INTEGER)+1] AS q25,
        |  sv[CAST(floor(0.50*CAST(n_sample - 1 AS DOUBLE)+0.5) AS INTEGER)+1] AS q50,
        |  sv[CAST(floor(0.75*CAST(n_sample - 1 AS DOUBLE)+0.5) AS INTEGER)+1] AS q75,
        |  sv[CAST(floor(0.90*CAST(n_sample - 1 AS DOUBLE)+0.5) AS INTEGER)+1] AS q90
        |FROM n JOIN s USING (event_type)
        |ORDER BY event_type""".stripMargin,

    // the bitmap-distinct card is EXACT, so the oracle is plain
    // COUNT(DISTINCT ...) arithmetic — word index = id // 64 matches
    // the Spark side's id >>> 6 on the nonnegative key domain (a
    // negative key fails the query); both ignore NULL keys
    "q_distinct_bitmap" ->
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS n_distinct,
        |  COUNT(DISTINCT user_id // 64) AS n_words,
        |  CAST(MAX(user_id // 64) AS BIGINT) AS max_word,
        |  floor((CAST(COUNT(DISTINCT user_id) AS DOUBLE) /
        |    (64.0 * CAST(COUNT(DISTINCT user_id // 64) AS DOUBLE)))*1000000 + 0.5)/1000000 AS density_r
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Q11 shape: per-part decimal-routed value, HAVING > mult x the
    // average per-part value (broadcast one-row scalar on Spark side;
    // average-relative so the head survives every corpus size)
    "q_important_stock" ->
      """WITH pp AS (SELECT l_partkey,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS value
        |  FROM lineitem GROUP BY 1),
        |tt AS (SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  CAST(COUNT(*) AS DOUBLE) AS n_parts FROM pp)
        |SELECT l_partkey AS p_partkey, value,
        |  floor((100.0 * value / total)*1000000 + 0.5)/1000000 AS share_pct_r
        |FROM pp, tt WHERE value > 1.5 * total / n_parts
        |ORDER BY value DESC, p_partkey""".stripMargin,

    // the oracle states the interval join DIRECTLY (ts >= start AND
    // ts < end) — the Spark side's chunked equi-join must be
    // result-identical to the naive range predicate
    "ev_interval_join" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |wr AS (SELECT hour, n,
        |  ROW_NUMBER() OVER (ORDER BY n DESC, hour) AS w_id FROM h),
        |w AS (SELECT CAST(w_id AS BIGINT) AS w_id,
        |  hour - INTERVAL 30 MINUTE AS w_start,
        |  hour + INTERVAL 90 MINUTE AS w_end
        |  FROM wr WHERE w_id <= 20)
        |SELECT w.w_id, w.w_start, w.w_end, COUNT(*) AS n_events,
        |  COUNT(DISTINCT e.user_id) AS n_users
        |FROM w JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
        |GROUP BY 1, 2, 3 ORDER BY w_id""".stripMargin,

    "q_month_trend" ->
      """WITH m AS (SELECT date_trunc('month', o_orderdate) AS month,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT month, revenue,
        |  LAG(revenue, 1) OVER (ORDER BY month) AS prev_revenue,
        |  CASE WHEN LAG(revenue, 1) OVER (ORDER BY month) IS NOT NULL
        |    THEN floor(((revenue - LAG(revenue, 1) OVER (ORDER BY month))
        |      / LAG(revenue, 1) OVER (ORDER BY month) * 100.0)*1000000 + 0.5)/1000000 END AS pct_change
        |FROM m ORDER BY month""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name ASC""".stripMargin,

    "q_window_running" ->
      """SELECT l_suppkey, rn, l_orderkey, l_shipdate, running_qty FROM (
        |  SELECT l_suppkey, l_orderkey, l_shipdate,
        |    ROW_NUMBER() OVER w AS rn,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) OVER
        |      (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
        |) WHERE rn <= 3
        |ORDER BY l_suppkey, rn""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_distinct_agg" ->
      """SELECT o_orderpriority,
        |  COUNT(DISTINCT o_custkey) AS n_cust,
        |  COUNT(DISTINCT o_orderstatus) AS n_status,
        |  COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_anti_semi" ->
      """SELECT c_mktsegment,
        |  COUNT(*) FILTER (WHERE EXISTS (
        |    SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 150000.0)) AS n_with,
        |  COUNT(*) FILTER (WHERE NOT EXISTS (
        |    SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 150000.0)) AS n_without
        |FROM customer
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q_topk_per_group" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders
        |) WHERE rnk <= 2
        |ORDER BY o_orderpriority, rnk""".stripMargin,

    // B63: the aggregator is EXACT, so the oracle is the same rank
    // window as B8 at k=3 — what the spec also pins row-for-row
    "q_topk_sketch" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders
        |) WHERE rnk <= 3
        |ORDER BY o_orderpriority, rnk""".stripMargin,

    "q_pivot" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS open_total,
        |  CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS filled_total,
        |  CAST(SUM(CAST(CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS partial_total,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(FLOOR(o_totalprice / 10000.0) AS BIGINT) AS bin, COUNT(*) AS n
        |FROM orders
        |GROUP BY 1
        |ORDER BY bin""".stripMargin,

    "q_histogram2d" ->
      """SELECT date_trunc('month', o_orderdate) AS month,
        |  CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS price_bin,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY 1, 2
        |ORDER BY month, price_bin""".stripMargin,

    "q_skew_salted_join" ->
      """WITH uo AS (SELECT o_custkey, COUNT(*) AS o_count FROM orders GROUP BY 1)
        |SELECT e.event_type, COUNT(*) AS n_events,
        |  CAST(SUM(uo.o_count) AS BIGINT) AS orders_weight
        |FROM events e JOIN uo ON e.user_id = uo.o_custkey
        |GROUP BY 1
        |ORDER BY event_type""".stripMargin,

    "q_revenue_deciles" ->
      """WITH per AS (SELECT o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY o_custkey),
        |cuts AS (SELECT
        |  floor(quantile_cont(revenue, 0.1)*10000 + 0.5)/10000 AS c1,
        |  floor(quantile_cont(revenue, 0.2)*10000 + 0.5)/10000 AS c2,
        |  floor(quantile_cont(revenue, 0.3)*10000 + 0.5)/10000 AS c3,
        |  floor(quantile_cont(revenue, 0.4)*10000 + 0.5)/10000 AS c4,
        |  floor(quantile_cont(revenue, 0.5)*10000 + 0.5)/10000 AS c5,
        |  floor(quantile_cont(revenue, 0.6)*10000 + 0.5)/10000 AS c6,
        |  floor(quantile_cont(revenue, 0.7)*10000 + 0.5)/10000 AS c7,
        |  floor(quantile_cont(revenue, 0.8)*10000 + 0.5)/10000 AS c8,
        |  floor(quantile_cont(revenue, 0.9)*10000 + 0.5)/10000 AS c9
        |  FROM per),
        |b AS (SELECT revenue,
        |  CASE WHEN revenue <= c1 THEN 1 WHEN revenue <= c2 THEN 2
        |       WHEN revenue <= c3 THEN 3 WHEN revenue <= c4 THEN 4
        |       WHEN revenue <= c5 THEN 5 WHEN revenue <= c6 THEN 6
        |       WHEN revenue <= c7 THEN 7 WHEN revenue <= c8 THEN 8
        |       WHEN revenue <= c9 THEN 9 ELSE 10 END AS decile
        |  FROM per, cuts),
        |d AS (SELECT decile, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(revenue AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |  FROM b GROUP BY decile),
        |tt AS (SELECT CAST(SUM(CAST(revenue AS DECIMAL(18,6))) AS DOUBLE) AS tot FROM d)
        |SELECT CAST(decile AS BIGINT) AS decile, n_customers, d.revenue,
        |  floor((d.revenue/tot)*1000000 + 0.5)/1000000 AS share_r,
        |  floor((CAST(SUM(CAST(d.revenue AS DECIMAL(18,6))) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)/tot)*1000000 + 0.5)/1000000 AS cum_share_r
        |FROM d, tt ORDER BY decile""".stripMargin,

    "q_not_in" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_custkey NOT IN
        |  (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "q_below_avg" ->
      """WITH a AS (SELECT l_partkey,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM lineitem l JOIN a USING (l_partkey)
        |WHERE l.l_quantity < 0.2 * a.avg_qty""".stripMargin,

    "q_set_ops" ->
      """SELECT
        |  (SELECT COUNT(*) FROM (
        |     SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |     UNION
        |     SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)) AS n_union,
        |  (SELECT COUNT(*) FROM (
        |     SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |     INTERSECT
        |     SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)) AS n_intersect,
        |  (SELECT COUNT(*) FROM (
        |     SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |     EXCEPT
        |     SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)) AS n_only_first""".stripMargin,

    "q_corr" ->
      """WITH m AS (SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
        |  CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
        |  CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        |  floor(((sxy - sx * sy / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))*1000000 + 0.5)/1000000 AS covar_pop_r,
        |  CASE WHEN (sxx - sx * sx / CAST(n AS DOUBLE)) > 0
        |        AND (syy - sy * sy / CAST(n AS DOUBLE)) > 0
        |    THEN floor(((sxy - sx * sy / CAST(n AS DOUBLE)) /
        |      (sqrt(sxx - sx * sx / CAST(n AS DOUBLE)) * sqrt(syy - sy * sy / CAST(n AS DOUBLE))))*1000000 + 0.5)/1000000
        |  END AS corr_r
        |FROM m ORDER BY l_returnflag""".stripMargin,

    "q_regr" ->
      """WITH m AS (SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
        |  CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
        |  CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT l_returnflag, n,
        |  sxx - sx * sx / CAST(n AS DOUBLE) AS vx,
        |  syy - sy * sy / CAST(n AS DOUBLE) AS vy,
        |  sxy - sx * sy / CAST(n AS DOUBLE) AS cxy,
        |  sx, sy FROM m)
        |SELECT l_returnflag, n,
        |  CASE WHEN vx > 0 THEN floor((cxy / vx)*1000000 + 0.5)/1000000 END AS slope_r,
        |  CASE WHEN vx > 0 THEN floor(((sy - cxy / vx * sx) / CAST(n AS DOUBLE))*1000000 + 0.5)/1000000 END AS intercept_r,
        |  CASE WHEN vx > 0 AND vy > 0 THEN floor((cxy * cxy / (vx * vy))*1000000 + 0.5)/1000000 END AS r2_r
        |FROM t ORDER BY l_returnflag""".stripMargin,

    "q_order_priority_semi" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_nation_trade" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE sn.n_name <> cn.n_name
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,

    "q_returned_revenue" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY 1)
        |SELECT c_custkey, c_name, n_name, c_acctbal, revenue
        |FROM rev
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY revenue DESC, c_custkey ASC
        |LIMIT 20""".stripMargin,

    "q_late_lines" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,

    "q_cust_order_dist" ->
      """WITH pc AS (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey)
        |SELECT c_count, COUNT(*) AS custdist
        |FROM pc GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q_promo_share" ->
      """WITH m AS (
        |  SELECT strftime(l_shipdate, '%Y-%m') AS month,
        |    CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS promo_rev,
        |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1)
        |SELECT month, promo_rev, total_rev,
        |  floor((100.0 * promo_rev / total_rev)*1000000 + 0.5)/1000000 AS promo_pct_r
        |FROM m ORDER BY month""".stripMargin,

    "q_disjunctive_pred" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20 AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 20 AND 40)""".stripMargin,

    "q_sole_late_supplier" ->
      """WITH po AS (
        |  SELECT l_orderkey,
        |    COUNT(DISTINCT l_suppkey) AS n_supp,
        |    COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN l_suppkey END) AS n_late_supp,
        |    MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN l_suppkey END) AS late_supp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY l_orderkey)
        |SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM po JOIN supplier ON late_supp = s_suppkey
        |WHERE n_supp >= 2 AND n_late_supp = 1
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name ASC
        |LIMIT 10""".stripMargin,

    "q_full_outer" ->
      """WITH a AS (SELECT o_custkey, COUNT(*) AS n95 FROM orders
        |  WHERE year(o_orderdate) = 1995 GROUP BY 1),
        |b AS (SELECT o_custkey, COUNT(*) AS n96 FROM orders
        |  WHERE year(o_orderdate) = 1996 GROUP BY 1),
        |j AS (SELECT
        |  CASE WHEN a.o_custkey IS NOT NULL AND b.o_custkey IS NOT NULL THEN 'both'
        |       WHEN a.o_custkey IS NOT NULL THEN 'only_1995' ELSE 'only_1996' END AS presence,
        |  COALESCE(n95, 0) AS n95, COALESCE(n96, 0) AS n96
        |  FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey)
        |SELECT presence, COUNT(*) AS n_cust,
        |  CAST(SUM(n95) AS BIGINT) AS orders_1995,
        |  CAST(SUM(n96) AS BIGINT) AS orders_1996
        |FROM j GROUP BY presence ORDER BY presence""".stripMargin,

    "q_yoy_growth" ->
      """WITH rev AS (
        |  SELECT n_name, year(o_orderdate) AS o_year,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |l AS (SELECT n_name, CAST(o_year AS BIGINT) AS o_year, revenue,
        |    LAG(revenue, 1) OVER (PARTITION BY n_name ORDER BY o_year) AS prev_revenue
        |  FROM rev)
        |SELECT n_name, o_year, revenue, prev_revenue,
        |  CASE WHEN prev_revenue IS NOT NULL THEN
        |    floor(((revenue - prev_revenue) / prev_revenue)*1000000 + 0.5)/1000000
        |  END AS growth_r
        |FROM l ORDER BY n_name, o_year""".stripMargin,

    "q_revenue_delta" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= CAST(0.045 AS DOUBLE) AND l_discount <= CAST(0.075 AS DOUBLE)
        |  AND l_quantity < 24.0""".stripMargin,

    "q_market_share" ->
      """WITH l AS (
        |  SELECT year(o_orderdate) AS o_year,
        |    l_extendedprice * (1.0 - l_discount) AS vol,
        |    n2.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
        |m AS (
        |  SELECT CAST(o_year AS BIGINT) AS o_year,
        |    CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS nation_rev,
        |    CAST(SUM(CAST(vol AS DECIMAL(18,6))) AS DOUBLE) AS total_rev
        |  FROM l GROUP BY 1)
        |SELECT o_year, nation_rev, total_rev,
        |  floor((nation_rev / total_rev)*1000000 + 0.5)/1000000 AS mkt_share_r
        |FROM m ORDER BY o_year""".stripMargin,

    "q_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q_small_qty_revenue" ->
      """WITH lines AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#3'),
        |a AS (
        |  SELECT l_partkey AS ap_partkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty
        |  FROM lines GROUP BY 1)
        |SELECT
        |  floor((CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0)*1000000 + 0.5)/1000000 AS avg_yearly_r,
        |  COUNT(*) AS n_lines
        |FROM lines JOIN a ON l_partkey = ap_partkey
        |WHERE l_quantity < CAST(0.2 AS DOUBLE) * avg_qty""".stripMargin,

    "q_window_funcs" ->
      """SELECT o_custkey, seq, o_orderkey, quartile, pct_rank_r, first_price FROM (
        |  SELECT o_custkey, o_orderkey,
        |    ROW_NUMBER() OVER w AS seq,
        |    NTILE(4) OVER w AS quartile,
        |    floor(percent_rank() OVER w * 1000000 + 0.5)/1000000 AS pct_rank_r,
        |    first_value(o_totalprice) OVER w AS first_price
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
        |WHERE seq <= 2
        |ORDER BY o_custkey, seq""".stripMargin,

    "q_ship_latency" ->
      """WITH fs AS (SELECT l_orderkey, MIN(l_shipdate) AS first_ship FROM lineitem GROUP BY 1)
        |SELECT o_orderpriority, COUNT(*) AS n,
        |  floor((CAST(SUM(datediff('day', o_orderdate, first_ship)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))*1000000 + 0.5)/1000000 AS avg_days_r,
        |  floor(quantile_cont(datediff('day', o_orderdate, first_ship), 0.5)*10000 + 0.5)/10000 AS p50,
        |  floor(quantile_cont(datediff('day', o_orderdate, first_ship), 0.9)*10000 + 0.5)/10000 AS p90
        |FROM orders JOIN fs ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_idle_rich_customers" ->
      """WITH a AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_mktsegment, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_bal
        |FROM customer, a
        |WHERE c_acctbal > a.avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "ev_retention" ->
      """WITH a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM a GROUP BY 1)
        |SELECT c.cohort_day, datediff('day', c.cohort_day, a.day) AS day_offset,
        |  COUNT(*) AS n_users
        |FROM a JOIN c ON a.user_id = c.user_id
        |GROUP BY 1, 2
        |ORDER BY cohort_day, day_offset""".stripMargin,

    "ev_cohort_ltv" ->
      """WITH pud AS (SELECT user_id, date_trunc('day', ts) AS day,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS dv
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM pud GROUP BY 1),
        |r AS (SELECT c.cohort_day, datediff('day', c.cohort_day, pud.day) AS day_offset,
        |    COUNT(*) AS n_active, SUM(dv) AS vd
        |  FROM pud JOIN c ON pud.user_id = c.user_id GROUP BY 1, 2)
        |SELECT cohort_day, day_offset, n_active,
        |  CAST(vd AS DOUBLE) AS day_value,
        |  CAST(SUM(vd) OVER (PARTITION BY cohort_day ORDER BY day_offset
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_value
        |FROM r ORDER BY cohort_day, day_offset""".stripMargin,

    "ev_state_transitions" ->
      """WITH s AS (SELECT event_type AS from_type,
        |    LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type,
        |    epoch_us(LEAD(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) - epoch_us(ts) AS gap_us
        |  FROM events),
        |tr AS (SELECT from_type, to_type, COUNT(*) AS n,
        |    CAST(SUM(gap_us) AS BIGINT) AS gap_us_total
        |  FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM tr GROUP BY 1)
        |SELECT tr.from_type, tr.to_type, tr.n, tr.gap_us_total,
        |  floor((CAST(tr.n AS DOUBLE) / CAST(tot.n_from AS DOUBLE))*1000000 + 0.5)/1000000 AS p_r
        |FROM tr JOIN tot ON tr.from_type = tot.from_type
        |ORDER BY tr.from_type, tr.to_type""".stripMargin,

    "text_entropy" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text),' ') AS tk FROM documents),
        |tok AS (SELECT doc_id, unnest(tk) AS w FROM t),
        |dtc AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w),
        |e AS (SELECT doc_id,
        |  CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  COUNT(*) AS n_types,
        |  CAST(SUM(c * CAST(floor(ln(CAST(c AS DOUBLE))*1000000 + 0.5)/1000000 AS DECIMAL(18,6))) AS DOUBLE) AS s_clnc
        |FROM dtc GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_types,
        |  floor((ln(CAST(n_tokens AS DOUBLE)) - s_clnc / CAST(n_tokens AS DOUBLE))*1000000 + 0.5)/1000000 AS entropy_r,
        |  floor((CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE))*1000000 + 0.5)/1000000 AS ttr_r
        |FROM e ORDER BY doc_id""".stripMargin,

    "ev_type_affinity" ->
      """WITH cells AS (SELECT DISTINCT user_id, date_trunc('hour', ts) AS hour, event_type
        |  FROM events),
        |pc AS (SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_cooccur
        |  FROM cells a JOIN cells b
        |    ON a.user_id = b.user_id AND a.hour = b.hour AND a.event_type < b.event_type
        |  GROUP BY 1, 2),
        |m AS (SELECT event_type, COUNT(*) AS n_m FROM cells GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n_baskets FROM (SELECT DISTINCT user_id, hour FROM cells))
        |SELECT pc.type_a, pc.type_b, pc.n_cooccur,
        |  ma.n_m AS n_a, mb.n_m AS n_b,
        |  floor((CAST(pc.n_cooccur * tot.n_baskets AS DOUBLE)
        |    / CAST(ma.n_m * mb.n_m AS DOUBLE))*1000000 + 0.5)/1000000 AS lift_r
        |FROM pc JOIN m ma ON pc.type_a = ma.event_type
        |  JOIN m mb ON pc.type_b = mb.event_type, tot
        |ORDER BY type_a, type_b""".stripMargin,

    "doc_tokenizer_fertility" ->
      """WITH d AS (SELECT source, lang,
        |  length(text) AS n_chars,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9 ]')) AS re_tokens
        |FROM documents)
        |SELECT source, lang, COUNT(*) AS n_docs,
        |  CAST(SUM(ws_tokens) AS BIGINT) AS ws_total,
        |  CAST(SUM(re_tokens) AS BIGINT) AS re_total,
        |  floor((CAST(SUM(re_tokens) AS DOUBLE) / CAST(SUM(ws_tokens) AS DOUBLE))*1000000 + 0.5)/1000000 AS fertility_r,
        |  floor((CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(re_tokens) AS DOUBLE))*1000000 + 0.5)/1000000 AS chars_per_token_r
        |FROM d GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin,

    "ev_value_profile" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  floor((CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))*1000000 + 0.5)/1000000 AS mean_r,
        |  floor(quantile_cont(value, 0.5)*10000 + 0.5)/10000 AS p50,
        |  floor(quantile_cont(value, 0.9)*10000 + 0.5)/10000 AS p90,
        |  floor(quantile_cont(value, 0.99)*10000 + 0.5)/10000 AS p99
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "ev_user_entropy" ->
      """WITH utc AS (SELECT user_id, event_type, COUNT(*) AS c,
        |  MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi
        |  FROM events GROUP BY user_id, event_type),
        |e AS (SELECT user_id,
        |  CAST(SUM(c) AS BIGINT) AS n_events,
        |  COUNT(*) AS n_types,
        |  CAST(SUM(c * CAST(floor(ln(CAST(c AS DOUBLE))*1000000 + 0.5)/1000000 AS DECIMAL(18,6))) AS DOUBLE) AS s_clnc,
        |  MAX(hi) - MIN(lo) AS span_us
        |FROM utc GROUP BY user_id)
        |SELECT user_id, n_events, n_types,
        |  floor((ln(CAST(n_events AS DOUBLE)) - s_clnc / CAST(n_events AS DOUBLE))*1000000 + 0.5)/1000000 AS entropy_r,
        |  span_us,
        |  CASE WHEN span_us > 0 THEN
        |    floor((CAST(n_events AS DOUBLE) * 3600000000.0 / CAST(span_us AS DOUBLE))*1000000 + 0.5)/1000000
        |  END AS rate_per_hour_r
        |FROM e ORDER BY user_id""".stripMargin,

    "q_large_volume" ->
      """SELECT c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty FROM (
        |  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 300.0) big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 20""".stripMargin,

    "q_rolling_window" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
        |    PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
        |    RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_total
        |FROM orders
        |WHERE o_custkey <= 50
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,

    "q_profile" ->
      """SELECT 'l_discount' AS "column", COUNT(*) AS n, COUNT(l_discount) AS n_nonnull,
        |  COUNT(DISTINCT l_discount) AS n_distinct,
        |  CAST(MIN(l_discount) AS DOUBLE) AS min_val, CAST(MAX(l_discount) AS DOUBLE) AS max_val,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sum_val FROM lineitem
        |UNION ALL
        |SELECT 'l_extendedprice', COUNT(*), COUNT(l_extendedprice), COUNT(DISTINCT l_extendedprice),
        |  CAST(MIN(l_extendedprice) AS DOUBLE), CAST(MAX(l_extendedprice) AS DOUBLE),
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', COUNT(*), COUNT(l_quantity), COUNT(DISTINCT l_quantity),
        |  CAST(MIN(l_quantity) AS DOUBLE), CAST(MAX(l_quantity) AS DOUBLE),
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) FROM lineitem
        |ORDER BY "column"""".stripMargin,

    "ev_gap_fill" ->
      """WITH bounds AS (
        |  SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1 FROM events),
        |hours AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM bounds),
        |counts AS (SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n_raw
        |  FROM events GROUP BY 1)
        |SELECT hours.hour, COALESCE(n_raw, 0) AS n
        |FROM hours LEFT JOIN counts ON hours.hour = counts.hour
        |ORDER BY hours.hour""".stripMargin,

    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_grouping_sets" ->
      """WITH li AS (SELECT l_returnflag, l_linestatus,
        |  CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS ship_year, l_quantity FROM lineitem)
        |SELECT l_returnflag, l_linestatus, ship_year,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n,
        |  CAST(GROUPING(l_returnflag, l_linestatus, ship_year) AS BIGINT) AS gid
        |FROM li
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (ship_year), ())
        |ORDER BY gid, l_returnflag ASC NULLS FIRST,
        |  l_linestatus ASC NULLS FIRST, ship_year ASC NULLS FIRST""".stripMargin,

    "q_distinct_skewsafe" ->
      """SELECT event_type, COUNT(*) AS n_users
        |FROM (SELECT DISTINCT event_type, user_id FROM events)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_percentiles" ->
      """SELECT o_orderpriority,
        |  floor(quantile_cont(o_totalprice, 0.25)*10000 + 0.5)/10000 AS p25,
        |  floor(quantile_cont(o_totalprice, 0.5)*10000 + 0.5)/10000 AS p50,
        |  floor(quantile_cont(o_totalprice, 0.9)*10000 + 0.5)/10000 AS p90,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // §2.C/D/E/F: generated mirrors of the Spark operators (shared
    // constants — see OracleSqlGen).
    "doc_exact_dedup"       -> OracleSqlGen.docExactDedup,
    "doc_minhash_sig"       -> OracleSqlGen.docMinhashSig,
    "doc_minhash_lsh_pairs" -> OracleSqlGen.docMinhashLshPairs,
    "doc_edit_distance"     -> OracleSqlGen.docEditDistance,
    "doc_cdc_chunks"        -> OracleSqlGen.docCdcChunks(16, 64),
    "doc_cdc_dup_mass"      -> OracleSqlGen.docCdcDupMass(16, 64),
    "doc_minhash_jaccard_est" -> OracleSqlGen.docMinhashJaccardEst,
    "doc_bbit_minhash_est"    -> OracleSqlGen.docBbitMinhashEst(4),
    "ev_stationary_dist"      -> OracleSqlGen.evStationaryDist(10),
    "ev_markov_entropy"       -> OracleSqlGen.evMarkovEntropyRate(10),
    "ev_anomaly_seasonal"     -> OracleSqlGen.evAnomalySeasonal(3.0),
    "doc_minhash_calibration" -> OracleSqlGen.docMinhashCalibration,
    "text_bpe_train"          -> OracleSqlGen.textBpeTrain(3),
    "doc_lsh_bucket_stats"    -> OracleSqlGen.docLshBucketStats,
    "doc_dup_bias"            -> OracleSqlGen.docDupBias,
    "ev_user_zipf"            -> OracleSqlGen.evUserZipf(100),
    "ev_cusum_changepoint"    -> OracleSqlGen.evCusumChangepoint(48, 0.5, 5.0),
    "ev_cusum_drop"           -> OracleSqlGen.evCusumDrop(48, 0.5, 5.0),
    "ev_abtest"               -> OracleSqlGen.evAbtest,
    "ev_mde_power"            -> OracleSqlGen.evMdePower,
    "ev_ab_srm"               -> OracleSqlGen.evAbSrm,
    "ev_cuped"                -> OracleSqlGen.evCuped,
    "ev_bot_suspects"         -> OracleSqlGen.evBotSuspects(20, 20L, 0.3),
    "ev_conversion_window_sweep" -> OracleSqlGen.evConversionWindowSweep(Seq(1, 6, 24)),
    // F16: the identical per-position lambda over the same char
    // stream (ASCII synthetic payloads; ord == ascii); integer sums
    "mm_sharpness_proxy" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
        |  floor((CAST(list_reduce([abs(ord(substr(text, i + 1, 1)) - ord(substr(text, i, 1)))
        |      for i in range(1, length(text))], (x, y) -> x + y) AS DOUBLE) /
        |    CAST(length(text) - 1 AS DOUBLE))*1000000 + 0.5)/1000000 AS mean_abs_grad_r
        |FROM documents WHERE length(text) > 1 ORDER BY doc_id""".stripMargin,
    "ev_ttl_tuning"           -> OracleSqlGen.evTtlTuning(Seq(1L, 6L, 24L, 96L)),
    "ev_autocorr"             -> OracleSqlGen.evAutocorr(Seq(1, 24)),
    "ev_holt_forecast"        -> OracleSqlGen.evHoltForecast(0.5, 0.25),
    "ev_token_bucket"         -> OracleSqlGen.evTokenBucket(2, 43200L),
    "ev_forecast_eval"        -> OracleSqlGen.evForecastEval(0.5, 0.25),
    "ev_burst_windows"        -> OracleSqlGen.evBurstWindows(2.0),
    "ev_burst_impact"         -> OracleSqlGen.evBurstImpact(2.0, 20),
    "q_cms_portable"          -> OracleSqlGen.qCmsPortable(4, 256, 20),
    "q_hll_portable"          -> OracleSqlGen.qHllPortable,
    // Q6: the oracle states the same year/band/cap predicates; sum
    // decimal-routed to match psum
    "q_revenue_forecast" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue_gain,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= '1995-01-01' AND l_shipdate < '1996-01-01'
        |  AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24.0""".stripMargin,
    "text_vocab_hll"          -> OracleSqlGen.textVocabHll,
    "doc_quality_vs_dup"      -> OracleSqlGen.docQualityVsDup,
    "doc_quality_quantile_sample" -> OracleSqlGen.docQualityQuantileSample(256),
    "doc_warc_roundtrip"    -> OracleSqlGen.docWarcRoundtrip,
    // C31: same (source,hash) presence-maxima aggregate + rollup
    "doc_snapshot_churn" ->
      """WITH per AS (SELECT source, md5(text) AS h,
        |  MAX(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS a,
        |  MAX(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS b
        |  FROM documents GROUP BY 1, 2)
        |SELECT source,
        |  CAST(SUM(a) AS BIGINT) AS n_a, CAST(SUM(b) AS BIGINT) AS n_b,
        |  CAST(SUM(a*b) AS BIGINT) AS n_common,
        |  CASE WHEN SUM(b) > 0 THEN floor((CAST(SUM(b) - SUM(a*b) AS DOUBLE) / CAST(SUM(b) AS DOUBLE))*1000000 + 0.5)/1000000 END AS added_frac_r,
        |  CASE WHEN SUM(a) > 0 THEN floor((CAST(SUM(a) - SUM(a*b) AS DOUBLE) / CAST(SUM(a) AS DOUBLE))*1000000 + 0.5)/1000000 END AS removed_frac_r
        |FROM per GROUP BY source ORDER BY source""".stripMargin,
    "q_min_cost_supplier"     -> OracleSqlGen.qMinCostSupplier,
    "q_product_profit"        -> OracleSqlGen.qProductProfit("bolt"),
    "doc_ppl_reference"       -> OracleSqlGen.docPplReference("src0", 40.0),
    "q_supplier_part_types"   -> OracleSqlGen.qSupplierPartTypes(Seq(2, 5, 11, 28, 37, 42, 49, 50)),
    "q_partition_advisor"     -> OracleSqlGen.qPartitionAdvisor(128),
    "q_potential_promotion"   -> OracleSqlGen.qPotentialPromotion("red", 0.2),
    "q_bloom_join_reduce"     -> OracleSqlGen.qBloomJoinReduce(480000.0),
    "q_range_frame"           -> OracleSqlGen.qRangeFrame(7),
    "q_kmv_set_ops"           -> OracleSqlGen.qKmvSetOps(64),
    "emb_energy_curve"        -> OracleSqlGen.embEnergyCurve(Seq(8, 16, 32, 64)),
    "ann_triangles"           -> OracleSqlGen.annTriangles(5, 128, 0.0),
    "ann_hubness"             -> OracleSqlGen.annHubness(3, 128),
    "emb_explained_variance"  -> OracleSqlGen.embExplainedVariance,
    "ann_hamming_rerank"      -> OracleSqlGen.annHammingRerank(8, 5, 24),
    "ann_nprobe_tuning"       -> OracleSqlGen.annNprobeTuning(8, 3, 16, Seq(1, 2, 4, 8)),
    "ann_mmr_diversify"       -> OracleSqlGen.annMmrDiversify(8, 5, 20, 0.5),
    "ann_mips_topk"           -> OracleSqlGen.annMipsTopk(8, 5),
    "mm_scene_cuts"           -> OracleSqlGen.mmSceneCuts(64, 4, 36),
    "mm_keyframe_select"      -> OracleSqlGen.mmKeyframeSelect(64, 4, 36),
    "mm_video_summary"        -> OracleSqlGen.mmVideoSummary(64, 4, 36),
    "mm_cross_source_dup"     -> OracleSqlGen.mmCrossSourceDup(4),
    "doc_dedup_agreement"     -> OracleSqlGen.docDedupAgreement(0.8, 0.2),
    "doc_dup_ngram_mass"      -> OracleSqlGen.docDupNgramMass,
    "doc_curation_funnel"     -> OracleSqlGen.docCurationFunnel(0.5),
    "doc_text_embedding_card" -> OracleSqlGen.docTextEmbeddingCard,
    "doc_simhash"           -> OracleSqlGen.docSimhash,
    "doc_simhash_pairs"     -> OracleSqlGen.docSimhashPairs(12),
    "doc_simhash_hamming_hist" -> OracleSqlGen.docSimhashHammingHist(12),
    "doc_ngram_jaccard"     -> OracleSqlGen.docNgramJaccard,
    "doc_lsh_tuning"        -> OracleSqlGen.docLshTuning,
    "doc_lsh_recall"        -> OracleSqlGen.docLshRecall,
    "doc_shingle_df_hist"   -> OracleSqlGen.docShingleDfHist,
    "doc_dedup_clusters"    -> OracleSqlGen.docDedupClusters,
    "doc_split_leakage_safe" -> OracleSqlGen.docSplitLeakageSafe(990, 5),
    "doc_lsh_band_planner"  -> OracleSqlGen.docLshBandPlanner(0.2),
    "doc_split_leakage_audit" -> OracleSqlGen.docSplitLeakageAudit(990, 5),
    "doc_cluster_stats"     -> OracleSqlGen.docClusterStats,
    "doc_dedup_rate_by_threshold" -> OracleSqlGen.docDedupRateByThreshold(Seq(0.2, 0.3, 0.4, 0.5, 0.7, 0.9)),
    "doc_cross_source_dup"  -> OracleSqlGen.docCrossSourceDup,
    "ann_threshold_ladder"  -> OracleSqlGen.annThresholdLadder(Seq(0.45, 0.5, 0.6, 0.7, 0.8, 0.9)),
    "doc_lang_confusion"    -> OracleSqlGen.docLangConfusion,
    "corpus_quality_stats"  -> OracleSqlGen.corpusQualityStats(0.5),
    "text_zipf"             -> OracleSqlGen.textZipf(50),
    "corpus_heaps_law"      -> OracleSqlGen.corpusHeapsLaw(10),
    "ev_dormant_users" ->
      """WITH mx AS (SELECT MAX(ts) AS max_ts FROM events),
        |u AS (SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS n_events FROM events GROUP BY 1)
        |SELECT user_id, last_ts, n_events,
        |  CAST(floor((epoch_us(mx.max_ts) - epoch_us(last_ts)) / 3600000000.0) AS BIGINT) AS hours_inactive
        |FROM u, mx
        |WHERE CAST(floor((epoch_us(mx.max_ts) - epoch_us(last_ts)) / 3600000000.0) AS BIGINT) >= 24
        |ORDER BY user_id""".stripMargin,

    "ev_top_paths" ->
      """WITH s AS (SELECT event_type AS step1,
        |    LEAD(event_type, 1) OVER w AS step2,
        |    LEAD(event_type, 2) OVER w AS step3
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (SELECT step1, step2, step3, COUNT(*) AS n FROM s
        |  WHERE step3 IS NOT NULL GROUP BY 1, 2, 3)
        |SELECT step1, step2, step3, n FROM p
        |ORDER BY n DESC, step1, step2, step3
        |LIMIT 20""".stripMargin,

    "text_kl_source" ->
      """WITH st AS (SELECT source, token, COUNT(*) AS c
        |  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS token FROM documents)
        |  GROUP BY 1, 2),
        |corpus AS (SELECT token, CAST(SUM(c) AS BIGINT) AS cc FROM st GROUP BY 1
        |  ORDER BY cc DESC, token ASC LIMIT 500),
        |nc AS (SELECT CAST(SUM(cc) AS BIGINT) AS nc FROM corpus),
        |terms AS (SELECT token, cc,
        |  CAST(floor(ln(CAST(cc + 1 AS DOUBLE) / CAST(nc.nc + 500 AS DOUBLE))*1000000 + 0.5) AS BIGINT) AS lnpc_m
        |  FROM corpus, nc),
        |sources AS (SELECT DISTINCT source FROM documents),
        |grid AS (SELECT s.source, t.token, t.lnpc_m, COALESCE(st.c, 0) AS cs
        |  FROM sources s CROSS JOIN terms t
        |  LEFT JOIN st ON st.source = s.source AND st.token = t.token),
        |nsr AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS ns FROM grid GROUP BY 1),
        |sc AS (SELECT g.source, nsr.ns,
        |  CAST(floor(ln(CAST(g.cs + 1 AS DOUBLE) / CAST(nsr.ns + 500 AS DOUBLE))*1000000 + 0.5) AS BIGINT) AS lnps_m,
        |  g.cs, g.lnpc_m
        |  FROM grid g JOIN nsr ON g.source = nsr.source),
        |k AS (SELECT source, ns, CAST(SUM((cs + 1) * (lnps_m - lnpc_m)) AS BIGINT) AS kl_micro
        |  FROM sc GROUP BY 1, 2)
        |SELECT source, ns AS n_topv_tokens,
        |  floor((CAST(kl_micro AS DOUBLE) / 1000000.0 / CAST(ns + 500 AS DOUBLE))*1000000 + 0.5)/1000000 AS kl_r
        |FROM k ORDER BY source""".stripMargin,

    "text_jsd_pairs" ->
      """WITH st AS (SELECT source, token, COUNT(*) AS c
        |  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS token FROM documents)
        |  GROUP BY 1, 2),
        |corpus AS (SELECT token, CAST(SUM(c) AS BIGINT) AS cc FROM st GROUP BY 1
        |  ORDER BY cc DESC, token ASC LIMIT 500),
        |sources AS (SELECT DISTINCT source FROM documents),
        |grid AS (SELECT s.source, t.token, COALESCE(st.c, 0) AS cs
        |  FROM sources s CROSS JOIN corpus t
        |  LEFT JOIN st ON st.source = s.source AND st.token = t.token),
        |nsr AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS ns FROM grid GROUP BY 1),
        |g AS (SELECT grid.source, grid.token, grid.cs, nsr.ns
        |  FROM grid JOIN nsr ON grid.source = nsr.source),
        |p AS (SELECT a.source AS source_a, b.source AS source_b, a.token,
        |    a.cs AS ca, a.ns AS na, b.cs AS cb, b.ns AS nb
        |  FROM g a JOIN g b ON a.token = b.token AND a.source < b.source),
        |x AS (SELECT source_a, source_b, na, nb, ca, cb,
        |    CAST(floor(ln(CAST(ca + 1 AS DOUBLE) / CAST(na + 500 AS DOUBLE))*1000000 + 0.5) AS BIGINT) AS lnpa_m,
        |    CAST(floor(ln(CAST(cb + 1 AS DOUBLE) / CAST(nb + 500 AS DOUBLE))*1000000 + 0.5) AS BIGINT) AS lnpb_m,
        |    CAST(floor(ln(CAST((ca+1)*(nb+500) + (cb+1)*(na+500) AS DOUBLE)
        |      / (2.0 * CAST(na + 500 AS DOUBLE) * CAST(nb + 500 AS DOUBLE)))*1000000 + 0.5) AS BIGINT) AS lnm_m
        |  FROM p),
        |k AS (SELECT source_a, source_b, na, nb,
        |    CAST(SUM((ca + 1) * (lnpa_m - lnm_m)) AS BIGINT) AS sa,
        |    CAST(SUM((cb + 1) * (lnpb_m - lnm_m)) AS BIGINT) AS sb
        |  FROM x GROUP BY 1, 2, 3, 4)
        |SELECT source_a, source_b,
        |  floor(((CAST(sa AS DOUBLE) / CAST(na + 500 AS DOUBLE)
        |    + CAST(sb AS DOUBLE) / CAST(nb + 500 AS DOUBLE)) / 2000000.0)*1000000 + 0.5)/1000000 AS jsd_r
        |FROM k ORDER BY source_a, source_b""".stripMargin,

    "text_token_coverage" ->
      """WITH c AS (SELECT token, COUNT(*) AS n
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
        |  GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c),
        |l AS (
        |  SELECT CAST(1 AS BIGINT) AS vocab_size, (SELECT CAST(SUM(n) AS BIGINT) FROM (SELECT n FROM c ORDER BY n DESC, token ASC LIMIT 1)) AS covered
        |  UNION ALL SELECT 2, (SELECT CAST(SUM(n) AS BIGINT) FROM (SELECT n FROM c ORDER BY n DESC, token ASC LIMIT 2))
        |  UNION ALL SELECT 4, (SELECT CAST(SUM(n) AS BIGINT) FROM (SELECT n FROM c ORDER BY n DESC, token ASC LIMIT 4))
        |  UNION ALL SELECT 8, (SELECT CAST(SUM(n) AS BIGINT) FROM (SELECT n FROM c ORDER BY n DESC, token ASC LIMIT 8))
        |  UNION ALL SELECT 16, (SELECT CAST(SUM(n) AS BIGINT) FROM (SELECT n FROM c ORDER BY n DESC, token ASC LIMIT 16)))
        |SELECT vocab_size, covered,
        |  floor((CAST(covered AS DOUBLE) / CAST(tot AS DOUBLE))*1000000 + 0.5)/1000000 AS coverage_r
        |FROM l, t ORDER BY vocab_size""".stripMargin,

    "text_bpe_pairs" ->
      """WITH w AS (
        |  SELECT word, COUNT(*) AS n
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
        |  WHERE word <> '' GROUP BY word),
        |p AS (
        |  SELECT unnest([substring(word, i, 2) for i in range(1, length(word))]) AS pair, n
        |  FROM w WHERE length(word) >= 2)
        |SELECT pair, CAST(SUM(n) AS BIGINT) AS total
        |FROM p GROUP BY pair
        |ORDER BY total DESC, pair ASC
        |LIMIT 50""".stripMargin,

    "text_bpe_merge" ->
      """WITH w AS (
        |  SELECT word, COUNT(*) AS n
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
        |  WHERE word <> '' GROUP BY word),
        |v AS (SELECT * FROM w WHERE length(word) >= 2),
        |p1 AS (
        |  SELECT unnest([substring(word, i, 2) for i in range(1, length(word))]) AS pair, n
        |  FROM v),
        |top AS (
        |  SELECT pair FROM (SELECT pair, SUM(n) AS total FROM p1 GROUP BY pair)
        |  ORDER BY total DESC, pair ASC LIMIT 1),
        |m AS (
        |  SELECT replace(word, (SELECT pair FROM top), chr(1)) AS w2, n FROM v),
        |p2 AS (
        |  SELECT unnest([substring(w2, i, 2) for i in range(1, length(w2))]) AS p2, n
        |  FROM m WHERE length(w2) >= 2),
        |g AS (
        |  SELECT substring(p2, 1, 1) AS l, substring(p2, 2, 1) AS r,
        |    CAST(SUM(n) AS BIGINT) AS total
        |  FROM p2 GROUP BY 1, 2)
        |SELECT (SELECT pair FROM top) AS merged,
        |  CASE WHEN l = chr(1) THEN (SELECT pair FROM top) ELSE l END AS left_sym,
        |  CASE WHEN r = chr(1) THEN (SELECT pair FROM top) ELSE r END AS right_sym,
        |  total
        |FROM g
        |ORDER BY total DESC, left_sym ASC, right_sym ASC
        |LIMIT 50""".stripMargin,

    "doc_length_profile" ->
      """SELECT source, lang, COUNT(*) AS n_docs,
        |  floor((CAST(SUM(CAST(n_chars AS DECIMAL(18,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))*1000000 + 0.5)/1000000 AS avg_chars_r,
        |  floor(quantile_cont(n_chars, 0.5)*10000 + 0.5)/10000 AS chars_p50,
        |  floor(quantile_cont(n_chars, 0.9)*10000 + 0.5)/10000 AS chars_p90,
        |  floor(quantile_cont(len(string_split(text, ' ')), 0.5)*10000 + 0.5)/10000 AS tokens_p50,
        |  floor(quantile_cont(len(string_split(text, ' ')), 0.9)*10000 + 0.5)/10000 AS tokens_p90
        |FROM documents
        |GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin,

    "ev_rfm" ->
      """WITH per AS (
        |  SELECT user_id, max(ts) AS last_ts, COUNT(*) AS freq,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS monetary
        |  FROM events GROUP BY user_id),
        |fx AS (SELECT max(last_ts) AS max_ts FROM per),
        |pr AS (
        |  SELECT user_id,
        |    CAST(floor((epoch_us(max_ts) - epoch_us(last_ts)) / 1000000.0) AS BIGINT) AS recency_sec,
        |    freq, monetary
        |  FROM per, fx),
        |c AS (SELECT
        |    floor(quantile_cont(recency_sec, 0.25)*10000 + 0.5)/10000 AS r1,
        |    floor(quantile_cont(recency_sec, 0.5)*10000 + 0.5)/10000 AS r2,
        |    floor(quantile_cont(recency_sec, 0.75)*10000 + 0.5)/10000 AS r3,
        |    floor(quantile_cont(freq, 0.25)*10000 + 0.5)/10000 AS f1,
        |    floor(quantile_cont(freq, 0.5)*10000 + 0.5)/10000 AS f2,
        |    floor(quantile_cont(freq, 0.75)*10000 + 0.5)/10000 AS f3,
        |    floor(quantile_cont(monetary, 0.25)*10000 + 0.5)/10000 AS m1,
        |    floor(quantile_cont(monetary, 0.5)*10000 + 0.5)/10000 AS m2,
        |    floor(quantile_cont(monetary, 0.75)*10000 + 0.5)/10000 AS m3
        |  FROM pr),
        |b AS (
        |  SELECT user_id, recency_sec, freq, monetary,
        |    CASE WHEN recency_sec <= r1 THEN 1 WHEN recency_sec <= r2 THEN 2
        |         WHEN recency_sec <= r3 THEN 3 ELSE 4 END AS r_b,
        |    CASE WHEN freq <= f1 THEN 1 WHEN freq <= f2 THEN 2
        |         WHEN freq <= f3 THEN 3 ELSE 4 END AS f_b,
        |    CASE WHEN monetary <= m1 THEN 1 WHEN monetary <= m2 THEN 2
        |         WHEN monetary <= m3 THEN 3 ELSE 4 END AS m_b
        |  FROM pr, c)
        |SELECT user_id, recency_sec, freq, monetary,
        |  CAST(r_b AS BIGINT) AS r_b, CAST(f_b AS BIGINT) AS f_b, CAST(m_b AS BIGINT) AS m_b,
        |  'R' || r_b || 'F' || f_b || 'M' || m_b AS segment
        |FROM b ORDER BY user_id""".stripMargin,

    "ev_type_share_drift" ->
      """WITH bd AS (SELECT epoch_us(ts) // 86400000000 AS dn, event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |dt AS (SELECT dn AS d2, CAST(SUM(n) AS BIGINT) AS day_tot FROM bd GROUP BY 1),
        |t AS (SELECT COUNT(*) AS tot FROM events),
        |b AS (SELECT event_type AS bt,
        |    floor((CAST(COUNT(*) AS DOUBLE) / CAST(MIN(t.tot) AS DOUBLE))*1000000 + 0.5)/1000000 AS base_share_r
        |  FROM events, t GROUP BY 1),
        |x AS (SELECT bd.dn, bd.event_type, bd.n, day_tot, base_share_r,
        |    floor((CAST(bd.n AS DOUBLE) / CAST(day_tot AS DOUBLE))*1000000 + 0.5)/1000000 AS share_r
        |  FROM bd JOIN dt ON bd.dn = dt.d2 JOIN b ON bd.event_type = b.bt)
        |SELECT make_timestamp(dn * 86400000000) AS day, event_type, n, share_r, base_share_r,
        |  floor(abs(share_r - base_share_r)*1000000 + 0.5)/1000000 AS drift_r
        |FROM x ORDER BY day, event_type""".stripMargin,

    "ev_engagement_deciles" ->
      """WITH per AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
        |c AS (SELECT
        |    floor(quantile_cont(n, 0.1)*10000 + 0.5)/10000 AS c1,
        |    floor(quantile_cont(n, 0.2)*10000 + 0.5)/10000 AS c2,
        |    floor(quantile_cont(n, 0.3)*10000 + 0.5)/10000 AS c3,
        |    floor(quantile_cont(n, 0.4)*10000 + 0.5)/10000 AS c4,
        |    floor(quantile_cont(n, 0.5)*10000 + 0.5)/10000 AS c5,
        |    floor(quantile_cont(n, 0.6)*10000 + 0.5)/10000 AS c6,
        |    floor(quantile_cont(n, 0.7)*10000 + 0.5)/10000 AS c7,
        |    floor(quantile_cont(n, 0.8)*10000 + 0.5)/10000 AS c8,
        |    floor(quantile_cont(n, 0.9)*10000 + 0.5)/10000 AS c9
        |  FROM per),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM per),
        |d AS (SELECT
        |    1 + (CASE WHEN CAST(n AS DOUBLE) > c1 THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(n AS DOUBLE) > c2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(n AS DOUBLE) > c3 THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(n AS DOUBLE) > c4 THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(n AS DOUBLE) > c5 THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(n AS DOUBLE) > c6 THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(n AS DOUBLE) > c7 THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(n AS DOUBLE) > c8 THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(n AS DOUBLE) > c9 THEN 1 ELSE 0 END) AS decile, n
        |  FROM per, c),
        |b AS (SELECT CAST(decile AS BIGINT) AS decile, COUNT(*) AS n_users,
        |    CAST(SUM(n) AS BIGINT) AS n_events FROM d GROUP BY 1),
        |x AS (SELECT decile, n_users, n_events, tot,
        |    CAST(SUM(n_events) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_events
        |  FROM b, t)
        |SELECT decile, n_users, n_events,
        |  floor((CAST(n_events AS DOUBLE) / CAST(tot AS DOUBLE))*1000000 + 0.5)/1000000 AS share_r,
        |  floor((CAST(cum_events AS DOUBLE) / CAST(tot AS DOUBLE))*1000000 + 0.5)/1000000 AS cum_share_r
        |FROM x ORDER BY decile""".stripMargin,

    "ev_new_vs_returning" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS dn FROM events),
        |c AS (SELECT user_id, MIN(dn) AS cohort_dn FROM ud GROUP BY 1),
        |r AS (SELECT ud.dn,
        |    CAST(SUM(CASE WHEN ud.dn = c.cohort_dn THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |    CAST(SUM(CASE WHEN ud.dn = c.cohort_dn THEN 0 ELSE 1 END) AS BIGINT) AS n_returning
        |  FROM ud JOIN c ON ud.user_id = c.user_id GROUP BY 1)
        |SELECT make_timestamp(dn * 86400000000) AS day, n_new, n_returning,
        |  floor((CAST(n_new AS DOUBLE) / CAST(n_new + n_returning AS DOUBLE))*1000000 + 0.5)/1000000 AS new_share_r
        |FROM r ORDER BY day""".stripMargin,

    "ev_slo_burn" ->
      """WITH fr AS (SELECT epoch_us(ts) // 900000000 AS f, COUNT(*) AS tot,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS err
        |  FROM events GROUP BY 1),
        |w1 AS (SELECT tf, CAST(SUM(err) AS BIGINT) AS err_1h, CAST(SUM(tot) AS BIGINT) AS tot_1h
        |  FROM (SELECT f + k AS tf, err, tot FROM fr, (SELECT unnest(range(0, 4)) AS k))
        |  GROUP BY tf),
        |w6 AS (SELECT tf, CAST(SUM(err) AS BIGINT) AS err_6h, CAST(SUM(tot) AS BIGINT) AS tot_6h
        |  FROM (SELECT f + k AS tf, err, tot FROM fr, (SELECT unnest(range(0, 24)) AS k))
        |  GROUP BY tf),
        |b AS (SELECT fr.f, err_1h, tot_1h, err_6h, tot_6h,
        |    floor(((CAST(err_1h AS DOUBLE) / CAST(tot_1h AS DOUBLE)) / 0.1)*1000000 + 0.5)/1000000 AS burn_1h_r,
        |    floor(((CAST(err_6h AS DOUBLE) / CAST(tot_6h AS DOUBLE)) / 0.1)*1000000 + 0.5)/1000000 AS burn_6h_r
        |  FROM fr JOIN w1 ON fr.f = w1.tf JOIN w6 ON fr.f = w6.tf)
        |SELECT make_timestamp((f + 1) * 900000000) AS frame_end,
        |  err_1h, tot_1h, burn_1h_r, err_6h, tot_6h, burn_6h_r,
        |  (burn_1h_r > 2.0 AND burn_6h_r > 1.5) AS alert
        |FROM b ORDER BY frame_end""".stripMargin,

    "ev_attribution" ->
      """WITH p AS (SELECT event_id AS pid, user_id, ts AS pts FROM events
        |  WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, ts AS tts, event_type AS touch_type FROM events
        |  WHERE event_type IN ('click', 'view', 'signup')),
        |j AS (SELECT pid, touch_type FROM p JOIN t ON p.user_id = t.user_id
        |  AND t.tts >= p.pts - INTERVAL 1 HOUR AND t.tts < p.pts),
        |n AS (SELECT pid, COUNT(*) AS n_touch FROM j GROUP BY 1),
        |c AS (SELECT j.touch_type, 1000000 // n.n_touch AS credit_micro
        |  FROM j JOIN n ON j.pid = n.pid)
        |SELECT touch_type, COUNT(*) AS n_touches,
        |  CAST(SUM(credit_micro) AS BIGINT) AS credit_total_micro,
        |  floor((CAST(SUM(credit_micro) AS DOUBLE) / 1000000.0)*1000000 + 0.5)/1000000 AS credit_r
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "ev_seasonality" ->
      """WITH cells AS (
        |  SELECT ((epoch_us(ts) // 86400000000 + 3) % 7) + 1 AS iso_dow,
        |    (epoch_us(ts) // 3600000000) % 24 AS hour_of_day,
        |    COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM cells)
        |SELECT iso_dow, hour_of_day, n_events,
        |  floor((CAST(n_events AS DOUBLE) / CAST(total AS DOUBLE))*1000000 + 0.5)/1000000 AS share_r
        |FROM cells, t
        |ORDER BY iso_dow, hour_of_day""".stripMargin,

    "ev_active_users" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS dn FROM events),
        |b AS (SELECT MIN(dn) AS lo, MAX(dn) AS hi FROM ud),
        |days AS (SELECT unnest(range(lo, hi + 1)) AS dn FROM b),
        |dau AS (SELECT dn AS d1, COUNT(*) AS dau FROM ud GROUP BY 1),
        |wau AS (SELECT td, COUNT(*) AS wau FROM (
        |  SELECT DISTINCT user_id, dn + k AS td FROM ud, (SELECT unnest(range(0, 7)) AS k))
        |  GROUP BY td),
        |mau AS (SELECT td, COUNT(*) AS mau FROM (
        |  SELECT DISTINCT user_id, dn + k AS td FROM ud, (SELECT unnest(range(0, 30)) AS k))
        |  GROUP BY td)
        |SELECT make_timestamp(days.dn * 86400000000) AS day,
        |  COALESCE(dau, 0) AS dau, COALESCE(wau, 0) AS wau, COALESCE(mau, 0) AS mau,
        |  CASE WHEN COALESCE(mau, 0) > 0 THEN
        |    floor((CAST(COALESCE(dau, 0) AS DOUBLE) / CAST(mau AS DOUBLE))*1000000 + 0.5)/1000000
        |  END AS stickiness_r
        |FROM days
        |LEFT JOIN dau ON days.dn = d1
        |LEFT JOIN wau ON days.dn = wau.td
        |LEFT JOIN mau ON days.dn = mau.td
        |ORDER BY day""".stripMargin,

    "ev_interarrival" ->
      """WITH g AS (
        |  SELECT event_type,
        |    CAST(floor((epoch_us(ts) - epoch_us(LAG(ts, 1) OVER w)) / 1000000.0) AS BIGINT) AS gap_sec
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_type, COUNT(*) AS n_gaps,
        |  floor((CAST(SUM(gap_sec) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))*1000000 + 0.5)/1000000 AS avg_gap_r,
        |  floor(quantile_cont(gap_sec, 0.5)*10000 + 0.5)/10000 AS gap_p50,
        |  floor(quantile_cont(gap_sec, 0.9)*10000 + 0.5)/10000 AS gap_p90,
        |  floor(quantile_cont(gap_sec, 0.99)*10000 + 0.5)/10000 AS gap_p99
        |FROM g WHERE gap_sec IS NOT NULL
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "ev_sliding_rate" ->
      """WITH e AS (SELECT event_type, (epoch_us(ts) // 900000000) * 900000000 AS f15 FROM events),
        |w AS (SELECT event_type, make_timestamp(f15 - CAST(k AS BIGINT)*900000000) AS win_start
        |  FROM e, (SELECT unnest([0,1,2,3]) AS k))
        |SELECT win_start, event_type, COUNT(*) AS n_events
        |FROM w GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "ev_cooccurrence" ->
      """WITH c AS (SELECT DISTINCT user_id, date_trunc('hour', ts) AS hour, event_type FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_cooccur
        |FROM c a JOIN c b ON a.user_id = b.user_id AND a.hour = b.hour
        |  AND a.event_type < b.event_type
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "text_hapax" ->
      """WITH tc AS (SELECT source, token, COUNT(*) AS n
        |  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS token FROM documents)
        |  GROUP BY 1, 2)
        |SELECT source, COUNT(*) AS n_types, CAST(SUM(n) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  floor((CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))*1000000 + 0.5)/1000000 AS hapax_ratio_r
        |FROM tc GROUP BY source ORDER BY source""".stripMargin,

    "doc_template_prefix" ->
      """WITH p AS (SELECT doc_id,
        |    array_to_string(string_split(lower(text), ' ')[1:8], ' ') AS prefix
        |  FROM documents),
        |f AS (SELECT doc_id,
        |  COUNT(*) OVER (PARTITION BY prefix) AS family_size,
        |  MIN(doc_id) OVER (PARTITION BY prefix) AS family_id FROM p)
        |SELECT doc_id, family_id, family_size FROM f
        |WHERE family_size >= 2 ORDER BY doc_id""".stripMargin,

    "ev_user_lifespan" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  MIN(ts) AS first_ts, MAX(ts) AS last_ts,
        |  COUNT(DISTINCT date_trunc('day', ts)) AS active_days,
        |  floor(((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 3600000000.0)*1000000 + 0.5)/1000000 AS span_hours_r,
        |  floor((CAST(COUNT(*) AS DOUBLE) / CAST(COUNT(DISTINCT date_trunc('day', ts)) AS DOUBLE))*1000000 + 0.5)/1000000 AS events_per_day_r
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "doc_dedup_keep_best"   -> OracleSqlGen.docDedupKeepBest,
    "doc_embed_cosine_dup"  -> OracleSqlGen.docEmbedCosineDup,
    "ann_topk_bruteforce"   -> OracleSqlGen.annTopkBruteforce,
    "ann_prefix_dim_recall" -> OracleSqlGen.annPrefixDimRecall(),
    "ann_prefix_rerank" -> OracleSqlGen.annPrefixRerank(),
    "ann_prefix_rerank_ledger" -> OracleSqlGen.annPrefixRerankLedger(),
    "ann_prefix_ivf_rerank" -> OracleSqlGen.annPrefixIvfRerank(),
    // G43 serves the SAME query semantics off the sliced artifact —
    // identical oracle by the bit-equality law
    "ann_prefix_rerank_sliced" -> OracleSqlGen.annPrefixRerank(),
    "ann_prefix_ivf_rerank_sliced" -> OracleSqlGen.annPrefixIvfRerank(),
    "ann_range"             -> OracleSqlGen.annRange(8, 0.25),
    "ann_lsh_bucketed"      -> OracleSqlGen.annLshBucketed,
    "ann_lsh_multitable"    -> OracleSqlGen.annLshMultiTable,
    "ann_knn_graph"         -> OracleSqlGen.annKnnGraph(3, 128),
    "ann_graph_search"      -> OracleSqlGen.annGraphSearch(8, 8, 3, 5, 3, 128),
    "ann_graph_reach"       -> OracleSqlGen.annGraphReach(6, 3, 128),
    // D42b: the single-table fragmentation probe (nTables = 1)
    "ann_graph_reach_single" -> OracleSqlGen.annGraphReach(6, 3, 128, nTables = 1),
    "ann_beam_tuning"       -> OracleSqlGen.annBeamTuning(Seq(2, 8, 32), 4, 5, 8, 3, 128),
    "ann_method_recall"     -> OracleSqlGen.annMethodRecall(8, 5, 8, 4, 3, 128, 4, 16, 4, 5, 4, 64),
    "ann_graph_search_nnd"  -> OracleSqlGen.annGraphSearchNnd(8, 8, 4, 5, 3, 128, 4, 16, 3, 8, 8, 2),
    "ann_nnd_tuning"        -> OracleSqlGen.annNndTuning(8, 5, 3, 128, 4, 16, 3, 8, 4),
    "ann_graph_search_layered" -> OracleSqlGen.annGraphSearchLayered(8, 8, 3, 5, 3, 128, 4, 8, 8, 4),
    "ann_nlist_tuning"      -> OracleSqlGen.annNlistTuning(Seq(4, 8, 16)),
    "q_revenue_concentration" -> OracleSqlGen.qRevenueConcentration(Seq(1, 10, 20)),
    "ann_label_knn"         -> OracleSqlGen.annLabelKnn(5, 128),
    "emb_centroid_dist"     -> OracleSqlGen.embCentroidDist,
    "emb_outliers"          -> OracleSqlGen.embOutliers,
    "ann_pagerank"          -> OracleSqlGen.annPagerank(3, 3, 128),
    "ann_recall_eval"       -> OracleSqlGen.annRecallEval(3),
    "emb_knn_clusters"      -> OracleSqlGen.embKnnClusters(3, 128, 0.6),
    "doc_ngram_jaccard_capped" -> OracleSqlGen.docNgramJaccardCapped(100),
    "doc_ngram_containment" -> OracleSqlGen.docNgramContainment(0.4, 100),
    "doc_ngram_novelty"     -> OracleSqlGen.docNgramNovelty,
    "doc_incremental_dedup" -> OracleSqlGen.docIncrementalDedup(5),
    "doc_incremental_minhash" -> OracleSqlGen.docIncrementalMinhash(5, 0.2),
    "doc_decontaminate"     -> OracleSqlGen.docDecontaminate(10, 1),
    "doc_decontaminate_bloom" -> OracleSqlGen.docDecontaminateBloom(10, 1, 65536, 4),
    "doc_fingerprint_pairs" -> OracleSqlGen.docFingerprintPairs(8, 2, 100),
    "doc_winnow_pairs"      -> OracleSqlGen.docWinnowPairs(8, 2, 100),
    "doc_shard_shuffle" ->
      """WITH d AS (SELECT doc_id,
        |  ('0x'||substr(md5('graft:'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS sort_key
        |  FROM documents)
        |SELECT doc_id, sort_key, sort_key % 16 AS shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY sort_key % 16 ORDER BY sort_key, doc_id) AS BIGINT) AS pos
        |FROM d ORDER BY doc_id""".stripMargin,

    "doc_mix_budget" ->
      """WITH d AS (SELECT doc_id, source,
        |  len(string_split(lower(text),' ')) AS n_tokens,
        |  ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000 AS bucket
        |  FROM documents),
        |c AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY bucket, doc_id
        |  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM d)
        |SELECT doc_id, source, n_tokens, bucket, cum_tokens,
        |  CAST(cum_tokens <= 1000 AS INTEGER) AS keep
        |FROM c ORDER BY doc_id""".stripMargin,
    "ann_maxsim"            -> OracleSqlGen.annMaxsim(8),
    "emb_kmeans_assign"     -> OracleSqlGen.embKmeansAssign(8),
    "emb_kmeans_update"     -> OracleSqlGen.embKmeansUpdate(8),
    "emb_kmeans_reassign"   -> OracleSqlGen.embKmeansReassign(8),
    "emb_kmeans_train_curve" -> OracleSqlGen.embKmeansTrainCurve(8, 4),
    "emb_cluster_purity"    -> OracleSqlGen.embClusterPurity(8),
    "emb_dim_stats"         -> OracleSqlGen.embDimStats,
    "emb_covariance"        -> OracleSqlGen.embCovariance,
    "emb_power_iteration"   -> OracleSqlGen.embPowerIteration,
    "emb_pca_project"       -> OracleSqlGen.embPcaProject,
    "emb_quantizer_drift"   -> OracleSqlGen.embQuantizerDrift(8),
    "emb_pq_codes"          -> OracleSqlGen.embPqCodes(8, 8, 8),
    "emb_pq_error"          -> OracleSqlGen.embPqError(8, 8, 8),
    "emb_rpq_error"         -> OracleSqlGen.embRpqError(8, 8, 8, 16),
    "emb_sq8_codes"         -> OracleSqlGen.embSq8Codes,
    "emb_sq8_error"         -> OracleSqlGen.embSq8Error,
    "ann_ivf_imbalance"     -> OracleSqlGen.annIvfImbalance(8),
    "ann_pq_adc"            -> OracleSqlGen.annPqAdc(8, 5, 8, 8, 8),
    "ann_sq8_adc"           -> OracleSqlGen.annSq8Adc(8, 5, 64),
    "ann_ivf"               -> OracleSqlGen.annIvf(8, 3, 16, 4),
    "ann_ivf_adc"           -> OracleSqlGen.annIvfAdc(8, 5, 8, 8, 8, 16, 4),
    "ann_ivf_rpq"           -> OracleSqlGen.annIvfRpq(8, 5, 8, 8, 8, 16, 4),
    "ann_ivf_rpq_rerank"    -> OracleSqlGen.annIvfRpqRerank(8, 5, 8, 8, 8, 16, 4, 20),
    "ann_rpq_recall"        -> OracleSqlGen.annRpqRecall(8, 5, 8, 8, 8, 16, 4, 20),
    "ann_rpq_nprobe_tuning" -> OracleSqlGen.annRpqNprobeTuning(8, 5, 8, 8, 8, 16, Seq(1, 2, 4, 8)),
    "ann_ivf_rerank"        -> OracleSqlGen.annIvfRerank(8, 5, 8, 8, 8, 16, 4, 20),
    "doc_semdedup"          -> OracleSqlGen.docSemdedup(8, 0.45),

    "doc_scrub_pii" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(text,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<email>', 'g'), '[0-9]+', '#', 'g') AS text_masked,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_digit_runs
        |FROM documents ORDER BY doc_id""".stripMargin,

    "doc_pii_stats" ->
      """WITH s AS (SELECT source,
        |  len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(text, '[0-9]+')) AS n_digit_runs
        |FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN n_emails > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
        |  CAST(SUM(n_emails) AS BIGINT) AS total_emails,
        |  CAST(SUM(CASE WHEN n_digit_runs > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_digits,
        |  CAST(SUM(n_digit_runs) AS BIGINT) AS total_digit_runs,
        |  floor((CAST(SUM(CASE WHEN n_emails > 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))*1000000 + 0.5)/1000000 AS email_share_r
        |FROM s GROUP BY source ORDER BY source""".stripMargin,

    "corpus_stats" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  floor((CAST(SUM(n_tokens) AS DOUBLE)/COUNT(*))*1000000 + 0.5)/1000000 AS avg_tokens,
        |  floor(quantile_cont(n_tokens, 0.5)*10000 + 0.5)/10000 AS p50_tokens,
        |  floor(quantile_cont(n_tokens, 0.9)*10000 + 0.5)/10000 AS p90_tokens,
        |  COUNT(DISTINCT lang) AS n_langs
        |FROM (SELECT source, lang, len(string_split(lower(text), ' ')) AS n_tokens FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin,

    // E50: the split→moments→merge→finalize pipeline must reproduce
    // corpus_stats EXACTLY — the merge law IS this unchanged oracle
    "corpus_stats_merged" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  floor((CAST(SUM(n_tokens) AS DOUBLE)/COUNT(*))*1000000 + 0.5)/1000000 AS avg_tokens,
        |  floor(quantile_cont(n_tokens, 0.5)*10000 + 0.5)/10000 AS p50_tokens,
        |  floor(quantile_cont(n_tokens, 0.9)*10000 + 0.5)/10000 AS p90_tokens,
        |  COUNT(DISTINCT lang) AS n_langs
        |FROM (SELECT source, lang, len(string_split(lower(text), ' ')) AS n_tokens FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin,

    "doc_sample_weighted"   -> OracleSqlGen.docSampleWeighted(100),

    "doc_sample_k" ->
      """SELECT doc_id, source, skey, rank FROM (
        |  SELECT doc_id, source, skey,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY skey, doc_id) AS rank
        |  FROM (SELECT doc_id, source,
        |    ('0x'||substr(md5('sample:'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS skey
        |    FROM documents))
        |WHERE rank <= 25 ORDER BY doc_id""".stripMargin,

    "doc_split" ->
      """SELECT doc_id, source, mille,
        |  CASE WHEN mille < 990 THEN 'train'
        |       WHEN mille < 995 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, source,
        |  ('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 1000 AS mille
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "text_bm25"             -> OracleSqlGen.textBm25(Seq("hash", "join", "vector"), 1.2, 0.75),
    "text_unigram_logprob"  -> OracleSqlGen.textUnigramLogprob,
    "text_bigram_logprob"   -> OracleSqlGen.textBigramLogprob,
    "doc_span_dedup"        -> OracleSqlGen.docSpanDedup,
    "doc_span_removal"      -> OracleSqlGen.docSpanRemoval,
    "doc_mix_weights"       -> OracleSqlGen.docMixWeights(0.7),
    "doc_quality_bucket"    -> OracleSqlGen.docQualityBucket(10000),
    "doc_quality_model"     -> OracleSqlGen.docQualityModel(4096, 0.1),
    "doc_quality_model_trained" -> OracleSqlGen.docQualityModelTrained(4096, 0.1, 0.5),
    "doc_quality_model_eval" -> OracleSqlGen.docQualityModelEval(4096, 0.1, 0.5),
    "doc_quality_calibration" -> OracleSqlGen.docQualityCalibration(4096, 0.1, 0.5, 10),
    "text_keywords"         -> OracleSqlGen.textKeywords(3),
    "text_winnow"           -> OracleSqlGen.textWinnow(8),
    "doc_contamination_stats" -> OracleSqlGen.docContaminationStats(10, 1),
    "corpus_dedup_stats"    -> OracleSqlGen.corpusDedupStats(0.2),
    "text_repetition"       -> OracleSqlGen.textRepetition(0.3, 0.2, 0.2),
    "doc_gopher_rules"      -> OracleSqlGen.docGopherRules,
    "doc_html_extract"      -> OracleSqlGen.docHtmlExtract(),
    "text_bpe_encode"       -> OracleSqlGen.textBpeEncode(3),
    "doc_url_canon"         -> OracleSqlGen.docUrlCanon(),
    "doc_url_dup"           -> OracleSqlGen.docUrlDup(),
    "doc_host_stats"        -> OracleSqlGen.docHostStats(),
    "doc_html_links"        -> OracleSqlGen.docHtmlLinks(),
    "host_rank"             -> OracleSqlGen.hostRank(),
    "doc_host_throttle"     -> OracleSqlGen.docHostThrottle(),
    "doc_robots_filter"     -> OracleSqlGen.docRobotsFilter(),
    "doc_charset_sniff"     -> OracleSqlGen.docCharsetSniff(),
    "crawl_intake_funnel"   -> OracleSqlGen.crawlIntakeFunnel(),
    "text_collocations"     -> OracleSqlGen.textCollocations(5, 20),
    "doc_curate"            -> OracleSqlGen.docCurate(0.5),
    "doc_curate_explain"    -> OracleSqlGen.docCurateExplain(0.5),
    "emb_norm_stats"        -> OracleSqlGen.embNormStats,
    "text_langid"           -> OracleSqlGen.textLangid,
    "text_quality"          -> OracleSqlGen.textQuality,
    "text_tokencount"       -> OracleSqlGen.textTokencount,
    "text_fingerprint"      -> OracleSqlGen.textFingerprint,
    "mm_binary_meta"        -> OracleSqlGen.mmBinaryMeta,
    "mm_phash"              -> OracleSqlGen.mmPhash,
    "mm_phash_pairs"        -> OracleSqlGen.mmPhashPairs(4),
    "mm_phash_hamming_hist" -> OracleSqlGen.mmPhashHammingHist(8),
    "mm_phash_incremental"  -> OracleSqlGen.mmPhashIncremental(5, 4),
    "mm_frame_dedup" ->
      """WITH f AS (SELECT doc_id, md5(substr(text, frame_idx * 64 + 1, 64)) AS frame_md5
        |  FROM (SELECT doc_id, text,
        |          unnest([i for i in range(0, length(text) // 64, 4)]) AS frame_idx
        |        FROM documents))
        |SELECT frame_md5, COUNT(*) AS n_occurrences,
        |  COUNT(DISTINCT doc_id) AS n_assets, MIN(doc_id) AS first_doc
        |FROM f GROUP BY frame_md5
        |HAVING COUNT(DISTINCT doc_id) >= 2
        |ORDER BY frame_md5""".stripMargin,
    "mm_phash_clusters"     -> OracleSqlGen.mmPhashClusters(4),
    "mm_joint_dedup"        -> OracleSqlGen.mmJointDedup(4),
    "mm_dedup_keep_best"    -> OracleSqlGen.mmDedupKeepBest(4),
    "mm_frame_phash_pairs"  -> OracleSqlGen.mmFramePhashPairs(64, 4, 4),

    "text_normalize_dedup" ->
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_hash,
        |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY 1
        |ORDER BY norm_hash""".stripMargin,

    "doc_quality_filter" -> (OracleSqlGen.textQuality
      .replace("SELECT doc_id, n_chars, n_tokens, stop_n, alpha_n, stop_ratio, alpha_ratio,",
        "SELECT doc_id,")
      .replace("FROM r ORDER BY doc_id",
        """ , CAST(n_tokens >= 20 AS INTEGER) AS len_ok,
          |  CAST(stop_ratio > 0.0 AS INTEGER) AS stop_ok
          |FROM r
          |WHERE floor((least(1.0, n_tokens/100.0) * (0.5 + 0.25*stop_ratio + 0.25*alpha_ratio))*1000000 + 0.5)/1000000 >= 0.5
          |ORDER BY doc_id""".stripMargin)),

    "doc_stratified_sample" ->
      """SELECT doc_id, lang, bucket FROM (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(text), 1, 15))::BIGINT % 100 AS bucket
        |  FROM documents)
        |WHERE bucket < CASE WHEN lang = 'en' THEN 30 ELSE 80 END
        |ORDER BY doc_id""".stripMargin,

    "text_vocab" ->
      """SELECT token, n, rank FROM (
        |  SELECT token, COUNT(*) AS n,
        |    ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token ASC) AS rank
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
        |  GROUP BY token)
        |ORDER BY rank""".stripMargin,

    "text_rolling_fingerprint" ->
      """WITH w AS (SELECT doc_id, lower(text) AS lt,
        |    unnest(range(1, greatest(2, length(text) - 14))) AS i
        |  FROM documents),
        |h AS (SELECT doc_id,
        |  list_reduce([ord(c)::BIGINT for c in string_split(substr(lt, CAST(i AS INTEGER), 16), '')],
        |    (a, b) -> (a * 31 + b) % 1073741789) AS hv
        |  FROM w)
        |SELECT doc_id, MIN(hv) AS rolling_min FROM h
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "doc_chunk" ->
      """SELECT doc_id, chunk_idx,
        |  length(substr(text, CAST(chunk_idx * 180 + 1 AS INTEGER), 200)) AS chunk_len
        |FROM (
        |  SELECT doc_id, text,
        |    unnest(range(0, CASE WHEN length(text) <= 200 THEN 1
        |      ELSE (length(text) - 200 + 179) // 180 + 1 END)) AS chunk_idx
        |  FROM documents)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "doc_pack" ->
      """SELECT doc_id, source, n_tokens, (cum - n_tokens) // 512 AS bin
        |FROM (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM (SELECT doc_id, source,
        |    len(string_split(lower(text), ' ')) AS n_tokens FROM documents))
        |ORDER BY doc_id""".stripMargin,

    "doc_pack_efficiency" ->
      """WITH p AS (
        |  SELECT source, (cum - n_tokens) // 512 AS bin, n_tokens
        |  FROM (
        |    SELECT doc_id, source, n_tokens,
        |      CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |    FROM (SELECT doc_id, source,
        |      len(string_split(lower(text), ' ')) AS n_tokens FROM documents))),
        |b AS (SELECT source, bin, COUNT(*) AS n_docs,
        |    CAST(SUM(n_tokens) AS BIGINT) AS tokens
        |  FROM p GROUP BY 1, 2)
        |SELECT COUNT(*) AS n_bins,
        |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        |  floor((CAST(SUM(tokens) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 512.0)*1000000 + 0.5)/1000000 AS avg_fill_r,
        |  floor(quantile_cont(CAST(tokens AS DOUBLE) / 512.0, 0.5)*10000 + 0.5)/10000 AS p50_fill_r,
        |  floor((CAST(MIN(tokens) AS DOUBLE) / 512.0)*1000000 + 0.5)/1000000 AS min_fill_r,
        |  floor((CAST(MAX(tokens) AS DOUBLE) / 512.0)*1000000 + 0.5)/1000000 AS max_fill_r
        |FROM b""".stripMargin,

    "ev_scrub_props" ->
      """SELECT event_id,
        |  regexp_replace(props, '[0-9]+', '#', 'g') AS props_masked,
        |  length(props) - length(regexp_replace(props, '[0-9]', '', 'g')) AS n_masked_chars
        |FROM events
        |ORDER BY event_id""".stripMargin,

    // F2/F3 ride the REAL netpbm decoder (r10) over constructed P6
    // payloads; the oracle re-derives every feature from the
    // SQL-expressible payload generator (dims 1..8 from doc_id, affine
    // printable-ASCII pixels), INDEPENDENTLY of the Scala parse —
    // exact integer pixel sums, one double division, r6'd like the
    // codec. n_bytes = 11-byte single-digit-dims header + raster.
    "mm_feature_extract" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(1 + doc_id % 8 AS INTEGER) AS width,
        |    CAST(1 + (doc_id * 13) % 8 AS INTEGER) AS height
        |  FROM documents),
        |px AS (SELECT doc_id, width, height,
        |    unnest(range(width*height*3)) AS i FROM d),
        |s AS (SELECT doc_id, width, height,
        |    CAST(SUM(CASE WHEN i % 3 = 0 THEN 32 + (doc_id*31 + i*7) % 95 END) AS BIGINT) AS sr,
        |    CAST(SUM(CASE WHEN i % 3 = 1 THEN 32 + (doc_id*31 + i*7) % 95 END) AS BIGINT) AS sg,
        |    CAST(SUM(CASE WHEN i % 3 = 2 THEN 32 + (doc_id*31 + i*7) % 95 END) AS BIGINT) AS sb
        |  FROM px GROUP BY doc_id, width, height)
        |SELECT doc_id, 'P6' AS format, width, height,
        |  CAST(3 AS INTEGER) AS channels, CAST(255 AS INTEGER) AS maxval,
        |  floor((CAST(sr AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_r_r6,
        |  floor((CAST(sg AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_g_r6,
        |  floor((CAST(sb AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_b_r6,
        |  CAST(11 + width*height*3 AS INTEGER) AS n_bytes
        |FROM s ORDER BY doc_id""".stripMargin,

    // F18: the same affine-formula re-derivation for the BMP container
    // (the formula is container-independent; only format and n_bytes —
    // 54-byte headers + 4-byte-padded bottom-up rows — change), so a
    // decoder that misreads the little-endian header, ignores the data
    // offset, or mis-skips padding fails the gate per document
    "mm_feature_extract_bmp" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(1 + doc_id % 8 AS INTEGER) AS width,
        |    CAST(1 + (doc_id * 13) % 8 AS INTEGER) AS height
        |  FROM documents),
        |px AS (SELECT doc_id, width, height,
        |    unnest(range(width*height*3)) AS i FROM d),
        |s AS (SELECT doc_id, width, height,
        |    CAST(SUM(CASE WHEN i % 3 = 0 THEN 32 + (doc_id*31 + i*7) % 95 END) AS BIGINT) AS sr,
        |    CAST(SUM(CASE WHEN i % 3 = 1 THEN 32 + (doc_id*31 + i*7) % 95 END) AS BIGINT) AS sg,
        |    CAST(SUM(CASE WHEN i % 3 = 2 THEN 32 + (doc_id*31 + i*7) % 95 END) AS BIGINT) AS sb
        |  FROM px GROUP BY doc_id, width, height)
        |SELECT doc_id, 'BMP24' AS format, width, height,
        |  CAST(3 AS INTEGER) AS channels, CAST(255 AS INTEGER) AS maxval,
        |  floor((CAST(sr AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_r_r6,
        |  floor((CAST(sg AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_g_r6,
        |  floor((CAST(sb AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_b_r6,
        |  CAST(54 + ((3*width + 3) // 4) * 4 * height AS INTEGER) AS n_bytes
        |FROM s ORDER BY doc_id""".stripMargin,

    // F21: the same affine-formula re-derivation for the PNG container
    // (format and n_bytes change: signature + IHDR/IDAT/IEND chunks +
    // stored-block zlib = 68 + h·(1+3w) bytes); the chunk CRC walk,
    // inflation and all five defilter recurrences must reproduce the
    // formula's pixels exactly or the gate fails per document
    "mm_feature_extract_png" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(1 + doc_id % 8 AS INTEGER) AS width,
        |    CAST(1 + (doc_id * 13) % 8 AS INTEGER) AS height
        |  FROM documents),
        |px AS (SELECT doc_id, width, height,
        |    unnest(range(width*height*3)) AS i FROM d),
        |s AS (SELECT doc_id, width, height,
        |    CAST(SUM(CASE WHEN i % 3 = 0 THEN 32 + (doc_id*31 + i*7) % 95 END) AS BIGINT) AS sr,
        |    CAST(SUM(CASE WHEN i % 3 = 1 THEN 32 + (doc_id*31 + i*7) % 95 END) AS BIGINT) AS sg,
        |    CAST(SUM(CASE WHEN i % 3 = 2 THEN 32 + (doc_id*31 + i*7) % 95 END) AS BIGINT) AS sb
        |  FROM px GROUP BY doc_id, width, height)
        |SELECT doc_id, 'PNG8' AS format, width, height,
        |  CAST(3 AS INTEGER) AS channels, CAST(255 AS INTEGER) AS maxval,
        |  floor((CAST(sr AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_r_r6,
        |  floor((CAST(sg AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_g_r6,
        |  floor((CAST(sb AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_b_r6,
        |  CAST(68 + height*(1 + 3*width) AS INTEGER) AS n_bytes
        |FROM s ORDER BY doc_id""".stripMargin,

    // F25: grayscale PNG — the single-channel affine mean replicated
    // into all three channels (the decoder expands gray to RGB); the
    // bpp=1 filter recurrences and the PNG8G dispatch are what a wrong
    // decode fails on. n_bytes = 68 + h·(1+w) (1 byte/px scanlines)
    "mm_feature_extract_png_gray" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(1 + doc_id % 8 AS INTEGER) AS width,
        |    CAST(1 + (doc_id * 13) % 8 AS INTEGER) AS height
        |  FROM documents),
        |px AS (SELECT doc_id, width, height,
        |    unnest(range(width*height)) AS i FROM d),
        |s AS (SELECT doc_id, width, height,
        |    CAST(SUM(32 + (doc_id*31 + i*7) % 95) AS BIGINT) AS sg
        |  FROM px GROUP BY doc_id, width, height)
        |SELECT doc_id, 'PNG8G' AS format, width, height,
        |  CAST(3 AS INTEGER) AS channels, CAST(255 AS INTEGER) AS maxval,
        |  floor((CAST(sg AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_r_r6,
        |  floor((CAST(sg AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_g_r6,
        |  floor((CAST(sg AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_b_r6,
        |  CAST(68 + height*(1 + width) AS INTEGER) AS n_bytes
        |FROM s ORDER BY doc_id""".stripMargin,

    // F25b: palette PNG — per-pixel palette index (doc_id·7 + i·3) mod
    // n over n = 1 + doc_id%16 affine PLTE entries; the oracle resolves
    // the SAME lookup arithmetically, so a mis-walked PLTE, an
    // off-by-one index or a wrong bpp=1 defilter fails per document.
    // n_bytes adds the PLTE chunk: 68 + 12 + 3n + h·(1+w)
    "mm_feature_extract_png_palette" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(1 + doc_id % 8 AS INTEGER) AS width,
        |    CAST(1 + (doc_id * 13) % 8 AS INTEGER) AS height,
        |    CAST(1 + doc_id % 16 AS INTEGER) AS n
        |  FROM documents),
        |px AS (SELECT doc_id, width, height, n,
        |    (doc_id*7 + unnest(range(width*height))*3) % n AS ix FROM d),
        |s AS (SELECT doc_id, width, height, n,
        |    CAST(SUM(32 + (doc_id*31 + (3*ix + 0)*7) % 95) AS BIGINT) AS sr,
        |    CAST(SUM(32 + (doc_id*31 + (3*ix + 1)*7) % 95) AS BIGINT) AS sg,
        |    CAST(SUM(32 + (doc_id*31 + (3*ix + 2)*7) % 95) AS BIGINT) AS sb
        |  FROM px GROUP BY doc_id, width, height, n)
        |SELECT doc_id, 'PNG8P' AS format, width, height,
        |  CAST(3 AS INTEGER) AS channels, CAST(255 AS INTEGER) AS maxval,
        |  floor((CAST(sr AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_r_r6,
        |  floor((CAST(sg AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_g_r6,
        |  floor((CAST(sb AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_b_r6,
        |  CAST(68 + 12 + 3*n + height*(1 + width) AS INTEGER) AS n_bytes
        |FROM s ORDER BY doc_id""".stripMargin,

    // F27: Adam7-interlaced PNG — dims are multiples of 8 so the 7
    // reduced pass images have exact dims and the scanline volume is
    // a closed formula; the pixel MULTISET equals the straight
    // raster's, so the channel means are the same affine arithmetic.
    // n_bytes = 68 + Σ_pass ph·(1 + 3·pw)
    "mm_feature_extract_png_adam7" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(8 * (1 + doc_id % 3) AS INTEGER) AS width,
        |    CAST(8 * (1 + (doc_id // 3) % 3) AS INTEGER) AS height
        |  FROM documents),
        |px AS (SELECT doc_id, width, height,
        |    unnest(range(width*height*3)) AS i FROM d),
        |s AS (SELECT doc_id, width, height,
        |    CAST(SUM(CASE WHEN i % 3 = 0 THEN 32 + (doc_id*31 + i*7) % 95 END) AS BIGINT) AS sr,
        |    CAST(SUM(CASE WHEN i % 3 = 1 THEN 32 + (doc_id*31 + i*7) % 95 END) AS BIGINT) AS sg,
        |    CAST(SUM(CASE WHEN i % 3 = 2 THEN 32 + (doc_id*31 + i*7) % 95 END) AS BIGINT) AS sb
        |  FROM px GROUP BY doc_id, width, height)
        |SELECT doc_id, 'PNG8I' AS format, width, height,
        |  CAST(3 AS INTEGER) AS channels, CAST(255 AS INTEGER) AS maxval,
        |  floor((CAST(sr AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_r_r6,
        |  floor((CAST(sg AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_g_r6,
        |  floor((CAST(sb AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_b_r6,
        |  CAST(68
        |    + 2 * (height//8) * (1 + 3*(width//8))
        |    + (height//8) * (1 + 3*(width//4))
        |    + (height//4) * (1 + 3*(width//4))
        |    + (height//4) * (1 + 3*(width//2))
        |    + (height//2) * (1 + 3*(width//2))
        |    + (height//2) * (1 + 3*width) AS INTEGER) AS n_bytes
        |FROM s ORDER BY doc_id""".stripMargin,

    // F23: baseline JPEG features re-derived from the DC-exact block
    // formula (dims 8·(1+id%3) × 8·(1+(id·7)%3), block b constant at
    // (id·31 + b·7) mod 256): constant blocks decode bit-exactly under
    // the all-ones quant table, so the mean over pixels equals the
    // mean over block constants (all blocks are 64 px — dims are
    // multiples of 8); no n_bytes column (entropy-coded size is not a
    // pure function of the dims)
    "mm_feature_extract_jpeg" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(8*(1 + doc_id % 3) AS INTEGER) AS width,
        |    CAST(8*(1 + (doc_id * 7) % 3) AS INTEGER) AS height
        |  FROM documents),
        |b AS (SELECT doc_id, width, height,
        |    unnest(range((width // 8) * (height // 8))) AS bi FROM d),
        |s AS (SELECT doc_id, width, height,
        |    CAST(SUM((doc_id*31 + bi*7) % 256) AS BIGINT) AS sc,
        |    COUNT(*) AS nb
        |  FROM b GROUP BY doc_id, width, height)
        |SELECT doc_id, 'JPEG8G' AS format, width, height,
        |  CAST(1 AS INTEGER) AS channels, CAST(255 AS INTEGER) AS maxval,
        |  floor((CAST(sc AS DOUBLE)/nb)*1000000 + 0.5)/1000000 AS mean_r6
        |FROM s ORDER BY doc_id""".stripMargin,

    // F23b: color JPEG features re-derived from the DC-exact COLOR
    // block formulas (dims 16·(1+id%2) × 16·(1+(id·7)%2); luma block
    // constant (id·31+b·7)%256; per-MCU chroma Cb=(id·17+c·11)%256,
    // Cr=(id·23+c·5)%256): every pixel of a luma block shares its
    // block's (Y, Cb, Cr), so per-channel sums are 64× the per-block
    // floor-affine RGB — identical double ops to the decoder's
    // clamp(floor(x+0.5)) conversion, identical division shape
    // (64·Σblocks / (w·h) is the same real quotient the decoder's
    // pixel-sum division computes)
    "mm_feature_extract_jpeg_color" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(16*(1 + doc_id % 2) AS INTEGER) AS width,
        |    CAST(16*(1 + (doc_id * 7) % 2) AS INTEGER) AS height
        |  FROM documents),
        |b AS (SELECT doc_id, width, height,
        |    unnest(range((width // 8) * (height // 8))) AS bi FROM d),
        |c AS (SELECT doc_id, width, height, bi,
        |    bi % (width // 8) AS bx, bi // (width // 8) AS by FROM b),
        |v AS (SELECT doc_id, width, height,
        |    (doc_id*31 + bi*7) % 256 AS yv,
        |    (doc_id*17 + ((by // 2) * (width // 16) + (bx // 2)) * 11) % 256 AS cb,
        |    (doc_id*23 + ((by // 2) * (width // 16) + (bx // 2)) * 5) % 256 AS cr
        |  FROM c),
        |px AS (SELECT doc_id, width, height,
        |    GREATEST(0, LEAST(255, CAST(floor(yv + 1.402*(cr - 128) + 0.5) AS BIGINT))) AS r,
        |    GREATEST(0, LEAST(255, CAST(floor(yv - 0.344136*(cb - 128) - 0.714136*(cr - 128) + 0.5) AS BIGINT))) AS g,
        |    GREATEST(0, LEAST(255, CAST(floor(yv + 1.772*(cb - 128) + 0.5) AS BIGINT))) AS b2
        |  FROM v),
        |s AS (SELECT doc_id, width, height,
        |    CAST(SUM(r) AS BIGINT) AS sr, CAST(SUM(g) AS BIGINT) AS sg,
        |    CAST(SUM(b2) AS BIGINT) AS sb
        |  FROM px GROUP BY doc_id, width, height)
        |SELECT doc_id, 'JPEG420' AS format, width, height,
        |  CAST(3 AS INTEGER) AS channels,
        |  floor((CAST(64*sr AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_r_r6,
        |  floor((CAST(64*sg AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_g_r6,
        |  floor((CAST(64*sb AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_b_r6
        |FROM s ORDER BY doc_id""".stripMargin,

    // F26: the F23b affine re-derivation at 4:2:2 geometry — the MCU
    // is 16×8 (two luma blocks, one chroma pair), so luma block
    // (bx, by) resolves chroma at (by·(w/16) + bx/2): HORIZONTAL-only
    // replication. A decoder that walks the 4:2:0 interleave or
    // replicates chroma vertically decodes wrong pixels and fails
    "mm_feature_extract_jpeg_422" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(16*(1 + doc_id % 2) AS INTEGER) AS width,
        |    CAST(8*(1 + (doc_id * 7) % 3) AS INTEGER) AS height
        |  FROM documents),
        |b AS (SELECT doc_id, width, height,
        |    unnest(range((width // 8) * (height // 8))) AS bi FROM d),
        |c AS (SELECT doc_id, width, height, bi,
        |    bi % (width // 8) AS bx, bi // (width // 8) AS by FROM b),
        |v AS (SELECT doc_id, width, height,
        |    (doc_id*31 + bi*7) % 256 AS yv,
        |    (doc_id*17 + (by * (width // 16) + (bx // 2)) * 11) % 256 AS cb,
        |    (doc_id*23 + (by * (width // 16) + (bx // 2)) * 5) % 256 AS cr
        |  FROM c),
        |px AS (SELECT doc_id, width, height,
        |    GREATEST(0, LEAST(255, CAST(floor(yv + 1.402*(cr - 128) + 0.5) AS BIGINT))) AS r,
        |    GREATEST(0, LEAST(255, CAST(floor(yv - 0.344136*(cb - 128) - 0.714136*(cr - 128) + 0.5) AS BIGINT))) AS g,
        |    GREATEST(0, LEAST(255, CAST(floor(yv + 1.772*(cb - 128) + 0.5) AS BIGINT))) AS b2
        |  FROM v),
        |s AS (SELECT doc_id, width, height,
        |    CAST(SUM(r) AS BIGINT) AS sr, CAST(SUM(g) AS BIGINT) AS sg,
        |    CAST(SUM(b2) AS BIGINT) AS sb
        |  FROM px GROUP BY doc_id, width, height)
        |SELECT doc_id, 'JPEG422' AS format, width, height,
        |  CAST(3 AS INTEGER) AS channels,
        |  floor((CAST(64*sr AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_r_r6,
        |  floor((CAST(64*sg AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_g_r6,
        |  floor((CAST(64*sb AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_b_r6
        |FROM s ORDER BY doc_id""".stripMargin,

    // F28: the 4:4:0 corpus is F26's transpose — chroma resolves at
    // (by//2)·(w/8)+bx, dims swap roles
    "mm_feature_extract_jpeg_440" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(8*(1 + (doc_id * 7) % 3) AS INTEGER) AS width,
        |    CAST(16*(1 + doc_id % 2) AS INTEGER) AS height
        |  FROM documents),
        |b AS (SELECT doc_id, width, height,
        |    unnest(range((width // 8) * (height // 8))) AS bi FROM d),
        |c AS (SELECT doc_id, width, height, bi,
        |    bi % (width // 8) AS bx, bi // (width // 8) AS by FROM b),
        |v AS (SELECT doc_id, width, height,
        |    (doc_id*31 + bi*7) % 256 AS yv,
        |    (doc_id*17 + ((by // 2) * (width // 8) + bx) * 11) % 256 AS cb,
        |    (doc_id*23 + ((by // 2) * (width // 8) + bx) * 5) % 256 AS cr
        |  FROM c),
        |px AS (SELECT doc_id, width, height,
        |    GREATEST(0, LEAST(255, CAST(floor(yv + 1.402*(cr - 128) + 0.5) AS BIGINT))) AS r,
        |    GREATEST(0, LEAST(255, CAST(floor(yv - 0.344136*(cb - 128) - 0.714136*(cr - 128) + 0.5) AS BIGINT))) AS g,
        |    GREATEST(0, LEAST(255, CAST(floor(yv + 1.772*(cb - 128) + 0.5) AS BIGINT))) AS b2
        |  FROM v),
        |s AS (SELECT doc_id, width, height,
        |    CAST(SUM(r) AS BIGINT) AS sr, CAST(SUM(g) AS BIGINT) AS sg,
        |    CAST(SUM(b2) AS BIGINT) AS sb
        |  FROM px GROUP BY doc_id, width, height)
        |SELECT doc_id, 'JPEG440' AS format, width, height,
        |  CAST(3 AS INTEGER) AS channels,
        |  floor((CAST(64*sr AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_r_r6,
        |  floor((CAST(64*sg AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_g_r6,
        |  floor((CAST(64*sb AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_b_r6
        |FROM s ORDER BY doc_id""".stripMargin,

    // F23c: the DRI corpus plants the SAME block pattern as F23b (the
    // restart interval changes the byte stream, not the pixels), so
    // the oracle is the identical block formula — the gate is that the
    // decoder's restart resync + predictor resets reproduce it
    "mm_feature_extract_jpeg_dri" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(16*(1 + doc_id % 2) AS INTEGER) AS width,
        |    CAST(16*(1 + (doc_id * 7) % 2) AS INTEGER) AS height
        |  FROM documents),
        |b AS (SELECT doc_id, width, height,
        |    unnest(range((width // 8) * (height // 8))) AS bi FROM d),
        |c AS (SELECT doc_id, width, height, bi,
        |    bi % (width // 8) AS bx, bi // (width // 8) AS by FROM b),
        |v AS (SELECT doc_id, width, height,
        |    (doc_id*31 + bi*7) % 256 AS yv,
        |    (doc_id*17 + ((by // 2) * (width // 16) + (bx // 2)) * 11) % 256 AS cb,
        |    (doc_id*23 + ((by // 2) * (width // 16) + (bx // 2)) * 5) % 256 AS cr
        |  FROM c),
        |px AS (SELECT doc_id, width, height,
        |    GREATEST(0, LEAST(255, CAST(floor(yv + 1.402*(cr - 128) + 0.5) AS BIGINT))) AS r,
        |    GREATEST(0, LEAST(255, CAST(floor(yv - 0.344136*(cb - 128) - 0.714136*(cr - 128) + 0.5) AS BIGINT))) AS g,
        |    GREATEST(0, LEAST(255, CAST(floor(yv + 1.772*(cb - 128) + 0.5) AS BIGINT))) AS b2
        |  FROM v),
        |s AS (SELECT doc_id, width, height,
        |    CAST(SUM(r) AS BIGINT) AS sr, CAST(SUM(g) AS BIGINT) AS sg,
        |    CAST(SUM(b2) AS BIGINT) AS sb
        |  FROM px GROUP BY doc_id, width, height)
        |SELECT doc_id, 'JPEG420' AS format, width, height,
        |  CAST(3 AS INTEGER) AS channels,
        |  floor((CAST(64*sr AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_r_r6,
        |  floor((CAST(64*sg AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_g_r6,
        |  floor((CAST(64*sb AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_b_r6
        |FROM s ORDER BY doc_id""".stripMargin,

    // F24: the progressive corpus encodes the SAME block pattern as
    // F23b through a four-stage SOF2 scan script — the oracle is the
    // identical block formula; the gate is that scan accumulation,
    // successive approximation, EOBRUN and per-scan restarts
    // reproduce it
    "mm_feature_extract_jpeg_prog" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(16*(1 + doc_id % 2) AS INTEGER) AS width,
        |    CAST(16*(1 + (doc_id * 7) % 2) AS INTEGER) AS height
        |  FROM documents),
        |b AS (SELECT doc_id, width, height,
        |    unnest(range((width // 8) * (height // 8))) AS bi FROM d),
        |c AS (SELECT doc_id, width, height, bi,
        |    bi % (width // 8) AS bx, bi // (width // 8) AS by FROM b),
        |v AS (SELECT doc_id, width, height,
        |    (doc_id*31 + bi*7) % 256 AS yv,
        |    (doc_id*17 + ((by // 2) * (width // 16) + (bx // 2)) * 11) % 256 AS cb,
        |    (doc_id*23 + ((by // 2) * (width // 16) + (bx // 2)) * 5) % 256 AS cr
        |  FROM c),
        |px AS (SELECT doc_id, width, height,
        |    GREATEST(0, LEAST(255, CAST(floor(yv + 1.402*(cr - 128) + 0.5) AS BIGINT))) AS r,
        |    GREATEST(0, LEAST(255, CAST(floor(yv - 0.344136*(cb - 128) - 0.714136*(cr - 128) + 0.5) AS BIGINT))) AS g,
        |    GREATEST(0, LEAST(255, CAST(floor(yv + 1.772*(cb - 128) + 0.5) AS BIGINT))) AS b2
        |  FROM v),
        |s AS (SELECT doc_id, width, height,
        |    CAST(SUM(r) AS BIGINT) AS sr, CAST(SUM(g) AS BIGINT) AS sg,
        |    CAST(SUM(b2) AS BIGINT) AS sb
        |  FROM px GROUP BY doc_id, width, height)
        |SELECT doc_id, 'JPEG420' AS format, width, height,
        |  CAST(3 AS INTEGER) AS channels,
        |  floor((CAST(64*sr AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_r_r6,
        |  floor((CAST(64*sg AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_g_r6,
        |  floor((CAST(64*sb AS DOUBLE)/(width*height))*1000000 + 0.5)/1000000 AS mean_b_r6
        |FROM s ORDER BY doc_id""".stripMargin,

    // F19: audio features re-derived from the affine SAMPLE formula
    // (s_i = ((doc_id*31 + i*7) mod 2001) - 1000 over 64 + doc_id%128
    // frames at 8 kHz) — integer |s|/s² sums, a LAG window for the
    // strict zero-crossing count, one r6'd double division per feature
    // (sqrt is IEEE-identical across engines)
    "mm_wav_features" ->
      """WITH d AS (SELECT doc_id, CAST(64 + doc_id % 128 AS INTEGER) AS n FROM documents),
        |sm AS (SELECT doc_id, n, i, ((doc_id*31 + i*7) % 2001) - 1000 AS s
        |  FROM (SELECT doc_id, n, unnest(range(n)) AS i FROM d)),
        |lg AS (SELECT doc_id, n, i, s, LAG(s) OVER (PARTITION BY doc_id ORDER BY i) AS ps FROM sm),
        |agg AS (SELECT doc_id, ANY_VALUE(n) AS n,
        |  CAST(SUM(ABS(s)) AS BIGINT) AS sa, CAST(SUM(s*s) AS BIGINT) AS sq,
        |  CAST(SUM(CASE WHEN ps IS NOT NULL AND ps * s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS zc
        |  FROM lg GROUP BY doc_id)
        |SELECT doc_id, 'PCM16' AS format, CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(1 AS INTEGER) AS n_channels, CAST(n AS BIGINT) AS n_frames,
        |  floor((CAST(n AS DOUBLE)/8000)*1000000 + 0.5)/1000000 AS duration_s_r,
        |  floor((CAST(sa AS DOUBLE)/n)*1000000 + 0.5)/1000000 AS mean_abs_r,
        |  floor(sqrt(CAST(sq AS DOUBLE)/n)*1000000 + 0.5)/1000000 AS rms_r,
        |  floor((CAST(zc AS DOUBLE)/(n-1))*1000000 + 0.5)/1000000 AS zcr_r,
        |  CAST(44 + 2*n AS INTEGER) AS n_bytes
        |FROM agg ORDER BY doc_id""".stripMargin,

    // F17: bin counts re-derived from the same affine pixel formula,
    // independently of the Scala parser; first channel = i % 3 = 0
    "mm_channel_hist" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(1 + doc_id % 8 AS INTEGER) AS width,
        |    CAST(1 + (doc_id * 13) % 8 AS INTEGER) AS height
        |  FROM documents),
        |px AS (SELECT doc_id, unnest(range(width*height*3)) AS i FROM d)
        |SELECT doc_id,
        |  CAST((32 + (doc_id*31 + i*7) % 95) // 32 AS BIGINT) AS bin,
        |  COUNT(*) AS n_px
        |FROM px WHERE i % 3 = 0
        |GROUP BY 1, 2
        |ORDER BY doc_id, bin""".stripMargin,

    "mm_resize" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(1 + doc_id % 8 AS INTEGER) AS width,
        |    CAST(1 + (doc_id * 13) % 8 AS INTEGER) AS height
        |  FROM documents),
        |s AS (SELECT *, least(1.0, 4.0 / greatest(width, height)) AS sc FROM d)
        |SELECT doc_id, width, height,
        |  CAST(greatest(1, floor(width * sc + 0.5)) AS INTEGER) AS target_w,
        |  CAST(greatest(1, floor(height * sc + 0.5)) AS INTEGER) AS target_h,
        |  floor(sc*1000000 + 0.5)/1000000 AS scale
        |FROM s ORDER BY doc_id""".stripMargin,

    "mm_frame_sample" ->
      """SELECT doc_id,
        |  CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(frame_idx * 64 AS INTEGER) AS offset,
        |  md5(substr(text, frame_idx * 64 + 1, 64)) AS frame_md5
        |FROM (SELECT doc_id, text,
        |        unnest([i for i in range(0, length(text) // 64, 4)]) AS frame_idx
        |      FROM documents)
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "mm_exact_dedup" ->
      """SELECT md5(text) AS checksum, MIN(doc_id) AS keep_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
  )
}
