package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{ExtensionQueries => X, RelationalQueries => R}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry maps a SURVEY.md §2 operator (or a §7.5
  * extension operator) to a runnable query over the driver's testdata;
  * `oracleSql` holds the DuckDB-equivalent SQL where the semantics are
  * exactly SQL-expressible (decimal-carried sums for float-order
  * independence; total orders on every window/top-k). Queries without
  * an oracle entry (LSH dedup, ANN, trig distance) get the driver's
  * rows-only check and are semantically pinned by ScalaTest instead.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    R.q11JoinStar(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // aggregations (A1/A2/A6/A7 + exact distinct)
    "q01_pricing_summary" -> (R.q1PricingSummary _),
    "q02_global_stats" -> (R.q2GlobalStats _),
    "q03_group_count" -> (R.q3GroupCount _),
    "q04_range_bucket" -> (R.q4RangeBucket _),
    "q05_count_distinct" -> (R.q5CountDistinct _),
    "q06_minmax" -> (R.q6MinMax _),
    // projections / filters / scalar functions (P1-P7, F7-F15)
    "q07_filter_project" -> (R.q7FilterProject _),
    "q08_scalar_expr" -> (R.q8ScalarExpr _),
    "q09_string_funcs" -> (R.q9StringFuncs _),
    "q10_date_parts" -> (R.q10DateParts _),
    // joins (J1/J2 + semi/anti + star)
    "q11_join_star" -> (R.q11JoinStar _),
    "q12_semi_join" -> (R.q12SemiJoin _),
    "q13_anti_join" -> (R.q13AntiJoin _),
    "q14_nearest_join" -> (R.q14NearestJoin _),
    // windows / sorts / top-k (W1, §2.6)
    "q15_window_top1" -> (R.q15WindowTop1 _),
    "q16_running_sum" -> (R.q16RunningSum _),
    "q17_topk" -> (R.q17TopK _),
    // set operations (§2.7)
    "q18_union" -> (R.q18Union _),
    "q19_intersect" -> (R.q19Intersect _),
    "q20_except" -> (R.q20Except _),
    // business logic (B1/B2 via the production risk expression)
    "q21_risk_case" -> (R.q21RiskCase _),
    // text analysis (§7.5)
    "q22_text_tokens" -> (X.qTextTokens _),
    "q23_lang_profile" -> (X.qLangProfile _),
    "q24_text_quality" -> (X.qTextQuality _),
    // dedup (§7.5)
    "q25_dedup_exact" -> (X.qDedupExact _),
    "q26_dedup_minhash" -> (X.qDedupMinHash _),
    "q27_dedup_simhash" -> (X.qDedupSimHash _),
    "q28_jaccard_pairs" -> (X.qJaccardPairs _),
    "q29_dedup_embedding" -> (X.qDedupEmbedding _),
    // similarity search (§7.5)
    "q30_vector_norms" -> (X.qVectorNorms _),
    "q31_knn_bruteforce" -> (X.qKnnBruteForce _),
    "q32_knn_ivf" -> (X.qKnnIvf _),
    // sessionization / event-time (§2.10 batch analogs)
    "q33_sessionize" -> (X.qSessionize _),
    "q34_daily_window" -> (X.qDailyWindow _),
    // spatial nearest join (J1/J2/W1)
    "q35_nearest_station_window" -> (X.qNearestStationWindow _),
    "q36_nearest_station_minby" -> (X.qNearestStationMinBy _),
    "q37_nearest_haversine" -> (X.qNearestStationHaversine _),
    // keyed latest-state (A8 / upsert-sink semantics)
    "q38_latest_state" -> (X.qLatestState _),
    // multimodal plumbing (§7.5, stub decode, real Spark contract)
    "q39_media_features" -> (X.qMediaFeatures _),
    // multi-dimensional aggregates / pivot / subquery / sketches
    "q40_rollup" -> (R.q22Rollup _),
    "q41_cube" -> (R.q23Cube _),
    "q42_pivot" -> (R.q24Pivot _),
    "q43_above_avg" -> (R.q25AboveAvg _),
    "q44_approx" -> (R.q26Approx _),
    // as-of join (custom time-series operator; union + single window)
    "q45_asof_join" -> (X.qAsOfJoin _),
    // exact interpolated percentiles
    "q46_percentile" -> (R.q27Percentile _),
    // salted two-phase aggregation (oracle = plain group-by)
    "q47_salted_agg" -> (X.qSaltedAgg _),
    // ranking/navigation window suite
    "q48_window_suite" -> (R.q28WindowSuite _),
    // bucketed time-interval join (equi-join plan for a range predicate)
    "q49_range_join" -> (X.qRangeJoin _),
    // bounded-heap top-k custom aggregate (TypedImperativeAggregate)
    "q50_topk_agg" -> (R.q29TopKAgg _),
    // mergeable HLL sketches: sketch per day, union-merge per type
    "q51_hll_merge" -> (X.qHllMerge _),
    // edit-distance fuzzy join, length-band pruned
    "q52_fuzzy_join" -> (X.qFuzzyJoin _),
    // TPC-H Q3 shape: filtered star join -> grouped revenue -> top-10
    "q53_ship_priority" -> (R.q30ShipPriority _),
    // correlated-subquery pattern (per-nation avg, decorrelated)
    "q54_above_nation_avg" -> (R.q31AboveNationAvg _),
    // explicit grouping sets + grouping bitmask
    "q55_grouping_sets" -> (R.q32GroupingSets _),
    // array-valued aggregation with pinned ordering
    "q56_array_agg" -> (R.q33ArrayAgg _),
    // date arithmetic suite
    "q57_date_arith" -> (R.q34DateArith _),
    // B7 anomaly analog: mu+2sigma outlier flags, decimal-exact stats
    "q58_zscore_outliers" -> (R.q35ZScoreOutliers _),
    // TPC-H Q5 shape: snowflake revenue through nation -> region
    "q59_region_revenue" -> (R.q36RegionRevenue _),
    // duplicate clustering: pairs -> connected components -> cluster id
    "q60_dedup_clusters" -> (X.qDedupClusters _),
    // grid-bucketed nearest join (large-dim path; same oracle as q37)
    "q61_nearest_grid" -> (X.qNearestStationGrid _),
    // unicode NFC canonicalization + content hash (pre-dedup pass)
    "q62_normalize_hash" -> (X.qNormalizeHash _),
    // IVF with nprobe=nlist is exact: shares q31's brute-force oracle
    "q63_knn_ivf_exact" -> (X.qKnnIvfExact _),
    // MinHash verify stage, blocking disabled: exhaustive oracle check
    "q64_minhash_verify" -> (X.qMinHashVerify _),
    // adaptive grid nearest join in its dense-site regime (~1 site/cell)
    "q65_nearest_dense_grid" -> (X.qNearestSiteDense _),
    // TPC-H planner-stressing shapes (schema-adapted Q2/Q4/Q7/Q8/Q21)
    "q66_min_cost_supplier" -> (R.q37MinCostSupplier _),
    "q67_priority_exists" -> (R.q38PriorityExists _),
    "q68_nation_volume" -> (R.q39NationVolume _),
    "q69_market_share" -> (R.q40MarketShare _),
    "q70_waiting_supplier" -> (R.q41WaitingSupplier _),
    // streaming sessionizer replayed to completion, batch-oracle-checked
    "q71_sessionize_stream" -> (X.qSessionizeStream _),
    // TPC-H breadth second wave (schema-adapted Q10/Q12/Q13/Q14/Q19/Q22)
    "q72_returned_customers" -> (R.q42ReturnedCustomers _),
    "q73_late_ship_priority" -> (R.q43LateShipPriority _),
    "q74_order_count_dist" -> (R.q44OrderCountDistribution _),
    "q75_promo_share" -> (R.q45PromoShare _),
    "q76_disjunctive_join" -> (R.q46DisjunctiveJoin _),
    "q77_rich_inactive" -> (R.q47RichInactiveCustomers _),
    // streaming window agg + streaming dedup, replayed and batch-checked
    "q78_windowed_stream" -> (X.qWindowedStream _),
    "q79_dedup_stream" -> (X.qDedupStream _),
    // multimodal metadata contract + quality-score float algebra
    "q80_media_metadata" -> (X.qMediaMetadata _),
    "q81_quality_score" -> (X.qQualityScore _),
    // native session_window + stream-stream interval join, replayed
    "q82_session_window_stream" -> (X.qSessionWindowStream _),
    "q83_stream_stream_join" -> (X.qStreamStreamJoin _),
    // end-to-end corpus cleaning: normalize → dedup → CC → quality gate
    "q84_corpus_clean" -> (X.qCorpusClean _),
    // TPC-H remaining shapes (schema-adapted Q6/Q9/Q11/Q15/Q16/Q17/Q18/Q20)
    "q85_revenue_delta" -> (R.q48RevenueDelta _),
    "q86_product_profit" -> (R.q49ProductProfit _),
    "q87_important_stock" -> (R.q50ImportantStock _),
    "q88_top_supplier" -> (R.q51TopSupplier _),
    "q89_part_supplier_count" -> (R.q52PartSupplierCount _),
    "q90_small_qty_revenue" -> (R.q53SmallQtyRevenue _),
    "q91_large_orders" -> (R.q54LargeOrders _),
    "q92_promo_suppliers" -> (R.q55PromoSuppliers _),
    // embedding verify stage, blocking disabled: exhaustive oracle check
    "q93_embedding_verify" -> (X.qEmbeddingVerify _),
    // training-data pipeline: deterministic splits/sampling, sequence
    // packing, repetition signals, PII scrubbing
    "q94_hash_split" -> (X.qHashSplit _),
    "q95_sequence_packing" -> (X.qSequencePacking _),
    "q96_repetition_stats" -> (X.qRepetitionStats _),
    "q97_pii_scrub" -> (X.qPiiScrub _),
    "q98_stratified_sample" -> (X.qStratifiedSample _),
    // quality-weighted survivor selection + mixture re-weighting
    "q99_best_per_group" -> (X.qBestPerGroup _),
    "q100_mixture_weights" -> (X.qMixtureWeights _),
    // native whole-operator as-of join (custom plan+strategy+exec);
    // shares q45's oracle
    "q101_asof_native" -> (X.qAsOfJoinNative _),
    // transformWithState sessionizer (Spark 4 arbitrary-state API on
    // RocksDB state); shares the q33/q71/q82 sessionize oracle
    "q102_sessionize_tws" -> (X.qSessionizeTws _),
    // full-text relevance scoring (BM25 / TF-IDF) over the corpus —
    // deterministic by construction (6-dp decimal-carried weights)
    "q103_bm25" -> (X.qBm25 _),
    "q104_tfidf" -> (X.qTfidf _),
    // banded SimHash over a PORTABLE (md5-nibble) fingerprint — the
    // whole near-dup operator hash-checks against an exhaustive oracle
    "q105_simhash_portable" -> (X.qSimhashPortable _),
    // single-pass Deequ-style constraint suite
    "q106_data_quality" -> (X.qDataQuality _),
    // calendar gap-fill + LOCF resample
    "q107_resample_locf" -> (X.qResampleLocf _),
    // SCD2 dimension-history builder
    "q108_scd2_history" -> (X.qScd2History _),
    // iterative graph centrality, 6-dp quantized => oracle-exact;
    // convergence exit armed (rounds_run replayed by the oracle)
    "q109_pagerank" -> (X.qPageRank _),
    // hot-key join via salt+replicate (oracle: the plain join)
    "q110_salted_join" -> (X.qSaltedJoin _),
    // mergeable-partial aggregate maintenance (oracle: single pass)
    "q111_incremental_agg" -> (X.qIncrementalAgg _),
    // eval-set n-gram decontamination (broadcast eval side)
    "q112_decontamination" -> (X.qDecontamination _),
    // per-node triangle counts, degree-ordered orientation
    "q113_triangle_count" -> (X.qTriangleCount _),
    // stride-overlapped context-window chunking
    "q114_chunk_docs" -> (X.qChunkDocs _),
    // bloom runtime filter at the fact scan (oracle: plain join)
    "q115_bloom_join" -> (X.qBloomJoin _),
    // count-min prefilter + exact re-count (oracle: plain HAVING)
    "q116_heavy_hitters" -> (X.qHeavyHitters _),
    // verbatim cross-doc 32-char span detection, exact
    "q117_span_overlap" -> (X.qSpanOverlap _),
    // Morton-curve layout: cell quantize + interleave + ntile buckets
    "q118_zorder_layout" -> (X.qZOrderLayout _),
    // BPE merge stats: pair counts over the word-frequency table
    "q119_bpe_pairs" -> (X.qBpePairs _),
    // deterministic synchronous label-propagation communities
    "q120_label_prop" -> (X.qLabelProp _),
    // join-view delta maintenance (oracle: the from-scratch join)
    "q121_incremental_join" -> (X.qIncrementalJoin _),
    // exact-quota stratified split (largest-remainder, integer-exact)
    "q122_quota_split" -> (X.qQuotaSplit _),
    // SCD2 point-in-time lookup = history builder ∘ backward as-of
    "q123_scd2_lookup" -> (X.qScd2Lookup _),
    // content-defined chunking (rolling md5 window, self-healing)
    "q124_cdc_chunks" -> (X.qCdcChunks _),
    // banded MinHash-LSH, portable md5 signature — the banding itself
    // is hash-checked, not just the verify stage (q26's twin q64)
    "q125_minhash_portable" -> (X.qMinhashPortable _),
    // multi-probe sign-LSH, portable md5 ±1 planes — bucketing itself
    // is hash-checked via the closed-form Hamming ≤ 2 predicate
    "q126_signlsh_portable" -> (X.qSignLshPortable _),
    // gear-hash CDC: O(1)-per-char rolling boundaries, exact oracle
    // via the closed-form trailing-window identity
    "q127_gear_chunks" -> (X.qGearChunks _),
    // per-domain cap: portable md5 rank keeps ≤ 15 docs per source
    "q128_domain_cap" -> (X.qDomainCap _),
    // top-500 vocab (count desc, word asc) + per-doc OOV rate
    "q129_vocab_oov" -> (X.qVocabOov _),
    // symmetric int8 quantization: scale = max|v|/127, round-half-up
    "q130_quantize_int8" -> (X.qQuantizeInt8 _),
    // mean corpus-unigram surprisal per doc (decimal-carried weights)
    "q131_unigram_surprisal" -> (X.qUnigramSurprisal _),
    // int8-quantized cosine top-k: scales cancel -> exact integer dots
    "q132_quantized_topk" -> (X.qQuantizedTopK _),
    // mean corpus-bigram surprisal per doc (word-order quality signal)
    "q133_bigram_surprisal" -> (X.qBigramSurprisal _),
    // exact top-20% quality gate: histogram threshold, no global sort
    "q134_quality_gate" -> (X.qQualityGate _),
    // inverted-index exact Jaccard: q28 semantics, no cross join/bound
    "q135_jaccard_indexed" -> (X.qJaccardPairsIndexed _),
    // near-dup canonicalization: trigram edges -> CC -> keep best quality
    "q136_neardup_canonical" -> (X.qNearDupCanonical _),
    // deterministic training order: GlobalOrder rank by md5, no global window
    "q137_train_order" -> (X.qTrainOrder _),
    // per-source KL(P_src || P_corpus) over unigrams (mixture drift)
    "q138_domain_kl" -> (X.qDomainDivergence _),
    // temperature-scaled (n^alpha) domain quotas, largest remainder
    "q139_temperature_alloc" -> (X.qTemperatureAlloc _),
    // asymmetric containment |A∩B|/|A| >= 0.7 (doc-in-doc detection)
    "q140_containment" -> (X.qContainmentPairs _),
    // per-doc char-level Shannon entropy (degenerate-text signal)
    "q141_char_entropy" -> (X.qCharEntropy _),
    // trigram novelty vs earlier docs (marginal-content diagnostic)
    "q142_ngram_novelty" -> (X.qNgramNovelty _),
    // centroid-margin label-noise scan (negative margin = suspect)
    "q143_label_margin" -> (X.qLabelMargin _),
    // exponentially time-decayed per-user value (recency feature)
    "q144_decayed_sum" -> (X.qDecayedSum _),
    // view->click->purchase funnel: chained strict-after min times
    "q145_funnel" -> (X.qFunnel _),
    // frequent-token PMI pairs (integer thresholds, one IEEE division)
    "q146_pmi_cooc" -> (X.qPmiCooc _),
    // per-event trailing 1-hour window (peer-inclusive RANGE frame)
    "q147_rolling_window" -> (X.qRollingWindow _),
    // ROLLUP subtotals + grand total in one Expand pass
    "q148_rollup" -> (X.qRollupAgg _),
    // exact discrete per-group quantiles (percentile_disc semantics)
    "q149_group_quantiles" -> (X.qGroupQuantiles _),
    // per-user event-type pivot feature row
    "q150_event_pivot" -> (X.qEventPivot _),
    // key-skew diagnostic: exact Gini over the count histogram
    "q151_skew_profile" -> (X.qSkewProfile _),
    // median/MAD outlier gate (discrete selections, no interpolation)
    "q152_robust_outliers" -> (X.qRobustOutliers _),
    // lang x source chi-square contingency cells
    "q153_chisq_cells" -> (X.qChisqCells _),
    // per-user least-squares trend over day offsets
    "q154_group_trend" -> (X.qGroupTrend _),
    // from_json property extraction + exact per-type stats
    "q155_props_parse" -> (X.qPropsParse _),
    // weekly cohort retention grid (distinct users per offset)
    "q156_cohort_retention" -> (X.qCohortRetention _),
    // multi-source BFS hop distance (recursive-CTE oracle)
    "q157_bfs_hops" -> (X.qBfsHops _),
    // first-order Markov transition matrix over user event streams
    "q158_transitions" -> (X.qTransitions _),
    // bounded k-core peeling (unrolled-round oracle)
    "q159_kcore" -> (X.qKCore _),
    // deterministic contrastive negative sampling (md5 ring draws)
    "q160_negative_pairs" -> (X.qNegativePairs _),
    // retrieval eval: MRR + NDCG@10 with literal discount table
    "q161_retrieval_eval" -> (X.qRetrievalEval _),
    // exact-moment Pearson correlation matrix, one scan
    "q162_corr_matrix" -> (X.qCorrMatrix _),
    // bounded Bellman-Ford weighted shortest paths (unrolled oracle)
    "q163_shortest_paths" -> (X.qShortestPaths _),
    // keyed snapshot diff (added/removed/changed + changed columns)
    "q164_snapshot_diff" -> (X.qSnapshotDiff _),
    // per-group winsorization at exact discrete percentiles
    "q165_winsorize" -> (X.qWinsorize _),
    // per-key CUSUM drift statistic (closed-form, decimal-exact)
    "q166_cusum" -> (X.qCusum _),
    // streaming: stream-static dim join + windowed agg (batch oracle)
    "q167_stream_static_join" -> (X.qStreamStaticDim _),
    // shard-interleaved curriculum schedule (md5 shards, integer)
    "q168_curriculum_order" -> (X.qCurriculum _),
    // per-source greedy token-budget selection
    "q169_token_budget" -> (X.qTokenBudget _),
    // interval concurrency timeline (boundary deltas + bounded cumsum)
    "q170_concurrency" -> (X.qConcurrency _),
    // ratio-to-report shares via broadcast decimal totals
    "q171_ratio_report" -> (X.qRatioToReport _),
    // A/B two-proportion readout from exact counts
    "q172_ab_test" -> (X.qAbTest _),
    // rolling 7-day distinct active users (coverage-run timeline)
    "q173_rolling_active" -> (X.qRollingActive _),
    // CUPED variance-reduced readout from decimal moments
    "q174_cuped" -> (X.qCuped _),
    // personalized PageRank (seed-gated base, integer fixed point;
    // convergence exit armed, rounds_run replayed)
    "q175_ppr" -> (X.qPersonalizedPageRank _),
    // deterministic md5 bootstrap CI for the mean
    "q176_bootstrap_ci" -> (X.qBootstrapCI _),
    // top-k frequent 3-event paths (sequence mining)
    "q177_top_paths" -> (X.qTopPaths _),
    // hour-of-week seasonal profile + index
    "q178_seasonal_profile" -> (X.qSeasonalProfile _),
    // near-dup-cluster-level split: no twin crosses train/test
    "q179_cluster_split" -> (X.qClusterSplit _),
    // minimal k-anonymity generalization ladder over acctbal
    "q180_k_anonymity" -> (X.qKAnonymity _),
    // last-writer-wins CDC fold with delete markers
    "q181_cdc_apply" -> (X.qCdcApply _),
    // integer-exact weighted systematic sample (PPS)
    "q182_pps_sample" -> (X.qPpsSample _),
    // 3-round integer Lloyd's, unrolled oracle
    "q183_kmeans_quant" -> (X.qKmeansQuant _),
    // streaming MERGE parity: replayed CDC fold vs the batch oracle
    "q184_cdc_stream" -> (X.qCdcStream _),
    // ROUGE-1 clipped-overlap generation eval over source-adjacent pairs
    "q185_rouge1" -> (X.qRouge1 _),
    // linear multi-touch attribution ledger (banded lookback join)
    "q186_attribution" -> (X.qAttribution _),
    // Zipf log-log OLS on the exact scaled-ln lattice
    "q187_zipf_fit" -> (X.qZipfFit _),
    // Heaps vocabulary-growth fit over doc-id-decile prefixes
    "q188_heaps_fit" -> (X.qHeapsFit _),
    // cluster-balanced exact-quota sample (q183 ∘ q122 composition)
    "q189_cluster_sample" -> (X.qClusterSample _),
    // end-to-end prep: gate → dedup → split → pack, one oracle
    "q190_training_prep" -> (X.qTrainingPrep _),
    // per-event hour-of-week z-score (exact moments, IEEE sqrt)
    "q191_seasonal_anomaly" -> (X.qSeasonalAnomaly _),
    // media-struct checksum dedup ledger (sha-256 payload identity)
    "q192_media_dedup" -> (X.qMediaDedup _),
    // exact Gini of token-mass concentration (GlobalOrder rank)
    "q193_gini" -> (X.qGini _),
    // per-group weighted median (cumulative-mass walk, no division)
    "q194_weighted_median" -> (X.qWeightedMedian _),
    // SemDeDup: portable-quantizer cells + within-cell cosine prune
    "q195_semantic_dedup" -> (X.qSemanticDedup _),
    // linear quality-classifier logit filter (no transcendentals)
    "q196_quality_filter" -> (X.qQualityFilter _),
    // interpolated Kneser-Ney bigram LM over the corpus
    "q197_kn_bigram" -> (X.qKnBigram _),
    // CCNet-style mean neg-log-prob under the corpus KN model
    "q198_perplexity" -> (X.qPerplexity _),
    // MMR diversified re-ranking over a bounded retrieval pool
    "q199_mmr" -> (X.qMmr _),
    // entity resolution: blocking -> fuzzy match -> CC -> canonical
    "q200_entity_resolution" -> (X.qEntityResolution _),
    // greedy k-center (farthest-point) coreset selection
    "q201_kcenter_coreset" -> (X.qKCenterCoreset _),
    // per-dimension PSI drift between even/odd cohorts (lattice ln)
    "q202_psi_drift" -> (X.qPsiDrift _),
    // cosine-band hard-negative mining for contrastive pairs
    "q203_hard_negatives" -> (X.qHardNegatives _),
    // per-source dataset-card report (docs/tokens/dups/langs/quality)
    "q204_corpus_report" -> (X.qCorpusReport _),
    // per-label mean/max embedding pooling (prototype centroids)
    "q205_embedding_pool" -> (X.qEmbeddingPool _),
    // deterministic md5-draw random-walk corpus (graph -> sequences)
    "q206_random_walks" -> (X.qRandomWalks _),
    // rendezvous (HRW) sharding + minimal-movement rebalance diff
    "q207_rendezvous_shards" -> (X.qRendezvousShards _),
    // per-user session-gap audit (sizes the sessionization timeout)
    "q208_session_gap_audit" -> (X.qSessionGapAudit _),
    // per-language subword fertility (tokenizer health)
    "q209_subword_fertility" -> (X.qSubwordFertility _),
    // quality-gate yield curve (threshold sweep per source)
    "q210_gate_yield" -> (X.qGateYieldCurve _),
    // weak-supervision majority vote over heuristic labelers
    "q211_weak_labels" -> (X.qWeakLabels _),
    // in-engine LSH recall vs exhaustive ground truth (hash-checked)
    "q212_lsh_recall" -> (X.qLshRecall _),
    // streaming windowed top-k via the bounded-heap custom aggregate
    "q213_stream_topk" -> (X.qStreamTopK _),
    // right-to-be-forgotten per-table deletion audit
    "q214_deletion_audit" -> (X.qDeletionAudit _),
    // Laplace-mechanism noisy count release (deterministic harness)
    "q215_dp_counts" -> (X.qDpCounts _),
    // cross-document repeated 8-gram spans (Lee et al. span dedup)
    "q216_repeated_spans" -> (X.qRepeatedSpans _),
    // per-document repeated-token budget from those spans
    "q217_repeated_budget" -> (X.qRepeatedBudget _),
    // DSIR hashed-unigram importance log-weights (target = en slice)
    "q218_dsir_weights" -> (X.qDsirWeights _),
    // Gopher-style heuristic rule battery with per-rule verdicts
    "q219_gopher_rules" -> (X.qGopherRules _),
    // UniMax epoch-capped token-budget waterfill across sources
    "q220_unimax_alloc" -> (X.qUnimaxAlloc _),
    // encoding-hygiene audit over planted mojibake/C1/replacement
    "q221_encoding_audit" -> (X.qEncodingAudit _),
    // KMV bottom-k distinct sketch with in-row error contract
    "q222_kmv_distinct" -> (X.qKmvDistinct _),
    // winnowing (MOSS) fingerprint selection, k=4 w=4
    "q223_winnow_fp" -> (X.qWinnowFp _),
    // winnowing sketch density accounting per document
    "q224_winnow_profile" -> (X.qWinnowProfile _),
    // Artetxe-Schwenk margin-based bitext mining over embeddings
    "q225_bitext_margin" -> (X.qBitextMargin _),
    // formatting-invariant duplicate groups (planted-dup corpus)
    "q226_canonical_dups" -> (X.qCanonicalDups _),
    // cross-source verbatim-contamination matrix
    "q227_cross_source_dups" -> (X.qCrossSourceDups _),
    // split-leakage audit: texts straddling hash splits
    "q228_split_leakage" -> (X.qSplitLeakage _),
    // mixed-language marker-vote audit
    "q229_language_mix" -> (X.qLanguageMix _),
    // A-ES weighted reservoir sample through the bounded-heap top-k
    "q230_weighted_reservoir" -> (X.qWeightedReservoir _),
    // degree assortativity of the co-supply graph (exact moments)
    "q231_assortativity" -> (X.qAssortativity _),
    // streaming per-window event-type PSI vs the corpus reference
    "q232_stream_psi" -> (X.qStreamPsi _),
    // sentence stats + Flesch reading ease (planted sentence tails)
    "q233_sentence_stats" -> (X.qSentenceStats _),
    // shared-header template clusters (planted prefix variants)
    "q234_template_clusters" -> (X.qTemplateClusters _),
    // Goh-Barabási inter-arrival burstiness per user
    "q235_arrival_burstiness" -> (X.qArrivalBurstiness _),
    // leave-one-source-out influence on mean quality
    "q236_source_influence" -> (X.qSourceInfluence _),
    // Benford first-digit conformance audit of event values
    "q237_benford_audit" -> (X.qBenfordAudit _),
    // lead-lag daily cross-correlation (clicks vs purchases)
    "q238_leadlag_xcorr" -> (X.qLeadLag _),
    // incremental LSH near-dup: new batch vs base, base×base excluded
    "q239_incremental_neardup" -> (X.qIncrementalNearDup _),
    // KMV sketch set algebra: union/intersection estimates
    "q240_kmv_setops" -> (X.qKmvSetOps _),
    // functional-dependency audit (held + violated dependencies)
    "q241_fd_audit" -> (X.qFdAudit _),
    // FK orphan audit against under-covering and full dimensions
    "q242_fk_orphans" -> (X.qFkOrphans _),
    // Dunning G² collocation significance (lattice-ln 2×2 cells)
    "q243_llr_collocations" -> (X.qLlrCollocations _),
    // discrete survival curve with lattice-ln Kaplan-Meier
    "q244_survival_curve" -> (X.qSurvivalCurve _),
    // tokenizer-sizing vocabulary coverage curve (top-30 ranks)
    "q245_vocab_coverage" -> (X.qVocabCoverage _),
    // sorted-neighborhood dedup (GlobalOrder rank, w=3 neighbor scan)
    "q246_sorted_neighborhood" -> (X.qSortedNeighborhood _),
    // association rules over (user, day) event-type baskets
    "q247_assoc_rules" -> (X.qAssocRules _),
    // per-source distinctive-bigram keywords (group TF-IDF)
    "q248_keywords" -> (X.qKeywords _),
    // one-pass numeric column profiler (exact describe)
    "q249_column_profile" -> (X.qColumnProfile _),
    // r8 filter chain end to end: gopher → span budget → split
    "q250_train_filter_v2" -> (X.qTrainFilterV2 _),
    // distribution-matched rejection sampling (length → en slice)
    "q251_dist_match" -> (X.qDistMatch _),
    // Unicode script-mix audit (Latin/Han/Cyrillic letter counts)
    "q252_script_mix" -> (X.qScriptMix _),
    // effective-dataset-size accounting (dedup + span removal)
    "q253_effective_tokens" -> (X.qEffectiveTokens _),
    // watermark-sizing disorder audit (planted lateness)
    "q254_disorder_audit" -> (X.qDisorderAudit _),
    // token-balanced snake sharding over the GlobalOrder rank
    "q255_snake_shards" -> (X.qSnakeShards _),
    // per-source quantile normalization (histogram percentiles)
    "q256_quantile_norm" -> (X.qQuantileNorm _),
    // tie-broken Spearman: quality vs length ranks
    "q257_spearman" -> (X.qSpearman _),
    // cumulative distinct-user growth at KMV sketch cost
    "q258_kmv_timeline" -> (X.qKmvTimeline _),
    // MOSS fingerprint matching (df-capped pair generation)
    "q259_winnow_matches" -> (X.qWinnowMatches _),
    // WAV/FLAC header parse round-trip over planted fixture bytes
    "q260_audio_headers" -> (X.qAudioHeaders _),
    // 6-round BPE merge training loop (unrolled-CTE oracle)
    "q261_bpe_merges" -> (X.qBpeMerges _),
    // corpus token counts under the learned BPE vocab
    "q262_bpe_encode" -> (X.qBpeEncode _),
    // CCNet-style sentence-level dedup accounting (planted tails)
    "q263_sentence_dedup" -> (X.qSentenceDedup _),
    // exact Levenshtein verify over the SNM candidate pairs
    "q264_edit_verify" -> (X.qEditVerify _),
    // JL sign projection 64 -> 16 (exact integer-lattice transform)
    "q265_jl_project" -> (X.qJlProject _),
    // deterministic JL distance-distortion audit (100 pairs)
    "q266_jl_distortion" -> (X.qJlDistortion _),
    // SFT chat-structure gates + loss-masking token ledger
    "q267_chat_stats" -> (X.qChatStats _),
    // tf-capped weighted MinHash Jaccard (estimate + exact)
    "q268_weighted_minhash" -> (X.qWeightedMinhash _),
    // per-source boilerplate header detection (modal k-prefix scan)
    "q269_boilerplate_prefix" -> (X.qBoilerplatePrefix _),
    // DPO preference-pair hygiene (length bias / ties / overlap)
    "q270_preference_audit" -> (X.qPreferenceAudit _),
    // sharded-profile merge vs the direct whole-table profile
    "q271_profile_merge" -> (X.qProfileMerge _),
    // token-budget quality selection (histogram threshold + greedy
    // boundary fill)
    "q272_budget_select" -> (X.qBudgetSelect _),
    // model-based char-n-gram language ID (pinned integer weights)
    "q273_language_id" -> (X.qLanguageId _),
    // MP4/ISO-BMFF mvhd metadata via pure byte arithmetic
    "q274_video_headers" -> (X.qVideoHeaders _),
    // per-doc URL canonicalization over planted messy URLs
    "q275_url_canon" -> (X.qUrlCanon _),
    // canonical-host rollup (docs, raw vs canonical URL collapse)
    "q276_host_stats" -> (X.qHostStats _),
    // perceptual image dHash over the real ImageIO decode path
    "q277_image_dhash" -> (X.qImageDhash _),
    // Hamming-banded image near-dup pairs (4 x 16-bit bands)
    "q278_image_pairs" -> (X.qImagePairs _),
    // reliability bins + ECE + Brier on the quality classifier
    "q279_calibration" -> (X.qCalibration _),
    // MP3 ID3v2 syncsafe + MPEG frame header via byte arithmetic
    "q280_mp3_headers" -> (X.qMp3Headers _),
    // NFKC-lite unicode normalization audit (translate/replace fold)
    "q281_text_normalize" -> (X.qTextNormalize _),
    // outlink extraction from text + canonical-host rollup
    "q282_outlinks" -> (X.qOutlinks _),
    // robots-style longest-prefix URL rules over canonical paths
    "q283_url_rules" -> (X.qUrlRules _),
    // HTML -> text extraction (script/style/comment strip, entities)
    "q284_html_extract" -> (X.qHtmlExtract _),
    // streaming LID mix monitor (model applied inside the stream)
    "q285_stream_lang_mix" -> (X.qStreamLangMix _),
    // anchor-text link extraction (absolute hrefs canonicalized)
    "q286_anchor_links" -> (X.qAnchorLinks _),
    // page head metadata (title/description/rel=canonical)
    "q287_page_meta" -> (X.qPageMeta _),
    // Fleiss' kappa inter-annotator agreement (exact-rational)
    "q288_annotator_agreement" -> (X.qAnnotatorAgreement _),
    // SFT loss-mask / context-truncation ledger
    "q289_loss_mask" -> (X.qLossMask _),
    // JPEG SOF geometry via bounded marker-segment walk
    "q290_jpeg_headers" -> (X.qJpegHeaders _),
    // corpus BLEU in log space (clipped precisions + brevity penalty)
    "q291_bleu" -> (X.qBleu _),
    // Bradley-Terry MM ratings from pairwise preferences
    "q292_bradley_terry" -> (X.qBradleyTerry _),
    // checksum-validated PII (Luhn cards, octet-checked IPs)
    "q293_pii_validate" -> (X.qPiiValidate _),
    // SQuAD-style exact match + clipped token F1
    "q294_qa_eval" -> (X.qQaEval _),
    // exact tie-aware ROC-AUC (Mann-Whitney over the score histogram)
    "q298_roc_auc" -> (X.qRocAuc _),
    // markdown/code layout signals (headings, fences, indent, lists)
    "q295_doc_structure" -> (X.qDocStructure _),
    // special-token / chat-template contamination rollup
    "q296_special_tokens" -> (X.qSpecialTokens _),
    // reciprocal-rank fusion of two rankings (lattice reciprocals)
    "q297_rank_fusion" -> (X.qRankFusion _),
    // streaming special-token contamination monitor (real replay)
    "q299_stream_special_tokens" -> (X.qStreamSpecialTokens _),
    // end-to-end web intake: extract -> host -> LID -> gate -> rollup
    "q300_web_pipeline" -> (X.qWebPipeline _),
    // l-diversity audit (homogeneity attack readout per QI cell)
    "q301_l_diversity" -> (X.qLDiversity _),
    // t-closeness audit (exact variational distance per QI cell)
    "q302_t_closeness" -> (X.qTCloseness _),
    // Fellegi-Sunter record linkage over a planted dirty registry
    "q303_record_linkage" -> (X.qRecordLinkage _),
    // corpus chrF2 (char n-gram F, exact half-up lattice headline)
    "q304_chrf" -> (X.qChrf _),
    // WAV PCM sample audit (peak/clip/RMS over planted data bytes)
    "q305_wav_pcm" -> (X.qWavPcm _),
    // DP Laplace histogram release (md5 inverse-CDF, exact lattice)
    "q306_dp_histogram" -> (X.qDpHistogram _),
    // product quantization + ADC top-k (FAISS-style table lookups)
    "q307_pq_adc" -> (X.qPqAdc _),
    // split-conformal calibration (exact order statistic + coverage)
    "q308_conformal" -> (X.qConformal _),
    // JSON sidecar schema-conformance audit (guarded extraction)
    "q309_json_audit" -> (X.qJsonAudit _),
    // corpus ROUGE-L (compiled two-row LCS kernel, micro-averaged;
    // oracle replays the monotone-row fold identity)
    "q310_rouge_l" -> (X.qRougeL _),
    // sentence-boundary RAG chunking with one-sentence overlap
    "q311_sentence_chunks" -> (X.qSentenceChunks _),
    // min-K% probability membership audit over the KN bigram LM
    "q312_mink_prob" -> (X.qMinKProb _),
    // semantic decontamination gate (exact integer cosine threshold)
    "q313_semantic_gate" -> (X.qSemanticGate _),
    // MAD robust outlier audit (median/MAD, exact integer threshold)
    "q314_mad_outliers" -> (X.qMadOutliers _),
    // exact two-sample KS over every source pair (bin-free drift)
    "q315_ks_test" -> (X.qKsTest _),
    // T=2 temperature mixture weights with exact token allocation
    "q316_temperature_mix" -> (X.qTemperatureMix _),
    // contamination scorecard: n-gram + semantic + min-K% composed
    "q317_contamination_report" -> (X.qContaminationReport _),
    // ADC recall@5 vs the exact cut under the same packed order
    "q318_adc_recall" -> (X.qAdcRecall _),
    // G.711 mu-law sample audit (exact integer companding decode)
    "q319_ulaw_pcm" -> (X.qUlawPcm _),
    // ER golden records: FS links -> transitive closure -> survivorship
    "q320_golden_records" -> (X.qGoldenRecords _),
    // HITS hubs/authorities (integer L1-normalized fixed point;
    // boundary convergence test armed, rounds_run replayed)
    "q321_hits" -> (X.qHits _),
    // exact Kendall tau-b over the bounded joint histogram
    "q322_kendall_tau" -> (X.qKendallTau _),
    // NMI + purity between two categorical columns (lattice-ln MI)
    "q323_nmi_purity" -> (X.qNmi _),
    // streaming JSON-conformance monitor (real micro-batch replay)
    "q324_stream_json_audit" -> (X.qStreamJsonAudit _),
    // packing fragmentation per candidate context length
    "q325_packing_report" -> (X.qPackingFragmentation _),
    // IVF-pruned candidates reranked by ADC — the large-|Q| cutover
    "q326_ivf_adc" -> (X.qIvfAdc _),
    // q326's recall against q318's exact ground truth
    "q327_ivf_adc_recall" -> (X.qIvfAdcRecall _),
    // SemDeDup's shipped scale config: derived nlist + skew split
    "q328_semdedup_split" -> (X.qSemanticDedupSplit _),
    // IVFADC proper: residual-encoded PQ on the planted clustered
    // fixture (the FAISS IndexIVFPQ shape)
    "q329_ivfadc_residual" -> (X.qIvfAdcResidual _),
    // q329's recall@5 vs the exact top-5 on the planted fixture
    "q330_ivfadc_residual_recall" -> (X.qIvfAdcResidualRecall _),
    // the control row: raw-encoding recall on the SAME fixture —
    // q330 − q331 is the residual-encoding evidence
    "q331_ivfadc_raw_planted_recall" -> (X.qIvfAdcRawPlantedRecall _),
    // the convergence exit ENGAGED: PageRank on a planted ring sits
    // at the integer fixed point from round 1 (rounds_run = 1 of 8)
    "q332_pagerank_converged" -> (X.qPageRankConverged _),
    // span-level quality: worst/best 16-bigram window under the KN LM
    "q333_windowed_perplexity" -> (X.qWindowedPerplexity _),
    // LSH band-plan calibration: measured bucket workload + exact
    // pinned-chain S-curve per (bands, rows) split of the signature
    "q334_lsh_band_plan" -> (X.qLshBandPlan _),
    // Gopher self-repetition gates: modal/duplicated n-gram coverage
    "q335_self_repetition" -> (X.qSelfRepetition _),
    // IVF nprobe calibration: recall@5 + candidate volume per plan
    // (the q334 pattern applied to the probe knob)
    "q336_ivf_nprobe_calibration" -> (X.qIvfNprobeCalibration _),
    // the CCNet-style worst-window cut acting on q333's span bounds
    "q337_perplexity_span_cut" -> (X.qPerplexitySpanCut _),
    // the band-plan commit on top of q334's calibration table
    "q338_lsh_band_plan_select" -> (X.qLshBandPlanSelect _),
    // the nprobe commit on top of q336's calibration table — the
    // q338 rule applied to the IVF probe knob
    "q339_ivf_nprobe_select" -> (X.qIvfNprobeSelect _),
    // margin calibration for q337's worst-window cut: docs cut /
    // tokens removed / corpus share per candidate margin
    "q340_span_cut_margin_calibration" -> (X.qSpanCutMarginCalibration _),
    // SemDeDup threshold calibration: per cosine threshold the docs
    // removed + corpus share, cells/pairwise computed once
    "q341_semdedup_threshold_calibration" ->
      (X.qSemDedupThresholdCalibration _),
    // the threshold commit on q341's table — most aggressive dedup
    // within the removal budget, mildest-threshold fallback flagged
    "q342_semdedup_threshold_select" -> (X.qSemDedupThresholdSelect _),
    // calibrate→commit→APPLY: SemDeDup run AT q342's committed
    // threshold, the 1-row commit broadcast-joined in-engine
    "q343_semdedup_apply_committed" -> (X.qSemDedupApplyCommitted _),
    // calibrate→commit→APPLY, MinHash side: the banded verify run
    // UNDER q338's committed (bands, rows) — the plan arrives as
    // columns from the broadcast commit row
    "q344_lsh_apply_committed_plan" -> (X.qLshApplyCommittedPlan _),
    // q341's calibration re-pinned on the SHIPPED scale config: the
    // corpus-derived two-level quantizer on q328's planted corpus
    "q345_semdedup_threshold_calibration_scale" ->
      (X.qSemDedupThresholdCalibrationScale _),
    // the scale-config threshold commit on q345's table — the row a
    // production run would use
    "q346_semdedup_threshold_select_scale" ->
      (X.qSemDedupThresholdSelectScale _),
    // the full production composition: calibrate→commit→APPLY under
    // the shipped scale config on q328's corpus
    "q347_semdedup_apply_committed_scale" ->
      (X.qSemDedupApplyCommittedScale _)
  )

  /** Shortest-paths oracle: full Bellman-Ford unrolled — each round
    * folds "stay" (d_{i-1}) and "relax one edge" (d_{i-1}+w) and
    * takes the min per node; equals the engine's delta-frontier
    * result at the same round count (see ShortestPaths scaladoc for
    * the invariant). Cast-first weight chain on both sides.
    */
  private def shortestPathsSql: String = {
    val rounds = 4
    val chain = (1 to rounds).map(i =>
      s"""d$i AS (
         |  SELECT node, MIN(d) AS d FROM (
         |    SELECT node, d FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, d${i - 1}.d + e.w AS d
         |    FROM d${i - 1} JOIN e ON d${i - 1}.node = e.src)
         |  GROUP BY 1)""".stripMargin).mkString(",\n")
    s"""WITH b AS (
       |  SELECT CAST(l_suppkey AS BIGINT) AS s,
       |    CAST(l_partkey AS BIGINT) + 10000000 AS p,
       |    MIN(CAST(l_quantity AS BIGINT)) AS w
       |  FROM lineitem GROUP BY 1, 2),
       |e AS (SELECT s AS src, p AS dst, w FROM b
       |      UNION ALL SELECT p AS src, s AS dst, w FROM b),
       |d0 AS (
       |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS node,
       |    CAST(0 AS BIGINT) AS d
       |  FROM lineitem WHERE l_suppkey < 5),
       |$chain
       |SELECT node, d AS cost FROM d$rounds""".stripMargin
  }

  /** Correlation-matrix oracle: the same decimal moment sums (exact
    * in any order) cast to double, then the SAME pinned IEEE Pearson
    * chain — generated for the same column list so the expression
    * trees match term for term.
    */
  private def corrMatrixSql: String = {
    val cs = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    def d(c: String) = s"CAST($c AS DECIMAL(18,2))"
    val sums = cs.map(c => s"CAST(SUM(${d(c)}) AS DOUBLE) AS s_$c") ++
      cs.map(c => s"CAST(SUM(${d(c)} * ${d(c)}) AS DOUBLE) AS q_$c") ++
      cs.combinations(2).map { case Seq(a, b) =>
        s"CAST(SUM(${d(a)} * ${d(b)}) AS DOUBLE) AS p_${a}_$b" }
    val rows = cs.combinations(2).map { case Seq(a, b) =>
      s"SELECT '$a' AS col_x, '$b' AS col_y, " +
        s"(n * p_${a}_$b - s_$a * s_$b) / " +
        s"(sqrt(n * q_$a - s_$a * s_$a) * sqrt(n * q_$b - s_$b * s_$b)) " +
        s"AS corr FROM m"
    }.mkString("\nUNION ALL\n")
    s"""WITH m AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    ${sums.mkString(",\n    ")}
       |  FROM lineitem
       |  WHERE ${cs.map(c => s"$c IS NOT NULL").mkString(" AND ")})
       |$rows""".stripMargin
  }

  /** Retrieval-eval oracle: q31's exact cosine ranking (same
    * sequential list_sum dot product, same (sim desc, id) tie-break)
    * minus self, scored with the SAME 9-dp decimal discount literals
    * the engine bakes in (one shared generator —
    * RetrievalEval.discountLiterals — so libm never runs on either
    * side), decimal-exact DCG/IDCG sums, one IEEE division each for
    * mrr and ndcg.
    */
  private def retrievalEvalSql: String = {
    val k = 10
    val disc = graft.operators.RetrievalEval.discountLiterals(k)
    val ideal = graft.operators.RetrievalEval.idealLiterals(k)
    val discCase = (1 to k).map(r =>
      s"WHEN $r THEN CAST('${disc(r - 1)}' AS DECIMAL(12,9))").mkString(" ")
    val idealCase = (1 to k).map(m =>
      s"WHEN $m THEN CAST('${ideal(m - 1)}' AS DECIMAL(22,9))").mkString(" ")
    val dot = "list_sum(list_transform(list_zip(c.embedding, q.qvec), " +
      "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    val norm = (v: String) => s"sqrt(list_sum(list_transform($v, " +
      "x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
    val sim = s"$dot / (${norm("c.embedding")} * ${norm("q.qvec")})"
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qvec, label AS qlabel
       |  FROM embeddings WHERE vec_id < 50),
       |ranked AS (
       |  SELECT q.query_id, q.qlabel, c.label AS clabel,
       |    ROW_NUMBER() OVER (PARTITION BY q.query_id
       |      ORDER BY $sim DESC, c.vec_id ASC) AS r
       |  FROM embeddings c CROSS JOIN q
       |  WHERE c.vec_id <> q.query_id),
       |per AS (
       |  SELECT query_id, qlabel,
       |    CAST(SUM(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_rel,
       |    MIN(CASE WHEN clabel = qlabel THEN r END) AS first_rel,
       |    SUM(CASE WHEN clabel = qlabel THEN CASE r $discCase END
       |        ELSE CAST('0.000000000' AS DECIMAL(12,9)) END) AS dcg
       |  FROM ranked WHERE r <= $k GROUP BY 1, 2),
       |lf AS (SELECT label, COUNT(*) AS lc FROM embeddings GROUP BY 1)
       |SELECT query_id, n_rel,
       |  CASE WHEN first_rel IS NULL THEN CAST(0 AS DOUBLE)
       |    ELSE CAST(1 AS DOUBLE) / CAST(first_rel AS DOUBLE) END AS mrr,
       |  CASE WHEN idcg IS NULL THEN CAST(0 AS DOUBLE)
       |    ELSE CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE) END AS ndcg
       |FROM (
       |  SELECT per.*, CASE LEAST($k, lf.lc - 1) $idealCase END AS idcg
       |  FROM per JOIN lf ON per.qlabel = lf.label)""".stripMargin
  }

  /** Curriculum oracle: the q95 token formula, the negPairsSql
    * nibble-sum shard hash, a per-shard rank and the integer
    * interleave — all BIGINT.
    */
  private def curriculumSql: String = {
    val hexval = (0 until 6).map(i =>
      s"CAST((strpos('0123456789abcdef', substr(h, ${i + 1}, 1)) - 1) " +
        s"AS BIGINT) * ${1L << (4 * (5 - i))}").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN LENGTH(text) = 0 THEN 0
       |      ELSE LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 END
       |      AS BIGINT) AS n_tokens,
       |    md5(CAST(doc_id AS VARCHAR) || ':cur_v1') AS h
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, n_tokens, ($hexval) % 8 AS shard FROM tok),
       |r AS (
       |  SELECT doc_id, shard,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY shard
       |      ORDER BY n_tokens, doc_id) AS BIGINT) AS rk
       |  FROM sh)
       |SELECT doc_id, shard, (rk - 1) * 8 + shard + 1 AS position
       |FROM r""".stripMargin
  }

  /** Negative-sampling oracle: the same md5-ring arithmetic spelled
    * in SQL — rank ring via the q137 global-window form, 24-bit
    * draw value via the strpos nibble sum (≡ Spark's conv of the
    * 6-char hex prefix), ring distance 1 + (v mod (N-1)).
    */
  private def negPairsSql: String = {
    val hexval = (0 until 6).map(i =>
      s"CAST((strpos('0123456789abcdef', substr(h, ${i + 1}, 1)) - 1) " +
        s"AS BIGINT) * ${1L << (4 * (5 - i))}").mkString(" + ")
    s"""WITH r AS (
       |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY
       |    md5(CAST(doc_id AS VARCHAR) || ':negs_v1'), doc_id)
       |    AS BIGINT) AS o
       |  FROM documents),
       |nn AS (SELECT COUNT(*) AS n FROM r),
       |probe AS (
       |  SELECT doc_id, o, CAST(j AS BIGINT) AS j, n,
       |    md5(CAST(doc_id AS VARCHAR) || ':negs_v1:neg:' ||
       |        CAST(j AS VARCHAR)) AS h
       |  FROM r, nn, generate_series(1, 3) AS gs(j))
       |SELECT p.doc_id, p.j, r2.doc_id AS neg_id
       |FROM (SELECT doc_id, j,
       |        ((o - 1 + 1 + (($hexval) % (n - 1))) % n) + 1 AS po
       |      FROM probe) p
       |JOIN r r2 ON p.po = r2.o""".stripMargin
  }

  /** k-core oracle: the bounded-round contract unrolled — a0 is all
    * nodes, each a_i keeps nodes with ≥ k neighbors inside a_{i-1}
    * (both endpoints alive), the final select reports degrees within
    * the round-R survivor-induced subgraph. Rounds ≥ the measured
    * peel depth (4 at sf0.01), so this equals the true 3-core; the
    * engine's early exit makes the overshoot free.
    */
  private def kcoreSql: String = {
    val rounds = 8
    val chain = (1 to rounds).map(i =>
      s"""a$i AS (
         |  SELECT src AS node FROM e
         |  WHERE src IN (SELECT node FROM a${i - 1})
         |    AND dst IN (SELECT node FROM a${i - 1})
         |  GROUP BY 1 HAVING COUNT(*) >= 3)""".stripMargin).mkString(",\n")
    s"""WITH b AS (
       |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
       |    CAST(l_partkey AS BIGINT) + 10000000 AS p
       |  FROM lineitem WHERE l_quantity <= 2),
       |e AS (SELECT s AS src, p AS dst FROM b
       |      UNION SELECT p AS src, s AS dst FROM b),
       |a0 AS (SELECT DISTINCT src AS node FROM e),
       |$chain
       |SELECT src AS node, COUNT(*) AS core_degree FROM e
       |WHERE src IN (SELECT node FROM a$rounds)
       |  AND dst IN (SELECT node FROM a$rounds)
       |GROUP BY 1""".stripMargin
  }

  /** Z-order oracle: identical double quantization arithmetic (IEEE
    * ops in the same order on both engines — bit-exact), Morton
    * interleave spelled as a generated 20-term shift/mask sum
    * mirroring TextExpressions.InterleaveBitsExpr, ntile with the same
    * (zval, c_custkey) total order.
    */
  private def zorderSql: String = {
    val interleave = (0 until 10).map(b =>
      s"(((zx >> $b) & 1) << ${2 * b}) + (((zy >> $b) & 1) << ${2 * b + 1})")
      .mkString(" + ")
    s"""WITH pts AS (
       |  SELECT c_custkey, c_acctbal / 200.0 AS lat,
       |    CAST(c_custkey % 360 AS DOUBLE) - 180.0 AS lon
       |  FROM customer),
       |cells AS (
       |  SELECT c_custkey, lat, lon,
       |    LEAST(GREATEST(CAST(FLOOR((lon - (-180.0)) / 360.0 * 1024) AS BIGINT), 0), 1023) AS zx,
       |    LEAST(GREATEST(CAST(FLOOR((lat - (-5.0)) / 55.0 * 1024) AS BIGINT), 0), 1023) AS zy
       |  FROM pts),
       |z AS (SELECT c_custkey, lat, lon, CAST($interleave AS BIGINT) AS zval
       |  FROM cells)
       |SELECT c_custkey, lat, lon, zval,
       |  NTILE(64) OVER (ORDER BY zval, c_custkey) AS bucket
       |FROM z""".stripMargin
  }

  /** BPE training oracle: the R-round merge loop unrolled as chained
    * CTEs. Words are marker-wrapped symbol strings (chr(1) sym
    * chr(2) …); each round takes the (count DESC, l, r) argmax over
    * adjacent-pair counts and fuses it with one replace() — SQL
    * replace scans left-to-right and resumes after each replacement,
    * the exact greedy non-overlap rule, identical in both engines
    * (see BpePairs.learnMerges).
    */
  private def bpeCtes(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""p$i AS (
         |  SELECT s[i] AS l, s[i+1] AS r, CAST(SUM(f) AS BIGINT) AS n
         |  FROM (SELECT string_split(substr(w, 2, length(w) - 2),
         |          chr(2) || chr(1)) AS s, f FROM w${i - 1}),
         |    UNNEST(range(1, len(s))) AS u(i)
         |  GROUP BY 1, 2),
         |t$i AS (SELECT l, r, n FROM p$i ORDER BY n DESC, l, r LIMIT 1),
         |w$i AS (
         |  SELECT replace(w, chr(1) || l || chr(2) || chr(1) || r || chr(2),
         |    chr(1) || l || r || chr(2)) AS w, f
         |  FROM w${i - 1}, t$i)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (
       |  SELECT regexp_replace(x, '(.)', chr(1) || '\\1' || chr(2), 'g') AS w,
       |    CAST(COUNT(*) AS BIGINT) AS f
       |  FROM documents, UNNEST(list_filter(
       |    regexp_split_to_array(lower(text), '\\s+'), t -> len(t) >= 2))
       |    AS u(x)
       |  GROUP BY 1),
       |$steps""".stripMargin
  }

  private def bpeSql(rounds: Int): String = {
    val out = (1 to rounds).map { i =>
      s"SELECT $i AS round, l AS left_sym, r AS right_sym, n AS pair_count FROM t$i"
    }.mkString("\n UNION ALL ")
    s"WITH ${bpeCtes(rounds)}\n$out"
  }

  /** q262 oracle: replay the learned merges over every document —
    * wrap each non-space char (whitespace stays between symbols, so
    * merges cannot cross word boundaries), apply the R replaces in
    * training order, count closing markers.
    */
  private def bpeEncodeSql(rounds: Int): String = {
    val wrapped =
      "regexp_replace(lower(text), '(\\S)', chr(1) || '\\1' || chr(2), 'g')"
    val encoded = (1 to rounds).foldLeft(wrapped) { (acc, i) =>
      s"replace($acc,\n      chr(1) || m$i.l || chr(2) || chr(1) || m$i.r || chr(2)," +
        s" chr(1) || m$i.l || m$i.r || chr(2))"
    }
    val froms = (1 to rounds).map(i => s"t$i m$i").mkString(", ")
    s"""WITH ${bpeCtes(rounds)},
       |enc AS (
       |  SELECT doc_id, $encoded AS w,
       |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)
       |      AS n_chars
       |  FROM documents, $froms)
       |SELECT doc_id,
       |  CAST(length(w) - length(replace(w, chr(2), '')) AS BIGINT)
       |    AS n_tokens_bpe,
       |  n_chars,
       |  CASE WHEN length(w) - length(replace(w, chr(2), '')) = 0 THEN NULL
       |    ELSE ROUND(CAST(n_chars AS DOUBLE)
       |      / CAST(length(w) - length(replace(w, chr(2), '')) AS DOUBLE), 6)
       |    END AS chars_per_token
       |FROM enc""".stripMargin
  }

  /** Label-propagation oracle: the synchronous recurrence unrolled as
    * chained CTEs over the q113 near-dup pair generator (both edge
    * directions). Tie break mirrors the operator exactly: highest
    * neighbor-label count, then smallest label (ROW_NUMBER ordered
    * count DESC, label ASC).
    */
  private def lpaSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (SELECT dst AS node, label FROM (
         |    SELECT e.dst, l.label, COUNT(*) AS c,
         |      ROW_NUMBER() OVER (PARTITION BY e.dst
         |        ORDER BY COUNT(*) DESC, l.label ASC) AS rn
         |    FROM e JOIN r${i - 1} l ON e.src = l.node
         |    GROUP BY e.dst, l.label) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
       |  FROM documents WHERE doc_id < 500),
       |pairs AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b
       |  FROM toks a JOIN toks b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
       |      / CAST(len(list_distinct(a.t || b.t)) AS DOUBLE) >= 0.9),
       |e AS (SELECT a AS src, b AS dst FROM pairs
       |  UNION ALL SELECT b, a FROM pairs),
       |r0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
       |$rounds
       |SELECT node, label FROM r$iters""".stripMargin
  }

  /** PageRank oracle: the 8-round recurrence unrolled as chained CTEs
    * (portable — no aggregation over a recursive reference needed).
    * Mirrors PageRank.microPageRank exactly: ALL-INTEGER fixed-point
    * arithmetic (micro-rank longs, floor division), so there is no
    * rounding or representation to disagree on — see the operator's
    * scaladoc for why float variants cross-engine-drift. `//` vs
    * Spark's `div`: both truncate toward zero; all values positive.
    */
  private def pagerankSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (SELECT n.node,
         |    CAST(150000 + (CAST(85 AS BIGINT) * COALESCE(s.sc, 0)) // 100
         |      AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, SUM(p.r // o.outdeg) AS sc
         |    FROM e JOIN r${i - 1} p ON e.src = p.node
         |    JOIN outd o ON e.src = o.src
         |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
       |  CAST(l_partkey AS BIGINT) + 10000000 AS p FROM lineitem),
       |e AS (SELECT s AS src, p AS dst FROM b UNION ALL SELECT p, s FROM b),
       |outd AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |$rounds,
       |${convergenceCtes(iters, checkEvery = 4)}
       |SELECT node, r AS micro_rank, rr.rounds_run FROM r$iters, rr""".stripMargin
  }

  /** The engine's convergence stop test replayed over the unrolled
    * rounds: rounds_run = the first CHECKED round (multiples of the
    * engine's `convergeCheckEvery` cadence, final round excluded —
    * the engine never tests it) whose rank frame equals its
    * predecessor's (ranks are exact integers — no epsilon), else the
    * full round count. The final rank SELECT stays r_iters: a fixed
    * point at any checked round pins every later round to the same
    * values, so the engine's early-stopped frame and the oracle's
    * fully-unrolled one are bit-identical by construction.
    */
  private def convergenceCtes(iters: Int, checkEvery: Int): String = {
    val checked = (1 until iters).filter(_ % checkEvery == 0)
    require(checked.nonEmpty,
      s"convergenceCtes($iters, $checkEvery): no checked round before " +
        "the final one — the engine never tests at this cadence and " +
        "'chg AS ()' would not parse; drop the rounds_run mirror or " +
        "lower the cadence")
    val chg = checked.map { i =>
      s"""SELECT $i AS i, (SELECT COUNT(*) FROM r$i a
         |    JOIN r${i - 1} b ON a.node = b.node AND a.r <> b.r) AS c""".stripMargin
    }.mkString(" UNION ALL\n")
    s"""chg AS ($chg),
       |rr AS (SELECT CAST(COALESCE(MIN(CASE WHEN c = 0 THEN i END),
       |  $iters) AS INTEGER) AS rounds_run FROM chg)""".stripMargin
  }

  /** q332 oracle: the planted fast-converging fixture — a directed
    * ring over the customer keys (outdeg = indeg = 1 everywhere), so
    * round 1 reproduces round 0 exactly (150000 + 85·10⁶ div 100 =
    * 10⁶) and the replayed stop test reads rounds_run = 1 while the
    * unrolled r8 carries the same values.
    */
  private def pagerankRingSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (SELECT n.node,
         |    CAST(150000 + (CAST(85 AS BIGINT) * COALESCE(s.sc, 0)) // 100
         |      AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, SUM(p.r // o.outdeg) AS sc
         |    FROM e JOIN r${i - 1} p ON e.src = p.node
         |    JOIN outd o ON e.src = o.src
         |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS src FROM customer),
       |e AS (SELECT src, COALESCE(LEAD(src) OVER (ORDER BY src),
       |  (SELECT MIN(src) FROM c)) AS dst FROM c),
       |outd AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |$rounds,
       |${convergenceCtes(iters, checkEvery = 1)}
       |SELECT node, r AS micro_rank, rr.rounds_run FROM r$iters, rr""".stripMargin
  }

  /** Bootstrap-CI oracle: the same md5 draw arithmetic (nibble sum ≡
    * conv) with n as a scalar subquery (scale-free), the same exact
    * decimal resample sums, one division per mean, and the q149
    * discrete selection at the same precomputed positions.
    */
  private def bootstrapSql: String = {
    val b = 200
    val hexval = (0 until 6).map(i =>
      s"CAST((strpos('0123456789abcdef', substr(h, ${i + 1}, 1)) - 1) " +
        s"AS BIGINT) * ${1L << (4 * (5 - i))}").mkString(" + ")
    def pos(p: Int) = (p * b + 99) / 100
    s"""WITH rev AS (
       |  SELECT o_custkey,
       |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y0
       |  FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
       |  GROUP BY 1),
       |units AS (
       |  SELECT CAST(c_custkey AS BIGINT) AS idx,
       |    CAST(COALESCE(y0, 0) AS DECIMAL(18,2)) AS y
       |  FROM customer LEFT JOIN rev ON c_custkey = rev.o_custkey),
       |nn AS (SELECT COUNT(*) AS n FROM units),
       |draws AS (
       |  SELECT g.b, u.idx AS slot
       |  FROM generate_series(0, ${b - 1}) g(b) CROSS JOIN units u),
       |picked AS (
       |  SELECT b, ($hexval) % nn.n AS idx
       |  FROM (SELECT b, slot,
       |          md5('boot_v1:' || CAST(b AS VARCHAR) || ':' ||
       |              CAST(slot AS VARCHAR)) AS h
       |        FROM draws), nn),
       |means AS (
       |  SELECT b,
       |    CAST(SUM(u.y) AS DOUBLE) / CAST(nn.n AS DOUBLE) AS m
       |  FROM picked JOIN units u USING (idx), nn
       |  GROUP BY b, nn.n),
       |ranked AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS rn
       |           FROM means)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_resamples,
       |  MIN(CASE WHEN rn = ${pos(3)} THEN m END) AS ci_lo,
       |  MIN(CASE WHEN rn = ${pos(50)} THEN m END) AS boot_median,
       |  MIN(CASE WHEN rn = ${pos(98)} THEN m END) AS ci_hi
       |FROM ranked""".stripMargin
  }

  /** Personalized-PageRank oracle: q109's unrolled integer rounds
    * with the base term seed-gated (seeds = suppliers 0-4) and r0
    * nonzero only on seeds.
    */
  private def pprSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (SELECT n.node,
         |    CAST((CASE WHEN n.node < 5 THEN 150000 ELSE 0 END) +
         |      (CAST(85 AS BIGINT) * COALESCE(s.sc, 0)) // 100
         |      AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, SUM(p.r // o.outdeg) AS sc
         |    FROM e JOIN r${i - 1} p ON e.src = p.node
         |    JOIN outd o ON e.src = o.src
         |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
       |  CAST(l_partkey AS BIGINT) + 10000000 AS p FROM lineitem),
       |e AS (SELECT s AS src, p AS dst FROM b UNION ALL SELECT p, s FROM b),
       |outd AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |r0 AS (SELECT node,
       |  CAST(CASE WHEN node < 5 THEN 1000000 ELSE 0 END AS BIGINT) AS r
       |  FROM nodes),
       |$rounds,
       |${convergenceCtes(iters, checkEvery = 3)}
       |SELECT node, r AS micro_rank, rr.rounds_run FROM r$iters, rr""".stripMargin
  }

  /** Decimal-carried exact sum, surfaced as double (see RelationalQueries). */
  private def dsum(c: String): String =
    s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsum("l_quantity")} AS sum_qty,
         |  ${dsum("l_extendedprice")} AS sum_base_price,
         |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS sum_disc_price,
         |  ${dsum("l_quantity")}/COUNT(*) AS avg_qty,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_global_stats" ->
      s"""SELECT ${dsum("o_totalprice")}/COUNT(o_totalprice) AS avg_price,
         |  COUNT(*) AS n_orders FROM orders""".stripMargin,
    "q03_group_count" ->
      "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
    "q04_range_bucket" ->
      """SELECT CAST(FLOOR("value"/50.0) AS BIGINT) AS bucket, event_type,
        |  COUNT(*) AS n FROM events GROUP BY 1, 2""".stripMargin,
    "q05_count_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
        |  COUNT(*) AS n_events FROM events GROUP BY event_type""".stripMargin,
    "q06_minmax" ->
      """SELECT c_nationkey, MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal,
        |  COUNT(*) AS n_customers FROM customer GROUP BY c_nationkey""".stripMargin,
    "q07_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'""".stripMargin,
    "q08_scalar_expr" ->
      """SELECT event_id,
        |  COALESCE(TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER), -1) AS k_value,
        |  CAST(FLOOR("value") AS BIGINT) AS value_floor FROM events""".stripMargin,
    "q09_string_funcs" ->
      """SELECT c_custkey, UPPER(c_name) AS name_upper,
        |  SUBSTRING(c_name, 1, 8) AS name_prefix,
        |  CAST(LENGTH(c_name) AS INTEGER) AS name_len,
        |  NULLIF(TRIM(c_mktsegment), '') AS segment FROM customer""".stripMargin,
    "q10_date_parts" ->
      s"""SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS o_year,
         |  CAST(MONTH(o_orderdate) AS INTEGER) AS o_month,
         |  COUNT(*) AS n, ${dsum("o_totalprice")} AS sum_price
         |FROM orders GROUP BY 1, 2""".stripMargin,
    "q11_join_star" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q12_semi_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,
    "q13_anti_join" ->
      """SELECT c_custkey, c_acctbal FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,
    "q14_nearest_join" ->
      """SELECT c_custkey, s_suppkey AS nearest_suppkey, bal_dist FROM (
        |  SELECT c_custkey, s_suppkey, ABS(c_acctbal - s_acctbal) AS bal_dist,
        |    ROW_NUMBER() OVER (PARTITION BY c_custkey
        |      ORDER BY ABS(c_acctbal - s_acctbal) ASC, s_suppkey ASC) AS rn
        |  FROM customer JOIN supplier ON c_nationkey = s_nationkey
        |) WHERE rn = 1""".stripMargin,
    "q15_window_top1" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders
        |) WHERE rn = 1""".stripMargin,
    "q16_running_sum" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_orderkey ORDER BY l_linenumber
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        |FROM lineitem""".stripMargin,
    "q17_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin,
    "q18_union" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION SELECT s_nationkey FROM supplier""".stripMargin,
    "q19_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT s_nationkey FROM supplier""".stripMargin,
    "q20_except" ->
      """SELECT n_nationkey AS nationkey FROM nation
        |EXCEPT SELECT s_nationkey FROM supplier""".stripMargin,
    "q21_risk_case" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(score AS INTEGER) AS risk_score,
        |  CASE WHEN score >= 60 THEN 'HIGH' WHEN score >= 30 THEN 'MEDIUM'
        |       ELSE 'LOW' END AS risk_category
        |FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    (CASE WHEN l_quantity*2.0 >= 95 THEN 40 ELSE 0 END)
        |    + (CASE WHEN l_extendedprice/1000.0 > 80 THEN 25
        |            WHEN l_extendedprice/1000.0 > 50 THEN 10 ELSE 0 END)
        |    + (CASE WHEN l_discount*100.0 > 5 THEN 20
        |            WHEN l_discount*100.0 > 0 THEN 10 ELSE 0 END)
        |    + (CASE WHEN (l_partkey % 5000) < 1000 THEN 20
        |            WHEN (l_partkey % 5000) < 3000 THEN 10 ELSE 0 END)
        |    + (CASE WHEN l_tax*1000.0 > 80 THEN 10
        |            WHEN l_tax*1000.0 > 50 THEN 5 ELSE 0 END)
        |    + (CASE WHEN NOT (l_returnflag = 'R') AND l_suppkey < 300 THEN 15
        |            ELSE 0 END) AS score
        |  FROM lineitem)""".stripMargin,
    "q22_text_tokens" ->
      """SELECT doc_id, lang,
        |  CAST(CASE WHEN LENGTH(text) = 0 THEN 0
        |    ELSE LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 END AS INTEGER) AS n_tokens
        |FROM documents""".stripMargin,
    "q23_lang_profile" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(CASE WHEN LENGTH(text) = 0 THEN 0
        |    ELSE LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 END) AS BIGINT) AS sum_tokens
        |FROM documents GROUP BY lang""".stripMargin,
    // full text-analysis stack, mirrored column by column:
    // - quality: q81's op-for-op float algebra
    // - lang_pred: marker-token counts; Spark's greatest(struct(score,
    //   lang)) tie-breaks to the lexicographically GREATEST lang, so
    //   the CASE tests langs in descending order
    // - fingerprint: the portable md5 rolling hash — HUGEINT fold
    //   (a·P + md5_number_lower(tok)) mod 2^64, re-signed at the end
    //   (two's-complement wrap ≡ unsigned mod 2^64)
    // - n_subwords: Java's lookaround split has no RE2 form, but two
    //   regexp_replace passes inserting a space at each letter↔other
    //   transition split identically (adjacent transitions alternate
    //   direction, so each pass's matches never overlap)
    "q24_text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    CAST(LENGTH(text) AS DOUBLE) AS len,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) AS npunct,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) AS nupper,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, text, len, toks,
        |    CASE WHEN len = 0 THEN 0.0 ELSE npunct / len END AS punct_ratio,
        |    CASE WHEN len = 0 THEN 0.0 ELSE nupper / len END AS upper_ratio,
        |    CAST(len(toks) AS DOUBLE) AS n,
        |    CAST(len(list_filter(toks,
        |      x -> x IN ('the','and','of','to','a','in','is','it'))) AS DOUBLE) AS stops,
        |    len(list_filter(toks, x -> x IN ('der','die','und','ist'))) AS s_de,
        |    len(list_filter(toks, x -> x IN ('the','and','of','is'))) AS s_en,
        |    len(list_filter(toks, x -> x IN ('el','la','y','es'))) AS s_es,
        |    len(list_filter(toks, x -> x IN ('le','la','et','est'))) AS s_fr,
        |    len(list_filter(toks, x -> x IN ('的','是','了','在'))) AS s_zh,
        |    list_reduce(list_prepend(CAST(1469598103934665603 AS HUGEINT),
        |      list_transform(toks, x -> CAST(md5_number_lower(x) AS HUGEINT))),
        |      (a, b) -> (a * 1099511628211 + b) % 18446744073709551616) AS fp_u
        |  FROM t)
        |SELECT doc_id,
        |  ROUND(
        |    (CASE WHEN len < 20 THEN len/20.0
        |          WHEN len > 5000 THEN greatest(0.0, 1.0 - (len-5000)/20000.0)
        |          ELSE 1.0 END) * 0.3
        |  + greatest(0.0, 1.0 - punct_ratio * 4.0) * 0.25
        |  + greatest(0.0, 1.0 - upper_ratio * 3.0) * 0.2
        |  + least(1.0, (CASE WHEN n = 0 THEN 0.0 ELSE stops/n END) * 5.0 + 0.4) * 0.25,
        |  6) AS quality,
        |  CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
        |       WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
        |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
        |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
        |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
        |       ELSE 'de' END AS lang_pred,
        |  CAST(CASE WHEN fp_u >= CAST(9223372036854775808 AS HUGEINT)
        |       THEN fp_u - CAST(18446744073709551616 AS HUGEINT)
        |       ELSE fp_u END AS BIGINT) AS fingerprint,
        |  CAST(len(list_filter(regexp_split_to_array(
        |    regexp_replace(regexp_replace(text,
        |      '([a-zA-Z])([^a-zA-Z\s])', '\1 \2', 'g'),
        |      '([^a-zA-Z\s])([a-zA-Z])', '\1 \2', 'g'),
        |    '\s+'), x -> len(x) > 0)) AS INTEGER) AS n_subwords
        |FROM r""".stripMargin,
    "q25_dedup_exact" ->
      """SELECT sha256(text) AS text_sha, MIN(doc_id) AS keep_id,
        |  COUNT(*) AS n_copies FROM documents GROUP BY 1""".stripMargin,
    // Portable MinHash at the q26 near-dup parameterization (64 hashes,
    // 8 bands × 8 rows, 3-word shingles, J ≥ 0.8) over the FULL corpus:
    // the oracle mirrors the band predicate with the same group-by-
    // band-key shape (q125's recipe — nothing quadratic), then the
    // exact-Jaccard verify.
    "q26_dedup_minhash" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
        |    i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS toks
        |  FROM tk WHERE len(tk) >= 3),
        |tok AS (SELECT doc_id, unnest(toks) AS term FROM sh),
        |mh AS (
        |  SELECT doc_id, j.j AS j,
        |    MIN((((j.j + 1) * 2654435761 % 2147483647)
        |         * (('0x' || substr(md5(term), 1, 15))::BIGINT % 2147483647)
        |         + j.j * 40503 + 12345) % 2147483647) AS mh
        |  FROM tok CROSS JOIN (SELECT unnest(range(64)) AS j) j
        |  GROUP BY doc_id, j.j),
        |bands AS (
        |  SELECT doc_id, CAST(j // 8 AS INTEGER) AS band,
        |    string_agg(CAST(mh AS VARCHAR), '|' ORDER BY j) AS band_key
        |  FROM mh GROUP BY doc_id, j // 8),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_key = b.band_key
        |    AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        |  ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |    / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE), 6)
        |    AS jaccard_sim
        |FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |  / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) >= 0.8""".stripMargin,
    // Portable SimHash over the FULL corpus: banding is lossless by
    // pigeonhole (4 bands > 3 = maxHamming), so the oracle states the
    // output in closed form — every pair at Hamming ≤ 3 over the
    // md5-nibble 60-bit fingerprint (q105's recipe, unbounded).
    "q27_dedup_simhash" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0)) AS term
        |  FROM documents),
        |h AS (SELECT doc_id, md5(term) AS hex FROM tok),
        |b AS (
        |  SELECT doc_id, p.p AS p,
        |    CASE WHEN SUM(2 * (CAST(floor(
        |        (strpos('0123456789abcdef',
        |           substr(hex, CAST(p.p // 4 AS INTEGER) + 1, 1)) - 1)
        |        / power(2, 3 - p.p % 4)) AS BIGINT) % 2) - 1) > 0
        |      THEN 1 ELSE 0 END AS bit
        |  FROM h CROSS JOIN (SELECT unnest(range(60)) AS p) p
        |  GROUP BY doc_id, p.p),
        |fp AS (SELECT doc_id,
        |         CAST(SUM(bit * (CAST(1 AS BIGINT) << CAST(p AS INTEGER)))
        |           AS BIGINT) AS fp
        |       FROM b GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
        |  CAST(bit_count(xor(a.fp, b2.fp)) AS BIGINT) AS hamming
        |FROM fp a JOIN fp b2 ON a.doc_id < b2.doc_id
        |WHERE bit_count(xor(a.fp, b2.fp)) <= 3""".stripMargin,
    "q28_jaccard_pairs" ->
      """SELECT id_a, id_b, ROUND(jaccard_sim, 6) AS jaccard_sim FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) AS jaccard_sim
        |  FROM (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        |        FROM documents WHERE doc_id < 500) a
        |  JOIN (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        |        FROM documents WHERE doc_id < 500) b
        |    ON a.doc_id < b.doc_id
        |) WHERE jaccard_sim >= 0.5""".stripMargin,
    // Portable sign-LSH at the q29 parameterization (6 md5-derived ±1
    // planes, multi-probe ⇔ Hamming(bucket) ≤ 2, cosine ≥ 0.4) — q126's
    // oracle recipe with range(6).
    "q29_dedup_embedding" ->
      """WITH planes AS (
        |  SELECT h.h AS h, list_transform(range(64), d ->
        |    CASE WHEN strpos('0123456789abcdef',
        |        substr(md5(CAST(h.h AS VARCHAR) || ':' || CAST(d AS VARCHAR)),
        |          1, 1)) - 1 >= 8
        |      THEN 1.0 ELSE -1.0 END) AS w
        |  FROM (SELECT unnest(range(6)) AS h) h),
        |proj AS (
        |  SELECT e.vec_id, p.h,
        |    list_sum(list_transform(list_zip(e.embedding, p.w),
        |      x -> CAST(x[1] AS DOUBLE) * x[2])) AS s
        |  FROM embeddings e CROSS JOIN planes p),
        |bkt AS (
        |  SELECT vec_id,
        |    CAST(SUM(CASE WHEN s >= 0
        |      THEN CAST(1 AS BIGINT) << CAST(h AS INTEGER)
        |      ELSE 0 END) AS BIGINT) AS b
        |  FROM proj GROUP BY vec_id),
        |cand AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM bkt a JOIN bkt b
        |    ON a.vec_id < b.vec_id AND bit_count(xor(a.b, b.b)) <= 2)
        |SELECT id_a, id_b, ROUND(sim, 6) AS cosine_sim FROM (
        |  SELECT c.id_a, c.id_b,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(b.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
        |  FROM cand c JOIN embeddings a ON a.vec_id = c.id_a
        |    JOIN embeddings b ON b.vec_id = c.id_b
        |) WHERE sim >= 0.4""".stripMargin,
    // q63 (IVF, nprobe=nlist) is exact by construction → must reproduce
    // the brute-force result bit-for-bit, so it shares q31's oracle.
    "q31_knn_bruteforce" -> knnBruteForceSql,
    "q63_knn_ivf_exact" -> knnBruteForceSql,
    // Portable IVF with REAL pruning (nprobe 3 of nlist 8): centroids
    // are the 8 vectors ranked first by (md5(id ":ivf_v1"), id); the
    // oracle replays cell assignment, probe ranking and the pruned
    // top-k with the same in-order float folds and (dist, cell) /
    // (sim desc, id) tie-breaks as the engine kernels.
    "q32_knn_ivf" ->
      """WITH cent AS (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY
        |      md5(CAST(vec_id AS VARCHAR) || ':ivf_v1'), vec_id) AS INTEGER)
        |      - 1 AS cell,
        |    embedding AS cvec
        |  FROM embeddings
        |  QUALIFY ROW_NUMBER() OVER (ORDER BY
        |    md5(CAST(vec_id AS VARCHAR) || ':ivf_v1'), vec_id) <= 8),
        |asg AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_sum(list_transform(list_zip(e.embedding, c.cvec),
        |          x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |             * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) ASC,
        |        c.cell ASC) AS rn
        |    FROM embeddings e CROSS JOIN cent c)
        |  WHERE rn = 1),
        |qs AS (SELECT vec_id AS query_id, embedding AS qvec
        |       FROM embeddings WHERE vec_id < 5),
        |probe AS (
        |  SELECT query_id, cell FROM (
        |    SELECT q.query_id, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        |        list_sum(list_transform(list_zip(q.qvec, c.cvec),
        |          x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |             * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) ASC,
        |        c.cell ASC) AS rn
        |    FROM qs q CROSS JOIN cent c)
        |  WHERE rn <= 3),
        |sc AS (
        |  SELECT p.query_id, a.vec_id,
        |    list_sum(list_transform(list_zip(e.embedding, q.qvec),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(q.qvec,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
        |  FROM probe p JOIN asg a ON a.cell = p.cell
        |    JOIN embeddings e ON e.vec_id = a.vec_id
        |    JOIN qs q ON q.query_id = p.query_id)
        |SELECT query_id, vec_id, ROUND(sim, 6) AS cosine_sim,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, vec_id ASC) AS INTEGER) AS rank
        |FROM sc
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
        |  ORDER BY sim DESC, vec_id ASC) <= 10""".stripMargin,
    // The deterministic slice of the stub decoder, replayed byte-for-
    // byte from the text (printable-ASCII corpus ⇒ chars ≡ UTF-8
    // bytes): width/height from the first two bytes, frames from byte
    // length, mean intensity = Σbytes/n (integer-valued double sum —
    // order-independent and exact).
    "q39_media_features" ->
      """WITH ch AS (
        |  SELECT doc_id, SUM(ascii(substr(text, CAST(i AS INTEGER), 1))) AS s,
        |    COUNT(*) AS n
        |  FROM documents, UNNEST(range(1, len(text) + 1)) t(i)
        |  GROUP BY doc_id)
        |SELECT d.doc_id, d.source,
        |  CAST(1 + (CASE WHEN len(d.text) > 0
        |    THEN ascii(substr(d.text, 1, 1)) ELSE 0 END) % 64 AS INTEGER)
        |    AS width,
        |  CAST(1 + (CASE WHEN len(d.text) > 1
        |    THEN ascii(substr(d.text, 2, 1)) ELSE 0 END) % 64 AS INTEGER)
        |    AS height,
        |  CAST(1 + len(d.text) % 4 AS INTEGER) AS n_frames,
        |  ROUND(COALESCE(CAST(c.s AS DOUBLE) / c.n, 0.0), 6) AS mean_intensity
        |FROM documents d LEFT JOIN ch c USING (doc_id)""".stripMargin,
    "q93_embedding_verify" -> embeddingVerifySql,
    // deterministic md5-hex split/sampling: thresholds are
    // floor(frac*65536) as 4 hex digits, compared lexicographically
    // (0.8→cccc, 0.9→e666, 0.5→8000, 0.25→4000)
    "q94_hash_split" ->
      """SELECT doc_id, lang,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split_v1'), 1, 4) < 'cccc' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split_v1'), 1, 4) < 'e666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    "q95_sequence_packing" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN LENGTH(text) = 0 THEN 0
        |      ELSE LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 END AS BIGINT) AS n_tokens
        |  FROM documents),
        |offs AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        |  FROM tok)
        |SELECT doc_id, n_tokens, start_offset,
        |  CAST(FLOOR(start_offset / 512.0) AS BIGINT) AS pack_id
        |FROM offs""".stripMargin,
    "q96_repetition_stats" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  ROUND(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END, 6) AS distinct_ratio,
        |  ROUND(CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE CAST(list_max(list_transform(list_distinct(toks),
        |      w -> len(list_filter(toks, x -> x = w)))) AS DOUBLE) / len(toks) END, 6) AS top_token_frac,
        |  ROUND(CASE WHEN len(toks) <= 1 THEN 0.0
        |    ELSE 1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i + 1]))) AS DOUBLE) / (len(toks) - 1) END, 6) AS dup_bigram_ratio
        |FROM t""".stripMargin,
    "q97_pii_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        text || ' contact user' || CAST(doc_id AS VARCHAR)
        |          || '@mail.example.com or https://site' || CAST(doc_id AS VARCHAR)
        |          || '.example/p?x=1 ref 9021077' || CAST(doc_id AS VARCHAR),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      'https?://[^\s]+', '<URL>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g') AS scrubbed
        |FROM documents""".stripMargin,
    "q98_stratified_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':strat_v1'), 1, 4) <
        |  CASE lang WHEN 'en' THEN '8000' WHEN 'zh' THEN '4000' ELSE 'g' END""".stripMargin,
    // q81's quality formula + (score DESC, id ASC) survivor per group
    "q99_best_per_group" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(FLOOR(n_chars / 100) AS BIGINT) AS len_band,
        |    CAST(LENGTH(text) AS DOUBLE) AS len,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) AS npunct,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) AS nupper,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, len_band, len,
        |    CASE WHEN len = 0 THEN 0.0 ELSE npunct / len END AS punct_ratio,
        |    CASE WHEN len = 0 THEN 0.0 ELSE nupper / len END AS upper_ratio,
        |    CAST(len(toks) AS DOUBLE) AS n,
        |    CAST(len(list_filter(toks,
        |      t -> t IN ('the','and','of','to','a','in','is','it'))) AS DOUBLE) AS stops
        |  FROM t),
        |q AS (
        |  SELECT doc_id, lang, len_band, ROUND(
        |      (CASE WHEN len < 20 THEN len/20.0
        |            WHEN len > 5000 THEN greatest(0.0, 1.0 - (len-5000)/20000.0)
        |            ELSE 1.0 END) * 0.3
        |    + greatest(0.0, 1.0 - punct_ratio * 4.0) * 0.25
        |    + greatest(0.0, 1.0 - upper_ratio * 3.0) * 0.2
        |    + least(1.0, (CASE WHEN n = 0 THEN 0.0 ELSE stops/n END) * 5.0 + 0.4) * 0.25,
        |    6) AS quality
        |  FROM r)
        |SELECT doc_id, lang, len_band, quality, n_candidates FROM (
        |  SELECT doc_id, lang, len_band, quality,
        |    ROW_NUMBER() OVER (PARTITION BY lang, len_band
        |      ORDER BY quality DESC, doc_id ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang, len_band) AS n_candidates
        |  FROM q) WHERE rn = 1""".stripMargin,
    "q100_mixture_weights" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    CAST(CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 ELSE 1 END
        |    + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':mix_v1'), 1, 4) <
        |        CASE source WHEN 'src0' THEN '8000' WHEN 'src1' THEN '8000' ELSE '0000' END
        |      THEN 1 ELSE 0 END AS BIGINT) AS n
        |  FROM documents)
        |SELECT doc_id, source, unnest(generate_series(1, n)) AS copy
        |FROM w WHERE n > 0""".stripMargin,
    // MinHash verify stage with blocking disabled: same tokenization as
    // the operator (lowercase, whitespace split, empties dropped,
    // distinct 1-shingles), exhaustive pairs, exact Jaccard.
    "q64_minhash_verify" ->
      """SELECT id_a, id_b, ROUND(jaccard_sim, 6) AS jaccard_sim FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) AS jaccard_sim
        |  FROM (SELECT doc_id, list_distinct(list_filter(
        |          regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0)) AS toks
        |        FROM documents WHERE doc_id < 500) a
        |  JOIN (SELECT doc_id, list_distinct(list_filter(
        |          regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0)) AS toks
        |        FROM documents WHERE doc_id < 500) b
        |    ON a.doc_id < b.doc_id
        |) WHERE jaccard_sim >= 0.5""".stripMargin,
    // BM25: tokenization identical to the dedup family (lowercase,
    // whitespace split, empties dropped, occurrences counted). Per-term
    // weights rounded to 6 dp and summed through DECIMAL(18,6), so the
    // score is partial-aggregation-order independent and absorbs any
    // libm-vs-JDK ln() ulp difference. All arithmetic mirrors the
    // operator's association order exactly (see TextSearch.bm25).
    "q103_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
        |stats AS (SELECT COUNT(*) AS n, SUM(dl) AS sum_dl FROM dl),
        |tfq AS (SELECT * FROM tf
        |        WHERE term IN ('spark', 'vector', 'stream', 'window')),
        |dft AS (SELECT term, COUNT(*) AS df FROM tfq GROUP BY 1)
        |SELECT q.doc_id AS doc_id, CAST(SUM(CAST(ROUND(
        |    ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
        |      * (q.tf * 2.2)
        |      / (q.tf + 1.2 * (0.25 + 0.75 * l.dl
        |           / (CAST(s.sum_dl AS DOUBLE) / CAST(s.n AS DOUBLE))))
        |  , 6) AS DECIMAL(18,6))) AS DOUBLE) AS bm25
        |FROM tfq q JOIN dft d USING (term) JOIN dl l USING (doc_id)
        |CROSS JOIN stats s
        |GROUP BY q.doc_id""".stripMargin,
    // TF-IDF restricted to the query vocabulary; N counts ALL docs
    // (the operator's docs.count), df counts docs containing the term.
    "q104_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |tfq AS (SELECT * FROM tf
        |        WHERE term IN ('spark', 'vector', 'stream', 'window')),
        |dft AS (SELECT term, COUNT(*) AS df FROM tfq GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT q.doc_id AS doc_id, q.term AS term,
        |  ROUND(CAST(q.tf AS DOUBLE)
        |    * ln(CAST(n.n AS DOUBLE) / CAST(d.df AS DOUBLE)), 6) AS tfidf
        |FROM tfq q JOIN dft d USING (term) CROSS JOIN n""".stripMargin,
    // Portable SimHash: the oracle recomputes the 60-bit md5-nibble
    // fingerprint from scratch (distinct lowercase whitespace tokens,
    // bit p = bit 3-p%4 of hex nibble p/4, majority vote with ties→0,
    // fp = Σ bit·2^p) and takes exhaustive Hamming ≤ 3 pairs; the
    // engine's banded join must equal it EXACTLY (pigeonhole).
    "q105_simhash_portable" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0)) AS term
        |  FROM documents WHERE doc_id < 300),
        |h AS (SELECT doc_id, md5(term) AS hex FROM tok),
        |b AS (
        |  SELECT doc_id, p.p AS p,
        |    CASE WHEN SUM(2 * (CAST(floor(
        |        (strpos('0123456789abcdef',
        |           substr(hex, CAST(p.p // 4 AS INTEGER) + 1, 1)) - 1)
        |        / power(2, 3 - p.p % 4)) AS BIGINT) % 2) - 1) > 0
        |      THEN 1 ELSE 0 END AS bit
        |  FROM h CROSS JOIN (SELECT unnest(range(60)) AS p) p
        |  GROUP BY doc_id, p.p),
        |fp AS (SELECT doc_id,
        |         CAST(SUM(bit * (CAST(1 AS BIGINT) << CAST(p AS INTEGER)))
        |           AS BIGINT) AS fp
        |       FROM b GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
        |  CAST(bit_count(xor(a.fp, b2.fp)) AS BIGINT) AS hamming
        |FROM fp a JOIN fp b2 ON a.doc_id < b2.doc_id
        |WHERE bit_count(xor(a.fp, b2.fp)) <= 3""".stripMargin,
    // Constraint suite: violation counts as doubles; null semantics
    // documented on DataQuality (range/domain rules skip nulls).
    "q106_data_quality" ->
      """WITH s AS (SELECT
        |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS v0,
        |  CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS DOUBLE) AS v1,
        |  CAST(SUM(CASE WHEN o_totalprice < 0.0 OR o_totalprice > 600000.0
        |    THEN 1 ELSE 0 END) AS DOUBLE) AS v2,
        |  CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
        |    THEN 1 ELSE 0 END) AS DOUBLE) AS v3
        |  FROM orders)
        |SELECT 'o_custkey' AS column_name, 'not_null' AS constraint_name,
        |  v0 AS violations, v0 = 0.0 AS passed FROM s
        |UNION ALL SELECT 'o_orderkey', 'unique', v1, v1 = 0.0 FROM s
        |UNION ALL SELECT 'o_totalprice', 'in_range', v2, v2 = 0.0 FROM s
        |UNION ALL SELECT 'o_orderstatus', 'is_in', v3, v3 = 0.0 FROM s""".stripMargin,
    // Daily resample: days from CAST(ts AS DATE) in UTC on both sides;
    // day sums decimal-carried, LOCF over the decimal, double at the end.
    "q107_resample_locf" ->
      """WITH d AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n,
        |    SUM(CAST("value" AS DECIMAL(18,6))) AS day_value
        |  FROM events GROUP BY 1, 2),
        |span AS (
        |  SELECT user_id, CAST(unnest(generate_series(
        |    CAST(min_d AS TIMESTAMP), CAST(max_d AS TIMESTAMP),
        |    INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT user_id, MIN(day) AS min_d, MAX(day) AS max_d
        |        FROM d GROUP BY 1)),
        |j AS (
        |  SELECT s.user_id, s.day, COALESCE(d.n, 0) AS n, d.day_value
        |  FROM span s LEFT JOIN d ON s.user_id = d.user_id AND s.day = d.day)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day, n,
        |  CAST(last_value(day_value IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS locf_value
        |FROM j""".stripMargin,
    // SCD2: change rows via lag over (ts, event_id) total order, lead
    // closes intervals; bounds as epoch micros (ns truncation parity).
    "q108_scd2_history" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type AS state, event_id,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |c AS (SELECT user_id, state, ts_us, event_id FROM e
        |      WHERE prev IS NULL OR prev <> state)
        |SELECT user_id, state, ts_us AS valid_from_us,
        |  LEAD(ts_us) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) AS valid_to_us
        |FROM c""".stripMargin,
    "q109_pagerank" -> pagerankSql(8),
    // the salt is result-invisible: oracle is the plain skewed join
    "q110_salted_join" ->
      """SELECT s_nationkey,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN supplier
        |  ON (CASE WHEN l_linenumber <= 4 THEN 1 ELSE l_suppkey END) = s_suppkey
        |GROUP BY s_nationkey""".stripMargin,
    // partial/merge/finalize must equal the single-pass aggregate
    "q111_incremental_agg" ->
      """SELECT o_custkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  MIN(o_totalprice) AS min_price,
        |  MAX(o_totalprice) AS max_price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
        |FROM orders GROUP BY o_custkey""".stripMargin,
    // DuckDB list slice t[i:i+4] is 1-based inclusive = Spark
    // slice(t, i, 5); both sides per-doc DISTINCT, so COUNT(*)
    // counts distinct shared grams
    "q112_decontamination" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g
        |  FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i)
        |  WHERE len(t) >= 5)
        |SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
        |  COUNT(*) AS n_shared
        |FROM grams a JOIN grams b ON a.g = b.g
        |WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
        |GROUP BY 1, 2 HAVING COUNT(*) >= 3""".stripMargin,
    // same pair generator as q28 at >= 0.9; triangles via the
    // canonical a<b triple join; per-node = 3 corner projections
    "q113_triangle_count" ->
      """WITH toks AS (
        |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
        |  FROM documents WHERE doc_id < 500),
        |pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM toks a JOIN toks b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
        |      / CAST(len(list_distinct(a.t || b.t)) AS DOUBLE) >= 0.9),
        |deg AS (
        |  SELECT node, COUNT(*) AS degree FROM (
        |    SELECT a AS node FROM pairs
        |    UNION ALL SELECT b AS node FROM pairs) GROUP BY 1),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM pairs e1
        |  JOIN pairs e2 ON e2.a = e1.a AND e2.b > e1.b
        |  JOIN pairs e3 ON e3.a = e1.b AND e3.b = e2.b),
        |corners AS (
        |  SELECT node, COUNT(*) AS n_triangles FROM (
        |    SELECT x AS node FROM tri
        |    UNION ALL SELECT y AS node FROM tri
        |    UNION ALL SELECT z AS node FROM tri) GROUP BY 1)
        |SELECT d.node, d.degree, COALESCE(c.n_triangles, 0) AS n_triangles
        |FROM deg d LEFT JOIN corners c USING (node)""".stripMargin,
    // chunk i covers [1+i*384, min(1+i*384+511, L)]; last index =
    // ceil(max(L-512,0)/384) in integer arithmetic; substring clamps
    "q114_chunk_docs" ->
      """SELECT doc_id, CAST(i AS INTEGER) AS chunk_ix,
        |  CAST(i * 384 + 1 AS INTEGER) AS chunk_start,
        |  substring(text, CAST(i * 384 + 1 AS INTEGER), 512) AS chunk_text,
        |  CAST(length(substring(text, CAST(i * 384 + 1 AS INTEGER), 512))
        |    AS INTEGER) AS chunk_len
        |FROM documents,
        |  UNNEST(range(0, (greatest(length(text) - 512, 0) + 383) // 384 + 1))
        |  AS u(i)""".stripMargin,
    // the bloom prunes the scan, the exact join removes its false
    // positives => the oracle is the bloom-free join
    "q115_bloom_join" ->
      """SELECT s_suppkey, s_name,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_nationkey = 7
        |GROUP BY s_suppkey, s_name""".stripMargin,
    // CMS never undercounts => prefilter is sound; exact re-count
    // removes overestimates => the oracle is the plain HAVING
    "q116_heavy_hitters" ->
      """SELECT l_partkey, COUNT(*) AS n
        |FROM lineitem GROUP BY l_partkey HAVING COUNT(*) >= 45""".stripMargin,
    // windows at 1-based positions 1, 9, 17, ... of exactly 32 chars;
    // DuckDB range() stop is exclusive = Spark sequence stop L-31
    "q117_span_overlap" ->
      """WITH g AS (
        |  SELECT doc_id, substr(text, i, 32) AS g
        |  FROM documents, UNNEST(range(1, len(text) - 30, 8)) AS t(i)
        |  WHERE len(text) >= 32)
        |SELECT md5(g) AS gram_hash,
        |  COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
        |FROM g GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2""".stripMargin,
    "q118_zorder_layout" -> zorderSql,
    // same whitespace regex as q112's tokenizer; words shorter than 2
    // chars emit no pairs on either engine (range(1,1) is empty)
    "q119_bpe_pairs" ->
      """WITH words AS (
        |  SELECT x AS w, COUNT(*) AS f
        |  FROM documents,
        |    UNNEST(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS t(x)
        |  GROUP BY 1),
        |pairs AS (
        |  SELECT substr(w, i, 1) AS left_sym, substr(w, i + 1, 1) AS right_sym, f
        |  FROM words, UNNEST(range(1, len(w))) AS u(i))
        |SELECT left_sym, right_sym, CAST(SUM(f) AS BIGINT) AS n
        |FROM pairs GROUP BY 1, 2 HAVING SUM(f) >= 10""".stripMargin,
    "q120_label_prop" -> lpaSql(4),
    // the view is maintained incrementally; the oracle re-joins from
    // scratch — equality proves the delta decomposition is exact
    "q121_incremental_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    // identical integer largest-remainder allocation + identical
    // portable md5 rank (same salt string) — both sides exact
    "q122_quota_split" ->
      """WITH counts AS (
        |  SELECT lang, COUNT(*) AS n_i FROM documents GROUP BY lang),
        |tot AS (SELECT SUM(n_i) AS N, SUM((n_i*30)//100) AS sumBase
        |  FROM counts),
        |alloc AS (
        |  SELECT lang, (n_i*30)//100 AS base,
        |    ROW_NUMBER() OVER (ORDER BY (n_i*30)%100 DESC, lang ASC) AS rk
        |  FROM counts),
        |quota AS (
        |  SELECT a.lang, a.base + CASE
        |    WHEN a.rk <= ((t.N*30)//100 - t.sumBase) THEN 1 ELSE 0 END AS q
        |  FROM alloc a, tot t),
        |ranked AS (
        |  SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':quota_v1'), doc_id) AS rk
        |  FROM documents)
        |SELECT r.doc_id, r.lang
        |FROM ranked r JOIN quota q USING (lang) WHERE r.rk <= q.q""".stripMargin,
    // the engine answers via backward as-of on valid_from (gapless
    // intervals make that equivalent); the oracle spells the literal
    // interval containment — agreement proves the equivalence holds
    "q123_scd2_lookup" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type AS state, event_id,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |c AS (SELECT user_id, state, ts_us, event_id FROM e
        |      WHERE prev IS NULL OR prev <> state),
        |hist AS (
        |  SELECT user_id, state, ts_us AS vf,
        |    LEAD(ts_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS vt
        |  FROM c),
        |facts AS (
        |  SELECT user_id, event_id, epoch_us(ts) - 1800000000 AS lookup_us
        |  FROM events)
        |SELECT f.user_id, f.event_id, h.state
        |FROM facts f JOIN hist h ON f.user_id = h.user_id
        |  AND h.vf <= f.lookup_us
        |  AND (h.vt IS NULL OR f.lookup_us < h.vt)""".stripMargin,
    // boundary after position i when md5 of the 16-char window ending
    // at i has 2-hex prefix < '04'; sentinel boundary at len(text);
    // UNION (not ALL) dedupes a detected boundary at the last char
    "q124_cdc_chunks" ->
      """WITH b AS (
        |  SELECT doc_id, i
        |  FROM documents, UNNEST(range(16, len(text) + 1)) AS t(i)
        |  WHERE substr(md5(substr(text, i - 15, 16)), 1, 2) < '04'
        |  UNION
        |  SELECT doc_id, len(text) FROM documents WHERE len(text) >= 1),
        |c AS (
        |  SELECT doc_id, i,
        |    COALESCE(LAG(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1 AS s,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS chunk_ix
        |  FROM b)
        |SELECT c.doc_id, c.chunk_ix, c.s AS chunk_start,
        |  substr(d.text, c.s, c.i - c.s + 1) AS chunk_text
        |FROM c JOIN documents d USING (doc_id)""".stripMargin,
    // Portable MinHash-LSH: the oracle recomputes the md5-string
    // signatures (min over distinct 2-word shingles of md5(j ':' s),
    // lexicographic) and reproduces the band-collision predicate
    // EXACTLY (2-slot '|'-joined band keys, 8 bands), then the exact
    // Jaccard verify — so the banded operator output, banding
    // decisions included, hash-checks end to end.
    "q125_minhash_portable" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents WHERE doc_id < 400),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(tk)),
        |    i -> tk[i] || ' ' || tk[i + 1])) AS toks
        |  FROM tk WHERE len(tk) >= 2),
        |tok AS (SELECT doc_id, unnest(toks) AS term FROM sh),
        |mh AS (
        |  SELECT doc_id, j.j AS j,
        |    MIN((((j.j + 1) * 2654435761 % 2147483647)
        |         * (('0x' || substr(md5(term), 1, 15))::BIGINT % 2147483647)
        |         + j.j * 40503 + 12345) % 2147483647) AS mh
        |  FROM tok CROSS JOIN (SELECT unnest(range(16)) AS j) j
        |  GROUP BY doc_id, j.j),
        |bands AS (
        |  SELECT doc_id, CAST(j // 2 AS INTEGER) AS band,
        |    string_agg(CAST(mh AS VARCHAR), '|' ORDER BY j) AS band_key
        |  FROM mh GROUP BY doc_id, j // 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_key = b.band_key
        |    AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        |  ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |    / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE), 6)
        |    AS jaccard_sim
        |FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b
        |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |  / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) >= 0.5""".stripMargin,
    // Portable sign-LSH: the oracle recomputes the md5-derived ±1
    // hyperplanes, the in-order double projections (list_sum over
    // list_zip ≡ the dot kernel's left-to-right fold — the q93
    // recipe), the sign bucket, and states multi-probe blocking in
    // closed form (own + 1-bit-flip probes on both sides admit exactly
    // Hamming(bucket) ≤ 2), then the exact-cosine verify.
    "q126_signlsh_portable" ->
      """WITH planes AS (
        |  SELECT h.h AS h, list_transform(range(64), d ->
        |    CASE WHEN strpos('0123456789abcdef',
        |        substr(md5(CAST(h.h AS VARCHAR) || ':' || CAST(d AS VARCHAR)),
        |          1, 1)) - 1 >= 8
        |      THEN 1.0 ELSE -1.0 END) AS w
        |  FROM (SELECT unnest(range(12)) AS h) h),
        |proj AS (
        |  SELECT e.vec_id, p.h,
        |    list_sum(list_transform(list_zip(e.embedding, p.w),
        |      x -> CAST(x[1] AS DOUBLE) * x[2])) AS s
        |  FROM embeddings e CROSS JOIN planes p),
        |bkt AS (
        |  SELECT vec_id,
        |    CAST(SUM(CASE WHEN s >= 0
        |      THEN CAST(1 AS BIGINT) << CAST(h AS INTEGER)
        |      ELSE 0 END) AS BIGINT) AS b
        |  FROM proj GROUP BY vec_id),
        |cand AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM bkt a JOIN bkt b
        |    ON a.vec_id < b.vec_id AND bit_count(xor(a.b, b.b)) <= 2)
        |SELECT id_a, id_b, ROUND(sim, 6) AS cosine_sim FROM (
        |  SELECT c.id_a, c.id_b,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(b.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
        |  FROM cand c JOIN embeddings a ON a.vec_id = c.id_a
        |    JOIN embeddings b ON b.vec_id = c.id_b
        |) WHERE sim >= 0.4""".stripMargin,
    // Gear CDC: gear(c) = first byte of md5('g:' || c); because the
    // engine's rolling state shifts LEFT each step, its low 6 bits at
    // position i equal (Σ_{j=0..5} gear(c_{i-j})·2^j) mod 64 — so the
    // oracle states the boundary predicate positionally (LAG window
    // sum, no recursion) and must match the one-pass kernel EXACTLY.
    // Boundaries start at i ≥ 6; sentinel at len(text); UNION dedupes.
    "q127_gear_chunks" ->
      """WITH ch AS (
        |  SELECT doc_id, i AS pos, substr(text, i, 1) AS c
        |  FROM documents, UNNEST(range(1, len(text) + 1)) t(i)),
        |g AS (
        |  SELECT doc_id, pos,
        |    (strpos('0123456789abcdef', substr(md5('g:' || c), 1, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(md5('g:' || c), 2, 1)) - 1)
        |      AS g
        |  FROM ch),
        |s AS (
        |  SELECT doc_id, pos AS i,
        |    (g + 2 * LAG(g, 1, 0) OVER w + 4 * LAG(g, 2, 0) OVER w
        |       + 8 * LAG(g, 3, 0) OVER w + 16 * LAG(g, 4, 0) OVER w
        |       + 32 * LAG(g, 5, 0) OVER w) % 64 AS m
        |  FROM g WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |b AS (
        |  SELECT doc_id, i FROM s WHERE i >= 6 AND m = 0
        |  UNION
        |  SELECT doc_id, len(text) FROM documents WHERE len(text) >= 1),
        |c2 AS (
        |  SELECT doc_id, i,
        |    COALESCE(LAG(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1 AS st,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS chunk_ix
        |  FROM b)
        |SELECT c2.doc_id, c2.chunk_ix, c2.st AS chunk_start,
        |  substr(d.text, c2.st, c2.i - c2.st + 1) AS chunk_text
        |FROM c2 JOIN documents d USING (doc_id)""".stripMargin,
    // same portable rank convention as q122 (md5 of "id:salt", ties by
    // id); groups at/under the cap are kept whole
    "q128_domain_cap" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':cap_v1'), doc_id) AS rk
        |  FROM documents) WHERE rk <= 15""".stripMargin,
    // vocabulary = top 500 terms by (count DESC, term ASC); OOV rate
    // counts token OCCURRENCES outside it; integer-exact counts, one
    // double division, 6 dp — identical association on both engines
    "q129_vocab_oov" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0)) AS term
        |  FROM documents),
        |vocab AS (
        |  SELECT term FROM (
        |    SELECT term, COUNT(*) AS n FROM tok GROUP BY 1
        |    ORDER BY n DESC, term LIMIT 500)),
        |j AS (
        |  SELECT t.doc_id, CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM tok t LEFT JOIN vocab v ON t.term = v.term)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(oov) AS BIGINT) AS n_oov,
        |  ROUND(CAST(SUM(oov) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS oov_rate
        |FROM j GROUP BY doc_id""".stripMargin,
    // scale = max|v|/127 (double); code = floor(v/scale + 0.5) — pure
    // IEEE arithmetic + floor, so both engines agree bit-for-bit; the
    // all-zero vector gets scale 0 / code 0
    "q130_quantize_int8" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) / 127 AS scale
        |  FROM embeddings)
        |SELECT vec_id, i AS dim_ix,
        |  CASE WHEN scale = 0 THEN 0
        |    ELSE CAST(FLOOR(CAST(embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE)
        |      / scale + 0.5) AS BIGINT) END AS code,
        |  scale
        |FROM s, UNNEST(range(len(embedding))) t(i)""".stripMargin,
    // corpus unigram surprisal: per-term weight -ln(n/t) rounded to
    // 6 dp and carried as DECIMAL(18,6) (the BM25 discipline), so the
    // per-doc sum is aggregation-order independent; one double
    // division + 6 dp round at the end, identical association on both
    // engines
    "q131_unigram_surprisal" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0)) AS term
        |  FROM documents),
        |tc AS (SELECT term, COUNT(*) AS n FROM tok GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS t FROM tok),
        |w AS (SELECT term, CAST(ROUND(
        |    -ln(CAST(n AS DOUBLE) / CAST(t AS DOUBLE)), 6)
        |    AS DECIMAL(18,6)) AS s
        |  FROM tc CROSS JOIN tot)
        |SELECT k.doc_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  ROUND(CAST(SUM(s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS surprisal
        |FROM tok k JOIN w USING (term)
        |GROUP BY k.doc_id""".stripMargin,
    // oracle = the exhaustive pairwise form over the same word-trigram
    // sets, UNBOUNDED — the inverted-index operator must reproduce it
    // exactly
    "q135_jaccard_indexed" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(ts) - 1),
        |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS grams
        |  FROM (SELECT doc_id, list_filter(
        |          regexp_split_to_array(lower(text), '\s+'),
        |          t -> len(t) > 0) AS ts
        |        FROM documents)
        |  WHERE len(ts) >= 3)
        |SELECT id_a, id_b, ROUND(jaccard_sim, 6) AS jaccard_sim FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |      / CAST(len(list_distinct(a.grams || b.grams)) AS DOUBLE) AS jaccard_sim
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |) WHERE jaccard_sim >= 0.5""".stripMargin,
    // every step time is a pure MIN over a well-defined set -> no
    // tie-break needed; strict > chains the steps
    "q145_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id AS key, MIN(epoch_us(ts)) AS t1
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id AS key, MIN(epoch_us(e.ts)) AS t2
        |  FROM events e JOIN s1 ON e.user_id = s1.key
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
        |  GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id AS key, MIN(epoch_us(e.ts)) AS t3
        |  FROM events e JOIN s2 ON e.user_id = s2.key
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
        |  GROUP BY 1)
        |SELECT s1.key AS key, s1.t1 AS t1, s2.t2 AS t2, s3.t3 AS t3,
        |  CAST(1 + CASE WHEN s2.t2 IS NULL THEN 0 ELSE 1 END
        |         + CASE WHEN s3.t3 IS NULL THEN 0 ELSE 1 END AS INTEGER) AS stage
        |FROM s1 LEFT JOIN s2 USING (key) LEFT JOIN s3 USING (key)""".stripMargin,
    // same whitespace tokenizer as q119; thresholds are integer
    // cross-multiplications; pmi_ratio is one IEEE division of
    // exactly-converted BIGINT products (no log — portable)
    "q146_pmi_cooc" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id AS _doc, x AS tok
        |  FROM documents,
        |    UNNEST(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS t(x)),
        |n AS (SELECT COUNT(DISTINCT _doc) AS n_docs FROM toks),
        |dfreq AS (
        |  SELECT tok, COUNT(*) AS df FROM toks GROUP BY 1
        |  HAVING COUNT(*) * 10 >= (SELECT n_docs FROM n)),
        |kept AS (SELECT _doc, tok FROM toks JOIN dfreq USING (tok)),
        |pairs AS (
        |  SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS c_ab
        |  FROM kept a JOIN kept b ON a._doc = b._doc AND a.tok < b.tok
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) * 25 >= (SELECT n_docs FROM n))
        |SELECT tok_a, tok_b, c_ab, da.df AS c_a, db.df AS c_b,
        |  CAST(c_ab * n.n_docs AS DOUBLE)
        |    / CAST(da.df * db.df AS DOUBLE) AS pmi_ratio
        |FROM pairs JOIN dfreq da ON pairs.tok_a = da.tok
        |  JOIN dfreq db ON pairs.tok_b = db.tok CROSS JOIN n""".stripMargin,
    // RANGE frame is peer-inclusive -> tie-safe; sums DECIMAL-carried;
    // epoch_us truncation parity with the engine's ts div 1000
    "q147_rolling_window" ->
      """SELECT event_id AS id, user_id AS key, epoch_us(ts) AS ts_us,
        |  COUNT(*) OVER w AS n_win,
        |  CAST(SUM(CAST("value" AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_win
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    // GROUPING bitmask semantics agree between engines (bit set =
    // column rolled up); sums DECIMAL-carried
    "q148_rollup" ->
      """SELECT CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid,
        |  l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    // k-th sorted value is deterministic under ties (the VALUE at a
    // position is unique even when row_number among equals isn't);
    // index arithmetic is pure integer: (p*n+99) div 100
    "q149_group_quantiles" ->
      """WITH t AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS v,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT g, MAX(n) AS n,
        |  MIN(CASE WHEN rn = (25 * n + 99) // 100 THEN v END) AS p25,
        |  MIN(CASE WHEN rn = (50 * n + 99) // 100 THEN v END) AS p50,
        |  MIN(CASE WHEN rn = (75 * n + 99) // 100 THEN v END) AS p75,
        |  MIN(CASE WHEN rn = (95 * n + 99) // 100 THEN v END) AS p95
        |FROM t GROUP BY g""".stripMargin,
    // conditional-agg mirror of the engine's pivot; counts null-safe
    // 0 on both sides, sums NULL-on-empty on both sides
    "q150_event_pivot" ->
      """SELECT user_id,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view_n,
        |  CAST(SUM(CASE WHEN event_type = 'view'
        |    THEN CAST("value" AS DECIMAL(18,6)) END) AS DOUBLE) AS view_sum,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click_n,
        |  CAST(SUM(CASE WHEN event_type = 'click'
        |    THEN CAST("value" AS DECIMAL(18,6)) END) AS DOUBLE) AS click_sum,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase_n,
        |  CAST(SUM(CASE WHEN event_type = 'purchase'
        |    THEN CAST("value" AS DECIMAL(18,6)) END) AS DOUBLE) AS purchase_sum,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup_n,
        |  CAST(SUM(CASE WHEN event_type = 'signup'
        |    THEN CAST("value" AS DECIMAL(18,6)) END) AS DOUBLE) AS signup_sum,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error_n,
        |  CAST(SUM(CASE WHEN event_type = 'error'
        |    THEN CAST("value" AS DECIMAL(18,6)) END) AS DOUBLE) AS error_sum
        |FROM events GROUP BY user_id""".stripMargin,
    // Gini via the count histogram: rank-sums collapse onto count
    // blocks (tie-assignment-invariant), all-integer until the two
    // final IEEE divisions — mirrors the engine formula exactly
    "q151_skew_profile" ->
      """WITH counts AS (
        |  SELECT l_partkey AS k, COUNT(*) AS c FROM lineitem GROUP BY 1),
        |hist AS (SELECT c, COUNT(*) AS f FROM counts GROUP BY 1),
        |cum AS (
        |  SELECT c, f, COALESCE(SUM(f) OVER (ORDER BY c
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cf
        |  FROM hist)
        |SELECT CAST(SUM(c * f) AS BIGINT) AS n_rows,
        |  CAST(SUM(f) AS BIGINT) AS n_keys, MAX(c) AS max_cnt,
        |  CAST(MAX(c) AS DOUBLE) / CAST(SUM(c * f) AS DOUBLE) AS top1_share,
        |  CAST(2 * SUM(c * (f * cf + f * (f + 1) // 2))
        |      - (SUM(f) + 1) * SUM(c * f) AS DOUBLE)
        |    / CAST(SUM(f) * SUM(c * f) AS DOUBLE) AS gini
        |FROM cum""".stripMargin,
    // both medians are discrete member selections (same (p*n+99)//100
    // index form as q149); dev = one IEEE subtraction; n_out counted
    // (not summed) so the type is BIGINT on both engines
    "q152_robust_outliers" ->
      """WITH t AS (SELECT event_type AS g, "value" AS v FROM events),
        |r AS (
        |  SELECT g, v,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn,
        |    COUNT(*) OVER (PARTITION BY g) AS n
        |  FROM t),
        |med AS (
        |  SELECT g, MIN(CASE WHEN rn = (50 * n + 99) // 100 THEN v END) AS med
        |  FROM r GROUP BY g),
        |d AS (
        |  SELECT t.g, t.v, med.med, abs(t.v - med.med) AS dev
        |  FROM t JOIN med USING (g)),
        |rd AS (
        |  SELECT g, dev,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY dev) AS rn,
        |    COUNT(*) OVER (PARTITION BY g) AS n
        |  FROM d),
        |mad AS (
        |  SELECT g, MIN(CASE WHEN rn = (50 * n + 99) // 100 THEN dev END) AS mad
        |  FROM rd GROUP BY g)
        |SELECT d.g AS g, COUNT(*) AS n, MAX(d.med) AS med, MAX(mad.mad) AS mad,
        |  COUNT(CASE WHEN d.dev > 3.0 * mad.mad THEN 1 END) AS n_out
        |FROM d JOIN mad USING (g) GROUP BY d.g""".stripMargin,
    // marginals re-aggregate the cell frame; expected is the same
    // cast-first double chain as the engine; contrib rounds to 6 dp
    "q153_chisq_cells" ->
      """WITH cells AS (
        |  SELECT lang AS rv, source AS cv, COUNT(*) AS o
        |  FROM documents GROUP BY 1, 2),
        |rws AS (SELECT rv, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        |cls AS (SELECT cv, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        |n AS (SELECT CAST(SUM(o) AS BIGINT) AS n_total FROM cells),
        |e AS (
        |  SELECT rv, cv, o, r, c, n_total,
        |    CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
        |      / CAST(n_total AS DOUBLE) AS expected
        |  FROM cells JOIN rws USING (rv) JOIN cls USING (cv) CROSS JOIN n)
        |SELECT rv, cv, o, r, c, n_total, expected,
        |  ROUND((o - expected) * (o - expected) / expected, 6) AS contrib
        |FROM e""".stripMargin,
    // moment sums integer/decimal-exact; slope/intercept the same
    // fixed IEEE chain as the engine; zero-variance keys -> NULLs
    "q154_group_trend" ->
      """WITH base AS (
        |  SELECT user_id AS key, CAST(ts AS DATE) AS d,
        |    CAST("value" AS DECIMAL(18,6)) AS y
        |  FROM events),
        |d0 AS (SELECT key, MIN(d) AS d0 FROM base GROUP BY 1),
        |xy AS (
        |  SELECT key, CAST(datediff('day', d0, d) AS BIGINT) AS x, y
        |  FROM base JOIN d0 USING (key)),
        |m AS (
        |  SELECT key, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |    SUM(y) AS sy, SUM(x * y) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM xy GROUP BY 1),
        |sel AS (
        |  SELECT key, n, sx, sy,
        |    CAST(n * sxy - sx * sy AS DOUBLE) AS num,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS den
        |  FROM m)
        |SELECT key, n,
        |  CASE WHEN den <> 0 THEN num / den END AS slope,
        |  CASE WHEN den <> 0 THEN
        |    (CAST(sy AS DOUBLE) - (num / den) * CAST(sx AS DOUBLE))
        |      / CAST(n AS DOUBLE) END AS intercept
        |FROM sel""".stripMargin,
    // engine parses with from_json (schema'd, malformed->null); the
    // oracle only needs the same VALUES - json_extract suffices;
    // sums cast BIGINT (HUGEINT discipline)
    "q155_props_parse" ->
      """WITH p AS (
        |  SELECT event_type,
        |    CAST(json_extract(props, '$.k') AS INTEGER) AS k
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n, COUNT(k) AS n_parsed,
        |  CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k,
        |  COUNT(DISTINCT k) AS n_distinct_k
        |FROM p GROUP BY event_type""".stripMargin,
    // ISO-Monday week truncation on both engines; offsets are exact
    // integer day-diffs of week starts div 7; week rendered as text
    // (date-vs-date32 parquet round-trip parity, q107 precedent)
    "q156_cohort_retention" ->
      """WITH weeks AS (
        |  SELECT DISTINCT user_id AS u,
        |    CAST(date_trunc('week', ts) AS DATE) AS w
        |  FROM events),
        |cohort AS (SELECT u, MIN(w) AS w0 FROM weeks GROUP BY 1)
        |SELECT strftime(w0, '%Y-%m-%d') AS cohort_week,
        |  CAST(datediff('day', w0, w) // 7 AS BIGINT) AS week_offset,
        |  COUNT(DISTINCT u) AS n_users
        |FROM weeks JOIN cohort USING (u)
        |GROUP BY 1, 2""".stripMargin,
    // level-synchronous BFS vs a depth-bounded recursive CTE: UNION
    // (distinct) keeps each level's working set at <= |nodes| rows,
    // and MIN(d) collapses multi-depth sightings to first discovery
    "q157_bfs_hops" ->
      """WITH RECURSIVE b AS (
        |  SELECT CAST(l_suppkey AS BIGINT) AS s,
        |    CAST(l_partkey AS BIGINT) + 10000000 AS p
        |  FROM lineitem),
        |e AS (
        |  SELECT s AS src, p AS dst FROM b
        |  UNION
        |  SELECT p AS src, s AS dst FROM b),
        |walk(node, d) AS (
        |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS node,
        |    CAST(0 AS BIGINT) AS d
        |  FROM lineitem WHERE l_suppkey < 5
        |  UNION
        |  SELECT e.dst, w.d + 1
        |  FROM walk w JOIN e ON w.node = e.src
        |  WHERE w.d < 4)
        |SELECT node, MIN(d) AS dist FROM walk GROUP BY node""".stripMargin,
    // lag over the SAME (ts, event_id) total order; p = one IEEE
    // division of exact integer counts (CAST both sides — DuckDB's
    // windowed SUM(BIGINT) is HUGEINT)
    "q158_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    LAG(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS src_type
        |  FROM events),
        |c AS (
        |  SELECT src_type, event_type AS dst_type, COUNT(*) AS n
        |  FROM seq WHERE src_type IS NOT NULL GROUP BY 1, 2)
        |SELECT src_type, dst_type, n,
        |  CAST(n AS DOUBLE) /
        |    CAST(SUM(n) OVER (PARTITION BY src_type) AS DOUBLE) AS p
        |FROM c""".stripMargin,
    // bounded-round peel unrolled; see kcoreSql
    "q159_kcore" -> kcoreSql,
    // md5-ring draws spelled in SQL; see negPairsSql
    "q160_negative_pairs" -> negPairsSql,
    // shard hash + per-shard rank + interleave; see curriculumSql
    "q168_curriculum_order" -> curriculumSql,
    // q109's unrolled rounds, seed-gated base; see pprSql
    "q175_ppr" -> pprSql(6),
    // md5 draw arithmetic + discrete band; see bootstrapSql
    "q176_bootstrap_ci" -> bootstrapSql,
    // dow aligned to 0=Sunday on both engines; decimal sums, one
    // IEEE division per mean and one for the index
    "q178_seasonal_profile" ->
      """WITH cells AS (
        |  SELECT event_type,
        |    CAST(EXTRACT(DOW FROM ts) AS BIGINT) AS dow,
        |    CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS hod,
        |    COUNT(*) AS n,
        |    SUM(CAST("value" AS DECIMAL(18,2))) AS sc
        |  FROM events GROUP BY 1, 2, 3),
        |totals AS (
        |  SELECT event_type, COUNT(*) AS nt,
        |    SUM(CAST("value" AS DECIMAL(18,2))) AS st
        |  FROM events GROUP BY 1)
        |SELECT c.event_type, c.dow, c.hod, c.n,
        |  CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) AS mean_value,
        |  (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE)) /
        |    (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)) AS seasonal_index
        |FROM cells c JOIN totals t ON c.event_type = t.event_type""".stripMargin,
    // two lags over the same (ts, id) total order; deterministic
    // top-k ties broken by the full path
    "q177_top_paths" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    LAG(event_type, 2) OVER w AS s1,
        |    LAG(event_type, 1) OVER w AS s2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (
        |  SELECT s1 AS step1, s2 AS step2, event_type AS step3,
        |    COUNT(*) AS n
        |  FROM seq WHERE s1 IS NOT NULL AND s2 IS NOT NULL
        |  GROUP BY 1, 2, 3)
        |SELECT step1, step2, step3, n FROM c
        |ORDER BY n DESC, step1, step2, step3
        |LIMIT 20""".stripMargin,
    // decimal moment sums (exact in any order) cast to double once,
    // then the SAME pinned chain as Experiments.cuped — per-unit
    // adjustment algebraically eliminated on both sides
    "q174_cuped" ->
      """WITH rev94 AS (
        |  SELECT o_custkey,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x0
        |  FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1994
        |  GROUP BY 1),
        |rev95 AS (
        |  SELECT o_custkey,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y0
        |  FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
        |  GROUP BY 1),
        |units AS (
        |  SELECT CASE WHEN substr(md5(CAST(c_custkey AS VARCHAR)
        |      || ':ab_v1'), 1, 4) < '8000' THEN 'A' ELSE 'B' END AS arm,
        |    CAST(COALESCE(x0, 0) AS DECIMAL(18,2)) AS x,
        |    CAST(COALESCE(y0, 0) AS DECIMAL(18,2)) AS y
        |  FROM customer
        |  LEFT JOIN rev94 ON c_custkey = rev94.o_custkey
        |  LEFT JOIN rev95 ON c_custkey = rev95.o_custkey),
        |m AS (
        |  SELECT
        |    COUNT(CASE WHEN arm = 'A' THEN 1 END) AS n_a,
        |    COUNT(CASE WHEN arm = 'B' THEN 1 END) AS n_b,
        |    SUM(CASE WHEN arm = 'A' THEN x END) AS sx_a,
        |    SUM(CASE WHEN arm = 'B' THEN x END) AS sx_b,
        |    SUM(CASE WHEN arm = 'A' THEN y END) AS sy_a,
        |    SUM(CASE WHEN arm = 'B' THEN y END) AS sy_b,
        |    SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
        |  FROM units),
        |f AS (
        |  SELECT CAST(n_a + n_b AS DOUBLE) AS n,
        |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |    CAST(sx_a AS DOUBLE) + CAST(sx_b AS DOUBLE) AS sx,
        |    CAST(sy_a AS DOUBLE) + CAST(sy_b AS DOUBLE) AS sy,
        |    CAST(sx_a AS DOUBLE) AS sxa, CAST(sx_b AS DOUBLE) AS sxb,
        |    CAST(sy_a AS DOUBLE) AS sya, CAST(sy_b AS DOUBLE) AS syb,
        |    CAST(sxx AS DOUBLE) AS dxx, CAST(sxy AS DOUBLE) AS dxy,
        |    CAST(syy AS DOUBLE) AS dyy
        |  FROM m)
        |SELECT
        |  (n * dxy - sx * sy) / (n * dxx - sx * sx) AS theta,
        |  ((n * dxy - sx * sy) * (n * dxy - sx * sy)) /
        |    ((n * dxx - sx * sx) * (n * dyy - sy * sy)) AS r2,
        |  sya / na AS mean_a_raw,
        |  syb / nb AS mean_b_raw,
        |  sya / na - ((n * dxy - sx * sy) / (n * dxx - sx * sx)) *
        |    (sxa / na - sx / n) AS mean_a_adj,
        |  syb / nb - ((n * dxy - sx * sy) / (n * dxx - sx * sx)) *
        |    (sxb / nb - sx / n) AS mean_b_adj
        |FROM f""".stripMargin,
    // INDEPENDENT oracle: same boundary-day set (runs are integer
    // date logic), but the count at each day comes from the direct
    // quadratic form — distinct users active in [d−6, d] — not from
    // the engine's delta-cumsum mechanics
    "q173_rolling_active" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
        |  FROM events),
        |r AS (
        |  SELECT u, day,
        |    CASE WHEN LAG(day) OVER (PARTITION BY u ORDER BY day)
        |        IS NULL
        |      OR day > LAG(day) OVER (PARTITION BY u ORDER BY day) + 6
        |      THEN 1 ELSE 0 END AS newrun
        |  FROM act),
        |runs AS (
        |  SELECT u, day, SUM(newrun) OVER (PARTITION BY u ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM r),
        |iv AS (SELECT u, run, MIN(day) AS sd, MAX(day) + 6 AS ed
        |       FROM runs GROUP BY 1, 2),
        |dayset AS (SELECT sd AS day FROM iv
        |           UNION SELECT ed + 1 FROM iv)
        |SELECT strftime(d.day, '%Y-%m-%d') AS day,
        |  CAST(COUNT(DISTINCT a.u) AS BIGINT) AS n_active
        |FROM dayset d
        |LEFT JOIN act a ON a.day BETWEEN d.day - 6 AND d.day
        |GROUP BY d.day""".stripMargin,
    // q94's md5 hex-threshold coin for arms; all statistics are the
    // SAME pinned IEEE chain over the four exact counts
    "q172_ab_test" ->
      """WITH conv AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE EXTRACT(YEAR FROM o_orderdate) = 1995),
        |units AS (
        |  SELECT CASE WHEN substr(md5(CAST(c_custkey AS VARCHAR)
        |      || ':ab_v1'), 1, 4) < '8000' THEN 'A' ELSE 'B' END AS arm,
        |    conv.o_custkey IS NOT NULL AS converted
        |  FROM customer LEFT JOIN conv ON c_custkey = o_custkey),
        |m AS (
        |  SELECT
        |    CAST(COUNT(CASE WHEN arm = 'A' THEN 1 END) AS BIGINT) AS n_a,
        |    CAST(COUNT(CASE WHEN arm = 'B' THEN 1 END) AS BIGINT) AS n_b,
        |    CAST(COUNT(CASE WHEN arm = 'A' AND converted THEN 1 END)
        |      AS BIGINT) AS conv_a,
        |    CAST(COUNT(CASE WHEN arm = 'B' AND converted THEN 1 END)
        |      AS BIGINT) AS conv_b
        |  FROM units)
        |SELECT n_a, n_b, conv_a, conv_b,
        |  CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
        |  CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
        |  (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
        |    (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)) - 1.0 AS lift,
        |  ((CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)) -
        |   (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))) /
        |  sqrt((CAST(conv_a + conv_b AS DOUBLE) /
        |        CAST(n_a + n_b AS DOUBLE)) *
        |       (1.0 - CAST(conv_a + conv_b AS DOUBLE) /
        |        CAST(n_a + n_b AS DOUBLE)) *
        |       (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
        |    AS z
        |FROM m""".stripMargin,
    // boundary-delta concurrency: +1 at start, −1 the day after the
    // inclusive end; per-day aggregate then ONE bounded cumsum over
    // the calendar axis
    "q170_concurrency" ->
      """WITH iv AS (
        |  SELECT CAST(o.o_orderdate AS DATE) AS sd,
        |    CAST(MAX(l.l_shipdate) AS DATE) AS ed
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  GROUP BY o.o_orderkey, o.o_orderdate),
        |deltas AS (
        |  SELECT sd AS day, CAST(1 AS BIGINT) AS delta FROM iv
        |  UNION ALL
        |  SELECT ed + 1, CAST(-1 AS BIGINT) FROM iv),
        |daily AS (SELECT day, SUM(delta) AS d FROM deltas GROUP BY 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day,
        |  CAST(SUM(d) OVER (ORDER BY day
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  AS BIGINT) AS n_active
        |FROM daily""".stripMargin,
    // per-customer decimal partial sums merged into nation/grand
    // totals (decimal-exact in any composition), then two pinned
    // IEEE divisions
    "q171_ratio_report" ->
      """WITH rev AS (
        |  SELECT c_custkey, n_name,
        |    SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(24,6))) AS rd
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |nat AS (SELECT n_name, SUM(rd) AS nd FROM rev GROUP BY 1),
        |tot AS (SELECT SUM(rd) AS td FROM rev)
        |SELECT c_custkey, n_name, CAST(rd AS DOUBLE) AS revenue,
        |  CAST(rd AS DOUBLE) / CAST(nd AS DOUBLE) AS share_nation,
        |  CAST(rd AS DOUBLE) / CAST(td AS DOUBLE) AS share_total
        |FROM rev JOIN nat USING (n_name), tot""".stripMargin,
    // greedy walk = running-frame cumsum in the same (weight desc,
    // id) total order; keep rows that START under the budget
    "q169_token_budget" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    CAST(CASE WHEN LENGTH(text) = 0 THEN 0
        |      ELSE LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 END
        |      AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT source, doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
        |      ORDER BY n_tokens DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before
        |  FROM tok)
        |WHERE cum_before < 800""".stripMargin,
    // shared-literal discount table; see retrievalEvalSql
    "q161_retrieval_eval" -> retrievalEvalSql,
    // decimal moments + pinned IEEE Pearson chain; see corrMatrixSql
    "q162_corr_matrix" -> corrMatrixSql,
    // Bellman-Ford rounds unrolled; see shortestPathsSql
    "q163_shortest_paths" -> shortestPathsSql,
    // the same closed form (S = R − min(0, running-min R)) over the
    // same (ts, event_id) total order; all sums DECIMAL-carried,
    // one double cast at the surface. Two DuckDB traps dodged to
    // keep the arithmetic in decimal (probed directly): (a) the
    // windowed SUM comes back DECIMAL(38,2) and 38+1-precision
    // subtraction promotes to DOUBLE → narrow both operands to
    // DECIMAL(28,2) first (exact: |r| ≪ 10^26); (b) LEAST over
    // decimals ALWAYS returns DOUBLE → spell min(0, m) as a CASE,
    // which unifies decimal types properly.
    "q166_cusum" ->
      """WITH t AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) -
        |        CAST('8.00' AS DECIMAL(18,2))) OVER w
        |      AS DECIMAL(28,2)) AS r
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s AS (
        |  SELECT user_id, event_id,
        |    CAST(r - (CASE WHEN m < CAST('0.00' AS DECIMAL(28,2))
        |      THEN m ELSE CAST('0.00' AS DECIMAL(28,2)) END)
        |      AS DOUBLE) AS cusum
        |  FROM (
        |    SELECT user_id, event_id, r,
        |      CAST(MIN(r) OVER w2 AS DECIMAL(28,2)) AS m
        |    FROM t
        |    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))
        |SELECT user_id, event_id, cusum,
        |  cusum > CAST('40.00' AS DOUBLE) AS alarm
        |FROM s""".stripMargin,
    // q149's discrete-selection band edges + pure LEAST/GREATEST
    // clip — no float arithmetic anywhere on either side
    "q165_winsorize" ->
      """WITH t AS (
        |  SELECT l_suppkey AS g, l_extendedprice AS v,
        |    ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_extendedprice) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_suppkey) AS n
        |  FROM lineitem),
        |picks AS (
        |  SELECT g,
        |    MIN(CASE WHEN rn = (5 * n + 99) // 100 THEN v END) AS lo,
        |    MIN(CASE WHEN rn = (95 * n + 99) // 100 THEN v END) AS hi
        |  FROM t GROUP BY g)
        |SELECT r.g AS l_suppkey, r.l_orderkey, r.l_linenumber,
        |  r.v AS l_extendedprice,
        |  LEAST(GREATEST(r.v, picks.lo), picks.hi) AS l_extendedprice_w
        |FROM (SELECT l_suppkey AS g, l_orderkey, l_linenumber,
        |        l_extendedprice AS v FROM lineitem) r
        |JOIN picks USING (g)""".stripMargin,
    // null-safe full-outer CDC compare; changed columns as a flat
    // comma-joined string in compare order, '' for added/removed
    "q164_snapshot_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    o_orderpriority FROM orders),
        |a AS (SELECT * FROM base WHERE o_orderkey % 100 <> 0),
        |b AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 11 = 0 THEN 'X'
        |      ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
        |      ELSE o_totalprice END AS o_totalprice,
        |    o_orderpriority
        |  FROM base WHERE o_orderkey % 97 <> 0),
        |j AS (
        |  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |    a.o_orderkey IS NOT NULL AS in_a,
        |    b.o_orderkey IS NOT NULL AS in_b,
        |    array_to_string(list_filter([
        |      CASE WHEN a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
        |        THEN 'o_orderstatus' END,
        |      CASE WHEN a.o_totalprice IS DISTINCT FROM b.o_totalprice
        |        THEN 'o_totalprice' END,
        |      CASE WHEN a.o_orderpriority IS DISTINCT FROM b.o_orderpriority
        |        THEN 'o_orderpriority' END], x -> x IS NOT NULL), ',') AS cc
        |  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
        |SELECT o_orderkey,
        |  CASE WHEN NOT in_a THEN 'added'
        |       WHEN NOT in_b THEN 'removed'
        |       ELSE 'changed' END AS change_type,
        |  CASE WHEN in_a AND in_b THEN cc ELSE '' END AS changed_cols
        |FROM j
        |WHERE NOT (in_a AND in_b) OR cc <> ''""".stripMargin,
    // lambda spelled as the SAME literal expression as the Spark
    // side (never ln(2) at runtime — libm ulp would leak in);
    // contributions 6-dp DECIMAL-carried; epoch_us truncation parity
    "q144_decayed_sum" ->
      """WITH t AS (SELECT MAX(epoch_us(ts)) AS tref FROM events)
        |SELECT user_id AS key, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  ROUND(CAST(SUM(CAST(ROUND(
        |    "value" * exp(-(0.6931471805599453 / 7.0)
        |      * (CAST(tref - epoch_us(ts) AS DOUBLE) / 86400000000.0)), 6)
        |    AS DECIMAL(18,6))) AS DOUBLE), 6) AS decayed_value
        |FROM events CROSS JOIN t
        |GROUP BY user_id""".stripMargin,
    // components and squared-diff contributions round to 6 dp and
    // carry as DECIMAL (order-independent sums); the only doubles are
    // the centroid divide and the final margin cast
    "q143_label_margin" ->
      """WITH e AS (
        |  SELECT vec_id, label, t.i AS dim,
        |    CAST(ROUND(CAST(embedding[t.i] AS DOUBLE), 6) AS DECIMAL(20,6)) AS v
        |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)),
        |c AS (SELECT label, dim, SUM(v) AS s, COUNT(*) AS n FROM e GROUP BY 1, 2),
        |cd AS (SELECT label AS clabel, dim,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS cc
        |  FROM c),
        |d AS (
        |  SELECT e.vec_id, e.label, cd.clabel,
        |    SUM(CAST(ROUND((CAST(v AS DOUBLE) - cc) * (CAST(v AS DOUBLE) - cc), 6)
        |      AS DECIMAL(20,6))) AS d2
        |  FROM e JOIN cd USING (dim) GROUP BY 1, 2, 3),
        |m AS (
        |  SELECT vec_id, label,
        |    MAX(CASE WHEN clabel = label THEN d2 END) AS own,
        |    MIN(CASE WHEN clabel <> label THEN d2 END) AS other
        |  FROM d GROUP BY 1, 2)
        |SELECT vec_id, label, ROUND(CAST(other - own AS DOUBLE), 6) AS margin,
        |  other < own AS is_suspect
        |FROM m""".stripMargin,
    // first-seen = min doc id per gram; novelty = share of this
    // doc's grams first seen here — exact integer counts
    "q142_ngram_novelty" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(ts) - 1),
        |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS grams
        |  FROM (SELECT doc_id, list_filter(
        |          regexp_split_to_array(lower(text), '\s+'),
        |          t -> len(t) > 0) AS ts
        |        FROM documents)
        |  WHERE len(ts) >= 3),
        |post AS (SELECT doc_id, unnest(grams) AS g FROM sh),
        |fs AS (SELECT g, MIN(doc_id) AS first_id FROM post GROUP BY 1)
        |SELECT p.doc_id AS doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN first_id = p.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  ROUND(CAST(SUM(CASE WHEN first_id = p.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
        |FROM post p JOIN fs USING (g)
        |GROUP BY p.doc_id""".stripMargin,
    // histogram bins' -p*ln(p) rounded to 6 dp, DECIMAL-carried;
    // totals are second-level aggregates of the (doc, char) table
    "q141_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c
        |  FROM documents),
        |hist AS (SELECT doc_id, c, COUNT(*) AS n FROM ch GROUP BY 1, 2),
        |tot AS (SELECT doc_id, SUM(n) AS l FROM hist GROUP BY 1),
        |w AS (
        |  SELECT h.doc_id, CAST(ROUND(
        |      -(CAST(n AS DOUBLE) / CAST(l AS DOUBLE))
        |        * ln(CAST(n AS DOUBLE) / CAST(l AS DOUBLE)), 6)
        |    AS DECIMAL(18,6)) AS w
        |  FROM hist h JOIN tot USING (doc_id))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
        |  ROUND(CAST(SUM(w) AS DOUBLE), 6) AS entropy
        |FROM w GROUP BY doc_id""".stripMargin,
    // both directed relations per unordered pair; filter on the
    // ROUNDED containment in both engines (the declared convention)
    "q140_containment" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(ts) - 1),
        |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS grams
        |  FROM (SELECT doc_id, list_filter(
        |          regexp_split_to_array(lower(text), '\s+'),
        |          t -> len(t) > 0) AS ts
        |        FROM documents)
        |  WHERE len(ts) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.grams, b.grams)) AS c,
        |    len(a.grams) AS sa, len(b.grams) AS sb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |bothdir AS (
        |  SELECT id_a AS id_in, id_b AS id_of,
        |    ROUND(CAST(c AS DOUBLE) / CAST(sa AS DOUBLE), 6) AS containment
        |  FROM pairs
        |  UNION ALL
        |  SELECT id_b, id_a,
        |    ROUND(CAST(c AS DOUBLE) / CAST(sb AS DOUBLE), 6)
        |  FROM pairs)
        |SELECT id_in, id_of, containment FROM bothdir
        |WHERE containment >= 0.7""".stripMargin,
    // n^alpha rounded to 6 dp and DECIMAL-carried (order-independent
    // normalizer); shares divide once as doubles; largest-remainder
    // hand-out with (frac desc, domain asc) rank
    "q139_temperature_alloc" ->
      """WITH c AS (
        |  SELECT source AS domain, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |a AS (SELECT domain, n, CAST(ROUND(pow(CAST(n AS DOUBLE), 0.3), 6)
        |        AS DECIMAL(28,6)) AS a
        |  FROM c),
        |t AS (SELECT SUM(a) AS ta FROM a),
        |s AS (SELECT domain, n,
        |    CAST(a AS DOUBLE) * 1000 / CAST(ta AS DOUBLE) AS share
        |  FROM a CROSS JOIN t),
        |b AS (SELECT domain, n, CAST(FLOOR(share) AS BIGINT) AS base,
        |    share - FLOOR(share) AS frac
        |  FROM s),
        |r AS (SELECT domain, n, base,
        |    ROW_NUMBER() OVER (ORDER BY frac DESC, domain ASC) AS rk,
        |    SUM(base) OVER () AS tb
        |  FROM b)
        |SELECT domain, n,
        |  CAST(base + CASE WHEN rk <= 1000 - tb THEN 1 ELSE 0 END
        |    AS BIGINT) AS target
        |FROM r""".stripMargin,
    // KL contributions p*ln(p/q) over exact integer counts, rounded
    // to 6 dp and DECIMAL-carried; all stats derive from the one
    // (domain, term) count table, mirroring the Spark plan
    "q138_domain_kl" ->
      """WITH tok AS (
        |  SELECT source AS domain, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0)) AS term
        |  FROM documents),
        |st AS (SELECT domain, term, COUNT(*) AS n_st FROM tok GROUP BY 1, 2),
        |s AS (SELECT domain, SUM(n_st) AS t_s FROM st GROUP BY 1),
        |ct AS (SELECT term, SUM(n_st) AS n_t FROM st GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n_st) AS BIGINT) AS t FROM st),
        |w AS (
        |  SELECT st.domain, CAST(ROUND(
        |      (CAST(n_st AS DOUBLE) / CAST(t_s AS DOUBLE))
        |      * ln((CAST(n_st AS DOUBLE) / CAST(t_s AS DOUBLE))
        |           / (CAST(n_t AS DOUBLE) / CAST(t AS DOUBLE))), 6)
        |    AS DECIMAL(18,6)) AS w
        |  FROM st JOIN ct USING (term) JOIN s USING (domain) CROSS JOIN tt)
        |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |  ROUND(CAST(SUM(w) AS DOUBLE), 6) AS kl
        |FROM w GROUP BY domain""".stripMargin,
    // closure over the q135 edge SQL + q81 scoring + per-cluster
    // argmax (quality desc, id asc); cluster_id = min reachable member
    "q136_neardup_canonical" ->
      """WITH RECURSIVE tokd AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0) AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(ts) - 1),
        |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS grams
        |  FROM tokd WHERE len(ts) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |      / CAST(len(list_distinct(a.grams || b.grams)) AS DOUBLE) >= 0.5),
        |edges AS (
        |  SELECT id_a AS s, id_b AS t FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(s, t) AS (
        |  SELECT s, t FROM edges
        |  UNION
        |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
        |clu AS (
        |  SELECT d.doc_id,
        |    LEAST(d.doc_id, COALESCE(MIN(r.t), d.doc_id)) AS cluster_id
        |  FROM documents d LEFT JOIN reach r ON r.s = d.doc_id
        |  GROUP BY d.doc_id),
        |t2 AS (
        |  SELECT doc_id,
        |    CAST(LENGTH(text) AS DOUBLE) AS len,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) AS npunct,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) AS nupper,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |r2 AS (
        |  SELECT doc_id, len,
        |    CASE WHEN len = 0 THEN 0.0 ELSE npunct / len END AS punct_ratio,
        |    CASE WHEN len = 0 THEN 0.0 ELSE nupper / len END AS upper_ratio,
        |    CAST(len(toks) AS DOUBLE) AS n,
        |    CAST(len(list_filter(toks,
        |      t -> t IN ('the','and','of','to','a','in','is','it'))) AS DOUBLE) AS stops
        |  FROM t2),
        |scored AS (
        |  SELECT doc_id, ROUND(
        |      (CASE WHEN len < 20 THEN len/20.0
        |            WHEN len > 5000 THEN greatest(0.0, 1.0 - (len-5000)/20000.0)
        |            ELSE 1.0 END) * 0.3
        |    + greatest(0.0, 1.0 - punct_ratio * 4.0) * 0.25
        |    + greatest(0.0, 1.0 - upper_ratio * 3.0) * 0.2
        |    + least(1.0, (CASE WHEN n = 0 THEN 0.0 ELSE stops/n END) * 5.0 + 0.4) * 0.25,
        |    6) AS quality
        |  FROM r2),
        |m AS (
        |  SELECT c.cluster_id, c.doc_id, s.quality,
        |    ROW_NUMBER() OVER (PARTITION BY c.cluster_id
        |      ORDER BY s.quality DESC, c.doc_id ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY c.cluster_id) AS nm
        |  FROM clu c JOIN scored s USING (doc_id))
        |SELECT cluster_id, doc_id AS keep_id,
        |  CAST(nm AS BIGINT) AS n_members, quality AS best_quality
        |FROM m WHERE rn = 1""".stripMargin,
    // oracle = the one-partition global window the operator refuses
    // to run; ranks must agree exactly
    "q137_train_order" ->
      """SELECT doc_id,
        |  CAST(ROW_NUMBER() OVER (ORDER BY
        |    md5(CAST(doc_id AS VARCHAR) || ':order_v1'), doc_id)
        |    AS BIGINT) AS train_order
        |FROM documents""".stripMargin,
    // the oracle IS the naive global-sort plan the operator avoids:
    // exactly ceil(0.2*n) rows by (quality desc, doc_id asc) — same
    // scoring CTEs as q81
    "q134_quality_gate" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(LENGTH(text) AS DOUBLE) AS len,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) AS npunct,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) AS nupper,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, len,
        |    CASE WHEN len = 0 THEN 0.0 ELSE npunct / len END AS punct_ratio,
        |    CASE WHEN len = 0 THEN 0.0 ELSE nupper / len END AS upper_ratio,
        |    CAST(len(toks) AS DOUBLE) AS n,
        |    CAST(len(list_filter(toks,
        |      t -> t IN ('the','and','of','to','a','in','is','it'))) AS DOUBLE) AS stops
        |  FROM t),
        |scored AS (
        |  SELECT doc_id, ROUND(
        |      (CASE WHEN len < 20 THEN len/20.0
        |            WHEN len > 5000 THEN greatest(0.0, 1.0 - (len-5000)/20000.0)
        |            ELSE 1.0 END) * 0.3
        |    + greatest(0.0, 1.0 - punct_ratio * 4.0) * 0.25
        |    + greatest(0.0, 1.0 - upper_ratio * 3.0) * 0.2
        |    + least(1.0, (CASE WHEN n = 0 THEN 0.0 ELSE stops/n END) * 5.0 + 0.4) * 0.25,
        |    6) AS quality
        |  FROM r),
        |ranked AS (
        |  SELECT doc_id, quality,
        |    ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id ASC) AS rn,
        |    COUNT(*) OVER () AS nn
        |  FROM scored)
        |SELECT doc_id, quality FROM ranked
        |WHERE rn <= CEIL(0.2 * nn)""".stripMargin,
    // bigram MLE: weights -ln(n12/n1) rounded to 6 dp, DECIMAL-carried
    // (aggregation-order independent); docs with < 2 tokens absent
    "q133_bigram_surprisal" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0) AS ts
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, ts[t.i] AS w1, ts[t.i + 1] AS w2
        |  FROM tok, UNNEST(range(1, len(ts))) t(i)
        |  WHERE len(ts) >= 2),
        |c12 AS (SELECT w1, w2, COUNT(*) AS n12 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, COUNT(*) AS n1 FROM bg GROUP BY 1),
        |w AS (SELECT w1, w2, CAST(ROUND(
        |    -ln(CAST(n12 AS DOUBLE) / CAST(n1 AS DOUBLE)), 6)
        |    AS DECIMAL(18,6)) AS s
        |  FROM c12 JOIN c1 USING (w1))
        |SELECT b.doc_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  ROUND(CAST(SUM(s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS surprisal2
        |FROM bg b JOIN w USING (w1, w2)
        |GROUP BY b.doc_id""".stripMargin,
    // quantized cosine: per-vector scales cancel, so the score is an
    // exact int64 dot over round-half-up codes with one correctly-
    // rounded sqrt/divide — identical doubles in any IEEE engine
    "q132_quantized_topk" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
        |      / 127.0 AS scale
        |  FROM embeddings),
        |c AS (
        |  SELECT vec_id,
        |    CASE WHEN scale = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding,
        |           x -> CAST(FLOOR(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)) END AS codes
        |  FROM s),
        |n AS (
        |  SELECT vec_id, codes,
        |    CAST(list_sum(list_transform(codes, x -> x * x)) AS BIGINT) AS nrm
        |  FROM c)
        |SELECT query_id, vec_id, ROUND(score, 6) AS qcos_sim,
        |  CAST(rn AS INTEGER) AS rank FROM (
        |  SELECT q.vec_id AS query_id, d.vec_id AS vec_id,
        |    CASE WHEN d.nrm * q.nrm = 0 THEN 0.0
        |      ELSE CAST(CAST(list_sum(list_transform(list_zip(d.codes, q.codes),
        |             x -> x[1] * x[2])) AS BIGINT) AS DOUBLE)
        |         / (sqrt(CAST(d.nrm AS DOUBLE)) * sqrt(CAST(q.nrm AS DOUBLE))) END AS score,
        |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |      CASE WHEN d.nrm * q.nrm = 0 THEN 0.0
        |        ELSE CAST(CAST(list_sum(list_transform(list_zip(d.codes, q.codes),
        |               x -> x[1] * x[2])) AS BIGINT) AS DOUBLE)
        |           / (sqrt(CAST(d.nrm AS DOUBLE)) * sqrt(CAST(q.nrm AS DOUBLE))) END DESC,
        |      d.vec_id ASC) AS rn
        |  FROM n d CROSS JOIN (SELECT * FROM n WHERE vec_id < 5) q
        |) WHERE rn <= 10""".stripMargin,
    "q30_vector_norms" ->
      """SELECT vec_id, label,
        |  ROUND(SQRT(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
        |FROM embeddings""".stripMargin,
    // q71 (custom flatMapGroupsWithState) and q82 (native
    // session_window) run the STREAMING sessionizers over the same
    // events — same oracle: stream output must equal the batch form.
    "q33_sessionize" -> sessionizeSql,
    "q71_sessionize_stream" -> sessionizeSql,
    "q82_session_window_stream" -> sessionizeSql,
    "q102_sessionize_tws" -> sessionizeSql,
    "q83_stream_stream_join" ->
      """SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |  AND a.event_type = 'click' AND b.event_type = 'purchase'
        |  AND epoch_us(b.ts) >= epoch_us(a.ts) - 1800000000
        |  AND epoch_us(b.ts) <= epoch_us(a.ts) + 1800000000""".stripMargin,
    "q34_daily_window" ->
      s"""SELECT date_trunc('day', ts) AS day, COUNT(*) AS n,
         |  ${dsum("\"value\"")} AS sum_value
         |FROM events GROUP BY 1""".stripMargin,
    "q35_nearest_station_window" -> nearestStationSql,
    "q36_nearest_station_minby" -> nearestStationSql,
    "q37_nearest_haversine" -> nearestHaversineSql,
    "q61_nearest_grid" -> nearestHaversineSql,
    // grid path on a dense site set: exact by construction (safe-radius
    // proof + exhaustive fallback) → window-over-cross-join oracle
    "q65_nearest_dense_grid" ->
      """SELECT c_custkey, site_id, ROUND(d, 3) AS dist_km FROM (
        |  SELECT c_custkey, site_id,
        |    2.0 * 6371.0 * atan2(sqrt(a), sqrt(1.0 - a)) AS d,
        |    ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY
        |      2.0 * 6371.0 * atan2(sqrt(a), sqrt(1.0 - a)) ASC, site_id ASC) AS rn
        |  FROM (
        |    SELECT c_custkey, site_id,
        |      pow(sin(radians(s_lat - lat) / 2), 2)
        |      + cos(radians(lat)) * cos(radians(s_lat)) * pow(sin(radians(s_lon - lon) / 2), 2) AS a
        |    FROM (SELECT c_custkey,
        |            greatest(least(c_acctbal/200.0, 51.0), 41.5) AS lat,
        |            greatest(least(CAST(c_custkey % 360 AS DOUBLE) - 180.0, 9.5), -5.0) AS lon
        |          FROM customer)
        |    CROSS JOIN (SELECT o_orderkey AS site_id,
        |            41.5 + CAST(o_orderkey % 950 AS DOUBLE) / 100.0 AS s_lat,
        |            -5.0 + CAST(o_orderkey % 1450 AS DOUBLE) / 100.0 AS s_lon
        |          FROM orders) st)
        |) WHERE rn = 1""".stripMargin,
    "q62_normalize_hash" ->
      """SELECT doc_id,
        |  CAST(length(nfc_normalize(text)) AS INTEGER) AS nfc_len,
        |  sha256(nfc_normalize(text)) AS nfc_sha
        |FROM documents""".stripMargin,
    "q38_latest_state" ->
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |) WHERE rn = 1""".stripMargin,
    "q40_rollup" ->
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         |  ${dsum("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q41_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         |  ${dsum("o_totalprice")} AS sum_price
         |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "q42_pivot" ->
      """SELECT user_id,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error
        |FROM events GROUP BY user_id""".stripMargin,
    "q43_above_avg" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_acctbal > (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    / COUNT(c_acctbal) FROM customer)""".stripMargin,
    // Sketch contract (q44): the oracle recomputes the EXACT columns
    // and states the within-error-bound booleans as TRUE — a sketch
    // drifting outside its documented bound turns the engine's boolean
    // false and the row red.
    "q44_approx" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS hll_ok, TRUE AS median_ok, TRUE AS p99_ok
        |FROM events GROUP BY event_type""".stripMargin,
    "q45_asof_join" -> asOfJoinSql,
    // the native whole-operator plan must reproduce the composed
    // form's rows exactly — same oracle
    "q101_asof_native" -> asOfJoinSql,
    "q46_percentile" ->
      """SELECT event_type,
        |  ROUND(quantile_cont("value", 0.25), 6) AS p25,
        |  ROUND(quantile_cont("value", 0.5), 6) AS p50,
        |  ROUND(quantile_cont("value", 0.9), 6) AS p90,
        |  COUNT(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "q47_salted_agg" ->
      s"""SELECT user_id, ${dsum("\"value\"")} AS sum_value, COUNT(*) AS n
         |FROM events GROUP BY user_id""".stripMargin,
    "q48_window_suite" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(RANK() OVER w AS INTEGER) AS rnk,
        |  CAST(DENSE_RANK() OVER w AS INTEGER) AS drnk,
        |  LAG(o_totalprice, 1) OVER w AS prev_price,
        |  LEAD(o_totalprice, 1) OVER w AS next_price,
        |  CAST(NTILE(4) OVER w AS INTEGER) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin,
    "q49_range_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, e.event_id AS error_id
        |FROM events p JOIN events e
        |  ON p.user_id = e.user_id
        | AND p.event_type = 'purchase' AND e.event_type = 'error'
        | AND ABS(epoch_us(p.ts) - epoch_us(e.ts)) <= 600000000""".stripMargin,
    "q50_topk_agg" ->
      """SELECT event_type, CAST(rn AS INTEGER) AS rank, event_id, "value" FROM (
        |  SELECT event_type, event_id, "value",
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY "value" DESC, event_id ASC) AS rn
        |  FROM events) WHERE rn <= 5""".stripMargin,
    // Merged-sketch contract (q51, same recipe as q44): exact columns
    // + a TRUE stating the union-merged HLL estimate stayed within 5%
    // of the exact distinct count.
    "q51_hll_merge" ->
      """SELECT event_type,
        |  COUNT(DISTINCT CAST(date_trunc('day', ts) AS DATE)) AS n_days,
        |  COUNT(DISTINCT user_id) AS exact_users, TRUE AS merge_ok
        |FROM events GROUP BY event_type""".stripMargin,
    "q52_fuzzy_join" ->
      """SELECT x.p_partkey AS id_a, y.p_partkey AS id_b,
        |  CAST(levenshtein(x.p_name, y.p_name) AS INTEGER) AS edit_dist
        |FROM part x JOIN part y ON x.p_partkey < y.p_partkey
        |WHERE x.p_partkey < 1000 AND y.p_partkey < 1000
        |  AND levenshtein(x.p_name, y.p_name) <= 2""".stripMargin,
    "q53_ship_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "q54_above_nation_avg" ->
      """SELECT c.c_custkey, c.c_nationkey, c.c_acctbal,
        |  ROUND(n.nation_avg, 6) AS nation_avg
        |FROM customer c
        |JOIN (SELECT c_nationkey,
        |        CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |          / COUNT(c_acctbal) AS nation_avg
        |      FROM customer GROUP BY c_nationkey) n
        |  ON c.c_nationkey = n.c_nationkey
        |WHERE c.c_acctbal > n.nation_avg""".stripMargin,
    "q55_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus)*2 + GROUPING(o_orderpriority) AS INTEGER) AS gid,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,
    "q56_array_agg" ->
      """SELECT user_id,
        |  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
        |  COUNT(*) AS n
        |FROM events GROUP BY user_id""".stripMargin,
    "q57_date_arith" ->
      """SELECT o_orderkey,
        |  CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER) AS days_to_2002,
        |  strftime(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE), '%Y-%m-%d') AS plus_3m,
        |  strftime(CAST(date_trunc('quarter', o_orderdate) AS DATE), '%Y-%m-%d') AS quarter_start,
        |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow
        |FROM orders""".stripMargin,
    "q58_zscore_outliers" ->
      """SELECT e.event_type, e.event_id,
        |  ABS(e."value" - s.mu) > 2.0 * s.sigma AS is_outlier,
        |  ROUND((e."value" - s.mu) / s.sigma, 4) AS zscore
        |FROM events e
        |JOIN (
        |  SELECT event_type, sx / n AS mu,
        |    sqrt((sx2 - sx * sx / n) / (n - 1.0)) AS sigma
        |  FROM (
        |    SELECT event_type,
        |      CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |      CAST(SUM(CAST("value" * "value" AS DECIMAL(38,12))) AS DOUBLE) AS sx2,
        |      CAST(COUNT("value") AS DOUBLE) AS n
        |    FROM events GROUP BY event_type)
        |) s ON e.event_type = s.event_type""".stripMargin,
    "q59_region_revenue" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q60_dedup_clusters" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        |        FROM documents WHERE doc_id < 200) a
        |  JOIN (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        |        FROM documents WHERE doc_id < 200) b
        |    ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) >= 0.5
        |), edges AS (
        |  SELECT id_a AS s, id_b AS t FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs
        |), reach(s, t) AS (
        |  SELECT s, t FROM edges
        |  UNION
        |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
        |)
        |SELECT d.doc_id,
        |  LEAST(d.doc_id, COALESCE(MIN(r.t), d.doc_id)) AS cluster_id
        |FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
        |LEFT JOIN reach r ON r.s = d.doc_id
        |GROUP BY d.doc_id""".stripMargin
    ,
    // end-to-end corpus cleaning: every stage individually proven
    // (q62/q25/q28/q60/q81); this pins the composition
    "q84_corpus_clean" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, text, nfc_normalize(text) AS nfc
        |  FROM documents WHERE doc_id < 200
        |), surv AS (
        |  SELECT doc_id, text, nfc FROM (
        |    SELECT doc_id, text, nfc,
        |      MIN(doc_id) OVER (PARTITION BY sha256(nfc)) AS keep_id
        |    FROM base)
        |  WHERE doc_id = keep_id
        |), toksrc AS (
        |  SELECT doc_id, list_distinct(string_split(nfc, ' ')) AS toks FROM surv
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM toksrc a JOIN toksrc b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |      / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) >= 0.5
        |), edges AS (
        |  SELECT id_a AS s, id_b AS t FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs
        |), reach(s, t) AS (
        |  SELECT s, t FROM edges
        |  UNION
        |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
        |), labels AS (
        |  SELECT d.doc_id,
        |    LEAST(d.doc_id, COALESCE(MIN(r.t), d.doc_id)) AS cluster_id
        |  FROM (SELECT doc_id FROM surv) d
        |  LEFT JOIN reach r ON r.s = d.doc_id
        |  GROUP BY d.doc_id
        |), reps AS (
        |  SELECT s.doc_id, s.text FROM labels l JOIN surv s ON l.doc_id = s.doc_id
        |  WHERE l.doc_id = l.cluster_id
        |), qf AS (
        |  SELECT doc_id,
        |    CAST(LENGTH(text) AS DOUBLE) AS len,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) AS npunct,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) AS nupper,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM reps
        |), rf AS (
        |  SELECT doc_id, len,
        |    CASE WHEN len = 0 THEN 0.0 ELSE npunct / len END AS punct_ratio,
        |    CASE WHEN len = 0 THEN 0.0 ELSE nupper / len END AS upper_ratio,
        |    CAST(len(toks) AS DOUBLE) AS n,
        |    CAST(len(list_filter(toks,
        |      t -> t IN ('the','and','of','to','a','in','is','it'))) AS DOUBLE) AS stops
        |  FROM qf)
        |SELECT doc_id, quality, quality >= 0.5 AS kept FROM (
        |  SELECT doc_id, ROUND(
        |      (CASE WHEN len < 20 THEN len/20.0
        |            WHEN len > 5000 THEN greatest(0.0, 1.0 - (len-5000)/20000.0)
        |            ELSE 1.0 END) * 0.3
        |    + greatest(0.0, 1.0 - punct_ratio * 4.0) * 0.25
        |    + greatest(0.0, 1.0 - upper_ratio * 3.0) * 0.2
        |    + least(1.0, (CASE WHEN n = 0 THEN 0.0 ELSE stops/n END) * 5.0 + 0.4) * 0.25,
        |    6) AS quality
        |  FROM rf)""".stripMargin,
    // q136's cluster CTEs + q94's md5 rule applied to cluster_id:
    // the draw is on the CLUSTER, so members share one split
    "q179_cluster_split" ->
      """WITH RECURSIVE tokd AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0) AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(ts) - 1),
        |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS grams
        |  FROM tokd WHERE len(ts) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |      / CAST(len(list_distinct(a.grams || b.grams)) AS DOUBLE) >= 0.5),
        |edges AS (
        |  SELECT id_a AS s, id_b AS t FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(s, t) AS (
        |  SELECT s, t FROM edges
        |  UNION
        |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
        |clu AS (
        |  SELECT d.doc_id,
        |    LEAST(d.doc_id, COALESCE(MIN(r.t), d.doc_id)) AS cluster_id
        |  FROM documents d LEFT JOIN reach r ON r.s = d.doc_id
        |  GROUP BY d.doc_id)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)
        |      || ':cluster_split_v1'), 1, 4) < 'cccc' THEN 'train'
        |    WHEN substr(md5(CAST(cluster_id AS VARCHAR)
        |      || ':cluster_split_v1'), 1, 4) < 'e666' THEN 'val'
        |    ELSE 'test' END AS split
        |FROM clu""".stripMargin,
    // Samarati full-domain: a level qualifies for a QI group only
    // when its WEAKEST bucket clears k (per-QI MIN over bucket
    // counts), so the whole group releases at one level; integer
    // bucket indexes (floor of an IEEE division — identical on both
    // engines), band released as a string ('*' = suppressed)
    "q180_k_anonymity" ->
      """WITH l0 AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT) AS b, COUNT(*) AS n
        |  FROM customer GROUP BY 1, 2, 3),
        |l1 AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(FLOOR(c_acctbal / 5000.0) AS BIGINT) AS b, COUNT(*) AS n
        |  FROM customer GROUP BY 1, 2, 3),
        |m0 AS (
        |  SELECT c_nationkey, c_mktsegment, MIN(n) AS mn
        |  FROM l0 GROUP BY 1, 2),
        |m1 AS (
        |  SELECT c_nationkey, c_mktsegment, MIN(n) AS mn
        |  FROM l1 GROUP BY 1, 2),
        |ls AS (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
        |  FROM customer GROUP BY 1, 2)
        |SELECT c_custkey, c.c_nationkey, c.c_mktsegment,
        |  CASE WHEN m0.mn >= 6 THEN 0 WHEN m1.mn >= 6 THEN 1 ELSE 2 END AS level,
        |  CASE WHEN m0.mn >= 6 THEN CAST(l0.b AS VARCHAR)
        |    WHEN m1.mn >= 6 THEN CAST(l1.b AS VARCHAR)
        |    ELSE '*' END AS band,
        |  CASE WHEN m0.mn >= 6 THEN l0.n WHEN m1.mn >= 6 THEN l1.n
        |    ELSE ls.n END AS group_n,
        |  (CASE WHEN m0.mn >= 6 THEN l0.n WHEN m1.mn >= 6 THEN l1.n
        |    ELSE ls.n END) >= 6 AS anonymous
        |FROM customer c
        |JOIN l0 ON l0.c_nationkey = c.c_nationkey
        |  AND l0.c_mktsegment = c.c_mktsegment
        |  AND l0.b = CAST(FLOOR(c.c_acctbal / 2000.0) AS BIGINT)
        |JOIN l1 ON l1.c_nationkey = c.c_nationkey
        |  AND l1.c_mktsegment = c.c_mktsegment
        |  AND l1.b = CAST(FLOOR(c.c_acctbal / 5000.0) AS BIGINT)
        |JOIN m0 ON m0.c_nationkey = c.c_nationkey
        |  AND m0.c_mktsegment = c.c_mktsegment
        |JOIN m1 ON m1.c_nationkey = c.c_nationkey
        |  AND m1.c_mktsegment = c.c_mktsegment
        |JOIN ls ON ls.c_nationkey = c.c_nationkey
        |  AND ls.c_mktsegment = c.c_mktsegment""".stripMargin,
    // the window twin of the engine's max_by fold: latest change per
    // key by (ts, event_id); delete markers drop the key entirely
    "q181_cdc_apply" ->
      """WITH last AS (
        |  SELECT user_id, event_type, "value",
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_changes
        |  FROM events)
        |SELECT user_id, event_type, "value",
        |  CAST(n_changes AS BIGINT) AS n_changes
        |FROM last WHERE rn = 1 AND event_type <> 'error'""".stripMargin,
    // integer stride walk over the md5-shuffled weight line; // on
    // non-negative operands = Spark's div; HUGEINT window sum cast
    // back to BIGINT in the projected m
    "q182_pps_sample" ->
      """WITH b AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
        |    md5(CAST(doc_id AS VARCHAR) || ':pps_v1') AS draw
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, w,
        |    SUM(w) OVER (ORDER BY draw, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
        |  FROM b),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS tot FROM b),
        |s AS (SELECT tot // 50 AS step FROM t)
        |SELECT doc_id, w,
        |  CAST((hi // step) - ((hi - w) // step) AS BIGINT) AS m
        |FROM p, s
        |WHERE (hi // step) - ((hi - w) // step) > 0""".stripMargin,
    // 3 unrolled integer-Lloyd's rounds; see kmeansQuantSql
    "q183_kmeans_quant" -> kmeansQuantSql,
    // the FULL q183 oracle as a nested CTE feeding q122's quota CTEs
    // (stratum = cluster, pct 20, salt cluster_sample_v1) — the
    // composition is oracle-checked end to end
    "q189_cluster_sample" ->
      s"""WITH assign AS (
         |$kmeansQuantSql
         |),
         |counts AS (SELECT cluster, COUNT(*) AS n_i FROM assign GROUP BY cluster),
         |tot AS (SELECT SUM(n_i) AS N, SUM((n_i*20)//100) AS sumBase
         |  FROM counts),
         |alloc AS (
         |  SELECT cluster, (n_i*20)//100 AS base,
         |    ROW_NUMBER() OVER (ORDER BY (n_i*20)%100 DESC, cluster ASC) AS rk
         |  FROM counts),
         |quota AS (
         |  SELECT a.cluster, a.base + CASE
         |    WHEN a.rk <= ((t.N*20)//100 - t.sumBase) THEN 1 ELSE 0 END AS q
         |  FROM alloc a, tot t),
         |ranked AS (
         |  SELECT vec_id, cluster, ROW_NUMBER() OVER (PARTITION BY cluster
         |    ORDER BY md5(CAST(vec_id AS VARCHAR) || ':cluster_sample_v1'),
         |      vec_id) AS rk
         |  FROM assign)
         |SELECT r.vec_id, r.cluster
         |FROM ranked r JOIN quota q USING (cluster) WHERE r.rk <= q.q""".stripMargin,
    // q81's scoring CTEs → GROUP BY text min-id dedup (≡ the engine's
    // sha2 group — same partition, text never keys its shuffle) →
    // q94's md5 train rule → q95's packing CTEs over the survivors
    "q190_training_prep" ->
      """WITH t2 AS (
        |  SELECT doc_id, text,
        |    CAST(LENGTH(text) AS DOUBLE) AS len,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) AS npunct,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) AS nupper,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |r2 AS (
        |  SELECT doc_id, text, len,
        |    CASE WHEN len = 0 THEN 0.0 ELSE npunct / len END AS punct_ratio,
        |    CASE WHEN len = 0 THEN 0.0 ELSE nupper / len END AS upper_ratio,
        |    CAST(len(toks) AS DOUBLE) AS n,
        |    CAST(len(list_filter(toks,
        |      t -> t IN ('the','and','of','to','a','in','is','it'))) AS DOUBLE) AS stops
        |  FROM t2),
        |scored AS (
        |  SELECT doc_id, text, ROUND(
        |      (CASE WHEN len < 20 THEN len/20.0
        |            WHEN len > 5000 THEN greatest(0.0, 1.0 - (len-5000)/20000.0)
        |            ELSE 1.0 END) * 0.3
        |    + greatest(0.0, 1.0 - punct_ratio * 4.0) * 0.25
        |    + greatest(0.0, 1.0 - upper_ratio * 3.0) * 0.2
        |    + least(1.0, (CASE WHEN n = 0 THEN 0.0 ELSE stops/n END) * 5.0 + 0.4) * 0.25,
        |    6) AS quality
        |  FROM r2),
        |surv AS (
        |  SELECT MIN(doc_id) AS doc_id, text
        |  FROM scored WHERE quality >= 0.5 GROUP BY text),
        |train AS (
        |  SELECT doc_id, text FROM surv
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':split_v1'), 1, 4)
        |    < 'cccc'),
        |tok AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN LENGTH(text) = 0 THEN 0
        |      ELSE LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 END AS BIGINT) AS n_tokens
        |  FROM train),
        |offs AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        |  FROM tok)
        |SELECT doc_id, n_tokens, start_offset,
        |  CAST(FLOOR(start_offset / 512.0) AS BIGINT) AS pack_id
        |FROM offs""".stripMargin,
    // stream/batch MERGE parity: the replayed fold must equal the
    // batch window form exactly — same oracle as q181
    "q184_cdc_stream" ->
      """WITH last AS (
        |  SELECT user_id, event_type, "value",
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_changes
        |  FROM events)
        |SELECT user_id, event_type, "value",
        |  CAST(n_changes AS BIGINT) AS n_changes
        |FROM last WHERE rn = 1 AND event_type <> 'error'""".stripMargin,
    // q136's tokenizer CTE; clipped counts = SUM(LEAST(c, r)); each
    // metric one double division, F1 composed from unrounded P/R,
    // ROUND only at the output edge — mirrored exactly engine-side
    "q185_rouge1" ->
      """WITH tokd AS (
        |  SELECT doc_id, source, list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0) AS ts
        |  FROM documents),
        |pairs AS (
        |  SELECT id_c, id_r FROM (
        |    SELECT doc_id AS id_c,
        |      LEAD(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS id_r
        |    FROM tokd)
        |  WHERE id_r IS NOT NULL),
        |g AS (
        |  SELECT doc_id, x AS gram, COUNT(*) AS cnt
        |  FROM tokd, UNNEST(ts) AS t(x) GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n FROM tokd),
        |ov AS (
        |  SELECT id_c, id_r,
        |    CAST(SUM(LEAST(gc.cnt, gr.cnt)) AS BIGINT) AS overlap
        |  FROM pairs
        |  JOIN g gc ON gc.doc_id = id_c
        |  JOIN g gr ON gr.doc_id = id_r AND gr.gram = gc.gram
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT p.id_c, p.id_r,
        |    COALESCE(ov.overlap, 0) AS overlap, nc.n AS n_c, nr.n AS n_r
        |  FROM pairs p
        |  JOIN n nc ON nc.doc_id = p.id_c
        |  JOIN n nr ON nr.doc_id = p.id_r
        |  LEFT JOIN ov ON ov.id_c = p.id_c AND ov.id_r = p.id_r)
        |SELECT id_c, id_r, overlap, n_c, n_r,
        |  ROUND(CASE WHEN n_c = 0 THEN 0.0
        |    ELSE CAST(overlap AS DOUBLE) / n_c END, 6) AS p,
        |  ROUND(CASE WHEN n_r = 0 THEN 0.0
        |    ELSE CAST(overlap AS DOUBLE) / n_r END, 6) AS r,
        |  ROUND(CASE WHEN overlap = 0 THEN 0.0 ELSE
        |    2.0 * (CAST(overlap AS DOUBLE) / n_c)
        |        * (CAST(overlap AS DOUBLE) / n_r)
        |    / ((CAST(overlap AS DOUBLE) / n_c)
        |        + (CAST(overlap AS DOUBLE) / n_r)) END, 6) AS f1
        |FROM m""".stripMargin,
    // strict-before 7-day lookback; pair-level shares (one division,
    // no float summation); window count per conversion
    "q186_attribution" ->
      """WITH p AS (
        |  SELECT user_id, event_id AS conv_id, ts AS conv_ts, "value"
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, event_id AS touch_id, ts AS touch_ts
        |  FROM events WHERE event_type = 'click'),
        |pairs AS (
        |  SELECT p.user_id, conv_id, touch_id, "value"
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND c.touch_ts < p.conv_ts
        |    AND c.touch_ts >= p.conv_ts - INTERVAL 7 DAY)
        |SELECT conv_id, touch_id, user_id,
        |  CAST(COUNT(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n_touches,
        |  ROUND(CAST("value" AS DOUBLE)
        |    / COUNT(*) OVER (PARTITION BY conv_id), 6) AS share
        |FROM pairs""".stripMargin,
    // scaled-ln integer lattice (round half away from zero on
    // positives — both engines), HUGEINT-exact moments mirroring the
    // engine's decimal sums, one IEEE chain; q154's discipline
    "q187_zipf_fit" ->
      """WITH tokd AS (
        |  SELECT list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0) AS ts
        |  FROM documents),
        |tf AS (
        |  SELECT x AS term, COUNT(*) AS f
        |  FROM tokd, UNNEST(ts) AS t(x) GROUP BY 1),
        |rk AS (
        |  SELECT term, f,
        |    ROW_NUMBER() OVER (ORDER BY f DESC, term ASC) AS r
        |  FROM tf),
        |pts AS (
        |  SELECT
        |    CAST(ROUND(ln(CAST(r AS DOUBLE)) * 100000000.0) AS HUGEINT) AS x,
        |    CAST(ROUND(ln(CAST(f AS DOUBLE)) * 100000000.0) AS HUGEINT) AS y
        |  FROM rk WHERE r <= 1000),
        |m AS (
        |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x * y) AS sxy, SUM(x * x) AS sxx
        |  FROM pts)
        |SELECT CAST(n AS BIGINT) AS n_terms,
        |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
        |  ROUND((CAST(sy AS DOUBLE)
        |      - (CAST(n * sxy - sx * sy AS DOUBLE)
        |         / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) / 100000000.0, 6) AS intercept
        |FROM m""".stripMargin,
    // value-decile id thresholds ((mx+1)·k // 10 — floor ≡ div on
    // non-negatives), first-occurrence vocab counts, same lattice OLS
    "q188_heaps_fit" ->
      """WITH tokd AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0) AS ts
        |  FROM documents),
        |mx AS (SELECT MAX(doc_id) AS mxid FROM tokd),
        |th AS (
        |  SELECT k, ((mxid + 1) * k) // 10 AS t
        |  FROM mx, UNNEST(range(1, 11)) AS u(k)),
        |nk AS (
        |  SELECT k, CAST(SUM(len(ts)) AS BIGINT) AS n
        |  FROM tokd, th WHERE doc_id < t GROUP BY k),
        |fi AS (
        |  SELECT x AS term, MIN(doc_id) AS first_id
        |  FROM tokd, UNNEST(ts) AS u(x) GROUP BY 1),
        |vk AS (SELECT k, COUNT(*) AS v FROM fi, th WHERE first_id < t GROUP BY k),
        |pts AS (
        |  SELECT
        |    CAST(ROUND(ln(CAST(n AS DOUBLE)) * 100000000.0) AS HUGEINT) AS x,
        |    CAST(ROUND(ln(CAST(v AS DOUBLE)) * 100000000.0) AS HUGEINT) AS y
        |  FROM nk JOIN vk USING (k) WHERE n > 0 AND v > 0),
        |m AS (
        |  SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x * y) AS sxy, SUM(x * x) AS sxx
        |  FROM pts)
        |SELECT CAST(n AS BIGINT) AS n_points,
        |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
        |  ROUND((CAST(sy AS DOUBLE)
        |      - (CAST(n * sxy - sx * sy AS DOUBLE)
        |         / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) / 100000000.0, 6) AS intercept
        |FROM m""".stripMargin,
    // cent-quantized HUGEINT moments (≡ the engine's decimal(38,0)
    // sums), exact variance numerator, one double cast, IEEE sqrt;
    // z chain mirrored term for term; n<2 / zero-variance cells drop
    "q191_seasonal_anomaly" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(EXTRACT(DOW FROM ts) AS BIGINT) AS dow,
        |    CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS hod,
        |    CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events),
        |c AS (
        |  SELECT event_type, dow, hod, CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(CAST(v AS HUGEINT)) AS s,
        |    SUM(CAST(v AS HUGEINT) * v) AS s2
        |  FROM e GROUP BY 1, 2, 3),
        |j AS (
        |  SELECT e.event_id, e.event_type, e.dow, e.hod, e.v,
        |    c.n, c.s, CAST(c.n * c.s2 - c.s * c.s AS DOUBLE) AS varnum
        |  FROM e JOIN c USING (event_type, dow, hod)
        |  WHERE c.n >= 2 AND CAST(c.n * c.s2 - c.s * c.s AS DOUBLE) > 0)
        |SELECT event_id, event_type, dow, hod,
        |  ROUND((CAST(v AS DOUBLE) / 100.0
        |      - CAST(s AS DOUBLE) / 100.0 / CAST(n AS DOUBLE))
        |    / sqrt(varnum / 10000.0
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))), 6) AS z,
        |  ABS((CAST(v AS DOUBLE) / 100.0
        |      - CAST(s AS DOUBLE) / 100.0 / CAST(n AS DOUBLE))
        |    / sqrt(varnum / 10000.0
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))) > 3.0
        |    AS anomalous
        |FROM j""".stripMargin,
    // Spark sha2(payload bytes) must equal DuckDB sha256(VARCHAR) on
    // the UTF-8 text payload — the media identity key, hash-pinned
    "q192_media_dedup" ->
      """SELECT sha256(text) AS checksum, MIN(doc_id) AS keep_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY sha256(text)""".stripMargin,
    // ascending (w, id) global rank; HUGEINT-exact moments; the same
    // closed form (2*srw - (n+1)*sw)/(n*sw) in one division
    "q193_gini" ->
      """WITH r AS (
        |  SELECT CAST(n_chars AS BIGINT) AS w,
        |    ROW_NUMBER() OVER (ORDER BY CAST(n_chars AS BIGINT), doc_id) AS rk
        |  FROM documents),
        |m AS (
        |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(CAST(w AS HUGEINT)) AS sw,
        |    SUM(CAST(rk AS HUGEINT) * w) AS srw
        |  FROM r)
        |SELECT CAST(n AS BIGINT) AS n, CAST(sw AS BIGINT) AS total_w,
        |  ROUND(CAST(2 * srw - (n + 1) * sw AS DOUBLE)
        |    / CAST(n * sw AS DOUBLE), 6) AS gini
        |FROM m""".stripMargin,
    // ascending (v, id) cumulative-mass walk; first row with
    // 2*cum >= tot; MIN over the qualifying suffix = that row's value
    "q194_weighted_median" ->
      """WITH b AS (
        |  SELECT l_returnflag AS g,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    CAST(l_quantity AS BIGINT) AS w,
        |    l_orderkey * 10 + l_linenumber AS id
        |  FROM lineitem),
        |c AS (
        |  SELECT g, v, w, id,
        |    SUM(w) OVER (PARTITION BY g ORDER BY v, id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(w) OVER (PARTITION BY g) AS tot
        |  FROM b)
        |SELECT g AS l_returnflag, MIN(v) AS median_value,
        |  CAST(MIN(tot) AS BIGINT) AS total_w
        |FROM c WHERE cum * 2 >= tot GROUP BY g""".stripMargin,
    // SemDeDup: the q32 portable-quantizer recipe (different salt)
    // feeding a within-cell lower-id cosine prune — the oracle replays
    // cell assignment and the pairwise predicate, so which pairs are
    // NEVER compared (cross-cell) is part of the checked contract.
    "q195_semantic_dedup" -> (semDedupCtes +
      """,
        |dup AS (
        |  SELECT id_a AS vec_id, MIN(id_b) AS dup_of,
        |    ROUND(MAX(sim), 6) AS max_dup_cos
        |  FROM pair WHERE sim >= 0.4 GROUP BY id_a)
        |SELECT g.vec_id, g.cell, d.dup_of, d.max_dup_cos,
        |  d.dup_of IS NULL AS keep
        |FROM asg g LEFT JOIN dup d ON d.vec_id = g.vec_id""".stripMargin),
    // SemDeDup scale path: planted far clump (md5 key >= 'd', exact
    // lattice jitter), corpus-derived nlist = ceil(n/8) in [16,65536],
    // and the second-level md5-rank split of every cell over 16
    // members — both quantizer levels and the composite cell id
    // (cell + k·sub) replayed verbatim, ties to the lower cell/sub
    "q328_semdedup_split" -> (semDedupSplitCtes +
      """,
        |dup AS (
        |  SELECT id_a AS vec_id, MIN(id_b) AS dup_of,
        |    ROUND(MAX(sim), 6) AS max_dup_cos
        |  FROM pair WHERE sim >= 0.4 GROUP BY id_a)
        |SELECT g.vec_id, g.cell, d.dup_of, d.max_dup_cos,
        |  d.dup_of IS NULL AS keep
        |FROM cells g LEFT JOIN dup d ON d.vec_id = g.vec_id""".stripMargin),
    // Linear quality filter: each feature is one integer-count ratio,
    // the logit accumulates left-to-right — mirrored term for term;
    // keep decided on the UNROUNDED logit on both sides.
    "q196_quality_filter" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(LENGTH(text) AS DOUBLE) AS len,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) AS npunct,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) AS nupper,
        |    CAST(LENGTH(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS nchars,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |      ELSE CAST(len(toks) AS DOUBLE) / CAST(len(toks) + 100 AS DOUBLE) END AS f_len,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |      ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS f_dist,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |      ELSE CAST(len(list_filter(toks,
        |        t -> t IN ('the','and','of','to','a','in','is','it'))) AS DOUBLE)
        |        / CAST(len(toks) AS DOUBLE) END AS f_stop,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |      ELSE nchars / CAST(len(toks) AS DOUBLE) END AS f_mean,
        |    CASE WHEN len = 0 THEN 0.0 ELSE npunct / len END AS f_punct,
        |    CASE WHEN len = 0 THEN 0.0 ELSE nupper / len END AS f_upper
        |  FROM t)
        |SELECT doc_id,
        |  ROUND(-1.2 + 2.0 * f_len + 1.5 * f_dist + 2.5 * f_stop
        |    + (-0.1) * f_mean + (-3.0) * f_punct + (-2.0) * f_upper, 6)
        |    AS quality_logit,
        |  (-1.2 + 2.0 * f_len + 1.5 * f_dist + 2.5 * f_stop
        |    + (-0.1) * f_mean + (-3.0) * f_punct + (-2.0) * f_upper) >= 0.0
        |    AS keep
        |FROM f""".stripMargin,
    // Interpolated Kneser-Ney: pure count arithmetic in one pinned
    // IEEE chain — max(c-D,0)/tot + ((D*N1fw)/tot)*(N1pw/Ntypes).
    "q197_kn_bigram" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT tk[CAST(i AS INTEGER)] AS w1,
        |    tk[CAST(i AS INTEGER) + 1] AS w2
        |  FROM tk, UNNEST(range(1, len(tk))) t(i)
        |  WHERE len(tk) >= 2),
        |c12 AS (SELECT w1, w2, COUNT(*) AS n_bigram FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, SUM(n_bigram) AS tot, COUNT(*) AS n1fw
        |       FROM c12 GROUP BY 1),
        |cw2 AS (SELECT w2, COUNT(*) AS n1pw FROM c12 GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS ntypes FROM c12)
        |SELECT c12.w1, c12.w2, c12.n_bigram,
        |  ROUND(greatest(CAST(c12.n_bigram AS DOUBLE) - 0.75, 0.0)
        |      / CAST(c1.tot AS DOUBLE)
        |    + ((0.75 * CAST(c1.n1fw AS DOUBLE)) / CAST(c1.tot AS DOUBLE))
        |      * (CAST(cw2.n1pw AS DOUBLE) / CAST(nn.ntypes AS DOUBLE)), 6)
        |    AS p_kn
        |FROM c12 JOIN c1 USING (w1) JOIN cw2 USING (w2) CROSS JOIN nn""".stripMargin,
    // Perplexity filter: the q197 model CTEs verbatim, the 6-dp
    // rounded probability pushed onto the q187 ln-lattice once per
    // bigram TYPE, exact integer occurrence sums, one pinned double
    // chain for the mean.
    "q198_perplexity" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, tk[CAST(i AS INTEGER)] AS w1,
        |    tk[CAST(i AS INTEGER) + 1] AS w2
        |  FROM tk, UNNEST(range(1, len(tk))) t(i)
        |  WHERE len(tk) >= 2),
        |c12 AS (SELECT w1, w2, COUNT(*) AS n_bigram FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, SUM(n_bigram) AS tot, COUNT(*) AS n1fw
        |       FROM c12 GROUP BY 1),
        |cw2 AS (SELECT w2, COUNT(*) AS n1pw FROM c12 GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS ntypes FROM c12),
        |model AS (
        |  SELECT c12.w1, c12.w2,
        |    CAST(ROUND(ln(
        |      ROUND(greatest(CAST(c12.n_bigram AS DOUBLE) - 0.75, 0.0)
        |          / CAST(c1.tot AS DOUBLE)
        |        + ((0.75 * CAST(c1.n1fw AS DOUBLE)) / CAST(c1.tot AS DOUBLE))
        |          * (CAST(cw2.n1pw AS DOUBLE) / CAST(nn.ntypes AS DOUBLE)), 6)
        |    ) * 100000000.0) AS BIGINT) AS lt
        |  FROM c12 JOIN c1 USING (w1) JOIN cw2 USING (w2) CROSS JOIN nn)
        |SELECT bg.doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(-((CAST(SUM(m.lt) AS DOUBLE) / 100000000.0)
        |    / CAST(COUNT(*) AS DOUBLE)), 6) AS avg_neg_logp
        |FROM bg JOIN model m ON bg.w1 = m.w1 AND bg.w2 = m.w2
        |GROUP BY bg.doc_id""".stripMargin,
    // Min-K%: the q198 model CTEs verbatim; per-doc bottom-ceil(n/5)
    // over the value-ordered lattice list, both means pinned chains
    "q312_mink_prob" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, tk[CAST(i AS INTEGER)] AS w1,
        |    tk[CAST(i AS INTEGER) + 1] AS w2
        |  FROM tk, UNNEST(range(1, len(tk))) t(i)
        |  WHERE len(tk) >= 2),
        |c12 AS (SELECT w1, w2, COUNT(*) AS n_bigram FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, SUM(n_bigram) AS tot, COUNT(*) AS n1fw
        |       FROM c12 GROUP BY 1),
        |cw2 AS (SELECT w2, COUNT(*) AS n1pw FROM c12 GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS ntypes FROM c12),
        |model AS (
        |  SELECT c12.w1, c12.w2,
        |    CAST(ROUND(ln(
        |      ROUND(greatest(CAST(c12.n_bigram AS DOUBLE) - 0.75, 0.0)
        |          / CAST(c1.tot AS DOUBLE)
        |        + ((0.75 * CAST(c1.n1fw AS DOUBLE)) / CAST(c1.tot AS DOUBLE))
        |          * (CAST(cw2.n1pw AS DOUBLE) / CAST(nn.ntypes AS DOUBLE)), 6)
        |    ) * 100000000.0) AS BIGINT) AS lt
        |  FROM c12 JOIN c1 USING (w1) JOIN cw2 USING (w2) CROSS JOIN nn),
        |per AS (
        |  SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(m.lt) AS BIGINT) AS s_all,
        |    list(m.lt ORDER BY m.lt) AS arr
        |  FROM bg JOIN model m ON bg.w1 = m.w1 AND bg.w2 = m.w2
        |  GROUP BY bg.doc_id),
        |kk AS (
        |  SELECT doc_id, n_bigrams, s_all, arr,
        |    CAST((n_bigrams * 1 + 4) // 5 AS BIGINT) AS k
        |  FROM per)
        |SELECT doc_id, n_bigrams, k,
        |  ROUND(-((CAST(list_sum(list_slice(arr, 1, k)) AS DOUBLE)
        |    / 100000000.0) / CAST(k AS DOUBLE)), 6) AS mink_neg_logp,
        |  ROUND(-((CAST(s_all AS DOUBLE) / 100000000.0)
        |    / CAST(n_bigrams AS DOUBLE)), 6) AS avg_neg_logp
        |FROM kk""".stripMargin,
    "q199_mmr" -> mmrSql,
    // Entity resolution: the q52 match predicate (length band +
    // levenshtein <= 2), transitive closure via the q60 recursive-CTE
    // recipe, min-member entity ids, sizes, canonical flags.
    "q200_entity_resolution" ->
      """WITH RECURSIVE p AS (
        |  SELECT p_partkey, p_name FROM part WHERE p_partkey < 1000),
        |pairs AS (
        |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
        |  FROM p a JOIN p b ON a.p_partkey < b.p_partkey
        |  WHERE abs(len(a.p_name) - len(b.p_name)) <= 2
        |    AND levenshtein(a.p_name, b.p_name) <= 2),
        |edges AS (
        |  SELECT id_a AS s, id_b AS t FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(s, t) AS (
        |  SELECT s, t FROM edges
        |  UNION
        |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
        |cc AS (
        |  SELECT d.p_partkey,
        |    LEAST(d.p_partkey, COALESCE(MIN(r.t), d.p_partkey)) AS entity_id
        |  FROM p d LEFT JOIN reach r ON r.s = d.p_partkey
        |  GROUP BY d.p_partkey),
        |sz AS (SELECT entity_id, COUNT(*) AS n_members FROM cc GROUP BY 1)
        |SELECT cc.p_partkey, cc.entity_id, sz.n_members,
        |  cc.p_partkey = cc.entity_id AS is_canonical
        |FROM cc JOIN sz USING (entity_id)""".stripMargin,
    "q201_kcenter_coreset" -> kCenterSql,
    // PSI drift: integer bin counts over a full dim x bin grid,
    // Laplace-smoothed single-division shares, each term a product of
    // two integer-lattice roundings summed exactly, one divide back.
    "q202_psi_drift" ->
      """WITH e AS (
        |  SELECT vec_id % 2 = 0 AS a, CAST(i AS INTEGER) AS dim,
        |    LEAST(GREATEST(CAST(FLOOR(
        |      (CAST(embedding[CAST(i AS INTEGER) + 1] AS DOUBLE) - (-0.8))
        |        / 0.2) AS INTEGER), 0), 7) AS bin
        |  FROM embeddings, UNNEST(range(len(embedding))) t(i)),
        |obs AS (
        |  SELECT dim, bin,
        |    SUM(CASE WHEN a THEN 1 ELSE 0 END) AS na,
        |    SUM(CASE WHEN a THEN 0 ELSE 1 END) AS nb
        |  FROM e GROUP BY 1, 2),
        |grid AS (
        |  SELECT d.dim, CAST(b AS INTEGER) AS bin
        |  FROM (SELECT DISTINCT dim FROM e) d, UNNEST(range(8)) t(b)),
        |c AS (
        |  SELECT g.dim, g.bin, COALESCE(o.na, 0) AS na,
        |    COALESCE(o.nb, 0) AS nb
        |  FROM grid g LEFT JOIN obs o ON o.dim = g.dim AND o.bin = g.bin),
        |tot AS (
        |  SELECT SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS ta,
        |    SUM(CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END) AS tb
        |  FROM embeddings),
        |terms AS (
        |  SELECT dim, na, nb,
        |    CAST(ROUND((pa - pb) * 100000000.0) AS BIGINT)
        |      * CAST(ROUND(ln(pa / pb) * 100000000.0) AS BIGINT) AS t
        |  FROM (
        |    SELECT c.dim, c.na, c.nb,
        |      CAST(c.na + 1 AS DOUBLE) / CAST(tot.ta + 8 AS DOUBLE) AS pa,
        |      CAST(c.nb + 1 AS DOUBLE) / CAST(tot.tb + 8 AS DOUBLE) AS pb
        |    FROM c, tot))
        |SELECT dim, ROUND(CAST(SUM(t) AS DOUBLE) / 1e16, 6) AS psi,
        |  CAST(SUM(na) AS BIGINT) AS n_a, CAST(SUM(nb) AS BIGINT) AS n_b
        |FROM terms GROUP BY dim""".stripMargin,
    // Hard negatives: q31's exact ranking restricted to the inclusive
    // cosine band, band test on the unrounded similarity.
    "q203_hard_negatives" ->
      """SELECT query_id, vec_id, ROUND(sim, 6) AS cosine_sim,
        |  CAST(rn AS INTEGER) AS rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    list_sum(list_transform(list_zip(c.embedding, q.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim,
        |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_sum(list_transform(list_zip(c.embedding, q.embedding),
        |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) DESC,
        |      c.vec_id ASC) AS rn
        |  FROM embeddings c
        |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
        |  WHERE c.vec_id <> q.vec_id
        |    AND list_sum(list_transform(list_zip(c.embedding, q.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
        |      BETWEEN 0.15 AND 0.35
        |) WHERE rn <= 10""".stripMargin,
    // Corpus datasheet: q81's per-doc quality (decimal-summed for an
    // order-free mean), arithmetic token counts, within-source sha-256
    // duplicate volume, language spread.
    "q204_corpus_report" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(LENGTH(text) AS DOUBLE) AS len,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) AS npunct,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) AS nupper,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, len,
        |    CASE WHEN len = 0 THEN 0.0 ELSE npunct / len END AS punct_ratio,
        |    CASE WHEN len = 0 THEN 0.0 ELSE nupper / len END AS upper_ratio,
        |    CAST(len(toks) AS DOUBLE) AS n,
        |    CAST(len(list_filter(toks,
        |      t -> t IN ('the','and','of','to','a','in','is','it'))) AS DOUBLE) AS stops
        |  FROM t),
        |tq AS (
        |  SELECT doc_id, ROUND(
        |      (CASE WHEN len < 20 THEN len/20.0
        |            WHEN len > 5000 THEN greatest(0.0, 1.0 - (len-5000)/20000.0)
        |            ELSE 1.0 END) * 0.3
        |    + greatest(0.0, 1.0 - punct_ratio * 4.0) * 0.25
        |    + greatest(0.0, 1.0 - upper_ratio * 3.0) * 0.2
        |    + least(1.0, (CASE WHEN n = 0 THEN 0.0 ELSE stops/n END) * 5.0 + 0.4) * 0.25,
        |    6) AS quality
        |  FROM r),
        |d AS (
        |  SELECT doc.source, doc.lang, tq.quality,
        |    CAST(CASE WHEN LENGTH(doc.text) = 0 THEN 0
        |      ELSE LENGTH(doc.text) - LENGTH(REPLACE(doc.text, ' ', '')) + 1
        |      END AS BIGINT) AS ntok
        |  FROM documents doc JOIN tq USING (doc_id)),
        |dup AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS dups FROM (
        |    SELECT source, sha256(text) AS sha, COUNT(*) AS c
        |    FROM documents GROUP BY 1, 2)
        |  WHERE c > 1 GROUP BY source),
        |agg AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(ntok) AS BIGINT) AS total_tokens,
        |    COUNT(DISTINCT lang) AS n_langs,
        |    ROUND(CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE), 6) AS avg_quality
        |  FROM d GROUP BY 1)
        |SELECT a.source, a.n_docs, a.total_tokens,
        |  COALESCE(dup.dups, CAST(0 AS BIGINT)) AS n_dup_docs,
        |  a.n_langs, a.avg_quality
        |FROM agg a LEFT JOIN dup ON dup.source = a.source""".stripMargin,
    // Embedding pooling: 6-dp-rounded components carried as DECIMAL
    // through the mean (order-free), max over identical decimals.
    "q205_embedding_pool" ->
      """WITH e AS (
        |  SELECT label, CAST(i AS INTEGER) AS dim,
        |    CAST(ROUND(CAST(embedding[CAST(i AS INTEGER) + 1] AS DOUBLE), 6)
        |      AS DECIMAL(20,6)) AS v
        |  FROM embeddings, UNNEST(range(len(embedding))) t(i))
        |SELECT label, dim, COUNT(*) AS n,
        |  ROUND(CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS mean_pool,
        |  ROUND(CAST(MAX(v) AS DOUBLE), 6) AS max_pool
        |FROM e GROUP BY label, dim""".stripMargin,
    "q206_random_walks" -> randomWalksSql,
    // HRW sharding: argmax over shards of md5(doc ":" shard), ties
    // (never in practice) to the larger shard id — struct-max parity.
    "q207_rendezvous_shards" ->
      """WITH sh AS (
        |  SELECT doc_id, CAST(j AS INTEGER) AS j,
        |    md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)) AS h
        |  FROM documents, UNNEST(range(9)) t(j)),
        |k8 AS (
        |  SELECT doc_id, j AS shard_k8 FROM sh WHERE j < 8
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY h DESC, j DESC) = 1),
        |k9 AS (
        |  SELECT doc_id, j AS shard_k9 FROM sh
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY h DESC, j DESC) = 1)
        |SELECT k8.doc_id, k8.shard_k8, k9.shard_k9,
        |  k8.shard_k8 <> k9.shard_k9 AS moved
        |FROM k8 JOIN k9 USING (doc_id)""".stripMargin,
    // Session-gap audit: per-user inter-event gaps, max + the exact
    // discrete P95 member at ceil(0.95*n) in (gap, event_id) order.
    "q208_session_gap_audit" ->
      """WITH g AS (
        |  SELECT user_id, event_id,
        |    epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (
        |      PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS gap
        |  FROM events),
        |gg AS (SELECT * FROM g WHERE gap IS NOT NULL),
        |st AS (
        |  SELECT user_id, COUNT(*) AS n_gaps, MAX(gap) AS max_gap_us
        |  FROM gg GROUP BY 1),
        |rk AS (
        |  SELECT user_id, event_id, gap,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY gap ASC, event_id ASC) AS rn
        |  FROM gg)
        |SELECT rk.user_id, st.n_gaps, st.max_gap_us,
        |  rk.gap AS p95_gap_us
        |FROM rk JOIN st USING (user_id)
        |WHERE rk.rn = CAST(CEIL(st.n_gaps * 0.95) AS BIGINT)""".stripMargin,
    // Subword fertility: q22/q24's token + boundary-spacing subword
    // mirrors, aggregated per language; one division.
    "q209_subword_fertility" ->
      """WITH t AS (
        |  SELECT lang,
        |    CAST(CASE WHEN LENGTH(text) = 0 THEN 0
        |      ELSE LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1
        |      END AS BIGINT) AS nt,
        |    CAST(len(list_filter(regexp_split_to_array(
        |      regexp_replace(regexp_replace(text,
        |        '([a-zA-Z])([^a-zA-Z\s])', '\1 \2', 'g'),
        |        '([^a-zA-Z\s])([a-zA-Z])', '\1 \2', 'g'),
        |      '\s+'), x -> len(x) > 0)) AS BIGINT) AS ns
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(nt) AS BIGINT) AS total_tokens,
        |  CAST(SUM(ns) AS BIGINT) AS total_subwords,
        |  ROUND(CAST(SUM(ns) AS DOUBLE) / CAST(SUM(nt) AS DOUBLE), 6)
        |    AS fertility
        |FROM t GROUP BY lang""".stripMargin,
    // Yield curve: q81's per-doc quality, swept over double
    // thresholds t/10.0 (the same IEEE division both sides).
    "q210_gate_yield" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(LENGTH(text) AS DOUBLE) AS len,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) AS npunct,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) AS nupper,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, len,
        |    CASE WHEN len = 0 THEN 0.0 ELSE npunct / len END AS punct_ratio,
        |    CASE WHEN len = 0 THEN 0.0 ELSE nupper / len END AS upper_ratio,
        |    CAST(len(toks) AS DOUBLE) AS n,
        |    CAST(len(list_filter(toks,
        |      t -> t IN ('the','and','of','to','a','in','is','it'))) AS DOUBLE) AS stops
        |  FROM t),
        |tq AS (
        |  SELECT doc_id, ROUND(
        |      (CASE WHEN len < 20 THEN len/20.0
        |            WHEN len > 5000 THEN greatest(0.0, 1.0 - (len-5000)/20000.0)
        |            ELSE 1.0 END) * 0.3
        |    + greatest(0.0, 1.0 - punct_ratio * 4.0) * 0.25
        |    + greatest(0.0, 1.0 - upper_ratio * 3.0) * 0.2
        |    + least(1.0, (CASE WHEN n = 0 THEN 0.0 ELSE stops/n END) * 5.0 + 0.4) * 0.25,
        |    6) AS quality
        |  FROM r),
        |x AS (
        |  SELECT doc.source, tq.quality, CAST(v AS DOUBLE) / 10.0 AS threshold
        |  FROM documents doc JOIN tq USING (doc_id),
        |    UNNEST(range(3, 9)) u(v))
        |SELECT source, threshold, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN quality >= threshold THEN 1 ELSE 0 END)
        |    AS BIGINT) AS survivors,
        |  ROUND(CAST(SUM(CASE WHEN quality >= threshold THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS yield_frac
        |FROM x GROUP BY source, threshold""".stripMargin,
    // Weak labels: three integer labeling functions + majority vote;
    // confidence = agreeing-votes share, one division.
    "q211_weak_labels" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(LENGTH(text) AS DOUBLE) AS len,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) AS npunct,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) AS nupper,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, len,
        |    CASE WHEN len = 0 THEN 0.0 ELSE npunct / len END AS punct_ratio,
        |    CASE WHEN len = 0 THEN 0.0 ELSE nupper / len END AS upper_ratio,
        |    CAST(len(toks) AS DOUBLE) AS n,
        |    CAST(len(list_filter(toks,
        |      t -> t IN ('the','and','of','to','a','in','is','it'))) AS DOUBLE) AS stops
        |  FROM t),
        |tq AS (
        |  SELECT doc_id, ROUND(
        |      (CASE WHEN len < 20 THEN len/20.0
        |            WHEN len > 5000 THEN greatest(0.0, 1.0 - (len-5000)/20000.0)
        |            ELSE 1.0 END) * 0.3
        |    + greatest(0.0, 1.0 - punct_ratio * 4.0) * 0.25
        |    + greatest(0.0, 1.0 - upper_ratio * 3.0) * 0.2
        |    + least(1.0, (CASE WHEN n = 0 THEN 0.0 ELSE stops/n END) * 5.0 + 0.4) * 0.25,
        |    6) AS quality
        |  FROM r),
        |b AS (
        |  SELECT doc.doc_id,
        |    CASE WHEN doc.lang = 'en' THEN 1 ELSE 0 END AS lf_lang,
        |    CASE WHEN (CASE WHEN LENGTH(doc.text) = 0 THEN 0
        |        ELSE LENGTH(doc.text) - LENGTH(REPLACE(doc.text, ' ', '')) + 1
        |        END) BETWEEN 50 AND 400 THEN 1 ELSE 0 END AS lf_len,
        |    CASE WHEN tq.quality >= 0.6 THEN 1 ELSE 0 END AS lf_quality
        |  FROM documents doc JOIN tq USING (doc_id))
        |SELECT doc_id, lf_lang, lf_len, lf_quality,
        |  lf_lang + lf_len + lf_quality AS votes,
        |  CAST(lf_lang + lf_len + lf_quality >= 2 AS INTEGER) AS label,
        |  ROUND(CASE WHEN lf_lang + lf_len + lf_quality >= 2
        |    THEN CAST(lf_lang + lf_len + lf_quality AS DOUBLE) / 3.0
        |    ELSE CAST(3 - (lf_lang + lf_len + lf_quality) AS DOUBLE) / 3.0
        |    END, 6) AS confidence
        |FROM b""".stripMargin,
    // LSH recall: ground truth = all pairs at cosine >= 0.4; found ⇔
    // the pair's portable buckets are within Hamming 2 (the q29
    // blocking predicate in closed form).
    "q212_lsh_recall" ->
      """WITH planes AS (
        |  SELECT h.h AS h, list_transform(range(64), d ->
        |    CASE WHEN strpos('0123456789abcdef',
        |        substr(md5(CAST(h.h AS VARCHAR) || ':' || CAST(d AS VARCHAR)),
        |          1, 1)) - 1 >= 8
        |      THEN 1.0 ELSE -1.0 END) AS w
        |  FROM (SELECT unnest(range(6)) AS h) h),
        |proj AS (
        |  SELECT e.vec_id, p.h,
        |    list_sum(list_transform(list_zip(e.embedding, p.w),
        |      x -> CAST(x[1] AS DOUBLE) * x[2])) AS s
        |  FROM embeddings e CROSS JOIN planes p),
        |bkt AS (
        |  SELECT vec_id,
        |    CAST(SUM(CASE WHEN s >= 0
        |      THEN CAST(1 AS BIGINT) << CAST(h AS INTEGER)
        |      ELSE 0 END) AS BIGINT) AS b
        |  FROM proj GROUP BY vec_id),
        |ex AS (
        |  SELECT a.vec_id AS id_a, b2.vec_id AS id_b
        |  FROM embeddings a JOIN embeddings b2 ON a.vec_id < b2.vec_id
        |  WHERE list_sum(list_transform(list_zip(a.embedding, b2.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(b2.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) >= 0.4)
        |SELECT COUNT(*) AS n_true_pairs,
        |  CAST(SUM(CASE WHEN bit_count(xor(ba.b, bb.b)) <= 2
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
        |  ROUND(CAST(SUM(CASE WHEN bit_count(xor(ba.b, bb.b)) <= 2
        |      THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS recall
        |FROM ex JOIN bkt ba ON ba.vec_id = ex.id_a
        |  JOIN bkt bb ON bb.vec_id = ex.id_b""".stripMargin,
    // Streaming top-k batch parity: the q50 window form per 5-minute
    // bucket, rank <= 3, (value desc, event_id asc) ties.
    "q213_stream_topk" ->
      """SELECT window_start, event_type, CAST(rn AS INTEGER) AS rank,
        |  event_id, "value" FROM (
        |  SELECT strftime(make_timestamp(
        |      (epoch_us(ts) // 300000000) * 300000000),
        |      '%Y-%m-%d %H:%M:%S') AS window_start,
        |    event_type, event_id, "value",
        |    ROW_NUMBER() OVER (
        |      PARTITION BY epoch_us(ts) // 300000000, event_type
        |      ORDER BY "value" DESC, event_id ASC) AS rn
        |  FROM events) WHERE rn <= 3""".stripMargin,
    // Deletion audit: per-table conditional counts for the subject
    // blocklist (user_id < 10), q167's customer-derived user dim.
    "q214_deletion_audit" ->
      """SELECT 'events' AS table_name, COUNT(*) AS n_before,
        |  CAST(SUM(CASE WHEN user_id < 10 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_deleted,
        |  COUNT(*) - CAST(SUM(CASE WHEN user_id < 10 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_after
        |FROM events
        |UNION ALL
        |SELECT 'user_dim', COUNT(*),
        |  CAST(SUM(CASE WHEN c_custkey - 1 < 10 THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(*) - CAST(SUM(CASE WHEN c_custkey - 1 < 10 THEN 1 ELSE 0 END)
        |    AS BIGINT)
        |FROM customer WHERE c_custkey <= 150""".stripMargin,
    // Laplace release: u = 60-bit md5 integer / 2^60 (exact), inverse
    // CDF with the lattice ln, integer-rounded noise on the count.
    "q215_dp_counts" ->
      """WITH c AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    ('0x' || substr(md5(event_type || ':dp_v1'), 1, 15))::BIGINT
        |      / power(2.0, 60.0) AS u
        |  FROM events GROUP BY 1)
        |SELECT event_type,
        |  n + CAST(ROUND(
        |    (-10.0) * sign(u - 0.5)
        |      * (CAST(CAST(ROUND(ln(1.0 - 2.0 * abs(u - 0.5)) * 100000000.0)
        |          AS BIGINT) AS DOUBLE) / 100000000.0)
        |  ) AS BIGINT) AS noisy_count,
        |  CAST(0.1 AS DOUBLE) AS epsilon
        |FROM c""".stripMargin,
    // Repeated-span detection: the postings/flag/island pipeline
    // replayed — same md5-prefix gram key, same gap ≤ k merge rule.
    "q216_repeated_spans" -> repeatedSpanSql(
      """SELECT doc_id, CAST(MIN(pos) AS INTEGER) AS span_start,
        |  CAST(MAX(pos) + 8 AS INTEGER) AS span_end,
        |  CAST(MAX(pos) + 8 - MIN(pos) AS INTEGER) AS span_len,
        |  COUNT(*) AS n_grams
        |FROM isl GROUP BY doc_id, island""".stripMargin),
    "q217_repeated_budget" -> repeatedSpanSql(
      """SELECT d.doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(d.text, '\s+'),
        |    t -> len(t) > 0)) AS BIGINT) AS n_tokens,
        |  COALESCE(sp.repeated_tokens, 0) AS repeated_tokens,
        |  COALESCE(sp.n_spans, 0) AS n_spans,
        |  ROUND(CASE WHEN len(list_filter(regexp_split_to_array(d.text,
        |      '\s+'), t -> len(t) > 0)) = 0 THEN 0.0
        |    ELSE CAST(COALESCE(sp.repeated_tokens, 0) AS DOUBLE)
        |      / CAST(len(list_filter(regexp_split_to_array(d.text, '\s+'),
        |          t -> len(t) > 0)) AS DOUBLE) END, 6) AS repeated_frac
        |FROM documents d LEFT JOIN (
        |  SELECT doc_id, CAST(SUM(span_len) AS BIGINT) AS repeated_tokens,
        |    COUNT(*) AS n_spans
        |  FROM (SELECT doc_id, island,
        |          MAX(pos) + 8 - MIN(pos) AS span_len
        |        FROM isl GROUP BY doc_id, island)
        |  GROUP BY doc_id) sp USING (doc_id)""".stripMargin),
    // DSIR: the hashed model (256 buckets, add-one smoothed, both ln
    // terms on the 1e-8 lattice) rebuilt bucket-for-bucket; the doc
    // weight is the exact int64 dot product / 1e8.
    "q218_dsir_weights" ->
      """WITH tok AS (
        |  SELECT doc_id, (lang = 'en') AS is_t,
        |    ('0x' || substr(md5(t.term), 1, 15))::BIGINT % 256 AS b
        |  FROM (SELECT doc_id, lang, unnest(list_filter(
        |          regexp_split_to_array(lower(text), '\s+'),
        |          x -> len(x) > 0)) AS term
        |        FROM documents) t),
        |cnt AS (SELECT b, SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
        |          COUNT(*) AS cr
        |        FROM tok GROUP BY b),
        |f AS (SELECT r.b, CAST(COALESCE(ct, 0) AS BIGINT) AS ct,
        |        CAST(COALESCE(cr, 0) AS BIGINT) AS cr
        |      FROM (SELECT unnest(range(256)) AS b) r
        |      LEFT JOIN cnt USING (b)),
        |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt,
        |          CAST(SUM(cr) AS BIGINT) AS nr FROM f),
        |lat AS (
        |  SELECT b,
        |    CAST(ROUND(ln(CAST(ct + 1 AS DOUBLE)
        |        / CAST(nt + 256 AS DOUBLE)) * 100000000.0) AS BIGINT)
        |    - CAST(ROUND(ln(CAST(cr + 1 AS DOUBLE)
        |        / CAST(nr + 256 AS DOUBLE)) * 100000000.0) AS BIGINT) AS dl
        |  FROM f CROSS JOIN tot),
        |dw AS (SELECT doc_id, b, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |w AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |        CAST(SUM(c * dl) AS BIGINT) AS lw
        |      FROM dw JOIN lat USING (b) GROUP BY 1)
        |SELECT d.doc_id, CAST(COALESCE(w.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  ROUND(CAST(COALESCE(w.lw, 0) AS DOUBLE) / 100000000.0, 6)
        |    AS log_weight
        |FROM documents d LEFT JOIN w USING (doc_id)""".stripMargin,
    // Gopher battery: every signal a count or one division of counts
    "q219_gopher_rules" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |    '\s+'), x -> len(x) > 0) AS tk
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(tk) AS BIGINT) AS n_words,
        |    CASE WHEN len(tk) = 0 THEN 0.0
        |      ELSE ROUND(CAST(COALESCE(list_sum(list_transform(tk,
        |          x -> len(x))), 0) AS DOUBLE)
        |        / CAST(len(tk) AS DOUBLE), 6) END AS mean_word_len,
        |    CASE WHEN len(tk) = 0 THEN 0.0
        |      ELSE ROUND(CAST(len(list_filter(tk, x ->
        |          contains(x, '#') OR contains(x, '...'))) AS DOUBLE)
        |        / CAST(len(tk) AS DOUBLE), 6) END AS symbol_ratio,
        |    CASE WHEN len(tk) = 0 THEN 0.0
        |      ELSE ROUND(CAST(len(list_filter(tk, x ->
        |          regexp_matches(x, '[a-z]'))) AS DOUBLE)
        |        / CAST(len(tk) AS DOUBLE), 6) END AS alpha_ratio,
        |    CAST(len(list_filter(tk, x -> list_contains(
        |      ['the','be','to','of','and','that','have','with'], x)))
        |      AS BIGINT) AS n_stopwords
        |  FROM t)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_ratio,
        |  n_stopwords,
        |  (n_words >= 10 AND n_words <= 100000) AS ok_words,
        |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_mean_len,
        |  (symbol_ratio < 0.1) AS ok_symbols,
        |  (alpha_ratio >= 0.8) AS ok_alpha,
        |  (n_stopwords >= 2) AS ok_stopwords,
        |  ((n_words >= 10 AND n_words <= 100000)
        |    AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
        |    AND symbol_ratio < 0.1 AND alpha_ratio >= 0.8
        |    AND n_stopwords >= 2) AS keep
        |FROM s""".stripMargin,
    // UniMax waterfill: the closed-form level over the n-source frame
    "q220_unimax_alloc" ->
      """WITH ps AS (
        |  SELECT source, CAST(SUM(CASE WHEN LENGTH(text) = 0 THEN 0
        |    ELSE LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 END)
        |    AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |c AS (SELECT source, n_tokens, n_tokens * 4 AS cap_tokens FROM ps),
        |w AS (
        |  SELECT *,
        |    CAST(FLOOR(CAST((SELECT SUM(n_tokens) FROM c) AS DOUBLE) * 0.5)
        |      AS BIGINT) AS budget,
        |    CAST(COALESCE(SUM(cap_tokens) OVER (
        |      ORDER BY cap_tokens, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS sprev,
        |    ROW_NUMBER() OVER (ORDER BY cap_tokens, source) AS rn,
        |    COUNT(*) OVER () AS n,
        |    LAG(cap_tokens) OVER (ORDER BY cap_tokens, source) AS prevcap
        |  FROM c),
        |v AS (
        |  SELECT *,
        |    CAST(budget - sprev AS DOUBLE)
        |      / CAST(n - rn + 1 AS DOUBLE) AS t_cand
        |  FROM w),
        |lvl AS (SELECT MIN(CASE WHEN
        |    t_cand <= CAST(cap_tokens AS DOUBLE)
        |    AND (rn = 1 OR CAST(prevcap AS DOUBLE) <= t_cand)
        |  THEN t_cand END) AS t FROM v)
        |SELECT source, n_tokens, cap_tokens,
        |  CASE WHEN t IS NULL THEN cap_tokens
        |    ELSE LEAST(cap_tokens, CAST(FLOOR(t) AS BIGINT))
        |  END AS alloc_tokens,
        |  ROUND(CAST(CASE WHEN t IS NULL THEN cap_tokens
        |      ELSE LEAST(cap_tokens, CAST(FLOOR(t) AS BIGINT)) END AS DOUBLE)
        |    / CAST(n_tokens AS DOUBLE), 6) AS epochs
        |FROM v CROSS JOIN lvl""".stripMargin,
    // Encoding audit over the planted corruption; counts via the
    // length-difference trick, RE2 hex classes ≡ the engine's Java
    // regex classes on code points
    "q221_encoding_audit" ->
      """WITH p AS (
        |  SELECT doc_id, text ||
        |    CASE doc_id % 4
        |      WHEN 0 THEN ' caf' || chr(195) || chr(169)
        |        || ' na' || chr(195) || chr(175) || 've'
        |      WHEN 1 THEN ' bad' || chr(65533) || 'char' || chr(65533)
        |      WHEN 2 THEN ' ctl' || chr(133) || 'end'
        |      ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(text) - len(regexp_replace(text, '\x{FFFD}', '', 'g'))
        |    AS BIGINT) AS n_replacement,
        |  CAST(len(text) - len(regexp_replace(text, '[\x{80}-\x{9F}]', '', 'g'))
        |    AS BIGINT) AS n_c1_controls,
        |  CAST((len(text) - len(regexp_replace(text,
        |      '\x{C3}[\x{80}-\x{BF}]', '', 'g'))) / 2 AS BIGINT)
        |    AS n_mojibake_pairs,
        |  CASE WHEN len(text) = 0 THEN 1.0
        |    ELSE ROUND(CAST(len(regexp_replace(text,
        |        '[^\x{00}-\x{7F}]', '', 'g')) AS DOUBLE)
        |      / CAST(len(text) AS DOUBLE), 6) END AS ascii_ratio,
        |  (len(text) = len(regexp_replace(text, '\x{FFFD}', '', 'g'))
        |   AND len(text) = len(regexp_replace(text, '[\x{80}-\x{9F}]', '', 'g'))
        |   AND len(text) = len(regexp_replace(text,
        |     '\x{C3}[\x{80}-\x{BF}]', '', 'g'))) AS clean
        |FROM p""".stripMargin,
    // KMV: the bottom-64 order statistic replayed with a window rank
    "q222_kmv_distinct" ->
      """WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
        |u AS (SELECT event_type, user_id,
        |  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':kmv_v1'),
        |    1, 15))::BIGINT AS DOUBLE) / power(2.0, 60.0) AS u
        |  FROM d),
        |r AS (SELECT event_type, user_id, u,
        |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY u, user_id)
        |    AS rn,
        |  COUNT(*) OVER (PARTITION BY event_type) AS n_exact
        |  FROM u),
        |k AS (SELECT event_type, CAST(MAX(n_exact) AS BIGINT) AS n_exact,
        |        MAX(CASE WHEN rn <= 64 THEN u END) AS v_k,
        |        SUM(CASE WHEN rn <= 64 THEN 1 ELSE 0 END) AS kk
        |      FROM r GROUP BY 1)
        |SELECT event_type, n_exact,
        |  CASE WHEN kk < 64 THEN CAST(n_exact AS DOUBLE)
        |    ELSE ROUND(63.0 / v_k, 6) END AS kmv_estimate,
        |  (abs((CASE WHEN kk < 64 THEN CAST(n_exact AS DOUBLE)
        |      ELSE ROUND(63.0 / v_k, 6) END)
        |    / CAST(n_exact AS DOUBLE) - 1.0) <= 3.0 / sqrt(64.0))
        |    AS within_bound
        |FROM k""".stripMargin,
    // Winnowing: per-window struct-min (lexicographic ⇒ leftmost-pos
    // tie-break, same as the engine's min(struct(hash,pos))), then
    // DISTINCT over selected positions — the definition replayed.
    "q223_winnow_fp" -> winnowSql(
      """SELECT DISTINCT doc_id, m.p AS fp_pos, m.h AS fp_hash
        |FROM w WHERE pos <= n - 4""".stripMargin),
    "q224_winnow_profile" -> winnowSql(
      """SELECT d.doc_id,
        |  CAST(GREATEST(len(list_filter(regexp_split_to_array(d.text,
        |    '\s+'), t -> len(t) > 0)) - 3, 0) AS BIGINT) AS n_grams,
        |  COALESCE(f.nf, 0) AS n_fingerprints,
        |  ROUND(CASE WHEN GREATEST(len(list_filter(
        |      regexp_split_to_array(d.text, '\s+'),
        |      t -> len(t) > 0)) - 3, 0) = 0 THEN 0.0
        |    ELSE CAST(COALESCE(f.nf, 0) AS DOUBLE)
        |      / CAST(GREATEST(len(list_filter(regexp_split_to_array(d.text,
        |          '\s+'), t -> len(t) > 0)) - 3, 0) AS DOUBLE)
        |  END, 6) AS density
        |FROM documents d LEFT JOIN (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf FROM (
        |    SELECT DISTINCT doc_id, m.p, m.h
        |    FROM w WHERE pos <= n - 4)
        |  GROUP BY doc_id) f USING (doc_id)""".stripMargin),
    // Bitext margin: cosines 6-dp → DECIMAL, neighbourhood means by
    // one /k division, margin one fixed chain — q31's cosine mirror.
    "q225_bitext_margin" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS cand_id, embedding AS cv
        |      FROM embeddings WHERE vec_id >= 8),
        |p AS (SELECT query_id, cand_id,
        |  CAST(ROUND(
        |    list_sum(list_transform(list_zip(cv, qv),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(cv,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(qv,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
        |    AS DECIMAL(12,6)) AS cos
        |  FROM c CROSS JOIN q),
        |ta AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |         ORDER BY cos DESC, cand_id) AS rn FROM p),
        |ma AS (SELECT query_id, CAST(SUM(cos) AS DOUBLE) / 4 AS mq
        |       FROM ta WHERE rn <= 4 GROUP BY 1),
        |tb AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cand_id
        |         ORDER BY cos DESC, query_id) AS rn FROM p),
        |mb AS (SELECT cand_id, CAST(SUM(cos) AS DOUBLE) / 4 AS mc
        |       FROM tb WHERE rn <= 4 GROUP BY 1),
        |s AS (SELECT ta.query_id, ta.cand_id,
        |        CAST(ta.cos AS DOUBLE) AS cosine_sim,
        |        ROUND(CAST(ta.cos AS DOUBLE) / (mq / 2.0 + mc / 2.0), 6)
        |          AS margin
        |      FROM ta JOIN ma USING (query_id) JOIN mb USING (cand_id)
        |      WHERE ta.rn <= 4)
        |SELECT query_id, cand_id, cosine_sim, margin,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY margin DESC, cand_id) AS INTEGER) AS rank
        |FROM s""".stripMargin,
    // Canonical (formatting-invariant) duplicate groups over the
    // planted-dup corpus; [[:punct:]] ≡ Java \p{Punct} (q24 pairing)
    "q226_canonical_dups" -> (plantedDupSql + "\n" +
      """SELECT sha256(trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', '', 'g'), '\s+', ' ', 'g'))) AS canon_sha,
        |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
        |  COUNT(DISTINCT sha256(text)) AS n_raw_variants
        |FROM pd GROUP BY 1""".stripMargin),
    "q227_cross_source_dups" -> (plantedDupSql + ",\n" +
      """ss AS (SELECT DISTINCT sha256(text) AS sha, source FROM pd),
        |m AS (SELECT sha FROM ss GROUP BY sha HAVING COUNT(*) >= 2),
        |sh AS (SELECT ss.sha, ss.source FROM ss JOIN m USING (sha))
        |SELECT a.source AS source_a, b.source AS source_b,
        |  COUNT(*) AS n_shared_texts
        |FROM sh a JOIN sh b ON a.sha = b.sha AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin),
    // Split leakage: q94's md5 hash-split thresholds (cccc / e666)
    "q228_split_leakage" -> (plantedDupSql + ",\n" +
      """a AS (SELECT doc_id, sha256(text) AS sha,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split_v1'),
        |      1, 4) < 'cccc' THEN 'train'
        |    WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split_v1'),
        |      1, 4) < 'e666' THEN 'val'
        |    ELSE 'test' END AS split
        |  FROM pd),
        |ps AS (SELECT sha, split, COUNT(*) AS docs FROM a GROUP BY 1, 2)
        |SELECT a.split AS split_a, b.split AS split_b,
        |  COUNT(*) AS n_leaked_texts,
        |  CAST(SUM(a.docs + b.docs) AS BIGINT) AS n_docs_involved
        |FROM ps a JOIN ps b ON a.sha = b.sha AND a.split < b.split
        |GROUP BY 1, 2""".stripMargin),
    // Language-mix votes: marker counts (q24's IN-list mirrors), top
    // and second by (votes DESC, lang ASC) ≡ the engine's
    // greatest(struct(v, -idx, lang)) alphabetical tie-break
    "q229_language_mix" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |    '\s+'), x -> len(x) > 0) AS tk
        |  FROM documents),
        |v AS (SELECT doc_id,
        |  CAST(len(list_filter(tk, x -> x IN ('der','die','und','ist')))
        |    AS BIGINT) AS n_de,
        |  CAST(len(list_filter(tk, x -> x IN ('the','and','of','is')))
        |    AS BIGINT) AS n_en,
        |  CAST(len(list_filter(tk, x -> x IN ('el','la','y','es')))
        |    AS BIGINT) AS n_es,
        |  CAST(len(list_filter(tk, x -> x IN ('le','la','et','est')))
        |    AS BIGINT) AS n_fr,
        |  CAST(len(list_filter(tk, x -> x IN ('的','是','了','在')))
        |    AS BIGINT) AS n_zh
        |  FROM t),
        |u AS (
        |  SELECT doc_id, 'de' AS lang, n_de AS votes FROM v
        |  UNION ALL SELECT doc_id, 'en', n_en FROM v
        |  UNION ALL SELECT doc_id, 'es', n_es FROM v
        |  UNION ALL SELECT doc_id, 'fr', n_fr FROM v
        |  UNION ALL SELECT doc_id, 'zh', n_zh FROM v),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY votes DESC, lang ASC) AS rn FROM u),
        |tp AS (SELECT doc_id, lang AS t_lang, votes AS top_votes
        |       FROM r WHERE rn = 1),
        |sn AS (SELECT doc_id, lang AS s_lang, votes AS s_votes
        |       FROM r WHERE rn = 2)
        |SELECT v.doc_id, n_de, n_en, n_es, n_fr, n_zh,
        |  CASE WHEN top_votes > 0 THEN t_lang ELSE 'und' END AS top_lang,
        |  top_votes,
        |  CASE WHEN s_votes > 0 THEN s_lang END AS second_lang,
        |  GREATEST(s_votes, 0) AS second_votes,
        |  (s_votes >= 2 AND s_votes * 2 >= top_votes) AS is_mixed
        |FROM v JOIN tp USING (doc_id) JOIN sn USING (doc_id)""".stripMargin,
    // A-ES weighted reservoir: the ln(u)/w key replayed on the
    // lattice, rank by (key DESC, id) — the heap's pinned order
    "q230_weighted_reservoir" ->
      """WITH h AS (
        |  SELECT doc_id, n_chars,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':wres_v1'),
        |      1, 15))::BIGINT AS hv
        |  FROM documents WHERE n_chars > 0),
        |k AS (
        |  SELECT doc_id,
        |    CAST(CAST(ROUND(ln(CAST(hv + 1 AS DOUBLE) / power(2.0, 60.0))
        |        * 100000000.0) AS BIGINT) AS DOUBLE) / 100000000.0
        |      / CAST(n_chars AS DOUBLE) AS key
        |  FROM h),
        |r AS (SELECT doc_id, key,
        |        ROW_NUMBER() OVER (ORDER BY key DESC, doc_id) AS rn
        |      FROM k)
        |SELECT doc_id, CAST(rn AS INTEGER) AS rank,
        |  ROUND(key, 6) AS sample_key
        |FROM r WHERE rn <= 50""".stripMargin,
    // Assortativity: HUGEINT moments ≡ the engine's DECIMAL(38,0)
    "q231_assortativity" ->
      """WITH b AS (SELECT DISTINCT l_suppkey AS s,
        |             l_partkey + 10000000 AS p FROM lineitem),
        |e AS (SELECT s AS src, p AS dst FROM b
        |      UNION SELECT p, s FROM b),
        |deg AS (SELECT src AS n, COUNT(*) AS d FROM e GROUP BY 1),
        |wd AS (SELECT da.d AS dx, db.d AS dy
        |       FROM e JOIN deg da ON da.n = e.src
        |         JOIN deg db ON db.n = e.dst),
        |agg AS (SELECT COUNT(*) AS m, SUM(dx) AS sx, SUM(dy) AS sy,
        |          SUM(dx * dy) AS sxy, SUM(dx * dx) AS sxx,
        |          SUM(dy * dy) AS syy
        |        FROM wd),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
        |SELECT n_nodes, CAST(m / 2 AS BIGINT) AS n_edges,
        |  ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
        |     * sqrt(CAST(m * syy - sy * sy AS DOUBLE))), 6) AS assortativity
        |FROM agg CROSS JOIN nn""".stripMargin,
    // Streaming PSI: q78's 5-minute bucket mirror feeds the same
    // lattice-product PSI; category count and totals via subqueries
    "q232_stream_psi" ->
      """WITH wc AS (
        |  SELECT strftime(make_timestamp(
        |      (epoch_us(ts) // 300000000) * 300000000),
        |      '%Y-%m-%d %H:%M:%S') AS window_start,
        |    event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |ref AS (SELECT event_type, COUNT(*) AS nr FROM events GROUP BY 1),
        |rt AS (SELECT CAST(SUM(nr) AS BIGINT) AS tr,
        |         CAST(COUNT(*) AS BIGINT) AS ncats FROM ref),
        |gt AS (SELECT window_start, CAST(SUM(n) AS BIGINT) AS tg
        |       FROM wc GROUP BY 1),
        |grid AS (
        |  SELECT g.window_start, g.tg, r.event_type, r.nr,
        |    COALESCE(w.n, 0) AS ng, rt.tr, rt.ncats
        |  FROM gt g CROSS JOIN ref r CROSS JOIN rt
        |  LEFT JOIN wc w ON w.window_start = g.window_start
        |    AND w.event_type = r.event_type),
        |t AS (
        |  SELECT window_start, ng,
        |    CAST(ROUND((CAST(ng + 1 AS DOUBLE) / CAST(tg + ncats AS DOUBLE)
        |        - CAST(nr + 1 AS DOUBLE) / CAST(tr + ncats AS DOUBLE))
        |      * 100000000.0) AS BIGINT)
        |    * CAST(ROUND(ln(
        |        (CAST(ng + 1 AS DOUBLE) / CAST(tg + ncats AS DOUBLE))
        |        / (CAST(nr + 1 AS DOUBLE) / CAST(tr + ncats AS DOUBLE)))
        |      * 100000000.0) AS BIGINT) AS term
        |  FROM grid)
        |SELECT window_start,
        |  ROUND(CAST(SUM(term) AS DOUBLE) / 10000000000000000.0, 6) AS psi,
        |  CAST(SUM(ng) AS BIGINT) AS n_events
        |FROM t GROUP BY 1""".stripMargin,
    // Sentence stats + Flesch: run counts via length differences;
    // boundary = [.!?]+ then whitespace, counted over rtrim(text) so
    // trailing whitespace never turns the terminal run into an extra
    // boundary (terminal punctuation closes the last sentence with no
    // lookbehind needed)
    "q233_sentence_stats" ->
      """WITH p AS (
        |  SELECT doc_id, text ||
        |    CASE doc_id % 3
        |      WHEN 0 THEN '. A short tail follows here. Done now!'
        |      WHEN 1 THEN '. Only one more tail?'
        |      ELSE '' END AS text
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN LENGTH(text) = 0 THEN 0
        |      ELSE LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1
        |      END AS BIGINT) AS n_tokens,
        |    CAST(CASE WHEN LENGTH(text) = 0 THEN 0
        |      ELSE (LENGTH(regexp_replace(rtrim(text), '[.!?]+\s+', 'V', 'g'))
        |        - LENGTH(regexp_replace(rtrim(text), '[.!?]+\s+', '', 'g'))) + 1
        |      END AS BIGINT) AS n_sentences,
        |    CAST(LENGTH(regexp_replace(lower(text), '[aeiouy]+', 'V', 'g'))
        |      - LENGTH(regexp_replace(lower(text), '[aeiouy]+', '', 'g'))
        |      AS BIGINT) AS n_syllables
        |  FROM p)
        |SELECT doc_id, n_tokens, n_sentences, n_syllables,
        |  CASE WHEN n_tokens = 0 OR n_sentences = 0 THEN NULL
        |    ELSE ROUND(206.835
        |      - 1.015 * (CAST(n_tokens AS DOUBLE)
        |          / CAST(n_sentences AS DOUBLE))
        |      - 84.6 * (CAST(n_syllables AS DOUBLE)
        |          / CAST(n_tokens AS DOUBLE)), 6) END AS flesch
        |FROM s""".stripMargin,
    // Template clusters: the 8-token-prefix md5 key replayed; the
    // planted variant's trailing id is the ORIGINAL doc_id (aliases
    // are not visible to sibling select items in either engine)
    "q234_template_clusters" ->
      """WITH hv AS (
        |  SELECT doc_id + 300000 AS doc_id,
        |    array_to_string(list_slice(list_filter(
        |      regexp_split_to_array(text, '\s+'), t -> len(t) > 0),
        |      1, 8), ' ')
        |      || ' entirely different continuation body '
        |      || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents WHERE doc_id % 7 = 2),
        |pd AS (SELECT doc_id, text FROM documents
        |       UNION ALL SELECT doc_id, text FROM hv),
        |g AS (
        |  SELECT doc_id,
        |    substr(md5(array_to_string(list_slice(list_filter(
        |      regexp_split_to_array(text, '\s+'), t -> len(t) > 0),
        |      1, 8), ' ')), 1, 16) AS prefix_hash,
        |    sha256(text) AS body
        |  FROM pd)
        |SELECT prefix_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT body) AS n_distinct_bodies
        |FROM g GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin,
    // Burstiness: HUGEINT gap moments ≡ the engine's DECIMAL(38,0)
    "q235_arrival_burstiness" ->
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS gp
        |  FROM events),
        |a AS (SELECT user_id, COUNT(*) AS n,
        |        SUM(CAST(gp AS HUGEINT)) AS sg,
        |        SUM(CAST(gp AS HUGEINT) * CAST(gp AS HUGEINT)) AS sg2
        |      FROM g WHERE gp IS NOT NULL GROUP BY 1
        |      HAVING COUNT(*) >= 2)
        |SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
        |  ROUND(CAST(sg AS DOUBLE) / CAST(n AS DOUBLE)
        |    / 1000000.0, 6) AS mean_gap_s,
        |  ROUND(CAST(CAST(n AS HUGEINT) * sg2 - sg * sg AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT) * sg AS DOUBLE)
        |    / 1000000.0, 6) AS dispersion_s,
        |  ROUND((sqrt(CAST(CAST(n AS HUGEINT) * sg2 - sg * sg AS DOUBLE))
        |      - CAST(sg AS DOUBLE))
        |    / (sqrt(CAST(CAST(n AS HUGEINT) * sg2 - sg * sg AS DOUBLE))
        |      + CAST(sg AS DOUBLE)), 6) AS burstiness
        |FROM a""".stripMargin,
    // Leave-one-out influence: q24's quality algebra feeds per-source
    // decimal sums; every leave-one-out mean is algebra on the sums
    "q236_source_influence" -> (qualityCteSql + ",\n" +
      """d AS (SELECT doc.source, CAST(tq.quality AS DECIMAL(18,6)) AS s
        |      FROM documents doc JOIN tq USING (doc_id)),
        |ps AS (SELECT source, SUM(s) AS si, COUNT(*) AS n_rows
        |       FROM d GROUP BY 1),
        |tot AS (SELECT SUM(si) AS st, CAST(SUM(n_rows) AS BIGINT) AS nt
        |        FROM ps)
        |SELECT source, CAST(n_rows AS BIGINT) AS n_rows,
        |  ROUND(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS mean_all,
        |  ROUND(CAST(st - si AS DOUBLE)
        |    / CAST(nt - n_rows AS DOUBLE), 6) AS mean_without,
        |  ROUND(ROUND(CAST(st - si AS DOUBLE)
        |      / CAST(nt - n_rows AS DOUBLE), 6)
        |    - ROUND(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE), 6), 6)
        |    AS influence
        |FROM ps CROSS JOIN tot""".stripMargin),
    // Benford: integer-hundredths leading digit; expectations are
    // the same Double.toString literals the engine pins
    "q237_benford_audit" -> benfordSql,
    // Lead-lag: exact daily counts, per-lag HUGEINT moments, the
    // assortativity chain per lag
    "q238_leadlag_xcorr" ->
      """WITH daily AS (
        |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        |    event_type AS t, COUNT(*) AS n
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1, 2),
        |a AS (SELECT day, n AS na FROM daily WHERE t = 'click'),
        |b AS (SELECT day AS dayb, n AS nb FROM daily WHERE t = 'purchase'),
        |lags AS (SELECT CAST(unnest(range(-3, 4)) AS INTEGER) AS lag),
        |j AS (SELECT l.lag, a.na, b.nb
        |      FROM a CROSS JOIN lags l
        |      JOIN b ON b.dayb = a.day + l.lag),
        |m AS (SELECT lag, COUNT(*) AS m,
        |        SUM(CAST(na AS HUGEINT)) AS sx,
        |        SUM(CAST(nb AS HUGEINT)) AS sy,
        |        SUM(CAST(na AS HUGEINT) * CAST(nb AS HUGEINT)) AS sxy,
        |        SUM(CAST(na AS HUGEINT) * CAST(na AS HUGEINT)) AS sxx,
        |        SUM(CAST(nb AS HUGEINT) * CAST(nb AS HUGEINT)) AS syy
        |      FROM j GROUP BY 1 HAVING COUNT(*) >= 3)
        |SELECT lag, CAST(m AS BIGINT) AS n_days,
        |  ROUND(CAST(CAST(m AS HUGEINT) * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(CAST(m AS HUGEINT) * sxx - sx * sx AS DOUBLE))
        |     * sqrt(CAST(CAST(m AS HUGEINT) * syy - sy * sy AS DOUBLE))),
        |    6) AS corr
        |FROM m""".stripMargin,
    "q239_incremental_neardup" -> incrementalNearDupSql,
    "q240_kmv_setops" -> kmvSetOpsSql,
    // FD audit: one count-distinct collapse per dependency pair
    "q241_fd_audit" ->
      """WITH li AS (
        |  SELECT l.*, o.o_orderstatus
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |p1 AS (SELECT l_orderkey AS lk, COUNT(DISTINCT o_orderstatus) AS nr
        |       FROM li GROUP BY 1),
        |p2 AS (SELECT l_partkey AS lk, COUNT(DISTINCT l_suppkey) AS nr
        |       FROM li GROUP BY 1),
        |p3 AS (SELECT l_orderkey AS lk, COUNT(DISTINCT l_returnflag) AS nr
        |       FROM li GROUP BY 1)
        |SELECT 'l_orderkey' AS lhs, 'o_orderstatus' AS rhs,
        |  CAST(COUNT(*) AS BIGINT) AS n_lhs,
        |  CAST(SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating,
        |  (SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0) AS fd_holds
        |FROM p1
        |UNION ALL
        |SELECT 'l_partkey', 'l_suppkey', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |  (SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0)
        |FROM p2
        |UNION ALL
        |SELECT 'l_orderkey', 'l_returnflag', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |  (SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0)
        |FROM p3""".stripMargin,
    // FK orphans: anti-join counts vs partial and full dimensions
    "q242_fk_orphans" ->
      """WITH d100 AS (SELECT DISTINCT c_custkey - 1 AS k FROM customer
        |              WHERE c_custkey <= 100),
        |d150 AS (SELECT DISTINCT c_custkey - 1 AS k FROM customer
        |         WHERE c_custkey <= 150),
        |e AS (SELECT user_id FROM events)
        |SELECT 'user_id' AS child_key, 'user_id' AS parent_key,
        |  CAST(COUNT(*) AS BIGINT) AS n_child_rows,
        |  CAST(SUM(CASE WHEN d100.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_orphan_rows,
        |  CAST(COUNT(DISTINCT CASE WHEN d100.k IS NULL THEN user_id END)
        |    AS BIGINT) AS n_orphan_keys,
        |  (SUM(CASE WHEN d100.k IS NULL THEN 1 ELSE 0 END) = 0)
        |    AS integrity_holds
        |FROM e LEFT JOIN d100 ON e.user_id = d100.k
        |UNION ALL
        |SELECT 'user_id_full', 'user_id',
        |  CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CASE WHEN d150.k IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(COUNT(DISTINCT CASE WHEN d150.k IS NULL THEN user_id END)
        |    AS BIGINT),
        |  (SUM(CASE WHEN d150.k IS NULL THEN 1 ELSE 0 END) = 0)
        |FROM e LEFT JOIN d150 ON e.user_id = d150.k""".stripMargin,
    // G²: the q146 pair pipeline + four lattice-ln cell terms in
    // HUGEINT ≡ the engine's DECIMAL(38,0) accumulation
    "q243_llr_collocations" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id AS _doc, x AS tok
        |  FROM documents,
        |    UNNEST(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS t(x)),
        |n AS (SELECT COUNT(DISTINCT _doc) AS n_docs FROM toks),
        |n2 AS (SELECT COUNT(DISTINCT doc_id) AS nn FROM documents),
        |dfreq AS (
        |  SELECT tok, COUNT(*) AS df FROM toks GROUP BY 1
        |  HAVING COUNT(*) * 10 >= (SELECT n_docs FROM n)),
        |kept AS (SELECT _doc, tok FROM toks JOIN dfreq USING (tok)),
        |pairs AS (
        |  SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS c_ab
        |  FROM kept a JOIN kept b ON a._doc = b._doc AND a.tok < b.tok
        |  GROUP BY 1, 2
        |  HAVING COUNT(*) * 25 >= (SELECT n_docs FROM n)),
        |base AS (
        |  SELECT tok_a, tok_b, c_ab, da.df AS c_a, db.df AS c_b, n2.nn
        |  FROM pairs JOIN dfreq da ON pairs.tok_a = da.tok
        |    JOIN dfreq db ON pairs.tok_b = db.tok CROSS JOIN n2),
        |g AS (SELECT *, c_a - c_ab AS k12, c_b - c_ab AS k21,
        |        nn - c_a - c_b + c_ab AS k22,
        |        nn - c_a AS r2, nn - c_b AS cc2
        |      FROM base)
        |SELECT tok_a, tok_b, c_ab, c_a, c_b,
        |  ROUND(2.0 * (CAST(
        |      (CASE WHEN c_ab > 0 THEN CAST(c_ab AS HUGEINT)
        |        * CAST(ROUND(ln((CAST(c_ab AS DOUBLE) * CAST(nn AS DOUBLE))
        |            / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE)))
        |          * 100000000.0) AS BIGINT) ELSE 0 END)
        |    + (CASE WHEN k12 > 0 THEN CAST(k12 AS HUGEINT)
        |        * CAST(ROUND(ln((CAST(k12 AS DOUBLE) * CAST(nn AS DOUBLE))
        |            / (CAST(c_a AS DOUBLE) * CAST(cc2 AS DOUBLE)))
        |          * 100000000.0) AS BIGINT) ELSE 0 END)
        |    + (CASE WHEN k21 > 0 THEN CAST(k21 AS HUGEINT)
        |        * CAST(ROUND(ln((CAST(k21 AS DOUBLE) * CAST(nn AS DOUBLE))
        |            / (CAST(r2 AS DOUBLE) * CAST(c_b AS DOUBLE)))
        |          * 100000000.0) AS BIGINT) ELSE 0 END)
        |    + (CASE WHEN k22 > 0 THEN CAST(k22 AS HUGEINT)
        |        * CAST(ROUND(ln((CAST(k22 AS DOUBLE) * CAST(nn AS DOUBLE))
        |            / (CAST(r2 AS DOUBLE) * CAST(cc2 AS DOUBLE)))
        |          * 100000000.0) AS BIGINT) ELSE 0 END)
        |    AS DOUBLE) / 100000000.0), 6) AS g2
        |FROM g""".stripMargin,
    // Survival: day floor-division parity, descending cumulative
    // at-risk, lattice ln(1−h) cumulative; terminal row NULL
    "q244_survival_curve" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    MAX(epoch_us(ts) // 86400000000)
        |      - MIN(epoch_us(ts) // 86400000000) AS lt
        |  FROM events GROUP BY 1),
        |de AS (SELECT lt AS t_days, COUNT(*) AS deaths FROM pu GROUP BY 1),
        |w AS (SELECT t_days, deaths,
        |        SUM(deaths) OVER (ORDER BY t_days
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |          AS at_risk
        |      FROM de),
        |l AS (SELECT *, CASE WHEN deaths < at_risk
        |        THEN CAST(ROUND(ln(1.0 - CAST(deaths AS DOUBLE)
        |            / CAST(at_risk AS DOUBLE)) * 100000000.0) AS BIGINT)
        |        END AS lat
        |      FROM w),
        |c AS (SELECT *,
        |        SUM(lat) OVER (ORDER BY t_days
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        MAX(CASE WHEN lat IS NULL THEN t_days END) OVER () AS term
        |      FROM l)
        |SELECT CAST(t_days AS BIGINT) AS t_days,
        |  CAST(at_risk AS BIGINT) AS at_risk,
        |  CAST(deaths AS BIGINT) AS deaths,
        |  ROUND(CAST(deaths AS DOUBLE) / CAST(at_risk AS DOUBLE), 6)
        |    AS hazard,
        |  CASE WHEN t_days >= term THEN NULL
        |    ELSE ROUND(CAST(cum AS DOUBLE) / 100000000.0, 6)
        |  END AS ln_survival
        |FROM c""".stripMargin,
    // Vocabulary coverage: rank by (freq DESC, term), HUGEINT
    // cumulative ≡ DECIMAL(38,0)
    "q245_vocab_coverage" ->
      """WITH tf AS (
        |  SELECT x AS term, COUNT(*) AS f
        |  FROM documents,
        |    UNNEST(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS t(x)
        |  GROUP BY 1),
        |r AS (SELECT term, f,
        |        ROW_NUMBER() OVER (ORDER BY f DESC, term ASC) AS rk,
        |        SUM(f) OVER () AS tot,
        |        SUM(f) OVER (ORDER BY f DESC, term ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM tf)
        |SELECT CAST(rk AS INTEGER) AS rank, term,
        |  CAST(f AS BIGINT) AS n_occurrences,
        |  ROUND(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS cum_share
        |FROM r WHERE rk <= 30""".stripMargin,
    // Sorted-neighborhood: the (canonical-24-prefix, id) sort rank
    // replayed with one ROW_NUMBER; neighbor join = rank arithmetic
    "q246_sorted_neighborhood" -> (plantedDupSql + ",\n" +
      """k AS (SELECT doc_id AS id, list_filter(
        |    regexp_split_to_array(lower(text), '\s+'),
        |    t -> len(t) > 0) AS tk
        |  FROM pd),
        |r AS (SELECT id, tk,
        |    substr(trim(regexp_replace(regexp_replace(
        |      array_to_string(tk, ' '), '[[:punct:]]', '', 'g'),
        |      '\s+', ' ', 'g')), 1, 24) AS key
        |  FROM k),
        |rk AS (SELECT id, tk,
        |         ROW_NUMBER() OVER (ORDER BY key, id) AS rank
        |       FROM r)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(b.rank - a.rank AS INTEGER) AS rank_dist,
        |  ROUND(CAST(len(list_intersect(list_distinct(a.tk),
        |      list_distinct(b.tk))) AS DOUBLE)
        |    / CAST(len(list_distinct(a.tk || b.tk)) AS DOUBLE), 6)
        |    AS jaccard_sim
        |FROM rk a JOIN rk b
        |  ON b.rank BETWEEN a.rank + 1 AND a.rank + 3
        |WHERE CAST(len(list_intersect(list_distinct(a.tk),
        |    list_distinct(b.tk))) AS DOUBLE)
        |  / CAST(len(list_distinct(a.tk || b.tk)) AS DOUBLE) >= 0.5""".stripMargin),
    // Association rules: presence baskets, integer-ratio statistics
    "q247_assoc_rules" ->
      """WITH b AS (
        |  SELECT DISTINCT CAST(user_id AS VARCHAR) || ':'
        |      || CAST(epoch_us(ts) // 86400000000 AS VARCHAR) AS bk,
        |    event_type AS i
        |  FROM events),
        |n AS (SELECT COUNT(DISTINCT bk) AS nb FROM b),
        |it AS (SELECT i, COUNT(*) AS ni FROM b GROUP BY 1),
        |p AS (SELECT a.i AS item_a, c.i AS item_b, COUNT(*) AS n_ab
        |      FROM b a JOIN b c ON a.bk = c.bk AND a.i < c.i
        |      GROUP BY 1, 2)
        |SELECT item_a, item_b, CAST(nb AS BIGINT) AS n_baskets,
        |  CAST(ia.ni AS BIGINT) AS n_a, CAST(ib.ni AS BIGINT) AS n_b,
        |  CAST(n_ab AS BIGINT) AS n_ab,
        |  ROUND(CAST(n_ab AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS support,
        |  ROUND(CAST(n_ab AS DOUBLE) / CAST(ia.ni AS DOUBLE), 6)
        |    AS conf_a_to_b,
        |  ROUND(CAST(n_ab AS DOUBLE) / CAST(ib.ni AS DOUBLE), 6)
        |    AS conf_b_to_a,
        |  ROUND(CAST(n_ab * nb AS DOUBLE)
        |    / CAST(ia.ni * ib.ni AS DOUBLE), 6) AS lift
        |FROM p JOIN it ia ON p.item_a = ia.i
        |  JOIN it ib ON p.item_b = ib.i CROSS JOIN n""".stripMargin,
    // Keywords: distinct doc bigrams (q125's shingle mirror), group
    // presence-tf, lattice idf, (score DESC, term) top-3
    "q248_keywords" ->
      """WITH tk AS (
        |  SELECT doc_id, source, list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, source, unnest(list_distinct(
        |    list_transform(range(1, len(tk)),
        |      i -> tk[i] || ' ' || tk[i + 1]))) AS term
        |  FROM tk WHERE len(tk) >= 2),
        |tf AS (SELECT source, term, COUNT(*) AS tf FROM sh GROUP BY 1, 2),
        |gf AS (SELECT term, COUNT(*) AS gf FROM tf GROUP BY 1),
        |g AS (SELECT COUNT(DISTINCT source) AS ng FROM documents),
        |sc AS (
        |  SELECT tf.source, tf.term, tf.tf, gf.gf,
        |    ROUND(CAST(tf.tf * CAST(ROUND(ln(CAST(ng AS DOUBLE)
        |        / CAST(gf.gf AS DOUBLE)) * 100000000.0) AS BIGINT)
        |      AS DOUBLE) / 100000000.0, 6) AS score
        |  FROM tf JOIN gf USING (term) CROSS JOIN g),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |        ORDER BY score DESC, term ASC) AS rank
        |      FROM sc)
        |SELECT source, CAST(rank AS INTEGER) AS rank, term,
        |  CAST(tf AS BIGINT) AS tf, CAST(gf AS BIGINT) AS gf, score
        |FROM r WHERE rank <= 3 AND score > 0.0""".stripMargin,
    // Column profiler: one aggregate, DECIMAL-carried means
    "q249_column_profile" ->
      """WITH a AS (
        |  SELECT COUNT(*) AS n,
        |    SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS z1,
        |    COUNT(DISTINCT l_quantity) AS d1,
        |    MIN(CAST(l_quantity AS DOUBLE)) AS mn1,
        |    MAX(CAST(l_quantity AS DOUBLE)) AS mx1,
        |    SUM(CAST(l_quantity AS DECIMAL(28,6))) AS s1,
        |    SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS z2,
        |    COUNT(DISTINCT l_extendedprice) AS d2,
        |    MIN(CAST(l_extendedprice AS DOUBLE)) AS mn2,
        |    MAX(CAST(l_extendedprice AS DOUBLE)) AS mx2,
        |    SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS s2,
        |    SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS z3,
        |    COUNT(DISTINCT l_discount) AS d3,
        |    MIN(CAST(l_discount AS DOUBLE)) AS mn3,
        |    MAX(CAST(l_discount AS DOUBLE)) AS mx3,
        |    SUM(CAST(l_discount AS DECIMAL(28,6))) AS s3,
        |    SUM(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS z4,
        |    COUNT(DISTINCT l_tax) AS d4,
        |    MIN(CAST(l_tax AS DOUBLE)) AS mn4,
        |    MAX(CAST(l_tax AS DOUBLE)) AS mx4,
        |    SUM(CAST(l_tax AS DECIMAL(28,6))) AS s4
        |  FROM lineitem)
        |SELECT 'l_quantity' AS column_name, CAST(n AS BIGINT) AS n_rows,
        |  CAST(z1 AS BIGINT) AS n_null, CAST(d1 AS BIGINT) AS n_distinct,
        |  mn1 AS min_value, mx1 AS max_value,
        |  CASE WHEN n > z1 THEN ROUND(CAST(s1 AS DOUBLE)
        |    / CAST(n - z1 AS DOUBLE), 6) END AS mean_value
        |FROM a
        |UNION ALL SELECT 'l_extendedprice', CAST(n AS BIGINT),
        |  CAST(z2 AS BIGINT), CAST(d2 AS BIGINT), mn2, mx2,
        |  CASE WHEN n > z2 THEN ROUND(CAST(s2 AS DOUBLE)
        |    / CAST(n - z2 AS DOUBLE), 6) END FROM a
        |UNION ALL SELECT 'l_discount', CAST(n AS BIGINT),
        |  CAST(z3 AS BIGINT), CAST(d3 AS BIGINT), mn3, mx3,
        |  CASE WHEN n > z3 THEN ROUND(CAST(s3 AS DOUBLE)
        |    / CAST(n - z3 AS DOUBLE), 6) END FROM a
        |UNION ALL SELECT 'l_tax', CAST(n AS BIGINT),
        |  CAST(z4 AS BIGINT), CAST(d4 AS BIGINT), mn4, mx4,
        |  CASE WHEN n > z4 THEN ROUND(CAST(s4 AS DOUBLE)
        |    / CAST(n - z4 AS DOUBLE), 6) END FROM a""".stripMargin,
    // The r8 filter chain: the repeated-span scaffold feeds the
    // budget gate; the gopher battery and the q94 split are inline
    // derived tables — every stage the same mirror as its own query
    "q250_train_filter_v2" -> repeatedSpanSql(
      """SELECT d.doc_id, gp.n_words, bd.repeated_frac
        |FROM documents d
        |JOIN (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_words
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(
        |          lower(text), '\s+'), x -> len(x) > 0) AS tk
        |        FROM documents) tt
        |  WHERE len(tk) >= 10 AND len(tk) <= 100000
        |    AND len(tk) > 0
        |    AND ROUND(CAST(COALESCE(list_sum(list_transform(tk,
        |        x -> len(x))), 0) AS DOUBLE)
        |      / CAST(len(tk) AS DOUBLE), 6) BETWEEN 3.0 AND 10.0
        |    AND ROUND(CAST(len(list_filter(tk, x ->
        |        contains(x, '#') OR contains(x, '...'))) AS DOUBLE)
        |      / CAST(len(tk) AS DOUBLE), 6) < 0.1
        |    AND ROUND(CAST(len(list_filter(tk, x ->
        |        regexp_matches(x, '[a-z]'))) AS DOUBLE)
        |      / CAST(len(tk) AS DOUBLE), 6) >= 0.8
        |    AND len(list_filter(tk, x -> list_contains(
        |      ['the','be','to','of','and','that','have','with'], x))) >= 2
        |  ) gp ON gp.doc_id = d.doc_id
        |JOIN (
        |  SELECT d2.doc_id,
        |    ROUND(CASE WHEN len(list_filter(regexp_split_to_array(d2.text,
        |        '\s+'), t -> len(t) > 0)) = 0 THEN 0.0
        |      ELSE CAST(COALESCE(sp.rt, 0) AS DOUBLE)
        |        / CAST(len(list_filter(regexp_split_to_array(d2.text,
        |            '\s+'), t -> len(t) > 0)) AS DOUBLE) END, 6)
        |      AS repeated_frac
        |  FROM documents d2 LEFT JOIN (
        |    SELECT doc_id, CAST(SUM(span_len) AS BIGINT) AS rt FROM (
        |      SELECT doc_id, island, MAX(pos) + 8 - MIN(pos) AS span_len
        |      FROM isl GROUP BY doc_id, island)
        |    GROUP BY doc_id) sp USING (doc_id)
        |  ) bd ON bd.doc_id = d.doc_id
        |WHERE bd.repeated_frac <= 0.3
        |  AND substr(md5(CAST(d.doc_id AS VARCHAR) || ':split_v1'),
        |    1, 4) < 'cccc'""".stripMargin),
    // Distribution match: per-bin acceptance replayed over the
    // source-joined frame (totals computed exactly as the engine's
    // windows over the joined bins)
    "q251_dist_match" ->
      """WITH src AS (
        |  SELECT doc_id,
        |    LEAST((CASE WHEN LENGTH(text) = 0 THEN 0
        |      ELSE LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1
        |      END) // 20, 5) AS bin
        |  FROM documents),
        |tgt AS (
        |  SELECT LEAST((CASE WHEN LENGTH(text) = 0 THEN 0
        |      ELSE LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1
        |      END) // 20, 5) AS bin
        |  FROM documents WHERE lang = 'en'),
        |sb AS (SELECT bin, COUNT(*) AS ns FROM src GROUP BY 1),
        |tb AS (SELECT bin, COUNT(*) AS nt FROM tgt GROUP BY 1),
        |j AS (SELECT sb.bin, sb.ns, COALESCE(tb.nt, 0) AS nt
        |      FROM sb LEFT JOIN tb USING (bin)),
        |tot AS (SELECT CAST(SUM(ns) AS BIGINT) AS S,
        |          CAST(SUM(nt) AS BIGINT) AS T FROM j),
        |pr0 AS (SELECT bin,
        |          CAST(nt * S AS DOUBLE) / CAST(ns * T AS DOUBLE) AS ratio
        |        FROM j CROSS JOIN tot),
        |pr AS (SELECT bin, ratio / (SELECT MAX(ratio) FROM pr0) AS p
        |       FROM pr0)
        |SELECT s.doc_id, CAST(s.bin AS BIGINT) AS bin,
        |  ROUND(pr.p, 6) AS accept_p
        |FROM src s JOIN pr USING (bin)
        |WHERE CAST(('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)
        |    || ':distmatch_v1'), 1, 15))::BIGINT AS DOUBLE)
        |  / power(2.0, 60.0) < pr.p""".stripMargin,
    // Script mix: RE2 spellings of the same Unicode script classes
    // the engine names with Java's Is-prefix; rank by (count DESC,
    // pinned order latin < han < cyrillic)
    "q252_script_mix" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(text) - len(regexp_replace(text, '\p{L}', '', 'g'))
        |      AS BIGINT) AS n_letters,
        |    CAST(len(text) - len(regexp_replace(text, '\p{Latin}', '', 'g'))
        |      AS BIGINT) AS n_latin,
        |    CAST(len(text) - len(regexp_replace(text, '\p{Han}', '', 'g'))
        |      AS BIGINT) AS n_han,
        |    CAST(len(text) - len(regexp_replace(text, '\p{Cyrillic}', '',
        |      'g')) AS BIGINT) AS n_cyrillic
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, 'latin' AS s, n_latin AS v, 0 AS idx FROM c
        |  UNION ALL SELECT doc_id, 'han', n_han, 1 FROM c
        |  UNION ALL SELECT doc_id, 'cyrillic', n_cyrillic, 2 FROM c),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY v DESC, idx ASC) AS rn FROM u),
        |tp AS (SELECT doc_id, s AS t_s, v AS t_v FROM r WHERE rn = 1),
        |sn AS (SELECT doc_id, v AS s_v FROM r WHERE rn = 2)
        |SELECT c.doc_id, n_letters, n_latin, n_han, n_cyrillic,
        |  CASE WHEN t_v > 0 THEN t_s ELSE 'other' END AS dominant_script,
        |  (s_v * 5 >= n_letters AND s_v > 0) AS is_mixed_script
        |FROM c JOIN tp USING (doc_id) JOIN sn USING (doc_id)""".stripMargin,
    // Effective tokens: sha keep-min + the span pipeline over the
    // SURVIVORS (the q216 scaffold re-rooted on keep)
    "q253_effective_tokens" -> (plantedDupSql + ",\n" +
      """ps AS (SELECT doc_id, text, sha256(text) AS sha,
        |  CAST(CASE WHEN LENGTH(text) = 0 THEN 0
        |    ELSE LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1
        |    END AS BIGINT) AS tok
        |  FROM pd),
        |ki AS (SELECT sha, MIN(doc_id) AS doc_id FROM ps GROUP BY 1),
        |keep AS (SELECT ps.* FROM ps
        |         JOIN ki ON ps.sha = ki.sha AND ps.doc_id = ki.doc_id),
        |tkk AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(text, '\s+'), t -> len(t) > 0) AS tk
        |  FROM keep),
        |g AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
        |    substr(md5(array_to_string(list_slice(tk, i, i + 7), ' ')),
        |      1, 16) AS h
        |  FROM tkk, UNNEST(range(1, len(tk) - 6)) t(i)
        |  WHERE len(tk) >= 8),
        |freq AS (SELECT h FROM g GROUP BY h
        |         HAVING COUNT(DISTINCT doc_id) >= 2),
        |f AS (SELECT g.doc_id, g.pos FROM g JOIN freq USING (h)),
        |lg AS (SELECT doc_id, pos,
        |         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |       FROM f),
        |isl AS (SELECT doc_id, pos,
        |  SUM(CASE WHEN prev IS NOT NULL AND pos - prev <= 8
        |      THEN 0 ELSE 1 END)
        |    OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS island
        |  FROM lg),
        |sp AS (SELECT CAST(SUM(span_len) AS BIGINT) AS span_tokens FROM (
        |  SELECT doc_id, island, MAX(pos) + 8 - MIN(pos) AS span_len
        |  FROM isl GROUP BY 1, 2)),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_total,
        |          CAST(SUM(tok) AS BIGINT) AS total_tokens FROM ps),
        |kp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
        |         CAST(SUM(tok) AS BIGINT) AS kept_tokens FROM keep)
        |SELECT n_docs_total, total_tokens,
        |  n_docs_total - n_docs_kept AS n_dup_docs,
        |  total_tokens - kept_tokens AS dup_tokens_removed,
        |  COALESCE(span_tokens, 0) AS span_tokens_removed,
        |  kept_tokens - COALESCE(span_tokens, 0) AS effective_tokens
        |FROM tot CROSS JOIN kp CROSS JOIN sp""".stripMargin),
    // Disorder audit over the planted lateness
    "q254_disorder_audit" ->
      """WITH p AS (
        |  SELECT user_id, event_id,
        |    CASE WHEN event_id % 17 = 0
        |      THEN epoch_us(ts) - (event_id % 7 + 1) * 60000000
        |      ELSE epoch_us(ts) END AS us
        |  FROM events),
        |r AS (SELECT user_id, us,
        |        MAX(us) OVER (PARTITION BY user_id ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
        |      FROM p)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN rm IS NOT NULL AND us < rm
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  ROUND(CAST(MAX(CASE WHEN rm IS NOT NULL AND us < rm
        |      THEN rm - us ELSE 0 END) AS DOUBLE) / 1000000.0, 6)
        |    AS max_lateness_s
        |FROM r GROUP BY 1""".stripMargin,
    // Snake sharding: rank by (tokens DESC, id), boustrophedon stripe
    "q255_snake_shards" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(CASE WHEN LENGTH(text) = 0 THEN 0
        |    ELSE LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1
        |    END AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (SELECT doc_id, n_tokens,
        |        ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) AS rank
        |      FROM d)
        |SELECT doc_id, n_tokens, CAST(rank AS BIGINT) AS rank,
        |  CAST(CASE WHEN (rank - 1) % 16 < 8 THEN (rank - 1) % 16
        |    ELSE 15 - ((rank - 1) % 16) END AS INTEGER) AS shard
        |FROM r""".stripMargin,
    // Quantile normalization: q24's quality feeds the histogram
    // percentile (strictly-below mass / group size)
    "q256_quantile_norm" -> (qualityCteSql + ",\n" +
      """j AS (SELECT d.doc_id, d.source, tq.quality AS s
        |      FROM documents d JOIN tq USING (doc_id)),
        |h AS (SELECT source, s, COUNT(*) AS c FROM j GROUP BY 1, 2),
        |p AS (SELECT source, s,
        |        COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY s
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS below,
        |        SUM(c) OVER (PARTITION BY source) AS n
        |      FROM h)
        |SELECT j.doc_id, j.source, j.s AS score,
        |  ROUND(CAST(below AS DOUBLE) / CAST(n AS DOUBLE), 6) AS percentile
        |FROM j JOIN p ON p.source = j.source AND p.s = j.s""".stripMargin),
    // Spearman (permutation convention): both ranks replayed with
    // ROW_NUMBER over (value, id); exact Σd² in HUGEINT
    "q257_spearman" -> (qualityCteSql + ",\n" +
      """d AS (SELECT doc.doc_id, tq.quality AS q, doc.n_chars
        |      FROM documents doc JOIN tq USING (doc_id)),
        |rx AS (SELECT doc_id,
        |         ROW_NUMBER() OVER (ORDER BY q, doc_id) AS rxv FROM d),
        |ry AS (SELECT doc_id,
        |         ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS ryv FROM d),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |        SUM(CAST(rxv - ryv AS HUGEINT)
        |          * CAST(rxv - ryv AS HUGEINT)) AS sd2
        |      FROM rx JOIN ry USING (doc_id))
        |SELECT n, CAST(sd2 AS BIGINT) AS sum_d2,
        |  ROUND(1.0 - (6.0 * CAST(sd2 AS DOUBLE))
        |    / CAST(CAST(n AS HUGEINT)
        |      * (CAST(n AS HUGEINT) * CAST(n AS HUGEINT) - 1) AS DOUBLE),
        |    6) AS spearman_rho
        |FROM a""".stripMargin),
    // KMV growth timeline: per-day bottom-64 order statistic over
    // the first-day banded join, replayed with a window rank
    "q258_kmv_timeline" ->
      """WITH f AS (SELECT user_id AS v,
        |    MIN(epoch_us(ts) // 86400000000) AS fd
        |  FROM events GROUP BY 1),
        |d AS (SELECT DISTINCT fd AS day FROM f),
        |j AS (SELECT d.day, f.v,
        |    CAST(('0x' || substr(md5(CAST(f.v AS VARCHAR) || ':kmv_v1'),
        |      1, 15))::BIGINT AS DOUBLE) / power(2.0, 60.0) AS u
        |  FROM d JOIN f ON f.fd <= d.day),
        |r AS (SELECT day, v, u,
        |        ROW_NUMBER() OVER (PARTITION BY day ORDER BY u, v) AS rn,
        |        COUNT(*) OVER (PARTITION BY day) AS ne
        |      FROM j),
        |a AS (SELECT day, MAX(ne) AS ne,
        |        MAX(CASE WHEN rn <= 64 THEN u END) AS vk,
        |        SUM(CASE WHEN rn <= 64 THEN 1 ELSE 0 END) AS kk
        |      FROM r GROUP BY 1)
        |SELECT CAST(day AS BIGINT) AS day,
        |  CAST(ne AS BIGINT) AS n_exact_to_date,
        |  CASE WHEN kk < 64 THEN CAST(ne AS DOUBLE)
        |    ELSE ROUND(63.0 / vk, 6) END AS kmv_estimate,
        |  (abs((CASE WHEN kk < 64 THEN CAST(ne AS DOUBLE)
        |      ELSE ROUND(63.0 / vk, 6) END)
        |    / CAST(ne AS DOUBLE) - 1.0) <= 3.0 / sqrt(64.0))
        |    AS within_bound
        |FROM a""".stripMargin,
    // MOSS matching: the q223 winnowing scaffold re-rooted on the
    // planted corpus; 2 ≤ df ≤ 50 capped pair generation, ≥ 3 shared
    "q259_winnow_matches" -> (plantedDupSql + ",\n" +
      """tk AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
        |    t -> len(t) > 0) AS tk
        |  FROM pd),
        |g AS (
        |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
        |    substr(md5(array_to_string(list_slice(tk, i, i + 3), ' ')),
        |      1, 16) AS h,
        |    CAST(len(tk) - 3 AS INTEGER) AS n
        |  FROM tk, UNNEST(range(1, len(tk) - 2)) t(i)
        |  WHERE len(tk) >= 7),
        |w AS (
        |  SELECT doc_id, pos, n,
        |    MIN({'h': h, 'p': pos}) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
        |  FROM g),
        |fp AS (SELECT DISTINCT doc_id, m.p AS p, m.h AS h
        |       FROM w WHERE pos <= n - 4),
        |sh AS (SELECT h FROM fp GROUP BY h
        |       HAVING COUNT(*) BETWEEN 2 AND 50),
        |po AS (SELECT fp.h, fp.doc_id FROM fp JOIN sh USING (h))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        |FROM po a JOIN po b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 3""".stripMargin),
    // Audio headers: the oracle re-derives the PLANTED truth (params
    // and the exact header hex) arithmetically from doc_id; the Spark
    // side must recover the same values by PARSING the bytes it
    // built — a round-trip proof of the header math. LE fields are
    // emitted byte-by-byte (printf %02x per byte), independent of the
    // Spark side's %08x+reorder construction.
    "q260_audio_headers" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 2 = 0 AS is_wav,
        |    CAST([8000,11025,16000,22050,44100,48000][
        |      CAST((doc_id // 2) % 6 AS INTEGER) + 1] AS BIGINT) AS rate,
        |    CAST((doc_id // 2) % 2 + 1 AS BIGINT) AS wav_ch,
        |    CAST(doc_id % 3 + 1 AS BIGINT) AS flac_ch,
        |    CAST([8,16,24,32][CAST((doc_id // 2) % 4 AS INTEGER) + 1]
        |      AS BIGINT) AS wav_bits,
        |    CAST([8,16,24][CAST(doc_id % 3 AS INTEGER) + 1]
        |      AS BIGINT) AS flac_bits,
        |    CAST((doc_id * 2654435761) % 480000 + 1 AS BIGINT) AS n_samples,
        |    doc_id % 3 = 0 AS has_list
        |  FROM documents),
        |w AS (
        |  SELECT *, wav_ch * wav_bits // 8 AS ba FROM p),
        |x AS (
        |  SELECT *, rate * ba AS byte_rate, n_samples * ba AS data_size,
        |    36 + n_samples * ba + CASE WHEN has_list THEN 12 ELSE 0 END
        |      AS riff_size,
        |    rate * 17592186044416 + (flac_ch - 1) * 2199023255552
        |      + (flac_bits - 1) * 68719476736 + n_samples AS packed
        |  FROM w),
        |h AS (
        |  SELECT doc_id, is_wav, rate,
        |    CASE WHEN is_wav THEN wav_ch ELSE flac_ch END AS channels,
        |    CASE WHEN is_wav THEN wav_bits ELSE flac_bits END AS bits,
        |    n_samples,
        |    '52494646'
        |      || printf('%02x%02x%02x%02x', riff_size % 256,
        |           (riff_size // 256) % 256, (riff_size // 65536) % 256,
        |           (riff_size // 16777216) % 256)
        |      || '57415645' || '666d7420' || '10000000' || '0100'
        |      || printf('%02x%02x', wav_ch % 256, (wav_ch // 256) % 256)
        |      || printf('%02x%02x%02x%02x', rate % 256, (rate // 256) % 256,
        |           (rate // 65536) % 256, (rate // 16777216) % 256)
        |      || printf('%02x%02x%02x%02x', byte_rate % 256,
        |           (byte_rate // 256) % 256, (byte_rate // 65536) % 256,
        |           (byte_rate // 16777216) % 256)
        |      || printf('%02x%02x', ba % 256, (ba // 256) % 256)
        |      || printf('%02x%02x', wav_bits % 256, (wav_bits // 256) % 256)
        |      || CASE WHEN has_list THEN '4c49535404000000494e464f'
        |           ELSE '' END
        |      || '64617461'
        |      || printf('%02x%02x%02x%02x', data_size % 256,
        |           (data_size // 256) % 256, (data_size // 65536) % 256,
        |           (data_size // 16777216) % 256) AS wav_hex,
        |    '664c6143' || '80' || '000022' || '1000' || '1000'
        |      || '000000' || '000000' || printf('%016x', packed)
        |      || repeat('0', 32) AS flac_hex,
        |    has_list
        |  FROM x)
        |SELECT doc_id,
        |  CASE WHEN is_wav THEN 'wav' ELSE 'flac' END AS container,
        |  rate AS sample_rate, channels,
        |  bits AS bits_per_sample, n_samples,
        |  CAST((2 * n_samples * 1000000 + rate) // (2 * rate) AS DOUBLE)
        |    / 1000000.0 AS duration_s,
        |  CAST(CASE WHEN is_wav THEN
        |      44 + CASE WHEN has_list THEN 12 ELSE 0 END
        |    ELSE 42 END AS BIGINT) AS n_bytes,
        |  CASE WHEN is_wav THEN wav_hex ELSE flac_hex END AS header_hex
        |FROM h""".stripMargin,
    "q261_bpe_merges" -> bpeSql(6),
    "q262_bpe_encode" -> bpeEncodeSql(6),
    // Sentence dedup: the Readability boundary convention, terminal
    // punctuation stripped, md5-keyed corpus frequencies
    "q263_sentence_dedup" ->
      """WITH p AS (
        |  SELECT doc_id, text || CASE CAST(doc_id % 3 AS INTEGER)
        |    WHEN 0 THEN ' Subscribe to the newsletter today. All rights reserved.'
        |    WHEN 1 THEN ' All rights reserved.'
        |    ELSE '' END AS text
        |  FROM documents),
        |s0 AS (
        |  SELECT doc_id, trim(regexp_replace(x, '[.!?]+$', '')) AS sent
        |  FROM p, UNNEST(regexp_split_to_array(rtrim(text), '[.!?]+\s+'))
        |    AS t(x)),
        |s AS (SELECT doc_id, substr(md5(sent), 1, 16) AS h
        |      FROM s0 WHERE len(sent) > 0),
        |f AS (SELECT h, COUNT(*) AS f FROM s GROUP BY 1),
        |d AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sentences,
        |    CAST(SUM(CASE WHEN f >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup_sentences
        |  FROM s JOIN f USING (h) GROUP BY doc_id)
        |SELECT doc_id, n_sentences, n_dup_sentences,
        |  ROUND(CAST(n_dup_sentences AS DOUBLE)
        |    / CAST(n_sentences AS DOUBLE), 6) AS dup_frac,
        |  (ROUND(CAST(n_dup_sentences AS DOUBLE)
        |    / CAST(n_sentences AS DOUBLE), 6) <= 0.5) AS keep
        |FROM d""".stripMargin,
    // Edit verify: the q246 SNM candidate CTEs re-rooted, then one
    // banded levenshtein per candidate (maxDist=64: exact in-band,
    // NULL beyond — the oracle replays the band with a full-DP CASE)
    "q264_edit_verify" -> (plantedDupSql + ",\n" +
      """k AS (SELECT doc_id AS id, list_filter(
        |    regexp_split_to_array(lower(text), '\s+'),
        |    t -> len(t) > 0) AS tk
        |  FROM pd),
        |r AS (SELECT id, tk,
        |    substr(trim(regexp_replace(regexp_replace(
        |      array_to_string(tk, ' '), '[[:punct:]]', '', 'g'),
        |      '\s+', ' ', 'g')), 1, 24) AS key
        |  FROM k),
        |rk AS (SELECT id, tk,
        |         ROW_NUMBER() OVER (ORDER BY key, id) AS rank
        |       FROM r),
        |cand AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM rk a JOIN rk b
        |    ON b.rank BETWEEN a.rank + 1 AND a.rank + 3
        |  WHERE CAST(len(list_intersect(list_distinct(a.tk),
        |      list_distinct(b.tk))) AS DOUBLE)
        |    / CAST(len(list_distinct(a.tk || b.tk)) AS DOUBLE) >= 0.5)
        |SELECT id_a, id_b,
        |  CASE WHEN levenshtein(ta.text, tb.text) <= 64
        |    THEN CAST(levenshtein(ta.text, tb.text) AS BIGINT)
        |    ELSE NULL END AS edit_distance,
        |  CAST(length(ta.text) AS BIGINT) AS n_chars_a,
        |  CAST(length(tb.text) AS BIGINT) AS n_chars_b,
        |  CASE WHEN levenshtein(ta.text, tb.text) > 64 THEN NULL
        |    WHEN greatest(length(ta.text), length(tb.text)) = 0 THEN 1.0
        |    ELSE ROUND(1.0 - CAST(levenshtein(ta.text, tb.text) AS DOUBLE)
        |      / CAST(greatest(length(ta.text), length(tb.text)) AS DOUBLE),
        |      6) END AS edit_sim
        |FROM cand
        |JOIN pd ta ON cand.id_a = ta.doc_id
        |JOIN pd tb ON cand.id_b = tb.doc_id""".stripMargin),
    // JL projection: 1e-6-lattice int64 carry, md5-sign matrix, one
    // pinned double chain (/1e6, /4, round 6) per output
    "q265_jl_project" -> (jlECte("embeddings") + "\n" +
      """SELECT vec_id, CAST(j AS INTEGER) AS out_dim,
        |  CAST(CASE WHEN SUM(v6 * s) >= 0
        |      THEN (CAST(SUM(v6 * s) AS BIGINT) + 2) // 4
        |      ELSE -((-CAST(SUM(v6 * s) AS BIGINT) + 2) // 4) END
        |    AS DOUBLE) / 1000000.0 AS value
        |FROM e JOIN s USING (i) GROUP BY vec_id, j""".stripMargin),
    "q266_jl_distortion" -> (jlECte(
      "(SELECT * FROM embeddings WHERE vec_id < 200)") + ",\n" +
      """o AS (
        |  SELECT vec_id // 2 AS m, i,
        |    SUM(CASE WHEN vec_id % 2 = 0 THEN v6 ELSE -v6 END) AS d6,
        |    COUNT(*) AS nd
        |  FROM e GROUP BY 1, 2),
        |o2 AS (SELECT m, SUM(d6 * d6) AS o12 FROM o WHERE nd = 2
        |       GROUP BY m),
        |py AS (
        |  SELECT vec_id // 2 AS m, vec_id % 2 AS side, j,
        |    CASE WHEN SUM(v6 * s) >= 0
        |      THEN (CAST(SUM(v6 * s) AS BIGINT) + 2) // 4
        |      ELSE -((-CAST(SUM(v6 * s) AS BIGINT) + 2) // 4) END AS y6
        |  FROM e JOIN s USING (i) GROUP BY vec_id, j),
        |pd2 AS (
        |  SELECT m, j,
        |    SUM(CASE WHEN side = 0 THEN y6 ELSE -y6 END) AS d6,
        |    COUNT(*) AS np
        |  FROM py GROUP BY 1, 2),
        |p2 AS (SELECT m, SUM(d6 * d6) AS p12 FROM pd2 WHERE np = 2
        |       GROUP BY m)
        |SELECT CAST(m * 2 AS BIGINT) AS id_a,
        |  CAST(m * 2 + 1 AS BIGINT) AS id_b,
        |  ROUND(CAST(o12 AS DOUBLE) / 1000000000000.0, 6) AS d2_orig,
        |  ROUND(CAST(p12 AS DOUBLE) / 1000000000000.0, 6) AS d2_proj,
        |  CASE WHEN o12 = 0 THEN NULL
        |    ELSE ROUND(CAST(p12 AS DOUBLE) / CAST(o12 AS DOUBLE), 6)
        |    END AS distortion
        |FROM o2 JOIN p2 USING (m)""".stripMargin),
    // Chat structure: conversations planted from token quarters;
    // whitespace token arithmetic mirrors tokenCountArithmetic
    "q267_chat_stats" -> (chatMsgsCte + """,
        |t AS (
        |  SELECT doc_id, msgs,
        |    COALESCE(list_sum(list_transform(
        |      list_filter(msgs, x -> x.role = 'assistant'),
        |      x -> CASE WHEN len(x.content) = 0 THEN 0
        |        ELSE len(x.content) - len(replace(x.content, ' ', '')) + 1
        |        END)), 0) AS a_tok,
        |    COALESCE(list_sum(list_transform(
        |      list_filter(msgs, x -> x.role = 'user'),
        |      x -> CASE WHEN len(x.content) = 0 THEN 0
        |        ELSE len(x.content) - len(replace(x.content, ' ', '')) + 1
        |        END)), 0) AS u_tok,
        |    COALESCE(list_sum(list_transform(
        |      list_filter(msgs, x -> x.role = 'system'),
        |      x -> CASE WHEN len(x.content) = 0 THEN 0
        |        ELSE len(x.content) - len(replace(x.content, ' ', '')) + 1
        |        END)), 0) AS s_tok
        |  FROM m)
        |SELECT doc_id,
        |  CAST(len(msgs) AS BIGINT) AS n_turns,
        |  CAST(len(list_filter(msgs, x -> x.role = 'system')) AS BIGINT)
        |    AS n_system,
        |  CAST(len(list_filter(msgs, x -> x.role = 'user')) AS BIGINT)
        |    AS n_user,
        |  CAST(len(list_filter(msgs, x -> x.role = 'assistant')) AS BIGINT)
        |    AS n_assistant,
        |  CAST(a_tok AS BIGINT) AS assistant_tokens,
        |  CAST(u_tok AS BIGINT) AS user_tokens,
        |  CASE WHEN a_tok + u_tok + s_tok = 0 THEN NULL
        |    ELSE ROUND(CAST(a_tok AS DOUBLE)
        |      / CAST(a_tok + u_tok + s_tok AS DOUBLE), 6) END
        |    AS assistant_frac,
        |  CASE WHEN len(msgs) <= 1 THEN true
        |    ELSE NOT list_contains(list_transform(range(1, len(msgs)),
        |      i -> msgs[i].role = msgs[i+1].role), true) END AS alternates,
        |  (len(msgs) > 0 AND msgs[len(msgs)].role = 'assistant')
        |    AS ends_with_assistant
        |FROM t""".stripMargin),
    // Weighted MinHash: integer-weight expansion over tf capped at 4,
    // 16 portable md5 seeds; estimate AND exact weighted Jaccard
    "q268_weighted_minhash" -> (plantedDupSql + ",\n" +
      """pairs AS (
        |  SELECT doc_id AS id_a, doc_id + 100000 AS id_b FROM documents
        |  WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id, doc_id + 200000 FROM documents
        |  WHERE doc_id % 7 = 1
        |  UNION ALL SELECT doc_id, doc_id + 7 FROM documents
        |  WHERE doc_id % 7 = 3
        |    AND doc_id + 7 <= (SELECT MAX(doc_id) FROM documents)),
        |tf AS (
        |  SELECT id, t, CAST(LEAST(COUNT(*), 4) AS INTEGER) AS c
        |  FROM (SELECT doc_id AS id, x AS t
        |        FROM pd, UNNEST(list_filter(
        |          regexp_split_to_array(lower(text), '\s+'),
        |          y -> len(y) > 0)) AS u(x)
        |        WHERE doc_id IN (SELECT id_a FROM pairs
        |                         UNION SELECT id_b FROM pairs))
        |  GROUP BY 1, 2),
        |sg AS (
        |  SELECT id, s,
        |    MIN((((s + 1) * 2654435761 % 2147483647) *
        |         (('0x' || substr(md5('wmh_v1:' || t || ':'
        |            || CAST(j AS VARCHAR)), 1, 15))::BIGINT
        |          % 2147483647)
        |         + s * 40503 + 12345) % 2147483647) AS mh
        |  FROM tf, UNNEST(range(1, c + 1)) AS v(j),
        |    UNNEST(range(0, 16)) AS w(s)
        |  GROUP BY 1, 2),
        |e AS (
        |  SELECT p.id_a, p.id_b,
        |    ROUND(CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
        |      AS DOUBLE) / 16.0, 6) AS est_jaccard
        |  FROM pairs p
        |  JOIN sg a ON a.id = p.id_a
        |  JOIN sg b ON b.id = p.id_b AND b.s = a.s
        |  GROUP BY 1, 2),
        |tta AS (SELECT p.id_a, p.id_b, tf.t, tf.c
        |        FROM pairs p JOIN tf ON tf.id = p.id_a),
        |ttb AS (SELECT p.id_a, p.id_b, tf.t, tf.c
        |        FROM pairs p JOIN tf ON tf.id = p.id_b),
        |x AS (
        |  SELECT id_a, id_b,
        |    SUM(LEAST(COALESCE(tta.c, 0), COALESCE(ttb.c, 0))) AS smin,
        |    SUM(GREATEST(COALESCE(tta.c, 0), COALESCE(ttb.c, 0))) AS smax,
        |    CAST(COUNT(*) AS BIGINT) AS n_union_tokens
        |  FROM tta FULL OUTER JOIN ttb USING (id_a, id_b, t)
        |  GROUP BY 1, 2)
        |SELECT e.id_a, e.id_b, est_jaccard,
        |  ROUND(CAST(smin AS DOUBLE) / CAST(smax AS DOUBLE), 6)
        |    AS exact_jaccard,
        |  n_union_tokens
        |FROM e JOIN x ON e.id_a = x.id_a AND e.id_b = x.id_b""".stripMargin),
    // Boilerplate prefix: modal k-prefix per source, largest k whose
    // modal share clears 0.5; ties (count desc, prefix asc)
    "q269_boilerplate_prefix" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN 'breaking news update from the wire desk :: ' || text
        |      ELSE text END AS text,
        |    CASE WHEN doc_id % 3 = 0 THEN 'src_hdr' ELSE source END
        |      AS source
        |  FROM documents),
        |n AS (SELECT source, COUNT(*) AS n FROM p GROUP BY 1),
        |tk AS (SELECT source, list_filter(
        |    regexp_split_to_array(text, '\s+'), t -> len(t) > 0) AS tk
        |  FROM p),
        |pref AS (
        |  SELECT source, k, array_to_string(list_slice(tk, 1, k), ' ') AS pr
        |  FROM tk, UNNEST(range(1, LEAST(len(tk), 12) + 1)) AS u(k)
        |  WHERE len(tk) >= 1),
        |cnt AS (SELECT source, k, pr, COUNT(*) AS c FROM pref
        |        GROUP BY 1, 2, 3),
        |modal AS (
        |  SELECT source, k, c, pr FROM (
        |    SELECT source, k, c, pr, ROW_NUMBER() OVER (
        |      PARTITION BY source, k ORDER BY c DESC, pr) AS rn
        |    FROM cnt) WHERE rn = 1),
        |sh AS (SELECT m.source, k, pr, c,
        |    ROUND(CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 6) AS share
        |  FROM modal m JOIN n ON m.source = n.source),
        |best AS (
        |  SELECT source,
        |    MAX(CASE WHEN share >= 0.5 AND c >= 2 THEN k ELSE 0 END)
        |      AS prefix_len
        |  FROM sh GROUP BY 1)
        |SELECT b.source, CAST(n.n AS BIGINT) AS n_docs,
        |  CAST(b.prefix_len AS INTEGER) AS prefix_len,
        |  CASE WHEN b.prefix_len = 0 THEN NULL ELSE s2.pr END
        |    AS modal_prefix,
        |  CASE WHEN b.prefix_len = 0 THEN NULL ELSE s2.share END
        |    AS modal_share
        |FROM best b
        |JOIN n ON b.source = n.source
        |LEFT JOIN sh s2 ON s2.source = b.source AND s2.k = b.prefix_len""".stripMargin,
    // Preference audit: whitespace token arithmetic, per-pair 6-dp
    // Jaccard carried on the 1e-6 lattice, exact integer means
    "q270_preference_audit" ->
      """WITH tk AS (
        |  SELECT doc_id, source, list_filter(
        |    regexp_split_to_array(text, '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents),
        |p0 AS (
        |  SELECT doc_id, source,
        |    COALESCE(array_to_string(list_slice(tk, 11, 40), ' '), '') AS c0,
        |    COALESCE(array_to_string(list_slice(tk, 41, 60), ' '), '') AS r0
        |  FROM tk),
        |pr AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 3 = 0 THEN r0 ELSE c0 END AS chosen,
        |    CASE WHEN doc_id % 5 = 0 THEN
        |        (CASE WHEN doc_id % 3 = 0 THEN r0 ELSE c0 END)
        |      WHEN doc_id % 3 = 0 THEN c0 ELSE r0 END AS rejected
        |  FROM p0),
        |t AS (
        |  SELECT source,
        |    CAST(CASE WHEN LENGTH(chosen) = 0 THEN 0
        |      ELSE LENGTH(chosen) - LENGTH(REPLACE(chosen, ' ', '')) + 1
        |      END AS BIGINT) AS ct,
        |    CAST(CASE WHEN LENGTH(rejected) = 0 THEN 0
        |      ELSE LENGTH(rejected) - LENGTH(REPLACE(rejected, ' ', '')) + 1
        |      END AS BIGINT) AS rt,
        |    chosen = rejected AS tie,
        |    list_distinct(list_filter(
        |      regexp_split_to_array(lower(chosen), '\s+'),
        |      x -> len(x) > 0)) AS cs,
        |    list_distinct(list_filter(
        |      regexp_split_to_array(lower(rejected), '\s+'),
        |      x -> len(x) > 0)) AS rs
        |  FROM pr),
        |j AS (
        |  SELECT source, ct, rt, tie,
        |    CAST(ROUND((CASE WHEN len(list_distinct(cs || rs)) = 0 THEN 1.0
        |      ELSE ROUND(CAST(len(list_intersect(cs, rs)) AS DOUBLE)
        |        / CAST(len(list_distinct(cs || rs)) AS DOUBLE), 6) END)
        |      * 1000000, 0) AS BIGINT) AS j6
        |  FROM t)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  ROUND(CAST(SUM(CASE WHEN ct > rt THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS chosen_longer_frac,
        |  ROUND(CAST(SUM(CASE WHEN tie THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS tie_frac,
        |  ROUND(CAST(SUM(ct - rt) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS mean_len_delta,
        |  ROUND(CAST(SUM(j6) AS DOUBLE) / 1000000.0
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS mean_overlap
        |FROM j GROUP BY 1""".stripMargin,
    // Profile merge: the oracle computes the WHOLE-TABLE profile
    // directly (stats + bottom-64 KMV over '%.6f' value keys); the
    // engine must reach identical numbers via two shard profiles and
    // a merge — the KMV merge property makes the sketches equal
    "q271_profile_merge" -> profileMergeSql(
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
    // Budget selection: histogram threshold over score-desc token
    // cumsums; boundary bin filled greedily in id order (exclusive
    // prefix < remaining budget)
    "q272_budget_select" -> (qualityCteSql + ",\n" +
      """sc AS (
        |  SELECT d.doc_id, tq.quality AS quality,
        |    CAST(CASE WHEN LENGTH(d.text) = 0 THEN 0
        |      ELSE LENGTH(d.text) - LENGTH(REPLACE(d.text, ' ', '')) + 1
        |      END AS BIGINT) AS n_tokens
        |  FROM documents d JOIN tq USING (doc_id)),
        |h AS (SELECT quality AS q, SUM(n_tokens) AS bt FROM sc GROUP BY 1),
        |c AS (SELECT q, bt,
        |    COALESCE(SUM(bt) OVER (ORDER BY q DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cumbefore
        |  FROM h),
        |th AS (SELECT q AS tq_, cumbefore FROM c
        |       WHERE cumbefore < 20000 AND cumbefore + bt >= 20000),
        |pre AS (
        |  SELECT doc_id, quality, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY quality
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
        |  FROM sc)
        |SELECT sc.doc_id, sc.quality, sc.n_tokens
        |FROM sc, th WHERE sc.quality > th.tq_
        |UNION ALL
        |SELECT pre.doc_id, pre.quality, pre.n_tokens
        |FROM pre JOIN th ON pre.quality = th.tq_
        |WHERE pre.p < 20000 - th.cumbefore
        |UNION ALL
        |SELECT doc_id, quality, n_tokens FROM sc
        |WHERE (SELECT COUNT(*) FROM th) = 0""".stripMargin),
    // Model-based LID: the oracle rebuilds the planted multilingual
    // strings and replays the integer score algebra generated from
    // the SAME LanguageId.Model constants (round-trip proof)
    "q273_language_id" -> languageIdSql,
    // MP4 mvhd metadata: oracle re-derives the planted truth AND the
    // exact header hex arithmetically; the Spark side must recover
    // the same values by parsing the bytes it built (q260 pattern)
    "q274_video_headers" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 2 AS version, doc_id // 2 AS h
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, version,
        |    CAST([600,1000,12288,24000,44100,90000][
        |      CAST(h % 6 AS INTEGER) + 1] AS BIGINT) AS ts,
        |    CAST(h % 3 + 1 AS BIGINT) AS n_tracks,
        |    (doc_id * 2654435761) % 4 = 0 AS has_free,
        |    ['69736f6d','6d703432','61766331','64617368'][
        |      CAST(h % 4 AS INTEGER) + 1] AS brand_hex,
        |    ['isom','mp42','avc1','dash'][
        |      CAST(h % 4 AS INTEGER) + 1] AS brand,
        |    (doc_id * 48271) % 1000000 + 1 AS creation,
        |    CAST((doc_id * 2654435761) % 100000000 + 1
        |      + CASE WHEN doc_id % 2 = 1 THEN 4294967296 ELSE 0 END
        |      AS BIGINT) AS duration
        |  FROM p),
        |x AS (
        |  SELECT *, creation + 7 AS modif,
        |    CASE WHEN version = 0 THEN 108 ELSE 120 END AS mvhd_size
        |  FROM q),
        |hx AS (
        |  SELECT doc_id, version, ts, n_tracks, duration, brand,
        |    brand_hex, has_free, mvhd_size,
        |    CASE WHEN version = 0 THEN
        |      '0000006c6d76686400000000' || printf('%08x', creation)
        |        || printf('%08x', modif) || printf('%08x', ts)
        |        || printf('%08x', duration) || repeat('0', 160)
        |    ELSE
        |      '000000786d76686401000000' || printf('%016x', creation)
        |        || printf('%016x', modif) || printf('%08x', ts)
        |        || printf('%016x', duration) || repeat('0', 160)
        |    END AS mvhd_hex,
        |    repeat('000000107472616b0000000000000000',
        |      CAST(n_tracks AS INTEGER)) AS trak_hex
        |  FROM x)
        |SELECT doc_id, brand AS major_brand,
        |  CAST(version AS BIGINT) AS version, ts AS timescale, duration,
        |  n_tracks,
        |  CAST((2 * duration * 1000000 + ts) // (2 * ts) AS DOUBLE)
        |    / 1000000.0 AS duration_s,
        |  CAST(16 + CASE WHEN has_free THEN 12 ELSE 0 END + 8 + mvhd_size
        |    + 16 * n_tracks AS BIGINT) AS n_bytes,
        |  '0000001066747970' || brand_hex || '00000200'
        |    || CASE WHEN has_free THEN '0000000c6672656500000000'
        |         ELSE '' END
        |    || printf('%08x', 8 + mvhd_size + 16 * n_tracks) || '6d6f6f76'
        |    || mvhd_hex || trak_hex AS header_hex
        |FROM hx""".stripMargin,
    // URL canonicalization: planted construction + the UrlCanon
    // string-algebra replay (generated from the same denylist)
    "q275_url_canon" -> (urlPlantSql + ",\n" +
      graft.operators.UrlCanon.oracleSelect("planted", "doc_id", "url") +
      "\nSELECT doc_id, url_raw, host, url_canon FROM url_canon_out"),
    "q276_host_stats" -> (urlPlantSql + ",\n" +
      graft.operators.UrlCanon.oracleSelect("planted", "doc_id", "url") +
      """
        |SELECT o.host, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT o.url_raw) AS BIGINT) AS n_raw_urls,
        |  CAST(COUNT(DISTINCT o.url_canon) AS BIGINT)
        |    AS n_canonical_urls,
        |  CAST(SUM(p.n_chars) AS BIGINT) AS sum_weight
        |FROM url_canon_out o JOIN planted p USING (doc_id)
        |GROUP BY o.host""".stripMargin),
    // dHash: the oracle re-derives the planted BMP pixel grid
    // arithmetically and computes the 64 gradient comparisons in SQL;
    // the Spark side must recover the same pixels by DECODING the BMP
    // bytes it built (ImageIO)
    "q277_image_dhash" -> (dhashOracleCte +
      "\nSELECT doc_id, CAST(9 AS BIGINT) AS width," +
      " CAST(8 AS BIGINT) AS height, dhash FROM hashes"),
    "q278_image_pairs" -> (dhashOracleCte + """,
        |bands AS (
        |  SELECT doc_id, bb.b AS b,
        |    substr(dhash, CAST(bb.b * 4 + 1 AS INTEGER), 4) AS bv
        |  FROM hashes, (SELECT UNNEST(range(0, 4)) AS b) bb),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2
        |  FROM bands a JOIN bands c
        |    ON a.b = c.b AND a.bv = c.bv AND a.doc_id < c.doc_id),
        |hh AS (
        |  SELECT cand.id1, cand.id2, h1.dhash AS ha, h2.dhash AS hb
        |  FROM cand JOIN hashes h1 ON cand.id1 = h1.doc_id
        |            JOIN hashes h2 ON cand.id2 = h2.doc_id)
        |SELECT * FROM (
        |  SELECT id1, id2,
        |    CAST(list_sum(list_transform(range(1, 17), i ->
        |      bit_count(xor(
        |        ('0x' || substr(ha, CAST(i AS INTEGER), 1))::BIGINT,
        |        ('0x' || substr(hb, CAST(i AS INTEGER), 1))::BIGINT))))
        |      AS BIGINT) AS hamming
        |  FROM hh)
        |WHERE hamming <= 4""".stripMargin),
    // Calibration: micro-unit integer algebra over the shared q24
    // quality CTE; labels planted at the score's own probability
    "q279_calibration" -> (qualityCteSql + """,
        |cal0 AS (
        |  SELECT doc_id,
        |    (CAST(ROUND(quality * 1000000, 0) AS BIGINT)
        |      + ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |          || ':cal_v2'), 1, 15))::BIGINT % 1000001) // 2 AS s6
        |  FROM tq),
        |cal AS (
        |  SELECT doc_id, s6,
        |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |        || ':cal_v1'), 1, 15))::BIGINT % 1000001 < s6
        |      THEN 1 ELSE 0 END AS y
        |  FROM cal0),
        |bb AS (
        |  SELECT LEAST(s6 * 10 // 1000000, 9) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS n_bin,
        |    CAST(SUM(s6) AS BIGINT) AS sum_s6,
        |    CAST(SUM(y) AS BIGINT) AS n_pos,
        |    SUM(CAST(s6 - y * 1000000 AS HUGEINT)
        |      * CAST(s6 - y * 1000000 AS HUGEINT)) AS brier_num
        |  FROM cal GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_bin) AS BIGINT) AS nt,
        |    CAST(SUM(ABS(n_pos * 1000000 - sum_s6)) AS BIGINT)
        |      AS ece_num,
        |    SUM(brier_num) AS brier_tot FROM bb)
        |SELECT CAST(bin AS INTEGER) AS bin, n_bin,
        |  CAST(sum_s6 AS DOUBLE) / (CAST(n_bin AS DOUBLE) * 1000000.0)
        |    AS conf,
        |  CAST(n_pos AS DOUBLE) / CAST(n_bin AS DOUBLE) AS acc,
        |  ABS(CAST(n_pos AS DOUBLE) / CAST(n_bin AS DOUBLE)
        |    - CAST(sum_s6 AS DOUBLE)
        |      / (CAST(n_bin AS DOUBLE) * 1000000.0)) AS gap,
        |  CAST(ece_num AS DOUBLE) / (CAST(nt AS DOUBLE) * 1000000.0)
        |    AS ece,
        |  CAST(brier_tot AS DOUBLE)
        |    / (CAST(nt AS DOUBLE) * 1000000000000.0) AS brier
        |FROM bb, tot""".stripMargin),
    // MP3: oracle re-derives the planted truth arithmetically; the
    // Spark side must parse the syncsafe tag size and the frame
    // bit-fields out of the bytes it built
    "q280_mp3_headers" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 2 = 0 AS has_id3,
        |    CASE WHEN (doc_id // 2) % 2 = 0 THEN 3 ELSE 2 END AS vbits,
        |    (doc_id // 4) % 14 + 1 AS br_idx,
        |    (doc_id // 2) % 3 AS sr_idx,
        |    (doc_id * 31) % 2 AS pad,
        |    (doc_id * 17) % 4 AS ch,
        |    (doc_id * 2654435761) % 20000 AS sz,
        |    (doc_id * 48271) % 5000 AS fl
        |  FROM documents),
        |q AS (
        |  SELECT *, CASE WHEN vbits = 3 THEN
        |      [32,40,48,56,64,80,96,112,128,160,192,224,256,320][
        |        CAST(br_idx AS INTEGER)]
        |    ELSE [8,16,24,32,40,48,56,64,80,96,112,128,144,160][
        |        CAST(br_idx AS INTEGER)] END AS br
        |  FROM p)
        |SELECT doc_id, has_id3,
        |  CAST(CASE WHEN has_id3 THEN sz ELSE 0 END AS BIGINT)
        |    AS id3_size,
        |  CASE WHEN vbits = 3 THEN '1' ELSE '2' END AS mpeg_version,
        |  CAST(3 AS BIGINT) AS layer,
        |  CAST(br AS BIGINT) AS bitrate_kbps,
        |  CAST(CASE WHEN vbits = 3 THEN
        |      [44100,48000,32000][CAST(sr_idx AS INTEGER) + 1]
        |    ELSE [22050,24000,16000][CAST(sr_idx AS INTEGER) + 1]
        |    END AS BIGINT) AS sample_rate,
        |  ['stereo','joint_stereo','dual_channel','mono'][
        |    CAST(ch AS INTEGER) + 1] AS channel_mode,
        |  CAST(pad AS BIGINT) AS padding,
        |  CAST((2 * (4 + fl) * 8 * 1000000 + br * 1000)
        |    // (2 * br * 1000) AS DOUBLE) / 1000000.0 AS duration_s,
        |  CAST((CASE WHEN has_id3 THEN 10 + sz ELSE 0 END) + 4 + fl
        |    AS BIGINT) AS n_bytes
        |FROM q""".stripMargin,
    // Unicode normalization: planted construction via chr() code
    // points + the fold SQL generated from the same tables
    "q281_text_normalize" -> textNormalizeSql,
    // Outlinks: regex extraction + the UrlCanon replay + host rollup
    "q282_outlinks" -> outlinksSql,
    // URL rules: longest canonical-path prefix via the shared canon
    // CTE chain + a VALUES rule table generated from UrlRules
    "q283_url_rules" -> urlRulesSql,
    // HTML extraction: planted markup + the step chain generated
    // from HtmlExtract's own tables
    "q284_html_extract" -> htmlExtractSql,
    // Streaming LID mix: batch-parity oracle over the shared q273
    // scoring CTEs with arithmetic 15-minute windows
    "q285_stream_lang_mix" -> streamLangMixSql,
    // Anchors: aligned group-extractions zipped, absolute hrefs
    // through the shared canon chain, anchor markup stripped
    "q286_anchor_links" -> anchorLinksSql,
    // Page metadata: title/description through the entity fold,
    // canonical target through the canon chain
    "q287_page_meta" -> pageMetaSql,
    // Fleiss' kappa: exact-rational integer algebra, every reported
    // double one division of exact integers
    "q288_annotator_agreement" -> annotatorAgreementSql,
    // Loss mask: the shared q267 conversation CTEs + window prefix
    // sums over unnested turns
    "q289_loss_mask" -> lossMaskSql,
    // JPEG: oracle re-derives fields AND bytes arithmetically; the
    // Spark side must parse them back out of the bytes it built
    "q290_jpeg_headers" -> jpegHeadersSql,
    // BLEU: clipped corpus precisions + ln lattice + integer-exact
    // brevity-penalty exponent
    "q291_bleu" -> bleuSql,
    "q304_chrf" -> chrfSql,
    "q310_rouge_l" -> rougeLSql,
    // PCM audit: the oracle re-derives the planted samples
    // arithmetically — a round-trip proof of the LE signed decode
    "q305_wav_pcm" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 9 + 16 AS n_data,
        |    LEAST(doc_id % 9 + 16, 20) AS n_aud
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, n_data, n_aud,
        |    list_transform(range(0, n_aud), j ->
        |      CASE WHEN (doc_id + j) % 8 = 0
        |        THEN CASE WHEN j % 2 = 0 THEN 32767 ELSE -32768 END
        |        ELSE (doc_id * 131 + j * 2654435761) % 65536 - 32768
        |      END) AS ss
        |  FROM p)
        |SELECT doc_id,
        |  CAST(n_data AS BIGINT) AS n_samples_total,
        |  CAST(n_aud AS BIGINT) AS n_audited,
        |  CAST(list_max(list_transform(ss, x -> abs(x))) AS BIGINT)
        |    AS peak,
        |  CAST(len(list_filter(ss, x -> x >= 32767 OR x <= -32768))
        |    AS BIGINT) AS n_clipped,
        |  CAST(list_sum(list_transform(ss, x -> x * x)) AS BIGINT)
        |    AS sum_sq,
        |  CAST(list_sum(ss) AS BIGINT) AS dc_sum,
        |  sqrt(CAST(list_sum(list_transform(ss, x -> x * x)) AS DOUBLE)
        |    / CAST(n_aud AS DOUBLE)) AS rms
        |FROM v""".stripMargin,
    // scorecard: the q112/q313/q312 oracle CTEs composed, one
    // left-joined report per train doc
    "q317_contamination_report" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> len(x) > 0) AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g
        |  FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i)
        |  WHERE len(t) >= 5),
        |hits AS (
        |  SELECT a.doc_id AS doc_id, b.doc_id AS eid
        |  FROM grams a JOIN grams b ON a.g = b.g
        |  WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |ng AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngram_hits
        |  FROM hits GROUP BY 1),
        |base AS (
        |  SELECT vec_id, list_transform(embedding, x ->
        |    CAST(ROUND(ROUND(CAST(x AS DOUBLE), 3) * 1000.0, 0)
        |      AS BIGINT)) AS v3
        |  FROM embeddings),
        |ev AS (
        |  SELECT vec_id AS eval_id, v3 AS e3, ROW_NUMBER() OVER (
        |    ORDER BY md5(CAST(vec_id AS VARCHAR) || ':decon_v1'),
        |    vec_id) - 1 AS rk
        |  FROM base QUALIFY rk < 8),
        |prs AS (
        |  SELECT b.vec_id, e.eval_id,
        |    CAST(list_sum(list_transform(range(1, 65), j ->
        |      b.v3[j] * e.e3[j])) AS HUGEINT) AS dot,
        |    CAST(list_sum(list_transform(range(1, 65), j ->
        |      b.v3[j] * b.v3[j])) AS HUGEINT) AS na,
        |    CAST(list_sum(list_transform(range(1, 65), j ->
        |      e.e3[j] * e.e3[j])) AS HUGEINT) AS nb
        |  FROM base b CROSS JOIN ev e),
        |sem AS (
        |  SELECT vec_id AS doc_id,
        |    CAST(SUM(CASE WHEN dot >= 0
        |      AND dot * dot * 10000 >= 1225 * na * nb
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_sem_hits
        |  FROM prs GROUP BY 1),
        |bg AS (
        |  SELECT doc_id, t[CAST(i AS INTEGER)] AS w1,
        |    t[CAST(i AS INTEGER) + 1] AS w2
        |  FROM toks, UNNEST(range(1, len(t))) tt(i)
        |  WHERE len(t) >= 2),
        |c12 AS (SELECT w1, w2, COUNT(*) AS n_bigram FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, SUM(n_bigram) AS tot, COUNT(*) AS n1fw
        |       FROM c12 GROUP BY 1),
        |cw2 AS (SELECT w2, COUNT(*) AS n1pw FROM c12 GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS ntypes FROM c12),
        |model AS (
        |  SELECT c12.w1, c12.w2,
        |    CAST(ROUND(ln(
        |      ROUND(greatest(CAST(c12.n_bigram AS DOUBLE) - 0.75, 0.0)
        |          / CAST(c1.tot AS DOUBLE)
        |        + ((0.75 * CAST(c1.n1fw AS DOUBLE)) / CAST(c1.tot AS DOUBLE))
        |          * (CAST(cw2.n1pw AS DOUBLE) / CAST(nn.ntypes AS DOUBLE)), 6)
        |    ) * 100000000.0) AS BIGINT) AS lt
        |  FROM c12 JOIN c1 USING (w1) JOIN cw2 USING (w2) CROSS JOIN nn),
        |per AS (
        |  SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(m.lt) AS BIGINT) AS s_all,
        |    list(m.lt ORDER BY m.lt) AS arr
        |  FROM bg JOIN model m ON bg.w1 = m.w1 AND bg.w2 = m.w2
        |  GROUP BY bg.doc_id),
        |mk AS (
        |  SELECT doc_id,
        |    ROUND(-((CAST(list_sum(list_slice(arr, 1,
        |      (n_bigrams * 1 + 4) // 5)) AS DOUBLE)
        |      / 100000000.0) / CAST((n_bigrams * 1 + 4) // 5 AS DOUBLE)),
        |      6) AS mink_neg_logp,
        |    ROUND(-((CAST(s_all AS DOUBLE) / 100000000.0)
        |      / CAST(n_bigrams AS DOUBLE)), 6) AS avg_neg_logp
        |  FROM per)
        |SELECT d.doc_id,
        |  COALESCE(ng.n_ngram_hits, 0) AS n_ngram_hits,
        |  COALESCE(sem.n_sem_hits, 0) AS n_sem_hits,
        |  mk.mink_neg_logp, mk.avg_neg_logp,
        |  COALESCE(ng.n_ngram_hits, 0) > 0
        |    OR COALESCE(sem.n_sem_hits, 0) > 0 AS flagged
        |FROM documents d
        |LEFT JOIN ng USING (doc_id)
        |LEFT JOIN sem USING (doc_id)
        |LEFT JOIN mk USING (doc_id)
        |WHERE d.doc_id % 10 <> 0""".stripMargin,
    // temperature mix: sqrt on the 1e-4 lattice, shares one division
    // each, allocation an exact half-up HUGEINT division
    "q316_temperature_mix" ->
      """WITH ps AS (
        |  SELECT source, CAST(SUM(CASE WHEN LENGTH(text) = 0 THEN 0
        |    ELSE LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 END)
        |    AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |r AS (
        |  SELECT source, n_tokens,
        |    CAST(ROUND(sqrt(CAST(n_tokens AS DOUBLE)) * 10000.0)
        |      AS BIGINT) AS r4
        |  FROM ps),
        |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS nt,
        |  CAST(SUM(r4) AS BIGINT) AS rt FROM r)
        |SELECT source, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST(nt AS DOUBLE) AS p_raw,
        |  CAST(r4 AS DOUBLE) / CAST(rt AS DOUBLE) AS w_temp,
        |  CAST((CAST(2 AS HUGEINT) * 1000000 * r4 + rt)
        |    // (CAST(2 AS HUGEINT) * rt) AS BIGINT) AS alloc_tokens
        |FROM r, t""".stripMargin,
    // KS: zero-filled CDF lattice per group, HUGEINT cross-products,
    // one division for D, pinned sqrt chain for the scaled stat
    "q315_ks_test" ->
      """WITH b AS (
        |  SELECT CAST(source AS VARCHAR) AS g,
        |    CAST(n_chars AS BIGINT) AS v
        |  FROM documents),
        |h AS (SELECT g, v, COUNT(*) AS c FROM b GROUP BY 1, 2),
        |lat AS (
        |  SELECT gs.g, vs.v, COALESCE(h.c, 0) AS c
        |  FROM (SELECT DISTINCT g FROM h) gs
        |  CROSS JOIN (SELECT DISTINCT v FROM h) vs
        |  LEFT JOIN h ON h.g = gs.g AND h.v = vs.v),
        |cdf AS (SELECT g, v,
        |  SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum FROM lat),
        |t AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM h GROUP BY 1),
        |p AS (
        |  SELECT a.g AS g1, bb.g AS g2,
        |    CAST(MIN(t1.n) AS BIGINT) AS n1,
        |    CAST(MIN(t2.n) AS BIGINT) AS n2,
        |    MAX(ABS(CAST(a.cum AS HUGEINT) * t2.n
        |      - CAST(bb.cum AS HUGEINT) * t1.n)) AS d_num
        |  FROM cdf a JOIN cdf bb ON a.v = bb.v AND a.g < bb.g
        |  JOIN t t1 ON t1.g = a.g JOIN t t2 ON t2.g = bb.g
        |  GROUP BY 1, 2)
        |SELECT g1, g2, n1, n2, CAST(d_num AS BIGINT) AS d_num,
        |  CAST(d_num AS DOUBLE)
        |    / CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE) AS d,
        |  sqrt(CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE)
        |      / CAST(n1 + n2 AS DOUBLE))
        |    * (CAST(d_num AS DOUBLE)
        |      / CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE)) AS ks_scaled
        |FROM p""".stripMargin,
    // MAD audit: lower medians off the per-source value histogram,
    // exact cross-multiplied outlier threshold
    "q314_mad_outliers" ->
      """WITH b AS (
        |  SELECT source, CAST(n_chars AS BIGINT) AS v, doc_id
        |  FROM documents),
        |h AS (SELECT source, v, COUNT(*) AS c FROM b GROUP BY 1, 2),
        |t AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
        |  FROM h GROUP BY 1),
        |cm AS (SELECT source, v,
        |  SUM(c) OVER (PARTITION BY source ORDER BY v) AS cum FROM h),
        |med AS (
        |  SELECT cm.source, MIN(v) AS med
        |  FROM cm JOIN t USING (source) WHERE cum * 2 >= n GROUP BY 1),
        |d AS (SELECT b.source, abs(b.v - med.med) AS dv
        |  FROM b JOIN med USING (source)),
        |hd AS (SELECT source, dv, COUNT(*) AS c FROM d GROUP BY 1, 2),
        |cd AS (SELECT source, dv,
        |  SUM(c) OVER (PARTITION BY source ORDER BY dv) AS cum FROM hd),
        |mad AS (
        |  SELECT cd.source, MIN(dv) AS mad
        |  FROM cd JOIN t USING (source) WHERE cum * 2 >= n GROUP BY 1)
        |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  MIN(med.med) AS median, MIN(mad.mad) AS mad,
        |  CAST(SUM(CASE WHEN d.dv * 10000 > mad.mad * 44478
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(SUM(CASE WHEN d.dv * 10000 > mad.mad * 44478
        |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS outlier_frac
        |FROM d JOIN med USING (source) JOIN mad USING (source)
        |GROUP BY 1""".stripMargin,
    // semantic gate: HUGEINT cross-multiplied cosine threshold over
    // the broadcast md5-sampled eval set
    "q313_semantic_gate" ->
      """WITH base AS (
        |  SELECT vec_id, list_transform(embedding, x ->
        |    CAST(ROUND(ROUND(CAST(x AS DOUBLE), 3) * 1000.0, 0)
        |      AS BIGINT)) AS v3
        |  FROM embeddings),
        |ev AS (
        |  SELECT vec_id AS eval_id, v3 AS e3, ROW_NUMBER() OVER (
        |    ORDER BY md5(CAST(vec_id AS VARCHAR) || ':decon_v1'),
        |    vec_id) - 1 AS rk
        |  FROM base QUALIFY rk < 8),
        |pairs AS (
        |  SELECT b.vec_id, e.eval_id,
        |    CAST(list_sum(list_transform(range(1, 65), j ->
        |      b.v3[j] * e.e3[j])) AS HUGEINT) AS dot,
        |    CAST(list_sum(list_transform(range(1, 65), j ->
        |      b.v3[j] * b.v3[j])) AS HUGEINT) AS na,
        |    CAST(list_sum(list_transform(range(1, 65), j ->
        |      e.e3[j] * e.e3[j])) AS HUGEINT) AS nb
        |  FROM base b CROSS JOIN ev e),
        |h AS (
        |  SELECT vec_id, eval_id,
        |    dot >= 0 AND dot * dot * 10000 >= 1225 * na * nb AS hit
        |  FROM pairs)
        |SELECT vec_id,
        |  CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_eval_hits,
        |  MIN(CASE WHEN hit THEN eval_id END) AS first_hit_eval,
        |  SUM(CASE WHEN hit THEN 1 ELSE 0 END) > 0 AS contaminated
        |FROM h GROUP BY 1""".stripMargin,
    // RAG chunking: the greedy overlap fold replayed as a bounded
    // recursive CTE with the identical state transition
    "q311_sentence_chunks" ->
      """WITH RECURSIVE p AS (
        |  SELECT doc_id,
        |    list_transform(range(1, doc_id % 6 + 3 + 1), i ->
        |      (doc_id * 7 + i * 13) % 29 + 2) AS stok,
        |    doc_id % 6 + 3 AS n
        |  FROM documents),
        |walk AS (
        |  SELECT doc_id, 0 AS i, CAST(1 AS BIGINT) AS cs,
        |    CAST(0 AS BIGINT) AS ct, CAST(0 AS BIGINT) AS ps,
        |    CAST([] AS STRUCT(s BIGINT, e BIGINT, tk BIGINT)[])
        |      AS chunks
        |  FROM p
        |  UNION ALL
        |  SELECT w.doc_id, w.i + 1,
        |    CAST(CASE
        |      WHEN w.ct = 0 OR w.ct + p.stok[w.i + 1] <= 24 THEN w.cs
        |      WHEN w.ps + p.stok[w.i + 1] <= 24 THEN w.i
        |      ELSE w.i + 1 END AS BIGINT),
        |    CAST(CASE
        |      WHEN w.ct = 0 OR w.ct + p.stok[w.i + 1] <= 24
        |        THEN w.ct + p.stok[w.i + 1]
        |      WHEN w.ps + p.stok[w.i + 1] <= 24
        |        THEN w.ps + p.stok[w.i + 1]
        |      ELSE p.stok[w.i + 1] END AS BIGINT),
        |    CAST(p.stok[w.i + 1] AS BIGINT),
        |    CASE WHEN w.ct = 0 OR w.ct + p.stok[w.i + 1] <= 24
        |      THEN w.chunks
        |      ELSE list_append(w.chunks, struct_pack(
        |        s := w.cs, e := CAST(w.i AS BIGINT), tk := w.ct)) END
        |  FROM walk w JOIN p USING (doc_id) WHERE w.i < p.n),
        |fin AS (
        |  SELECT w.doc_id,
        |    list_append(w.chunks, struct_pack(s := w.cs,
        |      e := CAST(p.n AS BIGINT), tk := w.ct)) AS ch
        |  FROM walk w JOIN p USING (doc_id) WHERE w.i = p.n)
        |SELECT doc_id, CAST(j AS INTEGER) AS chunk_idx,
        |  ch[j].s AS s, ch[j].e AS e, ch[j].tk AS tk,
        |  ch[j].e - ch[j].s + 1 AS n_sentences
        |FROM fin, UNNEST(range(1, len(ch) + 1)) AS u(j)""".stripMargin,
    // JSON audit: identical planted corruption classes; extraction
    // guarded by json_valid (Spark's lazy parser is guarded the
    // same way, so malformed docs contribute nothing on both sides)
    "q309_json_audit" ->
      """WITH p AS (
        |  SELECT source, doc_id, lang, n_chars,
        |    CASE WHEN doc_id % 17 = 0 THEN doc_id + 1 ELSE doc_id END
        |      AS idv,
        |    CASE WHEN doc_id % 7 = 0 THEN ''
        |         WHEN doc_id % 11 = 0
        |           THEN ',"toks":"' || CAST(n_chars AS VARCHAR) || '"'
        |         ELSE ',"toks":' || CAST(n_chars AS VARCHAR) END AS tk
        |  FROM documents),
        |b AS (
        |  SELECT source, doc_id, lang,
        |    '{"id":' || CAST(idv AS VARCHAR) || ',"lang":"' || lang
        |      || '"' || tk || '}' AS body
        |  FROM p),
        |j0 AS (
        |  SELECT source, doc_id, lang,
        |    CASE WHEN doc_id % 13 = 0
        |      THEN substr(body, 1, len(body) - 1) ELSE body END AS j
        |  FROM b),
        |x AS (
        |  SELECT source, doc_id, lang, json_valid(j) AS ok,
        |    CASE WHEN json_valid(j)
        |      THEN json_extract_string(j, '$.id') END AS f_id,
        |    CASE WHEN json_valid(j)
        |      THEN json_extract_string(j, '$.lang') END AS f_lang,
        |    CASE WHEN json_valid(j)
        |      THEN json_extract_string(j, '$.toks') END AS f_toks
        |  FROM j0),
        |y AS (
        |  SELECT source, ok,
        |    f_id IS NOT NULL AS p_id,
        |    f_lang IS NOT NULL AS p_lang,
        |    f_toks IS NOT NULL AS p_toks,
        |    f_toks IS NOT NULL
        |      AND regexp_matches(f_toks, '^[0-9]+$') AS num_toks,
        |    f_id IS NOT NULL
        |      AND f_id = CAST(doc_id AS VARCHAR) AS m_id,
        |    f_lang IS NOT NULL AND f_lang = lang AS m_lang
        |  FROM x)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_parsed,
        |  CAST(SUM(CASE WHEN p_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_id_present,
        |  CAST(SUM(CASE WHEN p_lang THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_lang_present,
        |  CAST(SUM(CASE WHEN p_toks THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_toks_present,
        |  CAST(SUM(CASE WHEN num_toks THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_toks_numeric,
        |  CAST(SUM(CASE WHEN m_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_id_match,
        |  CAST(SUM(CASE WHEN m_lang THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_lang_match,
        |  CAST(SUM(CASE WHEN ok AND p_id AND p_lang AND p_toks
        |    AND num_toks AND m_id AND m_lang THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_conformant,
        |  CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS parse_rate,
        |  CAST(SUM(CASE WHEN ok AND p_id AND p_lang AND p_toks
        |    AND num_toks AND m_id AND m_lang THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS conform_rate
        |FROM y GROUP BY 1""".stripMargin,
    // split conformal: exact ceiling rank over the score histogram,
    // held-out coverage one integer division
    "q308_conformal" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':conf_v1'),
        |      1, 15))::BIGINT % 1000001 AS s6,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |      || ':conf_split'), 1, 15))::BIGINT % 2 = 0 AS cal
        |  FROM documents),
        |h AS (SELECT s6, COUNT(*) AS n FROM b WHERE cal GROUP BY 1),
        |c AS (SELECT s6, SUM(n) OVER (ORDER BY s6) AS cum FROM h),
        |t AS (
        |  SELECT CAST(SUM(CASE WHEN cal THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_cal,
        |    CAST(SUM(CASE WHEN cal THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_test
        |  FROM b),
        |k AS (SELECT n_cal, n_test,
        |    CAST(((n_cal + 1) * 9 + 9) // 10 AS BIGINT) AS k FROM t),
        |q AS (SELECT MIN(s6) AS qhat6 FROM c, k WHERE c.cum >= k.k),
        |cov AS (
        |  SELECT CAST(SUM(CASE WHEN s6 <= (SELECT qhat6 FROM q)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
        |  FROM b WHERE NOT cal)
        |SELECT k.n_cal, k.n_test, k.k, q.qhat6,
        |  CAST(q.qhat6 AS DOUBLE) / 1000000.0 AS qhat,
        |  cov.n_covered,
        |  CAST(cov.n_covered AS DOUBLE) / CAST(k.n_test AS DOUBLE)
        |    AS coverage
        |FROM k, q, cov""".stripMargin,
    // PQ/ADC: 1e-3 lattice, md5-sampled codebook + queries, exact
    // int subspace distances, (adc, vec_id)-ordered top-5 per query
    "q307_pq_adc" -> (pqAdcCtes + """
        |SELECT t.q_id, t.rank, t.vec_id, t.adc_dist,
        |  CAST(list_sum(list_transform(range(1, 65), j ->
        |    (qb.v3[j] - vb.v3[j]) * (qb.v3[j] - vb.v3[j])))
        |    AS BIGINT) AS exact_dist
        |FROM top t
        |JOIN base vb ON vb.vec_id = t.vec_id
        |JOIN base qb ON qb.vec_id = t.q_id""".stripMargin),
    // ADC recall@k: exact top-5 under the SAME (dist, vec_id) order,
    // overlap one exact division per query
    "q318_adc_recall" -> (pqAdcCtes + """
        |, ex AS (
        |  SELECT q.q_id, b.vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
        |      list_sum(list_transform(range(1, 65), j ->
        |        (q.qv3[j] - b.v3[j]) * (q.qv3[j] - b.v3[j]))),
        |      b.vec_id) AS r
        |  FROM base b CROSS JOIN qs q WHERE b.vec_id <> q.q_id
        |  QUALIFY r <= 5)
        |SELECT ex.q_id, CAST(COUNT(*) AS BIGINT) AS k_exact,
        |  CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_overlap,
        |  CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall_at_k
        |FROM ex LEFT JOIN top t
        |  ON t.q_id = ex.q_id AND t.vec_id = ex.vec_id
        |GROUP BY 1""".stripMargin),
    // IVF→ADC: q307's lattice/codebook/queries, candidates pruned to
    // each query's 2 nearest of ceil(sqrt(N)) coarse cells (derived
    // both engines) before the ADC rerank
    "q326_ivf_adc" -> (ivfAdcCtes + """
        |SELECT t.q_id, t.rank, t.vec_id, t.adc_dist,
        |  CAST(list_sum(list_transform(range(1, 65), j ->
        |    (qb.v3[j] - vb.v3[j]) * (qb.v3[j] - vb.v3[j])))
        |    AS BIGINT) AS exact_dist
        |FROM top t
        |JOIN base vb ON vb.vec_id = t.vec_id
        |JOIN base qb ON qb.vec_id = t.q_id""".stripMargin),
    // IVF→ADC recall@5 against the SAME exact ground truth as q318 —
    // the pruning loss priced separately from the quantization loss
    "q327_ivf_adc_recall" -> (ivfAdcCtes + """
        |, ex AS (
        |  SELECT q.q_id, b.vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
        |      list_sum(list_transform(range(1, 65), j ->
        |        (q.qv3[j] - b.v3[j]) * (q.qv3[j] - b.v3[j]))),
        |      b.vec_id) AS r
        |  FROM base b CROSS JOIN qs q WHERE b.vec_id <> q.q_id
        |  QUALIFY r <= 5)
        |SELECT ex.q_id, CAST(COUNT(*) AS BIGINT) AS k_exact,
        |  CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_overlap,
        |  CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall_at_k
        |FROM ex LEFT JOIN top t
        |  ON t.q_id = ex.q_id AND t.vec_id = ex.vec_id
        |GROUP BY 1""".stripMargin),
    // IVFADC proper (residual encoding) on the planted clustered
    // fixture: codes describe v − c(v), tables q − c per probed cell
    "q329_ivfadc_residual" -> (plantedResidualCtes + """
        |SELECT t.q_id, t.rank, t.vec_id, t.adc_dist,
        |  CAST(list_sum(list_transform(range(1, 65), j ->
        |    (qb.v3[j] - vb.v3[j]) * (qb.v3[j] - vb.v3[j])))
        |    AS BIGINT) AS exact_dist
        |FROM top t
        |JOIN base vb ON vb.vec_id = t.vec_id
        |JOIN base qb ON qb.vec_id = t.q_id""".stripMargin),
    // residual-IVFADC recall@5 vs the exact planted-fixture top-5
    "q330_ivfadc_residual_recall" ->
      (plantedResidualCtes + plantedRecallTail),
    // the control: raw-encoding recall on the SAME planted fixture —
    // q330 − q331 is the residual-encoding delta, hash-checked twice
    "q331_ivfadc_raw_planted_recall" ->
      (plantedRawCtes + plantedRecallTail),
    // PageRank ring fixture: rounds_run = 1 via the replayed stop
    // test; the unrolled r8 carries the identical fixed-point ranks
    "q332_pagerank_converged" -> pagerankRingSql(8),
    "q333_windowed_perplexity" -> (windowedPerplexityCtes +
      """
        |SELECT a.doc_id, a.n_windows, a.n_bigrams,
        |  ROUND(-((CAST(a.stot AS DOUBLE) / 100000000.0)
        |    / CAST(a.n_bigrams AS DOUBLE)), 6) AS avg_neg_logp,
        |  CAST(w.win AS INTEGER) AS worst_window,
        |  CAST(w.win * 16 AS INTEGER) AS worst_start,
        |  CAST(least((w.win + 1) * 16, a.n_bigrams) AS INTEGER)
        |    AS worst_end,
        |  w.score AS worst_neg_logp,
        |  CAST(b.win AS INTEGER) AS best_window,
        |  b.score AS best_neg_logp
        |FROM agg a
        |JOIN ranked w ON w.doc_id = a.doc_id AND w.rw = 1
        |JOIN ranked b ON b.doc_id = a.doc_id AND b.rb = 1""".stripMargin),
    // the worst-window CUT: same CTEs, then the margin decision, the
    // 1-based token-slice removal and the kept-content md5 digest
    "q337_perplexity_span_cut" -> (windowedPerplexityCtes +
      """,
        |sel AS (
        |  SELECT a.doc_id, a.n_windows,
        |    ROUND(-((CAST(a.stot AS DOUBLE) / 100000000.0)
        |      / CAST(a.n_bigrams AS DOUBLE)), 6) AS avg_neg_logp,
        |    CAST(w.win * 16 AS INTEGER) AS worst_start,
        |    CAST(least((w.win + 1) * 16, a.n_bigrams) AS INTEGER)
        |      AS worst_end,
        |    w.score AS worst_neg_logp
        |  FROM agg a
        |  JOIN ranked w ON w.doc_id = a.doc_id AND w.rw = 1),
        |kept AS (
        |  SELECT s.doc_id,
        |    (s.n_windows >= 2 AND s.worst_neg_logp
        |      >= s.avg_neg_logp + CAST(0.25 AS DOUBLE)) AS cut,
        |    s.worst_start, s.worst_end, t.tk,
        |    CASE WHEN (s.n_windows >= 2 AND s.worst_neg_logp
        |        >= s.avg_neg_logp + CAST(0.25 AS DOUBLE))
        |      THEN list_concat(t.tk[1:s.worst_start],
        |        t.tk[(s.worst_end + 2):len(t.tk)])
        |      ELSE t.tk END AS kp
        |  FROM sel s JOIN tk t USING (doc_id))
        |SELECT doc_id, cut, worst_start, worst_end,
        |  CAST(len(tk) AS INTEGER) AS n_tokens,
        |  CAST(len(kp) AS INTEGER) AS n_tokens_kept,
        |  md5(array_to_string(kp, ' ')) AS kept_md5
        |FROM kept""".stripMargin),
    // LSH band-plan calibration: the q26 portable-minhash mirror at
    // 128 slots / 2-word shingles, per plan the (band, key) bucket
    // workload, S-curve cells as the SAME pinned left-fold double
    // chains the engine computes (every factor CAST AS DOUBLE so
    // DuckDB runs IEEE ops, not decimal arithmetic)
    "q334_lsh_band_plan" -> lshBandPlanSql,
    // Gopher self-repetition: per doc the modal-n-gram and
    // duplicated-n-gram token coverage (exact span union via the
    // same LAG/SUM islands the engine runs), composite keep gate
    "q335_self_repetition" -> selfRepetitionSql,
    // IVF nprobe calibration: the q329/q330 planted residual pipeline
    // with probe rank carried, per plan the candidate cut + recall@5
    "q336_ivf_nprobe_calibration" -> nprobeCalibrationSql,
    // the band-plan commit rule over the q334 calibration table
    "q338_lsh_band_plan_select" -> lshBandPlanSelectSql,
    // the nprobe commit rule over the q336 calibration table — the
    // same CTE head as q336 by construction (nprobeCalibrationParts)
    "q339_ivf_nprobe_select" -> nprobeSelectSql,
    // SemDeDup threshold calibration + commit: q195's quantizer/pair
    // CTEs (shared via semDedupCtes), the per-doc max-lower-cosine
    // profile once, then per-threshold counts / the budget rule
    "q341_semdedup_threshold_calibration" ->
      semDedupThresholdCalibrationSql,
    "q342_semdedup_threshold_select" -> semDedupThresholdSelectSql,
    // calibrate→commit→APPLY: the q342 commit row nested verbatim and
    // CROSS JOINed into the dedup's own sim-threshold filter — the
    // same cells/pair CTEs feed calibration, commit, and dedup
    "q343_semdedup_apply_committed" -> semDedupApplySql,
    // MinHash calibrate→commit→APPLY: q338's commit row drives the
    // banding (j // rows_per_band read from the commit, never a
    // literal), then the q26-shape candidate + exact-Jaccard verify
    "q344_lsh_apply_committed_plan" -> lshApplyCommittedSql,
    // the scale-config twins: q341/q342/q343 re-pinned on the SHIPPED
    // two-level quantizer (q328's CTE head shared by construction)
    "q345_semdedup_threshold_calibration_scale" ->
      semDedupScaleCalibrationSql,
    "q346_semdedup_threshold_select_scale" -> semDedupScaleSelectSql,
    "q347_semdedup_apply_committed_scale" -> semDedupScaleApplySql,
    // margin calibration for the worst-window cut: the q333/q337 CTE
    // head, the per-doc profile joined to token counts, then each
    // margin ∈ {1/8, 1/4, 1/2, 1} (every literal CAST AS DOUBLE so
    // DuckDB performs the engine's IEEE add, not decimal arithmetic)
    // as one pure-arithmetic grouped decision; tokens removed per cut
    // doc is worst_end + 1 − worst_start — exactly q337's
    // n_tokens − n_tokens_kept by the slice algebra
    "q340_span_cut_margin_calibration" -> (windowedPerplexityCtes +
      """,
        |sel AS (
        |  SELECT a.doc_id, a.n_windows,
        |    ROUND(-((CAST(a.stot AS DOUBLE) / 100000000.0)
        |      / CAST(a.n_bigrams AS DOUBLE)), 6) AS avg_neg_logp,
        |    CAST(w.win * 16 AS INTEGER) AS worst_start,
        |    CAST(least((w.win + 1) * 16, a.n_bigrams) AS INTEGER)
        |      AS worst_end,
        |    w.score AS worst_neg_logp
        |  FROM agg a
        |  JOIN ranked w ON w.doc_id = a.doc_id AND w.rw = 1),
        |doc AS (
        |  SELECT s.n_windows, s.avg_neg_logp, s.worst_neg_logp,
        |    CAST(s.worst_end + 1 - s.worst_start AS BIGINT) AS rm,
        |    CAST(len(t.tk) AS BIGINT) AS nt
        |  FROM sel s JOIN tk t USING (doc_id)),
        |mg AS (SELECT CAST(UNNEST([0.125, 0.25, 0.5, 1.0]) AS DOUBLE)
        |  AS margin)
        |SELECT m.margin,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN d.n_windows >= 2
        |      AND d.worst_neg_logp >= d.avg_neg_logp + m.margin
        |    THEN 1 ELSE 0 END) AS BIGINT) AS docs_cut,
        |  CAST(SUM(d.nt) AS BIGINT) AS tokens_total,
        |  CAST(SUM(CASE WHEN d.n_windows >= 2
        |      AND d.worst_neg_logp >= d.avg_neg_logp + m.margin
        |    THEN d.rm ELSE 0 END) AS BIGINT) AS tokens_removed,
        |  CAST(SUM(CASE WHEN d.n_windows >= 2
        |      AND d.worst_neg_logp >= d.avg_neg_logp + m.margin
        |    THEN d.rm ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(d.nt) AS DOUBLE) AS removed_share
        |FROM mg m CROSS JOIN doc d
        |GROUP BY 1""".stripMargin),
    // golden records: the q303 scoring CTEs, q200-style recursive
    // closure, min-struct survivorship per entity
    "q320_golden_records" ->
      """WITH RECURSIVE a AS (
        |  SELECT c_custkey AS id_a, c_name AS name_a,
        |    c_acctbal AS bal_a, c_nationkey AS nat, c_mktsegment AS seg,
        |    CAST(FLOOR(c_acctbal / 500) AS BIGINT) AS band
        |  FROM customer),
        |b0 AS (
        |  SELECT c_custkey AS id_b,
        |    CASE WHEN (c_custkey // 3) % 7 = 0
        |           THEN substr(c_name, 1, 9) || 'XYZ' || substr(c_name, 13)
        |         WHEN (c_custkey // 3) % 2 = 0
        |           THEN substr(c_name, 1, 9) || 'X' || substr(c_name, 11)
        |         ELSE c_name END AS name_b,
        |    c_acctbal + CASE WHEN (c_custkey // 3) % 4 < 3
        |      THEN 0.5 ELSE 50.0 END AS bal_b,
        |    c_nationkey AS nat, c_mktsegment AS seg
        |  FROM customer WHERE c_custkey % 3 = 0),
        |b AS (SELECT *, CAST(FLOOR(bal_b / 500) AS BIGINT) AS band
        |  FROM b0),
        |cand AS (
        |  SELECT a.id_a, a.name_a, a.bal_a, b.id_b, b.name_b, b.bal_b
        |  FROM a JOIN b USING (nat, seg, band)),
        |gamma AS (
        |  SELECT id_a, id_b,
        |    CASE WHEN name_a = name_b THEN 2
        |         WHEN levenshtein(name_a, name_b) <= 2 THEN 1
        |         ELSE 0 END AS name_level,
        |    ABS(bal_a - bal_b) <= 1.0 AS num_agree
        |  FROM cand),
        |scored AS (
        |  SELECT id_a, id_b,
        |    CASE name_level WHEN 2 THEN 6856462
        |      WHEN 1 THEN 3500000 ELSE -2994732 END
        |    + CASE WHEN num_agree THEN 2890372
        |        ELSE -2251292 END AS score_points
        |  FROM gamma),
        |links AS (
        |  SELECT id_a * 2 AS s, id_b * 2 + 1 AS t
        |  FROM scored WHERE score_points >= 6000000),
        |recs AS (
        |  SELECT c_custkey * 2 AS rec_id, c_name, c_acctbal,
        |    'a' AS registry
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey * 2 + 1,
        |    CASE WHEN (c_custkey // 3) % 7 = 0
        |           THEN substr(c_name, 1, 9) || 'XYZ' || substr(c_name, 13)
        |         WHEN (c_custkey // 3) % 2 = 0
        |           THEN substr(c_name, 1, 9) || 'X' || substr(c_name, 11)
        |         ELSE c_name END,
        |    c_acctbal + CASE WHEN (c_custkey // 3) % 4 < 3
        |      THEN 0.5 ELSE 50.0 END,
        |    'b'
        |  FROM customer WHERE c_custkey % 3 = 0),
        |edges AS (
        |  SELECT s, t FROM links UNION ALL SELECT t, s FROM links),
        |reach(s, t) AS (
        |  SELECT s, t FROM edges
        |  UNION
        |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
        |cc AS (
        |  SELECT rec_id,
        |    LEAST(rec_id, COALESCE(MIN(r.t), rec_id)) AS entity_id
        |  FROM recs LEFT JOIN reach r ON r.s = recs.rec_id
        |  GROUP BY rec_id),
        |g AS (
        |  SELECT cc.entity_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_records,
        |    CAST(COUNT(DISTINCT recs.registry) AS BIGINT) AS n_sources,
        |    MIN(struct_pack(i := recs.rec_id, n := recs.c_name)) AS mn,
        |    MAX(recs.c_acctbal) AS max_bal,
        |    MIN(recs.c_acctbal) AS min_bal
        |  FROM recs JOIN cc USING (rec_id)
        |  GROUP BY 1)
        |SELECT entity_id, n_records, n_sources, mn.n AS canonical_name,
        |  max_bal, min_bal
        |FROM g""".stripMargin,
    "q321_hits" -> hitsSql,
    // packing report: one global prefix sum, per-budget arithmetic
    "q325_packing_report" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(CASE WHEN LENGTH(text) = 0 THEN 0
        |    ELSE LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 END
        |    AS BIGINT) AS n
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, n,
        |    SUM(n) OVER (ORDER BY doc_id) - n AS st
        |  FROM t),
        |e AS (
        |  SELECT o.doc_id, o.n, o.st, b.budget
        |  FROM o CROSS JOIN (SELECT UNNEST([CAST(128 AS BIGINT),
        |    CAST(512 AS BIGINT), CAST(2048 AS BIGINT)]) AS budget) b),
        |f AS (
        |  SELECT budget, n, st,
        |    n > 0 AND st // budget <> (st + n - 1) // budget AS sp,
        |    CASE WHEN n > 0 AND st // budget <> (st + n - 1) // budget
        |      THEN n - (budget - st % budget) ELSE 0 END AS cr
        |  FROM e)
        |SELECT budget, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n) AS BIGINT) AS total_tokens,
        |  CAST((SUM(n) + budget - 1) // budget AS BIGINT) AS n_packs,
        |  CAST(SUM(CASE WHEN sp THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_split_docs,
        |  CAST(SUM(CASE WHEN sp THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS split_frac,
        |  CAST(SUM(cr) AS BIGINT) AS n_cross_tokens,
        |  CAST(SUM(cr) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
        |    AS cross_frac
        |FROM f GROUP BY 1""".stripMargin,
    // streaming JSON monitor: the q309 construction + json_valid
    // checks with arithmetic 15-min windows (batch-parity oracle)
    "q324_stream_json_audit" ->
      """WITH p AS (
        |  SELECT doc_id, source, lang, n_chars,
        |    CASE WHEN doc_id % 17 = 0 THEN doc_id + 1 ELSE doc_id END
        |      AS idv,
        |    CASE WHEN doc_id % 7 = 0 THEN ''
        |         WHEN doc_id % 11 = 0
        |           THEN ',"toks":"' || CAST(n_chars AS VARCHAR) || '"'
        |         ELSE ',"toks":' || CAST(n_chars AS VARCHAR) END AS tk
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, source,
        |    '{"id":' || CAST(idv AS VARCHAR) || ',"lang":"' || lang
        |      || '"' || tk || '}' AS body
        |  FROM p),
        |j0 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 13 = 0
        |      THEN substr(body, 1, len(body) - 1) ELSE body END AS j
        |  FROM b),
        |x AS (
        |  SELECT doc_id, source, json_valid(j) AS ok,
        |    CASE WHEN json_valid(j)
        |      THEN json_extract_string(j, '$.id') END AS f_id,
        |    CASE WHEN json_valid(j)
        |      THEN json_extract_string(j, '$.lang') END AS f_lang,
        |    CASE WHEN json_valid(j)
        |      THEN json_extract_string(j, '$.toks') END AS f_toks
        |  FROM j0),
        |y AS (
        |  SELECT doc_id, source, ok,
        |    ok AND f_id IS NOT NULL AND f_lang IS NOT NULL
        |      AND f_toks IS NOT NULL
        |      AND regexp_matches(f_toks, '^[0-9]+$')
        |      AND f_id = CAST(doc_id AS VARCHAR) AS cf
        |  FROM x)
        |SELECT strftime(make_timestamp(
        |    ((doc_id * 60) // 900) * 900 * 1000000),
        |    '%Y-%m-%d %H:%M:%S') AS window_start,
        |  source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_parsed,
        |  CAST(SUM(CASE WHEN cf THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_conformant
        |FROM y GROUP BY 1, 2""".stripMargin,
    // NMI: G2-discipline lattice-ln cells, entropies from marginals,
    // the 1/(N*1e8) factor cancels in the headline
    "q323_nmi_purity" ->
      """WITH c AS (
        |  SELECT CAST(lang AS VARCHAR) AS a,
        |    CAST(source AS VARCHAR) AS b, COUNT(*) AS n
        |  FROM documents GROUP BY 1, 2),
        |ma AS (SELECT a, CAST(SUM(n) AS BIGINT) AS na FROM c GROUP BY 1),
        |mb AS (SELECT b, CAST(SUM(n) AS BIGINT) AS nb FROM c GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt,
        |  CAST(COUNT(*) AS BIGINT) AS n_cells FROM c),
        |il AS (
        |  SELECT CAST(SUM(CAST(c.n AS HUGEINT) *
        |    CAST(ROUND(ln(CAST(CAST(c.n AS HUGEINT) * t.nt AS DOUBLE)
        |      / CAST(CAST(ma.na AS HUGEINT) * mb.nb AS DOUBLE))
        |      * 100000000.0) AS BIGINT)) AS HUGEINT) AS i_lat
        |  FROM c JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN t),
        |ha AS (
        |  SELECT CAST(SUM(CAST(na AS HUGEINT) *
        |    CAST(ROUND(ln(CAST(t.nt AS DOUBLE) / CAST(na AS DOUBLE))
        |      * 100000000.0) AS BIGINT)) AS HUGEINT) AS hv
        |  FROM ma CROSS JOIN t),
        |hb AS (
        |  SELECT CAST(SUM(CAST(nb AS HUGEINT) *
        |    CAST(ROUND(ln(CAST(t.nt AS DOUBLE) / CAST(nb AS DOUBLE))
        |      * 100000000.0) AS BIGINT)) AS HUGEINT) AS hv
        |  FROM mb CROSS JOIN t),
        |p AS (SELECT CAST(SUM(mx) AS BIGINT) AS pur FROM (
        |  SELECT b, MAX(n) AS mx FROM c GROUP BY 1))
        |SELECT t.nt AS n_rows, t.n_cells,
        |  CAST(il.i_lat AS DOUBLE)
        |    / (CAST(t.nt AS DOUBLE) * 100000000.0) AS mi,
        |  CAST(ha.hv AS DOUBLE)
        |    / (CAST(t.nt AS DOUBLE) * 100000000.0) AS h_a,
        |  CAST(hb.hv AS DOUBLE)
        |    / (CAST(t.nt AS DOUBLE) * 100000000.0) AS h_b,
        |  CASE WHEN ha.hv > 0 AND hb.hv > 0 THEN
        |    CAST(il.i_lat AS DOUBLE)
        |      / sqrt(CAST(ha.hv * hb.hv AS DOUBLE)) END AS nmi,
        |  CAST(p.pur AS DOUBLE) / CAST(t.nt AS DOUBLE) AS purity
        |FROM il, ha, hb, t, p""".stripMargin,
    // Kendall tau-b: zero-filled grid, chained prefix-sum windows,
    // HUGEINT pair counts, one division over one sqrt
    "q322_kendall_tau" ->
      """WITH h AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS x,
        |    CAST(ROUND(l_discount * 100) AS BIGINT) AS y,
        |    COUNT(*) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |grid AS (
        |  SELECT xs.x, ys.y, COALESCE(h.n, 0) AS n
        |  FROM (SELECT DISTINCT x FROM h) xs
        |  CROSS JOIN (SELECT DISTINCT y FROM h) ys
        |  LEFT JOIN h ON h.x = xs.x AND h.y = ys.y),
        |st AS (
        |  SELECT x, y, n,
        |    COALESCE(SUM(n) OVER (PARTITION BY x ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cyl,
        |    COALESCE(SUM(n) OVER (PARTITION BY x ORDER BY y
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
        |      AS cyg
        |  FROM grid),
        |sc AS (
        |  SELECT x, y, n,
        |    COALESCE(SUM(cyl) OVER (PARTITION BY y ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS slt,
        |    COALESCE(SUM(cyg) OVER (PARTITION BY y ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS sgt
        |  FROM st),
        |cd AS (
        |  SELECT CAST(SUM(CAST(n AS HUGEINT) * slt) AS HUGEINT) AS c,
        |    CAST(SUM(CAST(n AS HUGEINT) * sgt) AS HUGEINT) AS d
        |  FROM sc),
        |m AS (SELECT CAST(SUM(n) AS BIGINT) AS nr FROM h),
        |tx AS (SELECT CAST(SUM(CAST(t AS HUGEINT) * (t - 1))
        |    AS HUGEINT) AS t2
        |  FROM (SELECT SUM(n) AS t FROM h GROUP BY x)),
        |ty AS (SELECT CAST(SUM(CAST(t AS HUGEINT) * (t - 1))
        |    AS HUGEINT) AS t2
        |  FROM (SELECT SUM(n) AS t FROM h GROUP BY y))
        |SELECT m.nr AS n_rows,
        |  CAST(cd.c AS BIGINT) AS concordant,
        |  CAST(cd.d AS BIGINT) AS discordant,
        |  CAST(tx.t2 // 2 AS BIGINT) AS ties_x,
        |  CAST(ty.t2 // 2 AS BIGINT) AS ties_y,
        |  CASE WHEN CAST(m.nr AS HUGEINT) * (m.nr - 1) - tx.t2 > 0
        |    AND CAST(m.nr AS HUGEINT) * (m.nr - 1) - ty.t2 > 0 THEN
        |    CAST((cd.c - cd.d) * 2 AS DOUBLE)
        |      / sqrt(CAST(
        |        (CAST(m.nr AS HUGEINT) * (m.nr - 1) - tx.t2)
        |        * (CAST(m.nr AS HUGEINT) * (m.nr - 1) - ty.t2)
        |        AS DOUBLE)) END AS tau_b
        |FROM cd, m, tx, ty""".stripMargin,

    // mu-law audit: bytes re-derived from residues, G.711 decode as
    // pure arithmetic with the 2^e literal table
    "q319_ulaw_pcm" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 7 + 18 AS n_data,
        |    LEAST(doc_id % 7 + 18, 20) AS n_aud
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, n_data, n_aud,
        |    list_transform(range(0, n_aud), j ->
        |      CASE WHEN (doc_id + j) % 9 = 0
        |        THEN CASE WHEN j % 2 = 0 THEN 128 ELSE 0 END
        |        ELSE (doc_id * 37 + j * 101) % 256 END) AS bs
        |  FROM p),
        |w AS (
        |  SELECT doc_id, n_data, n_aud,
        |    list_transform(bs, b ->
        |      CASE WHEN (255 - b) >= 128 THEN
        |        -((((255 - b) % 16) * 8 + 132)
        |          * [1,2,4,8,16,32,64,128][((255 - b) % 128) // 16 + 1]
        |          - 132)
        |      ELSE
        |        ((((255 - b) % 16) * 8 + 132)
        |          * [1,2,4,8,16,32,64,128][((255 - b) % 128) // 16 + 1]
        |          - 132)
        |      END) AS ss
        |  FROM v)
        |SELECT doc_id,
        |  CAST(n_data AS BIGINT) AS n_samples_total,
        |  CAST(n_aud AS BIGINT) AS n_audited,
        |  CAST(list_max(list_transform(ss, x -> abs(x))) AS BIGINT)
        |    AS peak,
        |  CAST(len(list_filter(ss, x -> x >= 32124 OR x <= -32124))
        |    AS BIGINT) AS n_clipped,
        |  CAST(list_sum(list_transform(ss, x -> x * x)) AS BIGINT)
        |    AS sum_sq,
        |  CAST(list_sum(ss) AS BIGINT) AS dc_sum,
        |  sqrt(CAST(list_sum(list_transform(ss, x -> x * x)) AS DOUBLE)
        |    / CAST(n_aud AS DOUBLE)) AS rms
        |FROM w""".stripMargin,
    // DP Laplace release: md5 uniform -> exact inverse CDF on the
    // 1e-8 lattice, one DECIMAL-numerator division per cell
    "q306_dp_histogram" ->
      """WITH h AS (
        |  SELECT lang, source, COUNT(*) AS n_true
        |  FROM documents GROUP BY 1, 2),
        |d AS (
        |  SELECT lang, source, n_true,
        |    ('0x' || substr(md5(lang || ':' || source || ':dp_v1'),
        |      1, 15))::BIGINT % 1000000 AS u6
        |  FROM h),
        |n AS (SELECT lang, source, n_true, u6,
        |  (u6 - 500000) * 2 + 1 AS odd FROM d),
        |m AS (
        |  SELECT lang, source, n_true, u6,
        |    -(CASE WHEN odd > 0 THEN 1 ELSE -1 END) * 2 *
        |      CAST(ROUND(ln(CAST(1000000 - abs(odd) AS DOUBLE)
        |        / 1000000.0) * 100000000) AS BIGINT) AS noise_e8
        |  FROM n)
        |SELECT lang, source, CAST(n_true AS BIGINT) AS n_true, u6,
        |  noise_e8,
        |  CAST(CAST(n_true AS HUGEINT) * 100000000 + noise_e8
        |    AS DOUBLE) / 100000000.0 AS released,
        |  GREATEST(CAST(CAST(n_true AS HUGEINT) * 100000000 + noise_e8
        |    AS DOUBLE) / 100000000.0, 0.0) AS released_clamped
        |FROM m""".stripMargin,
    // Bradley-Terry: 5 MM rounds unrolled (generated CTEs)
    "q292_bradley_terry" -> bradleyTerrySql,
    // validated PII: Luhn fold + octet checks replayed over the
    // same boundary-group candidates
    "q293_pii_validate" -> piiValidateSql,
    // QA eval: the pinned SQuAD normalization + clipped overlap
    "q294_qa_eval" -> qaEvalSql,
    // ROC-AUC: the shared q279 scored frame + the tie-aware
    // Mann-Whitney histogram fold
    "q298_roc_auc" -> rocAucSql,
    // doc structure: planted markdown + per-line regex ledger
    "q295_doc_structure" -> docStructureSql,
    // special tokens: injected markers + length-difference counts
    // (token list generated from the same operator constant)
    "q296_special_tokens" -> specialTokensSql,
    // RRF: two ROW_NUMBER rankings + lattice reciprocals
    "q297_rank_fusion" -> rankFusionSql,
    // streaming token monitor: batch-parity mirror with arithmetic
    // 15-minute windows over the q296 plant
    "q299_stream_special_tokens" -> streamSpecialTokensSql,
    // web intake composition: nested generated CTE chains (extract
    // steps, canon algebra, LID scoring)
    "q300_web_pipeline" -> webPipelineSql,
    // l-diversity: (QI, sensitive) counts + min-struct dominant value
    "q301_l_diversity" ->
      """WITH c AS (
        |  SELECT lang, CAST(n_chars // 200 AS BIGINT) AS len_band,
        |    source, COUNT(*) AS n
        |  FROM documents GROUP BY 1, 2, 3),
        |g AS (
        |  SELECT lang, len_band,
        |    CAST(SUM(n) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct_sensitive,
        |    MIN(struct_pack(nn := -n, v := source)) AS top
        |  FROM c GROUP BY 1, 2)
        |SELECT lang, len_band, n_rows, n_distinct_sensitive,
        |  top.v AS top_value,
        |  CAST(-top.nn AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top_share,
        |  n_distinct_sensitive >= 3 AS l_diverse
        |FROM g""".stripMargin,
    // t-closeness: exact variational distance on HUGEINT numerators
    // over the (QI cell) x (global sensitive domain) lattice
    "q302_t_closeness" ->
      """WITH cell AS (
        |  SELECT lang, CAST(n_chars // 200 AS BIGINT) AS len_band,
        |    source AS v, COUNT(*) AS ncv
        |  FROM documents GROUP BY 1, 2, 3),
        |cells AS (
        |  SELECT lang, len_band, CAST(SUM(ncv) AS BIGINT) AS nc
        |  FROM cell GROUP BY 1, 2),
        |gl AS (SELECT v, CAST(SUM(ncv) AS BIGINT) AS nv
        |  FROM cell GROUP BY 1),
        |tot AS (SELECT CAST(SUM(nv) AS BIGINT) AS n_total FROM gl),
        |lattice AS (
        |  SELECT c.lang, c.len_band, c.nc, g.v, g.nv, t.n_total,
        |    COALESCE(cl.ncv, 0) AS ncv
        |  FROM cells c CROSS JOIN gl g CROSS JOIN tot t
        |  LEFT JOIN cell cl ON cl.lang = c.lang
        |    AND cl.len_band = c.len_band AND cl.v = g.v)
        |SELECT lang, len_band, MIN(nc) AS n_rows,
        |  CAST(SUM(ABS(CAST(ncv AS HUGEINT) * n_total
        |        - CAST(nv AS HUGEINT) * nc)) AS DOUBLE)
        |    / CAST(MIN(CAST(2 AS HUGEINT) * nc * n_total) AS DOUBLE)
        |    AS emd,
        |  CAST(SUM(ABS(CAST(ncv AS HUGEINT) * n_total
        |        - CAST(nv AS HUGEINT) * nc)) AS DOUBLE)
        |    / CAST(MIN(CAST(2 AS HUGEINT) * nc * n_total) AS DOUBLE)
        |    <= 0.33 AS t_close
        |FROM lattice GROUP BY 1, 2""".stripMargin,
    // Fellegi-Sunter: planted dirty registry, blocked candidates,
    // pinned 1e-6-lattice integer log-weights, threshold decisions
    "q303_record_linkage" ->
      """WITH a AS (
        |  SELECT c_custkey AS id_a, c_name AS name_a,
        |    c_acctbal AS bal_a, c_nationkey AS nat, c_mktsegment AS seg,
        |    CAST(FLOOR(c_acctbal / 500) AS BIGINT) AS band
        |  FROM customer),
        |b0 AS (
        |  SELECT c_custkey AS id_b,
        |    CASE WHEN (c_custkey // 3) % 7 = 0
        |           THEN substr(c_name, 1, 9) || 'XYZ' || substr(c_name, 13)
        |         WHEN (c_custkey // 3) % 2 = 0
        |           THEN substr(c_name, 1, 9) || 'X' || substr(c_name, 11)
        |         ELSE c_name END AS name_b,
        |    c_acctbal + CASE WHEN (c_custkey // 3) % 4 < 3
        |      THEN 0.5 ELSE 50.0 END AS bal_b,
        |    c_nationkey AS nat, c_mktsegment AS seg
        |  FROM customer WHERE c_custkey % 3 = 0),
        |b AS (SELECT *, CAST(FLOOR(bal_b / 500) AS BIGINT) AS band
        |  FROM b0),
        |cand AS (
        |  SELECT a.id_a, a.name_a, a.bal_a, b.id_b, b.name_b, b.bal_b
        |  FROM a JOIN b USING (nat, seg, band)),
        |gamma AS (
        |  SELECT id_a, id_b,
        |    CASE WHEN name_a = name_b THEN 2
        |         WHEN levenshtein(name_a, name_b) <= 2 THEN 1
        |         ELSE 0 END AS name_level,
        |    ABS(bal_a - bal_b) <= 1.0 AS num_agree
        |  FROM cand),
        |scored AS (
        |  SELECT id_a, id_b, name_level, num_agree,
        |    CAST(CASE name_level WHEN 2 THEN 6856462
        |           WHEN 1 THEN 3500000 ELSE -2994732 END
        |      + CASE WHEN num_agree THEN 2890372
        |          ELSE -2251292 END AS BIGINT) AS score_points
        |  FROM gamma)
        |SELECT id_a, id_b, name_level, num_agree, score_points,
        |  CASE WHEN score_points >= 6000000 THEN 'link'
        |       WHEN score_points <= 0 THEN 'non_link'
        |       ELSE 'possible' END AS decision,
        |  id_a = id_b AS is_true_match
        |FROM scored""".stripMargin
  ) ++ tpchShapeSql

  /** q273 oracle: planted multilingual construction (language from
    * doc_id % 6; repetitions and English contamination from the
    * decoupled doc_id/6 residues) + the LID scoring CTEs generated
    * from the pinned model.
    */
  private def lidOracleCtes: String = {
    val sents = graft.queries.ExtensionQueries.LidSentences
      .map(s => s"'$s'").mkString(",\n      ")
    val langs = graft.operators.LanguageId.Model
      .map(m => s"'${m._1}'").mkString(",")
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    [$langs][CAST(doc_id % 6 AS INTEGER) + 1] AS lang_true,
       |    repeat([$sents][CAST(doc_id % 6 AS INTEGER) + 1] || ' ',
       |      CAST((doc_id // 6) % 4 + 1 AS INTEGER)) ||
       |    CASE WHEN (doc_id // 6) % 5 = 0 AND doc_id % 6 <> 1
       |      THEN '${graft.queries.ExtensionQueries.LidNoise}'
       |      ELSE '' END AS txt
       |  FROM documents),
       |${graft.operators.LanguageId.oracleSelect("planted", "doc_id", "txt")}""".stripMargin
  }

  private def languageIdSql: String =
    lidOracleCtes + """
      |SELECT p.doc_id, p.lang_true, o.lang_pred, o.score_points,
      |  o.margin_points, o.rel_score
      |FROM planted p JOIN lid_out o USING (doc_id)""".stripMargin

  /** q285 oracle: the batch-parity mirror of the streaming LID mix —
    * same planted text, same scoring CTEs, event-time 15-minute
    * windows derived arithmetically from the doc_id-minute clock.
    */
  private def streamLangMixSql: String =
    lidOracleCtes + """
      |SELECT strftime(make_timestamp(
      |    ((p.doc_id * 60) // 900) * 900 * 1000000),
      |    '%Y-%m-%d %H:%M:%S') AS window_start,
      |  o.lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(o.score_points) AS BIGINT) AS sum_points
      |FROM planted p JOIN lid_out o USING (doc_id)
      |GROUP BY 1, 2""".stripMargin

  /** q275/q276 planted messy-URL construction (mirrors
    * ExtensionQueries.plantedUrls residue for residue).
    */
  private val urlPlantSql: String =
    """WITH planted AS (
      |  SELECT doc_id, n_chars,
      |    ['http','https','HTTP'][CAST((doc_id // 4) % 3 AS INTEGER) + 1]
      |    || '://'
      |    || CASE WHEN (doc_id // 12) % 2 = 0 THEN 'www.' ELSE '' END
      |    || ['Example.COM','news.SITE.org','Data.example.com','blog.IO'][
      |         CAST(doc_id % 4 AS INTEGER) + 1]
      |    || ['',':80',':443',':8080'][
      |         CAST((doc_id // 24) % 4 AS INTEGER) + 1]
      |    || ['','/','/a/b/','/a/b','/index.html'][
      |         CAST((doc_id * 2654435761) % 5 AS INTEGER) + 1]
      |    || ['','?utm_source=x&b=2&a=1','?b=2&a=1','?gclid=zz&a=1',
      |        '?z=9&utm_medium=email'][
      |         CAST((doc_id * 48271) % 5 AS INTEGER) + 1]
      |    || CASE WHEN (doc_id * 7919) % 3 = 0 THEN '#frag' ELSE '' END
      |      AS url
      |  FROM documents)""".stripMargin

  /** q277/q278 shared oracle prefix: the planted 9×8 pixel grid
    * (mirroring ExtensionQueries.plantedBmps residue for residue) and
    * its row-major dHash bytes.
    */
  private val dhashOracleCte: String =
    """WITH g AS (
      |  SELECT doc_id, doc_id - doc_id % 2 AS base,
      |    (doc_id * 7919) % 9 AS px, (doc_id * 104729) % 8 AS py,
      |    doc_id % 2 = 1 AS pert
      |  FROM documents),
      |pix AS (
      |  SELECT doc_id, yy.y AS y, xx.x AS x,
      |    (('0x' || substr(md5(CAST(base AS VARCHAR) || ':img:'
      |        || CAST(yy.y * 9 + xx.x AS VARCHAR)), 1, 2))::BIGINT
      |      + CASE WHEN pert AND xx.x = px AND yy.y = py
      |        THEN 9 ELSE 0 END) % 256 AS v
      |  FROM g, (SELECT UNNEST(range(0, 8)) AS y) yy,
      |    (SELECT UNNEST(range(0, 9)) AS x) xx),
      |rowb AS (
      |  SELECT a.doc_id, a.y,
      |    CAST(SUM(CASE WHEN b.v > a.v THEN
      |      [128,64,32,16,8,4,2,1][CAST(a.x AS INTEGER) + 1]
      |      ELSE 0 END) AS BIGINT) AS byte
      |  FROM pix a JOIN pix b
      |    ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
      |  WHERE a.x < 8
      |  GROUP BY a.doc_id, a.y),
      |hashes AS (
      |  SELECT doc_id, string_agg(printf('%02x', byte), '' ORDER BY y)
      |    AS dhash
      |  FROM rowb GROUP BY doc_id)""".stripMargin

  /** q281 oracle: the planted typographic mess (chr() code points,
    * mirroring ExtensionQueries.qTextNormalize residue for residue)
    * normalized by the fold SQL generated from TextNormalize's own
    * tables.
    */
  private def textNormalizeSql: String = {
    val norm = graft.operators.TextNormalize.normalizeSql("txt")
    val inv = graft.operators.TextNormalize.invisibleCountSql("txt")
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    chr(8220) || 'q' || chr(8221)
       |    || CASE WHEN doc_id % 2 = 0 THEN chr(160) ELSE ' ' END
       |    || 'a' || chr(8212) || 'b'
       |    || CASE WHEN doc_id % 3 = 0 THEN
       |         'z' || chr(8203) || 'w' || chr(8204) || 'x'
       |       ELSE ' pl' END
       |    || ' t' || chr(8230)
       |    || CASE WHEN doc_id % 5 = 0 THEN '  double  space '
       |       ELSE ' s ' END
       |    || chr(8216) || 'e' || chr(8217) || ' ' || chr(171) || 'g'
       |    || chr(187) || ' ' || chr(8211) || ' '
       |    || substr(lower(text), 1, 40) AS txt
       |  FROM documents)
       |SELECT doc_id, $norm AS text_norm,
       |  CAST(length(txt) AS BIGINT) AS n_chars_raw,
       |  CAST(length($norm) AS BIGINT) AS n_chars_norm,
       |  CAST($inv AS BIGINT) AS n_invisible,
       |  $norm <> txt AS changed
       |FROM planted""".stripMargin
  }

  /** q282 oracle: planted outlinks (same pinned tables), regex
    * extraction, the UrlCanon replay, host rollup.
    */
  private def outlinksSql: String = {
    val l1 = graft.queries.ExtensionQueries.OutlinkL1
      .map(u => s"'$u'").mkString(",")
    val l2 = graft.queries.ExtensionQueries.OutlinkL2
      .map(u => s"'$u'").mkString(",")
    val pat = graft.operators.UrlCanon.LinkPattern
    s"""WITH planted AS (
       |  SELECT doc_id, text ||
       |    CASE WHEN doc_id % 3 = 1 THEN ' see ' || l1
       |         WHEN doc_id % 3 = 2 THEN ' see ' || l1 || ' and ' || l2
       |         ELSE '' END AS txt
       |  FROM (SELECT doc_id, text,
       |    [$l1][CAST(doc_id % 4 AS INTEGER) + 1] AS l1,
       |    [$l2][CAST((doc_id // 4) % 4 AS INTEGER) + 1] AS l2
       |    FROM documents)),
       |links AS (
       |  SELECT doc_id, UNNEST(regexp_extract_all(txt, '$pat')) AS url
       |  FROM planted),
       |${graft.operators.UrlCanon.oracleSelect("links", "doc_id", "url")}
       |SELECT host, CAST(COUNT(*) AS BIGINT) AS n_links,
       |  CAST(COUNT(DISTINCT url_canon) AS BIGINT) AS n_distinct_targets,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_citing_docs
       |FROM url_canon_out GROUP BY host""".stripMargin
  }

  /** q283 oracle: canonical paths from the shared uc_e CTE, a VALUES
    * rule table generated from the pinned UrlRules, longest-prefix
    * winner via a window with the same tie-break.
    */
  private def urlRulesSql: String = {
    val rules = graft.queries.ExtensionQueries.UrlRules
      .map { case (h, p, a) => s"('$h','$p',$a)" }.mkString(", ")
    urlPlantSql + ",\n" +
      graft.operators.UrlCanon.oracleSelect("planted", "doc_id", "url") +
      s""",
         |paths AS (
         |  SELECT doc_id, host,
         |    CASE WHEN length(p1) > 1 AND ends_with(p1, '/')
         |      THEN substr(p1, 1, length(p1) - 1) ELSE p1 END AS path
         |  FROM uc_e),
         |rules(rhost, path_prefix, allow) AS (VALUES $rules),
         |m AS (
         |  SELECT p.doc_id, p.host, p.path, r.path_prefix, r.allow
         |  FROM paths p LEFT JOIN rules r
         |    ON p.host = r.rhost AND starts_with(p.path, r.path_prefix)),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY doc_id, host, path
         |      ORDER BY length(path_prefix) DESC NULLS LAST,
         |        path_prefix) AS rn
         |  FROM m)
         |SELECT doc_id, host, path, path_prefix AS matched_prefix,
         |  COALESCE(allow, true) AS allowed
         |FROM ranked WHERE rn = 1""".stripMargin
  }

  /** q284 oracle: the planted HTML construction + the extraction
    * chain generated from HtmlExtract's step tables.
    */
  private def htmlExtractSql: String = {
    val ext = graft.operators.HtmlExtract.extractSql("html")
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    '<html><head><title>t</title>'
       |    || CASE WHEN doc_id % 2 = 0 THEN
       |         '<style type="text/css">p{color:red}</style>'
       |       ELSE '' END
       |    || '</head><body><h1>Doc</h1><p>'
       |    || substr(text, 1, 60)
       |    || ' &amp; more &lt;tags&gt; &quot;q&quot;'
       |    || ' &#39;a&#39;&nbsp;end</p>'
       |    || CASE WHEN doc_id % 3 = 0 THEN
       |         '<script>var x = "<p>";</script>' ELSE '' END
       |    || CASE WHEN doc_id % 5 = 0 THEN
       |         '<!-- hidden <b>comment</b> -->' ELSE '' END
       |    || '<a href="http://example.com/a">link</a></body></html>'
       |      AS html
       |  FROM documents)
       |SELECT doc_id, $ext AS text,
       |  CAST(length(html) AS BIGINT) AS n_chars_html,
       |  CAST(length($ext) AS BIGINT) AS n_chars_text
       |FROM planted""".stripMargin
  }

  /** Shared q286/q287 planted rich-HTML CTE (mirrors
    * ExtensionQueries.plantedRichHtml residue for residue).
    */
  private def richHtmlPlantSql: String = {
    val l1 = graft.queries.ExtensionQueries.OutlinkL1
      .map(u => s"'$u'").mkString(",")
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    '<html><head><title>Doc &amp; no '
       |    || CAST(doc_id % 7 AS VARCHAR) || '</title>'
       |    || CASE WHEN doc_id % 2 = 0 THEN
       |         '<meta name="description" content="A &quot;page&quot; about '
       |         || CAST(doc_id % 5 AS VARCHAR) || '">' ELSE '' END
       |    || CASE WHEN doc_id % 3 = 0 THEN
       |         '<link rel="canonical" href="HTTP://WWW.Example.COM/c/'
       |         || CAST(doc_id % 9 AS VARCHAR) || '/">' ELSE '' END
       |    || '</head><body><p>' || substr(text, 1, 40) || '</p>'
       |    || '<a href="' || [$l1][CAST(doc_id % 4 AS INTEGER) + 1]
       |    || '"><b>first</b> link</a>'
       |    || CASE WHEN doc_id % 4 = 0 THEN
       |         '<a href="/rel/path">rel &amp; link</a>' ELSE '' END
       |    || '</body></html>' AS html
       |  FROM documents)""".stripMargin
  }

  private def anchorLinksSql: String = {
    val pat = graft.operators.HtmlExtract.AnchorPattern
    val anchorText = graft.operators.HtmlExtract.extractSql("b.anchor_raw")
    richHtmlPlantSql + s""",
       |a AS (
       |  SELECT doc_id,
       |    UNNEST(regexp_extract_all(html, '$pat', 1)) AS href_raw,
       |    UNNEST(regexp_extract_all(html, '$pat', 2)) AS anchor_raw
       |  FROM planted),
       |b AS (
       |  SELECT doc_id, href_raw, anchor_raw,
       |    regexp_matches(href_raw, '(?i)^https?://') AS is_absolute,
       |    ROW_NUMBER() OVER (ORDER BY doc_id, href_raw, anchor_raw)
       |      AS rid
       |  FROM a),
       |abs_ AS (SELECT rid, href_raw AS url FROM b WHERE is_absolute),
       |${graft.operators.UrlCanon.oracleSelect("abs_", "rid", "url")}
       |SELECT b.doc_id, b.href_raw, b.is_absolute,
       |  o.url_canon AS href_canon,
       |  $anchorText AS anchor_text
       |FROM b LEFT JOIN url_canon_out o ON b.rid = o.rid""".stripMargin
  }

  private def pageMetaSql: String = {
    val title = graft.operators.HtmlExtract.extractSql(
      s"regexp_extract(html, '${graft.operators.HtmlExtract.TitlePattern}', 1)")
    val meta = graft.operators.HtmlExtract.extractSql(
      s"regexp_extract(html, '${graft.operators.HtmlExtract.MetaDescPattern}', 1)")
    val canon =
      s"regexp_extract(html, '${graft.operators.HtmlExtract.CanonicalPattern}', 1)"
    richHtmlPlantSql + s""",
       |c0 AS (
       |  SELECT doc_id, $title AS title, $meta AS meta_description,
       |    $canon AS canonical_raw
       |  FROM planted),
       |ca AS (SELECT doc_id, canonical_raw AS url FROM c0
       |       WHERE canonical_raw <> ''),
       |${graft.operators.UrlCanon.oracleSelect("ca", "doc_id", "url")}
       |SELECT c0.doc_id, c0.title, c0.meta_description,
       |  c0.canonical_raw, o.url_canon AS canonical_url
       |FROM c0 LEFT JOIN url_canon_out o USING (doc_id)""".stripMargin
  }

  private def profileMergeSql(cols: Seq[String]): String = {
    val ctes = cols.map { c =>
      s"""st_$c AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_null,
         |    MIN(CAST($c AS DOUBLE)) AS min_value,
         |    MAX(CAST($c AS DOUBLE)) AS max_value,
         |    CAST(SUM(CAST($c AS DECIMAL(28,6))) AS DOUBLE) AS sumd
         |  FROM lineitem),
         |dv_$c AS (SELECT DISTINCT printf('%.6f', CAST($c AS DOUBLE)) AS s
         |          FROM lineitem WHERE $c IS NOT NULL),
         |kv_$c AS (
         |  SELECT MAX(n_exact) AS n_exact,
         |    MAX(CASE WHEN rn <= 64 THEN u END) AS v_k,
         |    SUM(CASE WHEN rn <= 64 THEN 1 ELSE 0 END) AS kk
         |  FROM (SELECT u, ROW_NUMBER() OVER (ORDER BY u, s) AS rn,
         |          COUNT(*) OVER () AS n_exact
         |        FROM (SELECT s, CAST(('0x' || substr(md5(s || ':prof_v1'),
         |            1, 15))::BIGINT AS DOUBLE) / power(2.0, 60.0) AS u
         |          FROM dv_$c)))""".stripMargin
    }.mkString(",\n")
    val sel = cols.map { c =>
      s"""SELECT '$c' AS column_name, n_rows, n_null, min_value, max_value,
         |  CASE WHEN n_rows > n_null THEN
         |    ROUND(sumd / CAST(n_rows - n_null AS DOUBLE), 6)
         |    END AS mean_value,
         |  CASE WHEN COALESCE(kk, 0) < 64 THEN CAST(COALESCE(n_exact, 0)
         |      AS DOUBLE)
         |    ELSE ROUND(63.0 / v_k, 6) END AS distinct_est,
         |  CAST(COALESCE(n_exact, 0) AS BIGINT) AS n_distinct_exact,
         |  (abs((CASE WHEN COALESCE(kk, 0) < 64
         |        THEN CAST(COALESCE(n_exact, 0) AS DOUBLE)
         |      ELSE ROUND(63.0 / v_k, 6) END)
         |    / CAST(n_exact AS DOUBLE) - 1.0) <= 3.0 / sqrt(64.0))
         |    AS within_bound
         |FROM st_$c, kv_$c""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $ctes\n$sel"
  }

  /** Shared JL CTE prefix: the exploded 1e-6-lattice components `e`
    * (0-based dim i) and the md5 sign matrix `s` over i × 16 output
    * dims, rooted on `from` (a table name or parenthesized subquery).
    */
  private def jlECte(from: String): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(i - 1 AS INTEGER) AS i,
       |    CAST(ROUND(ROUND(CAST(embedding[i] AS DOUBLE), 6) * 1000000, 0)
       |      AS BIGINT) AS v6
       |  FROM $from, UNNEST(range(1, len(embedding) + 1)) AS u(i)),
       |s AS (
       |  SELECT di.i, dj.j,
       |    CASE WHEN substr(md5('jl_v1:' || CAST(di.i AS VARCHAR) || ':'
       |        || CAST(dj.j AS VARCHAR)), 1, 1)
       |      IN ('8','9','a','b','c','d','e','f') THEN -1 ELSE 1 END AS s
       |  FROM (SELECT DISTINCT i FROM e) di,
       |    (SELECT UNNEST(range(0, 16)) AS j) dj)""".stripMargin

  /** q24's quality-score algebra as a reusable CTE chain (t, r, tq) —
    * shared by the influence audit so the score can never desync
    * from the declared quality surface.
    */
  private def qualityCteSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(LENGTH(text) AS DOUBLE) AS len,
      |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) AS npunct,
      |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) AS nupper,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, len,
      |    CASE WHEN len = 0 THEN 0.0 ELSE npunct / len END AS punct_ratio,
      |    CASE WHEN len = 0 THEN 0.0 ELSE nupper / len END AS upper_ratio,
      |    CAST(len(toks) AS DOUBLE) AS n,
      |    CAST(len(list_filter(toks,
      |      t -> t IN ('the','and','of','to','a','in','is','it'))) AS DOUBLE) AS stops
      |  FROM t),
      |tq AS (
      |  SELECT doc_id, ROUND(
      |      (CASE WHEN len < 20 THEN len/20.0
      |            WHEN len > 5000 THEN greatest(0.0, 1.0 - (len-5000)/20000.0)
      |            ELSE 1.0 END) * 0.3
      |    + greatest(0.0, 1.0 - punct_ratio * 4.0) * 0.25
      |    + greatest(0.0, 1.0 - upper_ratio * 3.0) * 0.2
      |    + least(1.0, (CASE WHEN n = 0 THEN 0.0 ELSE stops/n END) * 5.0 + 0.4) * 0.25,
      |    6) AS quality
      |  FROM r)""".stripMargin

  /** Benford oracle with expectations pinned to the engine's exact
    * Double.toString literals (log10(1 + 1/d) rounded at 6 dp).
    */
  private def benfordSql: String = {
    val cases = (1 to 9).map { d =>
      val v = math.log10(1.0 + 1.0 / d)
      s"WHEN $d THEN ROUND(CAST(${v} AS DOUBLE), 6)"
    }.mkString("\n        ")
    s"""WITH c AS (
       |  SELECT CAST(substr(CAST(CAST(ROUND("value" * 100.0) AS BIGINT)
       |      AS VARCHAR), 1, 1) AS INTEGER) AS digit
       |  FROM events WHERE "value" > 0.0),
       |g AS (SELECT digit, COUNT(*) AS n FROM c GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM g)
       |SELECT digit, CAST(n AS BIGINT) AS n,
       |  ROUND(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS share,
       |  CASE digit
       |        $cases
       |        ELSE 0.0 END AS benford_share,
       |  ROUND(ROUND(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE), 6)
       |    - (CASE digit
       |        $cases
       |        ELSE 0.0 END), 6) AS deviation
       |FROM g CROSS JOIN tot""".stripMargin
  }

  /** Incremental near-dup oracle: the q125 portable-banding recipe
    * over the planted base∪batch with newness flags — the band
    * predicate, the at-least-one-new restriction, and the exact
    * verify all replayed.
    */
  private def incrementalNearDupSql: String =
    """WITH pd AS (
      |  SELECT doc_id, text, FALSE AS neu FROM documents
      |  UNION ALL SELECT 600003, text, FALSE FROM documents WHERE doc_id = 3
      |  UNION ALL SELECT doc_id + 500000, text, TRUE FROM documents
      |  WHERE doc_id % 7 = 0),
      |tk AS (
      |  SELECT doc_id, list_filter(
      |    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0) AS tk
      |  FROM pd),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(tk)),
      |    i -> tk[i] || ' ' || tk[i + 1])) AS toks
      |  FROM tk WHERE len(tk) >= 2),
      |tok AS (SELECT doc_id, unnest(toks) AS term FROM sh),
      |mh AS (
      |  SELECT doc_id, j.j AS j,
      |    MIN((((j.j + 1) * 2654435761 % 2147483647)
      |         * (('0x' || substr(md5(term), 1, 15))::BIGINT % 2147483647)
      |         + j.j * 40503 + 12345) % 2147483647) AS mh
      |  FROM tok CROSS JOIN (SELECT unnest(range(16)) AS j) j
      |  GROUP BY doc_id, j.j),
      |bands AS (
      |  SELECT doc_id, CAST(j // 2 AS INTEGER) AS band,
      |    string_agg(CAST(mh AS VARCHAR), '|' ORDER BY j) AS band_key
      |  FROM mh GROUP BY doc_id, j // 2),
      |fl AS (SELECT doc_id, neu FROM pd),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.band_key = b.band_key
      |    AND a.doc_id < b.doc_id
      |  JOIN fl fa ON fa.doc_id = a.doc_id
      |  JOIN fl fb ON fb.doc_id = b.doc_id
      |  WHERE fa.neu OR fb.neu)
      |SELECT id_a, id_b,
      |  ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |    / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE), 6)
      |    AS jaccard_sim,
      |  CASE WHEN fa.neu AND fb.neu THEN 'batch_internal'
      |    ELSE 'batch_vs_base' END AS pair_kind
      |FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b
      |  JOIN fl fa ON fa.doc_id = id_a JOIN fl fb ON fb.doc_id = id_b
      |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |  / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) >= 0.5""".stripMargin

  /** KMV set-algebra oracle: per-cohort bottom-64 order statistics,
    * merged bottom-64 over the sketch-value union, ρ·union.
    */
  private def kmvSetOpsSql: String =
    """WITH ua AS (SELECT DISTINCT user_id FROM events
      |            WHERE event_type = 'click'),
      |ub AS (SELECT DISTINCT user_id FROM events
      |       WHERE event_type = 'purchase'),
      |ka AS (SELECT user_id,
      |         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)
      |           || ':kmv_v1'), 1, 15))::BIGINT AS DOUBLE)
      |           / power(2.0, 60.0) AS u
      |       FROM ua),
      |kb AS (SELECT user_id,
      |         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)
      |           || ':kmv_v1'), 1, 15))::BIGINT AS DOUBLE)
      |           / power(2.0, 60.0) AS u
      |       FROM ub),
      |sa AS (SELECT u FROM (SELECT u,
      |         ROW_NUMBER() OVER (ORDER BY u, user_id) AS rn FROM ka)
      |       WHERE rn <= 64),
      |sb AS (SELECT u FROM (SELECT u,
      |         ROW_NUMBER() OVER (ORDER BY u, user_id) AS rn FROM kb)
      |       WHERE rn <= 64),
      |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_a FROM ua),
      |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_b FROM ub),
      |mu AS (SELECT DISTINCT u FROM (SELECT u FROM sa
      |       UNION ALL SELECT u FROM sb)),
      |m AS (SELECT u FROM (SELECT u, ROW_NUMBER() OVER (ORDER BY u) AS rn
      |        FROM mu) WHERE rn <= 64),
      |msz AS (SELECT COUNT(*) AS mk, MAX(u) AS vk FROM m),
      |mall AS (SELECT COUNT(*) AS nall FROM mu),
      |bo AS (SELECT COUNT(*) AS nboth FROM m
      |       WHERE u IN (SELECT u FROM sa) AND u IN (SELECT u FROM sb))
      |SELECT 'click' AS cohort_a, 'purchase' AS cohort_b,
      |  n_exact_a, n_exact_b,
      |  CASE WHEN n_exact_a <= 64 AND n_exact_b <= 64
      |    THEN CAST(nall AS DOUBLE)
      |    ELSE ROUND(63.0 / vk, 6) END AS union_est,
      |  ROUND((CAST(nboth AS DOUBLE) / CAST(mk AS DOUBLE))
      |    * (CASE WHEN n_exact_a <= 64 AND n_exact_b <= 64
      |        THEN CAST(nall AS DOUBLE)
      |        ELSE ROUND(63.0 / vk, 6) END), 6) AS intersect_est
      |FROM na CROSS JOIN nb CROSS JOIN msz CROSS JOIN mall CROSS JOIN bo""".stripMargin

  /** Planted-duplication corpus shared by q226-q228: verbatim
    * cross-source mirrors for docs ≡ 0 mod 7 (coprime to the source
    * cycle — mirrors land in every source), trailing-space
    * formatting variants for docs ≡ 1 mod 7.
    */
  private def plantedDupSql: String =
    """WITH pd AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text, 'src_mirror' FROM documents
      |  WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000, text || ' ', source FROM documents
      |  WHERE doc_id % 7 = 1)""".stripMargin

  /** Winnowing oracle scaffold (q223/q224): positional 4-gram md5
    * prefixes, per-start struct-min over the 4-row frame, full
    * windows only — the final SELECT varies per query.
    */
  private def winnowSql(finalSelect: String): String =
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'),
       |    t -> len(t) > 0) AS tk
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
       |    substr(md5(array_to_string(list_slice(tk, i, i + 3), ' ')),
       |      1, 16) AS h,
       |    CAST(len(tk) - 3 AS INTEGER) AS n
       |  FROM tk, UNNEST(range(1, len(tk) - 2)) t(i)
       |  WHERE len(tk) >= 7),
       |w AS (
       |  SELECT doc_id, pos, n,
       |    MIN({'h': h, 'p': pos}) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
       |  FROM g)
       |$finalSelect""".stripMargin

  /** Repeated-span oracle scaffold (q216/q217): positional 8-gram
    * postings keyed by the same 16-hex md5 prefix the engine ships,
    * document frequency ≥ 2 over distinct docs, gap ≤ 8
    * gaps-and-islands merge — the final SELECT varies per query.
    */
  private def repeatedSpanSql(finalSelect: String): String =
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'),
       |    t -> len(t) > 0) AS tk
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
       |    substr(md5(array_to_string(list_slice(tk, i, i + 7), ' ')),
       |      1, 16) AS h
       |  FROM tk, UNNEST(range(1, len(tk) - 6)) t(i)
       |  WHERE len(tk) >= 8),
       |freq AS (SELECT h FROM g GROUP BY h
       |         HAVING COUNT(DISTINCT doc_id) >= 2),
       |f AS (SELECT g.doc_id, g.pos FROM g JOIN freq USING (h)),
       |lg AS (SELECT doc_id, pos,
       |         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |       FROM f),
       |isl AS (SELECT doc_id, pos,
       |  SUM(CASE WHEN prev IS NOT NULL AND pos - prev <= 8
       |      THEN 0 ELSE 1 END)
       |    OVER (PARTITION BY doc_id ORDER BY pos
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM lg)
       |$finalSelect""".stripMargin

  /** Random-walk oracle: the walk recurrence unrolled — the same
    * sorted-distinct adjacency lists, the same md5 24-bit draw
    * (`('0x' || substr(md5(key),1,6))::BIGINT ≡ Spark's conv`), the
    * same 1-based neighbor indexing.
    */
  private def randomWalksSql: String = {
    val steps = 4
    val rounds = (1 to steps).map { t =>
      s"""w$t AS (
         |  SELECT w.walk_id, w.seed, w.r,
         |    adj.nbrs[CAST(((('0x' || substr(md5('walk_v1:' ||
         |      CAST(w.seed AS VARCHAR) || ':' || CAST(w.r AS VARCHAR) ||
         |      ':$t'), 1, 6))::BIGINT) % adj.deg) AS INTEGER) + 1] AS cur
         |  FROM w${t - 1} w JOIN adj ON adj.src = w.cur)""".stripMargin
    }.mkString(",\n")
    val outs = (1 to steps).map(t =>
      s"UNION ALL SELECT walk_id, CAST($t AS INTEGER) AS step, " +
        s"cur AS node FROM w$t").mkString("\n")
    s"""WITH b AS (
       |  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
       |    CAST(l_partkey AS BIGINT) + 10000000 AS p FROM lineitem),
       |e AS (SELECT s AS src, p AS dst FROM b
       |      UNION ALL SELECT p, s FROM b),
       |adj AS (
       |  SELECT src, list_sort(list(DISTINCT dst)) AS nbrs,
       |    CAST(COUNT(DISTINCT dst) AS BIGINT) AS deg
       |  FROM e GROUP BY src),
       |w0 AS (
       |  SELECT CAST(s AS VARCHAR) || '_' || CAST(r AS VARCHAR) AS walk_id,
       |    s AS seed, CAST(r AS INTEGER) AS r, s AS cur
       |  FROM (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s
       |        FROM lineitem WHERE l_suppkey < 5),
       |    UNNEST(range(3)) t(r)),
       |$rounds
       |SELECT walk_id, CAST(0 AS INTEGER) AS step, cur AS node FROM w0
       |$outs""".stripMargin
  }

  /** k-center oracle: the farthest-point trajectory unrolled — seed =
    * MIN(id), each round a `least`-chained running min-distance² (the
    * same in-order squared-L2 fold and round order as the engine) and
    * an argmax with the (mind2 desc, id asc) tie-break.
    */
  private def kCenterSql: String = {
    val k = 8
    val d2 = (v: String, c: String) =>
      s"list_sum(list_transform(list_zip($v, $c), " +
        "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) " +
        "* (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
    val rounds = (2 to k).map { r =>
      val prevSel = (1 until r).map(i => s"SELECT cid FROM p$i")
        .mkString(" UNION ALL ")
      val update =
        if (r < k)
          s""",
             |m$r AS (
             |  SELECT m.vec_id,
             |    least(m.mind2, ${d2("e.embedding", "cv.v")}) AS mind2
             |  FROM m${r - 1} m
             |  JOIN embeddings e ON e.vec_id = m.vec_id
             |  CROSS JOIN (SELECT embedding AS v FROM embeddings
             |              WHERE vec_id = (SELECT cid FROM p$r)) cv)""".stripMargin
        else ""
      s"""p$r AS (
         |  SELECT vec_id AS cid, mind2 AS seld2 FROM m${r - 1}
         |  WHERE vec_id NOT IN ($prevSel)
         |  ORDER BY mind2 DESC, vec_id ASC LIMIT 1)$update""".stripMargin
    }.mkString(",\n")
    val out = (2 to k).map(r =>
      s"UNION ALL SELECT $r AS center_rank, cid AS vec_id, " +
        s"ROUND(seld2, 6) AS sel_d2 FROM p$r").mkString("\n")
    s"""WITH p1 AS (SELECT MIN(vec_id) AS cid FROM embeddings),
       |m1 AS (
       |  SELECT e.vec_id, ${d2("e.embedding", "cv.v")} AS mind2
       |  FROM embeddings e
       |  CROSS JOIN (SELECT embedding AS v FROM embeddings
       |              WHERE vec_id = (SELECT cid FROM p1)) cv),
       |$rounds
       |SELECT CAST(1 AS INTEGER) AS center_rank, cid AS vec_id,
       |  CAST(NULL AS DOUBLE) AS sel_d2 FROM p1
       |$out""".stripMargin
  }

  /** MMR oracle: the greedy trajectory unrolled — pool = top-30 exact
    * cosine per query (self excluded), pairwise pool sims oriented
    * (candidate, selected) like the engine kernel call, then k chained
    * argmax CTEs with the pinned `λ·rel − (1−λ)·maxsim` chain and the
    * (score desc, id asc) tie-break. The (1−λ) literal is embedded via
    * Double.toString so both engines compute with the bit-identical
    * constant (1.0 − 0.7 is NOT the double nearest 0.3).
    */
  private def mmrSql: String = {
    val k = 5
    val lam = 0.7
    val oneMinus = (1.0 - lam).toString
    val cosQ = "list_sum(list_transform(list_zip(c.embedding, q.qvec), " +
      "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) " +
      "/ (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) " +
      "* sqrt(list_sum(list_transform(q.qvec, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))"
    val steps = (2 to k).map { i =>
      s"""pick$i AS (
         |  SELECT query_id, vec_id, score FROM (
         |    SELECT p.query_id, p.vec_id,
         |      $lam * p.rel - $oneMinus * pen.m AS score,
         |      ROW_NUMBER() OVER (PARTITION BY p.query_id
         |        ORDER BY $lam * p.rel - $oneMinus * pen.m DESC,
         |          p.vec_id ASC) AS rn
         |    FROM pool p
         |    JOIN (SELECT ps.query_id, ps.id_a, MAX(ps.s) AS m
         |          FROM ps JOIN sel${i - 1} sl
         |            ON ps.query_id = sl.query_id AND ps.id_b = sl.vec_id
         |          GROUP BY 1, 2) pen
         |      ON pen.query_id = p.query_id AND pen.id_a = p.vec_id
         |    LEFT JOIN sel${i - 1} x
         |      ON x.query_id = p.query_id AND x.vec_id = p.vec_id
         |    WHERE x.vec_id IS NULL)
         |  WHERE rn = 1),
         |sel$i AS (
         |  SELECT query_id, vec_id, mmr_rank, score FROM sel${i - 1}
         |  UNION ALL
         |  SELECT query_id, vec_id, $i AS mmr_rank, score FROM pick$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH qs AS (
       |  SELECT vec_id AS query_id, embedding AS qvec
       |  FROM embeddings WHERE vec_id < 5),
       |pool AS (
       |  SELECT query_id, vec_id, rel FROM (
       |    SELECT q.query_id, c.vec_id, $cosQ AS rel,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY $cosQ DESC, c.vec_id ASC) AS pr
       |    FROM embeddings c CROSS JOIN qs q
       |    WHERE c.vec_id <> q.query_id)
       |  WHERE pr <= 30),
       |ps AS (
       |  SELECT a.query_id, a.vec_id AS id_a, b.vec_id AS id_b,
       |    list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(ea.embedding,
       |         x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(eb.embedding,
       |         x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS s
       |  FROM pool a JOIN pool b
       |    ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
       |  JOIN embeddings ea ON ea.vec_id = a.vec_id
       |  JOIN embeddings eb ON eb.vec_id = b.vec_id),
       |pick1 AS (
       |  SELECT query_id, vec_id, score FROM (
       |    SELECT query_id, vec_id, $lam * rel - $oneMinus * 0.0 AS score,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY $lam * rel - $oneMinus * 0.0 DESC, vec_id ASC) AS rn
       |    FROM pool)
       |  WHERE rn = 1),
       |sel1 AS (
       |  SELECT query_id, vec_id, 1 AS mmr_rank, score FROM pick1),
       |$steps
       |SELECT query_id, vec_id, CAST(mmr_rank AS INTEGER) AS mmr_rank,
       |  ROUND(score, 6) AS mmr_score
       |FROM sel$k""".stripMargin
  }

  /** DuckDB oracles for the TPC-H planner-stressing shapes q66-q70 —
    * written in the CORRELATED form (scalar subquery / EXISTS / NOT
    * EXISTS) so the oracle exercises the semantics our decorrelated
    * Spark plans must reproduce.
    */
  private def tpchShapeSql: Map[String, String] = Map(
    "q85_revenue_delta" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.02 AND l_discount <= 0.06
        |  AND l_quantity < 24""".stripMargin,
    "q86_product_profit" ->
      """SELECT n_name AS nation,
        |  CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    - p_retailprice * l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin,
    "q87_important_stock" ->
      """WITH supply AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS part_value
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_5'
        |  GROUP BY l_partkey)
        |SELECT l_partkey AS p_partkey, part_value
        |FROM supply
        |WHERE part_value > (SELECT CAST(SUM(CAST(part_value AS DECIMAL(30,6))) AS DOUBLE)
        |                    FROM supply) * 0.002""".stripMargin,
    "q88_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, s_acctbal, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)""".stripMargin,
    "q89_part_supplier_count" ->
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size""".stripMargin,
    "q90_small_qty_revenue" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
        |  COUNT(*) AS n_items
        |FROM lineitem l
        |JOIN part ON l.l_partkey = p_partkey AND p_type = 'SMALL'
        |WHERE l.l_quantity < 0.5 * (
        |  SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |  FROM lineitem l2
        |  JOIN part p2 ON l2.l_partkey = p2.p_partkey AND p2.p_type = 'SMALL'
        |  WHERE l2.l_partkey = l.l_partkey)""".stripMargin,
    "q91_large_orders" ->
      """SELECT c_name, c_custkey, o_orderkey,
        |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate,
        |  o_totalprice, total_qty
        |FROM (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 250.0) big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin,
    "q92_promo_suppliers" ->
      """SELECT s_suppkey, s_name, s_acctbal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM (
        |    SELECT l_partkey, l_suppkey,
        |      SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        |    FROM lineitem
        |    JOIN part ON l_partkey = p_partkey AND p_type = 'SMALL'
        |    GROUP BY l_partkey, l_suppkey)
        |  QUALIFY CAST(qty AS DOUBLE) >
        |    CAST(SUM(qty) OVER (PARTITION BY l_partkey) AS DOUBLE) * 0.3)""".stripMargin,
    "q66_min_cost_supplier" ->
      """WITH cost AS (
        |  SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS supply_cost
        |  FROM lineitem GROUP BY 1, 2),
        |offers AS (
        |  SELECT p.p_partkey, p.p_brand, s.s_name, s.s_acctbal, n.n_name, c.supply_cost
        |  FROM cost c
        |  JOIN supplier s ON c.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
        |  JOIN part p ON c.l_partkey = p.p_partkey AND p.p_size <= 10)
        |SELECT p_partkey, p_brand, s_name, s_acctbal, n_name, supply_cost
        |FROM offers o1
        |WHERE supply_cost = (SELECT MIN(supply_cost) FROM offers o2
        |                     WHERE o2.p_partkey = o1.p_partkey)""".stripMargin,
    "q67_priority_exists" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin,
    "q68_nation_volume" ->
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(SUM(vol) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
        |    CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
        |    CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6)) AS vol
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ns ON s_nationkey = ns.n_nationkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation nc ON c_nationkey = nc.n_nationkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |    AND ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
        |      OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')))
        |GROUP BY 1, 2, 3""".stripMargin,
    "q69_market_share" ->
      """SELECT o_year,
        |  ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol
        |    ELSE CAST(0 AS DECIMAL(24,6)) END) AS DOUBLE)
        |    / CAST(SUM(vol) AS DOUBLE), 6) AS mkt_share,
        |  CAST(SUM(vol) AS DOUBLE) AS total_revenue
        |FROM (
        |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
        |    ns.n_name AS supp_nation,
        |    CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6)) AS vol
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation nc ON c_nationkey = nc.n_nationkey
        |  JOIN region ON nc.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ns ON s_nationkey = ns.n_nationkey
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01')
        |GROUP BY o_year""".stripMargin,
    // 5-minute tumbling buckets via epoch arithmetic (Spark's window()
    // aligns to the 1970 epoch; 300s divides it) — naive timestamps on
    // both sides so no timezone enters the compare
    "q78_windowed_stream" ->
      """SELECT strftime(make_timestamp((epoch_us(ts) // 300000000) * 300000000),
        |    '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,
    "q79_dedup_stream" ->
      """SELECT DISTINCT user_id, event_type FROM events""".stripMargin,
    // batch mirror of the stream-static enrichment replay: same
    // 5-minute bucketing as q78, inner join to the same derived dim
    "q167_stream_static_join" ->
      """WITH dim AS (
        |  SELECT c_custkey - 1 AS user_id, c_mktsegment AS segment
        |  FROM customer WHERE c_custkey <= 150)
        |SELECT strftime(make_timestamp(
        |    (epoch_us(ts) // 300000000) * 300000000),
        |    '%Y-%m-%d %H:%M:%S') AS window_start,
        |  segment, COUNT(*) AS n,
        |  CAST(SUM(CAST("value" AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events JOIN dim USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    "q80_media_metadata" ->
      """SELECT doc_id, 'text/plain' AS media_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS checksum
        |FROM documents""".stripMargin,
    // operation-for-operation mirror of TextFunctions.qualityScoreFrom:
    // java \p{Punct} == RE2 [[:punct:]] (same ASCII set), identical
    // float evaluation order, ROUND half-up in both engines
    "q81_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(LENGTH(text) AS DOUBLE) AS len,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) AS npunct,
        |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) AS nupper,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, len,
        |    CASE WHEN len = 0 THEN 0.0 ELSE npunct / len END AS punct_ratio,
        |    CASE WHEN len = 0 THEN 0.0 ELSE nupper / len END AS upper_ratio,
        |    CAST(len(toks) AS DOUBLE) AS n,
        |    CAST(len(list_filter(toks,
        |      t -> t IN ('the','and','of','to','a','in','is','it'))) AS DOUBLE) AS stops
        |  FROM t)
        |SELECT doc_id, ROUND(
        |    (CASE WHEN len < 20 THEN len/20.0
        |          WHEN len > 5000 THEN greatest(0.0, 1.0 - (len-5000)/20000.0)
        |          ELSE 1.0 END) * 0.3
        |  + greatest(0.0, 1.0 - punct_ratio * 4.0) * 0.25
        |  + greatest(0.0, 1.0 - upper_ratio * 3.0) * 0.2
        |  + least(1.0, (CASE WHEN n = 0 THEN 0.0 ELSE stops/n END) * 5.0 + 0.4) * 0.25,
        |  6) AS quality
        |FROM r""".stripMargin,
    "q72_returned_customers" ->
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
        |  c_acctbal, n_name
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q73_late_ship_priority" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag""".stripMargin,
    "q74_order_count_dist" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin,
    "q75_promo_share" ->
      """SELECT
        |  ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(24,6))
        |      ELSE CAST(0 AS DECIMAL(24,6)) END) AS DOUBLE)
        |    / CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(24,6))) AS DOUBLE),
        |    6) AS promo_revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,
    "q76_disjunctive_join" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size <= 5
        |       AND l_quantity >= 1 AND l_quantity <= 11)
        |   OR (p_brand = 'Brand#2' AND p_size <= 10
        |       AND l_quantity >= 10 AND l_quantity <= 20)
        |   OR (p_brand = 'Brand#3' AND p_size <= 15
        |       AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin,
    "q77_rich_inactive" ->
      """SELECT cntrycode, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM (
        |  SELECT c_nationkey % 10 AS cntrycode, c_acctbal
        |  FROM customer
        |  WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |                       / COUNT(*)
        |                     FROM customer WHERE c_acctbal > 0)
        |    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01'))
        |GROUP BY cntrycode""".stripMargin,
    "q70_waiting_supplier" ->
      """SELECT s_name, numwait FROM (
        |  SELECT s_name, COUNT(*) AS numwait
        |  FROM lineitem l1
        |  JOIN orders ON o_orderkey = l1.l_orderkey
        |  JOIN supplier ON s_suppkey = l1.l_suppkey
        |  WHERE l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |    AND EXISTS (SELECT 1 FROM lineitem l2
        |                WHERE l2.l_orderkey = l1.l_orderkey
        |                  AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                    WHERE l3.l_orderkey = l1.l_orderkey
        |                      AND l3.l_suppkey <> l1.l_suppkey
        |                      AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |  GROUP BY s_name)
        |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin
  )

  /** Gap-based sessionization (30-min gap) — the oracle for both the
    * batch window form (q33) and the streaming replay (q71).
    */
  private def sessionizeSql: String =
    """SELECT user_id,
      |  CAST(SUM(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
      |  COUNT(*) AS n_events
      |FROM (
      |  SELECT user_id, ts,
      |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events)
      |GROUP BY user_id""".stripMargin

  /** Backward as-of semantics as correlated scalar subqueries — the
    * oracle for both q45 (tagged union + window) and q101 (native
    * streaming-merge exec).
    */
  private def asOfJoinSql: String =
    """SELECT p.user_id, p.event_id, p.ts,
      |  (SELECT last(c.event_id ORDER BY c.ts, c.event_id) FROM events c
      |     WHERE c.user_id = p.user_id AND c.event_type = 'click'
      |       AND c.ts <= p.ts) AS click_event_id,
      |  (SELECT last(c.ts ORDER BY c.ts, c.event_id) FROM events c
      |     WHERE c.user_id = p.user_id AND c.event_type = 'click'
      |       AND c.ts <= p.ts) AS click_ts
      |FROM events p WHERE p.event_type = 'purchase'""".stripMargin

  /** Exhaustive cosine pairs over the full 500-vector table — the
    * oracle for q93 (embedding verify stage, blocking disabled). The
    * double-cast list arithmetic mirrors the compiled cosine kernel
    * bit-for-bit (same shape as q31's oracle).
    */
  private def embeddingVerifySql: String =
    """SELECT id_a, id_b, ROUND(sim, 6) AS cosine_sim FROM (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |) WHERE sim >= 0.4""".stripMargin

  /** q183's unrolled oracle: the SAME integer quantization (shifted
    * grid, constants cancel in distances), md5-seeded init, and two
    * centroid updates via `SUM // COUNT` (floor division on
    * non-negative sums ≡ Spark's truncating `div`), with the final
    * round's argmin emitted. Positions index `q[pos]` 1-based via a
    * range UNNEST (DuckDB 1.0 has no WITH ORDINALITY).
    */
  private def kmeansQuantSql: String = {
    def assign(srcC: String, n: Int): String = {
      val dist =
        "list_sum(list_transform(list_zip(q, c), p -> (p[1]-p[2])*(p[1]-p[2])))"
      s"""a$n AS (
         |  SELECT id, q, cidx,
         |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY $dist, cidx) AS rn
         |  FROM qv CROSS JOIN $srcC),
         |s$n AS (SELECT id, q, cidx FROM a$n WHERE rn = 1)""".stripMargin
    }
    def update(srcS: String, n: Int): String =
      s"""c$n AS (
         |  SELECT cidx, list(cv ORDER BY pos) AS c FROM (
         |    SELECT cidx, pos, SUM(q[pos]) // COUNT(*) AS cv
         |    FROM $srcS, UNNEST(range(1, len(q) + 1)) AS t(pos)
         |    GROUP BY cidx, pos)
         |  GROUP BY cidx)""".stripMargin
    val finalDist =
      "list_sum(list_transform(list_zip(q, c), p -> (p[1]-p[2])*(p[1]-p[2])))"
    s"""WITH qv AS (
       |  SELECT vec_id AS id,
       |    list_transform(embedding,
       |      e -> CAST(FLOOR(CAST(e AS DOUBLE) * 1000) AS BIGINT) + 1000) AS q
       |  FROM embeddings),
       |init AS (
       |  SELECT q AS c,
       |    CAST(ROW_NUMBER() OVER (ORDER BY
       |      md5(CAST(id AS VARCHAR) || ':km_v1'), id) - 1 AS INTEGER) AS cidx
       |  FROM qv
       |  ORDER BY md5(CAST(id AS VARCHAR) || ':km_v1'), id
       |  LIMIT 4),
       |${assign("init", 1)},
       |${update("s1", 2)},
       |${assign("c2", 2)},
       |${update("s2", 3)},
       |a3 AS (
       |  SELECT id, cidx, $finalDist AS dist2,
       |    ROW_NUMBER() OVER (PARTITION BY id
       |      ORDER BY $finalDist, cidx) AS rn
       |  FROM qv CROSS JOIN c3)
       |SELECT id AS vec_id, CAST(cidx AS INTEGER) AS cluster,
       |  CAST(dist2 AS BIGINT) AS dist2
       |FROM a3 WHERE rn = 1""".stripMargin
  }

  /** Exact cosine top-10 for query vectors vec_id<5 — the oracle for
    * both q31 (brute force) and q63 (IVF with every cell probed).
    */
  private def knnBruteForceSql: String =
    """SELECT query_id, vec_id, ROUND(sim, 6) AS cosine_sim,
      |  CAST(rn AS INTEGER) AS rank FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
      |    list_sum(list_transform(list_zip(c.embedding, q.embedding),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |      list_sum(list_transform(list_zip(c.embedding, q.embedding),
      |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) DESC,
      |      c.vec_id ASC) AS rn
      |  FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
      |) WHERE rn <= 10""".stripMargin

  private def nearestStationSql: String =
    """SELECT c_custkey, station, dist2 FROM (
      |  SELECT c_custkey, station,
      |    (lat - s_lat)*(lat - s_lat) + (lon - s_lon)*(lon - s_lon) AS dist2,
      |    ROW_NUMBER() OVER (PARTITION BY c_custkey
      |      ORDER BY (lat - s_lat)*(lat - s_lat) + (lon - s_lon)*(lon - s_lon) ASC,
      |               station ASC) AS rn
      |  FROM (SELECT c_custkey, c_acctbal/200.0 AS lat,
      |          CAST(c_custkey % 360 AS DOUBLE) - 180.0 AS lon FROM customer)
      |  CROSS JOIN (VALUES
      |    ('Paris CDG', 48.709632, 2.208563), ('Toulouse', 43.629421, 1.367789),
      |    ('Lyon', 45.726009, 5.090928), ('Marseille', 43.434242, 5.212784),
      |    ('Nantes', 47.460152, -0.529704), ('Lille', 50.561237, 3.086957)
      |  ) st(station, s_lat, s_lon)
      |) WHERE rn = 1""".stripMargin

  /** Shared by q37 (broadcast window path) and q61 (grid-bucketed
    * path): both strategies must produce identical nearest winners.
    */
  private def nearestHaversineSql: String =
    """SELECT c_custkey, station, ROUND(d, 3) AS dist_km FROM (
      |  SELECT c_custkey, station,
      |    2.0 * 6371.0 * atan2(sqrt(a), sqrt(1.0 - a)) AS d,
      |    ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY
      |      2.0 * 6371.0 * atan2(sqrt(a), sqrt(1.0 - a)) ASC, station ASC) AS rn
      |  FROM (
      |    SELECT c_custkey, station,
      |      pow(sin(radians(s_lat - lat) / 2), 2)
      |      + cos(radians(lat)) * cos(radians(s_lat)) * pow(sin(radians(s_lon - lon) / 2), 2) AS a
      |    FROM (SELECT c_custkey,
      |            greatest(least(c_acctbal/200.0, 51.0), 41.5) AS lat,
      |            greatest(least(CAST(c_custkey % 360 AS DOUBLE) - 180.0, 9.5), -5.0) AS lon
      |          FROM customer)
      |    CROSS JOIN (VALUES
      |      ('Paris CDG', 48.709632, 2.208563), ('Toulouse', 43.629421, 1.367789),
      |      ('Lyon', 45.726009, 5.090928), ('Marseille', 43.434242, 5.212784),
      |      ('Nantes', 47.460152, -0.529704), ('Lille', 50.561237, 3.086957)
      |    ) st(station, s_lat, s_lon))
      |) WHERE rn = 1""".stripMargin

  /** Shared planted-conversation CTEs (q267, q289): tokens →
    * quarter-slices → role-tagged message arrays.
    */
  private def chatMsgsCte: String =
    """WITH tk AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(text, '\s+'),
      |      t -> len(t) > 0) AS tk
      |  FROM documents),
      |p AS (SELECT doc_id, len(tk) AS n, len(tk) // 4 AS q, tk FROM tk),
      |m AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 4 = 0 THEN
      |      [struct_pack(role := 'system',
      |         content := 'You are a concise assistant')]
      |     ELSE CAST([] AS STRUCT(role VARCHAR, content VARCHAR)[]) END)
      |    || [struct_pack(role := 'user',
      |          content := array_to_string(list_slice(tk, 1, q), ' ')),
      |        struct_pack(role := CASE WHEN doc_id % 5 = 0 THEN 'user'
      |            ELSE 'assistant' END,
      |          content := array_to_string(list_slice(tk, q + 1, 2*q), ' ')),
      |        struct_pack(role := 'user',
      |          content := array_to_string(list_slice(tk, 2*q + 1, 3*q), ' ')),
      |        struct_pack(role := CASE WHEN doc_id % 7 = 0 THEN 'user'
      |            ELSE 'assistant' END,
      |          content := array_to_string(list_slice(tk, 3*q + 1, n), ' '))]
      |      AS msgs
      |  FROM p)""".stripMargin

  /** q288 oracle: planted 5-rater ratings + the exact-rational
    * Fleiss algebra (every reported double ONE division of exact
    * integers; HUGEINT carries what DECIMAL(38,0) carries in the
    * engine).
    */
  private def annotatorAgreementSql: String =
    """WITH rt AS (
      |  SELECT doc_id, j,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':fk:'
      |      || CAST(j AS VARCHAR)), 1, 15))::BIGINT % 10 AS u
      |  FROM documents, (SELECT UNNEST(range(1, 6)) AS j)),
      |r AS (
      |  SELECT doc_id,
      |    'cat_' || CAST(CASE WHEN u < 2 THEN (doc_id + 1 + (u % 2)) % 3
      |      ELSE doc_id % 3 END AS VARCHAR) AS category
      |  FROM rt),
      |cell AS (SELECT doc_id, category, COUNT(*) AS n FROM r GROUP BY 1, 2),
      |it AS (SELECT doc_id, SUM(n * (n - 1)) AS pairs FROM cell GROUP BY 1),
      |sc AS (SELECT CAST(SUM(pairs) AS BIGINT) AS a,
      |  CAST(COUNT(*) AS BIGINT) AS nitems FROM it),
      |cats AS (SELECT category, CAST(SUM(n) AS BIGINT) AS c_cat
      |  FROM cell GROUP BY 1),
      |ct AS (SELECT SUM(CAST(c_cat AS HUGEINT) * CAST(c_cat AS HUGEINT))
      |    AS b,
      |  CAST(SUM(c_cat) AS BIGINT) AS t FROM cats),
      |sc2 AS (
      |  SELECT a, nitems, t, b, t // nitems AS rr,
      |    CAST(nitems * (t // nitems) * ((t // nitems) - 1) AS HUGEINT)
      |      AS d1,
      |    CAST(t AS HUGEINT) * CAST(t AS HUGEINT) AS d2
      |  FROM sc, ct)
      |SELECT category, c_cat,
      |  CAST(c_cat AS DOUBLE) / CAST(t AS DOUBLE) AS p_cat,
      |  nitems AS n_items, rr AS n_raters,
      |  CAST(a AS DOUBLE) / CAST(d1 AS DOUBLE) AS p_bar,
      |  CAST(b AS DOUBLE) / CAST(d2 AS DOUBLE) AS p_e,
      |  CAST(CAST(a AS HUGEINT) * d2 - b * d1 AS DOUBLE)
      |    / CAST(d1 * (d2 - b) AS DOUBLE) AS kappa
      |FROM cats, sc2""".stripMargin

  /** q289 oracle: the shared conversation CTEs, turns unnested with
    * window prefix sums standing in for the engine's single
    * aggregate fold.
    */
  private def lossMaskSql: String = chatMsgsCte + """,
      |u AS (
      |  SELECT doc_id, i, msgs[i].role AS role,
      |    CASE WHEN len(msgs[i].content) = 0 THEN 0
      |      ELSE len(msgs[i].content)
      |        - len(replace(msgs[i].content, ' ', '')) + 1 END AS tok
      |  FROM m, UNNEST(range(1, len(msgs) + 1)) AS t(i)),
      |c AS (
      |  SELECT doc_id, role, tok,
      |    SUM(tok) OVER (PARTITION BY doc_id ORDER BY i
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok
      |      AS pos
      |  FROM u),
      |a AS (
      |  SELECT doc_id,
      |    CAST(SUM(tok) AS BIGINT) AS total_tokens,
      |    CAST(COALESCE(SUM(tok) FILTER (WHERE role = 'assistant'), 0)
      |      AS BIGINT) AS train,
      |    CAST(COALESCE(SUM(GREATEST(0,
      |        LEAST(pos + tok, 40) - LEAST(pos, 40)))
      |      FILTER (WHERE role = 'assistant'), 0) AS BIGINT) AS kept
      |  FROM c GROUP BY doc_id)
      |SELECT doc_id, total_tokens,
      |  train AS trainable_tokens,
      |  kept AS trainable_kept,
      |  train - kept AS trainable_lost,
      |  CASE WHEN train = 0 THEN NULL
      |    ELSE CAST(kept AS DOUBLE) / CAST(train AS DOUBLE) END
      |    AS kept_frac,
      |  total_tokens <= 40 AS fits_context
      |FROM a""".stripMargin

  /** q290 oracle: re-derives the planted JPEG truth (and the byte
    * string itself) arithmetically — the Spark side must parse the
    * same fields back out of the bytes it built.
    */
  private def jpegHeadersSql: String =
    """WITH p AS (
      |  SELECT doc_id, doc_id % 3 AS sm,
      |    (doc_id * 48271) % 4000 + 8 AS h,
      |    (doc_id * 2654435761) % 3000 + 8 AS w,
      |    CASE WHEN (doc_id // 3) % 2 = 0 THEN 3 ELSE 1 END AS nc,
      |    (doc_id * 7919) % 3 = 0 AS has_com,
      |    doc_id % 7 + 1 AS com_pay
      |  FROM documents)
      |SELECT doc_id,
      |  ['baseline','extended','progressive'][CAST(sm AS INTEGER) + 1]
      |    AS sof_marker,
      |  CAST(8 AS BIGINT) AS "precision",
      |  CAST(h AS BIGINT) AS height,
      |  CAST(w AS BIGINT) AS width,
      |  CAST(nc AS BIGINT) AS n_components,
      |  CAST(h * w AS BIGINT) AS n_pixels,
      |  CAST(89 + CASE WHEN has_com THEN com_pay + 4 ELSE 0 END
      |    + 10 + 3 * nc AS BIGINT) AS n_bytes,
      |  'ffd8' || 'ffe000104a46494600010100004800480000'
      |    || CASE WHEN has_com THEN 'fffe' || printf('%04x', com_pay + 2)
      |         || repeat('41', CAST(com_pay AS INTEGER)) ELSE '' END
      |    || 'ffdb0043' || repeat('00', 65)
      |    || ['ffc0','ffc1','ffc2'][CAST(sm AS INTEGER) + 1]
      |    || printf('%04x', 8 + 3 * nc) || '08' || printf('%04x', h)
      |    || printf('%04x', w) || printf('%02x', nc)
      |    || repeat('001100', CAST(nc AS INTEGER)) AS header_hex
      |FROM p""".stripMargin

  /** Shared PQ oracle CTEs (q307/q318/q326/q327): lattice corpus,
    * md5-sampled codebook + queries, subspace distances, codes and
    * the per-query ADC lookup tables — everything before the
    * candidate-generation choice (flat scan vs IVF pruning).
    */
  private def pqLatticeCtes: String =
    """WITH base AS (
        |  SELECT vec_id, list_transform(embedding, x ->
        |    CAST(ROUND(ROUND(CAST(x AS DOUBLE), 3) * 1000.0, 0)
        |      AS BIGINT)) AS v3
        |  FROM embeddings),
        |cb0 AS (
        |  SELECT vec_id, v3, ROW_NUMBER() OVER (ORDER BY
        |    md5(CAST(vec_id AS VARCHAR) || ':pq_v1'), vec_id) - 1 AS k
        |  FROM base QUALIFY k < 8),
        |qs AS (
        |  SELECT vec_id AS q_id, v3 AS qv3, ROW_NUMBER() OVER (ORDER BY
        |    md5(CAST(vec_id AS VARCHAR) || ':pq_q1'), vec_id) - 1 AS qr
        |  FROM base QUALIFY qr < 4),
        |ms AS (SELECT UNNEST(range(0, 4)) AS m),
        |cb AS (SELECT k AS code, m,
        |    list_slice(v3, m * 16 + 1, m * 16 + 16) AS c3
        |  FROM cb0, ms),
        |sub AS (SELECT vec_id, m,
        |    list_slice(v3, m * 16 + 1, m * 16 + 16) AS s3
        |  FROM base, ms),
        |enc0 AS (
        |  SELECT s.vec_id, s.m, c.code,
        |    list_sum(list_transform(range(1, 17), j ->
        |      (s.s3[j] - c.c3[j]) * (s.s3[j] - c.c3[j]))) AS dist
        |  FROM sub s JOIN cb c USING (m)),
        |enc AS (
        |  SELECT vec_id, m,
        |    MIN(struct_pack(d := dist, k := code)) AS mn
        |  FROM enc0 GROUP BY 1, 2),
        |tab AS (
        |  SELECT q.q_id, c.m, c.code,
        |    list_sum(list_transform(range(1, 17), j ->
        |      (list_slice(q.qv3, c.m * 16 + 1, c.m * 16 + 16)[j]
        |        - c.c3[j])
        |      * (list_slice(q.qv3, c.m * 16 + 1, c.m * 16 + 16)[j]
        |        - c.c3[j]))) AS tdist
        |  FROM qs q, cb c)""".stripMargin

  /** q307/q318 flat-scan tail: every code row meets every query's
    * tables, then the (adc, vec_id)-ordered top-5 per query.
    */
  private def pqAdcCtes: String = pqLatticeCtes +
    """,
        |adc AS (
        |  SELECT t.q_id, e.vec_id, CAST(SUM(t.tdist) AS BIGINT)
        |    AS adc_dist
        |  FROM enc e JOIN tab t ON e.m = t.m AND e.mn.k = t.code
        |  WHERE e.vec_id <> t.q_id
        |  GROUP BY 1, 2),
        |top AS (
        |  SELECT q_id, vec_id, adc_dist,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY adc_dist, vec_id) AS INTEGER) AS rank
        |  FROM adc QUALIFY rank <= 5)""".stripMargin

  /** q326/q327 IVF-pruned tail: a corpus-derived md5-sampled coarse
    * quantizer (nlist = ceil(sqrt(N)) clamped to [16, 65536] — IEEE
    * sqrt is correctly rounded, so both engines derive the same k)
    * assigns the corpus once (exact int64 distances, ties to the
    * lower cell), each query probes its 2 nearest cells, and only
    * those candidates meet the ADC tables — the oracle replays which
    * pairs are NEVER scored, same as q32/q195's contract.
    */
  private def ivfAdcCtes: String = pqLatticeCtes +
    """,
        |kivf AS (
        |  SELECT CAST(LEAST(65536, GREATEST(16,
        |    CEIL(SQRT(CAST(COUNT(*) AS DOUBLE))))) AS BIGINT) AS k
        |  FROM base),
        |ivf AS (
        |  SELECT v3 AS cv3, CAST(ROW_NUMBER() OVER (ORDER BY
        |      md5(CAST(vec_id AS VARCHAR) || ':pq_ivf1'), vec_id)
        |      AS INTEGER) - 1 AS cell
        |  FROM base CROSS JOIN kivf
        |  QUALIFY ROW_NUMBER() OVER (ORDER BY
        |    md5(CAST(vec_id AS VARCHAR) || ':pq_ivf1'), vec_id)
        |    <= kivf.k),
        |asg AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT b.vec_id, i.cell,
        |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
        |        list_sum(list_transform(range(1, 65), j ->
        |          (b.v3[j] - i.cv3[j]) * (b.v3[j] - i.cv3[j]))) ASC,
        |        i.cell ASC) AS rn
        |    FROM base b CROSS JOIN ivf i)
        |  WHERE rn = 1),
        |qc AS (
        |  SELECT q_id, cell FROM (
        |    SELECT q.q_id, i.cell,
        |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
        |        list_sum(list_transform(range(1, 65), j ->
        |          (q.qv3[j] - i.cv3[j]) * (q.qv3[j] - i.cv3[j]))) ASC,
        |        i.cell ASC) AS pr
        |    FROM qs q CROSS JOIN ivf i)
        |  WHERE pr <= 2),
        |adc AS (
        |  SELECT t.q_id, e.vec_id, CAST(SUM(t.tdist) AS BIGINT)
        |    AS adc_dist
        |  FROM enc e
        |  JOIN asg a ON a.vec_id = e.vec_id
        |  JOIN qc ON qc.cell = a.cell
        |  JOIN tab t ON t.q_id = qc.q_id AND e.m = t.m
        |    AND e.mn.k = t.code
        |  WHERE e.vec_id <> t.q_id
        |  GROUP BY 1, 2),
        |top AS (
        |  SELECT q_id, vec_id, adc_dist,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY adc_dist, vec_id) AS INTEGER) AS rank
        |  FROM adc QUALIFY rank <= 5)""".stripMargin

  /** q329-q331 shared head: the PLANTED CLUSTERED lattice (w_j =
    * lat3(e_j) + (((g+1)·7919 + j·104729) % 9 − 4)·500, g = vec_id %
    * 16 — all mod operands positive, no division, exact int64 in both
    * engines), 32 md5-sampled queries, and the same derived-⌈√N⌉
    * coarse quantizer / assignment / nprobe=2 probe CTEs as q326 —
    * rebuilt here over the planted base. The raw embeddings table is
    * isotropic (residual norm² = 1.44× raw norm² to its nearest
    * coarse centroid), so raw-vs-residual encoding is a coin flip
    * there; the clustered fixture is the regime IVF indexes exist for
    * and where the q330 − q331 recall delta prices residual encoding
    * honestly (the q328 planted-fixture precedent).
    */
  private def plantedIvfCtes: String =
    """WITH base AS (
        |  SELECT vec_id, list_transform(range(1, 65), j ->
        |    CAST(ROUND(ROUND(CAST(embedding[j] AS DOUBLE), 3) * 1000.0,
        |      0) AS BIGINT)
        |    + ((((vec_id % 16) + 1) * 7919 + j * 104729) % 9 - 4) * 500)
        |    AS v3
        |  FROM embeddings),
        |qs AS (
        |  SELECT vec_id AS q_id, v3 AS qv3, ROW_NUMBER() OVER (ORDER BY
        |    md5(CAST(vec_id AS VARCHAR) || ':pq_q1'), vec_id) - 1 AS qr
        |  FROM base QUALIFY qr < 32),
        |ms AS (SELECT UNNEST(range(0, 4)) AS m),
        |kivf AS (
        |  SELECT CAST(LEAST(65536, GREATEST(16,
        |    CEIL(SQRT(CAST(COUNT(*) AS DOUBLE))))) AS BIGINT) AS k
        |  FROM base),
        |ivf AS (
        |  SELECT v3 AS cv3, CAST(ROW_NUMBER() OVER (ORDER BY
        |      md5(CAST(vec_id AS VARCHAR) || ':pq_ivf1'), vec_id)
        |      AS INTEGER) - 1 AS cell
        |  FROM base CROSS JOIN kivf
        |  QUALIFY ROW_NUMBER() OVER (ORDER BY
        |    md5(CAST(vec_id AS VARCHAR) || ':pq_ivf1'), vec_id)
        |    <= kivf.k),
        |asg AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT b.vec_id, i.cell,
        |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
        |        list_sum(list_transform(range(1, 65), j ->
        |          (b.v3[j] - i.cv3[j]) * (b.v3[j] - i.cv3[j]))) ASC,
        |        i.cell ASC) AS rn
        |    FROM base b CROSS JOIN ivf i)
        |  WHERE rn = 1),
        |qc AS (
        |  SELECT q_id, cell FROM (
        |    SELECT q.q_id, i.cell,
        |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
        |        list_sum(list_transform(range(1, 65), j ->
        |          (q.qv3[j] - i.cv3[j]) * (q.qv3[j] - i.cv3[j]))) ASC,
        |        i.cell ASC) AS pr
        |    FROM qs q CROSS JOIN ivf i)
        |  WHERE pr <= 2)""".stripMargin

  /** q329/q330 residual tail: corpus residuals v − c(v) (exact int64
    * differences on the lattice), the SHARED md5-sampled residual
    * codebook (one codebook for every cell — the residual contract),
    * per-(vector, cell) codes, per-(query, probed cell) residual
    * distance tables, and the same packed top-5 cut as q326.
    */
  private def plantedResidualCtes: String = plantedIvfCtes +
    """,
        |res AS (
        |  SELECT b.vec_id, a.cell,
        |    list_transform(range(1, 65), j -> b.v3[j] - i.cv3[j]) AS r3
        |  FROM base b JOIN asg a USING (vec_id) JOIN ivf i USING (cell)),
        |cbr0 AS (
        |  SELECT vec_id, r3, ROW_NUMBER() OVER (ORDER BY
        |    md5(CAST(vec_id AS VARCHAR) || ':pq_v1'), vec_id) - 1 AS k
        |  FROM res QUALIFY k < 8),
        |cbr AS (SELECT k AS code, m,
        |    list_slice(r3, m * 16 + 1, m * 16 + 16) AS c3
        |  FROM cbr0, ms),
        |subr AS (SELECT vec_id, cell, m,
        |    list_slice(r3, m * 16 + 1, m * 16 + 16) AS s3
        |  FROM res, ms),
        |encr0 AS (
        |  SELECT s.vec_id, s.cell, s.m, c.code,
        |    list_sum(list_transform(range(1, 17), j ->
        |      (s.s3[j] - c.c3[j]) * (s.s3[j] - c.c3[j]))) AS dist
        |  FROM subr s JOIN cbr c USING (m)),
        |encr AS (
        |  SELECT vec_id, cell, m,
        |    MIN(struct_pack(d := dist, k := code)) AS mn
        |  FROM encr0 GROUP BY 1, 2, 3),
        |qres AS (
        |  SELECT q.q_id, qc.cell,
        |    list_transform(range(1, 65), j -> q.qv3[j] - i.cv3[j]) AS qr3
        |  FROM qs q JOIN qc USING (q_id) JOIN ivf i USING (cell)),
        |tabr AS (
        |  SELECT qr.q_id, qr.cell, c.m, c.code,
        |    list_sum(list_transform(range(1, 17), j ->
        |      (list_slice(qr.qr3, c.m * 16 + 1, c.m * 16 + 16)[j]
        |        - c.c3[j])
        |      * (list_slice(qr.qr3, c.m * 16 + 1, c.m * 16 + 16)[j]
        |        - c.c3[j]))) AS tdist
        |  FROM qres qr, cbr c),
        |adc AS (
        |  SELECT t.q_id, e.vec_id, CAST(SUM(t.tdist) AS BIGINT)
        |    AS adc_dist
        |  FROM encr e
        |  JOIN tabr t ON t.cell = e.cell AND e.m = t.m
        |    AND e.mn.k = t.code
        |  WHERE e.vec_id <> t.q_id
        |  GROUP BY 1, 2),
        |top AS (
        |  SELECT q_id, vec_id, adc_dist,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY adc_dist, vec_id) AS INTEGER) AS rank
        |  FROM adc QUALIFY rank <= 5)""".stripMargin

  /** q331 raw-encoding tail on the planted base: q326's pipeline
    * verbatim (whole-space codebook, raw codes/tables, IVF-pruned
    * candidates) — the control the q330 residual recall reads
    * against.
    */
  private def plantedRawCtes: String = plantedIvfCtes +
    """,
        |cb0 AS (
        |  SELECT vec_id, v3, ROW_NUMBER() OVER (ORDER BY
        |    md5(CAST(vec_id AS VARCHAR) || ':pq_v1'), vec_id) - 1 AS k
        |  FROM base QUALIFY k < 8),
        |cb AS (SELECT k AS code, m,
        |    list_slice(v3, m * 16 + 1, m * 16 + 16) AS c3
        |  FROM cb0, ms),
        |sub AS (SELECT vec_id, m,
        |    list_slice(v3, m * 16 + 1, m * 16 + 16) AS s3
        |  FROM base, ms),
        |enc0 AS (
        |  SELECT s.vec_id, s.m, c.code,
        |    list_sum(list_transform(range(1, 17), j ->
        |      (s.s3[j] - c.c3[j]) * (s.s3[j] - c.c3[j]))) AS dist
        |  FROM sub s JOIN cb c USING (m)),
        |enc AS (
        |  SELECT vec_id, m,
        |    MIN(struct_pack(d := dist, k := code)) AS mn
        |  FROM enc0 GROUP BY 1, 2),
        |tab AS (
        |  SELECT q.q_id, c.m, c.code,
        |    list_sum(list_transform(range(1, 17), j ->
        |      (list_slice(q.qv3, c.m * 16 + 1, c.m * 16 + 16)[j]
        |        - c.c3[j])
        |      * (list_slice(q.qv3, c.m * 16 + 1, c.m * 16 + 16)[j]
        |        - c.c3[j]))) AS tdist
        |  FROM qs q, cb c),
        |adc AS (
        |  SELECT t.q_id, e.vec_id, CAST(SUM(t.tdist) AS BIGINT)
        |    AS adc_dist
        |  FROM enc e
        |  JOIN asg a ON a.vec_id = e.vec_id
        |  JOIN qc ON qc.cell = a.cell
        |  JOIN tab t ON t.q_id = qc.q_id AND e.m = t.m
        |    AND e.mn.k = t.code
        |  WHERE e.vec_id <> t.q_id
        |  GROUP BY 1, 2),
        |top AS (
        |  SELECT q_id, vec_id, adc_dist,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY adc_dist, vec_id) AS INTEGER) AS rank
        |  FROM adc QUALIFY rank <= 5)""".stripMargin

  /** Shared q330/q331 recall closing: exact top-5 under the same
    * (dist, vec_id) order over the planted base, overlap one exact
    * division per query (q318/q327's closing verbatim).
    */
  private def plantedRecallTail: String =
    """
        |, ex AS (
        |  SELECT q.q_id, b.vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
        |      list_sum(list_transform(range(1, 65), j ->
        |        (q.qv3[j] - b.v3[j]) * (q.qv3[j] - b.v3[j]))),
        |      b.vec_id) AS r
        |  FROM base b CROSS JOIN qs q WHERE b.vec_id <> q.q_id
        |  QUALIFY r <= 5)
        |SELECT ex.q_id, CAST(COUNT(*) AS BIGINT) AS k_exact,
        |  CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_overlap,
        |  CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall_at_k
        |FROM ex LEFT JOIN top t
        |  ON t.q_id = ex.q_id AND t.vec_id = ex.vec_id
        |GROUP BY 1""".stripMargin

  /** q333/q337 shared head: tokenize, fixed 16-bigram windows on the
    * bigram stream, the KN model on the exact ln-lattice, per-window
    * scores, per-doc worst/best ranks and totals (everything through
    * the `agg` CTE — the two finals differ only in what they read).
    */
  private def windowedPerplexityCtes: String =
    """WITH tk AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, CAST((i - 1) // 16 AS INTEGER) AS win,
        |    tk[CAST(i AS INTEGER)] AS w1,
        |    tk[CAST(i AS INTEGER) + 1] AS w2
        |  FROM tk, UNNEST(range(1, len(tk))) t(i)
        |  WHERE len(tk) >= 2),
        |c12 AS (SELECT w1, w2, COUNT(*) AS n_bigram FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, SUM(n_bigram) AS tot, COUNT(*) AS n1fw
        |       FROM c12 GROUP BY 1),
        |cw2 AS (SELECT w2, COUNT(*) AS n1pw FROM c12 GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS ntypes FROM c12),
        |model AS (
        |  SELECT c12.w1, c12.w2,
        |    CAST(ROUND(ln(
        |      ROUND(greatest(CAST(c12.n_bigram AS DOUBLE) - 0.75, 0.0)
        |          / CAST(c1.tot AS DOUBLE)
        |        + ((0.75 * CAST(c1.n1fw AS DOUBLE)) / CAST(c1.tot AS DOUBLE))
        |          * (CAST(cw2.n1pw AS DOUBLE) / CAST(nn.ntypes AS DOUBLE)), 6)
        |    ) * 100000000.0) AS BIGINT) AS lt
        |  FROM c12 JOIN c1 USING (w1) JOIN cw2 USING (w2) CROSS JOIN nn),
        |ws AS (
        |  SELECT bg.doc_id, bg.win, COUNT(*) AS n, SUM(m.lt) AS sw,
        |    ROUND(-((CAST(SUM(m.lt) AS DOUBLE) / 100000000.0)
        |      / CAST(COUNT(*) AS DOUBLE)), 6) AS score
        |  FROM bg JOIN model m ON bg.w1 = m.w1 AND bg.w2 = m.w2
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT doc_id, win, score,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, win ASC) AS rw,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score ASC, win ASC) AS rb
        |  FROM ws),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
        |    CAST(SUM(n) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(sw) AS BIGINT) AS stot
        |  FROM ws GROUP BY 1)""".stripMargin

  /** q336 oracle: the planted-fixture residual-IVFADC pipeline of
    * q329/q330 with the probe rank CARRIED (pr ≤ 8, the widest plan)
    * instead of pinned at 2, then per plan ∈ {1,2,4,8} the candidate
    * cut `pr <= nprobe`, its (adc_dist, vec_id)-ordered top-5, and
    * the overlap against the exact planted top-5 — candidates /
    * k_exact_total / n_overlap_total exact integers, mean_recall one
    * IEEE division. Spelled out in full (not string-edited from the
    * q329 CTEs) because these mirrors are hash-load-bearing.
    */
  private def nprobeCalibrationSql: String = {
    val (ctes, fin) = nprobeCalibrationParts
    ctes + "\n" + fin
  }

  /** q336's mirror split as (CTE head, final readout SELECT) so the
    * q339 commit mirror derives from the SAME head the way q338's
    * derives from q334's (lshBandPlanParts) — the calibration table
    * and the decision on top of it cannot drift.
    */
  private def nprobeCalibrationParts: (String, String) = {
    val ctes = """WITH base AS (
        |  SELECT vec_id, list_transform(range(1, 65), j ->
        |    CAST(ROUND(ROUND(CAST(embedding[j] AS DOUBLE), 3) * 1000.0,
        |      0) AS BIGINT)
        |    + ((((vec_id % 16) + 1) * 7919 + j * 104729) % 9 - 4) * 500)
        |    AS v3
        |  FROM embeddings),
        |qs AS (
        |  SELECT vec_id AS q_id, v3 AS qv3, ROW_NUMBER() OVER (ORDER BY
        |    md5(CAST(vec_id AS VARCHAR) || ':pq_q1'), vec_id) - 1 AS qr
        |  FROM base QUALIFY qr < 32),
        |ms AS (SELECT UNNEST(range(0, 4)) AS m),
        |kivf AS (
        |  SELECT CAST(LEAST(65536, GREATEST(16,
        |    CEIL(SQRT(CAST(COUNT(*) AS DOUBLE))))) AS BIGINT) AS k
        |  FROM base),
        |ivf AS (
        |  SELECT v3 AS cv3, CAST(ROW_NUMBER() OVER (ORDER BY
        |      md5(CAST(vec_id AS VARCHAR) || ':pq_ivf1'), vec_id)
        |      AS INTEGER) - 1 AS cell
        |  FROM base CROSS JOIN kivf
        |  QUALIFY ROW_NUMBER() OVER (ORDER BY
        |    md5(CAST(vec_id AS VARCHAR) || ':pq_ivf1'), vec_id)
        |    <= kivf.k),
        |asg AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT b.vec_id, i.cell,
        |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
        |        list_sum(list_transform(range(1, 65), j ->
        |          (b.v3[j] - i.cv3[j]) * (b.v3[j] - i.cv3[j]))) ASC,
        |        i.cell ASC) AS rn
        |    FROM base b CROSS JOIN ivf i)
        |  WHERE rn = 1),
        |qc AS (
        |  SELECT q_id, cell, pr FROM (
        |    SELECT q.q_id, i.cell,
        |      ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
        |        list_sum(list_transform(range(1, 65), j ->
        |          (q.qv3[j] - i.cv3[j]) * (q.qv3[j] - i.cv3[j]))) ASC,
        |        i.cell ASC) AS pr
        |    FROM qs q CROSS JOIN ivf i)
        |  WHERE pr <= 8),
        |res AS (
        |  SELECT b.vec_id, a.cell,
        |    list_transform(range(1, 65), j -> b.v3[j] - i.cv3[j]) AS r3
        |  FROM base b JOIN asg a USING (vec_id) JOIN ivf i USING (cell)),
        |cbr0 AS (
        |  SELECT vec_id, r3, ROW_NUMBER() OVER (ORDER BY
        |    md5(CAST(vec_id AS VARCHAR) || ':pq_v1'), vec_id) - 1 AS k
        |  FROM res QUALIFY k < 8),
        |cbr AS (SELECT k AS code, m,
        |    list_slice(r3, m * 16 + 1, m * 16 + 16) AS c3
        |  FROM cbr0, ms),
        |subr AS (SELECT vec_id, cell, m,
        |    list_slice(r3, m * 16 + 1, m * 16 + 16) AS s3
        |  FROM res, ms),
        |encr0 AS (
        |  SELECT s.vec_id, s.cell, s.m, c.code,
        |    list_sum(list_transform(range(1, 17), j ->
        |      (s.s3[j] - c.c3[j]) * (s.s3[j] - c.c3[j]))) AS dist
        |  FROM subr s JOIN cbr c USING (m)),
        |encr AS (
        |  SELECT vec_id, cell, m,
        |    MIN(struct_pack(d := dist, k := code)) AS mn
        |  FROM encr0 GROUP BY 1, 2, 3),
        |qres AS (
        |  SELECT q.q_id, qc.cell, qc.pr,
        |    list_transform(range(1, 65), j -> q.qv3[j] - i.cv3[j]) AS qr3
        |  FROM qs q JOIN qc USING (q_id) JOIN ivf i USING (cell)),
        |tabr AS (
        |  SELECT qr.q_id, qr.cell, qr.pr, c.m, c.code,
        |    list_sum(list_transform(range(1, 17), j ->
        |      (list_slice(qr.qr3, c.m * 16 + 1, c.m * 16 + 16)[j]
        |        - c.c3[j])
        |      * (list_slice(qr.qr3, c.m * 16 + 1, c.m * 16 + 16)[j]
        |        - c.c3[j]))) AS tdist
        |  FROM qres qr, cbr c),
        |adc AS (
        |  SELECT t.q_id, e.vec_id, MIN(t.pr) AS pr,
        |    CAST(SUM(t.tdist) AS BIGINT) AS adc_dist
        |  FROM encr e
        |  JOIN tabr t ON t.cell = e.cell AND e.m = t.m
        |    AND e.mn.k = t.code
        |  WHERE e.vec_id <> t.q_id
        |  GROUP BY 1, 2),
        |plans AS (SELECT CAST(UNNEST([1, 2, 4, 8]) AS INTEGER)
        |  AS nprobe),
        |cand AS (
        |  SELECT p.nprobe, a.q_id, a.vec_id, a.adc_dist
        |  FROM plans p JOIN adc a ON a.pr <= p.nprobe),
        |top AS (
        |  SELECT nprobe, q_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY nprobe, q_id
        |      ORDER BY adc_dist, vec_id) AS rank
        |  FROM cand QUALIFY rank <= 5),
        |ex AS (
        |  SELECT q.q_id, b.vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
        |      list_sum(list_transform(range(1, 65), j ->
        |        (q.qv3[j] - b.v3[j]) * (q.qv3[j] - b.v3[j]))),
        |      b.vec_id) AS r
        |  FROM base b CROSS JOIN qs q WHERE b.vec_id <> q.q_id
        |  QUALIFY r <= 5),
        |ov AS (
        |  SELECT p.nprobe, CAST(COUNT(*) AS BIGINT) AS k_exact_total,
        |    CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_overlap_total
        |  FROM plans p CROSS JOIN ex
        |  LEFT JOIN top t ON t.nprobe = p.nprobe
        |    AND t.q_id = ex.q_id AND t.vec_id = ex.vec_id
        |  GROUP BY 1),
        |cnt AS (SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS candidates
        |  FROM cand GROUP BY 1)""".stripMargin
    val fin = """SELECT ov.nprobe,
        |  CAST(COALESCE(cnt.candidates, 0) AS BIGINT) AS candidates,
        |  ov.k_exact_total, ov.n_overlap_total,
        |  CAST(ov.n_overlap_total AS DOUBLE)
        |    / CAST(ov.k_exact_total AS DOUBLE) AS mean_recall
        |FROM ov LEFT JOIN cnt USING (nprobe)""".stripMargin
    (ctes, fin)
  }

  /** q339 oracle: q336's table as a derived relation (the SAME CTE
    * head by construction), then the commit rule — qualifying plans
    * (overlap·10⁶ ≥ 200000·k_exact, exact BIGINT arithmetic, never a
    * float compare) first, within them the smallest nprobe, fallback
    * ordered by best overlap (k_exact_total is uniform across plans,
    * so overlap order IS recall order). The predicate is repeated
    * verbatim in ORDER BY (no alias references) for engine
    * portability — the q338 mirror's shape.
    */
  private def nprobeSelectSql: String = {
    val (ctes, fin) = nprobeCalibrationParts
    ctes + s"""
      |SELECT nprobe, candidates, k_exact_total, n_overlap_total,
      |  mean_recall,
      |  (n_overlap_total * 1000000 >= 200000 * k_exact_total)
      |    AS qualified
      |FROM (
      |$fin
      |) cal
      |ORDER BY (n_overlap_total * 1000000 >= 200000 * k_exact_total)
      |    DESC,
      |  CASE WHEN n_overlap_total * 1000000 >= 200000 * k_exact_total
      |    THEN CAST(nprobe AS BIGINT) ELSE -n_overlap_total END ASC,
      |  nprobe ASC
      |LIMIT 1""".stripMargin
  }

  /** q195/q341/q342 shared head (the nprobeCalibrationParts pattern):
    * the pinned 16-cell md5-rank quantizer, the tie-to-lower-cell
    * assignment, and the within-cell lower-id cosine pair relation —
    * ONE definition so the dedup mirror and its tuning mirrors cannot
    * drift.
    */
  private def semDedupCtes: String =
    """WITH cent AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY
      |      md5(CAST(vec_id AS VARCHAR) || ':semdedup_v1'), vec_id)
      |      AS INTEGER) - 1 AS cell,
      |    embedding AS cvec
      |  FROM embeddings
      |  QUALIFY ROW_NUMBER() OVER (ORDER BY
      |    md5(CAST(vec_id AS VARCHAR) || ':semdedup_v1'), vec_id) <= 16),
      |asg AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT e.vec_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |        list_sum(list_transform(list_zip(e.embedding, c.cvec),
      |          x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
      |             * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) ASC,
      |        c.cell ASC) AS rn
      |    FROM embeddings e CROSS JOIN cent c)
      |  WHERE rn = 1),
      |pair AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(ea.embedding,
      |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(eb.embedding,
      |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
      |  FROM asg a JOIN asg b ON a.cell = b.cell AND b.vec_id < a.vec_id
      |  JOIN embeddings ea ON ea.vec_id = a.vec_id
      |  JOIN embeddings eb ON eb.vec_id = b.vec_id)""".stripMargin

  /** q328/q345-q347 shared head (the semDedupCtes pattern at the
    * SHIPPED scale config): the planted-skew corpus, the corpus-
    * DERIVED first level k = ⌈n/8⌉ in [16, 65536], the second-level
    * md5-rank split of every cell over 2·8 members, the composite
    * cell id (cell + k·sub), and the within-(final-)cell lower-id
    * cosine pair relation — ONE definition so the scale dedup mirror
    * and its tuning/apply mirrors cannot drift.
    */
  private def semDedupSplitCtes: String =
    """WITH pl AS (
      |  SELECT vec_id,
      |    CASE WHEN md5(CAST(vec_id AS VARCHAR) || ':semdedup_v1')
      |        >= 'd'
      |      THEN list_transform(range(0, 8), j ->
      |        1000.0 + CAST((vec_id * 7 + j * 13) % 97 AS DOUBLE)
      |          / 1024.0)
      |      ELSE list_transform(embedding[1:8],
      |        x -> CAST(x AS DOUBLE))
      |    END AS vec
      |  FROM embeddings),
      |k AS (
      |  SELECT CAST(LEAST(65536, GREATEST(16, (COUNT(*) + 7) // 8))
      |    AS INTEGER) AS k
      |  FROM pl),
      |cent AS (
      |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY
      |      md5(CAST(vec_id AS VARCHAR) || ':semdedup_v1'), vec_id)
      |      AS INTEGER) - 1 AS cell,
      |    vec AS cvec
      |  FROM pl CROSS JOIN k
      |  QUALIFY ROW_NUMBER() OVER (ORDER BY
      |    md5(CAST(vec_id AS VARCHAR) || ':semdedup_v1'), vec_id)
      |    <= k.k),
      |asg AS (
      |  SELECT vec_id, vec, cell FROM (
      |    SELECT p.vec_id, p.vec, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
      |        list_sum(list_transform(list_zip(p.vec, c.cvec),
      |          x -> (x[1] - x[2]) * (x[1] - x[2]))) ASC,
      |        c.cell ASC) AS rn
      |    FROM pl p CROSS JOIN cent c)
      |  WHERE rn = 1),
      |over_ AS (
      |  SELECT cell, COUNT(*) AS cn FROM asg GROUP BY cell
      |  HAVING COUNT(*) > 16),
      |kc AS (
      |  SELECT cell, CAST(LEAST(1024, (cn + 7) // 8) AS INTEGER)
      |    AS k_c
      |  FROM over_),
      |sc AS (
      |  SELECT a.cell,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY a.cell ORDER BY
      |      md5(CAST(a.vec_id AS VARCHAR) || ':semdedup_v1#2'),
      |      a.vec_id) AS INTEGER) - 1 AS sub,
      |    a.vec AS cvec
      |  FROM asg a JOIN kc USING (cell)
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY a.cell ORDER BY
      |    md5(CAST(a.vec_id AS VARCHAR) || ':semdedup_v1#2'),
      |    a.vec_id) <= kc.k_c),
      |re AS (
      |  SELECT vec_id, vec, CAST(cell + kk * sub AS INTEGER) AS cell
      |  FROM (
      |    SELECT a.vec_id, a.vec, a.cell, s.sub, k.k AS kk,
      |      ROW_NUMBER() OVER (PARTITION BY a.cell, a.vec_id
      |        ORDER BY
      |        list_sum(list_transform(list_zip(a.vec, s.cvec),
      |          x -> (x[1] - x[2]) * (x[1] - x[2]))) ASC,
      |        s.sub ASC) AS rn
      |    FROM asg a JOIN sc s USING (cell) CROSS JOIN k)
      |  WHERE rn = 1),
      |cells AS (
      |  SELECT vec_id, vec, cell FROM asg
      |  WHERE cell NOT IN (SELECT cell FROM over_)
      |  UNION ALL
      |  SELECT vec_id, vec, cell FROM re),
      |pair AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    list_sum(list_transform(list_zip(a.vec, b.vec),
      |      x -> x[1] * x[2]))
      |    / (sqrt(list_sum(list_transform(a.vec, x -> x * x)))
      |     * sqrt(list_sum(list_transform(b.vec, x -> x * x))))
      |      AS sim
      |  FROM cells a JOIN cells b
      |    ON a.cell = b.cell AND b.vec_id < a.vec_id)""".stripMargin

  /** q341/q345 oracle parts over a given CTE head: the threshold-free
    * per-doc max-lower-cosine profile (from the head's `pair`
    * relation, population from `docRel`), then the per-threshold
    * counts as the final readout — every threshold an exact binary
    * double (CAST AS DOUBLE so DuckDB compares the engine's IEEE
    * value, not a decimal). Parameterized so the pinned-config
    * (semDedupCtes/asg) and scale-config (semDedupSplitCtes/cells)
    * mirrors share one readout definition.
    */
  private def semDedupCalibParts(head: String, docRel: String): (String, String) = {
    val ctes = head +
      s""",
        |mx AS (SELECT id_a AS vec_id, MAX(sim) AS mc
        |  FROM pair GROUP BY 1),
        |doc AS (
        |  SELECT g.vec_id, m.mc
        |  FROM $docRel g LEFT JOIN mx m ON m.vec_id = g.vec_id),
        |th AS (SELECT CAST(UNNEST([0.25, 0.375, 0.5, 0.625, 0.75])
        |  AS DOUBLE) AS threshold)""".stripMargin
    val fin = """SELECT t.threshold,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN d.mc IS NOT NULL AND d.mc >= t.threshold
      |    THEN 1 ELSE 0 END) AS BIGINT) AS docs_removed,
      |  CAST(SUM(CASE WHEN d.mc IS NOT NULL AND d.mc >= t.threshold
      |    THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS removed_share
      |FROM th t CROSS JOIN doc d
      |GROUP BY 1""".stripMargin
    (ctes, fin)
  }

  private def semDedupCalibrationParts: (String, String) =
    semDedupCalibParts(semDedupCtes, "asg")

  private def semDedupScaleCalibrationParts: (String, String) =
    semDedupCalibParts(semDedupSplitCtes, "cells")

  private def semDedupThresholdCalibrationSql: String = {
    val (ctes, fin) = semDedupCalibrationParts
    ctes + "\n" + fin
  }

  private def semDedupScaleCalibrationSql: String = {
    val (ctes, fin) = semDedupScaleCalibrationParts
    ctes + "\n" + fin
  }

  /** q342/q346 oracle: the calibration table as a derived relation
    * (same head by construction), then the commit rule — qualifying
    * thresholds (removed·10⁶ ≤ 100000·n_docs, exact BIGINT
    * arithmetic) first, within them the smallest threshold (most
    * aggressive dedup within budget), fallback ordered mildest-first;
    * the predicate repeated verbatim in ORDER BY for engine
    * portability.
    */
  private def semDedupSelectSqlOver(parts: (String, String)): String = {
    val (ctes, fin) = parts
    ctes + s"""
      |SELECT threshold, n_docs, docs_removed, removed_share,
      |  (docs_removed * 1000000 <= 100000 * n_docs) AS qualified
      |FROM (
      |$fin
      |) cal
      |ORDER BY (docs_removed * 1000000 <= 100000 * n_docs) DESC,
      |  CASE WHEN docs_removed * 1000000 <= 100000 * n_docs
      |    THEN threshold ELSE -threshold END ASC
      |LIMIT 1""".stripMargin
  }

  private def semDedupThresholdSelectSql: String =
    semDedupSelectSqlOver(semDedupCalibrationParts)

  private def semDedupScaleSelectSql: String =
    semDedupSelectSqlOver(semDedupScaleCalibrationParts)

  /** q343/q347 oracle: calibrate → commit → APPLY as ONE statement —
    * the commit row (the q342/q346 rule, nested verbatim over the
    * shared calibration readout) drives the dedup's own `sim >=
    * threshold` filter via a CROSS JOIN, exactly the engine's
    * broadcast-commit join; the final select is q195/q328's per-doc
    * dedup readout with the committed threshold and budget flag
    * carried on every row.
    */
  private def semDedupApplySqlOver(parts: (String, String),
      cellRel: String): String = {
    val (ctes, fin) = parts
    ctes + s""",
      |commit AS (
      |  SELECT threshold,
      |    (docs_removed * 1000000 <= 100000 * n_docs) AS qualified
      |  FROM (
      |$fin
      |  ) cal
      |  ORDER BY (docs_removed * 1000000 <= 100000 * n_docs) DESC,
      |    CASE WHEN docs_removed * 1000000 <= 100000 * n_docs
      |      THEN threshold ELSE -threshold END ASC
      |  LIMIT 1),
      |dupc AS (
      |  SELECT p.id_a AS vec_id, MIN(p.id_b) AS dup_of,
      |    ROUND(MAX(p.sim), 6) AS max_dup_cos
      |  FROM pair p CROSS JOIN commit c
      |  WHERE p.sim >= c.threshold
      |  GROUP BY 1)
      |SELECT g.vec_id, g.cell, c.threshold, d.dup_of, d.max_dup_cos,
      |  d.dup_of IS NULL AS keep, c.qualified
      |FROM $cellRel g CROSS JOIN commit c
      |LEFT JOIN dupc d ON d.vec_id = g.vec_id""".stripMargin
  }

  private def semDedupApplySql: String =
    semDedupApplySqlOver(semDedupCalibrationParts, "asg")

  private def semDedupScaleApplySql: String =
    semDedupApplySqlOver(semDedupScaleCalibrationParts, "cells")

  /** q334 oracle: the q26 portable-minhash mirror at 128 slots and
    * 2-word shingles; per plan one (band, key) group-by for the
    * bucket workload (Σ n·(n−1)/2 — never a pair row), and each
    * S-curve cell spelled out as the engine's EXACT left-fold double
    * chain (every literal cast to DOUBLE so DuckDB performs the same
    * correctly-rounded IEEE multiplies, not decimal arithmetic).
    */
  private def lshBandPlanParts: (String, String) = {
    val plans = Seq(32, 16, 8, 4)
    val calib = Seq("scurve_50" -> "0.5", "scurve_70" -> "0.7",
      "scurve_80" -> "0.8", "scurve_90" -> "0.9")
    def chain(sLit: String, r: Int, b: Int): String = {
      val sr = List.fill(r)(s"CAST($sLit AS DOUBLE)").mkString(" * ")
      val t = s"(CAST(1.0 AS DOUBLE) - ($sr))"
      val tb = List.fill(b)(t).mkString(" * ")
      s"CAST(ROUND((CAST(1.0 AS DOUBLE) - ($tb)) * 1000000.0) AS BIGINT)"
    }
    val perPlan = plans.map { b =>
      val r = 128 / b
      val sc = calib.map { case (n, v) => s"${chain(v, r, b)} AS $n" }
        .mkString(",\n    ")
      s"""SELECT CAST($b AS INTEGER) AS bands,
         |  CAST($r AS INTEGER) AS rows_per_band,
         |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |  CAST(COALESCE(SUM(n * (n - 1) // 2), 0) AS BIGINT) AS bucket_pairs,
         |    $sc
         |FROM (
         |  SELECT band, band_key, COUNT(*) AS n FROM (
         |    SELECT doc_id, CAST(j // $r AS INTEGER) AS band,
         |      string_agg(CAST(mh AS VARCHAR), '|' ORDER BY j) AS band_key
         |    FROM mh GROUP BY doc_id, j // $r)
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString("\nUNION ALL\n")
    val prefix = """WITH tk AS (
      |  SELECT doc_id, list_filter(
      |    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0) AS tk
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(tk)),
      |    i -> tk[i] || ' ' || tk[i + 1])) AS toks
      |  FROM tk WHERE len(tk) >= 2),
      |tok AS (SELECT doc_id, unnest(toks) AS term FROM sh),
      |mh AS (
      |  SELECT doc_id, j.j AS j,
      |    MIN((((j.j + 1) * 2654435761 % 2147483647)
      |         * (('0x' || substr(md5(term), 1, 15))::BIGINT % 2147483647)
      |         + j.j * 40503 + 12345) % 2147483647) AS mh
      |  FROM tok CROSS JOIN (SELECT unnest(range(128)) AS j) j
      |  GROUP BY doc_id, j.j)
      |""".stripMargin
    (prefix, perPlan)
  }

  private def lshBandPlanSql: String = {
    val (prefix, perPlan) = lshBandPlanParts
    prefix + perPlan
  }

  /** q338 oracle: the q334 per-plan table as a derived relation, then
    * the commit rule — qualifying plans (scurve_80 ≥ 900000) first,
    * within them the smallest bucket_pairs, fallback ordered by best
    * recall; ties to fewer bands. The predicate is repeated verbatim
    * in ORDER BY (no alias references) for engine portability.
    */
  private def lshBandPlanSelectSql: String = {
    val (prefix, perPlan) = lshBandPlanParts
    prefix +
      s"""SELECT bands, rows_per_band, n_buckets, bucket_pairs, scurve_80,
         |  (scurve_80 >= 900000) AS qualified
         |FROM (
         |$perPlan
         |) cal
         |ORDER BY (scurve_80 >= 900000) DESC,
         |  CASE WHEN scurve_80 >= 900000 THEN bucket_pairs
         |    ELSE -scurve_80 END ASC,
         |  bands ASC
         |LIMIT 1""".stripMargin
  }

  /** q344 oracle: calibrate → commit → APPLY as ONE statement — the
    * commit row (the q338 rule, nested verbatim over the shared
    * per-plan table) drives the banding itself: band index and band
    * key group by `j // rows_per_band` with rows_per_band read from
    * the commit CROSS JOIN (never a literal), then the q26-shape
    * candidate self-join and exact-Jaccard verify over the SAME
    * 2-word shingle sets the signatures hashed; the committed plan
    * carried on every output pair.
    */
  private def lshApplyCommittedSql: String = {
    val (prefix, perPlan) = lshBandPlanParts
    prefix +
      s""",commit AS (
         |  SELECT bands, rows_per_band, (scurve_80 >= 900000) AS qualified
         |  FROM (
         |$perPlan
         |  ) cal
         |  ORDER BY (scurve_80 >= 900000) DESC,
         |    CASE WHEN scurve_80 >= 900000 THEN bucket_pairs
         |      ELSE -scurve_80 END ASC,
         |    bands ASC
         |  LIMIT 1),
         |bnd AS (
         |  SELECT m.doc_id, CAST(m.j // c.rows_per_band AS INTEGER) AS band,
         |    string_agg(CAST(m.mh AS VARCHAR), '|' ORDER BY m.j) AS band_key
         |  FROM mh m CROSS JOIN commit c
         |  GROUP BY m.doc_id, m.j // c.rows_per_band),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bnd a JOIN bnd b
         |    ON a.band = b.band AND a.band_key = b.band_key
         |    AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         |  ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         |    / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE), 6)
         |    AS jaccard_sim,
         |  c.bands, c.rows_per_band, c.qualified
         |FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b
         |CROSS JOIN commit c
         |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         |  / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) >= 0.5""".stripMargin
  }

  /** q335 oracle: per n one positional-gram CTE (list-slice +
    * array_to_string — the positionalKGrams mirror), the modal gram
    * by (count DESC, gram ASC), duplicated grams by windowed count
    * ≥ 2, and exact union coverage via the LAG/SUM-island recipe;
    * fractions and the keep gate restated over the rounded doubles.
    */
  private def selfRepetitionSql: String = {
    val tops = Seq(2, 3, 4)
    val dups = Seq(5, 10)
    def gramCte(n: Int): String =
      s"""g$n AS (
         |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
         |    array_to_string(tk[i:i + $n - 1], ' ') AS g
         |  FROM tk, UNNEST(range(1, len(tk) - $n + 2)) t(i)
         |  WHERE len(tk) >= $n)""".stripMargin
    def islands(src: String, n: Int, out: String): String =
      s"""$out AS (
         |  SELECT doc_id, CAST(SUM(len) AS BIGINT) AS cov FROM (
         |    SELECT doc_id, island, MAX(pos) + $n - MIN(pos) AS len FROM (
         |      SELECT doc_id, pos,
         |        SUM(CASE WHEN pos - lp > $n THEN 1 ELSE 0 END)
         |          OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |      FROM (SELECT doc_id, pos,
         |              LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lp
         |            FROM $src))
         |    GROUP BY 1, 2)
         |  GROUP BY 1)""".stripMargin
    val topCtes = tops.map { n =>
      s"""tc$n AS (SELECT doc_id, g, COUNT(*) AS c FROM g$n GROUP BY 1, 2),
         |tt$n AS (SELECT doc_id, g FROM (
         |  SELECT doc_id, g, ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY c DESC, g ASC) AS rn FROM tc$n) WHERE rn = 1),
         |tf$n AS (SELECT p.doc_id, p.pos FROM g$n p
         |  JOIN tt$n t ON t.doc_id = p.doc_id AND t.g = p.g),
         |${islands(s"tf$n", n, s"tv$n")}""".stripMargin
    }
    val dupCtes = dups.map { n =>
      s"""df$n AS (SELECT doc_id, pos FROM (
         |  SELECT doc_id, pos,
         |    COUNT(*) OVER (PARTITION BY doc_id, g) AS c FROM g$n)
         |  WHERE c >= 2),
         |${islands(s"df$n", n, s"dv$n")}""".stripMargin
    }
    def fracExpr(tbl: String, n: Int): String =
      s"""CASE WHEN b.n_tokens = 0 THEN 0.0
         |    ELSE ROUND(CAST(COALESCE($tbl.cov, 0) AS DOUBLE)
         |      / CAST(b.n_tokens AS DOUBLE), 6) END""".stripMargin
    val selCols =
      tops.map(n => s"  ${fracExpr(s"tv$n", n)} AS top${n}gram_frac")
        .mkString(",\n") + ",\n" +
      dups.map(n => s"  ${fracExpr(s"dv$n", n)} AS dup${n}gram_frac")
        .mkString(",\n")
    val joins =
      (tops.map(n => s"LEFT JOIN tv$n ON tv$n.doc_id = b.doc_id") ++
       dups.map(n => s"LEFT JOIN dv$n ON dv$n.doc_id = b.doc_id"))
        .mkString("\n")
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter(
       |    regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0) AS tk
       |  FROM documents),
       |${(tops ++ dups).map(gramCte).mkString(",\n")},
       |${topCtes.mkString(",\n")},
       |${dupCtes.mkString(",\n")},
       |base AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM tk),
       |sel AS (
       |  SELECT b.doc_id, b.n_tokens,
       |$selCols
       |  FROM base b
       |$joins)
       |SELECT *,
       |  (top2gram_frac < 0.20 AND top3gram_frac < 0.18
       |    AND top4gram_frac < 0.16 AND dup5gram_frac < 0.15
       |    AND dup10gram_frac < 0.10) AS keep
       |FROM sel""".stripMargin
  }

  /** q321 oracle: 4 HUGEINT power-iteration rounds unrolled with the
    * operator's ONE exact mid-point renormalization after round 2
    * (magnitude cap) and the closing L1 normalization — every rescale
    * the same exact floor division. The engine's boundary convergence
    * test replays as chgh (normalized h at the round-2 boundary vs
    * the initial state, compared on the h frame's src support — the
    * same inner-join predicate the engine evaluates): rounds_run = 2
    * on a repeated boundary state, else 4; the rank SELECTs stay the
    * unrolled round-4 frames, bit-identical either way.
    */
  private def hitsSql: String = {
    def stepPair(i: Int, hp: String): String =
      s""",
a$i AS (
  SELECT e.dst AS node, CAST(SUM($hp.v) AS HUGEINT) AS v
  FROM e JOIN $hp ON $hp.node = e.src GROUP BY 1),
h$i AS (
  SELECT e.src AS node, CAST(SUM(a$i.v) AS HUGEINT) AS v
  FROM e JOIN a$i ON a$i.node = e.dst GROUP BY 1)"""
    val r12 = stepPair(1, "h0") + stepPair(2, "h1")
    val renorm = """,
ta2 AS (SELECT SUM(v) AS tot FROM a2),
th2 AS (SELECT SUM(v) AS tot FROM h2),
a2n AS (SELECT node, v * sc.scale // ta2.tot AS v FROM a2, ta2, sc),
h2n AS (SELECT node, v * sc.scale // th2.tot AS v FROM h2, th2, sc)"""
    val r34 = stepPair(3, "h2n") + stepPair(4, "h3")
    """WITH b AS (
      |  SELECT CAST(l_suppkey AS BIGINT) AS src,
      |    CAST(l_partkey AS BIGINT) + 10000000 AS dst
      |  FROM lineitem),
      |e AS (SELECT DISTINCT src, dst FROM b),
      |nodes AS (SELECT DISTINCT node FROM (
      |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
      |sc AS (SELECT CAST(COUNT(*) AS HUGEINT) * 1000000 AS scale
      |  FROM nodes),
      |h0 AS (SELECT node, CAST(1000000 AS HUGEINT) AS v FROM nodes)""".stripMargin +
      r12 + renorm + r34 + """
      |, ta AS (SELECT SUM(v) AS tot FROM a4),
      |th AS (SELECT SUM(v) AS tot FROM h4),
      |chgh AS (
      |  SELECT COUNT(*) AS c FROM h2n a JOIN h0 b
      |  ON a.node = b.node AND a.v <> b.v),
      |rr AS (SELECT CAST(CASE WHEN (SELECT c FROM chgh) = 0
      |  THEN 2 ELSE 4 END AS INTEGER) AS rounds_run)
      |SELECT n.node,
      |  CAST(COALESCE(h4.v * sc.scale // th.tot, 0) AS BIGINT)
      |    AS micro_hub,
      |  CAST(COALESCE(a4.v * sc.scale // ta.tot, 0) AS BIGINT)
      |    AS micro_auth,
      |  rr.rounds_run
      |FROM nodes n
      |LEFT JOIN h4 ON h4.node = n.node
      |LEFT JOIN a4 ON a4.node = n.node
      |CROSS JOIN sc CROSS JOIN ta CROSS JOIN th CROSS JOIN rr""".stripMargin
  }

  /** q304 oracle: the q291 planted pairs joined separator-free, char
    * n-grams n=1..6 via substr generators, clipped corpus matches,
    * F_n = 5M/(4R+C) one HUGEINT-exact division, headline chrF from
    * the exact half-up 1e-8 lattice.
    */
  private def chrfSql: String = {
    val perN = (1 to 6).map { n =>
      s""",
gc$n AS (
  SELECT doc_id, g, COUNT(*) AS cc FROM (
    SELECT doc_id, UNNEST(list_transform(range(1, len(cs) - $n + 2),
      i -> substr(cs, i, $n))) AS g
    FROM ps) GROUP BY 1, 2),
gr$n AS (
  SELECT doc_id, g, COUNT(*) AS rc FROM (
    SELECT doc_id, UNNEST(list_transform(range(1, len(rs) - $n + 2),
      i -> substr(rs, i, $n))) AS g
    FROM ps) GROUP BY 1, 2),
cl$n AS (
  SELECT $n AS n,
    CAST(COALESCE(SUM(LEAST(cc, rc)), 0) AS BIGINT) AS clip_n,
    (SELECT CAST(SUM(GREATEST(len(cs) - $n + 1, 0)) AS BIGINT)
     FROM ps) AS cand_total,
    (SELECT CAST(SUM(GREATEST(len(rs) - $n + 1, 0)) AS BIGINT)
     FROM ps) AS ref_total
  FROM gc$n JOIN gr$n USING (doc_id, g))"""
    }.mkString
    """WITH base AS (
      |  SELECT doc_id, list_filter(
      |    regexp_split_to_array(lower(text), '\s+'),
      |    t -> len(t) > 0) AS tk
      |  FROM documents),
      |f AS (SELECT doc_id, tk FROM base WHERE len(tk) >= 28),
      |pr AS (
      |  SELECT doc_id,
      |    list_transform(range(1, 25), i ->
      |      CASE WHEN (i + doc_id) % 5 = 0 THEN 'zzz' ELSE tk[i] END)
      |      AS cand,
      |    list_slice(tk, 1, 28) AS ref
      |  FROM f),
      |ps AS (
      |  SELECT doc_id, array_to_string(cand, '') AS cs,
      |    array_to_string(ref, '') AS rs
      |  FROM pr)""".stripMargin +
      perN + """
      |,
      |ord AS (SELECT * FROM cl1 UNION ALL SELECT * FROM cl2
      |  UNION ALL SELECT * FROM cl3 UNION ALL SELECT * FROM cl4
      |  UNION ALL SELECT * FROM cl5 UNION ALL SELECT * FROM cl6),
      |dn AS (
      |  SELECT n, clip_n, cand_total, ref_total,
      |    CAST(4 AS HUGEINT) * ref_total + cand_total AS den
      |  FROM ord),
      |wf AS (
      |  SELECT n, clip_n, cand_total, ref_total,
      |    CASE WHEN den > 0 THEN
      |      CAST(CAST(5 AS HUGEINT) * clip_n AS DOUBLE)
      |        / CAST(den AS DOUBLE) END AS f_n,
      |    CASE WHEN den > 0 THEN
      |      CAST((CAST(10 AS HUGEINT) * clip_n * 100000000 + den)
      |        // (2 * den) AS BIGINT) END AS fn_e8
      |  FROM dn),
      |summ AS (SELECT CAST(SUM(fn_e8) AS BIGINT) AS sum_f,
      |  COUNT(*) AS k, COUNT(fn_e8) AS k_ok FROM wf)
      |SELECT wf.n, wf.clip_n, wf.cand_total, wf.ref_total, wf.f_n,
      |  wf.fn_e8,
      |  CASE WHEN summ.k_ok = summ.k THEN
      |    CAST(summ.sum_f AS DOUBLE) / 600000000.0 END AS chrf
      |FROM wf, summ""".stripMargin
  }

  /** q310 oracle: the LCS fold replayed as a bounded recursive CTE —
    * one row-DP step per candidate token, the row update spelled with
    * the same monotone-row identity (prefix-max of match candidates
    * vs the previous row) the engine uses.
    */
  private def rougeLSql: String =
    """WITH RECURSIVE base AS (
      |  SELECT doc_id, list_filter(
      |    regexp_split_to_array(lower(text), '\s+'),
      |    t -> len(t) > 0) AS tk
      |  FROM documents),
      |f AS (SELECT doc_id, tk FROM base WHERE len(tk) >= 28),
      |pr AS (
      |  SELECT doc_id,
      |    list_transform(range(1, 25), i ->
      |      CASE WHEN (i + doc_id) % 5 = 0 THEN 'zzz' ELSE tk[i] END)
      |      AS cand,
      |    list_slice(tk, 1, 28) AS ref
      |  FROM f),
      |dp AS (
      |  SELECT doc_id, 0 AS i,
      |    list_transform(range(0, len(ref) + 1),
      |      x -> CAST(0 AS BIGINT)) AS r
      |  FROM pr
      |  UNION ALL
      |  SELECT d.doc_id, d.i + 1,
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, len(p.ref) + 1), j ->
      |        GREATEST(d.r[j + 1],
      |          list_max(list_transform(range(1, j + 1), k ->
      |            CASE WHEN p.cand[d.i + 1] = p.ref[k]
      |              THEN d.r[k] + 1 ELSE CAST(0 AS BIGINT) END)))))
      |  FROM dp d JOIN pr p USING (doc_id)
      |  WHERE d.i < len(p.cand)),
      |fin AS (
      |  SELECT d.doc_id, d.r[len(p.ref) + 1] AS lcs
      |  FROM dp d JOIN pr p USING (doc_id)
      |  WHERE d.i = len(p.cand)),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    CAST(SUM(fin.lcs) AS BIGINT) AS lcs,
      |    CAST(SUM(len(p.cand)) AS BIGINT) AS cand_len,
      |    CAST(SUM(len(p.ref)) AS BIGINT) AS ref_len
      |  FROM fin JOIN pr p USING (doc_id))
      |SELECT n_pairs, lcs, cand_len, ref_len,
      |  CAST(lcs AS DOUBLE) / CAST(cand_len AS DOUBLE) AS rouge_l_p,
      |  CAST(lcs AS DOUBLE) / CAST(ref_len AS DOUBLE) AS rouge_l_r,
      |  CAST(lcs * 2 AS DOUBLE) / CAST(cand_len + ref_len AS DOUBLE)
      |    AS rouge_l_f
      |FROM agg""".stripMargin

  /** q291 oracle: planted (candidate, reference) pairs, per-order
    * clipped corpus counts, ln on the 1e-8 lattice, integer-exact
    * brevity-penalty exponent. Per-order CTEs are generated so both
    * engines replay the same gram construction.
    */
  private def bleuSql: String = {
    val perN = (1 to 4).map { n =>
      s""",
gc$n AS (
  SELECT doc_id, g, COUNT(*) AS cc FROM (
    SELECT doc_id, UNNEST(list_transform(range(1, len(cand) - $n + 2),
      i -> array_to_string(list_slice(cand, i, i + $n - 1), ' '))) AS g
    FROM pr) GROUP BY 1, 2),
gr$n AS (
  SELECT doc_id, g, COUNT(*) AS rc FROM (
    SELECT doc_id, UNNEST(list_transform(range(1, len(ref) - $n + 2),
      i -> array_to_string(list_slice(ref, i, i + $n - 1), ' '))) AS g
    FROM pr) GROUP BY 1, 2),
cl$n AS (
  SELECT $n AS n,
    CAST(COALESCE(SUM(LEAST(cc, rc)), 0) AS BIGINT) AS clip_n,
    (SELECT CAST(SUM(GREATEST(len(cand) - $n + 1, 0)) AS BIGINT)
     FROM pr) AS total_n
  FROM gc$n JOIN gr$n USING (doc_id, g))"""
    }.mkString
    """WITH base AS (
      |  SELECT doc_id, list_filter(
      |    regexp_split_to_array(lower(text), '\s+'),
      |    t -> len(t) > 0) AS tk
      |  FROM documents),
      |f AS (SELECT doc_id, tk FROM base WHERE len(tk) >= 28),
      |pr AS (
      |  SELECT doc_id,
      |    list_transform(range(1, 25), i ->
      |      CASE WHEN (i + doc_id) % 5 = 0 THEN 'zzz' ELSE tk[i] END)
      |      AS cand,
      |    list_slice(tk, 1, 28) AS ref
      |  FROM f),
      |lens AS (SELECT CAST(SUM(len(cand)) AS BIGINT) AS c_len,
      |  CAST(SUM(len(ref)) AS BIGINT) AS r_len FROM pr)""".stripMargin +
      perN + """
      |,
      |ord AS (SELECT * FROM cl1 UNION ALL SELECT * FROM cl2
      |  UNION ALL SELECT * FROM cl3 UNION ALL SELECT * FROM cl4),
      |wl AS (
      |  SELECT n, clip_n, total_n,
      |    CASE WHEN total_n > 0 THEN
      |      CAST(clip_n AS DOUBLE) / CAST(total_n AS DOUBLE) END AS p_n,
      |    CASE WHEN clip_n > 0 AND total_n > 0 THEN
      |      CAST(ROUND(ln(CAST(clip_n AS DOUBLE)
      |        / CAST(total_n AS DOUBLE)) * 100000000) AS BIGINT) END
      |      AS ln_pn_e8
      |  FROM ord),
      |summ AS (SELECT CAST(SUM(ln_pn_e8) AS BIGINT) AS sum_ln,
      |  COUNT(*) AS k, COUNT(ln_pn_e8) AS k_ok FROM wl),
      |bp AS (SELECT CASE WHEN c_len >= r_len THEN 0
      |    ELSE -(((r_len - c_len) * 200000000 + c_len)
      |      // (2 * c_len)) END AS bpv
      |  FROM lens)
      |SELECT wl.n, wl.clip_n, wl.total_n, wl.p_n, wl.ln_pn_e8,
      |  lens.c_len, lens.r_len, CAST(bp.bpv AS BIGINT) AS bp_e8,
      |  CASE WHEN summ.k_ok = summ.k THEN
      |    CAST(bp.bpv * 4 + summ.sum_ln AS DOUBLE) / 400000000.0 END
      |    AS log_bleu
      |FROM wl, lens, summ, bp""".stripMargin
  }

  /** q292 oracle: planted matches + the 5 MM rounds UNROLLED
    * (generated CTEs — the q261 BPE proof shape), every round pure
    * integer division on the 1e-6 lattice.
    */
  private def bradleyTerrySql: String = {
    val rounds = (1 to 5).map { r =>
      s""",
r${r}j AS (
  SELECT pr.lo, pr.hi, pr.g, a.p + b.p AS s
  FROM pairs pr JOIN p${r - 1} a ON a.item = pr.lo
    JOIN p${r - 1} b ON b.item = pr.hi),
r${r}t AS (
  SELECT lo AS item, (2 * g * 1000000000000 + s) // (2 * s) AS t
  FROM r${r}j
  UNION ALL
  SELECT hi, (2 * g * 1000000000000 + s) // (2 * s) FROM r${r}j),
r${r}d AS (SELECT item, CAST(SUM(t) AS BIGINT) AS d
  FROM r${r}t GROUP BY 1),
p$r AS (
  SELECT it.item,
    CAST(GREATEST((2 * it.wins * 1000000000000 + d) // (2 * d), 1)
      AS BIGINT) AS p
  FROM items it JOIN r${r}d USING (item))"""
    }.mkString
    """WITH m AS (
      |  SELECT
      |    'sys_' || CAST(CASE WHEN u THEN LEAST(i, j)
      |      ELSE GREATEST(i, j) END AS VARCHAR) AS winner,
      |    'sys_' || CAST(CASE WHEN u THEN GREATEST(i, j)
      |      ELSE LEAST(i, j) END AS VARCHAR) AS loser
      |  FROM (
      |    SELECT doc_id % 8 AS i, (doc_id // 8) % 8 AS j,
      |      ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':bt'),
      |        1, 15))::BIGINT % 100 < 25 AS u
      |    FROM documents)
      |  WHERE i <> j),
      |pairs AS (SELECT LEAST(winner, loser) AS lo,
      |    GREATEST(winner, loser) AS hi, CAST(COUNT(*) AS BIGINT) AS g
      |  FROM m GROUP BY 1, 2),
      |wv AS (SELECT winner AS item, CAST(COUNT(*) AS BIGINT) AS wins
      |  FROM m GROUP BY 1),
      |g0 AS (SELECT winner AS item FROM m
      |  UNION ALL SELECT loser FROM m),
      |gc AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS games
      |  FROM g0 GROUP BY 1),
      |items AS (SELECT gc.item, COALESCE(wv.wins, 0) AS wins, gc.games
      |  FROM gc LEFT JOIN wv USING (item)),
      |p0 AS (SELECT item, CAST(1000000 AS BIGINT) AS p FROM items)"""
      .stripMargin +
      rounds + """
      |,
      |tot AS (SELECT CAST(SUM(p) AS BIGINT) AS tot FROM p5)
      |SELECT it.item, it.wins, it.games, p5.p AS rating_micro,
      |  CAST(p5.p AS DOUBLE) / 1000000.0 AS rating,
      |  CAST(p5.p AS DOUBLE) / CAST(tot AS DOUBLE) AS share
      |FROM items it JOIN p5 USING (item), tot""".stripMargin
  }

  /** q293 oracle: the planted construction + the Luhn digit fold and
    * octet checks replayed over the same boundary-group candidates;
    * the scrub folds replace() over validated matches via
    * list_reduce seeded with the text itself.
    */
  private def piiValidateSql: String = {
    val luhn = """list_sum(list_transform(range(1, len(s) + 1), i ->
      |    CASE WHEN (len(s) - i + 1) % 2 = 0 THEN
      |      CASE WHEN CAST(substr(s, CAST(i AS INTEGER), 1) AS INTEGER)
      |          * 2 > 9
      |        THEN CAST(substr(s, CAST(i AS INTEGER), 1) AS INTEGER)
      |          * 2 - 9
      |        ELSE CAST(substr(s, CAST(i AS INTEGER), 1) AS INTEGER)
      |          * 2 END
      |      ELSE CAST(substr(s, CAST(i AS INTEGER), 1) AS INTEGER)
      |    END)) % 10 = 0""".stripMargin
    s"""WITH b AS (
      |  SELECT doc_id, text,
      |    ['4111111111111111','5555555555554444','378282246310005',
      |     '6011111111111117'][CAST(doc_id % 4 AS INTEGER) + 1] AS base
      |  FROM documents),
      |pd AS (
      |  SELECT doc_id,
      |    substr(lower(text), 1, 40) || ' pay '
      |    || CASE WHEN doc_id % 3 = 0 THEN
      |         substr(base, 1, CAST(len(base) AS INTEGER) - 1)
      |         || CAST((CAST(substr(base, CAST(len(base) AS INTEGER), 1)
      |              AS INTEGER) + 1) % 10 AS VARCHAR)
      |       ELSE base END
      |    || ' at '
      |    || CAST((doc_id * 7) % 300 AS VARCHAR) || '.'
      |    || CAST((doc_id * 13) % 256 AS VARCHAR) || '.0.'
      |    || CAST((doc_id * 3) % 300 AS VARCHAR)
      |    || CASE WHEN doc_id % 5 = 0 THEN ' run 12345678901234567 over'
      |       ELSE ' run none over' END
      |    || ' end' AS t
      |  FROM b),
      |c AS (
      |  SELECT doc_id, t,
      |    regexp_extract_all(t,
      |      '(^|[^0-9])([0-9]{13,16})([^0-9]|$$)', 2) AS cc,
      |    regexp_extract_all(t,
      |      '(^|[^0-9.])([0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3})([^0-9.]|$$)',
      |      2) AS ic
      |  FROM pd),
      |v AS (
      |  SELECT doc_id, t, cc, ic,
      |    list_filter(cc, s -> $luhn) AS cv,
      |    list_filter(ic, s -> NOT list_contains(
      |      list_transform(string_split(s, '.'),
      |        o -> CAST(o AS INTEGER) > 255), true)) AS iv
      |  FROM c)
      |SELECT doc_id,
      |  CAST(len(cc) AS BIGINT) AS n_card_candidates,
      |  CAST(len(cv) AS BIGINT) AS n_cards_valid,
      |  CAST(len(ic) AS BIGINT) AS n_ipv4_candidates,
      |  CAST(len(iv) AS BIGINT) AS n_ipv4_valid,
      |  list_reduce([list_reduce([t] || cv,
      |      (a, x) -> replace(a, x, '<CARD>'))] || iv,
      |    (a, x) -> replace(a, x, '<IP>')) AS scrubbed
      |FROM v""".stripMargin
  }

  /** q294 oracle: the planted prediction variants + the pinned SQuAD
    * normalization (punctuation fold, article drop, whitespace
    * collapse) and clipped multiset overlap.
    */
  private def qaEvalSql: String = {
    // normalization of an expression -> token list
    def norm(e: String) =
      s"""list_filter(string_split(regexp_replace(regexp_replace(
        |    lower($e), '[^a-z0-9]', ' ', 'g'),
        |    '\\b(a|an|the)\\b', ' ', 'g'), ' '),
        |  x -> len(x) > 0)""".stripMargin
    s"""WITH base AS (
      |  SELECT doc_id, list_filter(
      |    regexp_split_to_array(lower(text), '\\s+'),
      |    t -> len(t) > 0) AS tk
      |  FROM documents),
      |f AS (SELECT doc_id, tk FROM base WHERE len(tk) >= 14),
      |pg AS (
      |  SELECT doc_id,
      |    array_to_string(list_slice(tk, 1, 12), ' ') AS gold,
      |    CASE
      |      WHEN doc_id % 17 = 0 THEN ''
      |      WHEN doc_id % 5 = 0 THEN
      |        array_to_string(list_slice(tk, 1, 12), ' ')
      |      WHEN doc_id % 5 = 1 THEN
      |        'The ' || array_to_string(list_slice(tk, 1, 12), ' ') || '!!'
      |      WHEN doc_id % 5 = 2 THEN
      |        array_to_string(list_slice(tk, 1, 9), ' ')
      |      WHEN doc_id % 5 = 3 THEN
      |        array_to_string(list_slice(tk, 1, 5) || ['zzz']
      |          || list_slice(tk, 7, 12), ' ')
      |      ELSE array_to_string(list_slice(tk, 3, 14), ' ')
      |    END AS pred
      |  FROM f),
      |nt AS (
      |  SELECT doc_id,
      |    ${norm("pred")} AS p,
      |    ${norm("gold")} AS g
      |  FROM pg),
      |ov AS (
      |  SELECT doc_id, p, g,
      |    CAST(COALESCE(list_sum(list_transform(list_distinct(p), t ->
      |      LEAST(len(list_filter(p, x -> x = t)),
      |            len(list_filter(g, x -> x = t))))), 0) AS BIGINT)
      |      AS overlap,
      |    CAST(len(p) AS BIGINT) AS np, CAST(len(g) AS BIGINT) AS ng
      |  FROM nt)
      |SELECT doc_id, np AS n_pred_tokens, ng AS n_gold_tokens, overlap,
      |  (np = 0 AND ng = 0) OR p = g AS exact_match,
      |  CASE WHEN np = 0 AND ng = 0 THEN 1.0
      |    WHEN np = 0 OR ng = 0 THEN 0.0
      |    ELSE CAST(overlap AS DOUBLE) / CAST(np AS DOUBLE) END
      |    AS "precision",
      |  CASE WHEN np = 0 AND ng = 0 THEN 1.0
      |    WHEN np = 0 OR ng = 0 THEN 0.0
      |    ELSE CAST(overlap AS DOUBLE) / CAST(ng AS DOUBLE) END
      |    AS recall,
      |  CASE WHEN np = 0 AND ng = 0 THEN 1.0
      |    WHEN np = 0 OR ng = 0 THEN 0.0
      |    ELSE 2.0 * CAST(overlap AS DOUBLE) / CAST(np + ng AS DOUBLE) END
      |    AS f1
      |FROM ov""".stripMargin
  }

  /** q295 oracle: the planted markdown construction + the per-line
    * regex ledger over the same split.
    */
  private def docStructureSql: String =
    """WITH base AS (
      |  SELECT doc_id, list_filter(
      |    regexp_split_to_array(lower(text), '\s+'),
      |    t -> len(t) > 0) AS tk
      |  FROM documents),
      |f AS (SELECT doc_id, tk FROM base WHERE len(tk) >= 17),
      |pl AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 3 = 0 THEN
      |       '# ' || array_to_string(list_slice(tk, 1, 2), ' ')
      |     ELSE array_to_string(list_slice(tk, 1, 4), ' ') END)
      |    || chr(10) || array_to_string(list_slice(tk, 5, 10), ' ')
      |    || chr(10) || (CASE WHEN doc_id % 4 = 0 THEN
      |       '- ' || array_to_string(list_slice(tk, 11, 13), ' ')
      |     ELSE 'plain line here' END)
      |    || chr(10) || (CASE WHEN doc_id % 5 = 0 THEN '```'
      |       ELSE 'text ln' END)
      |    || chr(10) || (CASE WHEN doc_id % 5 = 0 THEN
      |       '    code = ' || CAST(doc_id % 100 AS VARCHAR)
      |     ELSE array_to_string(list_slice(tk, 14, 16), ' ') END)
      |    || chr(10) || (CASE WHEN doc_id % 5 = 0 THEN '```'
      |       ELSE 'tail!' END)
      |    || chr(10) || (CASE WHEN doc_id % 7 = 0 THEN ''
      |       ELSE '1. ordered item' END) AS t
      |  FROM f),
      |ln AS (SELECT doc_id, t, string_split(t, chr(10)) AS ls FROM pl)
      |SELECT doc_id,
      |  CAST(len(ls) AS BIGINT) AS n_lines,
      |  CAST(len(list_filter(ls, l -> trim(l) = '')) AS BIGINT)
      |    AS n_blank,
      |  CAST(len(list_filter(ls, l -> regexp_matches(l, '^#{1,6} ')))
      |    AS BIGINT) AS n_heading,
      |  CAST(len(list_filter(ls,
      |    l -> regexp_matches(l, '^ *([-*+]|[0-9]+\.) '))) AS BIGINT)
      |    AS n_list,
      |  CAST(len(list_filter(ls, l -> regexp_matches(l, '^```')))
      |    AS BIGINT) AS n_fence_lines,
      |  CAST(len(list_filter(ls, l -> regexp_matches(l, '^```')))
      |    // 2 AS BIGINT) AS n_code_blocks,
      |  CAST(len(list_filter(ls,
      |    l -> regexp_matches(l, '^(    |\t)'))) AS BIGINT)
      |    AS n_indented,
      |  CAST(list_max(list_transform(ls, l -> len(l))) AS BIGINT)
      |    AS max_line_len,
      |  CASE WHEN len(t) = 0 THEN NULL
      |    ELSE CAST(len(regexp_replace(t,
      |      '[a-zA-Z0-9 ' || chr(10) || ']', '', 'g')) AS DOUBLE)
      |      / CAST(len(t) AS DOUBLE) END AS symbol_frac
      |FROM ln""".stripMargin

  /** q296 oracle: injected markers + the length-difference counts,
    * the token list generated from [[graft.operators.SpecialTokens]].
    */
  private def specialTokensSql: String = {
    val toks = graft.operators.SpecialTokens.Tokens
      .map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    s"""WITH pd AS (
      |  SELECT source,
      |    substr(text, 1, 60)
      |    || CASE WHEN doc_id % 7 = 0 THEN
      |         repeat(' <|endoftext|>', CAST(doc_id % 3 + 1 AS INTEGER))
      |       ELSE '' END
      |    || CASE WHEN doc_id % 11 = 0 THEN ' <s>mid</s>' ELSE '' END
      |    || CASE WHEN doc_id % 13 = 0 THEN ' [INST] hi [/INST]'
      |       ELSE '' END
      |    || CASE WHEN doc_id % 17 = 0 THEN ' <|im_start|>user<|im_end|>'
      |       ELSE '' END AS t
      |  FROM documents),
      |e AS (
      |  SELECT source, tok,
      |    (len(t) - len(replace(t, tok, ''))) // len(tok) AS n
      |  FROM pd, UNNEST([$toks]) AS u(tok))
      |SELECT source, tok AS token,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n) AS BIGINT) AS n_occurrences
      |FROM e WHERE n > 0 GROUP BY 1, 2""".stripMargin
  }

  /** q299 oracle: batch-parity mirror of the streaming token monitor
    * — the q296 plant, length-difference counts, event-time windows
    * derived arithmetically from the doc_id-minute clock.
    */
  private def streamSpecialTokensSql: String = {
    val toks = graft.operators.SpecialTokens.Tokens
      .map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    s"""WITH pd AS (
      |  SELECT doc_id,
      |    substr(text, 1, 60)
      |    || CASE WHEN doc_id % 7 = 0 THEN
      |         repeat(' <|endoftext|>', CAST(doc_id % 3 + 1 AS INTEGER))
      |       ELSE '' END
      |    || CASE WHEN doc_id % 11 = 0 THEN ' <s>mid</s>' ELSE '' END
      |    || CASE WHEN doc_id % 13 = 0 THEN ' [INST] hi [/INST]'
      |       ELSE '' END
      |    || CASE WHEN doc_id % 17 = 0 THEN ' <|im_start|>user<|im_end|>'
      |       ELSE '' END AS t
      |  FROM documents),
      |e AS (
      |  SELECT doc_id, tok,
      |    (len(t) - len(replace(t, tok, ''))) // len(tok) AS n
      |  FROM pd, UNNEST([$toks]) AS u(tok))
      |SELECT strftime(make_timestamp(
      |    ((doc_id * 60) // 900) * 900 * 1000000),
      |    '%Y-%m-%d %H:%M:%S') AS window_start,
      |  tok AS token, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n) AS BIGINT) AS n_occurrences
      |FROM e WHERE n > 0 GROUP BY 1, 2""".stripMargin
  }

  /** q300 oracle: the intake composition as nested GENERATED chains —
    * the extract step tables, the canon algebra and the LID scoring
    * all come from the same operator constants the engine runs.
    */
  private def webPipelineSql: String = {
    val text = graft.operators.HtmlExtract.extractSql("html")
    val canon =
      s"regexp_extract(html, '${graft.operators.HtmlExtract.CanonicalPattern}', 1)"
    richHtmlPlantSql + s""",
      |x0 AS (SELECT doc_id, $text AS text FROM planted),
      |c0 AS (SELECT doc_id, $canon AS canonical_raw FROM planted),
      |ca AS (SELECT doc_id, canonical_raw AS url FROM c0
      |       WHERE canonical_raw <> ''),
      |${graft.operators.UrlCanon.oracleSelect("ca", "doc_id", "url")},
      |${graft.operators.LanguageId.oracleSelect("x0", "doc_id", "text")},
      |tkc AS (
      |  SELECT doc_id, CASE WHEN len(text) = 0 THEN 0
      |    ELSE len(text) - len(replace(text, ' ', '')) + 1 END
      |    AS n_tokens
      |  FROM x0),
      |jw AS (
      |  SELECT x0.doc_id, COALESCE(o.host, '(none)') AS host,
      |    l.lang_pred, t.n_tokens
      |  FROM x0 LEFT JOIN url_canon_out o USING (doc_id)
      |  JOIN lid_out l USING (doc_id) JOIN tkc t USING (doc_id))
      |SELECT host, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_pages,
      |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
      |  CAST(SUM(CASE WHEN n_tokens >= 8 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept
      |FROM jw GROUP BY 1, 2""".stripMargin
  }

  /** q297 oracle: the shared quality CTE + two ROW_NUMBER rankings
    * (ties pinned by doc_id) fused on the lattice-reciprocal points.
    */
  private def rankFusionSql: String = (qualityCteSql + """,
      |q6 AS (
      |  SELECT tq.doc_id,
      |    CAST(ROUND(tq.quality * 1000000, 0) AS BIGINT) AS q6,
      |    d.n_chars
      |  FROM tq JOIN documents d USING (doc_id)),
      |rk AS (
      |  SELECT doc_id,
      |    ROW_NUMBER() OVER (ORDER BY q6 DESC, doc_id) AS rank_quality,
      |    ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id)
      |      AS rank_length
      |  FROM q6),
      |pts AS (
      |  SELECT doc_id, rank_quality, rank_length,
      |    (200000000 + (rank_quality + 60))
      |      // (2 * (rank_quality + 60))
      |    + (200000000 + (rank_length + 60))
      |      // (2 * (rank_length + 60)) AS rrf_points
      |  FROM rk)
      |SELECT doc_id, rank_quality, rank_length,
      |  CAST(rrf_points AS BIGINT) AS rrf_points,
      |  ROW_NUMBER() OVER (ORDER BY rrf_points DESC, doc_id)
      |    AS fused_rank
      |FROM pts""".stripMargin)

  /** q298 oracle: the q279 planted scored frame (same CTEs) + the
    * tie-aware Mann–Whitney histogram fold — 2U stays integer
    * (HUGEINT), AUC is one division.
    */
  private def rocAucSql: String = (qualityCteSql + """,
      |cal0 AS (
      |  SELECT doc_id,
      |    (CAST(ROUND(quality * 1000000, 0) AS BIGINT)
      |      + ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
      |          || ':cal_v2'), 1, 15))::BIGINT % 1000001) // 2 AS s6
      |  FROM tq),
      |cal AS (
      |  SELECT doc_id, s6,
      |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
      |        || ':cal_v1'), 1, 15))::BIGINT % 1000001 < s6
      |      THEN 1 ELSE 0 END AS y
      |  FROM cal0),
      |bs AS (
      |  SELECT s6, COUNT(*) AS c, SUM(y) AS p, COUNT(*) - SUM(y) AS neg
      |  FROM cal GROUP BY 1),
      |wb AS (
      |  SELECT s6, c, p, neg,
      |    COALESCE(SUM(neg) OVER (ORDER BY s6
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
      |  FROM bs)
      |SELECT CAST(SUM(c) AS BIGINT) AS n,
      |  CAST(SUM(p) AS BIGINT) AS n_pos,
      |  CAST(SUM(neg) AS BIGINT) AS n_neg,
      |  CAST(SUM(CAST(p AS HUGEINT) * 2 * nb + CAST(p AS HUGEINT) * neg)
      |      AS DOUBLE)
      |    / CAST(CAST(SUM(p) AS HUGEINT) * CAST(SUM(neg) AS HUGEINT) * 2
      |      AS DOUBLE) AS auc
      |FROM wb""".stripMargin)
}
