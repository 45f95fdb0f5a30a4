package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws, lit, posexplode, round, sort_array, when}

import graft.functions.{HashFamily, TextAnalysis, VectorCentroidAggregator}
import graft.operators.{Cluster, CorpusPrep, Curate, DataQuality, Decontaminate, Dedup, Events, Importance, Layout, LinkGraph, Multimodal, Pca, PlayStore, QualityModel, Relational, Retrieval, Similarity, Snapshot, Tokenize}
import graft.sources.IO

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 plus the LLM-pipeline extensions is
  * registered as a named query; where the semantics are ANSI-SQL-expressible
  * the matching DuckDB oracle lives in [[oracleSql]] (same column names, same
  * deterministic ORDER BY — the driver hash-compares values).
  */
object SparkEntry {

  /** Serialize array-typed output columns to delimited strings at the
    * registered-query boundary: the driver's compare harness sorts rows in
    * pandas, which cannot hash ndarray cells. The underlying operators keep
    * their array types (ScalaTest asserts on those); only the driver-facing
    * registration flattens. Oracled queries pair this with
    * `array_to_string(..., sep)` on the DuckDB side; the null guard keeps
    * the two aligned (concat_ws would render a NULL array as '', DuckDB
    * array_to_string renders it as NULL).
    */
  private def joinArrays(df: DataFrame, sep: String, names: String*): DataFrame =
    names.foldLeft(df) { (d, n) =>
      d.withColumn(n,
        when(col(n).isNull, lit(null))
          .otherwise(concat_ws(sep, col(n).cast("array<string>"))))
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.qStarJoin(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // sources / sinks (S1-S3, K1-K3)
    "s1_csv_roundtrip" -> (Relational.s1CsvRoundTrip _),
    "s2_csv_section_delim" -> (Relational.s2CsvSectionDelim _),
    "s3_parquet_scan" -> (Relational.s3ParquetScan _),
    "s4_csv_schema_pinned" -> (Relational.s4CsvSchemaPinned _),
    "s5_json_corrupt_permissive" -> (Relational.s5JsonCorruptPermissive _),
    "k2_parquet_gzip_roundtrip" -> (Relational.k2ParquetGzipRoundTrip _),
    "k3_show_limit" -> (Relational.k3ShowLimit _),
    "k4_json_roundtrip" -> (Relational.k4JsonRoundTrip _),
    "k5_orc_roundtrip" -> (Relational.k5OrcRoundTrip _),
    "k6_partitioned_roundtrip" -> (Relational.k6PartitionedRoundTrip _),
    "k7_zstd_roundtrip" -> (Relational.k7ZstdRoundTrip _),
    "k8_compacted_roundtrip" -> (Relational.k8CompactedRoundTrip _),
    // schema-evolution read: two parquet generations merged with
    // mergeSchema; the old generation null-pads the added column
    "k9_mergeschema_roundtrip" -> (Relational.k9MergeSchemaRoundTrip _),
    // projection (P1-P4)
    "p1_select_prune" -> (Relational.p1SelectPrune _),
    "p2_with_column" -> (Relational.p2WithColumn _),
    "p3_rename" -> (Relational.p3Rename _),
    "p4_drop_dup_key" -> (Relational.p4DropDupKey _),
    // filters (F1-F5)
    "f1_conj_filter" -> (Relational.f1ConjFilter _),
    "f2_case_when" -> (Relational.f2CaseWhen _),
    "f3_ends_with" -> (Relational.f3EndsWith _),
    "f4_contains" -> (Relational.f4Contains _),
    "f5_eq_coerce" -> (Relational.f5EqCoerce _),
    // sorts (O1-O2)
    "o1_sort_desc_string" -> (Relational.o1SortDescString _),
    "o2_topk" -> (Relational.o2TopK _),
    // aggregations (A1-A7)
    "a1_group_avg" -> (Relational.a1GroupAvg _),
    "a2_multi_max" -> (Relational.a2MultiMax _),
    "a2b_max_array" -> ((s, d) =>
      joinArrays(Relational.a2MaxArray(s, d), "|", "max_name_words")),
    "a3_collect_list" -> ((s, d) =>
      joinArrays(Relational.a3CollectList(s, d), "|", "line_numbers")),
    "a4_count_star" -> (Relational.a4CountStar _),
    "a5_avg_with_nulls" -> (Relational.a5AvgWithNulls _),
    "a6_drop_duplicates" -> (Relational.a6DropDuplicates _),
    "a7_na_fill" -> (Relational.a7NaFill _),
    // joins (J1 + engine-level)
    "j1_left_join_agg" -> (Relational.j1LeftJoinAgg _),
    "j2_broadcast_join" -> (Relational.j2BroadcastJoin _),
    "j3_semi_join" -> (Relational.semiJoin _),
    "j4_anti_join" -> (Relational.antiJoin _),
    "j5_asof_lookup" -> (Relational.asofLastPurchase _),
    "j6_range_join" -> (Relational.rangeJoinBucketed _),
    "j6b_range_join_left" -> (Relational.rangeJoinBucketedLeft _),
    // set operations
    "set_union_all" -> (Relational.setUnionAll _),
    "set_intersect" -> (Relational.setIntersect _),
    "set_except" -> (Relational.setExcept _),
    // multi-dimensional aggregation
    "rollup_agg" -> (Relational.rollupAgg _),
    "cube_agg" -> (Relational.cubeAgg _),
    "pivot_agg" -> (Relational.pivotAgg _),
    "grouping_sets_agg" -> (Relational.groupingSetsAgg _),
    "exact_median" -> (Relational.exactMedian _),
    "sql_via_view" -> (Relational.sqlViaView _),
    // semi-structured
    "json_extract" -> (Relational.jsonExtract _),
    // sketches (approximate; accuracy-bounded in spec, no byte-exact oracle)
    "sketch_profile" -> (Relational.sketchProfile _),
    "sketch_merge" -> (Relational.sketchMergeProfile _),
    // oracled exactness anchor for the HLL rows: merged-halves estimate
    // == whole-corpus estimate, as a hashable boolean frame
    "sketch_merge_exact" -> (Relational.sketchMergeExact _),
    // audience overlap from stored sketches: inclusion-exclusion over
    // pairwise hll_union (estimate; exact twin is the oracled anchor)
    "sketch_hll_intersect" -> (Relational.sketchHllIntersect _),
    "sketch_intersect_exact" -> (Relational.sketchIntersectExact _),
    "sketch_cms_counts" -> (Relational.sketchCmsCounts _),
    // market-basket association lift over capped per-user item baskets
    "events_assoc_lift" -> ((s, d) => Relational.itemAssociationLift(s, d)),
    // Misra-Gries heavy hitters: bounded per-partition summaries, then
    // exact counts of the candidate superset — exact output, no
    // full-vocabulary shuffle
    "sketch_heavy_hitters" -> ((s, d) => Relational.sketchHeavyHitters(s, d)),
    // same MG->exact-recount path at a 1/4096 share threshold: wide
    // enough that a x10 vocabulary (the SfScaler shifted-alphabet cut)
    // still surfaces hitters -- the scale probe's non-degenerate twin
    "sketch_heavy_hitters_wide" ->
      ((s, d) => Relational.sketchHeavyHitters(s, d, k = 4096)),
    // DDSketch quantile buckets + extraction: the sketch family's
    // percentile member, hash-oracled end to end (bucket indices are
    // integer ceilings of bit-pinned doubles — see Relational.DdLnGamma)
    "sketch_quantile_buckets" -> (Relational.sketchQuantileBuckets _),
    "sketch_quantile_values" -> (Relational.sketchQuantileValues _),
    // the exact, oracle-able stats twin + deterministic hash sampling
    "stats_profile" -> (Relational.statsProfile _),
    "sample_hash" -> ((s, d) => Relational.sampleHash(s, d)),
    // expressions (E1-E8)
    "e1_regexp_extract" -> (Relational.e1RegexpExtract _),
    "e2_round" -> (Relational.e2Round _),
    "e3_to_date_fmt" -> (Relational.e3ToDateFmt _),
    "e4_split" -> ((s, d) => joinArrays(Relational.e4Split(s, d), "|", "words")),
    "e5_non_ansi_cast" -> (Relational.e5NonAnsiCast _),
    "e7_arithmetic" -> (Relational.e7Arithmetic _),
    "e8_boolean" -> (Relational.e8Boolean _),
    // generators (G1)
    "g1_explode" -> (Relational.g1Explode _),
    "g2_explode_outer" -> (Relational.g2ExplodeOuter _),
    "e9_string_funcs" -> (Relational.stringFuncs _),
    "e10_date_funcs" -> (Relational.dateFuncs _),
    "e11_array_hofs" -> (Relational.e11ArrayHofs _),
    // windows (engine-level)
    "w1_row_number_topk" -> (Relational.w1RowNumberTopK _),
    "w4_rank_topk" -> (Relational.w4RankTopK _),
    "w5_dense_rank_topk" -> (Relational.w5DenseRankTopK _),
    "w2_running_sum" -> (Relational.w2RunningSum _),
    "w6_range_frame" -> (Relational.w6RangeFrame _),
    "w7_first_last_ignore_nulls" -> (Relational.w7FirstLastIgnoreNulls _),
    // ntile/percent_rank/cume_dist over a tie-free order — the
    // total-cardinality window family (stock plan by design)
    "w8_distribution_ranks" -> (Relational.w8DistributionRanks _),
    "w3_analytic_windows" -> (Relational.w3AnalyticWindows _),
    // scale patterns: skew salting, stream-twin windowed agg, sessionization
    "skew_salted_agg" -> ((s, d) => Relational.skewSaltedAgg(s, d)),
    "skew_salted_join" -> ((s, d) => Relational.skewSaltedJoin(s, d)),
    "stream_window_agg" -> (Relational.windowAgg _),
    "sess_batch" -> ((s, d) => graft.streaming.EventStream.sessionizeBatch(s, d)),
    "dedup_events_batch" -> ((s, d) => graft.streaming.EventStream.dedupEventsBatch(s, d)),
    "events_enriched" -> ((s, d) => graft.streaming.EventStream.enrichBatch(s, d)),
    "sess_window_builtin" -> (Relational.sessionWindowAgg _),
    "events_funnel" -> ((s, d) => graft.streaming.EventStream.funnelSummary(s, d)),
    // headline analytics
    "q1_pricing_summary" -> (Relational.q1PricingSummary _),
    "q_join_agg" -> (Relational.qJoinAgg _),
    "q_star_join" -> (Relational.qStarJoin _),
    // PlayStore reference-parity pipelines (read the reference's own CSV +
    // the synthesized reviews fixture; golden-diffed in ScalaTest)
    "ps_part1_sentiment" -> ((s, _) =>
      PlayStore.averageSentimentByApp(PlayStore.readReviews(s))
        .orderBy("App")),
    "ps_part2_best_apps" -> ((s, _) =>
      PlayStore.bestApps(s, PlayStore.readStore(s), IO.scratchDir("graft_ps2"))),
    // Categories comes from collect_list (partition-order-dependent,
    // SURVEY.md §2.5-A3): sort before flattening so the registered output
    // is deterministic. The golden specs keep the raw array semantics.
    "ps_part3_standardize" -> ((s, _) =>
      joinArrays(
        PlayStore.standardizePerApp(PlayStore.readStore(s))
          .withColumn("Categories", sort_array(col("Categories")))
          .orderBy("App"),
        "|", "Categories", "Genres")),
    "ps_part4_cleaned" -> ((s, _) => {
      val df1 = PlayStore.averageSentimentByApp(PlayStore.readReviews(s))
      val df3 = PlayStore.standardizePerApp(PlayStore.readStore(s))
      joinArrays(
        PlayStore.joinSentiment(s, df3, df1, IO.scratchDir("graft_ps4"))
          .withColumn("Categories", sort_array(col("Categories")))
          .orderBy("App"),
        "|", "Categories", "Genres")
    }),
    "ps_part5_metrics" -> ((s, _) => {
      val df1 = PlayStore.averageSentimentByApp(PlayStore.readReviews(s))
      val df3 = PlayStore.standardizePerApp(PlayStore.readStore(s))
      val df4 = PlayStore.joinSentiment(s, df3, df1, IO.scratchDir("graft_ps4b"))
      PlayStore.metricsByGenre(s, df4, IO.scratchDir("graft_ps5"))
        .orderBy("Genre")
    }),
    // parquet-shaped twins of the reference pipelines (the originals read
    // the reference CSV, invisible to the parquet oracle; golden specs pin
    // their byte-level parity, these rows give the driver a hashable check
    // of the same operator compositions)
    "ps1_twin_parquet" -> (PlayStore.ps1TwinParquet _),
    "ps2_twin_parquet" -> (PlayStore.ps2TwinParquet _),
    "ps3_twin_parquet" -> ((s, d) =>
      joinArrays(
        PlayStore.ps3TwinParquet(s, d)
          .withColumn("priorities", sort_array(col("priorities"))),
        "|", "priorities", "max_prio_parts")),
    "ps4_twin_parquet" -> ((s, d) =>
      joinArrays(
        PlayStore.ps4TwinParquet(s, d)
          .withColumn("priorities", sort_array(col("priorities"))),
        "|", "priorities", "max_prio_parts")),
    "ps5_twin_parquet" -> (PlayStore.ps5TwinParquet _),
    // LLM-pipeline: dedup
    "dedup_exact" -> (Dedup.exactByText _),
    // canonical-form preparation + the published "fuzzy exact" criterion
    // (case/punct/whitespace-invariant content identity)
    "txt_normalize" -> (TextAnalysis.normalize _),
    "dedup_exact_normalized" -> (Dedup.exactByNormalizedText _),
    "dedup_exact_hash" -> (Dedup.exactByHash _),
    "dedup_minhash_pairs" -> ((s, d) => Dedup.minHashNearDupPairs(s, d, HashFamily.Xx)),
    "dedup_simhash_pairs" -> ((s, d) => Dedup.simHashNearDupPairs(s, d, HashFamily.Xx)),
    // the same pipelines under the Md5 family (DuckDB cannot reproduce
    // xxhash64; it CAN reproduce md5 plus the bit-majority / permutation /
    // banding / verification pipelines, so these rows hash-verify the whole
    // near-dup machinery end to end)
    "dedup_simhash_md5" -> ((s, d) => Dedup.simHashNearDupPairs(s, d, HashFamily.Md5)),
    "dedup_minhash_md5" -> ((s, d) => Dedup.minHashNearDupPairs(s, d, HashFamily.Md5)),
    // LSH banding recall vs exact token-set ground truth at J >= 0.9
    "dedup_minhash_eval" -> (Dedup.minhashRecallEval _),
    "dedup_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardPairs(s, d)),
    // exact Jaccard-threshold join over the FULL corpus via lossless
    // prefix filtering (AllPairs); the oracle is the naive all-pairs
    // join, so a hash match also proves the filter dropped nothing
    "dedup_jaccard_prefix" -> ((s, d) => Dedup.jaccardPrefixPairs(s, d)),
    // serve path over the persisted shingle sets + prefix index
    "dedup_jaccard_stored" -> ((s, d) => Dedup.jaccardPrefixPairsStored(s, d)),
    // incremental dedup: the incoming batch (doc_id % 10 == 0) against the
    // standing corpus — exact fingerprint anti-join, then simhash verdicts
    "dedup_incremental_exact" -> (Dedup.incrementalExact _),
    "dedup_incremental_simhash" -> ((s, d) => Dedup.incrementalNearDupMd5(s, d)),
    // the registered row is the STORED-index consumer (build-and-persist
    // on first use, batch-only banding after) — the production contract;
    // the build-every-time variant stays spec-pinned row-identical
    "dedup_incremental_minhash" -> ((s, d) => Dedup.incrementalMinHashMd5Stored(s, d)),
    // near-dup CLUSTERING over the md5 pair pipeline: star-contraction
    // connected components (the oracle replays the closure as a recursive
    // CTE — tractable at oracle scale), then the per-document keep/drop
    // decision (lowest-id and best-quality representative policies)
    "dedup_cluster_components" -> (Cluster.nearDupComponentsMd5 _),
    // the DEFAULT decision row consumes the persisted component map (the
    // cluster-once contract — production refreshes the artifact per corpus
    // version, every consumer pays one artifact scan); row-identical to
    // the rebuild row by construction, so both keep one oracle
    "dedup_cluster_decision" -> (Cluster.dedupDecisionMd5Stored _),
    // the full signature→banding→star-contraction pipeline, timed as its
    // own explicitly-named row (what artifact priming costs)
    "dedup_cluster_decision_rebuild" -> (Cluster.dedupDecisionMd5 _),
    "dedup_cluster_keep_best" -> (Cluster.dedupKeepBestMd5 _),
    // size histogram of the near-dup graph, off the persisted map
    "dedup_cluster_sizes" -> (Cluster.clusterSizeProfile _),
    // per-source kept/dropped/cross-source-loss audit, off the same map
    "dedup_source_attribution" -> (Cluster.dedupSourceAttribution _),
    // batch-extend the stored corpus clustering: batch rows + the
    // churn-bounded corpus remap, no corpus re-clustering (oracle replays
    // BOTH closures from scratch and takes the same delta)
    "dedup_incremental_components" -> (Cluster.incrementalComponentsMd5 _),
    // LLM-pipeline: similarity search
    "ann_topk_bruteforce" -> ((s, d) => Similarity.cosineTopK(s, d)),
    "ann_topk_native" -> ((s, d) => Similarity.cosineTopKNative(s, d)),
    // planesPerBand pinned to 8 for the registered row: the oracle inlines
    // the deterministic hyperplanes as SQL literals, so DuckDB reproduces
    // the exact bucketing — the size-adaptive plane count stays the library
    // default and is spec-covered (LlmOpsSpec linear-growth test)
    "ann_topk_lsh" -> ((s, d) => Similarity.lshCosineTopK(s, d, planesPerBand = 8)),
    // all-nodes approximate kNN graph over the same pinned LSH bands
    "emb_knn_graph" -> ((s, d) => Similarity.knnGraph(s, d)),
    // one NN-descent round: neighbors-of-neighbors candidates, monotone
    // per-rank improvement over the LSH seed graph
    "emb_knn_refine" -> ((s, d) => Similarity.knnGraphRefined(s, d)),
    // margin-based bitext mining (ratio margin, forward top-1): en-side
    // docs paired to their best non-en neighbor when the pair beats both
    // endpoints' average k-NN neighborhoods
    "emb_margin_pairs" -> ((s, d) => Similarity.marginBitextPairs(s, d)),
    // the production CCMatrix shape: same margin algebra, candidates
    // bounded to the src's nprobe trained-IVF cells (and past the 16M
    // pair budget, thinned by the deterministic md5 src split)
    "emb_margin_pairs_ivf" -> ((s, d) => Similarity.marginBitextPairsIvf(s, d)),
    // the SAME row with a deliberately tiny budget so the md5-split
    // thinning ENGAGES at every driver sf — the cross-engine proof the
    // production cap degrades deterministically instead of by luck
    "emb_margin_pairs_ivf_capped" ->
      ((s, d) => Similarity.marginBitextPairsIvf(s, d, maxPairs = 2000L)),
    // contrastive (anchor, positive, hard-negative) triplets mined from
    // the near-dup components + trained IVF cells the pipeline already
    // has; serve row consumes both persisted artifacts, rebuild row
    // derives them from scratch (row-identical, same oracle)
    "emb_training_triplets" -> ((s, d) => Similarity.trainingTripletsStored(s, d)),
    "emb_training_triplets_rebuild" -> ((s, d) => Similarity.trainingTriplets(s, d)),
    "ann_topk_quantized" -> ((s, d) => Similarity.quantizedTopK(s, d)),
    "ann_topk_ivf" -> ((s, d) => Similarity.ivfCosineTopK(s, d)),
    // recall@5 of the IVF ladder (nprobe 1/2/4) vs the brute ground
    // truth -- the eval artifact an index-tuning job publishes
    "ann_recall_report" -> ((s, d) => Similarity.annRecallReport(s, d)),
    // k-means coarse-quantizer training (2 fixed Lloyd's iterations,
    // fixed-point centroid sums — the oracle replays both iterations in
    // SQL) and the IVF search over the trained codebook
    "kmeans_assign" -> ((s, d) => Similarity.kmeansAssignments(s, d)),
    // topic labels: per k-means cell, top tf-idf terms of member docs
    "emb_cluster_terms" -> ((s, d) => Similarity.clusterTopTerms(s, d)),
    // the materialized train-once artifact itself, hash-checked value
    // for value against the oracle's full Lloyd replay
    "kmeans_codebook" -> ((s, d) => Similarity.kmeansCodebookTable(s, d)),
    // SemDeDup/D4-style per-cell prototypicality pruning over the trained
    // codebook: drop the most-central 25% of every cell
    "emb_semantic_prune" -> ((s, d) => Similarity.semanticPruneDecisions(s, d)),
    // the embedding member of the incremental family: batch vectors vs
    // the cell-indexed corpus, SemDeDup cell-bounded candidates
    "emb_incremental_neardup" -> ((s, d) => Similarity.incrementalSemanticNearDup(s, d)),
    // embedding-space decontamination: paraphrase-resistant tier of the
    // decontam family over the persisted cell index
    "decontam_semantic" -> ((s, d) => Similarity.semanticContaminationReport(s, d)),
    "ann_topk_ivf_trained" -> ((s, d) => Similarity.ivfCosineTopKTrained(s, d)),
    // the production search path: consumes the PERSISTED codebook parquet
    // (self-priming on first use), never trains — row-identical to
    // ann_topk_ivf_trained, so it keeps the full-training-replay oracle
    "ann_topk_ivf_stored" -> ((s, d) => Similarity.ivfCosineTopKStored(s, d)),
    // 1-bit quantization: packed sign-bit signatures, bit_count(xor)
    // Hamming shortlist, exact-cosine rerank of the shortlist only
    "ann_topk_binary" -> ((s, d) => Similarity.binarySignTopK(s, d)),
    // product quantization: per-subvector codebooks trained distributed,
    // codes as INT columns (the stored index artifact), ADC-scored top-k
    "pq_codes" -> ((s, d) => Similarity.pqEncode(s, d)),
    "ann_topk_pq" -> ((s, d) => Similarity.pqTopK(s, d)),
    "ann_topk_ivfpq" -> ((s, d) => Similarity.ivfPqTopK(s, d)),
    "ann_topk_ivfpq_res" -> ((s, d) => Similarity.ivfPqResidualTopK(s, d)),
    "ann_topk_dot" -> ((s, d) => Similarity.dotTopK(s, d)),
    // Matryoshka two-stage retrieval: 32-dim-prefix shortlist (50/query),
    // full-dim rerank of the shortlist only. (An MRL-trained model packs
    // the signal into a much shorter prefix; the synthetic fixture has no
    // such structure, so the registered config is the honest half-dims
    // point — recall vs brute force is spec-measured.)
    "ann_topk_mrl" -> ((s, d) => Similarity.mrlTopK(s, d)),
    // pinned planes (see ann_topk_lsh); the float cast on the verified
    // cosine absorbs the ≤1-ulp double drift between engines so the row
    // hash-compares (the >= threshold is evaluated on the double in BOTH
    // engines before the cast)
    "emb_near_dup_pairs" -> ((s, d) =>
      Similarity.embeddingNearDupPairs(s, d, planesPerBand = 8)
        .withColumn("cos_sim", col("cos_sim").cast("float"))),
    // LLM-pipeline: text analysis
    "txt_token_counts" -> (TextAnalysis.tokenCounts _),
    "corpus_stats" -> (graft.functions.CorpusStatsAggregator.perSource _),
    "txt_quality" -> (TextAnalysis.qualityScores _),
    "txt_lang_id" -> (TextAnalysis.languageId _),
    // per (label, prediction) confusion cell with the label's share
    "txt_langid_confusion" -> (TextAnalysis.langIdConfusion _),
    "txt_scrub" -> (TextAnalysis.scrub _),
    "txt_repetition" -> (TextAnalysis.repetitionScores _),
    // the published Gopher filter battery, per-rule signals + verdict
    "txt_gopher_rules" -> (TextAnalysis.gopherRules _),
    // PII audit trail (counts per pattern class; txt_scrub is the rewrite)
    "txt_pii_report" -> (TextAnalysis.piiReport _),
    // per-domain URL/document counts (blocklist & per-domain-cap input)
    "txt_domains" -> (TextAnalysis.domainStats _),
    // distilled quality classifier: logistic regression on rule-battery
    // labels, fixed-point-summed gradients — training itself is oracled
    // (the weights row hash-matches DuckDB's unrolled-GD replay)
    "quality_lr_weights" -> (QualityModel.lrWeights _),
    "quality_lr_scores" -> (QualityModel.lrScores _),
    // reliability table: per score decile, teacher-positive rate vs
    // mean predicted score -- the gate-threshold eval artifact
    "quality_calibration" -> (QualityModel.lrCalibration _),
    // threshold-free model evals: exact rank-statistic ROC AUC and the
    // percent-threshold precision/recall/F1 sweep
    "quality_auc" -> (QualityModel.lrAuc _),
    "quality_pr_table" -> (QualityModel.lrPrTable _),
    // one-number calibration summary over the percent-bin reliability
    // table: weighted |pos_rate - mean_score| plus the worst bucket gap
    "quality_ece" -> (QualityModel.lrEce _),
    "txt_fingerprints" -> (TextAnalysis.fingerprints _),
    // md5-only projection: the full fingerprint row keeps xxhash64 columns
    // DuckDB cannot reproduce; this twin gives the content-id path an oracle
    "txt_fingerprints_md5" -> ((s, d) =>
      TextAnalysis.fingerprints(s, d).select("doc_id", "fp_md5")),
    // winnowing fingerprint selection (MOSS): min-hash per w-window of
    // k-gram md5-prefix hashes — fully oracled (DuckDB replays the
    // selection with list_min over list slices)
    "txt_winnow" -> ((s, d) => TextAnalysis.winnowFingerprints(s, d)),
    // near-dup pairs over the SELECTED fingerprints — the substring-pair
    // criterion at ~2/(w+1) the exploded volume. DEFAULT row consumes
    // the persisted full-corpus fingerprint table (the graph_pagerank
    // stored-default convention); the _rebuild twin prices the md5
    // selection pass. Row-identical, one oracle.
    "dedup_winnow_pairs" -> ((s, d) => Dedup.winnowPairsStored(s, d)),
    "dedup_winnow_pairs_rebuild" -> ((s, d) => Dedup.winnowPairs(s, d)),
    // the local-overlap member of the incremental family: batch winnows
    // map-side and broadcasts against the persisted corpus fp index
    "dedup_incremental_winnow" -> ((s, d) => Dedup.incrementalWinnowStored(s, d)),
    "txt_top_bigrams" -> ((s, d) => TextAnalysis.topBigrams(s, d)),
    // PMI collocations: above-chance co-occurrence (min-count guarded),
    // float-washed ln over a pinned exact-integer operand chain
    "txt_pmi_collocations" -> ((s, d) => TextAnalysis.pmiCollocations(s, d)),
    // per-source KL drift vs the corpus token distribution
    "txt_source_kl" -> (TextAnalysis.sourceKlDivergence _),
    // per-source Zipf exponent (fixed-point log-log least squares)
    "txt_source_zipf" -> (TextAnalysis.sourceZipfFit _),
    "txt_unigram_logprob" -> (TextAnalysis.unigramLogProb _),
    "txt_bigram_logprob" -> ((s, d) => TextAnalysis.bigramLogProb(s, d)),
    // CCNet head/middle/tail cut over the bigram-LM score
    "txt_perplexity_buckets" -> (TextAnalysis.perplexityBuckets _),
    // Flesch reading-ease: exact word/sentence/vowel-group counts, one
    // pinned double chain cut to FLOAT
    "txt_readability" -> (TextAnalysis.readabilityScores _),
    // exact phrase search over positional postings (adjacency joins)
    "retrieval_phrase" -> (graft.operators.Retrieval.phraseSearch _),
    "txt_tfidf_top_terms" -> ((s, d) => TextAnalysis.tfIdfTopTerms(s, d)),
    // BM25 ranked retrieval (fixed-point scores; index = postings + dlen)
    "retrieval_bm25_topk" -> ((s, d) => Retrieval.bm25TopK(s, d)),
    // persisted-posting-index consumer (train-once contract): row-identical
    // to retrieval_bm25_topk by construction, so it keeps that oracle
    "retrieval_bm25_stored" -> ((s, d) => Retrieval.bm25TopKStored(s, d)),
    // DSIR importance resampling: estimator artifact, per-doc weights,
    // Gumbel-top-N draw — all replayed bit-exactly by the oracle
    "dsir_logratios" -> (Importance.logRatios _),
    "dsir_weights" -> (Importance.weights _),
    "dsir_sample" -> ((s, d) => Importance.sample(s, d)),
    // click-graph construction + unrolled-power-iteration PageRank
    "graph_transition_edges" -> (LinkGraph.transitionEdges _),
    // the DEFAULT row consumes the PERSISTED (edges, nodes) artifact
    // (the cluster-decision convention — build the graph once per corpus
    // version); row-identical to the rebuild row, one oracle
    "graph_pagerank" -> ((s, d) => LinkGraph.pageRankStored(s, d)),
    // edge construction + iteration, timed as its own explicit row
    "graph_pagerank_rebuild" -> ((s, d) => LinkGraph.pageRank(s, d)),
    // the past-broadcast-ceiling code path, forced at test scale
    "graph_pagerank_joinloop" -> ((s, d) => LinkGraph.pageRankStored(s, d, broadcastCeiling = 0L)),
    // HITS hubs/authorities, every half-step unrolled in the oracle
    "graph_hits" -> ((s, d) => LinkGraph.hits(s, d)),
    // HITS past the broadcast ceiling: two pinned edge layouts
    // (forward/reverse adjacency), score frame as shuffle-hash build side
    "graph_hits_joinloop" -> ((s, d) => LinkGraph.hits(s, d, broadcastCeiling = 0L)),
    // personalized PageRank from the pinned seed set (node % 10 = 0)
    "graph_ppr" -> ((s, d) => LinkGraph.personalizedPageRank(s, d)),
    // PPR past the broadcast ceiling (shared contrib-join seam)
    "graph_ppr_joinloop" -> ((s, d) => LinkGraph.personalizedPageRank(s, d, broadcastCeiling = 0L)),
    // synchronous label propagation communities (integer-exact argmax,
    // min-label tie-break), every round unrolled in the oracle
    "graph_label_prop" -> ((s, d) => LinkGraph.labelPropagation(s, d)),
    // label propagation past the broadcast ceiling: v-pinned cached
    // symmetrized edges, label frame as shuffle-hash build side
    "graph_label_prop_joinloop" -> ((s, d) => LinkGraph.labelPropagation(s, d, broadcastCeiling = 0L)),
    // the community-size profile a curation planner consumes
    "graph_label_prop_sizes" -> ((s, d) => LinkGraph.labelCommunitySizes(s, d)),
    // Newman modularity profile of the converged partition — exact
    // integer fix per community, one division
    "graph_label_prop_modularity" -> ((s, d) => LinkGraph.labelPropModularity(s, d)),
    // per-node triangle counts via degree-ordered wedge orientation
    "graph_triangles" -> ((s, d) => LinkGraph.triangleCounts(s, d)),
    // 3-core membership by iterative peeling (unique fixpoint; the
    // oracle over-unrolls safely)
    "graph_kcore" -> ((s, d) => LinkGraph.kCoreMembers(s, d)),
    // directed strongly connected components (FW-BW label splitting,
    // convergence-checked) + the condensation DAG between them; the
    // oracle is the exact recursive-closure SCC — a hash match proves
    // the distributed splitting loop exact
    "graph_scc" -> ((s, d) => LinkGraph.sccComponents(s, d)),
    "graph_condensation" -> ((s, d) => LinkGraph.sccCondensation(s, d)),
    // exact neighborhood function (reach@1..3) over the backbone — the
    // effective-diameter primitive; the top-k cut bounds the ball at
    // k^t so the exact pair set replaces the HyperBall sketch
    "graph_neighborhood" -> ((s, d) => LinkGraph.neighborhoodCounts(s, d)),
    // per-SCC rollup from the stored map: size + internal/in/out weight
    "graph_scc_profile" -> ((s, d) => LinkGraph.sccProfile(s, d)),
    // analytic LSH banding S-curve table — no data touched; the
    // unrolled-multiplication determinism contract is the whole point
    "dedup_lsh_design" -> ((s, _) => Dedup.lshDesignTable(s)),
    // 6-hop BFS distances from the pinned seed set (fixed-round contract)
    "graph_bfs_distances" -> ((s, d) => LinkGraph.bfsDistances(s, d)),
    // max-bottleneck capacities from the seed set, 6 relaxation rounds
    "graph_widest_path" -> ((s, d) => LinkGraph.widestPaths(s, d)),
    // local clustering coefficient over the same oriented-wedge counts
    "graph_clustering_coeff" -> ((s, d) => LinkGraph.clusteringCoefficients(s, d)),
    // deterministic weighted random walks (hash-derandomized DeepWalk)
    "graph_random_walks" -> ((s, d) => LinkGraph.randomWalks(s, d)),
    // DeepWalk skip-gram co-occurrence pairs over the derandomized walks
    "graph_walk_skipgrams" -> ((s, d) => LinkGraph.walkSkipgrams(s, d)),
    // contrastive hard-negative mining over the embedding corpus
    "retrieval_hard_negatives" -> ((s, d) => Retrieval.hardNegatives(s, d)),
    // lexical (Jaccard) + dense (cosine) rankings fused with RRF
    "retrieval_hybrid_rrf" -> ((s, d) => Retrieval.hybridRrfTopK(s, d)),
    // per-(train, eval) n-gram containment — the fuzzy decontam metric
    "decontam_containment" -> ((s, d) => Decontaminate.containmentReport(s, d)),
    // the minhash member of the decontamination family: band-collision
    // candidates, exact-Jaccard verified, worst eval offender per doc
    "decontam_neardup" -> ((s, d) => Decontaminate.nearDupContaminationReport(s, d)),
    // same report consuming the PERSISTED train band index (the serve
    // path — the corpus is never re-signed per eval suite); the live row
    // above doubles as the _rebuild twin
    "decontam_neardup_stored" -> ((s, d) => Decontaminate.nearDupContaminationReportStored(s, d)),
    // the UNION gate: drop on ANY of {gram overlap, containment, near-dup}
    "decontam_gate" -> ((s, d) => Decontaminate.decontaminationGate(s, d)),
    // cross-source verbatim-overlap audit (mixture double-count check)
    "corpus_source_overlap" -> ((s, d) => CorpusPrep.sourceOverlap(s, d)),
    // interpolated Kneser-Ney bigram LM (D = 0.75)
    "txt_kn_logprob" -> ((s, d) => TextAnalysis.knLogProb(s, d)),
    // token-budget mixture planner with epoch-capped repetition
    "corpus_budget_mix" -> ((s, d) => CorpusPrep.budgetMix(s, d)),
    // embedding spikiness (L∞) z-score outlier gate
    "emb_outlier_report" -> ((s, d) => Similarity.embSpikeOutliers(s, d)),
    // LLM-pipeline: corpus preparation
    // numShards pinned to 32: the DuckDB oracle hard-codes `doc_id % 32`;
    // the unpinned default derives the count from corpus size
    "corpus_pack_sequences" -> ((s, d) =>
      CorpusPrep.packSequences(s, d, numShards = 32)),
    "corpus_pack_nosplit" -> ((s, d) =>
      CorpusPrep.packSequencesNoSplit(s, d, numShards = 32)),
    "corpus_train_val_split" -> ((s, d) => CorpusPrep.trainValSplit(s, d)),
    // near-dup-cluster-aware split: each doc inherits its cluster
    // representative's split decision, so near-duplicates of val docs
    // cannot sit in train (the leakage the content-hash split misses)
    // the DEFAULT row consumes the persisted component map (see
    // dedup_cluster_decision); the rebuild row times the full clustering
    "corpus_split_leakage_safe" -> ((s, d) => CorpusPrep.leakageSafeSplitStored(s, d)),
    "corpus_split_leakage_rebuild" -> ((s, d) => CorpusPrep.leakageSafeSplit(s, d)),
    "corpus_chunk" -> ((s, d) => CorpusPrep.chunkDocuments(s, d)),
    // padding-waste ladder: the batching-vs-packing decision number
    "corpus_padding_waste" -> (CorpusPrep.paddingWaste _),
    // derandomized T5-style span-corruption layout (manifest, not rewrite)
    "corpus_span_corruption" -> ((s, d) => CorpusPrep.spanCorruptionManifest(s, d)),
    // fill-in-the-middle cut layout at the published ~50% apply rate
    "corpus_fim_manifest" -> ((s, d) => CorpusPrep.fimManifest(s, d)),
    // UL2 mixture-of-denoisers routing (R/X/S at 50/25/25)
    "corpus_denoiser_mix" -> ((s, d) => CorpusPrep.denoiserMix(s, d)),
    // gramWidth pinned to 4 for the registered rows: the synthetic corpus'
    // ~30-word vocabulary makes the published 13-gram convention (the
    // library default) vacuously overlap-free here — width 4 yields a
    // meaningful non-empty contamination set to hash-compare
    "corpus_decontam_report" -> ((s, d) =>
      Decontaminate.contaminationReport(s, d, gramWidth = 4)),
    "corpus_decontaminated" -> ((s, d) =>
      Decontaminate.decontaminate(s, d, gramWidth = 4)),
    // bloom prefilter is a pure pre-prune: result must equal the exact
    // report, so the row reuses its oracle verbatim. The registered row
    // is the STORED-sketch consumer (build-and-persist on first use,
    // artifact reload after) — the production contract; the
    // build-every-time variant stays spec-pinned row-identical to it
    "corpus_decontam_bloom" -> ((s, d) =>
      Decontaminate.contaminationReportBloomStored(s, d, gramWidth = 4)),
    "corpus_stratified_sample" -> ((s, d) =>
      CorpusPrep.stratifiedSample(s, d, StratifiedRates, StratifiedDefaultRate)),
    "corpus_mixture_sample" -> ((s, d) =>
      CorpusPrep.mixtureSample(s, d, MixtureWeights)),
    "corpus_shuffle_order" -> ((s, d) => CorpusPrep.shuffleOrder(s, d)),
    // per-shard reproducibility certificate over the shuffle layout:
    // order-insensitive + order-sensitive xor fingerprints
    "corpus_shard_manifest" -> ((s, d) => CorpusPrep.shardManifest(s, d)),
    // τ=1/2 temperature-balanced language mixture (XLM-R recipe):
    // tail langs up-weighted, deterministic content-hash acceptance
    "corpus_temp_mixture" -> ((s, d) => CorpusPrep.temperatureMixture(s, d)),
    // C4-style cross-doc line dedup (corpus re-lined at 8 tokens/line) and
    // per-source document capping
    "corpus_line_dedup" -> (CorpusPrep.lineDedupRelined _),
    // RefinedWeb-style domain-scoped boilerplate: report + hash-probe scrub
    "corpus_boilerplate_report" -> ((s, d) => CorpusPrep.boilerplateReport(s, d)),
    "corpus_boilerplate_scrub" -> ((s, d) => CorpusPrep.boilerplateScrub(s, d)),
    "corpus_cap_per_source" -> ((s, d) => CorpusPrep.capPerSource(s, d, cap = 10)),
    // per-source weighted sample without replacement (priority sampling:
    // q = n_chars/u, deterministic u from disjoint md5 digits)
    "corpus_weighted_sample" -> ((s, d) => CorpusPrep.weightedSample(s, d)),
    // fuzzy (edit-distance) near-dup pairs: exact-recall length blocking ×
    // prefix/suffix affix keys, Levenshtein verify
    "dedup_fuzzy_lev" -> ((s, d) => Dedup.fuzzyLevPairs(s, d)),
    // fast path (xxhash64 windows): no SQL-expressible oracle, but the
    // spec pins its pair set identical to the oracled md5 twin below
    "dedup_substring_pairs" -> ((s, d) => Dedup.substringSpanPairs(s, d)),
    "dedup_substring_spans" -> ((s, d) => Dedup.substringSpanPairsMd5(s, d)),
    "dedup_substring_components" -> (Cluster.substringComponentsMd5 _),
    // closure over the winnowed pair graph — the substring-components
    // decision at ~2/(w+1) the exploded edge volume
    "dedup_winnow_components" -> (Cluster.winnowComponentsMd5 _),
    // tokenizer training: corpus vocabulary, round-0 BPE pair statistics,
    // the iterative merge trainer (argmax-per-round: spec-pinned, not
    // SQL-expressible), and segmentation under a pinned 4-merge table
    // (oracle replays the greedy fusion as a sentinel replace chain)
    "txt_vocab" -> ((s, d) => Tokenize.vocabulary(s, d)),
    "txt_bpe_pairs" -> ((s, d) => Tokenize.bpePairCounts(s, d)),
    "txt_bpe_merges" -> ((s, d) => Tokenize.bpeTrainMerges(s, d)),
    "txt_bpe_segment" -> ((s, d) =>
      Tokenize.bpeSegmentCounts(s, d, PinnedBpeMerges)),
    // per-source fertility (BPE tokens per word, chars per token)
    "txt_tokenizer_fertility" -> ((s, d) =>
      Tokenize.fertilityBySource(s, d, PinnedBpeMerges)),
    // embedding centroids (average pooling) via the typed vector
    // aggregator; registered exploded to (label, pos, val) rows
    "emb_centroids" -> (VectorCentroidAggregator.perLabelExploded _),
    // end-to-end curation: dedup -> quality floor -> per-source cap, with
    // the per-document decision trail and the per-source funnel report
    "corpus_curation_decisions" -> ((s, d) => Curate.decisions(s, d)),
    // flagship composition: curate -> decontaminate -> shuffle -> pack in
    // one lineage (gramWidth 4 for the same non-vacuous-overlap reason as
    // the decontam rows)
    "corpus_curate_pack" -> ((s, d) => Curate.curateThenPack(s, d, gramWidth = 4)),
    // the batch-arrival sibling: per incoming doc, the full gate trail
    // (exact dup -> near dup -> contamination -> quality) with the first
    // failing reason — the decision row a continuous-ingest loop audits
    // the DEFAULT row gates against the persisted artifacts (the
    // stored-default convention); the rebuild row re-derives the corpus
    // inputs per call — row-identical, one oracle
    "corpus_ingest_decisions" -> ((s, d) => Curate.ingestDecisionsStored(s, d, gramWidth = 4)),
    "corpus_ingest_rebuild" -> ((s, d) => Curate.ingestDecisions(s, d, gramWidth = 4)),
    "corpus_curated" -> ((s, d) => Curate.curatedCorpus(s, d)),
    "corpus_curation_report" -> ((s, d) => Curate.report(s, d)),
    "corpus_quality_quantile" -> ((s, d) => Curate.qualityQuantileFilter(s, d)),
    // Z-order layout: Morton codes over (partkey, suppkey) — the
    // projection the re-layout sorts on; pruning benefit is spec-measured
    "zorder_values" -> (Layout.zOrderValues _),
    // Hilbert curve indices over the same 2-D key — the no-diagonal-jump
    // clustering curve, 16 chained integer-exact projections
    "hilbert_values" -> (Layout.hilbertValues _),
    // snapshot maintenance: CDC diff + latest-wins upsert (SCD-1 merge)
    "snapshot_diff" -> (Snapshot.ordersSnapshotDiff _),
    "snapshot_apply" -> (Snapshot.ordersSnapshotApply _),
    // SCD type-2 history: consecutive distinct states -> validity spans,
    // one key-partitioned exchange for both window passes
    "snapshot_scd2" -> (Snapshot.eventsScd2History _),
    // incremental SCD-2: extend the persisted span table with a batch,
    // emitting exactly the delta (closed open-spans + new spans)
    "snapshot_scd2_incremental" -> (Snapshot.eventsScd2Incremental _),
    // point-in-time lookup against the persisted span table (serve path:
    // broadcast 3-instant probe, the history never moves)
    "snapshot_scd2_asof" -> (Snapshot.eventsScd2AsOf _),
    "upsert_latest" -> (Snapshot.eventsUpsertLatest _),
    // cohort retention matrix + per-cohort volume contribution (one
    // per-user exchange each; sizes/totals broadcast back)
    "events_retention" -> (Events.retention _),
    // incremental retention: persisted compact state (first-touch +
    // distinct activity) extended by the batch, emitting changed cells
    "events_retention_incremental" -> (Events.retentionIncremental _),
    "events_cohort_volume" -> (Events.cohortVolume _),
    // data-quality expectation report: FK orphans, PK dups, null
    // contracts, ranges, derived-column consistency -- one row per check
    "dq_report" -> (DataQuality.dqReport _),
    // RLHF-style (chosen, rejected) pair per user from event values
    "events_preference_pairs" -> (Events.preferencePairs _),
    // Bradley-Terry MM fit of item strengths over capped per-user
    // preference comparisons -- fixed-point loop, hash-exact oracle
    "events_bt_ratings" -> ((s, d) => Events.btRatings(s, d)),
    // exponentially-decayed item popularity (half-life quantized to
    // whole periods: exact power-of-two fixed-point contributions)
    "events_trending" -> ((s, d) => Events.trendingItems(s, d)),
    // batch-extend the persisted (item, day) count state and re-rank --
    // oracle is the FROM-SCRATCH query: hash match proves equivalence
    "events_trending_incremental" -> ((s, d) => Events.trendingIncremental(s, d)),
    // two-sample experiment readout (parity assignment stand-in): exact
    // sufficient statistics, one pinned z/t chain, FLOAT emits
    "events_ab_test" -> (Events.abTestReport _),
    // CUSUM change-point scan on daily volume: day-count-scaled integer
    // deviations, argmax flag (earliest day on ties)
    "events_cusum" -> (Events.cusumDailyVolume _),
    // semantic dedup (SemDeDup shape: k-means cells, then within-cell
    // cosine) and JL random projection over the embedding corpus
    "dedup_semantic" -> ((s, d) => Similarity.semDedupDecisions(s, d)),
    // registered exploded (vec_id, pos, val): float values compare
    // numerically; an array-of-float column would need string formatting
    // that the two engines render differently
    "emb_project" -> ((s, d) => Similarity.randomProjection(s, d)
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("pos", "val")))),
    // top principal component: one-pass fixed-point moments, bounded
    // driver power iteration (oracle replays moments + every round)
    "emb_pca_component" -> (Pca.componentTable _),
    // per-vector PC1 score — map-side centered dot with literal arrays
    "emb_pca_project" -> (Pca.project _),
    // LLM-pipeline: multimodal. (The normalized-float mm_features row
    // was retired in round 16: its integer twin mm_features_fix carries
    // the oracle, and the float presentation lives on as a spec
    // assertion — see Round16OpsSpec — instead of a pinned no_oracle
    // registry exception.)
    "mm_binary_meta" -> (Multimodal.binaryMeta _),
    "mm_frames" -> (Multimodal.frameQuery _),
    "mm_dims" -> (Multimodal.dimsQuery _),
    // content volume off the real container bytes: pixels for images,
    // sample frames + duration for audio (two-chunk RIFF walk: fmt's
    // byte_rate/block_align AND the data chunk's size)
    "mm_extent" -> (Multimodal.extentQuery _),
    // cross-format content dedup: extract the data section from the
    // real container bytes, md5-fingerprint, group across fmts
    "mm_content_dedup" -> (Multimodal.contentDedup _),
    "mm_features_hist" -> (Multimodal.featureHistQuery _),
    // the segmented fixed-point face the near-dup family joins on:
    // per-segment mean byte value, pure-integer fix — hash-pinned
    // end-to-end against the DuckDB hex byte walk
    "mm_face_segments" -> (Multimodal.faceSegmentsQuery _),
    // the 60-bit shingle-simhash media fingerprint itself, hash-pinned
    // against the DuckDB hex/md5/majority replay
    "mm_fingerprint" -> ((s, d) => Multimodal.fingerprintQuery(s, d, HashFamily.Md5)),
    // the xxhash64 production fast path of the fingerprint (rows-only:
    // DuckDB cannot replay xxhash64; Round17OpsSpec pins its near-dup
    // pair set EXACTLY equal to the oracled md5 face's on the spec
    // corpus, and the xN probe bounds the corpus-scale divergence to
    // Hamming-boundary pairs — the dedup_minhash_pairs twin convention)
    "mm_fingerprint_fast" -> ((s, d) => Multimodal.fingerprintQuery(s, d, HashFamily.Xx)),
    // near-dup over the media fingerprint: same byte size up to a small
    // window, Hamming ≤ 7 on the 60-bit simhash, segment-face L1 as the
    // retained secondary check; candidates from the lossless 4×15-bit
    // band-plus-flip blocking; the oracle is the NAIVE all-pairs
    // definition, so the hash match re-proves the blocking lossless
    // every round
    "mm_neardup_pairs" -> ((s, d) => Multimodal.nearDupPairs(s, d, HashFamily.Md5)),
    // the fast family's SERVE surface (r18): pairs and the full
    // dedup decision over the xxhash64 face — rows-only under the
    // mm_fingerprint_fast justification (DuckDB cannot replay
    // xxhash64); Round18OpsSpec pins both frames IDENTICAL to their
    // Md5-family rows on the spec corpus, MmScaleProbe bounds the
    // xN divergence to the characterized margin band
    "mm_neardup_pairs_fast" -> ((s, d) => Multimodal.nearDupPairs(s, d, HashFamily.Xx)),
    "mm_dedup_decision_fast" -> ((s, d) => Multimodal.nearDupDecision(s, d, HashFamily.Xx)),
    // components over the media pair graph + the media-specific keep
    // rule (highest fidelity read off the REAL parsed headers —
    // width×height / sample_rate×channels — ties to lowest id);
    // oracle = naive pairs into a recursive-CTE closure with the
    // analytic fidelity
    "mm_dedup_decision" -> ((s, d) => Multimodal.nearDupDecision(s, d, HashFamily.Md5)),
    // the %10 batch carve vs the corpus slice: best corpus match within
    // all three windows (smallest Hamming, then L1, then id) or is_new
    "mm_incremental_neardup" -> ((s, d) => Multimodal.incrementalNearDup(s, d)),
    // the same verdicts served from the PERSISTED corpus fingerprint
    // face (self-priming): repeat batches decode only themselves — the
    // production serve shape at 100 TB
    "mm_incremental_stored" -> ((s, d) => Multimodal.incrementalNearDupStored(s, d)),
    // media decontamination: eval media (the %10==7 carve) fingerprint-
    // banded + broadcast, corpus map-only; flagged corpus media with
    // their best eval match — anti-join = the decontaminated corpus
    "mm_decontam" -> ((s, d) => Multimodal.decontamReport(s, d)),
    // the same decontam report served from the PERSISTED fingerprint
    // face (self-priming): repeat sweeps read one thin row per media —
    // no payload ever decodes or fingerprints on the serve path
    "mm_decontam_stored" -> ((s, d) => Multimodal.decontamReportStored(s, d)),
    // the media Gopher battery: parse validity, resolution/aspect
    // bounds, rate floor, duration flag, content byte-dominance — all
    // map-side off the real container walks
    "mm_quality_rules" -> (Multimodal.qualityRules _),
    // the capstone curation trail: eval_holdout > contaminated >
    // quality_fail > near_dup > kept, every drop auditable
    "mm_curation_decisions" -> ((s, d) => Multimodal.curationDecisions(s, d)),
    // the capstone served from BOTH persisted faces (fingerprint +
    // container audit): a re-curation sweep decodes zero payloads
    "mm_curation_stored" -> ((s, d) => Multimodal.curationDecisionsStored(s, d)),
    // the per-batch ADMISSION gate: each %10==0 arrival audited against
    // the standing corpus + eval faces (contaminated > quality_fail >
    // near_dup > new); batch payloads decode once, indexes never
    // reshuffle on account of the batch
    "mm_ingest_decisions" -> ((s, d) => Multimodal.ingestDecisions(s, d)),
    // the admission gate served from the persisted face: the per-batch
    // hot path decodes only the batch — corpus/eval indexes read stored
    "mm_ingest_stored" -> ((s, d) => Multimodal.ingestDecisionsStored(s, d)),
    // cross-format content NEAR-dup: the fingerprint face over the
    // extracted content bytes with fmt NOT a blocking dimension — a
    // re-containered near-identical media pairs across PNG/JPEG/WAV/MP4
    "mm_content_neardup" -> ((s, d) => Multimodal.contentNearDupPairs(s, d)),
    // the cross-format dedup DECISION over the content pair graph:
    // components span container formats; keep = highest-fidelity
    // container of the content (pixels / rate×channels off the real
    // header parse), ties to lowest id
    "mm_content_decision" -> ((s, d) => Multimodal.contentNearDupDecision(s, d)),
    // the float feature VECTOR itself, fixed-pointed (ratio is an exact
    // single-precision divide of two small ints on both engines): closes
    // the one no_oracle row whose machinery wasn't hash-pinned end-to-end
    "mm_features_fix" -> ((s, d) =>
      Multimodal.featureQuery(s, d)
        .select(col("media_id"), col("kind"),
          posexplode(col("features")).as(Seq("bin", "ratio")))
        .filter(col("ratio") > 0f)
        .select(col("media_id"), col("kind"), col("bin").cast("int").as("bin"),
          round(col("ratio").cast("double") * lit(1000000.0), 0)
            .cast("long").as("ffix"))
        .orderBy("media_id", "bin")),
  )

  /** DuckDB oracles (driver runs these on the same parquet tables). Queries
    * whose semantics are not ANSI-SQL-expressible (LSH/banding internals,
    * xxhash64 fingerprints, the mapPartitions feature stub, the PlayStore
    * pipelines over the reference CSV) are intentionally omitted → the
    * driver records a rows-only check; their semantics are covered by
    * ScalaTest golden/unit specs instead.
    */
  /** Shared CTE for the LSH oracles: per-vector packed (band << 32 | bucket)
    * keys with the SAME deterministic hyperplanes the Spark expression uses,
    * inlined as SQL literals (double literals round-trip exactly, and both
    * engines fold the inner product over doubles, so the sign — and with it
    * the bucketing — agrees).
    */
  private def lshBucketKeysSql(bands: Int = 4, planesPerBand: Int = 8, dim: Int = 64): String = {
    val bandExprs = (0 until bands).map { b =>
      val planes = graft.operators.Similarity.hyperplanes(planesPerBand, dim, b + 1L)
      val bits = planes.zipWithIndex.map { case (p, i) =>
        val planeLit = p.mkString("[", ", ", "]")
        s"(CASE WHEN list_inner_product(v, $planeLit) > 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString(" + ")
      s"CAST(${b.toLong << 32} + ($bits) AS BIGINT)"
    }.mkString("[", ", ", "]")
    s"""WITH v0 AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        bb AS (
          SELECT vec_id, unnest($bandExprs) AS bucket_key
          FROM v0)"""
  }

  /** Oracle for the md5 minhash twin: the affine permutation family is
    * replayed in HUGEINT arithmetic — u = ((h·mul + add) mod 2^64) mapped
    * back to signed — reproducing Java's wraparound long mixing exactly;
    * the mixer constants come from the same generator the native
    * expression uses.
    */
  /** Shared CTE chain of the md5-minhash oracles: shingling, HUGEINT
    * affine permutation minima, and banding, up to the `bb`
    * (doc_id, band_key) frame the candidate joins read.
    */
  private def minHashMd5BaseSql(
      numPerms: Int,
      bands: Int,
      tokenFeatures: Boolean = false): String = {
    val mix = graft.functions.MinHashSigExpr.mixers(numPerms)
    val muls = mix.map(_._1).mkString("[", ", ", "]")
    val adds = mix.map(_._2).mkString("[", ", ", "]")
    val rows = numPerms / bands
    val bandExprs = (0 until bands).map { b =>
      val elems = (b * rows until (b + 1) * rows).map(j => s"sig[${j + 1}]").mkString(", ")
      s"""('0x' || substr(md5(concat_ws(',', $b, $elems)), 1, 15))::BIGINT"""
    }.mkString("[", ", ", "]")
    // feature choice mirrors Dedup: 3-word shingles for the dedup rows,
    // distinct unigrams for the decontam gate (minHashBandedTokensMd5From)
    val shCte =
      if (tokenFeatures) "SELECT doc_id, list_distinct(toks) AS shingles FROM doc"
      else """SELECT doc_id,
                 CASE WHEN len(toks) >= 3
                      THEN list_transform(range(len(toks) - 2),
                             i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
                      ELSE [text] END AS shingles
          FROM doc"""
    s"""WITH doc AS (
          SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        sh AS ($shCte),
        hs AS (
          SELECT doc_id,
                 list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
          FROM sh),
        sig AS (
          SELECT doc_id,
                 list_transform(range($numPerms), j ->
                   CAST(list_min(list_transform(hs, h ->
                     ((((CAST(h AS HUGEINT) * ($muls)[j + 1] + ($adds)[j + 1])
                        % 18446744073709551616) + 18446744073709551616 + 9223372036854775808)
                        % 18446744073709551616) - 9223372036854775808)) AS BIGINT)) AS sig
          FROM hs),
        bb AS (
          SELECT doc_id, unnest($bandExprs) AS band_key FROM sig)"""
  }

  private def minHashMd5OracleSql(numPerms: Int = 32, bands: Int = 8): String =
    s"""${minHashMd5BaseSql(numPerms, bands)},
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bb a JOIN bb b USING (band_key) WHERE a.doc_id < b.doc_id),
        ts AS (
          SELECT doc_id, list_distinct(string_split(text, ' ')) AS tokset FROM documents),
        jac AS (
          SELECT doc_a, doc_b,
                 CAST(len(list_intersect(ta.tokset, tb.tokset)) AS DOUBLE)
                   / len(list_distinct(list_concat(ta.tokset, tb.tokset))) AS jaccard
          FROM cand JOIN ts ta ON cand.doc_a = ta.doc_id
                    JOIN ts tb ON cand.doc_b = tb.doc_id)
        SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.5
        ORDER BY doc_a, doc_b"""

  /** Incremental minhash verdict oracle: batch (doc_id % 10 = 0) banded
    * against the corpus slice, exact-Jaccard verified, best match per
    * batch doc (jaccard desc, corpus_id asc), null-padded for admits.
    */
  private def minHashIncrementalOracleSql(numPerms: Int = 32, bands: Int = 8): String =
    s"""${minHashMd5BaseSql(numPerms, bands)},
        cand AS (
          SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
          FROM bb a JOIN bb b USING (band_key)
          WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
        ts AS (
          SELECT doc_id, list_distinct(string_split(text, ' ')) AS tokset FROM documents),
        jac AS (
          SELECT batch_id, corpus_id,
                 CAST(len(list_intersect(ta.tokset, tb.tokset)) AS DOUBLE)
                   / len(list_distinct(list_concat(ta.tokset, tb.tokset))) AS jaccard
          FROM cand JOIN ts ta ON cand.batch_id = ta.doc_id
                    JOIN ts tb ON cand.corpus_id = tb.doc_id),
        best AS (
          SELECT batch_id, corpus_id, jaccard,
                 row_number() OVER (PARTITION BY batch_id
                   ORDER BY jaccard DESC, corpus_id) AS rn
          FROM jac WHERE jaccard >= 0.5)
        SELECT d.doc_id, b.corpus_id IS NULL AS is_new,
               b.corpus_id AS dup_of, b.jaccard
        FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
        LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.batch_id
        ORDER BY d.doc_id"""

  /** Sampling configs shared between the registered queries and their
    * oracles — one definition, so the Spark CASE thresholds and the SQL
    * CASE literals cannot drift.
    */
  private val StratifiedRates = Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25)
  private val StratifiedDefaultRate = 0.1
  private val MixtureWeights = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)

  /** Pinned merge table for the registered segmentation row: the corpus'
    * four most frequent character pairs, in rank order. Pinned (like the
    * LSH planes) so the oracle can replay the greedy fusion as a
    * sentinel-character replace chain; the data-derived merge sequence is
    * what [[Tokenize.bpeTrainMerges]] computes and its spec pins.
    */
  private val PinnedBpeMerges: Seq[(String, String)] =
    Seq("e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r")

  /** [[PinnedBpeMerges]] as a DuckDB sentinel replace chain over `w`: each
    * merged pair collapses to one control character (chr(1)..), so the
    * remaining string length IS the greedy-BPE token count. Leftmost
    * non-overlapping `replace` is exactly the fold
    * [[Tokenize.bpeSegmentCounts]] runs — the oracle cross-checks that
    * equivalence, not just the arithmetic.
    */
  private def bpeReplaceChainSql: String =
    PinnedBpeMerges.zipWithIndex.foldLeft("w") {
      case (acc, ((l, r), i)) => s"replace($acc, '$l$r', chr(${i + 1}))"
    }

  /** DuckDB replay of [[graft.functions.TextAnalysis.wsTokens]]: split on
    * \s+ and DROP empty tokens, mirroring the engine's
    * phantom-leading-token filter — identical by construction, not by
    * fixture luck (the fixture carries no leading whitespace, so hashes
    * were green either way; this pins them green under testdata drift).
    */
  private def wsToksSql(textExpr: String): String =
    s"list_filter(string_split_regex($textExpr, '\\s+'), t -> t <> '')"

  /** Stopword-hit count replaying the engine's lower()-then-membership
    * probe ([[graft.functions.TextAnalysis.qualityScoreCol]]) — same
    * identical-by-construction contract as [[wsToksSql]] (the fixture is
    * all-lowercase, so case-sensitive membership happened to agree).
    */
  private def stopHitsSql(toksExpr: String): String =
    s"len(list_filter($toksExpr, t -> lower(t) IN " +
      "('the','a','of','and','to','in','is','it','for','on','with')))"

  /** The blended quality score replayed over a raw documents row —
    * [[graft.functions.TextAnalysis.qualityScoreCol]] with the engine's
    * empty-token filter and lowercased stopword probe mirrored in
    * ([[wsToksSql]]/[[stopHitsSql]]).
    */
  private def qualityScoreSql: String =
    s"""LEAST(1.0,
          (CAST(${stopHitsSql(wsToksSql("text"))} AS DOUBLE)
            / len(${wsToksSql("text")})) * 2.0
          + CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 0.5 ELSE 0.0 END)"""

  /** Shared CTE chain for the curation oracles: quality score, canonical
    * flag (first doc_id per identical text), quality flag, and the
    * capped `keep` decision — the same pinned stage order as
    * [[Curate.decisions]] (minQuality 0.6, cap 12).
    */
  private def curationFlagsSql: String =
    s"""WITH t AS (
         SELECT doc_id, source, lang, n_chars, text,
                ${wsToksSql("text")} AS toks,
                ('0x' || substr(md5(text), 17, 8))::BIGINT AS pick_key
         FROM documents),
       q AS (
         SELECT doc_id, source, lang, n_chars, text, pick_key,
                LEAST(1.0,
                  (CAST(${stopHitsSql("toks")} AS DOUBLE)
                    / len(toks)) * 2.0
                  + CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 0.5 ELSE 0.0 END) AS quality_score
         FROM t),
       f AS (
         SELECT *,
                CASE WHEN row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
                     THEN 1 ELSE 0 END AS is_canonical,
                CASE WHEN quality_score >= 0.6 THEN 1 ELSE 0 END AS passes_quality
         FROM q),
       h AS (
         SELECT *,
                CASE WHEN is_canonical * passes_quality = 1
                      AND row_number() OVER (PARTITION BY source
                            ORDER BY is_canonical * passes_quality DESC, pick_key, doc_id) <= 12
                     THEN 1 ELSE 0 END AS keep
         FROM f)"""

  /** Shared CTEs for the decontamination oracles: per-doc distinct width-4
    * grams (RAW strings — the Spark side joins on xxhash64 of the same
    * grams; a collision could only add a doc to the report, and the
    * hash-compare against this string-exact oracle proves none occurred)
    * and the distinct eval-set grams.
    */
  private def decontamGramsSql: String =
    """WITH d AS (
         SELECT doc_id, lang, source, n_chars, string_split(text, ' ') AS toks,
                ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS bucket
         FROM documents),
       g AS (
         SELECT DISTINCT doc_id, bucket,
                array_to_string(list_slice(toks, i.i, i.i + 3), ' ') AS gram
         FROM d, unnest(range(1, greatest(len(toks) - 3, 1) + 1)) AS i(i)),
       ev AS (SELECT DISTINCT gram FROM g WHERE bucket >= 95)"""

  /** Exact decimal expansion of a double, wrapped for SQL: round-trips to
    * the bit-identical double in any engine with correctly-rounded decimal
    * parsing (both JVM and DuckDB are), so a Scala constant and its SQL
    * literal cannot drift.
    */
  private def doubleLit(d: Double): String =
    s"CAST('${new java.math.BigDecimal(d).toString}' AS DOUBLE)"

  private def ddGammaSql: String = doubleLit(Relational.DdGamma)
  private def ddGammaP1Sql: String = doubleLit(Relational.DdGamma + 1.0)

  /** Shared oracle prefix for the DDSketch rows: the γ-log bucket table
    * (event_type, sign, bucket, cnt) with the SAME float-frozen ln(γ)
    * divisor and float-washed ln(x) the Spark plan uses — bucket indices
    * are integer ceilings of bit-identical doubles, exact on both engines.
    */
  private def ddBucketsSql: String =
    s"""WITH e AS (SELECT event_type, value FROM events
           WHERE value IS NOT NULL AND NOT isnan(value)),
         b AS (SELECT event_type,
                 CASE WHEN value > 0 THEN 1 WHEN value < 0 THEN -1 ELSE 0 END AS sign,
                 CASE WHEN value = 0 THEN 0
                      ELSE CAST(ceil(CAST(CAST(ln(abs(value)) AS FLOAT) AS DOUBLE)
                                     / ${doubleLit(Relational.DdLnGamma)}) AS BIGINT)
                 END AS bucket
               FROM e),
         g AS (SELECT event_type, sign, bucket, COUNT(*) AS cnt
               FROM b GROUP BY event_type, sign, bucket)"""

  /** CASE over [[StratifiedRates]] emitting the same floor(rate * 2^32)
    * BIGINT thresholds the Spark plan compares against.
    */
  private def stratifiedCaseSql: String = {
    val arms = StratifiedRates.toSeq.sortBy(_._1).map { case (k, r) =>
      s"WHEN '$k' THEN ${CorpusPrep.threshold32(r)}"
    }.mkString(" ")
    s"CASE lang $arms ELSE ${CorpusPrep.threshold32(StratifiedDefaultRate)} END"
  }

  /** CASE over [[MixtureWeights]] as DOUBLE-cast literals (a bare 0.3 is
    * DECIMAL in DuckDB — decimal arithmetic would diverge from Spark's
    * double rate computation).
    */
  private def mixtureWeightCaseSql: String = {
    val arms = MixtureWeights.toSeq.sortBy(_._1).map { case (k, w) =>
      s"WHEN '$k' THEN CAST($w AS DOUBLE)"
    }.mkString(" ")
    s"CASE source $arms END"
  }

  /** CTE chain replaying the winnowing selection
    * ([[graft.functions.TextAnalysis.winnowFingerprintFrame]]): k-gram
    * md5-prefix hashes, list_min per w-window slice, distinct — ends
    * with `wf` = (doc_id, fps LIST<BIGINT>). Slice clamping past the
    * list end matches Spark's `slice` truncation, so the short-doc
    * fallbacks (whole token list as one gram / one whole-list window)
    * agree by construction.
    */
  private def winnowBaseSql(
      k: Int = 3,
      w: Int = 4,
      recursive: Boolean = false): String =
    s"""WITH ${if (recursive) "RECURSIVE " else ""}wdoc AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        wg AS (
          SELECT doc_id,
                 list_transform(range(greatest(len(toks) - ${k - 1}, 1)),
                   i -> ('0x' || substr(md5(array_to_string(list_slice(toks, i + 1, i + $k), ' ')), 1, 15))::BIGINT) AS gh
          FROM wdoc),
        wf AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(greatest(len(gh) - ${w - 1}, 1)),
                   i -> list_min(list_slice(gh, i + 1, i + $w)))) AS fps
          FROM wg)"""

  /** CTE chain replaying [[graft.operators.Similarity.kmeansCodebook]]'s
    * Lloyd's iterations in SQL: literal-free — init centroids are the
    * vec_id < k corpus rows, per-dimension sums are the same
    * round(x * 1e6) fixed-point longs the Spark trainer accumulates
    * (order-independent, so the two engines' centroids are bit-identical
    * doubles), assignment ties break toward the lowest cid on FLOAT-cast
    * cosine in both engines. Ends with `cent$iters` = (cid, cv).
    */
  /** GREATEST(16, ceil(sqrt(N))) over the embedding corpus — the SQL
    * twin of Similarity.adaptiveNlist (both engines compute nlist from
    * the same count, so the adaptive rows stay hash-green by
    * construction).
    */
  private val adaptiveNlistSql: String =
    "(SELECT GREATEST(16, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) FROM v0)"

  /** max(4, nlist / 8) — the SQL twin of Similarity.adaptiveNprobe. */
  private val adaptiveNprobeSql: String =
    "(SELECT GREATEST(4, GREATEST(16, CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) // 8) FROM v0)"

  private def kmeansCentroidsSql(
      k: Int = 16,
      iters: Int = 2,
      kExpr: String = ""): String = {
    val kSql = if (kExpr.nonEmpty) kExpr else k.toString
    val iterCtes = (1 to iters).map { i =>
      s"""assign$i AS (
           SELECT vec_id, v, cid FROM (
             SELECT e.vec_id, e.v, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM v0 e CROSS JOIN cent${i - 1} c) WHERE rn = 1),
         sums$i AS (
           SELECT cid, t.pos, SUM(CAST(round(v[t.pos + 1] * 1000000.0) AS BIGINT)) AS s,
                  COUNT(*) AS n
           FROM assign$i, unnest(range(len(v))) AS t(pos)
           GROUP BY cid, t.pos),
         cent$i AS (
           SELECT cid, list(CAST(s AS DOUBLE) / (n * 1000000.0) ORDER BY pos) AS cv
           FROM sums$i GROUP BY cid)"""
    }.mkString(",\n")
    s"""WITH v0 AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        cent0 AS (SELECT vec_id AS cid, v AS cv FROM v0 WHERE vec_id < $kSql),
        $iterCtes"""
  }

  /** Oracle for the IVF margin rows at a given pair `budget` — same
    * margin algebra over IVF-cell-bounded candidates: the
    * trained-centroid CTEs replay the Lloyd iterations (nlist and nprobe
    * computed from COUNT(*) exactly as the Scala adaptive rule),
    * assignment and probes use the float-washed argmax windows, and past
    * the budget the PROBE SRC side thins by the same deterministic md5
    * split as the Spark side (identical salt and double op order) with
    * the volume measured as the per-cell product sum — before any pair
    * materializes, exactly as the Spark plan does. `srcp`/`tgtc`/`sims`
    * are MATERIALIZED: each is referenced more than once and carries
    * the whole kmeans lineage — inlined, DuckDB would replay the Lloyd
    * iterations per reference.
    */
  private def marginIvfOracleSql(budget: Long): String =
    s"""${kmeansCentroidsSql(iters = 2, kExpr = adaptiveNlistSql)},
       sides AS (
         SELECT e.vec_id, e.v, d.lang = 'en' AS is_en
         FROM v0 e JOIN documents d ON e.vec_id = d.doc_id),
       assign AS (
         SELECT vec_id, v, cid, is_en FROM (
           SELECT s.vec_id, s.v, s.is_en, c.cid,
                  row_number() OVER (PARTITION BY s.vec_id
                    ORDER BY CAST(list_cosine_similarity(s.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
           FROM sides s CROSS JOIN cent2 c) WHERE rn = 1),
       probes AS (
         SELECT vec_id, v, is_en, cid FROM (
           SELECT s.vec_id, s.v, s.is_en, c.cid,
                  row_number() OVER (PARTITION BY s.vec_id
                    ORDER BY CAST(list_cosine_similarity(s.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
           FROM sides s CROSS JOIN cent2 c) WHERE rn <= $adaptiveNprobeSql),
       srcp AS MATERIALIZED (
         SELECT vec_id AS src_id, cid FROM probes WHERE is_en),
       tgtc AS MATERIALIZED (
         SELECT vec_id AS tgt_id, cid FROM assign WHERE NOT is_en),
       vol AS (
         SELECT CAST(COALESCE(SUM(ns * nt), 0) AS BIGINT) AS np
         FROM (SELECT cid, COUNT(*) AS ns FROM srcp GROUP BY cid) s
         JOIN (SELECT cid, COUNT(*) AS nt FROM tgtc GROUP BY cid) t USING (cid)),
       capped_src AS (
         -- GREATEST guard: np = 0 (no overlapping cells) satisfies the
         -- first disjunct, but DuckDB's vectorized OR still evaluates the
         -- division arm — keep its denominator nonzero
         SELECT srcp.src_id, srcp.cid FROM srcp, vol
         WHERE np <= $budget
            OR ('0x' || substr(md5(CAST(src_id AS VARCHAR) || '|margin_cap'), 1, 8))::BIGINT
               < CAST(floor(CAST($budget AS DOUBLE) / CAST(GREATEST(np, 1) AS DOUBLE)
                            * 4294967296.0) AS BIGINT)),
       sims AS MATERIALIZED (
         SELECT c.src_id, c.tgt_id,
                CAST(list_cosine_similarity(sv.v, tv.v) AS FLOAT) AS sim
         FROM (SELECT DISTINCT p.src_id, a.tgt_id
               FROM capped_src p JOIN tgtc a USING (cid)) c
         JOIN v0 sv ON c.src_id = sv.vec_id
         JOIN v0 tv ON c.tgt_id = tv.vec_id),
       fwd AS (
         SELECT src_id, tgt_id, sim,
                row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, tgt_id) AS rn
         FROM sims QUALIFY rn <= 4),
       fwd_avg AS (
         SELECT src_id,
                CAST(sum(CAST(round(CAST(sim AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS x_avg_fp
         FROM fwd GROUP BY src_id),
       bwd_avg AS (
         SELECT tgt_id,
                CAST(sum(CAST(round(CAST(sim AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS y_avg_fp
         FROM (SELECT src_id, tgt_id, sim,
                      row_number() OVER (PARTITION BY tgt_id ORDER BY sim DESC, src_id) AS rn
               FROM sims QUALIFY rn <= 4)
         GROUP BY tgt_id)
       SELECT src_id, tgt_id, sim, margin FROM (
         SELECT f.src_id, f.tgt_id, f.sim,
                CAST(CAST(f.sim AS DOUBLE)
                     / (((x_avg_fp + y_avg_fp) / 2.0) / 1000000.0) AS FLOAT) AS margin
         FROM (SELECT src_id, tgt_id, sim FROM fwd WHERE rn = 1) f
         JOIN fwd_avg USING (src_id) JOIN bwd_avg USING (tgt_id))
       WHERE margin >= 1.0 ORDER BY src_id"""

  /** Oracle prefix replaying the PQ trainer per subvector slice: the same
    * fixed-point Lloyd iteration as [[kmeansCentroidsSql]] but over
    * `list_slice` subvectors under the inner-product assignment metric,
    * ending per sub `s` in `bookS` (code, cv) with dense 0-based codes in
    * cid order, and `pickS` (vec_id, code) — the encode. Tie-break
    * everywhere: float-cast sim DESC then code ASC = Spark's first-max
    * position.
    */
  /** PQ geometry shared by the Spark defaults and the oracle generators. */
  private val PqNumSub = 8

  private def pqBooksCtesSql(
      numSub: Int = PqNumSub,
      k: Int = 16,
      iters: Int = 1,
      dim: Int = 64,
      src: String = "v0"): String = {
    require(iters == 1, "oracle generator emits the fixed 1-iteration form")
    val subDim = dim / numSub
    val subCtes = (0 until numSub).map { s =>
      val off = s * subDim
      s"""sv$s AS (
           SELECT vec_id, list_slice(v, ${off + 1}, ${off + subDim}) AS sv
           FROM $src),
         cent${s}_0 AS (SELECT vec_id AS cid, sv AS cv FROM sv$s WHERE vec_id < $k),
         assign${s}_1 AS (
           SELECT vec_id, sv, cid FROM (
             SELECT e.vec_id, e.sv, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY CAST(list_inner_product(e.sv, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM sv$s e CROSS JOIN cent${s}_0 c) WHERE rn = 1),
         sums${s}_1 AS (
           SELECT cid, t.pos, SUM(CAST(round(sv[t.pos + 1] * 1000000.0) AS BIGINT)) AS s,
                  COUNT(*) AS n
           FROM assign${s}_1, unnest(range(len(sv))) AS t(pos)
           GROUP BY cid, t.pos),
         cent${s}_1 AS (
           SELECT cid, list(CAST(s AS DOUBLE) / (n * 1000000.0) ORDER BY pos) AS cv
           FROM sums${s}_1 GROUP BY cid),
         book$s AS (
           SELECT CAST(row_number() OVER (ORDER BY cid) - 1 AS INT) AS code, cv
           FROM cent${s}_1),
         pick$s AS (
           SELECT vec_id, code FROM (
             SELECT e.vec_id, b.code,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY CAST(list_inner_product(e.sv, b.cv) AS FLOAT) DESC, b.code) AS rn
             FROM sv$s e CROSS JOIN book$s b) WHERE rn = 1)"""
    }.mkString(",\n")
    subCtes
  }

  /** [[pqBooksCtesSql]] wrapped with the standard `v0` corpus prefix. */
  private def pqBooksSql(
      numSub: Int = PqNumSub,
      k: Int = 16,
      iters: Int = 1,
      dim: Int = 64): String =
    s"""WITH v0 AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        ${pqBooksCtesSql(numSub, k, iters, dim)}"""

  /** The pinned JL projection as a DuckDB list expression: float-cast
    * inner products against the same ±1/√k literal rows the Spark query
    * multiplies by (single source: [[Similarity.projectionMatrix]], so the
    * two engines cannot drift).
    */
  private def embProjectionListSql(outDims: Int = 16, dim: Int = 64): String =
    Similarity.projectionMatrix(outDims, dim)
      .map(row => s"CAST(list_inner_product(v, ${row.mkString("[", ", ", "]")}) AS FLOAT)")
      .mkString("[", ",\n             ", "]")

  /** Shared oracle prefix for the near-dup clustering rows: replays the
    * md5-simhash pair pipeline (same CTEs as the `dedup_simhash_md5`
    * oracle), then closes the pair graph transitively with a recursive CTE
    * and labels every document with its component minimum (`base`:
    * doc_id, component_id). The recursive closure is the ORACLE shape —
    * tractable at verify scale; the distributed shape is the
    * large-star/small-star contraction in `operators/Cluster.scala`.
    */
  /** Shared oracle prefix for the logistic-regression quality model:
    * the feature frame (Gopher label + exact-ratio features, all
    * integer-count divisions) and `iters` unrolled full-batch GD steps
    * with the same fixed-point gradient accumulation the Spark trainer
    * uses. The HARD sigmoid keeps every arithmetic step an exact or
    * correctly-rounded IEEE primitive (no libm transcendental — see
    * QualityModel's determinism note), so the weights are bit-identical
    * across engines. Ends with `w$iters` = (wa, wb, wc, wd); `f` stays
    * in scope for scoring.
    */
  private def lrGdSql(iters: Int = 3): String = {
    val head =
      """WITH f AS (
           SELECT doc_id,
                  CAST(CAST((CAST(len(toks) AS BIGINT) BETWEEN 50 AND 100000)
                    AND (CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) / len(toks) BETWEEN 3.0 AND 10.0)
                    AND CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE) / len(toks) >= 0.80
                    AND CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE) / len(toks) <= 0.10
                    AND len(list_filter(toks, t -> lower(t) IN ('the','be','to','of','and','that','have','with'))) >= 2 AS INT) AS DOUBLE) AS y,
                  1.0 AS x0,
                  (CAST(n_chars AS DOUBLE) / len(toks)) / 10.0 AS x1,
                  -- case-sensitive + unfiltered split ON PURPOSE: the LR
                  -- feature frame (QualityModel.featureFrame) uses raw
                  -- split + isInCollection, unlike qualityScoreCol —
                  -- both sides match by construction as written
                  CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is','it','for','on','with'))) AS DOUBLE) / len(toks) AS x2,
                  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / n_chars AS x3
           FROM (SELECT doc_id, n_chars, text, string_split_regex(text, '\s+') AS toks FROM documents)),
         w0 AS (SELECT 0.0 AS wa, 0.0 AS wb, 0.0 AS wc, 0.0 AS wd)"""
    val iterCtes = (1 to iters).map { i =>
      s"""g$i AS (
           SELECT CAST(SUM(CAST(round((p - y) * x0 * 1000000.0, 0) AS BIGINT)) AS DOUBLE) AS ga,
                  CAST(SUM(CAST(round((p - y) * x1 * 1000000.0, 0) AS BIGINT)) AS DOUBLE) AS gb,
                  CAST(SUM(CAST(round((p - y) * x2 * 1000000.0, 0) AS BIGINT)) AS DOUBLE) AS gc,
                  CAST(SUM(CAST(round((p - y) * x3 * 1000000.0, 0) AS BIGINT)) AS DOUBLE) AS gd,
                  CAST(COUNT(*) AS DOUBLE) AS n
           FROM (SELECT f.*, least(1.0, greatest(0.0, 0.25 * (w.wa * x0 + w.wb * x1 + w.wc * x2 + w.wd * x3) + 0.5)) AS p
                 FROM f, w${i - 1} w)),
         w$i AS (
           SELECT w.wa - 1.0 * (g.ga / (g.n * 1000000.0)) AS wa,
                  w.wb - 1.0 * (g.gb / (g.n * 1000000.0)) AS wb,
                  w.wc - 1.0 * (g.gc / (g.n * 1000000.0)) AS wc,
                  w.wd - 1.0 * (g.gd / (g.n * 1000000.0)) AS wd
           FROM w${i - 1} w, g$i g)"""
    }
    (head +: iterCtes).mkString(",\n")
  }

  /** Shared oracle prefix for the DSIR importance estimator: hashed
    * unigram buckets (md5 span 1-8 mod 256 — the repo's content-hash
    * convention), raw-vs-target (lang='en') token counts, the
    * Laplace-smoothed float-washed fixed-point log-ratio table `lr`, and
    * the per-document integer dot product `dw` = (doc_id, n_tokens,
    * lw_fix). Every arithmetic step mirrors graft.operators.Importance
    * operation for operation.
    */
  /** Okapi BM25, Lucene +1 idf, k1=1.2 b=0.75 k=10: the idf ln is
    * float-washed, the per-term score is fixed-pointed before the
    * per-doc sum, and BOTH ranking and output read the same integer.
    * Constants replay Spark's driver arithmetic (1.2+1.0, 1-0.75+...)
    * as the identical double chains, never pre-folded literals. Shared
    * by the build-inclusive and stored-index rows (row-identical by
    * construction — the artifact IS the tf frame).
    */
  /** Shared by `decontam_neardup` and its stored-index twin (the artifact
    * IS the train banding, so the result is row-identical by
    * construction): md5 token-minhash band replay split train/eval on the
    * content-hash bucket, candidates from band collisions, exact
    * token-set Jaccard, worst offender per train doc.
    */
  private def decontamNeardupOracleSql: String =
    s"""${minHashMd5BaseSql(32, 8, tokenFeatures = true)},
         bk AS (
           SELECT doc_id, ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS bucket
           FROM documents),
         cand AS (
           SELECT DISTINCT t.doc_id, e.doc_id AS eval_id
           FROM bb t JOIN bk bt ON t.doc_id = bt.doc_id
                JOIN bb e ON t.band_key = e.band_key
                JOIN bk be ON e.doc_id = be.doc_id
           WHERE bt.bucket < 95 AND be.bucket >= 95),
         ts AS (
           SELECT doc_id, list_distinct(string_split(text, ' ')) AS tokset FROM documents),
         jac AS (
           SELECT c.doc_id, c.eval_id,
                  CAST(len(list_intersect(ta.tokset, tb.tokset)) AS DOUBLE)
                    / len(list_distinct(list_concat(ta.tokset, tb.tokset))) AS jaccard
           FROM cand c JOIN ts ta ON c.doc_id = ta.doc_id
                JOIN ts tb ON c.eval_id = tb.doc_id),
         f AS (SELECT * FROM jac WHERE jaccard >= CAST(0.5 AS DOUBLE)),
         r AS (
           SELECT doc_id, eval_id, jaccard,
                  COUNT(*) OVER (PARTITION BY doc_id) AS n_eval_matches,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY jaccard DESC, eval_id) AS rn
           FROM f)
         SELECT doc_id, eval_id, jaccard,
                CAST(n_eval_matches AS BIGINT) AS n_eval_matches
         FROM r WHERE rn = 1 ORDER BY doc_id"""

  /** Oracle for the positional phrase search: the identical adjacency
    * join per pinned phrase over 0-based token positions, unioned.
    */
  private def phraseOracleSql: String = {
    val per = graft.operators.Retrieval.Phrases.map { case (qid, terms) =>
      val joins = terms.zipWithIndex.drop(1).map { case (t, i) =>
        s"JOIN p p$i ON p$i.doc_id = p0.doc_id AND p$i.term = '$t'" +
          s" AND p$i.pos = p0.pos + $i"
      }.mkString(" ")
      s"""SELECT $qid AS qid, p0.doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_matches,
                 CAST(MIN(p0.pos) AS BIGINT) AS first_pos
          FROM p p0 $joins
          WHERE p0.term = '${terms.head}'
          GROUP BY p0.doc_id"""
    }.mkString("\nUNION ALL\n")
    s"""WITH p AS (
         SELECT doc_id,
                generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
                unnest(string_split(text, ' ')) AS term
         FROM documents)
       SELECT * FROM ($per) ORDER BY qid, doc_id"""
  }

  private def bm25OracleSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tfreq FROM toks GROUP BY 1, 2),
         dlen AS (SELECT doc_id, SUM(tfreq) AS dlen FROM tf GROUP BY 1),
         st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(dlen) AS DOUBLE) AS total FROM dlen),
         q(qid, term) AS (VALUES
           (0, 'spark'), (0, 'query'), (0, 'join'),
           (1, 'fast'), (1, 'sort'), (1, 'merge'), (1, 'scan'),
           (2, 'customer'), (2, 'order'), (2, 'line'),
           (3, 'window'), (3, 'filter'), (3, 'group')),
         dfq AS (
           SELECT tf.term, COUNT(*) AS dfreq
           FROM tf JOIN (SELECT DISTINCT term FROM q) qt ON tf.term = qt.term
           GROUP BY 1),
         sc AS (
           SELECT q.qid, tf.doc_id,
                  SUM(CAST(round(CAST(CAST(
                    CAST(CAST(ln(CAST(1.0 AS DOUBLE)
                      + (st.n - CAST(d.dfreq AS DOUBLE) + CAST(0.5 AS DOUBLE))
                        / (CAST(d.dfreq AS DOUBLE) + CAST(0.5 AS DOUBLE))) AS FLOAT) AS DOUBLE)
                    * ((CAST(tf.tfreq AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
                       / (CAST(tf.tfreq AS DOUBLE)
                          + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                            + CAST(0.75 AS DOUBLE) * (CAST(dl.dlen AS DOUBLE) / (st.total / st.n)))))
                  AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT)) AS sfix
           FROM tf
             JOIN q ON tf.term = q.term
             JOIN dfq d ON tf.term = d.term
             JOIN dlen dl ON tf.doc_id = dl.doc_id
             CROSS JOIN st
           GROUP BY 1, 2),
         rk AS (
           SELECT qid, doc_id, sfix,
                  row_number() OVER (PARTITION BY qid ORDER BY sfix DESC, doc_id) AS rn
           FROM sc)
         SELECT qid, doc_id, CAST(sfix AS DOUBLE) / 1000000.0 AS score
         FROM rk WHERE rn <= 10 ORDER BY qid, doc_id"""

  private def dsirBaseSql: String =
    """WITH toks AS (
           SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
           FROM documents),
         bk AS (
           SELECT doc_id, ('0x' || substr(md5(term), 1, 8))::BIGINT % 256 AS bucket
           FROM toks),
         c AS (
           SELECT ('0x' || substr(md5(term), 1, 8))::BIGINT % 256 AS bucket,
                  COUNT(*) AS n_raw,
                  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt
           FROM toks GROUP BY 1),
         tt AS (
           SELECT CAST(SUM(n_raw) AS DOUBLE) AS tot_raw,
                  CAST(SUM(n_tgt) AS DOUBLE) AS tot_tgt
           FROM c),
         lr AS (
           SELECT bucket, n_raw, n_tgt,
                  CAST(round(CAST(CAST(ln(
                    ((CAST(n_tgt AS DOUBLE) + CAST(1.0 AS DOUBLE)) / (tt.tot_tgt + CAST(256.0 AS DOUBLE)))
                    / ((CAST(n_raw AS DOUBLE) + CAST(1.0 AS DOUBLE)) / (tt.tot_raw + CAST(256.0 AS DOUBLE)))
                  ) AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT) AS logratio_fix
           FROM c, tt),
         dw AS (
           SELECT bk.doc_id, COUNT(*) AS n_tokens,
                  SUM(lr.logratio_fix) AS lw_fix
           FROM bk JOIN lr USING (bucket) GROUP BY 1)"""

  /** Unrolled-power-iteration PageRank oracle over the event transition
    * graph: `iters` rounds of (fixed-point contribution sum, fixed-point
    * dangling mass, pinned-order rank update) — each CTE triple mirrors
    * one loop round of graft.operators.LinkGraph.pageRank bit for bit.
    * Ends at `r$iters` = (node, r).
    */
  /** Unrolled Bradley-Terry MM oracle: replays
    * [[graft.operators.Events.btRatings]] exactly — ×10⁶ fixed-point
    * (user,item) value means, capped baskets with full tiebreaks, then
    * `iters` MM rounds where the per-item denominator is a BIGINT sum
    * of floor(·×10⁹) terms and the phantom-anchor update mirrors the
    * engine's scalar op order. Per-round CTEs AS MATERIALIZED: round t
    * reads round t−1 three times and DuckDB would otherwise inline the
    * chain into 3^t base scans.
    */
  private def btSql(iters: Int = graft.operators.Events.BtIters): String = {
    val cap = graft.operators.Events.BtBasketCap
    val head =
      s"""WITH bt_ev AS (
           SELECT user_id,
                  TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) AS item,
                  value
           FROM events
           WHERE TRY_CAST(json_extract_string(props, '$$.k') AS BIGINT) IS NOT NULL
             AND value IS NOT NULL),
         bt_um AS (
           SELECT user_id, item,
                  (CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS DOUBLE)
                     / 1000000.0) / CAST(COUNT(*) AS DOUBLE) AS mean
           FROM bt_ev GROUP BY 1, 2),
         bt_bk AS (
           SELECT user_id, item, mean FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id
                         ORDER BY mean DESC, item ASC) AS rn
             FROM bt_um)
           WHERE rn <= $cap),
         bt_cmp AS (
           SELECT a.item AS winner, b.item AS loser, COUNT(*) AS cnt
           FROM bt_bk a JOIN bt_bk b
             ON a.user_id = b.user_id AND a.mean > b.mean
           GROUP BY 1, 2),
         bt_dirn AS (
           SELECT i, j, SUM(cnt) AS n_ij FROM (
             SELECT winner AS i, loser AS j, cnt FROM bt_cmp
             UNION ALL
             SELECT loser AS i, winner AS j, cnt FROM bt_cmp)
           GROUP BY 1, 2),
         bt_items AS (SELECT DISTINCT i AS item FROM bt_dirn),
         bt_stat AS (
           SELECT it.item,
                  COALESCE(w.wins, 0) AS wins,
                  g.games,
                  CAST(COALESCE(w.wins, 0) AS DOUBLE) + 0.5 AS wins05
           FROM bt_items it
           LEFT JOIN (SELECT winner AS item, SUM(cnt) AS wins
                      FROM bt_cmp GROUP BY 1) w ON it.item = w.item
           JOIN (SELECT i AS item, SUM(n_ij) AS games
                 FROM bt_dirn GROUP BY 1) g ON it.item = g.item),
         bt_r0 AS (SELECT item, CAST(1.0 AS DOUBLE) AS p FROM bt_items)"""
    val rounds = (1 to iters).map { t =>
      s"""bt_d$t AS MATERIALIZED (
           SELECT d.i AS item,
                  SUM(CAST(floor(CAST(d.n_ij AS DOUBLE) / (pi.p + pj.p)
                        * 1000000000.0) AS BIGINT)) AS dfix
           FROM bt_dirn d
           JOIN bt_r${t - 1} pi ON d.i = pi.item
           JOIN bt_r${t - 1} pj ON d.j = pj.item
           GROUP BY 1),
         bt_r$t AS MATERIALIZED (
           SELECT s.item,
                  s.wins05 / ((CAST(d.dfix AS DOUBLE) / 1000000000.0)
                              + (CAST(1.0 AS DOUBLE) / (r.p + CAST(1.0 AS DOUBLE)))) AS p
           FROM bt_stat s
           JOIN bt_d$t d ON s.item = d.item
           JOIN bt_r${t - 1} r ON s.item = r.item)"""
    }
    (head +: rounds).mkString(",\n")
  }

  private def pageRankSql(iters: Int = 3): String = {
    val head =
      """WITH ev AS (
           SELECT user_id, ts, event_id,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
           FROM events),
         tr AS (
           SELECT item AS dst,
                  lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
           FROM ev),
         edges AS (
           SELECT src, dst, COUNT(*) AS weight FROM tr
           WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
         nodes AS (SELECT DISTINCT item AS node FROM ev),
         outw AS (SELECT src, CAST(SUM(weight) AS DOUBLE) AS outw FROM edges GROUP BY 1),
         en AS (
           SELECT e.src, e.dst, CAST(e.weight AS DOUBLE) / o.outw AS share
           FROM edges e JOIN outw o USING (src)),
         nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
         r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS r FROM nodes, nn)"""
    val iterCtes = (1 to iters).map { i =>
      s"""s$i AS (
           SELECT en.dst AS node,
                  SUM(CAST(round(CAST(CAST(r.r * en.share AS FLOAT) AS DOUBLE) * 1000000000.0) AS BIGINT)) AS sfix
           FROM en JOIN r${i - 1} r ON en.src = r.node GROUP BY 1),
         d$i AS (
           SELECT COALESCE(SUM(CAST(round(r.r * 1000000000.0) AS BIGINT)), 0) AS dfix
           FROM r${i - 1} r LEFT JOIN outw o ON r.node = o.src WHERE o.src IS NULL),
         r$i AS (
           SELECT nd.node,
                  (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                  + CAST(0.85 AS DOUBLE) * ((CAST(COALESCE(s.sfix, 0) AS DOUBLE) / 1000000000.0)
                                            + (CAST(d.dfix AS DOUBLE) / 1000000000.0) / nn.n) AS r
           FROM nodes nd LEFT JOIN s$i s ON nd.node = s.node, d$i d, nn)"""
    }
    (head +: iterCtes).mkString(",\n")
  }

  /** Unrolled PCA-power-iteration oracle: replays graft.operators.Pca
    * exactly — floor-fixed-point moment sums (BIGINT, order-independent),
    * mean/covariance folded in the engine's pinned operation order, then
    * [[graft.operators.Pca.Iters]] unrolled mat-vec + L2-normalize rounds
    * where every sum is a BIGINT sum of floor(·×10⁹) terms, and the final
    * sign canonicalization (first coordinate ≥ 0). dim pinned at 64 (the
    * embeddings table's width — the ann_topk_binary precedent).
    */
  private def pcaSql(iters: Int = graft.operators.Pca.Iters): String = {
    val head =
      """WITH pv0 AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         pnn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM pv0),
         pmfix AS (
           SELECT j, SUM(CAST(floor(vj * 1000000.0) AS BIGINT)) AS ms
           FROM (SELECT generate_subscripts(v, 1) AS j, unnest(v) AS vj FROM pv0)
           GROUP BY j),
         pmean AS (
           SELECT j, CAST(ms AS DOUBLE) / 1000000.0 / pnn.n AS m
           FROM pmfix, pnn),
         ppfix AS (
           SELECT tj.j, tk.k,
                  SUM(CAST(floor(pv0.v[tj.j] * pv0.v[tk.k] * 1000000.0) AS BIGINT)) AS ps
           FROM pv0, range(1, 65) tj(j), range(1, 65) tk(k)
           GROUP BY tj.j, tk.k),
         pcov AS (
           SELECT p.j, p.k,
                  CAST(p.ps AS DOUBLE) / 1000000.0 / pnn.n - mj.m * mk.m AS c
           FROM ppfix p
           JOIN pmean mj ON p.j = mj.j
           JOIN pmean mk ON p.k = mk.j, pnn),
         pw0 AS (SELECT j, 1.0 / sqrt(64.0) AS w FROM range(1, 65) t(j))"""
    val iterCtes = (1 to iters).map { i =>
      s"""py$i AS (
           SELECT c.j, SUM(CAST(floor(c.c * w.w * 1000000000.0) AS BIGINT)) AS yfix
           FROM pcov c JOIN pw${i - 1} w ON c.k = w.j GROUP BY c.j),
         pq$i AS (
           SELECT SUM(CAST(floor((CAST(yfix AS DOUBLE) / 1000000000.0)
                                 * (CAST(yfix AS DOUBLE) / 1000000000.0)
                                 * 1000000000.0) AS BIGINT)) AS qs
           FROM py$i),
         pw$i AS (
           SELECT y.j, (CAST(y.yfix AS DOUBLE) / 1000000000.0)
                       / sqrt(CAST(q.qs AS DOUBLE) / 1000000000.0) AS w
           FROM py$i y, pq$i q)"""
    }
    val tail =
      s"""psgn AS (
           SELECT CASE WHEN (SELECT w FROM pw$iters WHERE j = 1) < 0
                       THEN -1.0 ELSE 1.0 END AS s),
         ppc AS (SELECT j, w * psgn.s AS loading FROM pw$iters, psgn),
         peig AS (
           SELECT sqrt(CAST(qs AS DOUBLE) / 1000000000.0) AS eig FROM pq$iters)"""
    (head +: iterCtes :+ tail).mkString(",\n")
  }

  /** Unrolled label-propagation oracle: the [[pageRankSql]] graph head,
    * then `iters` synchronous rounds — symmetrized weight-merged edges,
    * per-(node,label) integer vote sums, argmax with (sw DESC, l ASC)
    * tie-break, isolated nodes carrying their previous label. Integer
    * arithmetic end to end, so the replay is exact by construction.
    */
  private def labelPropSql(iters: Int = 3): String = {
    val head =
      """WITH ev AS (
           SELECT user_id, ts, event_id,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
           FROM events),
         tr AS (
           SELECT item AS dst,
                  lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
           FROM ev),
         edges AS (
           SELECT src, dst, COUNT(*) AS weight FROM tr
           WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
         nodes AS (SELECT DISTINCT item AS node FROM ev),
         sym AS (
           SELECT src AS u, dst AS v, weight FROM edges
           UNION ALL
           SELECT dst AS u, src AS v, weight FROM edges),
         und AS (SELECT u, v, SUM(weight) AS w FROM sym GROUP BY 1, 2),
         l0 AS (SELECT node, node AS l FROM nodes)"""
    val iterCtes = (1 to iters).map { i =>
      s"""v$i AS (
           SELECT und.u, r.l, SUM(und.w) AS sw
           FROM und JOIN l${i - 1} r ON und.v = r.node GROUP BY 1, 2),
         t$i AS (
           SELECT u, l FROM (
             SELECT u, l,
                    ROW_NUMBER() OVER (PARTITION BY u ORDER BY sw DESC, l ASC) AS rn
             FROM v$i) WHERE rn = 1),
         l$i AS (
           SELECT nd.node, COALESCE(t.l, p.l) AS l
           FROM nodes nd
           LEFT JOIN t$i t ON nd.node = t.u
           JOIN l${i - 1} p ON nd.node = p.node)"""
    }
    (head +: iterCtes).mkString(",\n")
  }

  /** SCD-2 history CTE chain over an event source CTE `src`: run starts
    * via null-safe lag compare, spans closed by the next run's start —
    * ends in `${pfx}h` (user_id, valid_from, valid_to, is_current,
    * event_type). Prefix-parameterized so an oracle can replay two
    * slices (full vs base) side by side.
    */
  private def scd2HistSql(src: String, pfx: String): String =
    s"""${pfx}f AS (
           SELECT user_id, tus, event_id, event_type,
                  lag(tus) OVER w IS NULL
                    OR event_type IS DISTINCT FROM lag(event_type) OVER w
                    AS is_start
           FROM $src
           WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
         ${pfx}s AS (SELECT * FROM ${pfx}f WHERE is_start),
         ${pfx}o AS (
           SELECT user_id, tus AS valid_from,
                  lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
                    AS valid_to,
                  event_type
           FROM ${pfx}s),
         ${pfx}h AS (
           SELECT user_id, valid_from, valid_to,
                  valid_to IS NULL AS is_current, event_type
           FROM ${pfx}o)"""

  /** K-core peeling oracle: `rounds` unrolled drop-below-k passes over
    * the distinct undirected edge set. The fixpoint is unique and extra
    * rounds are no-ops on a converged set, so over-unrolling is safe —
    * the engine loop runs to ACTUAL convergence and the spec pins its
    * round count under this unroll.
    */
  private def kCoreSql(k: Int = 3, rounds: Int = 12): String = {
    // per-round CTEs are MATERIALIZED: DuckDB inlines plain CTEs, and
    // each round references the previous one three times — an inlined
    // chain expands to 3^rounds base scans (observed as an fd blowup)
    val head =
      """WITH ev AS (
           SELECT user_id, ts, event_id,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
           FROM events),
         tr AS (
           SELECT item AS dst,
                  lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
           FROM ev),
         edges AS (
           SELECT src, dst, COUNT(*) AS weight FROM tr
           WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
         u0 AS MATERIALIZED (
           SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
           FROM edges)"""
    val iter = (1 to rounds).map { i =>
      s"""kk$i AS MATERIALIZED (
           SELECT n FROM (
             SELECT n, COUNT(*) AS d FROM (
               SELECT u AS n FROM u${i - 1} UNION ALL SELECT v FROM u${i - 1})
             GROUP BY 1) WHERE d >= $k),
         u$i AS MATERIALIZED (
           SELECT u, v FROM u${i - 1}
           WHERE u IN (SELECT n FROM kk$i) AND v IN (SELECT n FROM kk$i))"""
    }
    (head +: iter).mkString(",\n")
  }

  /** Bounded-hop BFS oracle: `maxHops` unrolled frontier expansions with
    * integer min-relaxation — MATERIALIZED per round (each references
    * the previous twice; the k-core inlining lesson).
    */
  private def widestSql(maxHops: Int = 6): String = {
    val head =
      """WITH ev AS (
           SELECT user_id, ts, event_id,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
           FROM events),
         tr AS (
           SELECT item AS dst,
                  lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
           FROM ev),
         edges AS (
           SELECT src, dst, COUNT(*) AS weight FROM tr
           WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
         nodes AS (SELECT DISTINCT item AS node FROM ev),
         w0 AS MATERIALIZED (
           SELECT node, CAST(4611686018427387904 AS BIGINT) AS cap
           FROM nodes WHERE node % 10 = 0)"""
    val iter = (1 to maxHops).map { h =>
      s"""w$h AS MATERIALIZED (
           SELECT node, MAX(cap) AS cap FROM (
             SELECT node, cap FROM w${h - 1}
             UNION ALL
             SELECT e.dst AS node, LEAST(d.cap, e.weight) AS cap
             FROM edges e JOIN w${h - 1} d ON e.src = d.node)
           GROUP BY 1)"""
    }
    (head +: iter).mkString(",\n")
  }

  private def bfsSql(maxHops: Int = 6): String = {
    val head =
      """WITH ev AS (
           SELECT user_id, ts, event_id,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
           FROM events),
         tr AS (
           SELECT item AS dst,
                  lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
           FROM ev),
         edges AS (
           SELECT src, dst, COUNT(*) AS weight FROM tr
           WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
         nodes AS (SELECT DISTINCT item AS node FROM ev),
         bsym AS MATERIALIZED (
           SELECT DISTINCT u, v FROM (
             SELECT src AS u, dst AS v FROM edges
             UNION ALL SELECT dst AS u, src AS v FROM edges)),
         b0 AS MATERIALIZED (
           SELECT node, 0 AS dist FROM nodes WHERE node % 10 = 0)"""
    val iter = (1 to maxHops).map { h =>
      s"""b$h AS MATERIALIZED (
           SELECT node, MIN(dist) AS dist FROM (
             SELECT node, dist FROM b${h - 1}
             UNION ALL
             SELECT s.v AS node, $h AS dist
             FROM bsym s JOIN b${h - 1} d ON s.u = d.node
             WHERE d.dist = ${h - 1})
           GROUP BY 1)"""
    }
    (head +: iter).mkString(",\n")
  }

  /** Exact-closure SCC oracle base: the directed transition edges'
    * recursive transitive closure (`reach`, UNION-deduped so the
    * fixpoint is |items|²-bounded), mutual-reachability pairs (`mut`,
    * the closure self-joined both ways), and per-node scc_id = min
    * mutual partner with self included (`sid`). Ground truth for the
    * Spark side's FW-BW label-splitting loop (LinkGraph.sccOver).
    */
  private def sccBaseSql: String =
    """WITH RECURSIVE ev AS (
         SELECT user_id, ts, event_id,
                TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
         FROM events),
       tr AS (
         SELECT item AS dst,
                lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
         FROM ev),
       wedges AS (
         SELECT src, dst, COUNT(*) AS weight FROM tr
         WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
       bb AS MATERIALIZED (
         SELECT src, dst, weight FROM (
           SELECT src, dst, weight,
                  row_number() OVER (PARTITION BY src
                    ORDER BY weight DESC, dst) AS rn
           FROM wedges) WHERE rn <= 2),
       dedges AS MATERIALIZED (SELECT src, dst FROM bb),
       nodes AS (SELECT DISTINCT item AS node FROM ev),
       reach(u, v) AS (
         SELECT src, dst FROM dedges
         UNION
         SELECT r.u, e.dst FROM reach r JOIN dedges e ON r.v = e.src),
       mut AS MATERIALIZED (
         SELECT a.u AS x, a.v AS y
         FROM reach a JOIN reach b ON a.u = b.v AND a.v = b.u),
       sid AS MATERIALIZED (
         SELECT n.node, LEAST(n.node, COALESCE(MIN(m.y), n.node)) AS scc_id
         FROM nodes n LEFT JOIN mut m ON n.node = m.x
         GROUP BY n.node)"""

  /** Unrolled-multiplication LSH S-curve oracle: mirrors
    * Dedup.lshDesignTable's pinned op order — s^r and (1-x)^b as
    * left-associated multiply chains, never `pow`.
    */
  private def lshDesignSql(threshold: Double = 0.9): String = {
    def chain(base: String, n: Int): String =
      if (n == 1) base else "(" + List.fill(n)(base).mkString(" * ") + ")"
    val designs = Seq(32 -> 1, 16 -> 2, 8 -> 4, 4 -> 8, 2 -> 16, 1 -> 32)
    val selects = designs.map { case (b, r) =>
      val sr = chain("s", r)
      val p = s"(1.0 - ${chain(s"(1.0 - $sr)", b)})"
      s"""SELECT CAST($b AS INT) AS bands, CAST($r AS INT) AS rows_per_band,
                s, $p AS collision_p,
                CASE WHEN s < $threshold THEN $p / 20.0 ELSE 0.0 END AS fp_term,
                CASE WHEN s >= $threshold THEN (1.0 - $p) / 20.0 ELSE 0.0 END AS fn_term
         FROM (SELECT CAST(i AS DOUBLE) / 20.0 AS s FROM range(1, 20) t(i))"""
    }
    selects.mkString("\nUNION ALL\n") + "\nORDER BY rows_per_band, s"
  }

  /** Hop-unrolled neighborhood-function oracle over the backbone:
    * reach-pair sets p1..pH (self included, UNION-deduped,
    * MATERIALIZED per hop — the kcore fd-blowup lesson), counted per
    * node per hop. Mirrors LinkGraph.neighborhoodOver exactly.
    */
  private def neighborhoodSql(maxHops: Int = 3): String = {
    val head =
      """WITH ev AS (
           SELECT user_id, ts, event_id,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
           FROM events),
         tr AS (
           SELECT item AS dst,
                  lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
           FROM ev),
         wedges AS (
           SELECT src, dst, COUNT(*) AS weight FROM tr
           WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
         bb AS MATERIALIZED (
           SELECT src, dst FROM (
             SELECT src, dst,
                    row_number() OVER (PARTITION BY src
                      ORDER BY weight DESC, dst) AS rn
             FROM wedges) WHERE rn <= 2),
         nodes AS (SELECT DISTINCT item AS node FROM ev),
         p0 AS (SELECT node AS u, node AS v FROM nodes)"""
    val hops = (1 to maxHops).map { h =>
      s"""p$h AS MATERIALIZED (
           SELECT DISTINCT u, v FROM (
             SELECT u, v FROM p${h - 1}
             UNION ALL
             SELECT p.u, e.dst AS v FROM p${h - 1} p JOIN bb e ON p.v = e.src)),
         c$h AS (SELECT u, COUNT(*) AS r$h FROM p$h GROUP BY 1)"""
    }
    val joins = (1 to maxHops).map(h => s"JOIN c$h ON n.node = c$h.u").mkString(" ")
    val cols = (1 to maxHops).map(h => s"c$h.r$h").mkString(", ")
    s"""${(head +: hops).mkString(",\n")}
       SELECT n.node, $cols FROM nodes n $joins ORDER BY n.node"""
  }

  /** Degree-ordered triangle oracle: replays
    * graft.operators.LinkGraph.nodeTriangles verbatim — distinct
    * undirected edges, (degree, id) orientation, ordered wedges, closing
    * probe — exact integer arithmetic throughout, ending in the
    * per-node (node, degree, triangles) frame `pn`.
    */
  private def triangleBaseSql: String =
    """WITH ev AS (
         SELECT user_id, ts, event_id,
                TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
         FROM events),
       tr AS (
         SELECT item AS dst,
                lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
         FROM ev),
       edges AS (
         SELECT src, dst, COUNT(*) AS weight FROM tr
         WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
       nodes AS (SELECT DISTINCT item AS node FROM ev),
       und AS (
         SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         FROM edges),
       deg AS (
         SELECT n, COUNT(*) AS d FROM (
           SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
         GROUP BY 1),
       orient AS (
         SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND un.u < un.v)
                     THEN un.u ELSE un.v END AS a,
                CASE WHEN du.d < dv.d OR (du.d = dv.d AND un.u < un.v)
                     THEN un.v ELSE un.u END AS b,
                CASE WHEN du.d < dv.d OR (du.d = dv.d AND un.u < un.v)
                     THEN dv.d ELSE du.d END AS db
         FROM und un
         JOIN deg du ON un.u = du.n
         JOIN deg dv ON un.v = dv.n),
       tris AS (
         SELECT e1.a AS x, e1.b AS y, e2.b AS z
         FROM orient e1
         JOIN orient e2 ON e1.a = e2.a
           AND (e1.db < e2.db OR (e1.db = e2.db AND e1.b < e2.b))
         JOIN orient e3 ON e3.a = e1.b AND e3.b = e2.b),
       pt AS (
         SELECT n, COUNT(*) AS t FROM (
           SELECT x AS n FROM tris
           UNION ALL SELECT y FROM tris
           UNION ALL SELECT z FROM tris)
         GROUP BY 1),
       pn AS (
         SELECT nd.node,
                COALESCE(dg.d, 0) AS degree,
                COALESCE(pt.t, 0) AS triangles
         FROM nodes nd
         LEFT JOIN deg dg ON nd.node = dg.n
         LEFT JOIN pt ON nd.node = pt.n)"""

  /** Unrolled personalized-PageRank oracle: the [[pageRankSql]] loop with
    * teleportation — and dangling mass — returning to the pinned seed
    * set (node % 10 = 0) via the per-node `tele` column; the rank update
    * replays graft.operators.LinkGraph.personalizedPageRank's pinned
    * arithmetic (NOT the uniform loop's driver-folded constants).
    */
  private def pprSql(iters: Int = 3): String = {
    val head =
      """WITH ev AS (
           SELECT user_id, ts, event_id,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
           FROM events),
         tr AS (
           SELECT item AS dst,
                  lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
           FROM ev),
         edges AS (
           SELECT src, dst, COUNT(*) AS weight FROM tr
           WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
         nodes AS (SELECT DISTINCT item AS node FROM ev),
         outw AS (SELECT src, CAST(SUM(weight) AS DOUBLE) AS outw FROM edges GROUP BY 1),
         en AS (
           SELECT e.src, e.dst, CAST(e.weight AS DOUBLE) / o.outw AS share
           FROM edges e JOIN outw o USING (src)),
         sd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM nodes WHERE node % 10 = 0),
         tele AS (
           SELECT node,
                  CASE WHEN node % 10 = 0 THEN CAST(1.0 AS DOUBLE) / sd.ns
                       ELSE CAST(0.0 AS DOUBLE) END AS tele
           FROM nodes, sd),
         r0 AS (SELECT node, tele AS r FROM tele)"""
    val iterCtes = (1 to iters).map { i =>
      s"""s$i AS (
           SELECT en.dst AS node,
                  SUM(CAST(round(CAST(CAST(r.r * en.share AS FLOAT) AS DOUBLE) * 1000000000.0) AS BIGINT)) AS sfix
           FROM en JOIN r${i - 1} r ON en.src = r.node GROUP BY 1),
         d$i AS (
           SELECT COALESCE(SUM(CAST(round(r.r * 1000000000.0) AS BIGINT)), 0) AS dfix
           FROM r${i - 1} r LEFT JOIN outw o ON r.node = o.src WHERE o.src IS NULL),
         r$i AS (
           SELECT t.node,
                  (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * t.tele
                  + CAST(0.85 AS DOUBLE) * ((CAST(COALESCE(s.sfix, 0) AS DOUBLE) / 1000000000.0)
                                            + (CAST(d.dfix AS DOUBLE) / 1000000000.0) * t.tele) AS r
           FROM tele t LEFT JOIN s$i s ON t.node = s.node, d$i d)"""
    }
    (head +: iterCtes).mkString(",\n")
  }

  /** Unrolled deterministic-random-walk oracle: exact integer
    * cumulative-weight spans per out-edge set, then one CTE per step
    * drawing u = md5(walk:step) mod outweight and stepping by interval
    * containment — graft.operators.LinkGraph.randomWalks replayed
    * join for join (no floating point anywhere).
    */
  private def walksSql(length: Int = 4): String = {
    val head =
      """WITH ev AS (
           SELECT user_id, ts, event_id,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
           FROM events),
         tr AS (
           SELECT item AS dst,
                  lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
           FROM ev),
         edges AS (
           SELECT src, dst, COUNT(*) AS weight FROM tr
           WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
         nodes AS (SELECT DISTINCT item AS node FROM ev),
         sp AS (
           SELECT src, dst, weight,
                  SUM(weight) OVER (PARTITION BY src ORDER BY dst ROWS UNBOUNDED PRECEDING) AS hi,
                  SUM(weight) OVER (PARTITION BY src ORDER BY dst ROWS UNBOUNDED PRECEDING) - weight AS lo,
                  SUM(weight) OVER (PARTITION BY src) AS total
           FROM edges),
         w0 AS (SELECT node AS walk_id, node AS cur FROM nodes)"""
    val stepCtes = (1 to length).map { t =>
      s"""w$t AS (
           SELECT w.walk_id, s.dst AS cur
           FROM w${t - 1} w JOIN sp s ON w.cur = s.src
           WHERE (('0x' || substr(md5(CAST(w.walk_id AS VARCHAR) || ':' || '$t'), 1, 8))::BIGINT % s.total) >= s.lo
             AND (('0x' || substr(md5(CAST(w.walk_id AS VARCHAR) || ':' || '$t'), 1, 8))::BIGINT % s.total) < s.hi)"""
    }
    val union = (0 to length)
      .map(t => s"SELECT walk_id, $t AS step, cur AS node FROM w$t")
      .mkString("\n           UNION ALL ")
    (head +: stepCtes).mkString(",\n") +
      s"\n         SELECT walk_id, step, node FROM (\n           $union)\n         ORDER BY walk_id, step"
  }

  /** Unrolled HITS oracle over the same transition graph: per iteration,
    * an authority half-step (fixed-point pull src→dst, exact BIGINT L1
    * norm, pinned division) then a hub half-step (dst→src) — each CTE
    * triple mirrors one graft.operators.LinkGraph.halfStep bit for bit.
    * Ends at `a$iters` / `h$iters` = (node, s).
    */
  private def hitsSql(iters: Int = 2): String = {
    val head =
      """WITH ev AS (
           SELECT user_id, ts, event_id,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
           FROM events),
         tr AS (
           SELECT item AS dst,
                  lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
           FROM ev),
         edges AS (
           SELECT src, dst, COUNT(*) AS weight FROM tr
           WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
         nodes AS (SELECT DISTINCT item AS node FROM ev),
         e AS (SELECT src, dst, CAST(weight AS DOUBLE) AS w FROM edges),
         h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS s FROM nodes)"""
    def half(out: String, in: String, from: String, to: String): String =
      s"""${out}p AS (
           SELECT e.$to AS node,
                  SUM(CAST(round(CAST(CAST(x.s * e.w AS FLOAT) AS DOUBLE) * 1000000000.0) AS BIGINT)) AS sfix
           FROM e JOIN $in x ON e.$from = x.node GROUP BY 1),
         ${out}n AS (SELECT COALESCE(SUM(sfix), 0) AS norm FROM ${out}p),
         $out AS (
           SELECT nd.node,
                  CAST(COALESCE(p.sfix, 0) AS DOUBLE) / CAST(n.norm AS DOUBLE) AS s
           FROM nodes nd LEFT JOIN ${out}p p ON nd.node = p.node, ${out}n n)"""
    val iterCtes = (1 to iters).flatMap { i =>
      Seq(
        half(s"a$i", if (i == 1) "h0" else s"h${i - 1}", "src", "dst"),
        half(s"h$i", s"a$i", "dst", "src"))
    }
    (head +: iterCtes).mkString(",\n")
  }

  /** Shared oracle prefix for the interpolated bigram LM (λ = 0.7): ends
    * at `blp` = (doc_id, n_bigrams, mean_logprob). Every count division
    * is an exact-integer-valued IEEE double op and the interpolation
    * constants are DOUBLE-cast literals — with 1-λ COMPUTED as the same
    * double subtraction Spark performs (the literal 0.3 is not the
    * double 1.0-0.7); the float-then-fixed-point log follows the unigram
    * convention. Used by txt_bigram_logprob and the CCNet bucket cut.
    */
  private def bigramLpBaseSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         toks AS (SELECT doc_id, unnest(toks) AS term FROM t),
         uni AS (SELECT term, COUNT(*) AS ucnt FROM toks GROUP BY term),
         tot AS (SELECT SUM(ucnt) AS n FROM uni),
         occ AS (
           SELECT doc_id, toks[i.i - 1] AS prev, toks[i.i] AS cur
           FROM t, unnest(range(2, len(toks) + 1)) AS i(i)
           WHERE len(toks) >= 2),
         bi AS (SELECT prev, cur, COUNT(*) AS bcnt FROM occ GROUP BY prev, cur),
         lp AS (
           SELECT o.doc_id,
                  CAST(round(CAST(CAST(ln(
                    CAST(0.7 AS DOUBLE) * (CAST(b.bcnt AS DOUBLE) / CAST(up.ucnt AS DOUBLE))
                    + (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * (CAST(uc.ucnt AS DOUBLE) / CAST(tot.n AS DOUBLE))
                  ) AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT) AS lpf
           FROM occ o
             JOIN bi b ON o.prev = b.prev AND o.cur = b.cur
             JOIN uni up ON o.prev = up.term
             JOIN uni uc ON o.cur = uc.term
             CROSS JOIN tot),
         blp AS (
           SELECT doc_id, COUNT(*) AS n_bigrams,
                  CAST(SUM(lpf) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS mean_logprob
           FROM lp GROUP BY doc_id)"""

  /** One full simhash→banding→Hamming→recursive-closure CTE chain over
    * `documents` (optionally filtered), with every CTE name suffixed so
    * two chains (full vs corpus-carve) can coexist under one
    * WITH RECURSIVE — the incremental-clustering oracle needs both.
    */
  private def simHashClosureCtes(sfx: String, docFilter: String): String =
    s"""t$sfx AS (
           SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')),
                    tok -> ('0x' || substr(md5(tok), 1, 15))::BIGINT) AS hs
           FROM documents$docFilter),
         s$sfx AS (
           SELECT doc_id,
                  CASE WHEN len(hs) = 0 THEN 0
                       ELSE CAST(list_sum(list_transform(range(60), b ->
                         CASE WHEN 2 * list_sum(list_transform(hs, h -> (h >> b) & 1)) >= len(hs)
                              THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT)
                  END AS simhash
           FROM t$sfx),
         bb$sfx AS (
           SELECT doc_id, simhash,
                  unnest([CAST(0 * 65536 + ((simhash >> 0) & 65535) AS BIGINT),
                          CAST(1 * 65536 + ((simhash >> 16) & 65535) AS BIGINT),
                          CAST(2 * 65536 + ((simhash >> 32) & 65535) AS BIGINT),
                          CAST(3 * 65536 + ((simhash >> 48) & 65535) AS BIGINT)]) AS band_key
           FROM s$sfx),
         cand$sfx AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
           FROM bb$sfx a JOIN bb$sfx b USING (band_key) WHERE a.doc_id < b.doc_id),
         edges$sfx AS (
           SELECT doc_a AS u, doc_b AS v FROM cand$sfx WHERE hamming <= 3
           UNION ALL
           SELECT doc_b AS u, doc_a AS v FROM cand$sfx WHERE hamming <= 3),
         walk$sfx(node, reach) AS (
           SELECT u, u FROM edges$sfx
           UNION
           SELECT w.node, e.v FROM walk$sfx w JOIN edges$sfx e ON w.reach = e.u),
         comp$sfx AS (SELECT node, MIN(reach) AS root FROM walk$sfx GROUP BY node),
         base$sfx AS (
           SELECT d.doc_id, COALESCE(c.root, d.doc_id) AS component_id
           FROM documents d LEFT JOIN comp$sfx c ON d.doc_id = c.node$docFilter)"""

  private def simHashClusterBaseSql: String =
    "WITH RECURSIVE " + simHashClosureCtes("", "")

  /** The media-fingerprint CTE chain (mb → msh → msig): DuckDB replay of
    * `Multimodal.mediaSimHash` — the DISTINCT 8-byte sliding windows of
    * the UTF-8 payload (hex-pair sliced, stride 1), each hashed to the
    * first 60 bits of md5 of its uppercase-hex image, majority-voted
    * per bit. Shared by every mm fingerprint oracle so the chain cannot
    * drift between rows (the simHashClosureCtes convention).
    */
  private def mediaSigCtes: String =
    """mb AS (
           SELECT doc_id AS media_id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n
           FROM documents),
         msh AS (
           SELECT media_id, list_distinct(list_transform(
                    range(0, greatest(n - 7, 1), 1),
                    i -> ('0x' || substr(md5(substr(hx, CAST(2 * i + 1 AS INT), 16)), 1, 15))::BIGINT)) AS hs
           FROM mb),
         msig AS MATERIALIZED (
           SELECT media_id,
                  CASE WHEN len(hs) = 0 THEN 0
                       ELSE CAST(list_sum(list_transform(range(60), b ->
                         CASE WHEN 2 * list_sum(list_transform(hs, h -> (h >> b) & 1)) >= len(hs)
                              THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT)
                  END AS sig
           FROM msh)"""

  /** Naive batch × corpus media near-dup under all three windows, best
    * match by (Hamming, L1, corpus id), every batch id emitted (is_new
    * when unmatched). Shared by mm_incremental_neardup and its
    * stored-index twin, which is row-identical by construction.
    */
  private def mmIncrementalOracleSql: String =
    s"""WITH $mediaSigCtes,
         by AS (
           SELECT media_id, n,
                  CAST((i.i * 8) // n AS INT) AS seg,
                  ('0x' || substr(hx, CAST(2 * i.i + 1 AS INT), 2))::INT AS bv
           FROM mb, unnest(range(n)) AS i(i)),
         hf AS MATERIALIZED (
           SELECT media_id, seg,
                  CAST((SUM(bv) * 1000000) // COUNT(*) AS BIGINT) AS ffix
           FROM by GROUP BY media_id, seg),
         ids AS (SELECT doc_id AS media_id,
                        CASE WHEN doc_id % 3 = 0 THEN 'image'
                             WHEN doc_id % 3 = 1 THEN 'audio'
                             ELSE 'video' END AS kind,
                        octet_length(encode(text)) AS n
                 FROM documents),
         cand AS (
           SELECT x.media_id, y.media_id AS corpus_id,
                  CAST(bit_count(xor(sa.sig, sb.sig)) AS INT) AS ham
           FROM ids x JOIN ids y
             ON x.kind = y.kind
            AND x.media_id % 10 = 0 AND y.media_id % 10 <> 0
            AND abs(x.n - y.n) <= ${Multimodal.NearDupLenWindow}
           JOIN msig sa ON sa.media_id = x.media_id
           JOIN msig sb ON sb.media_id = y.media_id
           WHERE bit_count(xor(sa.sig, sb.sig)) <= ${Multimodal.MediaFpMaxHamming}),
         scored AS (
           SELECT media_id, corpus_id, ham,
                  CAST(SUM(ABS(fa - fb)) AS BIGINT) AS l1_fix
           FROM (
             SELECT c.media_id, c.corpus_id, c.ham, bins.seg,
                    COALESCE(ha.ffix, 0) AS fa, COALESCE(hb.ffix, 0) AS fb
             FROM cand c CROSS JOIN (SELECT unnest(range(8)) AS seg) bins
             LEFT JOIN hf ha ON ha.media_id = c.media_id AND ha.seg = bins.seg
             LEFT JOIN hf hb ON hb.media_id = c.corpus_id AND hb.seg = bins.seg)
           GROUP BY media_id, corpus_id, ham
           HAVING SUM(ABS(fa - fb)) <= ${Multimodal.MediaFpL1Window}),
         best AS (
           SELECT media_id, corpus_id, ham, l1_fix FROM (
             SELECT *, row_number() OVER (PARTITION BY media_id
                         ORDER BY ham, l1_fix, corpus_id) AS rn
             FROM scored) WHERE rn = 1)
         SELECT i.media_id, p.corpus_id IS NULL AS is_new,
                p.corpus_id AS dup_of, p.ham AS hamming, p.l1_fix
         FROM (SELECT media_id FROM ids WHERE media_id % 10 = 0) i
           LEFT JOIN best p USING (media_id)
         ORDER BY media_id"""

  /** Naive eval × corpus media decontam under all three windows, best
    * eval match per flagged corpus media by (Hamming, L1, eval id);
    * flagged rows only — the report shape. Shared by mm_decontam and
    * its stored-face twin, which is row-identical by construction.
    */
  private def mmDecontamOracleSql: String =
    s"""WITH $mediaSigCtes,
         by AS (
           SELECT media_id, n,
                  CAST((i.i * 8) // n AS INT) AS seg,
                  ('0x' || substr(hx, CAST(2 * i.i + 1 AS INT), 2))::INT AS bv
           FROM mb, unnest(range(n)) AS i(i)),
         hf AS MATERIALIZED (
           SELECT media_id, seg,
                  CAST((SUM(bv) * 1000000) // COUNT(*) AS BIGINT) AS ffix
           FROM by GROUP BY media_id, seg),
         ids AS (SELECT doc_id AS media_id,
                        CASE WHEN doc_id % 3 = 0 THEN 'image'
                             WHEN doc_id % 3 = 1 THEN 'audio'
                             ELSE 'video' END AS kind,
                        octet_length(encode(text)) AS n
                 FROM documents),
         cand AS (
           SELECT y.media_id, x.media_id AS eval_id,
                  CAST(bit_count(xor(sa.sig, sb.sig)) AS INT) AS ham
           FROM ids x JOIN ids y
             ON x.kind = y.kind
            AND x.media_id % 10 = 7 AND y.media_id % 10 <> 7
            AND abs(x.n - y.n) <= ${Multimodal.NearDupLenWindow}
           JOIN msig sa ON sa.media_id = x.media_id
           JOIN msig sb ON sb.media_id = y.media_id
           WHERE bit_count(xor(sa.sig, sb.sig)) <= ${Multimodal.MediaFpMaxHamming}),
         scored AS (
           SELECT media_id, eval_id, ham,
                  CAST(SUM(ABS(fa - fb)) AS BIGINT) AS l1_fix
           FROM (
             SELECT c.media_id, c.eval_id, c.ham, bins.seg,
                    COALESCE(ha.ffix, 0) AS fa, COALESCE(hb.ffix, 0) AS fb
             FROM cand c CROSS JOIN (SELECT unnest(range(8)) AS seg) bins
             LEFT JOIN hf ha ON ha.media_id = c.media_id AND ha.seg = bins.seg
             LEFT JOIN hf hb ON hb.media_id = c.eval_id AND hb.seg = bins.seg)
           GROUP BY media_id, eval_id, ham
           HAVING SUM(ABS(fa - fb)) <= ${Multimodal.MediaFpL1Window})
         SELECT media_id, eval_id, ham AS hamming, l1_fix FROM (
           SELECT *, row_number() OVER (PARTITION BY media_id
                       ORDER BY ham, l1_fix, eval_id) AS rn
           FROM scored) WHERE rn = 1
         ORDER BY media_id"""

  /** The three gate chains composed under one WITH RECURSIVE: the
    * quality conjunction (analytic dims/rate/duration + byte
    * dominance), the near-dup closure, the decontam flagged set, and
    * the SURVIVOR keeper election — decision by the documented
    * precedence. Shared by mm_curation_decisions and its stored-faces
    * twin, which is row-identical by construction.
    */
  private def mmCurationOracleSql: String =
    s"""WITH RECURSIVE $mediaSigCtes,
         by AS (
           SELECT media_id, n,
                  CAST((i.i * 8) // n AS INT) AS seg,
                  ('0x' || substr(hx, CAST(2 * i.i + 1 AS INT), 2))::INT AS bv
           FROM mb, unnest(range(n)) AS i(i)),
         hf AS MATERIALIZED (
           SELECT media_id, seg,
                  CAST((SUM(bv) * 1000000) // COUNT(*) AS BIGINT) AS ffix
           FROM by GROUP BY media_id, seg),
         dmq AS (
           SELECT media_id, MAX(cnt) AS maxc, ANY_VALUE(n) AS n FROM (
             SELECT media_id, n, bv, COUNT(*) AS cnt
             FROM by GROUP BY media_id, n, bv)
           GROUP BY media_id),
         ids AS (SELECT doc_id AS media_id,
                        CASE WHEN doc_id % 3 = 0 THEN 'image'
                             WHEN doc_id % 3 = 1 THEN 'audio'
                             ELSE 'video' END AS kind,
                        CASE WHEN doc_id % 3 = 0 THEN 'png'
                             WHEN doc_id % 3 = 1 THEN 'jpeg'
                             WHEN doc_id % 6 = 2 THEN 'wav'
                             ELSE 'mp4' END AS fmt,
                        n_chars % 640 + 1 AS w, n_chars % 480 + 1 AS h,
                        CASE WHEN doc_id % 12 = 8 THEN GREATEST(n_chars // 4, 1)
                             ELSE 8000 + (n_chars % 8) * 1000 END AS rate,
                        CASE WHEN doc_id % 12 = 8 THEN 1 ELSE (doc_id // 6) % 2 + 1 END AS ch, n_chars,
                        octet_length(encode(text)) AS n,
                        CASE WHEN doc_id % 3 IN (0, 1) OR doc_id % 6 = 5
                             THEN (n_chars % 640 + 1) * (n_chars % 480 + 1)
                             ELSE (CASE WHEN doc_id % 12 = 8 THEN GREATEST(n_chars // 4, 1)
                             ELSE 8000 + (n_chars % 8) * 1000 END)
                                  * (CASE WHEN doc_id % 12 = 8 THEN 1 ELSE (doc_id // 6) % 2 + 1 END)
                        END AS fid
                 FROM documents),
         quality AS (
           SELECT i.media_id,
                  (COALESCE(CASE WHEN i.fmt IN ('png', 'jpeg', 'mp4')
                       THEN i.w * i.h >= ${Multimodal.MediaMinPixels} END, true)
                   AND COALESCE(CASE WHEN i.fmt IN ('png', 'jpeg', 'mp4')
                       THEN GREATEST(i.w, i.h) <= ${Multimodal.MediaAspectMax} * LEAST(i.w, i.h) END, true)
                   AND COALESCE(CASE WHEN i.fmt = 'wav'
                       THEN i.rate >= ${Multimodal.MediaMinRate} END, true)
                   AND COALESCE(CASE WHEN i.fmt = 'wav'
                       THEN i.n * 1000 // (i.rate * i.ch * 2) >= ${Multimodal.MediaMinDurationMs}
                       WHEN i.fmt = 'mp4'
                       THEN (CASE WHEN i.media_id % 12 = 11 THEN i.n_chars % 50 + 10
                                  ELSE i.n_chars % 2400 + 600 END) * 1000 // 600
                            >= ${Multimodal.MediaMinDurationMs}
                   END, true)
                   AND COALESCE(2 * d.maxc <= d.n, false)) AS quality_ok
           FROM ids i LEFT JOIN dmq d USING (media_id)),
         cand AS (
           SELECT x.media_id AS a, y.media_id AS bb
           FROM ids x JOIN ids y
             ON x.kind = y.kind AND x.media_id < y.media_id
           JOIN msig sa ON sa.media_id = x.media_id
           JOIN msig sb ON sb.media_id = y.media_id
           WHERE abs(x.n - y.n) <= ${Multimodal.NearDupLenWindow}
             AND bit_count(xor(sa.sig, sb.sig)) <= ${Multimodal.MediaFpMaxHamming}),
         prs AS (
           SELECT a, bb FROM (
             SELECT c.a, c.bb, bins.seg,
                    COALESCE(ha.ffix, 0) AS fa, COALESCE(hb.ffix, 0) AS fb
             FROM cand c CROSS JOIN (SELECT unnest(range(8)) AS seg) bins
             LEFT JOIN hf ha ON ha.media_id = c.a AND ha.seg = bins.seg
             LEFT JOIN hf hb ON hb.media_id = c.bb AND hb.seg = bins.seg)
           GROUP BY a, bb
           HAVING SUM(ABS(fa - fb)) <= ${Multimodal.MediaFpL1Window}),
         edges AS (
           SELECT a AS u, bb AS v FROM prs
           UNION ALL SELECT bb AS u, a AS v FROM prs),
         walk(node, reach) AS (
           SELECT u, u FROM edges
           UNION
           SELECT w.node, e.v FROM walk w JOIN edges e ON w.reach = e.u),
         comp AS (SELECT node, MIN(reach) AS root FROM walk GROUP BY node),
         flagged AS (
           SELECT DISTINCT media_id FROM (
             SELECT c.media_id, c.eval_id, bins.seg,
                    COALESCE(ha.ffix, 0) AS fa, COALESCE(hb.ffix, 0) AS fb
             FROM (
               SELECT y.media_id, x.media_id AS eval_id
               FROM ids x JOIN ids y
                 ON x.kind = y.kind
                AND x.media_id % 10 = 7 AND y.media_id % 10 <> 7
                AND abs(x.n - y.n) <= ${Multimodal.NearDupLenWindow}
               JOIN msig sa ON sa.media_id = x.media_id
               JOIN msig sb ON sb.media_id = y.media_id
               WHERE bit_count(xor(sa.sig, sb.sig)) <= ${Multimodal.MediaFpMaxHamming}) c
             CROSS JOIN (SELECT unnest(range(8)) AS seg) bins
             LEFT JOIN hf ha ON ha.media_id = c.media_id AND ha.seg = bins.seg
             LEFT JOIN hf hb ON hb.media_id = c.eval_id AND hb.seg = bins.seg)
           GROUP BY media_id, eval_id
           HAVING SUM(ABS(fa - fb)) <= ${Multimodal.MediaFpL1Window}),
         -- keeper election over gate SURVIVORS: components keep their
         -- full-graph identity, but the keeper is the highest-fidelity
         -- member that is neither eval, contaminated, nor quality-failed
         -- (ties to lowest id) — non-survivors are never keepers
         dedup AS (
           SELECT media_id, component_id, survivor,
                  (survivor AND ROW_NUMBER() OVER (PARTITION BY component_id
                     ORDER BY survivor DESC, fid DESC, media_id) = 1) AS dedup_keep
           FROM (SELECT d.media_id, d.fid,
                        COALESCE(c.root, d.media_id) AS component_id,
                        (q.quality_ok AND f.media_id IS NULL
                         AND d.media_id % 10 <> 7) AS survivor
                 FROM ids d
                   JOIN quality q ON q.media_id = d.media_id
                   LEFT JOIN comp c ON d.media_id = c.node
                   LEFT JOIN flagged f ON f.media_id = d.media_id))
         SELECT q.media_id, i.fmt, dd.component_id,
                q.quality_ok, dd.dedup_keep,
                (f.media_id IS NOT NULL) AS contaminated,
                CASE WHEN q.media_id % 10 = 7 THEN 'eval_holdout'
                     WHEN f.media_id IS NOT NULL THEN 'contaminated'
                     WHEN NOT q.quality_ok THEN 'quality_fail'
                     WHEN NOT dd.dedup_keep THEN 'near_dup'
                     ELSE 'kept' END AS decision
         FROM quality q
           JOIN dedup dd USING (media_id)
           JOIN ids i USING (media_id)
           LEFT JOIN flagged f USING (media_id)
         ORDER BY q.media_id"""

  /** Per-batch admission replay: the quality conjunction restricted to
    * the %10==0 carve, the best corpus match (corpus excludes BOTH the
    * batch and the eval carves), and the best eval match — decision by
    * the documented precedence. Shared by mm_ingest_decisions and its
    * stored-face twin, which is row-identical by construction.
    */
  private def mmIngestOracleSql: String =
    s"""WITH $mediaSigCtes,
         by AS (
           SELECT media_id, n,
                  CAST((i.i * 8) // n AS INT) AS seg,
                  ('0x' || substr(hx, CAST(2 * i.i + 1 AS INT), 2))::INT AS bv
           FROM mb, unnest(range(n)) AS i(i)),
         hf AS MATERIALIZED (
           SELECT media_id, seg,
                  CAST((SUM(bv) * 1000000) // COUNT(*) AS BIGINT) AS ffix
           FROM by GROUP BY media_id, seg),
         dmq AS (
           SELECT media_id, MAX(cnt) AS maxc, ANY_VALUE(n) AS n FROM (
             SELECT media_id, n, bv, COUNT(*) AS cnt
             FROM by WHERE media_id % 10 = 0 GROUP BY media_id, n, bv)
           GROUP BY media_id),
         ids AS (SELECT doc_id AS media_id,
                        CASE WHEN doc_id % 3 = 0 THEN 'image'
                             WHEN doc_id % 3 = 1 THEN 'audio'
                             ELSE 'video' END AS kind,
                        CASE WHEN doc_id % 3 = 0 THEN 'png'
                             WHEN doc_id % 3 = 1 THEN 'jpeg'
                             WHEN doc_id % 6 = 2 THEN 'wav'
                             ELSE 'mp4' END AS fmt,
                        n_chars % 640 + 1 AS w, n_chars % 480 + 1 AS h,
                        CASE WHEN doc_id % 12 = 8 THEN GREATEST(n_chars // 4, 1)
                             ELSE 8000 + (n_chars % 8) * 1000 END AS rate,
                        CASE WHEN doc_id % 12 = 8 THEN 1 ELSE (doc_id // 6) % 2 + 1 END AS ch, n_chars,
                        octet_length(encode(text)) AS n
                 FROM documents),
         quality AS (
           SELECT i.media_id, i.fmt,
                  (COALESCE(CASE WHEN i.fmt IN ('png', 'jpeg', 'mp4')
                       THEN i.w * i.h >= ${Multimodal.MediaMinPixels} END, true)
                   AND COALESCE(CASE WHEN i.fmt IN ('png', 'jpeg', 'mp4')
                       THEN GREATEST(i.w, i.h) <= ${Multimodal.MediaAspectMax} * LEAST(i.w, i.h) END, true)
                   AND COALESCE(CASE WHEN i.fmt = 'wav'
                       THEN i.rate >= ${Multimodal.MediaMinRate} END, true)
                   AND COALESCE(CASE WHEN i.fmt = 'wav'
                       THEN i.n * 1000 // (i.rate * i.ch * 2) >= ${Multimodal.MediaMinDurationMs}
                       WHEN i.fmt = 'mp4'
                       THEN (CASE WHEN i.media_id % 12 = 11 THEN i.n_chars % 50 + 10
                                  ELSE i.n_chars % 2400 + 600 END) * 1000 // 600
                            >= ${Multimodal.MediaMinDurationMs}
                   END, true)
                   AND COALESCE(2 * d.maxc <= d.n, false)) AS quality_ok
           FROM ids i LEFT JOIN dmq d USING (media_id)
           WHERE i.media_id % 10 = 0),
         dscored AS (
           SELECT media_id, corpus_id, ham,
                  CAST(SUM(ABS(fa - fb)) AS BIGINT) AS l1_fix
           FROM (
             SELECT c.media_id, c.corpus_id, c.ham, bins.seg,
                    COALESCE(ha.ffix, 0) AS fa, COALESCE(hb.ffix, 0) AS fb
             FROM (
               SELECT x.media_id, y.media_id AS corpus_id,
                      CAST(bit_count(xor(sa.sig, sb.sig)) AS INT) AS ham
               FROM ids x JOIN ids y
                 ON x.kind = y.kind
                AND x.media_id % 10 = 0 AND y.media_id % 10 NOT IN (0, 7)
                AND abs(x.n - y.n) <= ${Multimodal.NearDupLenWindow}
               JOIN msig sa ON sa.media_id = x.media_id
               JOIN msig sb ON sb.media_id = y.media_id
               WHERE bit_count(xor(sa.sig, sb.sig)) <= ${Multimodal.MediaFpMaxHamming}) c
             CROSS JOIN (SELECT unnest(range(8)) AS seg) bins
             LEFT JOIN hf ha ON ha.media_id = c.media_id AND ha.seg = bins.seg
             LEFT JOIN hf hb ON hb.media_id = c.corpus_id AND hb.seg = bins.seg)
           GROUP BY media_id, corpus_id, ham
           HAVING SUM(ABS(fa - fb)) <= ${Multimodal.MediaFpL1Window}),
         dbest AS (
           SELECT media_id, corpus_id, ham, l1_fix FROM (
             SELECT *, row_number() OVER (PARTITION BY media_id
                         ORDER BY ham, l1_fix, corpus_id) AS rn
             FROM dscored) WHERE rn = 1),
         escored AS (
           SELECT media_id, eval_id, ham,
                  CAST(SUM(ABS(fa - fb)) AS BIGINT) AS l1_fix
           FROM (
             SELECT c.media_id, c.eval_id, c.ham, bins.seg,
                    COALESCE(ha.ffix, 0) AS fa, COALESCE(hb.ffix, 0) AS fb
             FROM (
               SELECT x.media_id, y.media_id AS eval_id,
                      CAST(bit_count(xor(sa.sig, sb.sig)) AS INT) AS ham
               FROM ids x JOIN ids y
                 ON x.kind = y.kind
                AND x.media_id % 10 = 0 AND y.media_id % 10 = 7
                AND abs(x.n - y.n) <= ${Multimodal.NearDupLenWindow}
               JOIN msig sa ON sa.media_id = x.media_id
               JOIN msig sb ON sb.media_id = y.media_id
               WHERE bit_count(xor(sa.sig, sb.sig)) <= ${Multimodal.MediaFpMaxHamming}) c
             CROSS JOIN (SELECT unnest(range(8)) AS seg) bins
             LEFT JOIN hf ha ON ha.media_id = c.media_id AND ha.seg = bins.seg
             LEFT JOIN hf hb ON hb.media_id = c.eval_id AND hb.seg = bins.seg)
           GROUP BY media_id, eval_id, ham
           HAVING SUM(ABS(fa - fb)) <= ${Multimodal.MediaFpL1Window}),
         ebest AS (
           SELECT media_id, eval_id FROM (
             SELECT *, row_number() OVER (PARTITION BY media_id
                         ORDER BY ham, l1_fix, eval_id) AS rn
             FROM escored) WHERE rn = 1)
         SELECT q.media_id, q.fmt, q.quality_ok,
                (e.eval_id IS NOT NULL) AS contaminated, e.eval_id,
                d.corpus_id AS dup_of, d.ham AS hamming, d.l1_fix,
                CASE WHEN e.eval_id IS NOT NULL THEN 'contaminated'
                     WHEN NOT q.quality_ok THEN 'quality_fail'
                     WHEN d.corpus_id IS NOT NULL THEN 'near_dup'
                     ELSE 'new' END AS decision
         FROM quality q
           LEFT JOIN dbest d USING (media_id)
           LEFT JOIN ebest e USING (media_id)
         ORDER BY q.media_id"""

  /** Full-training-replay IVF oracle, shared by the trained and the
    * stored-artifact registrations (row-identical by construction).
    */
  private def ivfTrainedOracleSql: String =
    s"""${kmeansCentroidsSql()},
       assign AS (
         SELECT vec_id, v, cid FROM (
           SELECT e.vec_id, e.v, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
           FROM v0 e CROSS JOIN cent2 c) WHERE rn = 1),
       q AS (SELECT vec_id AS qid, v AS qv FROM v0 WHERE vec_id < 10),
       probes AS (
         SELECT qid, qv, cid FROM (
           SELECT q.qid, q.qv, c.cid,
                  row_number() OVER (PARTITION BY q.qid
                    ORDER BY CAST(list_cosine_similarity(q.qv, c.cv) AS FLOAT) DESC, c.cid) AS rn
           FROM q CROSS JOIN cent2 c) WHERE rn <= 4),
       scored AS (
         SELECT p.qid, a.vec_id,
                CAST(list_cosine_similarity(p.qv, a.v) AS FLOAT) AS sim
         FROM assign a JOIN probes p USING (cid)
         WHERE a.vec_id <> p.qid)
       SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS "rank",
              vec_id, sim
       FROM scored QUALIFY "rank" <= 5 ORDER BY qid, "rank""""

  /** Contrastive-triplet oracle: the simhash near-dup closure supplies
    * the component map (`base`), the Lloyd replay supplies the trained
    * centroids (`cent2`); positives argmax within the component,
    * hard negatives argmax within the IVF cell minus the component —
    * the same artifacts-joined shape as the Spark side. Shared by the
    * stored and rebuild registrations (row-identical by construction).
    */
  private def tripletsOracleSql: String =
    s"""$simHashClusterBaseSql,
         ${kmeansCentroidsSql(kExpr = adaptiveNlistSql).stripPrefix("WITH ")},
         asg AS (
           SELECT vec_id, v, cid FROM (
             SELECT e.vec_id, e.v, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM v0 e CROSS JOIN cent2 c) WHERE rn = 1),
         j AS (
           SELECT a.vec_id, a.v, a.cid, b.component_id
           FROM asg a JOIN base b ON a.vec_id = b.doc_id),
         pos AS (
           SELECT x.vec_id AS anchor_id, y.vec_id AS positive_id,
                  CAST(list_cosine_similarity(x.v, y.v) AS FLOAT) AS pos_sim,
                  row_number() OVER (PARTITION BY x.vec_id
                    ORDER BY CAST(list_cosine_similarity(x.v, y.v) AS FLOAT) DESC, y.vec_id) AS rn
           FROM j x JOIN j y
             ON x.component_id = y.component_id AND x.vec_id <> y.vec_id),
         neg AS (
           SELECT x.vec_id AS anchor_id, y.vec_id AS negative_id,
                  CAST(list_cosine_similarity(x.v, y.v) AS FLOAT) AS neg_sim,
                  row_number() OVER (PARTITION BY x.vec_id
                    ORDER BY CAST(list_cosine_similarity(x.v, y.v) AS FLOAT) DESC, y.vec_id) AS rn
           FROM j x JOIN j y
             ON x.cid = y.cid AND x.component_id <> y.component_id)
         SELECT p.anchor_id, p.positive_id, p.pos_sim, n.negative_id, n.neg_sim
         FROM (SELECT anchor_id, positive_id, pos_sim FROM pos WHERE rn = 1) p
         JOIN (SELECT anchor_id, negative_id, neg_sim FROM neg WHERE rn = 1) n
           USING (anchor_id)
         ORDER BY anchor_id"""

  val oracleSql: Map[String, String] = Map(
    "dedup_minhash_eval" ->
      // exact truth by the naive token-set join (integer threshold
      // algebra), caught-flag by the TOKEN-banded md5-minhash candidates
      s"""WITH ${minHashMd5BaseSql(32, 8, tokenFeatures = true).stripPrefix("WITH ")
             .replace("toks FROM documents)",
               "toks FROM documents WHERE ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < 20)")},
         mh AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bb a JOIN bb b USING (band_key) WHERE a.doc_id < b.doc_id),
         ts AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tokset
                FROM documents
                WHERE ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < 20),
         pr AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  len(list_intersect(a.tokset, b.tokset)) AS o,
                  len(a.tokset) AS na, len(b.tokset) AS nb
           FROM ts a JOIN ts b ON a.doc_id < b.doc_id),
         truth AS (
           SELECT doc_a, doc_b,
                  CAST(o AS DOUBLE) / CAST(na + nb - o AS DOUBLE) AS jaccard
           FROM pr WHERE o * 19 >= (na + nb) * 9 AND na + nb > o)
         SELECT t.doc_a, t.doc_b, t.jaccard,
                (mh.doc_a IS NOT NULL) AS caught
         FROM truth t LEFT JOIN mh
           ON t.doc_a = mh.doc_a AND t.doc_b = mh.doc_b
         ORDER BY t.doc_a, t.doc_b""",
    "dedup_minhash_md5" -> minHashMd5OracleSql(),
    "dedup_cluster_components" ->
      s"""$simHashClusterBaseSql
         SELECT doc_id, component_id FROM base ORDER BY doc_id""",
    "dedup_cluster_decision" ->
      s"""$simHashClusterBaseSql
         SELECT doc_id, component_id,
                COUNT(*) OVER (PARTITION BY component_id) AS cluster_size,
                doc_id = component_id AS keep
         FROM base ORDER BY doc_id""",
    // the rebuild twin is row-identical by construction (the artifact
    // IS the clustering), so its oracle is the same closure replay
    "dedup_cluster_decision_rebuild" ->
      s"""$simHashClusterBaseSql
         SELECT doc_id, component_id,
                COUNT(*) OVER (PARTITION BY component_id) AS cluster_size,
                doc_id = component_id AS keep
         FROM base ORDER BY doc_id""",
    "dedup_cluster_keep_best" ->
      s"""$simHashClusterBaseSql,
         q AS (
           SELECT doc_id, $qualityScoreSql AS quality_score
           FROM documents)
         SELECT b.doc_id, b.component_id, q.quality_score,
                (ROW_NUMBER() OVER (PARTITION BY b.component_id
                   ORDER BY q.quality_score DESC, b.doc_id) = 1) AS keep
         FROM base b JOIN q USING (doc_id) ORDER BY b.doc_id""",
    // size histogram over the same closure; SUM(BIGINT) is HUGEINT in
    // DuckDB, so n_docs re-casts to match Spark's long sum
    "dedup_cluster_sizes" ->
      s"""$simHashClusterBaseSql,
         sizes AS (
           SELECT component_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
           FROM base GROUP BY component_id)
         SELECT cluster_size,
                CAST(COUNT(*) AS BIGINT) AS n_clusters,
                CAST(SUM(cluster_size) AS BIGINT) AS n_docs
         FROM sizes GROUP BY cluster_size ORDER BY cluster_size""",
    // the incremental delta: full closure restricted to batch docs plus
    // corpus docs whose component differs from the corpus-only closure
    "dedup_incremental_components" ->
      ("WITH RECURSIVE " + simHashClosureCtes("", "") + ",\n         " +
        simHashClosureCtes("2", " WHERE doc_id % 10 <> 0") +
        """
         SELECT b.doc_id, b.component_id FROM base b WHERE b.doc_id % 10 = 0
         UNION ALL
         SELECT b.doc_id, b.component_id
         FROM base b JOIN base2 c USING (doc_id)
         WHERE b.component_id <> c.component_id
         ORDER BY doc_id"""),
    // per-source attribution over the same closure: each doc's source
    // joined against its representative's source
    "dedup_source_attribution" ->
      s"""$simHashClusterBaseSql
         SELECT d.source,
                CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(CASE WHEN b.doc_id = b.component_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(SUM(CASE WHEN b.doc_id <> b.component_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                CAST(SUM(CASE WHEN b.doc_id <> b.component_id AND r.source <> d.source
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_lost_cross_source
         FROM base b
           JOIN documents d ON b.doc_id = d.doc_id
           JOIN documents r ON b.component_id = r.doc_id
         GROUP BY d.source ORDER BY d.source""",
    "kmeans_codebook" ->
      // the trained centroid VALUES (cent2 is the oracle's own Lloyd
      // replay with the same fixed-point accumulation) — exploded to
      // (cid, pos, val) rows so doubles compare numerically
      s"""${kmeansCentroidsSql()}
         SELECT cid, CAST(generate_subscripts(cv, 1) - 1 AS INT) AS pos,
                unnest(cv) AS centroid_val
         FROM cent2 ORDER BY cid, pos""",
    "kmeans_assign" ->
      s"""${kmeansCentroidsSql()}
         SELECT vec_id, cid FROM (
           SELECT e.vec_id, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
           FROM v0 e CROSS JOIN cent2 c) WHERE rn = 1
         ORDER BY vec_id""",
    "emb_cluster_terms" ->
      // same Lloyd replay; cluster-level tf-idf with the float-cast
      // score convention (ranking on the float, term tiebreak)
      s"""${kmeansCentroidsSql()},
         ct_assign AS (
           SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM v0 e CROSS JOIN cent2 c) WHERE rn = 1),
         ct_tf AS (
           SELECT a.cid, unnest(string_split(d.text, ' ')) AS term
           FROM ct_assign a JOIN documents d ON d.doc_id = a.vec_id),
         ct_cnt AS (SELECT cid, term, COUNT(*) AS tfreq FROM ct_tf GROUP BY 1, 2),
         ct_len AS (SELECT cid, SUM(tfreq) AS clen FROM ct_cnt GROUP BY 1),
         ct_df AS (SELECT term, COUNT(*) AS cdf FROM ct_cnt GROUP BY 1),
         ct_k AS (SELECT COUNT(*) AS kn FROM ct_len),
         ct_scored AS (
           SELECT f.cid, f.term, f.tfreq,
                  CAST((CAST(f.tfreq AS DOUBLE) / l.clen)
                    * ln((k.kn + 1.0) / (d.cdf + 1.0)) AS FLOAT) AS score
           FROM ct_cnt f
           JOIN ct_len l USING (cid)
           JOIN ct_df d USING (term)
           CROSS JOIN ct_k k)
         SELECT cid, term, tfreq, score FROM (
           SELECT *, row_number() OVER (PARTITION BY cid
                       ORDER BY score DESC, term) AS rn
           FROM ct_scored)
         WHERE rn <= 5 ORDER BY cid, term""",
    "emb_semantic_prune" ->
      // same Lloyd replay; own-centroid sim is the rn=1 row's float, the
      // per-cell ranking and floor() cut are exact-integer on both sides
      s"""${kmeansCentroidsSql()},
         sp_assign AS (
           SELECT vec_id, cid, sim FROM (
             SELECT e.vec_id, c.cid,
                    CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) AS sim,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM v0 e CROSS JOIN cent2 c) WHERE rn = 1),
         sp_rank AS (
           SELECT vec_id, cid, sim,
                  CAST(row_number() OVER (PARTITION BY cid
                    ORDER BY sim DESC, vec_id) AS INT) AS cell_rank,
                  count(*) OVER (PARTITION BY cid) AS cell_n
           FROM sp_assign)
         SELECT vec_id, cid, sim, cell_rank,
                CAST(cell_rank > floor(0.25 * cell_n) AS INT) AS keep
         FROM sp_rank ORDER BY vec_id""",
    "decontam_semantic" ->
      // the incremental-semantic replay with roles transposed: the
      // verdict lands on the TRAIN side, contaminated rows only
      s"""${kmeansCentroidsSql()},
         iassign AS (
           SELECT vec_id, v, cid FROM (
             SELECT e.vec_id, e.v, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM v0 e CROSS JOIN cent2 c) WHERE rn = 1),
         ie AS (SELECT vec_id AS eval_id, v AS ev, cid FROM iassign WHERE vec_id % 10 = 0),
         it AS (SELECT vec_id, v, cid FROM iassign WHERE vec_id % 10 <> 0),
         ih AS (
           SELECT it.vec_id, ie.eval_id,
                  list_cosine_similarity(it.v, ie.ev) AS cs
           FROM it JOIN ie USING (cid)),
         ipick AS (
           SELECT vec_id, eval_id, CAST(cs AS FLOAT) AS cosf,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY CAST(cs AS FLOAT) DESC, eval_id) AS rn
           FROM ih WHERE cs >= 0.35)
         SELECT vec_id, eval_id AS worst_eval, cosf AS cos
         FROM ipick WHERE rn = 1 ORDER BY vec_id""",
    "emb_incremental_neardup" ->
      // same Lloyd replay + rn=1 assignment for both slices; candidates
      // join within cid, threshold on the DOUBLE cosine, pick ranks the
      // FLOAT cast (cos DESC, corpus_id) — the engine's max(struct)
      s"""${kmeansCentroidsSql()},
         iassign AS (
           SELECT vec_id, v, cid FROM (
             SELECT e.vec_id, e.v, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM v0 e CROSS JOIN cent2 c) WHERE rn = 1),
         ib AS (SELECT vec_id AS batch_id, v AS bv, cid FROM iassign WHERE vec_id % 10 = 0),
         ic AS (SELECT vec_id AS corpus_id, v, cid FROM iassign WHERE vec_id % 10 <> 0),
         ih0 AS (
           SELECT ib.batch_id, ic.corpus_id,
                  list_cosine_similarity(ic.v, ib.bv) AS cs
           FROM ic JOIN ib USING (cid)),
         ipick AS (
           SELECT batch_id, corpus_id, CAST(cs AS FLOAT) AS cosf,
                  row_number() OVER (PARTITION BY batch_id
                    ORDER BY CAST(cs AS FLOAT) DESC, corpus_id) AS rn
           FROM ih0 WHERE cs >= 0.35)
         SELECT b.vec_id, p.corpus_id IS NULL AS is_new,
                p.corpus_id AS dup_of, p.cosf AS cos
         FROM (SELECT vec_id FROM v0 WHERE vec_id % 10 = 0) b
           LEFT JOIN (SELECT * FROM ipick WHERE rn = 1) p ON b.vec_id = p.batch_id
         ORDER BY vec_id""",
    // the stored-index search is row-identical to the trained one (the
    // artifact IS the trained codebook), so both keys share one oracle
    "ann_topk_ivf_stored" -> ivfTrainedOracleSql,
    // binary quantization: the oracle computes Hamming as the count of
    // sign disagreements (identical by construction to the engine's
    // bit_count(sig XOR qsig) over packed sign bits), shortlists 50 per
    // query on (ham, vec_id), then reranks with exact float cosine
    "ann_topk_binary" ->
      """WITH v0 AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM v0 WHERE vec_id < 10),
         ham AS (
           SELECT q.qid, c.vec_id,
                  list_sum(list_transform(range(1, 65),
                    i -> CASE WHEN (c.v[i] > 0) <> (q.qv[i] > 0) THEN 1 ELSE 0 END)) AS ham
           FROM v0 c CROSS JOIN q WHERE c.vec_id <> q.qid),
         short AS (
           SELECT qid, vec_id FROM (
             SELECT qid, vec_id,
                    row_number() OVER (PARTITION BY qid ORDER BY ham, vec_id) AS rn
             FROM ham) WHERE rn <= 50),
         scored AS (
           SELECT s.qid, s.vec_id,
                  CAST(list_cosine_similarity(q.qv, c.v) AS FLOAT) AS sim
           FROM short s JOIN v0 c ON s.vec_id = c.vec_id JOIN q ON s.qid = q.qid)
         SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS "rank",
                vec_id, sim
         FROM scored QUALIFY "rank" <= 5 ORDER BY qid, "rank"""",
    "ann_topk_ivf_trained" -> ivfTrainedOracleSql,
    "pq_codes" ->
      s"""${pqBooksSql()}
         SELECT p0.vec_id, ${(0 until PqNumSub).map(s => s"p$s.code AS code_$s").mkString(", ")}
         FROM pick0 p0
           ${(1 until PqNumSub).map(s => s"JOIN pick$s p$s USING (vec_id)").mkString("\n           ")}
         ORDER BY vec_id""",
    "ann_topk_pq" ->
      // ADC: exact query vectors against code-reconstructed corpus; the
      // concatenated sub-centroids fold in the same element order as the
      // Spark dot over the concat'd reconstruction
      s"""${pqBooksSql()},
         recon AS (
           SELECT p0.vec_id, ${(0 until PqNumSub).map(s => s"b$s.cv").mkString(" || ")} AS rv
           FROM pick0 p0
             JOIN book0 b0 ON p0.code = b0.code
             ${(1 until PqNumSub).map(s =>
               s"JOIN pick$s p$s ON p0.vec_id = p$s.vec_id JOIN book$s b$s ON p$s.code = b$s.code")
               .mkString("\n             ")}),
         q AS (SELECT vec_id AS qid, v AS qv FROM v0 WHERE vec_id < 10),
         scored AS (
           SELECT q.qid, r.vec_id,
                  CAST(list_inner_product(q.qv, r.rv) AS FLOAT) AS sim
           FROM recon r CROSS JOIN q WHERE r.vec_id <> q.qid)
         SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS "rank",
                vec_id, sim
         FROM scored QUALIFY "rank" <= 5 ORDER BY qid, "rank"""",
    "ann_topk_ivfpq" ->
      // coarse cells from the cosine k-means replay, candidate scoring
      // over the PQ reconstruction — IVF bounds the scan, PQ the memory
      s"""${kmeansCentroidsSql()},
         ${pqBooksCtesSql()},
         cassign AS (
           SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM v0 e CROSS JOIN cent2 c) WHERE rn = 1),
         recon AS (
           SELECT p0.vec_id, ${(0 until PqNumSub).map(s => s"b$s.cv").mkString(" || ")} AS rv
           FROM pick0 p0
             JOIN book0 b0 ON p0.code = b0.code
             ${(1 until PqNumSub).map(s =>
               s"JOIN pick$s p$s ON p0.vec_id = p$s.vec_id JOIN book$s b$s ON p$s.code = b$s.code")
               .mkString("\n             ")}),
         ar AS (
           SELECT a.vec_id, a.cid, r.rv
           FROM cassign a JOIN recon r ON a.vec_id = r.vec_id),
         q AS (SELECT vec_id AS qid, v AS qv FROM v0 WHERE vec_id < 10),
         probes AS (
           SELECT qid, qv, cid FROM (
             SELECT q.qid, q.qv, c.cid,
                    row_number() OVER (PARTITION BY q.qid
                      ORDER BY CAST(list_cosine_similarity(q.qv, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM q CROSS JOIN cent2 c) WHERE rn <= 4),
         scored AS (
           SELECT p.qid, a.vec_id,
                  CAST(list_inner_product(p.qv, a.rv) AS FLOAT) AS sim
           FROM ar a JOIN probes p USING (cid)
           WHERE a.vec_id <> p.qid)
         SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS "rank",
                vec_id, sim
         FROM scored QUALIFY "rank" <= 5 ORDER BY qid, "rank"""",
    "ann_topk_ivfpq_res" ->
      // residual PQ: books trained on x - centroid(cell); scoring adds
      // the centroid back element-wise before the same fold
      s"""${kmeansCentroidsSql()},
         cassign AS (
           SELECT vec_id, v, cid FROM (
             SELECT e.vec_id, e.v, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM v0 e CROSS JOIN cent2 c) WHERE rn = 1),
         res AS (
           SELECT a.vec_id,
                  list_transform(range(len(a.v)), j -> a.v[j + 1] - c.cv[j + 1]) AS v
           FROM cassign a JOIN cent2 c USING (cid)),
         ${pqBooksCtesSql(src = "res")},
         rrecon AS (
           SELECT p0.vec_id, b0.cv || b1.cv || b2.cv || b3.cv || b4.cv || b5.cv || b6.cv || b7.cv AS rv
           FROM pick0 p0
             JOIN book0 b0 ON p0.code = b0.code
             JOIN pick1 p1 ON p0.vec_id = p1.vec_id JOIN book1 b1 ON p1.code = b1.code
             JOIN pick2 p2 ON p0.vec_id = p2.vec_id JOIN book2 b2 ON p2.code = b2.code
             JOIN pick3 p3 ON p0.vec_id = p3.vec_id JOIN book3 b3 ON p3.code = b3.code
             JOIN pick4 p4 ON p0.vec_id = p4.vec_id JOIN book4 b4 ON p4.code = b4.code
             JOIN pick5 p5 ON p0.vec_id = p5.vec_id JOIN book5 b5 ON p5.code = b5.code
             JOIN pick6 p6 ON p0.vec_id = p6.vec_id JOIN book6 b6 ON p6.code = b6.code
             JOIN pick7 p7 ON p0.vec_id = p7.vec_id JOIN book7 b7 ON p7.code = b7.code),
         frecon AS (
           SELECT a.vec_id, a.cid,
                  list_transform(range(len(c.cv)), j -> c.cv[j + 1] + r.rv[j + 1]) AS rv
           FROM cassign a JOIN cent2 c USING (cid)
             JOIN rrecon r ON a.vec_id = r.vec_id),
         q AS (SELECT vec_id AS qid, v AS qv FROM v0 WHERE vec_id < 10),
         probes AS (
           SELECT qid, qv, cid FROM (
             SELECT q.qid, q.qv, c.cid,
                    row_number() OVER (PARTITION BY q.qid
                      ORDER BY CAST(list_cosine_similarity(q.qv, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM q CROSS JOIN cent2 c) WHERE rn <= 4),
         scored AS (
           SELECT p.qid, f.vec_id,
                  CAST(list_inner_product(p.qv, f.rv) AS FLOAT) AS sim
           FROM frecon f JOIN probes p USING (cid)
           WHERE f.vec_id <> p.qid)
         SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS "rank",
                vec_id, sim
         FROM scored QUALIFY "rank" <= 5 ORDER BY qid, "rank"""",
    "corpus_decontam_report" ->
      s"""$decontamGramsSql
         SELECT g.doc_id, COUNT(*) AS n_shared_grams
         FROM g JOIN ev USING (gram) WHERE g.bucket < 95
         GROUP BY g.doc_id ORDER BY g.doc_id""",
    "corpus_decontam_bloom" ->
      s"""$decontamGramsSql
         SELECT g.doc_id, COUNT(*) AS n_shared_grams
         FROM g JOIN ev USING (gram) WHERE g.bucket < 95
         GROUP BY g.doc_id ORDER BY g.doc_id""",
    "decontam_containment" ->
      // per-(train, eval) distinct-gram containment at τ = 0.02 (the
      // registered τ is pinned low so the synthetic corpus' diffuse
      // overlap still yields report rows at every sf — production runs
      // pass the published 0.2-0.7 thresholds): counts are exact
      // integers, the division is one deterministic IEEE op
      s"""$decontamGramsSql,
         evd AS (SELECT doc_id AS eval_id, gram FROM g WHERE bucket >= 95),
         evn AS (SELECT eval_id, COUNT(*) AS n_eval FROM evd GROUP BY 1),
         sh AS (
           SELECT g.doc_id, e.eval_id, COUNT(*) AS n_shared
           FROM g JOIN evd e USING (gram) WHERE g.bucket < 95 GROUP BY 1, 2)
         SELECT s.doc_id, s.eval_id, s.n_shared, n.n_eval,
                CAST(s.n_shared AS DOUBLE) / CAST(n.n_eval AS DOUBLE) AS containment
         FROM sh s JOIN evn n USING (eval_id)
         WHERE CAST(s.n_shared AS DOUBLE) / CAST(n.n_eval AS DOUBLE) >= CAST(0.02 AS DOUBLE)
         ORDER BY s.doc_id, s.eval_id""",
    "corpus_decontaminated" ->
      s"""$decontamGramsSql,
         bad AS (SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram) WHERE g.bucket < 95)
         SELECT doc_id, lang, source, n_chars FROM d
         WHERE bucket < 95 AND doc_id NOT IN (SELECT doc_id FROM bad)
         ORDER BY doc_id""",
    // the union gate: each metric's replay chained under one WITH —
    // gram/containment ride decontamGramsSql's CTEs, near-dup rides the
    // token-minhash chain (its 'sh' CTE renamed csh in the containment
    // leg to avoid colliding with the minhash shingle CTE)
    "decontam_gate" ->
      (s"""$decontamGramsSql,
         ${minHashMd5BaseSql(32, 8, tokenFeatures = true).stripPrefix("WITH ")},
         bk AS (
           SELECT doc_id, ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS bucket
           FROM documents),
         ndc AS (
           SELECT DISTINCT t.doc_id, e.doc_id AS eval_id
           FROM bb t JOIN bk bt ON t.doc_id = bt.doc_id
                JOIN bb e ON t.band_key = e.band_key
                JOIN bk be ON e.doc_id = be.doc_id
           WHERE bt.bucket < 95 AND be.bucket >= 95),
         ndt AS (
           SELECT doc_id, list_distinct(string_split(text, ' ')) AS tokset FROM documents),
         nd AS (
           SELECT DISTINCT c.doc_id
           FROM ndc c JOIN ndt ta ON c.doc_id = ta.doc_id
                JOIN ndt tb ON c.eval_id = tb.doc_id
           WHERE CAST(len(list_intersect(ta.tokset, tb.tokset)) AS DOUBLE)
                   / len(list_distinct(list_concat(ta.tokset, tb.tokset))) >= CAST(0.5 AS DOUBLE)),
         gh AS (SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram) WHERE g.bucket < 95),
         evd AS (SELECT doc_id AS eval_id, gram FROM g WHERE bucket >= 95),
         evn AS (SELECT eval_id, COUNT(*) AS n_eval FROM evd GROUP BY 1),
         csh AS (
           SELECT g.doc_id, e.eval_id, COUNT(*) AS n_shared
           FROM g JOIN evd e USING (gram) WHERE g.bucket < 95 GROUP BY 1, 2),
         ch AS (
           SELECT DISTINCT s.doc_id
           FROM csh s JOIN evn n USING (eval_id)
           WHERE CAST(s.n_shared AS DOUBLE) / CAST(n.n_eval AS DOUBLE) >= CAST(0.02 AS DOUBLE))
         SELECT d.doc_id,
                CAST(CASE WHEN gh.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS gram_hit,
                CAST(CASE WHEN ch.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS containment_hit,
                CAST(CASE WHEN nd.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS neardup_hit,
                CAST(CASE WHEN gh.doc_id IS NOT NULL OR ch.doc_id IS NOT NULL
                           OR nd.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS dropped
         FROM d LEFT JOIN gh ON d.doc_id = gh.doc_id
                LEFT JOIN ch ON d.doc_id = ch.doc_id
                LEFT JOIN nd ON d.doc_id = nd.doc_id
         WHERE d.bucket < 95 ORDER BY d.doc_id"""),
    // minhash decontam: the md5 band replay (dedup_minhash_md5's CTE)
    // split train/eval on the content-hash bucket, candidates from band
    // collisions, exact token-set Jaccard, worst offender per train doc.
    // The stored row consumes the persisted train band index, which is
    // row-identical by construction — same oracle.
    "decontam_neardup" -> decontamNeardupOracleSql,
    "decontam_neardup_stored" -> decontamNeardupOracleSql,
    "corpus_stratified_sample" ->
      s"""WITH d AS (
           SELECT doc_id, lang, source, n_chars,
                  ('0x' || substr(md5(text), 9, 8))::BIGINT AS k
           FROM documents)
         SELECT doc_id, lang, source, n_chars FROM d
         WHERE k < $stratifiedCaseSql ORDER BY doc_id""",
    "corpus_mixture_sample" ->
      s"""WITH d AS (
           SELECT doc_id, source, lang, n_chars,
                  ('0x' || substr(md5(text), 9, 8))::BIGINT AS k,
                  $mixtureWeightCaseSql AS w
           FROM documents),
         counts AS (
           SELECT source, w, CAST(COUNT(*) AS DOUBLE) AS n
           FROM d WHERE w IS NOT NULL GROUP BY source, w),
         rates AS (
           SELECT source,
                  CAST(floor((w * (SELECT MIN(n / w) FROM counts)) / n * 4294967296.0) AS BIGINT) AS thresh
           FROM counts)
         SELECT doc_id, source, lang, n_chars FROM d JOIN rates USING (source)
         WHERE k < thresh ORDER BY doc_id""",
    "corpus_temp_mixture" ->
      // τ=1/2 language temperature mixture: √n fixed-pointed to BIGINT
      // before the (order-dependent) sum; shares/rates replay the pinned
      // operation order; acceptance is the integer hash-threshold compare
      """WITH c AS (
           SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang),
         f AS (
           SELECT lang, n,
                  CAST(round(sqrt(CAST(n AS DOUBLE)) * 1048576.0, 0) AS BIGINT) AS sqf
           FROM c),
         r AS (
           SELECT lang,
                  least(1.0,
                    ((CAST(sqf AS DOUBLE) / CAST((SELECT SUM(sqf) FROM f) AS DOUBLE))
                      * (0.5 * CAST((SELECT SUM(n) FROM f) AS DOUBLE)))
                      / CAST(n AS DOUBLE)) AS rate
           FROM f),
         t AS (
           SELECT lang, CAST(floor(rate * 4294967296.0) AS BIGINT) AS thresh FROM r),
         d AS (
           SELECT doc_id, lang, source, n_chars,
                  ('0x' || substr(md5(text), 9, 8))::BIGINT AS k
           FROM documents)
         SELECT doc_id, lang, source, n_chars FROM d JOIN t USING (lang)
         WHERE k < thresh ORDER BY doc_id""",
    "corpus_shuffle_order" ->
      """WITH d AS (
           SELECT doc_id,
                  ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS shuffle_key
           FROM documents)
         SELECT doc_id, shuffle_key, shuffle_key % 64 AS bucket,
                CAST(row_number() OVER (PARTITION BY shuffle_key % 64
                  ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
         FROM d ORDER BY bucket, pos""",
    "corpus_shard_manifest" ->
      """WITH d AS (
           SELECT doc_id,
                  ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS skey,
                  ('0x' || substr(md5(text), 1, 15))::BIGINT AS dh,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
           FROM documents),
         p AS (
           SELECT *, skey % 64 AS bucket,
                  CAST(row_number() OVER (PARTITION BY skey % 64
                    ORDER BY skey, doc_id) AS BIGINT) AS pos
           FROM d),
         s AS (
           SELECT bucket, ntok, dh,
                  ('0x' || substr(md5(bucket || ':' || pos || ':' || dh), 1, 15))::BIGINT AS slot
           FROM p)
         SELECT bucket, COUNT(*) AS n_docs,
                CAST(SUM(ntok) AS BIGINT) AS n_tokens,
                bit_xor(dh) AS content_fp, bit_xor(slot) AS order_fp
         FROM s GROUP BY bucket ORDER BY bucket""",
    "ann_topk_lsh" ->
      s"""${lshBucketKeysSql()},
         qb AS (SELECT vec_id AS qid, bucket_key FROM bb WHERE vec_id < 10),
         cand AS (SELECT DISTINCT qb.qid, bb.vec_id
                  FROM bb JOIN qb USING (bucket_key) WHERE bb.vec_id <> qb.qid),
         scored AS (
           SELECT qid, cand.vec_id,
                  CAST(list_cosine_similarity(qv.v, cv.v) AS FLOAT) AS sim
           FROM cand JOIN v0 cv ON cand.vec_id = cv.vec_id
                     JOIN v0 qv ON cand.qid = qv.vec_id)
         SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS "rank",
                vec_id, sim
         FROM scored QUALIFY "rank" <= 5 ORDER BY qid, "rank"""",
    "emb_margin_pairs" ->
      // ratio-margin bitext mining: float-washed cosines, fixed-point
      // k-NN neighborhood averages, one pinned double op chain for the
      // margin — mirrored verbatim from the Spark side
      s"""WITH e AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         sides AS (
           SELECT e.vec_id, e.v, d.lang = 'en' AS is_en
           FROM e JOIN documents d ON e.vec_id = d.doc_id),
         a0 AS (SELECT vec_id AS src_id, v AS src_v FROM sides WHERE is_en),
         b AS (SELECT vec_id AS tgt_id, v AS tgt_v FROM sides WHERE NOT is_en),
         -- pair budget (interpolated from the Spark row's constant): past
         -- it the src side thins by the same deterministic md5 split the
         -- Spark side applies (cut = budget / (nA*nB) * 2^32, identical
         -- double op order)
         a AS (
           SELECT a0.* FROM a0,
                (SELECT COUNT(*) AS na FROM a0) x,
                (SELECT COUNT(*) AS nb FROM b) y
           WHERE CAST(na AS BIGINT) * CAST(nb AS BIGINT) <= ${Similarity.MarginExactPairBudget}
              OR ('0x' || substr(md5(CAST(src_id AS VARCHAR) || '|margin_cap'), 1, 8))::BIGINT
                 < CAST(floor(CAST(${Similarity.MarginExactPairBudget} AS DOUBLE)
                              / CAST(CAST(na AS BIGINT) * CAST(nb AS BIGINT) AS DOUBLE)
                              * 4294967296.0) AS BIGINT)),
         sims AS (
           SELECT src_id, tgt_id,
                  CAST(list_cosine_similarity(src_v, tgt_v) AS FLOAT) AS sim
           FROM a CROSS JOIN b),
         fwd AS (
           SELECT src_id, tgt_id, sim,
                  row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, tgt_id) AS rn
           FROM sims QUALIFY rn <= 4),
         fwd_avg AS (
           SELECT src_id,
                  CAST(sum(CAST(round(CAST(sim AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE) AS x_avg_fp
           FROM fwd GROUP BY src_id),
         bwd_avg AS (
           SELECT tgt_id,
                  CAST(sum(CAST(round(CAST(sim AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE) AS y_avg_fp
           FROM (SELECT src_id, tgt_id, sim,
                        row_number() OVER (PARTITION BY tgt_id ORDER BY sim DESC, src_id) AS rn
                 FROM sims QUALIFY rn <= 4)
           GROUP BY tgt_id)
         SELECT src_id, tgt_id, sim, margin FROM (
           SELECT f.src_id, f.tgt_id, f.sim,
                  CAST(CAST(f.sim AS DOUBLE)
                       / (((x_avg_fp + y_avg_fp) / 2.0) / 1000000.0) AS FLOAT) AS margin
           FROM (SELECT src_id, tgt_id, sim FROM fwd WHERE rn = 1) f
           JOIN fwd_avg USING (src_id) JOIN bwd_avg USING (tgt_id))
         WHERE margin >= 1.0 ORDER BY src_id""",
    // serve and rebuild rows are row-identical by construction (the
    // artifacts ARE the clustering and the codebook): one oracle
    "emb_training_triplets" -> tripletsOracleSql,
    "emb_training_triplets_rebuild" -> tripletsOracleSql,
    // budget interpolated from the one constant the Spark row reads, so
    // the two sides can never drift apart silently
    "emb_margin_pairs_ivf" -> marginIvfOracleSql(Similarity.MarginIvfPairBudget),
    "emb_margin_pairs_ivf_capped" -> marginIvfOracleSql(2000L),
    "emb_knn_refine" ->
      // one NN-descent round over the knn-graph CTE: undirected
      // neighborhood ∪ two-hop candidates, re-scored, per-node top-k —
      // UNION dedups on both engines, same float-washed cosine + dst
      // tie-break as the seed graph
      s"""${lshBucketKeysSql()},
         cand AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
                  FROM bb a JOIN bb b USING (bucket_key) WHERE a.vec_id <> b.vec_id),
         scored AS (
           SELECT src, dst,
                  CAST(list_cosine_similarity(va.v, vb.v) AS FLOAT) AS sim
           FROM cand JOIN v0 va ON src = va.vec_id
                     JOIN v0 vb ON dst = vb.vec_id),
         g AS (
           SELECT src, dst FROM (
             SELECT src, dst,
                    row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rnk
             FROM scored) WHERE rnk <= 5),
         und AS (SELECT src, dst FROM g UNION SELECT dst, src FROM g),
         c2 AS (SELECT src, dst FROM und
                UNION SELECT src, far FROM (
                  SELECT a.src, b.far FROM und a
                  JOIN (SELECT src AS dst, dst AS far FROM und) b USING (dst)
                  WHERE a.src <> b.far)),
         s2 AS (
           SELECT src, dst,
                  CAST(list_cosine_similarity(va.v, vb.v) AS FLOAT) AS sim
           FROM c2 JOIN v0 va ON src = va.vec_id
                   JOIN v0 vb ON dst = vb.vec_id)
         SELECT src, CAST(row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS INT) AS "rank",
                dst, sim
         FROM s2 QUALIFY "rank" <= 5 ORDER BY src, "rank"""",
    "emb_knn_graph" ->
      s"""${lshBucketKeysSql()},
         cand AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
                  FROM bb a JOIN bb b USING (bucket_key) WHERE a.vec_id <> b.vec_id),
         scored AS (
           SELECT src, dst,
                  CAST(list_cosine_similarity(va.v, vb.v) AS FLOAT) AS sim
           FROM cand JOIN v0 va ON src = va.vec_id
                     JOIN v0 vb ON dst = vb.vec_id)
         SELECT src, CAST(row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS INT) AS "rank",
                dst, sim
         FROM scored QUALIFY "rank" <= 5 ORDER BY src, "rank"""",
    "emb_near_dup_pairs" ->
      s"""${lshBucketKeysSql()},
         cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
                  FROM bb a JOIN bb b USING (bucket_key) WHERE a.vec_id < b.vec_id),
         scored AS (
           SELECT vec_a, vec_b, list_cosine_similarity(va.v, vb.v) AS cs
           FROM cand JOIN v0 va ON vec_a = va.vec_id
                     JOIN v0 vb ON vec_b = vb.vec_id)
         SELECT vec_a, vec_b, CAST(cs AS FLOAT) AS cos_sim
         FROM scored WHERE cs >= 0.35 ORDER BY vec_a, vec_b""",
    "s1_csv_roundtrip" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "s2_csv_section_delim" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "s3_parquet_scan" ->
      "SELECT p_partkey, p_name, p_retailprice FROM part ORDER BY p_partkey",
    "s4_csv_schema_pinned" ->
      "SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey",
    "s5_json_corrupt_permissive" ->
      // the dump holds every customer row plus one good and two broken
      // extra lines
      """SELECT (SELECT COUNT(*) FROM customer) + 1 AS n_good,
                CAST(2 AS BIGINT) AS n_corrupt""",
    "k2_parquet_gzip_roundtrip" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey",
    "k3_show_limit" ->
      "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 21",
    "k4_json_roundtrip" ->
      "SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey",
    "k5_orc_roundtrip" ->
      "SELECT p_partkey, p_name, p_retailprice FROM part ORDER BY p_partkey",
    "k6_partitioned_roundtrip" ->
      "SELECT event_id, user_id, value, event_type FROM events WHERE event_type = 'click' ORDER BY event_id",
    "k7_zstd_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "p1_select_prune" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "p2_with_column" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice * (1.0 - l_discount) AS gross FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "p3_rename" ->
      "SELECT c_custkey AS id, c_name AS name FROM customer ORDER BY id",
    "p4_drop_dup_key" ->
      "SELECT o_orderkey, o_custkey, c_name FROM orders LEFT JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey",
    "f1_conj_filter" ->
      """WITH t AS (SELECT event_id, CASE WHEN event_type = 'error' THEN CAST('nan' AS DOUBLE) WHEN event_type = 'view' THEN NULL ELSE value END AS v FROM events)
         SELECT event_id, v FROM t WHERE v IS NOT NULL AND NOT isnan(v) AND v >= 100.0 ORDER BY event_id""",
    "f2_case_when" ->
      "SELECT l_orderkey, l_linenumber, CASE WHEN l_quantity < 10 THEN 'low' WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS bucket FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "f3_ends_with" ->
      "SELECT p_partkey, p_name FROM part WHERE p_name LIKE '%bolt' ORDER BY p_partkey",
    "f4_contains" ->
      "SELECT p_partkey, p_name FROM part WHERE p_name LIKE '%wid%' ORDER BY p_partkey",
    "f5_eq_coerce" ->
      "SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_linenumber = 1 ORDER BY l_orderkey",
    "o1_sort_desc_string" ->
      "SELECT o_orderkey, o_orderpriority FROM orders ORDER BY o_orderpriority DESC, o_orderkey",
    "o2_topk" ->
      "SELECT event_id, value FROM events ORDER BY value DESC, event_id LIMIT 50",
    "a1_group_avg" ->
      """SELECT c_nationkey,
                CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(c_acctbal) AS avg_acctbal,
                COUNT(*) AS num_customers
         FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""",
    "a2_multi_max" ->
      """SELECT l_returnflag, MAX(l_quantity) AS max_qty,
                MAX(CAST(l_shipdate AS DATE)) AS max_ship_date,
                MAX(l_linestatus) AS max_status
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "a2b_max_array" ->
      "SELECT p_brand, array_to_string(MAX(string_split(p_name, ' ')), '|') AS max_name_words FROM part GROUP BY p_brand ORDER BY p_brand",
    "a3_collect_list" ->
      """SELECT l_orderkey, array_to_string(list_sort(list(l_linenumber)), '|') AS line_numbers
         FROM lineitem WHERE l_orderkey % 100 = 0 GROUP BY l_orderkey ORDER BY l_orderkey""",
    "a4_count_star" ->
      "SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type ORDER BY event_type",
    "a5_avg_with_nulls" ->
      """WITH t AS (SELECT event_type, CASE WHEN event_type = 'view' THEN NULL ELSE value END AS v FROM events)
         SELECT event_type,
                CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / COUNT(v) AS avg_v,
                COUNT(v) AS cnt_v
         FROM t GROUP BY event_type ORDER BY event_type""",
    "a6_drop_duplicates" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY l_returnflag, l_linestatus",
    "a7_na_fill" ->
      """WITH t AS (SELECT event_id, CASE WHEN event_type = 'error' THEN CAST('nan' AS DOUBLE) WHEN event_type = 'view' THEN NULL ELSE value END AS v FROM events)
         SELECT event_id, CASE WHEN v IS NULL OR isnan(v) THEN 0.0 ELSE v END AS v FROM t ORDER BY event_id""",
    "j1_left_join_agg" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS num_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "j2_broadcast_join" ->
      """SELECT p_type, COUNT(*) AS cnt,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_type ORDER BY p_type""",
    "j3_semi_join" ->
      "SELECT c_custkey, c_name FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey",
    "j4_anti_join" ->
      "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey",
    "j5_asof_lookup" ->
      """SELECT event_id, user_id,
                last_value(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_us
         FROM events ORDER BY event_id""",
    "j6_range_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events),
         p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pus
               FROM events WHERE event_type = 'purchase')
         SELECT e.event_id, p.purchase_id, e.tus - p.pus AS lag_us
         FROM e JOIN p ON e.user_id = p.user_id
           AND e.tus >= p.pus AND e.tus < p.pus + 3600000000
           AND e.event_id <> p.purchase_id
         ORDER BY event_id, purchase_id""",
    "j6b_range_join_left" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events),
         p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pus
               FROM events WHERE event_type = 'purchase')
         SELECT p.purchase_id, e.event_id, e.tus - p.pus AS lag_us
         FROM p LEFT JOIN e ON e.user_id = p.user_id
           AND e.tus >= p.pus AND e.tus < p.pus + 3600000000
           AND e.event_id <> p.purchase_id
         ORDER BY purchase_id, event_id""",
    "dedup_events_batch" ->
      """SELECT user_id, event_type, epoch_ns(ts) // 60000000000 AS minute_bucket,
                MIN(event_id) AS keep_id, COUNT(*) AS copies
         FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "set_union_all" ->
      """SELECT c_custkey AS id FROM customer WHERE c_mktsegment = 'BUILDING'
         UNION ALL SELECT c_custkey AS id FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
         ORDER BY id""",
    "set_intersect" ->
      """SELECT o_custkey AS id FROM orders
         INTERSECT SELECT c_custkey AS id FROM customer WHERE c_acctbal > 0
         ORDER BY id""",
    "set_except" ->
      """SELECT c_custkey AS id FROM customer
         EXCEPT SELECT o_custkey AS id FROM orders
         ORDER BY id""",
    "rollup_agg" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "cube_agg" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "sketch_cms_counts" ->
      // exact counts: the pinned-seed CMS over a 5-key domain in
      // 2000-counter rows is collision-free, so estimate == truth and the
      // hash match certifies the sketch build/merge/query path
      """SELECT event_type, COUNT(*) AS est_count FROM events
         WHERE event_type IS NOT NULL GROUP BY event_type
         ORDER BY event_type""",
    "events_assoc_lift" ->
      // exact counts over the SAME capped baskets (the cap is part of
      // the contract); the lift division has exact-integer operands on
      // both sides — no float wash needed
      """WITH it AS (
           SELECT DISTINCT user_id,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
           FROM events
           WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL),
         capped AS (
           SELECT user_id, item FROM (
             SELECT user_id, item,
                    row_number() OVER (PARTITION BY user_id ORDER BY item) AS rn
             FROM it) WHERE rn <= 64),
         ni AS (SELECT item, COUNT(*) AS n FROM capped GROUP BY 1),
         tot AS (SELECT COUNT(DISTINCT user_id) AS u FROM capped),
         pr AS (
           SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_ab
           FROM capped a JOIN capped b
             ON a.user_id = b.user_id AND a.item < b.item
           GROUP BY 1, 2 HAVING COUNT(*) >= 5)
         SELECT item_a, item_b, n_ab,
                CAST(n_ab * u AS DOUBLE) / CAST(na.n * nb.n AS DOUBLE) AS lift
         FROM pr
           JOIN ni na ON pr.item_a = na.item
           JOIN ni nb ON pr.item_b = nb.item
           CROSS JOIN tot
         ORDER BY lift DESC, item_a, item_b LIMIT 100""",
    "sketch_heavy_hitters" ->
      // the MG candidate pass is a guaranteed superset and the second
      // pass re-counts exactly, so the output is the plain GROUP BY /
      // HAVING answer — partition-independent, hash-oracled
      s"""WITH tk AS (
           SELECT unnest(${wsToksSql("text")}) AS token FROM documents),
         tot AS (SELECT COUNT(*) AS n FROM tk),
         c AS (SELECT token, COUNT(*) AS freq FROM tk GROUP BY 1)
         SELECT token, freq FROM c, tot
         WHERE freq * 256 > tot.n ORDER BY token""",
    "sketch_heavy_hitters_wide" ->
      s"""WITH tk AS (
           SELECT unnest(${wsToksSql("text")}) AS token FROM documents),
         tot AS (SELECT COUNT(*) AS n FROM tk),
         c AS (SELECT token, COUNT(*) AS freq FROM tk GROUP BY 1)
         SELECT token, freq FROM c, tot
         WHERE freq * 4096 > tot.n ORDER BY token""",
    "sketch_merge_exact" ->
      // HLL union is lossless, so the engine-side merged-vs-direct
      // estimate comparison is deterministically true; the oracle pins
      // the literal per event type — a hash match certifies the sketch
      // build/merge/estimate path end to end
      """SELECT event_type, true AS merge_exact FROM events
         WHERE event_type IS NOT NULL GROUP BY event_type
         ORDER BY event_type""",
    "sketch_intersect_exact" ->
      // true pairwise distinct-user overlap; jaccard is one divide of
      // exact integer operands
      """WITH ut AS (
           SELECT DISTINCT event_type, user_id FROM events
           WHERE event_type IS NOT NULL),
         per AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1),
         pairs AS (
           SELECT a.event_type AS type_a, b.event_type AS type_b,
                  COUNT(*) AS exact_both
           FROM ut a JOIN ut b
             ON a.user_id = b.user_id AND a.event_type < b.event_type
           GROUP BY 1, 2)
         SELECT p.type_a, p.type_b,
                pa.n AS exact_a, pb.n AS exact_b, p.exact_both,
                CAST(p.exact_both AS DOUBLE)
                  / CAST(pa.n + pb.n - p.exact_both AS DOUBLE) AS exact_jaccard
         FROM pairs p
         JOIN per pa ON p.type_a = pa.event_type
         JOIN per pb ON p.type_b = pb.event_type
         ORDER BY p.type_a, p.type_b""",
    "sketch_quantile_buckets" ->
      s"""$ddBucketsSql
         SELECT event_type, sign, bucket, cnt FROM g
         ORDER BY event_type, sign, bucket""",
    "sketch_quantile_values" ->
      s"""$ddBucketsSql,
         t AS (SELECT event_type, SUM(cnt) AS n FROM g GROUP BY event_type),
         c AS (SELECT event_type, sign, bucket, cnt,
                 SUM(cnt) OVER (PARTITION BY event_type
                   ORDER BY sign, sign * bucket) AS cum
               FROM g),
         x AS (SELECT c.event_type, q.q, c.sign, c.bucket, c.cum,
                 CAST(CASE WHEN c.sign = 0 THEN CAST(0.0 AS DOUBLE)
                      ELSE CAST(c.sign AS DOUBLE)
                           * (CAST(2.0 AS DOUBLE) * power($ddGammaSql, c.bucket)
                              / $ddGammaP1Sql)
                      END AS FLOAT) AS rep
               FROM c JOIN t USING (event_type)
                 CROSS JOIN (SELECT unnest([CAST(0.5 AS DOUBLE),
                                            CAST(0.99 AS DOUBLE)]) AS q) q
               WHERE c.cum >= greatest(1,
                 CAST(ceil(q.q * CAST(t.n AS DOUBLE)) AS BIGINT)))
         SELECT event_type, q, rep AS quantile_value FROM x
         QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type, q
           ORDER BY sign, sign * bucket) = 1
         ORDER BY event_type, q""",
    "events_enriched" ->
      """SELECT e.event_id, e.user_id, e.event_type, e.value,
                c.c_mktsegment, c.c_acctbal
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
         ORDER BY e.event_id""",
    "pivot_agg" ->
      """SELECT user_id,
                COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
                COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
                COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
                COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
                COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
         FROM events GROUP BY user_id ORDER BY user_id""",
    "json_extract" ->
      "SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val FROM events ORDER BY event_id",
    "grouping_sets_agg" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "exact_median" ->
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty,
                quantile_cont(l_quantity, 0.9) AS p90_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // the Spark side runs this IDENTICAL string through spark.sql over temp
    // views — one SQL text, two engines
    "sql_via_view" ->
      """SELECT n_name, COUNT(*) AS cnt,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       FROM orders JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       GROUP BY n_name ORDER BY n_name""",
    "stats_profile" ->
      """SELECT COUNT(*) AS n_rows,
                CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS price_nulls,
                MIN(o_totalprice) AS price_min,
                MAX(o_totalprice) AS price_max,
                COUNT(DISTINCT o_custkey) AS custkey_ndv,
                COUNT(DISTINCT o_orderstatus) AS status_ndv,
                MIN(CAST(o_orderdate AS DATE)) AS date_min,
                MAX(CAST(o_orderdate AS DATE)) AS date_max
         FROM orders""",
    "sample_hash" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders
         WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 100 < 5
         ORDER BY o_orderkey""",
    "e1_regexp_extract" ->
      "SELECT p_partkey, regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS brand_num FROM part ORDER BY p_partkey",
    "e2_round" ->
      "SELECT o_orderkey, ROUND(o_totalprice / 7.0, 2) AS price_seventh FROM orders ORDER BY o_orderkey",
    "e3_to_date_fmt" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%B %-d, %Y') AS pretty,
                CAST(strptime(strftime(o_orderdate, '%B %-d, %Y'), '%B %-d, %Y') AS DATE) AS parsed
         FROM orders ORDER BY o_orderkey""",
    "e4_split" ->
      "SELECT p_partkey, array_to_string(string_split(p_name, ' '), '|') AS words FROM part ORDER BY p_partkey",
    "e5_non_ansi_cast" ->
      """SELECT event_id, TRY_CAST(event_type AS DOUBLE) AS bad_double,
                TRY_CAST(regexp_extract(props, '\{"k": ([0-9]+)\}', 1) AS BIGINT) AS k_val,
                TRY_CAST(CASE WHEN event_type = 'error' THEN 'nan' ELSE '1.5' END AS DOUBLE) AS nan_or_num
         FROM events ORDER BY event_id""",
    "e7_arithmetic" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "e8_boolean" ->
      "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem WHERE l_quantity >= 10 AND NOT (l_returnflag = 'A') ORDER BY l_orderkey, l_linenumber",
    "g2_explode_outer" ->
      // outer unnest emulation: matched rows via unnest, empty-list rows
      // re-attached with a NULL element
      """WITH p AS (
           SELECT p_partkey,
                  CASE WHEN p_partkey % 10 = 0 THEN CAST([] AS VARCHAR[])
                       ELSE string_split(p_name, ' ') END AS l
           FROM part),
         m AS (SELECT p_partkey, unnest(l) AS tok FROM p WHERE len(l) > 0),
         e AS (SELECT p_partkey, CAST(NULL AS VARCHAR) AS tok FROM p WHERE len(l) = 0)
         SELECT * FROM m UNION ALL SELECT * FROM e ORDER BY p_partkey, tok""",
    "g1_explode" ->
      "SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word FROM part ORDER BY p_partkey, word",
    "e9_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS upper_name, lower(p_brand) AS lower_brand,
                trim('  ' || p_type || ' ') AS trimmed,
                concat_ws('-', p_brand, p_type) AS joined,
                substr(p_name, 1, 4) AS head4,
                CAST(length(p_name) AS BIGINT) AS name_len,
                replace(p_name, ' ', '_') AS snake,
                lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded_key
         FROM part ORDER BY p_partkey""",
    "e10_date_funcs" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
                CAST(o_orderdate AS DATE) + 30 AS plus30,
                CAST((CAST(o_orderdate AS DATE) - INTERVAL 2 MONTH) AS DATE) AS minus2m,
                date_trunc('month', CAST(o_orderdate AS DATE)) AS month_start,
                CAST(year(o_orderdate) AS INT) AS yr,
                CAST(month(o_orderdate) AS INT) AS mo,
                CAST(day(o_orderdate) AS INT) AS dom,
                CAST(CAST(o_orderdate AS DATE) - DATE '2024-01-01' AS INT) AS days_since
         FROM orders ORDER BY o_orderkey""",
    "e11_array_hofs" ->
      """WITH w AS (SELECT p_partkey, string_split(p_name, ' ') AS words FROM part)
         SELECT p_partkey,
                len(words) AS n_words,
                list_max(list_transform(words, w -> length(w))) AS longest_word,
                CAST(list_sum(list_transform(words, w -> length(w))) AS BIGINT) AS total_chars,
                array_to_string(list_sort(words), '|') AS sorted_words,
                len(list_filter(words, w -> length(w) >= 5)) AS n_long_words
         FROM w ORDER BY p_partkey""",
    "w1_row_number_topk" ->
      """SELECT o_custkey, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS "rank",
                o_orderkey, o_totalprice
         FROM orders QUALIFY "rank" <= 3 ORDER BY o_custkey, "rank"""",
    "w4_rank_topk" ->
      """SELECT l_returnflag, l_quantity, CAST(rnk AS INT) AS rnk, l_orderkey, l_linenumber
         FROM (SELECT l_returnflag, l_quantity, l_orderkey, l_linenumber,
                      rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS rnk
               FROM lineitem)
         WHERE rnk <= 2 ORDER BY l_returnflag, rnk, l_orderkey, l_linenumber""",
    "w5_dense_rank_topk" ->
      """SELECT l_linestatus, l_quantity, CAST(drnk AS INT) AS drnk, l_orderkey, l_linenumber
         FROM (SELECT l_linestatus, l_quantity, l_orderkey, l_linenumber,
                      dense_rank() OVER (PARTITION BY l_linestatus ORDER BY l_quantity DESC) AS drnk
               FROM lineitem)
         WHERE drnk <= 2 ORDER BY l_linestatus, drnk, l_orderkey, l_linenumber""",
    "w2_running_sum" ->
      """SELECT user_id, event_id,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
         FROM events ORDER BY user_id, event_id""",
    "w7_first_last_ignore_nulls" ->
      """SELECT o_custkey, o_orderkey,
                FIRST_VALUE(CASE WHEN o_orderkey % 3 <> 0 THEN o_totalprice END IGNORE NULLS)
                  OVER w AS first_nn,
                LAST_VALUE(CASE WHEN o_orderkey % 3 <> 0 THEN o_totalprice END IGNORE NULLS)
                  OVER w AS last_nn
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY o_custkey, o_orderkey""",
    "w8_distribution_ranks" ->
      // tie-free order ⟹ all three are integer-position arithmetic;
      // the doubles are exact integer ratios on both engines
      """SELECT o_custkey, o_orderkey,
                CAST(ntile(4) OVER w AS INT) AS quartile,
                percent_rank() OVER w AS pr,
                cume_dist() OVER w AS cd
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "w6_range_frame" ->
      // integer µs ordering key so the RANGE interval is exact; decimal
      // frame sum is order-free under same-µs ties
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, value FROM events)
         SELECT user_id, event_id, tus,
                COUNT(*) OVER w AS n_1h,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY tus
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id""",
    "w3_analytic_windows" ->
      """SELECT o_custkey, o_orderkey,
                lag(o_totalprice, 1) OVER w AS prev_price,
                lead(o_totalprice, 1) OVER w AS next_price,
                CAST(rank() OVER w AS INT) AS rnk,
                CAST(dense_rank() OVER w AS INT) AS drnk,
                CAST(ntile(4) OVER w AS INT) AS quartile
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "skew_salted_agg" ->
      """SELECT event_type, COUNT(*) AS cnt,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type""",
    "skew_salted_join" ->
      """SELECT event_id, event_type, type_cnt
         FROM events JOIN (SELECT event_type, COUNT(*) AS type_cnt
                           FROM events GROUP BY event_type) d USING (event_type)
         ORDER BY event_id""",
    "stream_window_agg" ->
      """SELECT make_timestamp((epoch_ns(ts) // 60000000000) * 60000000) AS window_start,
                event_type, COUNT(*) AS cnt,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""",
    // µs on both sides: DuckDB's TIMESTAMP is µs, and the Spark side
    // computes on EventTime.tsUs (see sessionizeBatch scaladoc)
    "sess_batch" ->
      """WITH w AS (
           SELECT user_id, event_id, epoch_us(ts) AS tus,
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tus
           FROM events),
         s AS (
           SELECT user_id, event_id, tus,
                  CAST(SUM(CASE WHEN prev_tus IS NULL OR tus - prev_tus > 1800000000 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
           FROM w)
         SELECT user_id, session_seq, COUNT(*) AS events,
                (MAX(tus) - MIN(tus)) // 1000 AS duration_ms
         FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq""",
    "sess_window_builtin" ->
      """WITH w AS (
           SELECT user_id, event_id, epoch_us(ts) AS tus,
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         s AS (
           SELECT user_id, tus,
                  SUM(CASE WHEN prev IS NULL OR tus - prev >= 1800000000 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
           FROM w)
         SELECT user_id, make_timestamp(MIN(tus)) AS session_start, COUNT(*) AS events
         FROM s GROUP BY user_id, seq ORDER BY user_id, session_start""",
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
                MAX(l_quantity) AS max_qty,
                COUNT(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q_join_agg" ->
      """SELECT o_orderpriority, COUNT(*) AS cnt,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_star_join" ->
      """SELECT r_name, n_name, COUNT(*) AS cnt,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "dedup_exact" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
         ORDER BY doc_id""",
    // plain string (no interpolation): the regex '\s' must reach DuckDB
    // unprocessed, like txt_scrub
    "txt_normalize" ->
      """WITH n AS (
           SELECT doc_id, text,
                  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text
           FROM documents)
         SELECT doc_id, norm_text, CAST(norm_text <> text AS INT) AS changed
         FROM n ORDER BY doc_id""",
    "dedup_exact_normalized" ->
      """WITH n AS (
           SELECT doc_id, lang, source, n_chars,
                  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS nt
           FROM documents)
         SELECT doc_id, lang, source, n_chars FROM n
         QUALIFY row_number() OVER (PARTITION BY nt ORDER BY doc_id) = 1
         ORDER BY doc_id""",
    "dedup_exact_hash" ->
      "SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS copies FROM documents GROUP BY md5(text) ORDER BY fp",
    "corpus_stats" ->
      """SELECT source, COUNT(*) AS n_docs,
                CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
                CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars,
                MAX(n_chars) AS max_chars, MIN(n_chars) AS min_chars
         FROM documents GROUP BY source ORDER BY source""",
    "txt_token_counts" ->
      s"""SELECT doc_id, len(${wsToksSql("text")}) AS n_ws_tokens,
                len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) AS n_regex_tokens,
                n_chars
         FROM documents ORDER BY doc_id""",
    "txt_top_bigrams" ->
      """WITH g AS (
           SELECT unnest(list_transform(range(len(string_split(text, ' ')) - 1),
                    i -> string_split(text, ' ')[i + 1] || ' ' || string_split(text, ' ')[i + 2])) AS bigram
           FROM documents WHERE len(string_split(text, ' ')) >= 2)
         SELECT bigram, COUNT(*) AS cnt FROM g GROUP BY bigram
         ORDER BY cnt DESC, bigram LIMIT 100""",
    "txt_source_kl" ->
      // integer-weighted fixed-point ln terms -> order-independent BIGINT
      // sum per source; one exact final division
      s"""WITH st AS (
           SELECT source, t AS term, COUNT(*) AS cs FROM (
             SELECT source, unnest(${wsToksSql("text")}) AS t FROM documents)
           GROUP BY 1, 2),
         ct AS (SELECT term, CAST(SUM(cs) AS BIGINT) AS c FROM st GROUP BY 1),
         ns AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS ns FROM st GROUP BY 1),
         n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ct),
         fx AS (
           SELECT st.source, ns.ns,
                  st.cs * CAST(round(CAST(CAST(ln(
                    (CAST(st.cs AS DOUBLE) * CAST(n.n AS DOUBLE))
                    / (CAST(ns.ns AS DOUBLE) * CAST(ct.c AS DOUBLE))
                  ) AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT) AS fix
           FROM st JOIN ct USING (term) JOIN ns USING (source) CROSS JOIN n)
         SELECT source, ns AS n_tokens,
                CAST(SUM(fix) AS DOUBLE) / (CAST(ns AS DOUBLE) * 1000000.0) AS kl
         FROM fx GROUP BY source, ns ORDER BY source""",
    "txt_source_zipf" ->
      // exact BIGINT regression sums over float-washed fixed-point logs;
      // the closing fold runs in DOUBLE space in the engine's pinned
      // operand order (n*Sxy overflows BIGINT at a few hundred terms)
      s"""WITH st AS (
           SELECT source, t AS term, COUNT(*) AS cnt FROM (
             SELECT source, unnest(${wsToksSql("text")}) AS t FROM documents)
           GROUP BY 1, 2),
         rk AS (
           SELECT source, cnt,
                  row_number() OVER (PARTITION BY source
                    ORDER BY cnt DESC, term) AS r
           FROM st),
         fx AS (
           SELECT source,
                  CAST(round(CAST(CAST(ln(CAST(r AS DOUBLE)) AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT) AS x,
                  CAST(round(CAST(CAST(ln(CAST(cnt AS DOUBLE)) AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT) AS y
           FROM rk),
         ag AS (
           SELECT source, COUNT(*) AS n_terms,
                  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                  CAST(SUM(x * y) AS BIGINT) AS sxy,
                  CAST(SUM(x * x) AS BIGINT) AS sxx
           FROM fx GROUP BY 1)
         SELECT source, n_terms,
                (CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS zipf_slope
         FROM ag ORDER BY source""",
    "txt_pmi_collocations" ->
      // exact counts; the PMI operand chain (casts + association order)
      // mirrors the engine's, the one ln float-washed; bigram tiebreak
      """WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
         uni AS (SELECT unnest(tk) AS t FROM t),
         uc AS (SELECT t, COUNT(*) AS c FROM uni GROUP BY 1),
         nu AS (SELECT CAST(SUM(c) AS BIGINT) AS nu FROM uc),
         occ AS (
           SELECT tk[i.i - 1] AS w1, tk[i.i] AS w2
           FROM t, unnest(range(2, len(tk) + 1)) AS i(i)
           WHERE len(tk) >= 2),
         bi AS (SELECT w1, w2, COUNT(*) AS cab FROM occ GROUP BY 1, 2),
         nb AS (SELECT CAST(SUM(cab) AS BIGINT) AS nb FROM bi),
         s AS (
           SELECT b.w1 || ' ' || b.w2 AS bigram, b.cab AS n_ab,
                  CAST(CAST(ln(
                    (CAST(b.cab AS DOUBLE) * CAST(nu.nu AS DOUBLE) * CAST(nu.nu AS DOUBLE))
                    / (CAST(nb.nb AS DOUBLE) * CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))
                  ) AS FLOAT) AS DOUBLE) AS pmi
           FROM bi b
             JOIN uc ua ON b.w1 = ua.t
             JOIN uc ub ON b.w2 = ub.t
             CROSS JOIN nu CROSS JOIN nb
           WHERE b.cab >= 5)
         SELECT bigram, n_ab, pmi FROM s
         ORDER BY pmi DESC, bigram LIMIT 100""",
    "txt_unigram_logprob" ->
      // fixed-point per-token log-probs (round(float(ln(p))*1e6) BIGINT)
      // so the per-doc sum is order-independent and engine-exact; the
      // FLOAT cast before the round absorbs 1-ulp JVM-vs-libm ln drift
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         counts AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
         tot AS (SELECT SUM(cnt) AS total FROM counts),
         lp AS (
           SELECT t.doc_id,
                  CAST(round(CAST(CAST(ln(CAST(c.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE)) AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT) AS lpf
           FROM toks t JOIN counts c USING (term) CROSS JOIN tot)
         SELECT doc_id, COUNT(*) AS n_tokens,
                CAST(SUM(lpf) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS mean_logprob
         FROM lp GROUP BY doc_id ORDER BY doc_id""",
    "txt_bigram_logprob" ->
      s"""$bigramLpBaseSql
         SELECT doc_id, n_bigrams, mean_logprob FROM blp ORDER BY doc_id""",
    "txt_perplexity_buckets" ->
      // percent_rank over a TIE-FREE total order (doc_id breaks score
      // ties) is pure integer rank arithmetic; the third boundaries are
      // the same double chain Spark folds ((1/3) then (1/3)*2)
      s"""$bigramLpBaseSql,
         pr AS (
           SELECT doc_id, mean_logprob,
                  percent_rank() OVER (ORDER BY mean_logprob DESC, doc_id) AS pr
           FROM blp)
         SELECT doc_id, mean_logprob,
                CASE WHEN pr < CAST(1.0 AS DOUBLE) / CAST(3.0 AS DOUBLE) THEN 'head'
                     WHEN pr < (CAST(1.0 AS DOUBLE) / CAST(3.0 AS DOUBLE)) * CAST(2.0 AS DOUBLE) THEN 'middle'
                     ELSE 'tail' END AS bucket
         FROM pr ORDER BY doc_id""",
    "txt_kn_logprob" ->
      // interpolated Kneser-Ney, D = 0.75: continuation counts N₁₊ are
      // exact integers (their total IS the bigram type count), the
      // discount/backoff chain replays in pinned order, and the log
      // follows the float-then-fixed-point convention
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         occ AS (
           SELECT doc_id, toks[i.i - 1] AS prev, toks[i.i] AS cur
           FROM t, unnest(range(2, len(toks) + 1)) AS i(i)
           WHERE len(toks) >= 2),
         bi AS (SELECT prev, cur, COUNT(*) AS bcnt FROM occ GROUP BY 1, 2),
         ctx AS (SELECT prev, CAST(SUM(bcnt) AS BIGINT) AS cctx, COUNT(*) AS n1p_v FROM bi GROUP BY 1),
         cont AS (SELECT cur, COUNT(*) AS n1p_w FROM bi GROUP BY 1),
         tt AS (SELECT CAST(SUM(n1p_w) AS BIGINT) AS tt FROM cont),
         lp AS (
           SELECT o.doc_id,
                  CAST(round(CAST(CAST(ln(
                    (greatest(CAST(b.bcnt AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0.0 AS DOUBLE))
                      / CAST(x.cctx AS DOUBLE))
                    + (((CAST(0.75 AS DOUBLE) * CAST(x.n1p_v AS DOUBLE)) / CAST(x.cctx AS DOUBLE))
                      * (CAST(c.n1p_w AS DOUBLE) / CAST(tt.tt AS DOUBLE)))
                  ) AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT) AS lpf
           FROM occ o
             JOIN bi b ON o.prev = b.prev AND o.cur = b.cur
             JOIN ctx x ON o.prev = x.prev
             JOIN cont c ON o.cur = c.cur
             CROSS JOIN tt)
         SELECT doc_id, COUNT(*) AS n_bigrams,
                CAST(SUM(lpf) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS mean_logprob
         FROM lp GROUP BY doc_id ORDER BY doc_id""",
    "corpus_budget_mix" ->
      // √n temperature shares fixed-pointed before the denominator sum;
      // budget = 4× corpus tokens, epochs capped at 4 (the temperature
      // tilt pushes tail sources over the cap while head sources stay
      // under — the partial-saturation regime the planner exists for);
      // desired/served/deficit are exact BIGINTs past the one rounding
      """WITH c AS (
           SELECT source, SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS n_tokens
           FROM documents GROUP BY 1),
         f AS (
           SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
                  CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1048576.0) AS BIGINT) AS sqf
           FROM c),
         s AS (SELECT CAST(SUM(sqf) AS BIGINT) AS ssqf, CAST(SUM(n_tokens) AS BIGINT) AS stok FROM f),
         m AS (
           SELECT source, n_tokens,
                  CAST(sqf AS DOUBLE) / CAST(s.ssqf AS DOUBLE) AS share,
                  CAST(round((CAST(sqf AS DOUBLE) / CAST(s.ssqf AS DOUBLE))
                    * (CAST(4.0 AS DOUBLE) * CAST(s.stok AS DOUBLE))) AS BIGINT) AS desired_tok
           FROM f, s)
         SELECT source, n_tokens, share, desired_tok,
                least(desired_tok, 4 * n_tokens) AS served_tok,
                CAST(least(desired_tok, 4 * n_tokens) AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS epochs,
                desired_tok - least(desired_tok, 4 * n_tokens) AS deficit
         FROM m ORDER BY source""",
    "emb_outlier_report" ->
      // fixed-point L∞ peaks make both moments exact integer sums; the
      // z-score chain replays the pinned mean/std arithmetic
      """WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         nr AS (
           SELECT vec_id,
                  CAST(round(CAST(CAST(list_max(list_transform(v, x -> abs(x))) AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT) AS nf
           FROM v),
         mo AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(nf) AS BIGINT) AS s1,
                  CAST(SUM(nf * nf) AS BIGINT) AS s2
           FROM nr),
         z AS (
           SELECT vec_id, nf,
                  (CAST(nf AS DOUBLE) - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                  / sqrt((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                         - ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))) AS z
           FROM nr, mo)
         SELECT vec_id, CAST(nf AS DOUBLE) / 1000000.0 AS max_abs, z FROM z
         WHERE abs(z) >= CAST(2.0 AS DOUBLE) ORDER BY vec_id""",
    "txt_tfidf_top_terms" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tfreq FROM toks GROUP BY doc_id, term),
         dlen AS (SELECT doc_id, COUNT(*) AS dlen FROM toks GROUP BY doc_id),
         dfr AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY term),
         n AS (SELECT COUNT(*) AS n FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.term,
                  CAST((CAST(tfreq AS DOUBLE) / dlen) * ln((n + 1.0) / (dfreq + 1.0)) AS FLOAT) AS score
           FROM tf JOIN dlen USING (doc_id) JOIN dfr USING (term) CROSS JOIN n)
         SELECT doc_id, term, score FROM scored
         QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) <= 3
         ORDER BY doc_id, term""",
    "corpus_pack_nosplit" ->
      // the per-shard next-fit-decreasing fold replayed as a recursive
      // CTE: each recursion step consumes the next document (rn order =
      // n_tokens desc, doc_id) carrying (seq_id, used) forward — the
      // sequential state the Spark side folds inside mapPartitions
      """WITH RECURSIVE d AS (
           SELECT doc_id, doc_id % 32 AS shard,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         r AS (
           SELECT doc_id, shard, n_tokens,
                  CAST(row_number() OVER (PARTITION BY shard
                    ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS rn
           FROM d),
         pack(shard, rn, doc_id, n_tokens, seq_id, off, used) AS (
           SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT),
                  CAST(0 AS BIGINT), n_tokens
           FROM r WHERE rn = 1
           UNION ALL
           SELECT r.shard, r.rn, r.doc_id, r.n_tokens,
                  CASE WHEN p.used + r.n_tokens <= 2048 OR p.used = 0
                       THEN p.seq_id ELSE p.seq_id + 1 END,
                  CASE WHEN p.used + r.n_tokens <= 2048 OR p.used = 0
                       THEN p.used ELSE CAST(0 AS BIGINT) END,
                  CASE WHEN p.used + r.n_tokens <= 2048 OR p.used = 0
                       THEN p.used + r.n_tokens ELSE r.n_tokens END
           FROM pack p JOIN r ON r.shard = p.shard AND r.rn = p.rn + 1)
         SELECT doc_id, shard, n_tokens, seq_id, off AS offset_in_seq
         FROM pack ORDER BY doc_id""",
    "corpus_pack_sequences" ->
      """WITH d AS (
           SELECT doc_id, doc_id % 32 AS shard,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents)
         SELECT doc_id, shard, n_tokens,
                CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS offset_in_shard,
                CAST((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 2048 AS BIGINT) AS seq_id
         FROM d ORDER BY doc_id""",
    "corpus_train_val_split" ->
      """SELECT doc_id,
                ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS bucket,
                CASE WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 < 95
                     THEN 'train' ELSE 'val' END AS split
         FROM documents ORDER BY doc_id""",
    "corpus_split_leakage_safe" ->
      s"""$simHashClusterBaseSql
         SELECT b.doc_id, b.component_id,
                CASE WHEN ('0x' || substr(md5(d.text), 1, 8))::BIGINT % 100 < 95
                     THEN 'train' ELSE 'val' END AS split
         FROM base b JOIN documents d ON b.component_id = d.doc_id
         ORDER BY b.doc_id""",
    "corpus_split_leakage_rebuild" ->
      s"""$simHashClusterBaseSql
         SELECT b.doc_id, b.component_id,
                CASE WHEN ('0x' || substr(md5(d.text), 1, 8))::BIGINT % 100 < 95
                     THEN 'train' ELSE 'val' END AS split
         FROM base b JOIN documents d ON b.component_id = d.doc_id
         ORDER BY b.doc_id""",
    "mm_binary_meta" ->
      "SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes, substr(text, 1, 16) AS head16 FROM documents ORDER BY doc_id",
    "corpus_chunk" ->
      """WITH d AS (
           SELECT doc_id, text,
                  greatest((length(text) - 50 + 149) // 150, 1) AS n_chunks
           FROM documents),
         c AS (
           SELECT doc_id,
                  unnest(range(n_chunks)) AS chunk_id,
                  unnest(list_transform(range(n_chunks),
                    i -> substr(text, CAST(i * 150 + 1 AS INT), 200))) AS chunk_text
           FROM d)
         SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, chunk_text,
                CAST(length(chunk_text) AS BIGINT) AS chunk_chars
         FROM c ORDER BY doc_id, chunk_id""",
    "corpus_denoiser_mix" ->
      """WITH d AS (
           SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents),
         r AS (
           SELECT doc_id, n_tok,
                  ('0x' || substr(md5(doc_id || ':denoiser:' || 42), 1, 8))::BIGINT % 4 AS route,
                  ('0x' || substr(md5(doc_id || ':split:' || 42), 1, 8))::BIGINT AS hs
           FROM d),
         m AS (
           SELECT doc_id, n_tok,
                  CASE WHEN route < 2 THEN 'R' WHEN route = 2 THEN 'X' ELSE 'S' END AS denoiser,
                  hs
           FROM r)
         SELECT doc_id, n_tok, denoiser,
                CAST(CASE denoiser WHEN 'R' THEN 3 WHEN 'X' THEN 12 END AS BIGINT) AS span_len,
                CAST(CASE denoiser WHEN 'R' THEN 20 WHEN 'X' THEN 40 END AS BIGINT) AS block_len,
                CASE WHEN denoiser = 'S' THEN hs % (n_tok + 1) END AS s_split
         FROM m ORDER BY doc_id""",
    "corpus_fim_manifest" ->
      """WITH d AS (
           SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents),
         f AS (
           SELECT doc_id, n_tok,
                  CAST(('0x' || substr(md5(doc_id || ':apply:' || 42), 1, 8))::BIGINT % 100 < 50 AS INT) AS fim,
                  ('0x' || substr(md5(doc_id || ':cut1:' || 42), 1, 8))::BIGINT AS h1,
                  ('0x' || substr(md5(doc_id || ':cut2:' || 42), 1, 8))::BIGINT AS h2
           FROM d),
         c AS (
           SELECT doc_id, n_tok, fim,
                  CASE WHEN fim = 1 THEN LEAST(h1 % (n_tok + 1), h2 % (n_tok + 1)) END AS cut_lo,
                  CASE WHEN fim = 1 THEN GREATEST(h1 % (n_tok + 1), h2 % (n_tok + 1)) END AS cut_hi
           FROM f)
         SELECT doc_id, n_tok, fim, cut_lo, cut_hi,
                cut_lo AS len_prefix, cut_hi - cut_lo AS len_middle,
                n_tok - cut_hi AS len_suffix
         FROM c ORDER BY doc_id""",
    // grid-block derandomization: every arithmetic step is exact integers
    // off an md5 prefix, so the layout replays bit-for-bit
    "corpus_span_corruption" ->
      """WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS tk FROM documents
           WHERE len(string_split(text, ' ')) >= 20),
         b AS (
           SELECT doc_id, tk, unnest(range(len(tk) // 20)) AS span_id FROM d),
         h AS (
           SELECT doc_id, tk, span_id,
                  ('0x' || substr(md5(doc_id || ':' || span_id || ':' || 42), 1, 8))::BIGINT AS h
           FROM b),
         s AS (
           SELECT doc_id, CAST(span_id AS BIGINT) AS span_id, tk,
                  span_id * 20 + (h % 18) + 1 AS start_tok
           FROM h)
         SELECT doc_id, span_id, CAST(start_tok AS BIGINT) AS start_tok,
                CAST(3 AS BIGINT) AS span_len,
                array_to_string(list_slice(tk, CAST(start_tok AS INT),
                  CAST(start_tok + 2 AS INT)), ' ') AS span_text
         FROM s ORDER BY doc_id, span_id""",
    // waste_frac is two exact-long casts divided in doubles — IEEE-equal
    // cross-engine without fixed-pointing
    "corpus_padding_waste" ->
      s"""WITH t AS (
           SELECT len(${wsToksSql("text")}) AS n_tok FROM documents),
         r AS (
           SELECT n_tok,
                  CASE WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
                       WHEN n_tok <= 256 THEN 256 WHEN n_tok <= 512 THEN 512
                       WHEN n_tok <= 1024 THEN 1024 WHEN n_tok <= 2048 THEN 2048
                       ELSE 4096 END AS rung
           FROM t)
         SELECT CAST(rung AS BIGINT) AS rung,
                CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(LEAST(n_tok, rung)) AS BIGINT) AS n_tokens_kept,
                CAST(SUM(CASE WHEN n_tok > rung THEN n_tok - rung ELSE 0 END) AS BIGINT) AS n_tokens_truncated,
                CAST(rung * COUNT(*) AS BIGINT) AS n_padded,
                CAST(rung * COUNT(*) - SUM(LEAST(n_tok, rung)) AS DOUBLE)
                  / CAST(rung * COUNT(*) AS DOUBLE) AS waste_frac
         FROM r GROUP BY rung ORDER BY rung""",
    "mm_extent" ->
      // analytic twin of the container walks: the WAV data chunk
      // carries exactly the UTF-8 text bytes, fmt's byte_rate =
      // rate*channels*2 (16-bit samples) and block_align = channels*2;
      // image/video extent is the IHDR/SOF/tkhd pixel product; MP4
      // duration is mvhd units on the 600-tick movie clock. Integer
      // division on both sides.
      """SELECT doc_id AS media_id,
                CASE WHEN doc_id % 3 = 0 THEN 'png' WHEN doc_id % 3 = 1 THEN 'jpeg'
                     WHEN doc_id % 6 = 2 THEN 'wav' ELSE 'mp4' END AS fmt,
                CAST(CASE WHEN doc_id % 3 IN (0, 1) OR doc_id % 6 = 5
                     THEN (n_chars % 640 + 1) * (n_chars % 480 + 1)
                     ELSE octet_length(encode(text)) // ((CASE WHEN doc_id % 12 = 8 THEN 1 ELSE (doc_id // 6) % 2 + 1 END) * 2)
                END AS BIGINT) AS extent,
                CAST(CASE WHEN doc_id % 6 = 2
                     THEN octet_length(encode(text)) * 1000
                          // ((CASE WHEN doc_id % 12 = 8 THEN GREATEST(n_chars // 4, 1)
                             ELSE 8000 + (n_chars % 8) * 1000 END)
                              * (CASE WHEN doc_id % 12 = 8 THEN 1 ELSE (doc_id // 6) % 2 + 1 END) * 2)
                     WHEN doc_id % 6 = 5
                     THEN (CASE WHEN doc_id % 12 = 11 THEN n_chars % 50 + 10
                                ELSE n_chars % 2400 + 600 END) * 1000 // 600
                END AS BIGINT) AS duration_ms
         FROM documents ORDER BY doc_id""",
    "mm_content_dedup" ->
      // the extracted data section is exactly the UTF-8 text bytes on
      // every container path, so md5(text) (DuckDB hashes the VARCHAR's
      // UTF-8 bytes — the repo's standing md5-twin convention) is the
      // analytic twin of the extraction walk; groups span formats by
      // construction
      """WITH g AS (
           SELECT doc_id AS media_id,
                  CASE WHEN doc_id % 3 = 0 THEN 'png' WHEN doc_id % 3 = 1 THEN 'jpeg'
                       WHEN doc_id % 6 = 2 THEN 'wav' ELSE 'mp4' END AS fmt,
                  md5(text) AS content_md5
           FROM documents)
         SELECT media_id, fmt, content_md5,
                MIN(media_id) OVER (PARTITION BY content_md5) AS group_id,
                COUNT(*) OVER (PARTITION BY content_md5) AS group_size,
                media_id = MIN(media_id) OVER (PARTITION BY content_md5) AS is_canonical
         FROM g ORDER BY media_id""",
    "mm_dims" ->
      // the Spark side round-trips through REAL PNG/JPEG/WAV bytes
      // (encode → magic-byte detect → header walk); the oracle computes
      // the expected parse output analytically from the same
      // (doc_id, n_chars) the encoder derived dims from — a hash match
      // certifies the byte-level parser end to end
      """SELECT doc_id AS media_id,
                CASE WHEN doc_id % 3 = 0 THEN 'png' WHEN doc_id % 3 = 1 THEN 'jpeg'
                     WHEN doc_id % 6 = 2 THEN 'wav' ELSE 'mp4' END AS fmt,
                CAST(CASE WHEN doc_id % 3 IN (0, 1) OR doc_id % 6 = 5 THEN n_chars % 640 + 1 END AS INTEGER) AS width,
                CAST(CASE WHEN doc_id % 3 IN (0, 1) OR doc_id % 6 = 5 THEN n_chars % 480 + 1 END AS INTEGER) AS height,
                CAST(CASE WHEN doc_id % 6 = 2 THEN CASE WHEN doc_id % 12 = 8 THEN GREATEST(n_chars // 4, 1)
                             ELSE 8000 + (n_chars % 8) * 1000 END END AS INTEGER) AS sample_rate,
                CAST(CASE WHEN doc_id % 6 = 2 THEN CASE WHEN doc_id % 12 = 8 THEN 1 ELSE (doc_id // 6) % 2 + 1 END END AS INTEGER) AS channels
         FROM documents ORDER BY doc_id""",
    "mm_features_hist" ->
      // walk the UTF-8 payload bytes by slicing hex() pairs of the BLOB —
      // byte i is ('0x' || substr(hex, 2i+1, 2))::INT; bin = byte >> 5
      """WITH b AS (
           SELECT doc_id AS media_id,
                  CASE WHEN doc_id % 3 = 0 THEN 'image'
                       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
                  hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n
           FROM documents),
         by AS (
           SELECT media_id, kind, n,
                  ('0x' || substr(hx, CAST(2 * i.i + 1 AS INT), 2))::INT // 32 AS bin
           FROM b, unnest(range(n)) AS i(i))
         SELECT media_id, kind, CAST(bin AS INT) AS bin,
                COUNT(*) AS cnt, CAST(n AS BIGINT) AS n_bytes
         FROM by GROUP BY media_id, kind, bin, n
         ORDER BY media_id, bin""",
    "mm_features_fix" ->
      // same hex-sliced byte walk as mm_features_hist; the ratio is the
      // single-precision divide decodeToFeatures performs (exact IEEE on
      // both engines for counts << 2^24), fixed-pointed at 1e6
      """WITH b AS (
           SELECT doc_id AS media_id,
                  CASE WHEN doc_id % 3 = 0 THEN 'image'
                       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
                  hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n
           FROM documents),
         by AS (
           SELECT media_id, kind, n,
                  ('0x' || substr(hx, CAST(2 * i.i + 1 AS INT), 2))::INT // 32 AS bin
           FROM b, unnest(range(n)) AS i(i)),
         h AS (
           SELECT media_id, kind, bin, COUNT(*) AS cnt, n
           FROM by GROUP BY media_id, kind, bin, n)
         SELECT media_id, kind, CAST(bin AS INT) AS bin,
                CAST(round(CAST(CAST(cnt AS FLOAT) / CAST(GREATEST(n, 1) AS FLOAT) AS DOUBLE)
                     * 1000000.0) AS BIGINT) AS ffix
         FROM h ORDER BY media_id, bin""",
    "mm_face_segments" ->
      // the segment-mean face: byte i belongs to segment i*8 div n,
      // ffix = sum(byte)*1e6 div count — PURE INTEGER, so DuckDB's //
      // matches the JVM's floor division exactly with no IEEE contract
      """WITH b AS (
           SELECT doc_id AS media_id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n
           FROM documents),
         by AS (
           SELECT media_id, n,
                  CAST((i.i * 8) // n AS INT) AS seg,
                  ('0x' || substr(hx, CAST(2 * i.i + 1 AS INT), 2))::INT AS bv
           FROM b, unnest(range(n)) AS i(i)),
         hf AS (
           SELECT media_id, seg,
                  CAST((SUM(bv) * 1000000) // COUNT(*) AS BIGINT) AS ffix
           FROM by GROUP BY media_id, seg),
         ids AS (SELECT doc_id AS media_id,
                        CASE WHEN doc_id % 3 = 0 THEN 'image'
                             WHEN doc_id % 3 = 1 THEN 'audio'
                             ELSE 'video' END AS kind,
                        octet_length(encode(text)) AS n
                 FROM documents)
         SELECT i.media_id, i.kind, CAST(i.n AS BIGINT) AS n_bytes,
                CAST(bins.seg AS INT) AS seg, COALESCE(hf.ffix, 0) AS ffix
         FROM ids i CROSS JOIN (SELECT unnest(range(8)) AS seg) bins
         LEFT JOIN hf ON hf.media_id = i.media_id AND hf.seg = bins.seg
         ORDER BY i.media_id, bins.seg""",
    "mm_fingerprint" ->
      // the 60-bit shingle simhash replayed byte-for-byte: hex-pair
      // windows, md5 60-bit prefixes, per-bit majority — a hash match
      // certifies the JVM signature loop against an independent engine
      s"""WITH $mediaSigCtes
         SELECT mb.media_id,
                CASE WHEN mb.media_id % 3 = 0 THEN 'image'
                     WHEN mb.media_id % 3 = 1 THEN 'audio'
                     ELSE 'video' END AS kind,
                CAST(mb.n AS BIGINT) AS n_bytes, msig.sig
         FROM mb JOIN msig USING (media_id)
         ORDER BY media_id""",
    "mm_content_neardup" ->
      // the content section carries exactly the UTF-8 text bytes on
      // every container path, so the fingerprint/face chains replay
      // over text; fmt is analytic from the doc_id residue; NO fmt
      // equality in the pair join — cross-format rows are the point
      s"""WITH $mediaSigCtes,
         by AS (
           SELECT media_id, n,
                  CAST((i.i * 8) // n AS INT) AS seg,
                  ('0x' || substr(hx, CAST(2 * i.i + 1 AS INT), 2))::INT AS bv
           FROM mb, unnest(range(n)) AS i(i)),
         hf AS MATERIALIZED (
           SELECT media_id, seg,
                  CAST((SUM(bv) * 1000000) // COUNT(*) AS BIGINT) AS ffix
           FROM by GROUP BY media_id, seg),
         ids AS (SELECT doc_id AS media_id,
                        CASE WHEN doc_id % 3 = 0 THEN 'png'
                             WHEN doc_id % 3 = 1 THEN 'jpeg'
                             WHEN doc_id % 6 = 2 THEN 'wav'
                             ELSE 'mp4' END AS fmt,
                        octet_length(encode(text)) AS n
                 FROM documents),
         cand AS (
           SELECT x.media_id AS a, x.n AS la, x.fmt AS fmt_a,
                  y.media_id AS b, y.n AS lb, y.fmt AS fmt_b,
                  CAST(bit_count(xor(sa.sig, sb.sig)) AS INT) AS ham
           FROM ids x JOIN ids y ON x.media_id < y.media_id
           JOIN msig sa ON sa.media_id = x.media_id
           JOIN msig sb ON sb.media_id = y.media_id
           WHERE abs(x.n - y.n) <= ${Multimodal.NearDupLenWindow}
             AND bit_count(xor(sa.sig, sb.sig)) <= ${Multimodal.MediaFpMaxHamming}),
         pb AS (
           SELECT c.a, c.b, c.la, c.lb, c.fmt_a, c.fmt_b, c.ham, bins.seg,
                  COALESCE(ha.ffix, 0) AS fa, COALESCE(hb.ffix, 0) AS fb
           FROM cand c CROSS JOIN (SELECT unnest(range(8)) AS seg) bins
           LEFT JOIN hf ha ON ha.media_id = c.a AND ha.seg = bins.seg
           LEFT JOIN hf hb ON hb.media_id = c.b AND hb.seg = bins.seg)
         SELECT a AS media_a, b AS media_b, fmt_a, fmt_b,
                CAST(abs(la - lb) AS BIGINT) AS len_delta,
                ham AS hamming,
                CAST(SUM(ABS(fa - fb)) AS BIGINT) AS l1_fix
         FROM pb GROUP BY a, b, la, lb, fmt_a, fmt_b, ham
         HAVING SUM(ABS(fa - fb)) <= ${Multimodal.MediaFpL1Window}
         ORDER BY media_a, media_b""",
    "mm_content_decision" ->
      // cross-format content pairs into the recursive-CTE closure
      // (the mm_dedup_decision convention, minus the kind equality);
      // fidelity analytic from (doc_id, n_chars), keep = highest
      // fidelity then lowest id; content_bytes = the text bytes the
      // extraction recovers on every container path
      s"""WITH RECURSIVE $mediaSigCtes,
         by AS (
           SELECT media_id, n,
                  CAST((i.i * 8) // n AS INT) AS seg,
                  ('0x' || substr(hx, CAST(2 * i.i + 1 AS INT), 2))::INT AS bv
           FROM mb, unnest(range(n)) AS i(i)),
         hf AS MATERIALIZED (
           SELECT media_id, seg,
                  CAST((SUM(bv) * 1000000) // COUNT(*) AS BIGINT) AS ffix
           FROM by GROUP BY media_id, seg),
         ids AS (SELECT doc_id AS media_id,
                        CASE WHEN doc_id % 3 = 0 THEN 'png'
                             WHEN doc_id % 3 = 1 THEN 'jpeg'
                             WHEN doc_id % 6 = 2 THEN 'wav'
                             ELSE 'mp4' END AS fmt,
                        octet_length(encode(text)) AS n,
                        CASE WHEN doc_id % 3 IN (0, 1) OR doc_id % 6 = 5
                             THEN (n_chars % 640 + 1) * (n_chars % 480 + 1)
                             ELSE (CASE WHEN doc_id % 12 = 8 THEN GREATEST(n_chars // 4, 1)
                             ELSE 8000 + (n_chars % 8) * 1000 END)
                                  * (CASE WHEN doc_id % 12 = 8 THEN 1 ELSE (doc_id // 6) % 2 + 1 END)
                        END AS fid
                 FROM documents),
         cand AS (
           SELECT x.media_id AS a, y.media_id AS bb
           FROM ids x JOIN ids y ON x.media_id < y.media_id
           JOIN msig sa ON sa.media_id = x.media_id
           JOIN msig sb ON sb.media_id = y.media_id
           WHERE abs(x.n - y.n) <= ${Multimodal.NearDupLenWindow}
             AND bit_count(xor(sa.sig, sb.sig)) <= ${Multimodal.MediaFpMaxHamming}),
         prs AS (
           SELECT a, bb FROM (
             SELECT c.a, c.bb, bins.seg,
                    COALESCE(ha.ffix, 0) AS fa, COALESCE(hb.ffix, 0) AS fb
             FROM cand c CROSS JOIN (SELECT unnest(range(8)) AS seg) bins
             LEFT JOIN hf ha ON ha.media_id = c.a AND ha.seg = bins.seg
             LEFT JOIN hf hb ON hb.media_id = c.bb AND hb.seg = bins.seg)
           GROUP BY a, bb
           HAVING SUM(ABS(fa - fb)) <= ${Multimodal.MediaFpL1Window}),
         edges AS (
           SELECT a AS u, bb AS v FROM prs
           UNION ALL SELECT bb AS u, a AS v FROM prs),
         walk(node, reach) AS (
           SELECT u, u FROM edges
           UNION
           SELECT w.node, e.v FROM walk w JOIN edges e ON w.reach = e.u),
         comp AS (SELECT node, MIN(reach) AS root FROM walk GROUP BY node),
         base AS (
           SELECT d.media_id, d.fmt, d.n, d.fid,
                  COALESCE(c.root, d.media_id) AS component_id
           FROM ids d LEFT JOIN comp c ON d.media_id = c.node)
         SELECT media_id, component_id,
                COUNT(*) OVER (PARTITION BY component_id) AS cluster_size,
                fmt, CAST(n AS BIGINT) AS content_bytes,
                CAST(fid AS BIGINT) AS fidelity,
                (ROW_NUMBER() OVER (PARTITION BY component_id
                   ORDER BY fid DESC, media_id) = 1) AS keep
         FROM base ORDER BY media_id""",
    "mm_neardup_pairs" ->
      // the NAIVE definition — every ordered same-kind pair, the length
      // window, the exact fingerprint Hamming, and the L1 secondary
      // applied directly (no banding), so a hash match proves the Spark
      // side's band-plus-flip blocking lossless; msig replays the
      // mm_fingerprint chain, hf the mm_face_segments chain
      s"""WITH $mediaSigCtes,
         by AS (
           SELECT media_id, n,
                  CAST((i.i * 8) // n AS INT) AS seg,
                  ('0x' || substr(hx, CAST(2 * i.i + 1 AS INT), 2))::INT AS bv
           FROM mb, unnest(range(n)) AS i(i)),
         hf AS MATERIALIZED (
           SELECT media_id, seg,
                  CAST((SUM(bv) * 1000000) // COUNT(*) AS BIGINT) AS ffix
           FROM by GROUP BY media_id, seg),
         ids AS (SELECT doc_id AS media_id,
                        CASE WHEN doc_id % 3 = 0 THEN 'image'
                             WHEN doc_id % 3 = 1 THEN 'audio'
                             ELSE 'video' END AS kind,
                        octet_length(encode(text)) AS n
                 FROM documents),
         cand AS (
           SELECT x.media_id AS a, x.n AS la, y.media_id AS b, y.n AS lb,
                  x.kind,
                  CAST(bit_count(xor(sa.sig, sb.sig)) AS INT) AS ham
           FROM ids x JOIN ids y
             ON x.kind = y.kind AND x.media_id < y.media_id
           JOIN msig sa ON sa.media_id = x.media_id
           JOIN msig sb ON sb.media_id = y.media_id
           WHERE abs(x.n - y.n) <= ${Multimodal.NearDupLenWindow}
             AND bit_count(xor(sa.sig, sb.sig)) <= ${Multimodal.MediaFpMaxHamming}),
         pb AS (
           SELECT c.a, c.b, c.la, c.lb, c.kind, c.ham, bins.seg,
                  COALESCE(ha.ffix, 0) AS fa, COALESCE(hb.ffix, 0) AS fb
           FROM cand c CROSS JOIN (SELECT unnest(range(8)) AS seg) bins
           LEFT JOIN hf ha ON ha.media_id = c.a AND ha.seg = bins.seg
           LEFT JOIN hf hb ON hb.media_id = c.b AND hb.seg = bins.seg)
         SELECT a AS media_a, b AS media_b, kind,
                CAST(abs(la - lb) AS BIGINT) AS len_delta,
                ham AS hamming,
                CAST(SUM(ABS(fa - fb)) AS BIGINT) AS l1_fix
         FROM pb GROUP BY a, b, la, lb, kind, ham
         HAVING SUM(ABS(fa - fb)) <= ${Multimodal.MediaFpL1Window}
         ORDER BY media_a, media_b""",
    "mm_dedup_decision" ->
      // the same naive pair definition feeding a recursive-CTE
      // transitive closure (the dedup_cluster oracle convention),
      // singletons self-rooted; keep = highest fidelity then lowest
      // id, where the oracle computes fidelity ANALYTICALLY from the
      // same (doc_id, n_chars) the container encoder derived its
      // header fields from — the Spark side reads it off the REAL
      // parsed PNG/JPEG/WAV headers, so a parser regression (fallback
      // to payload bytes) breaks the hash
      s"""WITH RECURSIVE $mediaSigCtes,
         by AS (
           SELECT media_id, n,
                  CAST((i.i * 8) // n AS INT) AS seg,
                  ('0x' || substr(hx, CAST(2 * i.i + 1 AS INT), 2))::INT AS bv
           FROM mb, unnest(range(n)) AS i(i)),
         hf AS MATERIALIZED (
           SELECT media_id, seg,
                  CAST((SUM(bv) * 1000000) // COUNT(*) AS BIGINT) AS ffix
           FROM by GROUP BY media_id, seg),
         ids AS (SELECT doc_id AS media_id,
                        CASE WHEN doc_id % 3 = 0 THEN 'image'
                             WHEN doc_id % 3 = 1 THEN 'audio'
                             ELSE 'video' END AS kind,
                        octet_length(encode(text)) AS n,
                        CASE WHEN doc_id % 3 IN (0, 1) OR doc_id % 6 = 5
                             THEN (n_chars % 640 + 1) * (n_chars % 480 + 1)
                             ELSE (CASE WHEN doc_id % 12 = 8 THEN GREATEST(n_chars // 4, 1)
                             ELSE 8000 + (n_chars % 8) * 1000 END)
                                  * (CASE WHEN doc_id % 12 = 8 THEN 1 ELSE (doc_id // 6) % 2 + 1 END)
                        END AS fid
                 FROM documents),
         cand AS (
           SELECT x.media_id AS a, y.media_id AS bb
           FROM ids x JOIN ids y
             ON x.kind = y.kind AND x.media_id < y.media_id
           JOIN msig sa ON sa.media_id = x.media_id
           JOIN msig sb ON sb.media_id = y.media_id
           WHERE abs(x.n - y.n) <= ${Multimodal.NearDupLenWindow}
             AND bit_count(xor(sa.sig, sb.sig)) <= ${Multimodal.MediaFpMaxHamming}),
         prs AS (
           SELECT a, bb FROM (
             SELECT c.a, c.bb, bins.seg,
                    COALESCE(ha.ffix, 0) AS fa, COALESCE(hb.ffix, 0) AS fb
             FROM cand c CROSS JOIN (SELECT unnest(range(8)) AS seg) bins
             LEFT JOIN hf ha ON ha.media_id = c.a AND ha.seg = bins.seg
             LEFT JOIN hf hb ON hb.media_id = c.bb AND hb.seg = bins.seg)
           GROUP BY a, bb
           HAVING SUM(ABS(fa - fb)) <= ${Multimodal.MediaFpL1Window}),
         edges AS (
           SELECT a AS u, bb AS v FROM prs
           UNION ALL SELECT bb AS u, a AS v FROM prs),
         walk(node, reach) AS (
           SELECT u, u FROM edges
           UNION
           SELECT w.node, e.v FROM walk w JOIN edges e ON w.reach = e.u),
         comp AS (SELECT node, MIN(reach) AS root FROM walk GROUP BY node),
         base AS (
           SELECT d.media_id, d.n, d.fid,
                  COALESCE(c.root, d.media_id) AS component_id
           FROM ids d LEFT JOIN comp c ON d.media_id = c.node)
         SELECT media_id, component_id,
                COUNT(*) OVER (PARTITION BY component_id) AS cluster_size,
                CAST(n AS BIGINT) AS n_bytes,
                CAST(fid AS BIGINT) AS fidelity,
                (ROW_NUMBER() OVER (PARTITION BY component_id
                   ORDER BY fid DESC, media_id) = 1) AS keep
         FROM base ORDER BY media_id""",
    "mm_incremental_neardup" -> mmIncrementalOracleSql,
    // row-identical to mm_incremental_neardup by construction (the
    // artifact IS the corpus fingerprint face), so the stored row
    // reuses the same naive batch x corpus oracle
    "mm_incremental_stored" -> mmIncrementalOracleSql,
    "mm_decontam" -> mmDecontamOracleSql,
    // row-identical to mm_decontam by construction (the artifact IS the
    // fingerprint face the live row checkpoints), so the stored row
    // reuses the live oracle — the mm_incremental_stored convention
    "mm_decontam_stored" -> mmDecontamOracleSql,
    "mm_quality_rules" ->
      // analytic rule replay: dims/rate/duration from (doc_id, n_chars)
      // as the encoders derived them, dominance from a hex-pair GROUP BY
      // over the text bytes the extraction recovers — a parser or
      // extraction regression flips r_parse/r_dominant and the hash
      s"""WITH b AS (
           SELECT doc_id AS media_id, hex(encode(text)) AS hx,
                  octet_length(encode(text)) AS n
           FROM documents),
         by AS (
           SELECT media_id, n, substr(hx, CAST(2 * i.i + 1 AS INT), 2) AS bv
           FROM b, unnest(range(n)) AS i(i)),
         dom AS (
           SELECT media_id, MAX(cnt) AS maxc, ANY_VALUE(n) AS n FROM (
             SELECT media_id, n, bv, COUNT(*) AS cnt
             FROM by GROUP BY media_id, n, bv)
           GROUP BY media_id),
         ids AS (SELECT doc_id AS media_id,
                        CASE WHEN doc_id % 3 = 0 THEN 'png'
                             WHEN doc_id % 3 = 1 THEN 'jpeg'
                             WHEN doc_id % 6 = 2 THEN 'wav'
                             ELSE 'mp4' END AS fmt,
                        n_chars % 640 + 1 AS w, n_chars % 480 + 1 AS h,
                        CASE WHEN doc_id % 12 = 8 THEN GREATEST(n_chars // 4, 1)
                             ELSE 8000 + (n_chars % 8) * 1000 END AS rate,
                        CASE WHEN doc_id % 12 = 8 THEN 1 ELSE (doc_id // 6) % 2 + 1 END AS ch,
                        octet_length(encode(text)) AS n, n_chars
                 FROM documents)
         SELECT i.media_id, i.fmt, true AS r_parse,
                CASE WHEN i.fmt IN ('png', 'jpeg', 'mp4')
                     THEN i.w * i.h >= ${Multimodal.MediaMinPixels} END AS r_min_pixels,
                CASE WHEN i.fmt IN ('png', 'jpeg', 'mp4')
                     THEN GREATEST(i.w, i.h) <= ${Multimodal.MediaAspectMax} * LEAST(i.w, i.h) END AS r_aspect,
                CASE WHEN i.fmt = 'wav'
                     THEN i.rate >= ${Multimodal.MediaMinRate} END AS r_rate,
                CASE WHEN i.fmt = 'wav'
                     THEN i.n * 1000 // (i.rate * i.ch * 2) >= ${Multimodal.MediaMinDurationMs}
                     WHEN i.fmt = 'mp4'
                     THEN (CASE WHEN i.media_id % 12 = 11 THEN i.n_chars % 50 + 10
                                ELSE i.n_chars % 2400 + 600 END) * 1000 // 600
                          >= ${Multimodal.MediaMinDurationMs}
                END AS r_short,
                -- LEFT JOIN + COALESCE(false): a zero-length payload has
                -- no dominance row (unnest(range(0)) is empty) but the
                -- Spark side still emits it with dominantByteOk(empty) =
                -- false — the media must not vanish from the oracle
                COALESCE(2 * d.maxc <= d.n, false) AS r_dominant,
                (COALESCE(CASE WHEN i.fmt IN ('png', 'jpeg', 'mp4')
                     THEN i.w * i.h >= ${Multimodal.MediaMinPixels} END, true)
                 AND COALESCE(CASE WHEN i.fmt IN ('png', 'jpeg', 'mp4')
                     THEN GREATEST(i.w, i.h) <= ${Multimodal.MediaAspectMax} * LEAST(i.w, i.h) END, true)
                 AND COALESCE(CASE WHEN i.fmt = 'wav'
                     THEN i.rate >= ${Multimodal.MediaMinRate} END, true)
                 AND COALESCE(CASE WHEN i.fmt = 'wav'
                     THEN i.n * 1000 // (i.rate * i.ch * 2) >= ${Multimodal.MediaMinDurationMs}
                     WHEN i.fmt = 'mp4'
                     THEN (CASE WHEN i.media_id % 12 = 11 THEN i.n_chars % 50 + 10
                                ELSE i.n_chars % 2400 + 600 END) * 1000 // 600
                          >= ${Multimodal.MediaMinDurationMs}
                 END, true)
                 AND COALESCE(2 * d.maxc <= d.n, false)) AS keep
         FROM ids i LEFT JOIN dom d ON d.media_id = i.media_id
         ORDER BY i.media_id""",
    "mm_curation_decisions" -> mmCurationOracleSql,
    // row-identical to mm_curation_decisions by construction (both
    // artifacts ARE the faces the live row checkpoints), so the stored
    // row reuses the live oracle — the mm_decontam_stored convention
    "mm_curation_stored" -> mmCurationOracleSql,
    "mm_ingest_decisions" -> mmIngestOracleSql,
    // row-identical to mm_ingest_decisions by construction (the corpus
    // and eval carves read the stored face; the batch face is the same
    // per-row pure function), so the stored row reuses the live oracle
    "mm_ingest_stored" -> mmIngestOracleSql,
    "mm_frames" ->
      """WITH d AS (
           SELECT doc_id AS media_id,
                  CASE WHEN doc_id % 3 = 0 THEN 'image'
                       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
                  octet_length(CAST(text AS BLOB)) AS nb
           FROM documents),
         f AS (SELECT media_id, kind, nb, unnest([0, 1, 2, 3]) AS frame_idx FROM d)
         SELECT media_id, kind, CAST(frame_idx AS INT) AS frame_idx,
                CAST(GREATEST(LEAST(GREATEST(nb // 4, 1), nb - frame_idx * (nb // 4)), 0) AS BIGINT) AS frame_len
         FROM f ORDER BY media_id, frame_idx""",
    "dedup_fuzzy_lev" ->
      // the oracle blocks on the raw 16-char affix STRINGS where the Spark
      // side blocks on their xxhash64 — a hash collision can only add a
      // candidate the identical Levenshtein verify rejects in both engines
      """WITH k AS (
           SELECT doc_id, side, h, b FROM (
             SELECT doc_id, unnest([
               {'side': 0, 'h': substr(text, 1, 16), 'b': n_chars // 64},
               {'side': 0, 'h': substr(text, 1, 16), 'b': n_chars // 64 + 1},
               {'side': 1, 'h': substr(text, length(text) - 15, 16), 'b': n_chars // 64},
               {'side': 1, 'h': substr(text, length(text) - 15, 16), 'b': n_chars // 64 + 1}
             ], recursive := true)
             FROM documents)),
         c AS (
           SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           FROM k x JOIN k y
             ON x.side = y.side AND x.h = y.h AND x.b = y.b AND x.doc_id < y.doc_id)
         SELECT doc_a, doc_b, CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
                a.n_chars AS n_chars_a, b.n_chars AS n_chars_b
         FROM c JOIN documents a ON doc_a = a.doc_id
                JOIN documents b ON doc_b = b.doc_id
         WHERE abs(a.n_chars - b.n_chars) <= 8 AND levenshtein(a.text, b.text) <= 8
         ORDER BY doc_a, doc_b""",
    "dedup_substring_spans" ->
      // 60-bit md5-prefix window hashes, per-doc distinct, df-capped at 50
      """WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         d8 AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 8),
         ex AS (
           SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 7),
                    i -> ('0x' || substr(md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')), 1, 15))::BIGINT))) AS wh
           FROM d8),
         keep AS (SELECT wh FROM (SELECT wh, COUNT(*) AS df FROM ex GROUP BY wh) WHERE df <= 50),
         k AS (SELECT ex.doc_id, ex.wh FROM ex JOIN keep USING (wh))
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_windows
         FROM k a JOIN k b ON a.wh = b.wh AND a.doc_id < b.doc_id
         GROUP BY 1, 2 ORDER BY doc_a, doc_b""",
    "dedup_substring_components" ->
      // span-pair generation as in dedup_substring_spans; closure via
      // recursive CTE (oracle shape) vs star contraction (engine shape)
      """WITH RECURSIVE d AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         d8 AS (SELECT doc_id, toks FROM d WHERE len(toks) >= 8),
         ex AS (
           SELECT doc_id, unnest(list_distinct(list_transform(range(len(toks) - 7),
                    i -> ('0x' || substr(md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')), 1, 15))::BIGINT))) AS wh
           FROM d8),
         keep AS (SELECT wh FROM (SELECT wh, COUNT(*) AS df FROM ex GROUP BY wh) WHERE df <= 50),
         k AS (SELECT ex.doc_id, ex.wh FROM ex JOIN keep USING (wh)),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM k a JOIN k b ON a.wh = b.wh AND a.doc_id < b.doc_id),
         edges AS (
           SELECT doc_a AS u, doc_b AS v FROM cand
           UNION ALL
           SELECT doc_b AS u, doc_a AS v FROM cand),
         walk(node, reach) AS (
           SELECT u, u FROM edges
           UNION
           SELECT w.node, e.v FROM walk w JOIN edges e ON w.reach = e.u),
         comp AS (SELECT node, MIN(reach) AS root FROM walk GROUP BY node)
         SELECT d0.doc_id, COALESCE(c.root, d0.doc_id) AS component_id
         FROM documents d0 LEFT JOIN comp c ON d0.doc_id = c.node
         ORDER BY doc_id""",
    "dedup_incremental_winnow" ->
      // winnow both slices, df-cap on the CORPUS (index) side, pair
      // counts, rn=1 pick (n_shared desc, corpus_id) — the max(struct)
      s"""${winnowBaseSql()},
         iwe AS (SELECT doc_id, unnest(fps) AS fp FROM wf),
         iwc AS (SELECT doc_id AS corpus_id, fp FROM iwe WHERE doc_id % 10 <> 0),
         iwb AS (SELECT doc_id AS batch_id, fp FROM iwe WHERE doc_id % 10 = 0),
         iwkeep AS (SELECT fp FROM iwc GROUP BY fp HAVING count(*) <= 50),
         iwp AS (
           SELECT b.batch_id, c.corpus_id, COUNT(*) AS n_shared
           FROM iwc c JOIN iwkeep USING (fp) JOIN iwb b ON c.fp = b.fp
           GROUP BY 1, 2),
         iwpick AS (
           SELECT batch_id, corpus_id, n_shared,
                  row_number() OVER (PARTITION BY batch_id
                    ORDER BY n_shared DESC, corpus_id) AS rn
           FROM iwp)
         SELECT d.doc_id, p.corpus_id IS NULL AS is_new,
                p.corpus_id AS dup_of, p.n_shared
         FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
           LEFT JOIN (SELECT * FROM iwpick WHERE rn = 1) p ON d.doc_id = p.batch_id
         ORDER BY doc_id""",
    "dedup_winnow_components" ->
      // winnow selection CTEs + the same recursive-CTE closure the
      // substring-components oracle uses (engine shape: star contraction)
      s"""${winnowBaseSql(recursive = true)},
         we AS (SELECT doc_id, unnest(fps) AS fp FROM wf),
         wkeep AS (SELECT fp FROM we GROUP BY fp HAVING count(*) <= 50),
         wk AS (SELECT we.doc_id, we.fp FROM we JOIN wkeep USING (fp)),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM wk a JOIN wk b ON a.fp = b.fp AND a.doc_id < b.doc_id),
         edges AS (
           SELECT doc_a AS u, doc_b AS v FROM cand
           UNION ALL
           SELECT doc_b AS u, doc_a AS v FROM cand),
         walk(node, reach) AS (
           SELECT u, u FROM edges
           UNION
           SELECT w.node, e.v FROM walk w JOIN edges e ON w.reach = e.u),
         comp AS (SELECT node, MIN(reach) AS root FROM walk GROUP BY node)
         SELECT d0.doc_id, COALESCE(c.root, d0.doc_id) AS component_id
         FROM documents d0 LEFT JOIN comp c ON d0.doc_id = c.node
         ORDER BY doc_id""",
    "txt_vocab" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         SELECT word, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS doc_freq
         FROM toks GROUP BY word ORDER BY cnt DESC, word LIMIT 1000""",
    "txt_bpe_pairs" ->
      """WITH w AS (
           SELECT word, COUNT(*) AS wcnt
           FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
           GROUP BY word),
         p AS (
           SELECT wcnt, unnest(list_transform(range(1, length(word)),
                    i -> {'lhs': substr(word, CAST(i AS INT), 1),
                          'rhs': substr(word, CAST(i + 1 AS INT), 1)}),
                  recursive := true)
           FROM w WHERE length(word) >= 2)
         SELECT lhs, rhs, CAST(SUM(wcnt) AS BIGINT) AS cnt
         FROM p GROUP BY lhs, rhs ORDER BY cnt DESC, lhs, rhs LIMIT 200""",
    "txt_tokenizer_fertility" ->
      // the segment oracle's per-doc counts aggregated per source;
      // counts exact, ratios exact-operand divides
      s"""WITH seg AS (
           SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
                  CAST(list_sum(list_transform(string_split(text, ' '),
                    w -> length($bpeReplaceChainSql))) AS BIGINT) AS n_bpe_tokens
           FROM documents)
         SELECT source, COUNT(*) AS docs,
                CAST(SUM(n_ws_tokens) AS BIGINT) AS ws_tokens,
                CAST(SUM(n_bpe_tokens) AS BIGINT) AS bpe_tokens,
                CAST(CAST(SUM(n_bpe_tokens) AS DOUBLE) / CAST(SUM(n_ws_tokens) AS DOUBLE) AS FLOAT) AS fertility,
                CAST(CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(n_bpe_tokens) AS DOUBLE) AS FLOAT) AS chars_per_token
         FROM seg GROUP BY source ORDER BY source""",
    "txt_bpe_segment" ->
      s"""SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
                 CAST(list_sum(list_transform(string_split(text, ' '),
                   w -> length($bpeReplaceChainSql))) AS BIGINT) AS n_bpe_tokens
          FROM documents ORDER BY doc_id""",
    "emb_centroids" ->
      // fixed-point (floor(x * 1e6) BIGINT) sums make the distributed mean
      // order-independent and exactly replayable; the divide order
      // (sum -> double, / 1e6, / n) mirrors the Aggregator's finish()
      """WITH e AS (
           SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
                  unnest(embedding) AS v
           FROM embeddings)
         SELECT label, CAST(pos AS INT) AS pos,
                CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
                  / 1000000.0 / COUNT(*) AS centroid_val,
                COUNT(*) AS n
         FROM e GROUP BY label, pos ORDER BY label, pos""",
    "corpus_curation_decisions" ->
      s"""$curationFlagsSql
          SELECT doc_id, source, lang, n_chars, quality_score,
                 is_canonical, passes_quality, keep
          FROM h ORDER BY doc_id""",
    "corpus_curated" ->
      s"""$curationFlagsSql
          SELECT doc_id, source, lang, n_chars, quality_score
          FROM h WHERE keep = 1 ORDER BY doc_id""",
    "corpus_curate_pack" ->
      // the full composition replayed: curation flags (shared CTEs), the
      // string-exact gram contamination set, the content-hash split, the
      // seed-keyed shuffle, and the running-offset pack — every stage is
      // the same SQL its standalone oracle uses, chained
      s"""$curationFlagsSql,
         db AS (
           SELECT *, ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS split_bucket,
                  string_split(text, ' ') AS gtoks
           FROM h),
         g AS (
           SELECT DISTINCT doc_id, split_bucket,
                  array_to_string(list_slice(gtoks, i.i, i.i + 3), ' ') AS gram
           FROM db, unnest(range(1, greatest(len(gtoks) - 3, 1) + 1)) AS i(i)),
         ev AS (SELECT DISTINCT gram FROM g WHERE split_bucket >= 95),
         cont AS (
           SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram)
           WHERE g.split_bucket < 95),
         surv AS (
           SELECT doc_id, source, quality_score,
                  CAST(len(gtoks) AS BIGINT) AS n_tokens,
                  ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS shuffle_key
           FROM db
           WHERE keep = 1 AND split_bucket < 95
             AND doc_id NOT IN (SELECT doc_id FROM cont)),
         sh AS (
           SELECT *, shuffle_key % 64 AS shard,
                  CAST(row_number() OVER (PARTITION BY shuffle_key % 64
                    ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
           FROM surv)
         SELECT doc_id, source, quality_score, shard, pos, n_tokens,
                CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS offset_in_shard,
                CAST((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 2048 AS BIGINT) AS seq_id
         FROM sh ORDER BY shard, pos""",
    "corpus_curation_report" ->
      s"""$curationFlagsSql
          SELECT source, COUNT(*) AS n_input,
                 CAST(SUM(is_canonical) AS BIGINT) AS n_canonical,
                 CAST(SUM(is_canonical * passes_quality) AS BIGINT) AS n_quality,
                 CAST(SUM(keep) AS BIGINT) AS n_kept
          FROM h GROUP BY source ORDER BY source""",
    "corpus_ingest_decisions" ->
      // every gate replayed with its standalone oracle's SQL, chained:
      // exact fp lookup + within-batch window, the md5-simhash verdict
      // pipeline, the string-exact gram contamination set, the quality
      // floor — then the pinned-precedence reason CASE
      s"""$decontamGramsSql,
         bfp AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 10 = 0),
         cfp AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 10 <> 0),
         ex AS (
           SELECT doc_id,
                  CASE WHEN fp IN (SELECT fp FROM cfp)
                        OR ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) > 1
                       THEN 1 ELSE 0 END AS exact_dup
           FROM bfp),
         t AS (
           SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')),
                    tok -> ('0x' || substr(md5(tok), 1, 15))::BIGINT) AS hs
           FROM documents),
         s AS (
           SELECT doc_id,
                  CASE WHEN len(hs) = 0 THEN 0
                       ELSE CAST(list_sum(list_transform(range(60), b ->
                         CASE WHEN 2 * list_sum(list_transform(hs, h -> (h >> b) & 1)) >= len(hs)
                              THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT)
                  END AS simhash
           FROM t),
         bb AS (
           SELECT doc_id, simhash,
                  unnest([CAST(0 * 65536 + ((simhash >> 0) & 65535) AS BIGINT),
                          CAST(1 * 65536 + ((simhash >> 16) & 65535) AS BIGINT),
                          CAST(2 * 65536 + ((simhash >> 32) & 65535) AS BIGINT),
                          CAST(3 * 65536 + ((simhash >> 48) & 65535) AS BIGINT)]) AS band_key
           FROM s),
         nd AS (
           SELECT DISTINCT a.doc_id FROM bb a JOIN bb b USING (band_key)
           WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
             AND bit_count(xor(a.simhash, b.simhash)) <= 3),
         cont AS (
           SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram)
           WHERE g.doc_id % 10 = 0),
         qq AS (
           SELECT doc_id, $qualityScoreSql AS quality_score
           FROM documents)
         SELECT b.doc_id, ex.exact_dup,
                CASE WHEN nd.doc_id IS NULL THEN 0 ELSE 1 END AS near_dup,
                CASE WHEN cont.doc_id IS NULL THEN 0 ELSE 1 END AS contaminated,
                CASE WHEN qq.quality_score >= 0.6 THEN 1 ELSE 0 END AS passes_quality,
                CASE WHEN ex.exact_dup = 0 AND nd.doc_id IS NULL
                      AND cont.doc_id IS NULL AND qq.quality_score >= 0.6
                     THEN 1 ELSE 0 END AS admit,
                CASE WHEN ex.exact_dup = 1 THEN 'exact_dup'
                     WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
                     WHEN cont.doc_id IS NOT NULL THEN 'contaminated'
                     WHEN qq.quality_score < 0.6 THEN 'low_quality' END AS reason
         FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) b
         JOIN ex USING (doc_id)
         LEFT JOIN nd USING (doc_id)
         LEFT JOIN cont USING (doc_id)
         JOIN qq USING (doc_id)
         ORDER BY b.doc_id""",
    "corpus_ingest_rebuild" ->
      // rebuild twin: row-identical to corpus_ingest_decisions, same replay
      s"""$decontamGramsSql,
         bfp AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 10 = 0),
         cfp AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 10 <> 0),
         ex AS (
           SELECT doc_id,
                  CASE WHEN fp IN (SELECT fp FROM cfp)
                        OR ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) > 1
                       THEN 1 ELSE 0 END AS exact_dup
           FROM bfp),
         t AS (
           SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')),
                    tok -> ('0x' || substr(md5(tok), 1, 15))::BIGINT) AS hs
           FROM documents),
         s AS (
           SELECT doc_id,
                  CASE WHEN len(hs) = 0 THEN 0
                       ELSE CAST(list_sum(list_transform(range(60), b ->
                         CASE WHEN 2 * list_sum(list_transform(hs, h -> (h >> b) & 1)) >= len(hs)
                              THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT)
                  END AS simhash
           FROM t),
         bb AS (
           SELECT doc_id, simhash,
                  unnest([CAST(0 * 65536 + ((simhash >> 0) & 65535) AS BIGINT),
                          CAST(1 * 65536 + ((simhash >> 16) & 65535) AS BIGINT),
                          CAST(2 * 65536 + ((simhash >> 32) & 65535) AS BIGINT),
                          CAST(3 * 65536 + ((simhash >> 48) & 65535) AS BIGINT)]) AS band_key
           FROM s),
         nd AS (
           SELECT DISTINCT a.doc_id FROM bb a JOIN bb b USING (band_key)
           WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
             AND bit_count(xor(a.simhash, b.simhash)) <= 3),
         cont AS (
           SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram)
           WHERE g.doc_id % 10 = 0),
         qq AS (
           SELECT doc_id, $qualityScoreSql AS quality_score
           FROM documents)
         SELECT b.doc_id, ex.exact_dup,
                CASE WHEN nd.doc_id IS NULL THEN 0 ELSE 1 END AS near_dup,
                CASE WHEN cont.doc_id IS NULL THEN 0 ELSE 1 END AS contaminated,
                CASE WHEN qq.quality_score >= 0.6 THEN 1 ELSE 0 END AS passes_quality,
                CASE WHEN ex.exact_dup = 0 AND nd.doc_id IS NULL
                      AND cont.doc_id IS NULL AND qq.quality_score >= 0.6
                     THEN 1 ELSE 0 END AS admit,
                CASE WHEN ex.exact_dup = 1 THEN 'exact_dup'
                     WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
                     WHEN cont.doc_id IS NOT NULL THEN 'contaminated'
                     WHEN qq.quality_score < 0.6 THEN 'low_quality' END AS reason
         FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) b
         JOIN ex USING (doc_id)
         LEFT JOIN nd USING (doc_id)
         LEFT JOIN cont USING (doc_id)
         JOIN qq USING (doc_id)
         ORDER BY b.doc_id""",
    "corpus_quality_quantile" ->
      // percent_rank is pure integer rank arithmetic over the same
      // (quality_score, doc_id) total order — no interpolated percentile
      s"""WITH t AS (
           SELECT doc_id, source, n_chars,
                  ${wsToksSql("text")} AS toks
           FROM documents),
         q AS (
           SELECT doc_id, source,
                  LEAST(1.0,
                    (CAST(${stopHitsSql("toks")} AS DOUBLE) / len(toks)) * 2.0
                    + CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 0.5 ELSE 0.0 END) AS quality_score
           FROM t),
         r AS (
           SELECT doc_id, source, quality_score,
                  percent_rank() OVER (PARTITION BY source
                    ORDER BY quality_score, doc_id) AS pct_rank
           FROM q)
         SELECT doc_id, source, quality_score, pct_rank
         FROM r WHERE pct_rank >= 0.25 ORDER BY doc_id""",
    "zorder_values" ->
      // the exact 32-term Morton interleave the Spark fold builds, emitted
      // as SQL by the same generator — integer bit math, bit-identical
      s"""WITH b AS (
            SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                   l_partkey % 65536 AS zx, l_suppkey % 65536 AS zy
            FROM lineitem)
          SELECT l_orderkey, l_linenumber, zx, zy,
                 (${Layout.zValue16Sql("zx", "zy")}) AS z
          FROM b ORDER BY l_orderkey, l_linenumber""",
    "hilbert_values" ->
      // the same 16-level xy2d walk, replayed as chained CTEs — pure
      // integer compares/adds/flips, bit-identical
      s"""WITH b AS (
            SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                   l_partkey % 65536 AS hx, l_suppkey % 65536 AS hy
            FROM lineitem),
          ${Layout.hilbertSql("b", "l_orderkey, l_linenumber")}
          SELECT l_orderkey, l_linenumber, hx, hy, h
          FROM hf ORDER BY l_orderkey, l_linenumber""",
    "snapshot_diff" ->
      // +1.0 on a double is exact IEEE in both engines; IS DISTINCT FROM
      // mirrors Spark's null-safe <=> negation
      """WITH prev AS (
           SELECT o_orderkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey % 10 <> 3),
         nxt AS (
           SELECT o_orderkey, o_orderstatus,
                  CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
                       ELSE o_totalprice END AS o_totalprice
           FROM orders WHERE o_orderkey % 10 <> 7),
         d AS (
           SELECT COALESCE(p.o_orderkey, n.o_orderkey) AS o_orderkey,
                  CASE WHEN p.o_orderkey IS NULL THEN 'insert'
                       WHEN n.o_orderkey IS NULL THEN 'delete'
                       WHEN p.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                         OR p.o_totalprice IS DISTINCT FROM n.o_totalprice
                       THEN 'update' END AS op,
                  p.o_orderstatus AS prev_o_orderstatus,
                  n.o_orderstatus AS next_o_orderstatus,
                  p.o_totalprice AS prev_o_totalprice,
                  n.o_totalprice AS next_o_totalprice
           FROM prev p FULL OUTER JOIN nxt n ON p.o_orderkey = n.o_orderkey)
         SELECT * FROM d WHERE op IS NOT NULL ORDER BY o_orderkey""",
    "snapshot_apply" ->
      // the oracle is the TARGET snapshot itself: a hash match proves
      // apply ∘ diff = identity on this data
      """SELECT o_orderkey, o_orderstatus,
                CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
                     ELSE o_totalprice END AS o_totalprice
         FROM orders WHERE o_orderkey % 10 <> 7
         ORDER BY o_orderkey""",
    "snapshot_scd2_incremental" ->
      // incremental ≡ from-scratch: replay the batch-inclusive history
      // in full, subtract the stored base-slice history (EXCEPT) — the
      // incremental-components oracle contract
      s"""WITH ev AS (
           SELECT user_id, epoch_us(ts) AS tus, event_id, event_type
           FROM events),
         ${scd2HistSql("ev", "f")},
         bev AS (SELECT * FROM ev WHERE tus < 1706054400000000),
         ${scd2HistSql("bev", "b")}
         SELECT user_id, valid_from, valid_to, is_current, event_type
         FROM fh
         EXCEPT
         SELECT user_id, valid_from, valid_to, is_current, event_type
         FROM bh
         ORDER BY user_id, valid_from""",
    "snapshot_scd2_asof" ->
      // replay the BASE slice's history from raw events and apply the
      // same half-open interval predicate per pinned instant — a hash
      // match proves the persisted artifact + predicate reproduce the
      // from-scratch answer (the incremental-components oracle contract)
      s"""WITH ev AS (
           SELECT user_id, epoch_us(ts) AS tus, event_id, event_type
           FROM events),
         bev AS (SELECT * FROM ev WHERE tus < 1706054400000000),
         ${scd2HistSql("bev", "b")},
         lk AS (SELECT * FROM (VALUES (1704672000000000),
                  (1705276800000000), (1705881600000000)) AS t(asof_us))
         SELECT lk.asof_us, bh.user_id, bh.event_type, bh.valid_from
         FROM bh JOIN lk
           ON bh.valid_from <= lk.asof_us
          AND (bh.valid_to IS NULL OR bh.valid_to > lk.asof_us)
         ORDER BY asof_us, user_id""",
    "events_preference_pairs" ->
      // same double ORDER BY with full tiebreaks; margin is one per-row
      // IEEE subtraction -- exact cross-engine
      """WITH ev AS (
           SELECT user_id, event_id, epoch_us(ts) AS tus,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
                  value
           FROM events
           WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
             AND value IS NOT NULL),
         r AS (
           SELECT *,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY value DESC, tus ASC, event_id ASC) AS rn_hi,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY value ASC, tus DESC, event_id DESC) AS rn_lo
           FROM ev),
         c AS (SELECT user_id, item AS chosen_item, value AS chosen_value
               FROM r WHERE rn_hi = 1),
         j AS (SELECT user_id, item AS rejected_item, value AS rejected_value
               FROM r WHERE rn_lo = 1)
         SELECT c.user_id, chosen_item, rejected_item,
                chosen_value, rejected_value,
                chosen_value - rejected_value AS margin
         FROM c JOIN j ON c.user_id = j.user_id
         WHERE chosen_value > rejected_value
         ORDER BY c.user_id""",
    "events_bt_ratings" ->
      // unrolled MM rounds, fixed-point denominator sums — hash-exact
      s"""${btSql()}
         SELECT s.item, CAST(s.wins AS BIGINT) AS wins,
                CAST(s.games AS BIGINT) AS games, CAST(r.p AS FLOAT) AS rating
         FROM bt_stat s JOIN bt_r${graft.operators.Events.BtIters} r
           ON s.item = r.item
         ORDER BY s.item""",
    "events_trending" ->
      // quantized half-life decay: contributions are exact powers of two
      // summed as BIGINTs at scale 2^40 — order-independent, no libm pow
      """WITH ev AS (
           SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
                  epoch_us(ts) // 86400000000 AS day
           FROM events
           WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL),
         anchored AS (
           SELECT item, day, (SELECT max(day) FROM ev) AS max_day FROM ev),
         wt AS (
           SELECT item, day,
                  CASE WHEN (max_day - day) // 7 <= 40
                       THEN (CAST(1 AS BIGINT) << CAST(40 - (max_day - day) // 7 AS INT))
                       ELSE CAST(0 AS BIGINT) END AS w_fx
           FROM anchored)
         SELECT item,
                CAST(sum(w_fx) AS DOUBLE) / 1099511627776.0 AS decayed_score,
                COUNT(*) AS n_events, max(day) AS last_day
         FROM wt GROUP BY item
         ORDER BY decayed_score DESC, item LIMIT 50""",
    "events_trending_incremental" ->
      // deliberately the FROM-SCRATCH replay over the full table: a
      // hash match proves the batch-extended count state reproduces it
      """WITH ev AS (
           SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
                  epoch_us(ts) // 86400000000 AS day
           FROM events
           WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL),
         anchored AS (
           SELECT item, day, (SELECT max(day) FROM ev) AS max_day FROM ev),
         wt AS (
           SELECT item, day,
                  CASE WHEN (max_day - day) // 7 <= 40
                       THEN (CAST(1 AS BIGINT) << CAST(40 - (max_day - day) // 7 AS INT))
                       ELSE CAST(0 AS BIGINT) END AS w_fx
           FROM anchored)
         SELECT item,
                CAST(sum(w_fx) AS DOUBLE) / 1099511627776.0 AS decayed_score,
                COUNT(*) AS n_events, max(day) AS last_day
         FROM wt GROUP BY item
         ORDER BY decayed_score DESC, item LIMIT 50""",
    "events_ab_test" ->
      // per-user collapse, conditional-sum sufficient statistics, then
      // the identical pinned z/t double chain cut to FLOAT
      """WITH pu AS (
           -- NULL user_id belongs to NO arm: filtered explicitly on
           -- both sides (the Spark side's parity predicate would drop
           -- NULLs while CASE ... ELSE would bucket them into control)
           SELECT user_id,
                  MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
                  SUM(CAST(floor(value * 100.0) AS BIGINT)) AS uv
           FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
         s AS (
           SELECT CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n0,
                  CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                  CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 0 ELSE converted END) AS BIGINT) AS c0,
                  CAST(SUM(CASE WHEN user_id % 2 = 1 THEN converted ELSE 0 END) AS BIGINT) AS c1,
                  CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 0 ELSE uv END) AS BIGINT) AS s0,
                  CAST(SUM(CASE WHEN user_id % 2 = 1 THEN uv ELSE 0 END) AS BIGINT) AS s1,
                  CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 0 ELSE uv * uv END) AS BIGINT) AS q0,
                  CAST(SUM(CASE WHEN user_id % 2 = 1 THEN uv * uv ELSE 0 END) AS BIGINT) AS q1
           FROM pu)
         SELECT n0 AS n_control, n1 AS n_treatment,
                c0 AS conv_control, c1 AS conv_treatment,
                CAST(CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS FLOAT) AS rate_control,
                CAST(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS FLOAT) AS rate_treatment,
                CAST(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                     - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS FLOAT) AS lift_abs,
                CAST(CASE WHEN c0 + c1 > 0 AND c0 + c1 < n0 + n1 THEN
                     (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                      - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                     / sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                            * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                            * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
                     ELSE NULL END AS FLOAT) AS z_conversion,
                CAST(CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) / 100.0 AS FLOAT) AS mean_value_control,
                CAST(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0 AS FLOAT) AS mean_value_treatment,
                CAST(CASE WHEN n0 > 1 AND n1 > 1
                          AND (n0 * q0 > s0 * s0 OR n1 * q1 > s1 * s1) THEN
                     (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0
                      - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) / 100.0)
                     / sqrt(((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                               / (CAST(n0 AS DOUBLE) - 1.0) / 10000.0) / CAST(n0 AS DOUBLE)
                            + ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                               / (CAST(n1 AS DOUBLE) - 1.0) / 10000.0) / CAST(n1 AS DOUBLE))
                     ELSE NULL END AS FLOAT) AS t_value
         FROM s""",
    "events_cusum" ->
      // day-count-scaled integer CUSUM: s·days = days·cum − idx·total,
      // all BIGINTs; change-point = max |s| (earliest day on ties)
      """WITH ev AS (
           SELECT epoch_us(ts) // 86400000000 AS day FROM events),
         d AS (SELECT day, COUNT(*) AS n FROM ev GROUP BY day),
         t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
                      COUNT(*) AS days FROM d),
         sc AS (SELECT day, CAST(n AS BIGINT) AS n,
                       CAST(SUM(n) OVER (ORDER BY day) AS BIGINT) AS cum,
                       CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS idx
                FROM d),
         s2 AS (SELECT sc.day, sc.n, sc.cum,
                       t.days * sc.cum - sc.idx * t.total AS s_scaled
                FROM sc, t),
         pk AS (SELECT day AS peak_day FROM s2
                ORDER BY abs(s_scaled) DESC, day ASC LIMIT 1)
         SELECT s2.day, s2.n, s2.cum, s2.s_scaled,
                s2.day = pk.peak_day AS is_changepoint
         FROM s2, pk ORDER BY s2.day""",
    "dq_report" ->
      // each check replays as plain SQL; counts exact, rate one divide
      """WITH checks AS (
           SELECT 'orders_custkey_orphans' AS "check",
                  (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
                     ON o.o_custkey = c.c_custkey
                   WHERE c.c_custkey IS NULL) AS violations,
                  (SELECT COUNT(*) FROM orders) AS total
           UNION ALL
           SELECT 'lineitem_orderkey_orphans',
                  (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
                     ON l.l_orderkey = o.o_orderkey
                   WHERE o.o_orderkey IS NULL),
                  (SELECT COUNT(*) FROM lineitem)
           UNION ALL
           SELECT 'customer_pk_duplicates',
                  (SELECT COUNT(*) FROM (SELECT c_custkey FROM customer
                     GROUP BY 1 HAVING COUNT(*) > 1)),
                  (SELECT COUNT(DISTINCT c_custkey) FROM customer)
           UNION ALL
           SELECT 'orders_pk_duplicates',
                  (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders
                     GROUP BY 1 HAVING COUNT(*) > 1)),
                  (SELECT COUNT(DISTINCT o_orderkey) FROM orders)
           UNION ALL
           SELECT 'orders_totalprice_nulls',
                  (SELECT COUNT(*) FROM orders WHERE o_totalprice IS NULL),
                  (SELECT COUNT(*) FROM orders)
           UNION ALL
           SELECT 'events_props_item_nulls',
                  (SELECT COUNT(*) FROM events
                   WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NULL),
                  (SELECT COUNT(*) FROM events)
           UNION ALL
           SELECT 'documents_lang_nulls',
                  (SELECT COUNT(*) FROM documents
                   WHERE lang IS NULL OR lang = ''),
                  (SELECT COUNT(*) FROM documents)
           UNION ALL
           SELECT 'lineitem_quantity_range',
                  (SELECT COUNT(*) FROM lineitem
                   WHERE l_quantity < 1 OR l_quantity > 50),
                  (SELECT COUNT(*) FROM lineitem)
           UNION ALL
           SELECT 'documents_nchars_mismatch',
                  (SELECT COUNT(*) FROM documents
                   WHERE n_chars <> length(text)),
                  (SELECT COUNT(*) FROM documents))
         SELECT "check", violations, total,
                CASE WHEN total > 0 THEN
                  CAST(violations AS DOUBLE) / CAST(total AS DOUBLE)
                END AS rate
         FROM checks ORDER BY "check"""",
    "events_retention_incremental" ->
      // incremental ≡ from-scratch: replay the batch-inclusive matrix in
      // full, subtract the base-only matrix (EXCEPT) -- the
      // scd2-incremental oracle contract
      """WITH ev AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
           FROM events),
         ft AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1),
         full_m AS (
           SELECT cohort_day, day - cohort_day AS offset_days,
                  COUNT(*) AS active_users
           FROM ev JOIN ft USING (user_id) GROUP BY 1, 2),
         bev AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
           FROM events WHERE epoch_us(ts) < 1706054400000000),
         bft AS (SELECT user_id, min(day) AS cohort_day FROM bev GROUP BY 1),
         base_m AS (
           SELECT cohort_day, day - cohort_day AS offset_days,
                  COUNT(*) AS active_users
           FROM bev JOIN bft USING (user_id) GROUP BY 1, 2)
         SELECT cohort_day, offset_days, active_users FROM full_m
         EXCEPT
         SELECT cohort_day, offset_days, active_users FROM base_m
         ORDER BY cohort_day, offset_days""",
    "events_retention" ->
      // cohort = min active day per user at exact integer µs//day; the
      // ratio is one double divide with exact-long operands — hash-stable
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
         a AS (
           SELECT user_id, day,
                  min(day) OVER (PARTITION BY user_id) AS cohort_day
           FROM ev),
         act AS (
           SELECT cohort_day, day - cohort_day AS offset_days,
                  COUNT(DISTINCT user_id) AS active_users
           FROM a GROUP BY 1, 2),
         sz AS (SELECT cohort_day, active_users AS cohort_users
                FROM act WHERE offset_days = 0)
         SELECT act.cohort_day, act.offset_days, act.active_users,
                sz.cohort_users,
                CAST(act.active_users AS DOUBLE)
                  / CAST(sz.cohort_users AS DOUBLE) AS retention
         FROM act JOIN sz USING (cohort_day)
         ORDER BY cohort_day, offset_days""",
    "events_cohort_volume" ->
      // value mass under the LM fixed-point convention (Σ of
      // round(v·10⁶) longs — order-independent); counts exact
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) // 86400000000 AS day, value
           FROM events),
         a AS (
           SELECT user_id, day, value,
                  min(day) OVER (PARTITION BY user_id) AS cohort_day
           FROM ev),
         vol AS (
           SELECT cohort_day, COUNT(*) AS events,
                  COUNT(DISTINCT user_id) AS cohort_users,
                  SUM(CAST(round(value * 1000000) AS BIGINT)) AS value_fx
           FROM a GROUP BY 1),
         tot AS (SELECT SUM(events) AS total_events FROM vol)
         SELECT cohort_day, events, cohort_users,
                CAST(value_fx AS DOUBLE) / 1000000.0 AS value_sum,
                CAST(events AS DOUBLE) / CAST(total_events AS DOUBLE)
                  AS event_share
         FROM vol CROSS JOIN tot
         ORDER BY cohort_day""",
    "snapshot_scd2" ->
      // SCD-2 replay: run starts via null-safe lag compare, spans closed
      // by the next run's start version — pure copies and comparisons,
      // no arithmetic, bit-identical cross-engine
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) AS tus, event_id, event_type
           FROM events),
         f AS (
           SELECT user_id, tus, event_id, event_type,
                  lag(tus) OVER w IS NULL
                    OR event_type IS DISTINCT FROM lag(event_type) OVER w
                    AS is_start
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
         s AS (SELECT * FROM f WHERE is_start),
         o AS (
           SELECT user_id, tus AS valid_from,
                  lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
                    AS valid_to,
                  event_type
           FROM s)
         SELECT user_id, valid_from, valid_to,
                valid_to IS NULL AS is_current, event_type
         FROM o ORDER BY user_id, valid_from""",
    "upsert_latest" ->
      // µs times on both sides (sessionize convention); src ranks the
      // update batch above base on a same-µs tie, event_id pins the rest
      """WITH ev AS (
           SELECT user_id, event_id, epoch_us(ts) AS tus, event_type, value
           FROM events),
         u AS (
           SELECT *, CASE WHEN tus >= 1706054400000000 THEN 0 ELSE 1 END AS src
           FROM ev),
         r AS (
           SELECT user_id, event_id, tus, event_type, value,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY tus DESC, src ASC, event_id DESC) AS rn
           FROM u)
         SELECT user_id, event_id, tus, event_type, value
         FROM r WHERE rn = 1 ORDER BY user_id""",
    "dedup_semantic" ->
      // same trained centroids as kmeans_assign; the within-cell threshold
      // runs on the DOUBLE cosine in both engines (emb_near_dup convention)
      s"""${kmeansCentroidsSql()},
         assign AS (
           SELECT vec_id, v, cid FROM (
             SELECT e.vec_id, e.v, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY CAST(list_cosine_similarity(e.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM v0 e CROSS JOIN cent2 c) WHERE rn = 1),
         drops AS (
           SELECT DISTINCT a.vec_id FROM assign a JOIN assign b
           ON a.cid = b.cid AND b.vec_id < a.vec_id
             AND list_cosine_similarity(a.v, b.v) >= 0.35)
         SELECT a.vec_id, a.cid, (d.vec_id IS NULL) AS keep
         FROM assign a LEFT JOIN drops d ON a.vec_id = d.vec_id
         ORDER BY a.vec_id""",
    "emb_project" ->
      // the same ±1/√k rows the Spark fold multiplies by, emitted as SQL
      // literals from the same generator
      s"""WITH v0 AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
          p AS (
            SELECT vec_id, ${embProjectionListSql()} AS proj FROM v0)
          SELECT vec_id, CAST(t.pos AS INT) AS pos, proj[t.pos + 1] AS val
          FROM p, unnest(range(len(proj))) AS t(pos)
          ORDER BY vec_id, pos""",
    "emb_pca_component" ->
      s"""${pcaSql()}
         SELECT CAST(p.j - 1 AS INT) AS pos, p.loading, e.eig AS eigenvalue
         FROM ppc p, peig e ORDER BY pos""",
    "emb_pca_project" ->
      s"""${pcaSql()},
         pproj AS (
           SELECT pv0.vec_id,
                  SUM(CAST(floor((pv0.v[t.j] - m.m) * p.loading * 1000000000.0) AS BIGINT)) AS pfx
           FROM pv0, range(1, 65) t(j)
           JOIN pmean m ON t.j = m.j
           JOIN ppc p ON t.j = p.j
           GROUP BY pv0.vec_id)
         SELECT vec_id, CAST(pfx AS DOUBLE) / 1000000000.0 AS pc1
         FROM pproj ORDER BY vec_id""",
    "k8_compacted_roundtrip" ->
      // compaction must be content-neutral: the oracle is the source table
      "SELECT p_partkey, p_name, p_retailprice FROM part ORDER BY p_partkey",
    "k9_mergeschema_roundtrip" ->
      // schema evolution must be content-neutral modulo the null-padding
      // contract: old-generation rows (even l_orderkey) read the added
      // column as NULL
      """SELECT l_orderkey, l_linenumber, l_quantity,
                CASE WHEN l_orderkey % 2 = 1 THEN l_extendedprice END AS l_extendedprice
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "events_funnel" ->
      // µs event times on both sides (ns-vs-µs truncation must not flip
      // the strict inequalities anchoring each stage)
      """WITH e AS (
           SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
         a AS (
           SELECT *, MIN(CASE WHEN event_type = 'view' THEN tus END)
                       OVER (PARTITION BY user_id) AS t_view FROM e),
         b AS (
           SELECT *, MIN(CASE WHEN event_type = 'click' AND tus > t_view THEN tus END)
                       OVER (PARTITION BY user_id) AS t_click FROM a),
         c AS (
           SELECT *, MIN(CASE WHEN event_type = 'purchase' AND tus > t_click THEN tus END)
                       OVER (PARTITION BY user_id) AS t_purchase FROM b),
         u AS (
           SELECT user_id, MAX(t_view) AS t_view, MAX(t_click) AS t_click,
                  MAX(t_purchase) AS t_purchase
           FROM c GROUP BY user_id)
         SELECT CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view_users,
                CAST(SUM(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click_users,
                CAST(SUM(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_users
         FROM u""",
    "txt_quality" ->
      s"""WITH t AS (
           SELECT doc_id, n_chars, text, ${wsToksSql("text")} AS toks
           FROM documents)
         SELECT doc_id,
                CAST(n_chars AS DOUBLE) / len(toks) AS mean_token_len,
                CAST(${stopHitsSql("toks")} AS DOUBLE)
                  / len(toks) AS stopword_ratio,
                CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                  / n_chars AS alpha_ratio,
                LEAST(1.0,
                  (CAST(${stopHitsSql("toks")} AS DOUBLE) / len(toks)) * 2.0
                  + CASE WHEN n_chars >= 100 AND n_chars <= 10000 THEN 0.5 ELSE 0.0 END) AS quality_score
         FROM t ORDER BY doc_id""",
    "txt_langid_confusion" ->
      // the lang-id oracle's per-doc predictions aggregated to cells;
      // counts exact, shares exact-operand divides
      """WITH t AS (
           SELECT doc_id, lang AS labelled_lang,
                  list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
           FROM documents),
         c AS (
           SELECT doc_id, labelled_lang, toks, unnest([
             {'l': 'en', 'w': ['the','and','of','to','in','is','that','for']},
             {'l': 'de', 'w': ['der','die','das','und','ist','nicht','ein','zu']},
             {'l': 'fr', 'w': ['le','la','les','et','est','un','une','pour']},
             {'l': 'es', 'w': ['el','la','los','y','es','un','una','para']},
             {'l': 'zh', 'w': ['的','是','了','在','我','有','和','不']}]) AS cand
           FROM t),
         h AS (
           SELECT doc_id, labelled_lang, cand.l AS cl,
                  len(list_filter(toks, x -> list_contains(cand.w, x))) AS hits
           FROM c),
         p AS (
           SELECT doc_id,
                  CASE WHEN hits > 0 THEN cl ELSE 'und' END AS predicted_lang,
                  labelled_lang
           FROM h
           QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cl DESC) = 1),
         cells AS (
           SELECT labelled_lang, predicted_lang, COUNT(*) AS docs
           FROM p GROUP BY 1, 2),
         tot AS (
           SELECT labelled_lang, SUM(docs) AS label_docs
           FROM cells GROUP BY 1)
         SELECT cells.labelled_lang, predicted_lang, docs,
                CAST(docs AS DOUBLE) / CAST(label_docs AS DOUBLE) AS share
         FROM cells JOIN tot USING (labelled_lang)
         ORDER BY labelled_lang, predicted_lang""",
    "txt_lang_id" ->
      """WITH t AS (
           SELECT doc_id, lang AS labelled_lang,
                  list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
           FROM documents),
         c AS (
           SELECT doc_id, labelled_lang, toks, unnest([
             {'l': 'en', 'w': ['the','and','of','to','in','is','that','for']},
             {'l': 'de', 'w': ['der','die','das','und','ist','nicht','ein','zu']},
             {'l': 'fr', 'w': ['le','la','les','et','est','un','une','pour']},
             {'l': 'es', 'w': ['el','la','los','y','es','un','una','para']},
             {'l': 'zh', 'w': ['的','是','了','在','我','有','和','不']}]) AS cand
           FROM t),
         h AS (
           SELECT doc_id, labelled_lang, cand.l AS cl,
                  len(list_filter(toks, x -> list_contains(cand.w, x))) AS hits
           FROM c)
         SELECT doc_id,
                CASE WHEN hits > 0 THEN cl ELSE 'und' END AS predicted_lang,
                labelled_lang
         FROM h
         QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cl DESC) = 1
         ORDER BY doc_id""",
    "txt_fingerprints_md5" ->
      "SELECT doc_id, md5(text) AS fp_md5 FROM documents ORDER BY doc_id",
    "txt_winnow" ->
      s"""${winnowBaseSql()}
         SELECT doc_id, unnest(fps) AS fp FROM wf ORDER BY doc_id, fp""",
    "dedup_winnow_pairs" ->
      // df-cap then pair-join over the selected fingerprints — the
      // substring-pairs oracle shape on the winnowed set
      s"""${winnowBaseSql()},
         we AS (SELECT doc_id, unnest(fps) AS fp FROM wf),
         wkeep AS (SELECT fp FROM we GROUP BY fp HAVING count(*) <= 50),
         wk AS (SELECT we.doc_id, we.fp FROM we JOIN wkeep USING (fp))
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                COUNT(*) AS n_shared_fps
         FROM wk a JOIN wk b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 ORDER BY doc_a, doc_b""",
    // row-identical by construction (the artifact IS the fingerprint
    // frame) — the rebuild twin reuses the stored-default row's oracle
    "dedup_winnow_pairs_rebuild" ->
      s"""${winnowBaseSql()},
         we AS (SELECT doc_id, unnest(fps) AS fp FROM wf),
         wkeep AS (SELECT fp FROM we GROUP BY fp HAVING count(*) <= 50),
         wk AS (SELECT we.doc_id, we.fp FROM we JOIN wkeep USING (fp))
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                COUNT(*) AS n_shared_fps
         FROM wk a JOIN wk b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 ORDER BY doc_a, doc_b""",
    "txt_scrub" ->
      """SELECT doc_id,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(text,
                      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                    'https?://[^\s]+', '<URL>', 'g'),
                  '[0-9]{6,}', '<NUM>', 'g') AS scrubbed,
                CAST(scrubbed <> text AS INT) AS changed
         FROM documents ORDER BY doc_id""",
    "txt_repetition" ->
      // toks mirrors wsTokens' empty-token filter (see wsToksSql; inlined
      // here because this plain string must not escape-process '\.')
      """WITH t AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks FROM documents)
         SELECT doc_id,
                CAST(len(toks) AS BIGINT) AS n_tokens,
                CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
                1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dup_token_ratio,
                CAST(list_max(list_transform(list_distinct(toks),
                       d -> len(list_filter(toks, x -> x = d)))) AS DOUBLE)
                  / len(toks) AS top_token_share
         FROM t ORDER BY doc_id""",
    "txt_gopher_rules" ->
      // every ratio is exact-integer-count division in doubles; keep is a
      // conjunction over those exact values, so it replays bit-for-bit
      """WITH t AS (
           SELECT doc_id, text, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks FROM documents),
         s AS (
           SELECT doc_id, text, toks, CAST(len(toks) AS BIGINT) AS n_words FROM t),
         m AS (
           SELECT doc_id,
                  n_words,
                  CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
                    / CAST(n_words AS DOUBLE) AS mean_word_len,
                  CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE)
                    / CAST(n_words AS DOUBLE) AS frac_alpha_words,
                  CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE)
                    / CAST(n_words AS DOUBLE) AS symbol_ratio,
                  CAST(len(list_filter(toks, t -> lower(t) IN
                    ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS stop_hits
           FROM s)
         SELECT doc_id, n_words, mean_word_len, frac_alpha_words, symbol_ratio, stop_hits,
                (n_words BETWEEN 50 AND 100000)
                  AND (mean_word_len BETWEEN 3.0 AND 10.0)
                  AND frac_alpha_words >= 0.80
                  AND symbol_ratio <= 0.10
                  AND stop_hits >= 2 AS keep
         FROM m ORDER BY doc_id""",
    "txt_pii_report" ->
      """SELECT doc_id,
                CAST(len(regexp_extract_all(text,
                  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
                CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
                CAST(len(regexp_extract_all(text,
                  '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
                CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS BIGINT) AS n_long_numbers,
                (n_emails + n_urls + n_ipv4 + n_long_numbers) > 0 AS has_pii
         FROM documents ORDER BY doc_id""",
    "quality_lr_weights" ->
      // the trained weight VECTOR, value for value vs the unrolled replay
      s"""${lrGdSql()},
         out AS (
           SELECT 'bias' AS feature, wa AS weight FROM w3
           UNION ALL SELECT 'mean_token_len_s', wb FROM w3
           UNION ALL SELECT 'stopword_ratio', wc FROM w3
           UNION ALL SELECT 'alpha_ratio', wd FROM w3)
         SELECT feature, weight FROM out ORDER BY feature""",
    "quality_calibration" ->
      s"""${lrGdSql()},
         scored AS (
           SELECT f.y,
                  CAST(least(1.0, greatest(0.0, 0.25 * (w.wa * x0 + w.wb * x1 + w.wc * x2 + w.wd * x3) + 0.5)) AS FLOAT) AS score
           FROM f, w3 w),
         b AS (
           SELECT CAST(least(floor(CAST(score AS DOUBLE) * 100.0), 99.0) AS BIGINT) AS bucket,
                  y, score
           FROM scored)
         SELECT bucket, COUNT(*) AS n,
                CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS positives,
                CAST(CAST(SUM(CAST(y AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS FLOAT) AS pos_rate,
                CAST(CAST(SUM(CAST(round(CAST(score AS DOUBLE) * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS FLOAT) AS mean_score
         FROM b GROUP BY 1 ORDER BY bucket""",
    "quality_auc" ->
      // rank-statistic AUC with average ranks for ties: everything up
      // to the final divide is exact BIGINTs (r2 = doubled avg rank)
      s"""${lrGdSql()},
         scored AS (
           SELECT CAST(f.y AS BIGINT) AS y,
                  CAST(least(1.0, greatest(0.0, 0.25 * (w.wa * x0 + w.wb * x1 + w.wc * x2 + w.wd * x3) + 0.5)) AS FLOAT) AS score
           FROM f, w3 w),
         g AS (SELECT score, COUNT(*) AS cnt, SUM(y) AS pos
               FROM scored GROUP BY score),
         r AS (SELECT *, SUM(cnt) OVER (ORDER BY score) AS cumall FROM g),
         a AS (SELECT CAST(SUM(pos * ((cumall - cnt) * 2 + cnt + 1)) AS BIGINT) AS posr2,
                      CAST(SUM(pos) AS BIGINT) AS npos,
                      CAST(SUM(cnt - pos) AS BIGINT) AS nneg
               FROM r)
         SELECT npos + nneg AS n, npos AS n_pos, nneg AS n_neg,
                posr2 - npos * (npos + 1) AS u2,
                CASE WHEN npos > 0 AND nneg > 0 THEN
                  CAST(CAST(posr2 - npos * (npos + 1) AS DOUBLE)
                       / (2.0 * CAST(npos AS DOUBLE) * CAST(nneg AS DOUBLE)) AS FLOAT)
                END AS auc
         FROM a""",
    "quality_ece" ->
      // the calibration CTE chain re-derives the float-cut
      // pos_rate/mean_score per bucket, then the same fixed-point
      // weighted-gap sum and pinned final divides
      s"""${lrGdSql()},
         scored AS (
           SELECT f.y,
                  CAST(least(1.0, greatest(0.0, 0.25 * (w.wa * x0 + w.wb * x1 + w.wc * x2 + w.wd * x3) + 0.5)) AS FLOAT) AS score
           FROM f, w3 w),
         bkt AS (
           SELECT CAST(least(floor(CAST(score AS DOUBLE) * 100.0), 99.0) AS BIGINT) AS bucket,
                  y, score
           FROM scored),
         cal AS (
           SELECT bucket, COUNT(*) AS n,
                  CAST(CAST(SUM(CAST(y AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS FLOAT) AS pos_rate,
                  CAST(CAST(SUM(CAST(round(CAST(score AS DOUBLE) * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS FLOAT) AS mean_score
           FROM bkt GROUP BY bucket)
         SELECT CAST(SUM(n) AS BIGINT) AS n,
                CASE WHEN SUM(n) > 0 THEN
                  CAST(CAST(SUM(CAST(round(CAST(n AS DOUBLE)
                         * ABS(CAST(pos_rate AS DOUBLE) - CAST(mean_score AS DOUBLE))
                         * 1000000.0) AS BIGINT)) AS DOUBLE)
                       / CAST(SUM(n) AS DOUBLE) / 1000000.0 AS FLOAT)
                END AS ece,
                CAST(MAX(CAST(ABS(CAST(pos_rate AS DOUBLE) - CAST(mean_score AS DOUBLE)) AS FLOAT)) AS FLOAT) AS max_ce
         FROM cal""",
    "quality_pr_table" ->
      // percent-threshold confusion sweep: descending cumulative sums
      // give tp/fp; fn from the total; ratios are single exact-operand
      // divides cut to FLOAT
      s"""${lrGdSql()},
         scored AS (
           SELECT CAST(f.y AS BIGINT) AS y,
                  CAST(least(1.0, greatest(0.0, 0.25 * (w.wa * x0 + w.wb * x1 + w.wc * x2 + w.wd * x3) + 0.5)) AS FLOAT) AS score
           FROM f, w3 w),
         b AS (SELECT CAST(least(floor(CAST(score AS DOUBLE) * 100.0), 99.0) AS BIGINT) AS bucket,
                      COUNT(*) AS n, SUM(y) AS pos
               FROM scored GROUP BY 1),
         c AS (SELECT bucket, n, pos,
                      SUM(pos) OVER (ORDER BY bucket DESC) AS tp,
                      SUM(n) OVER (ORDER BY bucket DESC) AS cumn,
                      (SELECT SUM(pos) FROM b) AS tot_pos
               FROM b)
         SELECT bucket AS threshold_bucket,
                CAST(tp AS BIGINT) AS tp,
                CAST(cumn - tp AS BIGINT) AS fp,
                CAST(tot_pos - tp AS BIGINT) AS fn,
                CAST(CAST(tp AS DOUBLE) / CAST(tp + (cumn - tp) AS DOUBLE) AS FLOAT) AS "precision",
                CASE WHEN tot_pos > 0 THEN
                  CAST(CAST(tp AS DOUBLE) / CAST(tot_pos AS DOUBLE) AS FLOAT)
                END AS recall,
                CAST((2.0 * CAST(tp AS DOUBLE))
                     / CAST(tp * 2 + (cumn - tp) + (tot_pos - tp) AS DOUBLE) AS FLOAT) AS f1
         FROM c ORDER BY threshold_bucket""",
    "quality_lr_scores" ->
      s"""${lrGdSql()}
         SELECT doc_id,
                CAST(least(1.0, greatest(0.0, 0.25 * (w.wa * x0 + w.wb * x1 + w.wc * x2 + w.wd * x3) + 0.5)) AS FLOAT) AS score,
                CAST(least(1.0, greatest(0.0, 0.25 * (w.wa * x0 + w.wb * x1 + w.wc * x2 + w.wd * x3) + 0.5)) AS FLOAT) >= 0.5 AS predicted
         FROM f, w3 w ORDER BY doc_id""",
    "txt_readability" ->
      // exact regex-derived counts in a CTE, one pinned double chain
      """WITH r AS (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                  GREATEST(CAST(1 AS BIGINT),
                    CAST(len(list_filter(string_split_regex(text, '[.!?]+'),
                      s -> trim(s) <> '')) AS BIGINT)) AS n_sentences,
                  CAST(list_sum(list_transform(string_split(lower(text), ' '),
                    w -> GREATEST(1, len(regexp_extract_all(w, '[aeiouy]+'))))) AS BIGINT) AS n_syllables
           FROM documents)
         SELECT doc_id, n_words, n_sentences, n_syllables,
                CAST(206.835
                     - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                     - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) AS FLOAT) AS flesch
         FROM r ORDER BY doc_id""",
    "retrieval_phrase" -> phraseOracleSql,
    "retrieval_bm25_topk" -> bm25OracleSql,
    "retrieval_bm25_stored" -> bm25OracleSql,
    "dsir_logratios" ->
      s"""$dsirBaseSql
         SELECT bucket, n_raw, n_tgt, logratio_fix FROM lr ORDER BY bucket""",
    "dsir_weights" ->
      s"""$dsirBaseSql
         SELECT doc_id, n_tokens,
                CAST(lw_fix AS DOUBLE) / 1000000.0 AS log_weight
         FROM dw ORDER BY doc_id""",
    "dsir_sample" ->
      // Gumbel-top-N: uniform from md5 span 17-24 (disjoint from the
      // split and sampling spans), both ln applications float-washed,
      // the key an exact BIGINT sum; N = floor(0.25·corpus)
      s"""$dsirBaseSql,
         gk AS (
           SELECT d.doc_id,
                  dw.lw_fix + CAST(round(CAST(-CAST(ln(-CAST(ln(
                      (CAST(('0x' || substr(md5(d.text), 17, 8))::BIGINT AS DOUBLE) + CAST(0.5 AS DOUBLE))
                      / CAST(4294967296.0 AS DOUBLE)
                    ) AS FLOAT)) AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT) AS key_fix
           FROM documents d JOIN dw ON d.doc_id = dw.doc_id),
         rk AS (
           SELECT doc_id, key_fix,
                  row_number() OVER (ORDER BY key_fix DESC, doc_id) AS rn
           FROM gk),
         tk AS (SELECT CAST(floor(CAST(0.25 AS DOUBLE) * COUNT(*)) AS BIGINT) AS n FROM documents)
         SELECT doc_id, CAST(key_fix AS DOUBLE) / 1000000.0 AS gumbel_key
         FROM rk, tk WHERE rk.rn <= tk.n ORDER BY doc_id""",
    "graph_transition_edges" ->
      """WITH ev AS (
           SELECT user_id, ts, event_id,
                  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
           FROM events),
         tr AS (
           SELECT item AS dst,
                  lag(item) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
           FROM ev)
         SELECT src, dst, COUNT(*) AS weight FROM tr
         WHERE src IS NOT NULL AND src <> dst
         GROUP BY 1, 2 ORDER BY src, dst""",
    "graph_pagerank" ->
      s"""${pageRankSql()}
         SELECT node, r AS pr FROM r3 ORDER BY node""",
    // the rebuild twin re-derives the graph — row-identical by
    // construction, same oracle
    "graph_pagerank_rebuild" ->
      s"""${pageRankSql()}
         SELECT node, r AS pr FROM r3 ORDER BY node""",
    // the past-ceiling join-loop variant changes the join STRATEGY, not
    // the arithmetic — bit-identical ranks, same oracle
    "graph_pagerank_joinloop" ->
      s"""${pageRankSql()}
         SELECT node, r AS pr FROM r3 ORDER BY node""",
    "graph_hits" ->
      s"""${hitsSql()}
         SELECT nd.node, h.s AS hub, a.s AS authority
         FROM nodes nd JOIN h2 h ON nd.node = h.node JOIN a2 a ON nd.node = a.node
         ORDER BY nd.node""",
    // join-loop twin: strategy, not values — same oracle as graph_hits
    "graph_hits_joinloop" ->
      s"""${hitsSql()}
         SELECT nd.node, h.s AS hub, a.s AS authority
         FROM nodes nd JOIN h2 h ON nd.node = h.node JOIN a2 a ON nd.node = a.node
         ORDER BY nd.node""",
    "graph_ppr" ->
      s"""${pprSql()}
         SELECT node, r AS ppr FROM r3 ORDER BY node""",
    // join-loop twin: strategy, not values — same oracle as graph_ppr
    "graph_ppr_joinloop" ->
      s"""${pprSql()}
         SELECT node, r AS ppr FROM r3 ORDER BY node""",
    "graph_label_prop" ->
      s"""${labelPropSql()}
         SELECT node, l AS community FROM l3 ORDER BY node""",
    // join-loop twin: strategy, not values — same oracle
    "graph_label_prop_joinloop" ->
      s"""${labelPropSql()}
         SELECT node, l AS community FROM l3 ORDER BY node""",
    "graph_label_prop_sizes" ->
      s"""${labelPropSql()}
         SELECT l AS community, COUNT(*) AS members
         FROM l3 GROUP BY 1 ORDER BY 1""",
    "graph_label_prop_modularity" ->
      // per-community Q contribution in exact integer arithmetic
      // (w_in·m2 − w_tot²), one division of integer-valued doubles
      s"""${labelPropSql()},
         symq AS (
           SELECT src AS u, dst AS v, weight FROM edges
           UNION ALL SELECT dst AS u, src AS v, weight FROM edges),
         tg AS (
           SELECT s.u, s.v, s.weight, a.l AS cu, b.l AS cv
           FROM symq s JOIN l3 a ON s.u = a.node JOIN l3 b ON s.v = b.node),
         m2 AS (SELECT CAST(SUM(weight) AS BIGINT) AS m2 FROM tg),
         pc AS (
           SELECT cu AS community,
                  CAST(SUM(CASE WHEN cu = cv THEN weight ELSE 0 END) AS BIGINT) AS w_in,
                  CAST(SUM(weight) AS BIGINT) AS w_tot
           FROM tg GROUP BY 1),
         mem AS (SELECT l AS community, COUNT(*) AS members FROM l3 GROUP BY 1)
         SELECT mem.community, mem.members,
                COALESCE(pc.w_in, 0) AS w_in,
                COALESCE(pc.w_tot, 0) AS w_tot,
                CAST(COALESCE(pc.w_in, 0) * m2.m2
                     - COALESCE(pc.w_tot, 0) * COALESCE(pc.w_tot, 0) AS DOUBLE)
                  / (CAST(m2.m2 AS DOUBLE) * CAST(m2.m2 AS DOUBLE)) AS q_contrib
         FROM mem LEFT JOIN pc ON mem.community = pc.community, m2
         ORDER BY mem.community""",
    "graph_triangles" ->
      s"""$triangleBaseSql
         SELECT node, triangles FROM pn ORDER BY node""",
    "graph_kcore" ->
      s"""${kCoreSql()}
         SELECT n AS node, COUNT(*) AS core_degree FROM (
           SELECT u AS n FROM u12 UNION ALL SELECT v FROM u12)
         GROUP BY 1 ORDER BY 1""",
    // exact-closure SCC: reach is the recursive transitive closure
    // (UNION-deduped, |items|²-bounded), mutual pairs are its self-join,
    // scc_id = min mutual partner (self included) — the ground truth the
    // Spark FW-BW splitting loop must reproduce exactly
    "graph_scc" ->
      s"""$sccBaseSql
         SELECT node, scc_id,
                COUNT(*) OVER (PARTITION BY scc_id) AS scc_size
         FROM sid ORDER BY node""",
    "graph_condensation" ->
      s"""$sccBaseSql
         SELECT s1.scc_id AS src_scc, s2.scc_id AS dst_scc,
                CAST(SUM(e.weight) AS BIGINT) AS weight
         FROM bb e
           JOIN sid s1 ON e.src = s1.node
           JOIN sid s2 ON e.dst = s2.node
         WHERE s1.scc_id <> s2.scc_id
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "graph_neighborhood" -> neighborhoodSql(),
    "dedup_lsh_design" -> lshDesignSql(),
    "graph_scc_profile" ->
      s"""$sccBaseSql,
         j AS (
           SELECT s1.scc_id AS a, s2.scc_id AS b, e.weight
           FROM bb e JOIN sid s1 ON e.src = s1.node
                     JOIN sid s2 ON e.dst = s2.node)
         SELECT g.scc_id, g.scc_size,
                CAST(COALESCE(i.iw, 0) AS BIGINT) AS internal_weight,
                CAST(COALESCE(n.nw, 0) AS BIGINT) AS in_weight,
                CAST(COALESCE(o.ow, 0) AS BIGINT) AS out_weight
         FROM (SELECT scc_id, COUNT(*) AS scc_size FROM sid GROUP BY 1) g
         LEFT JOIN (SELECT a AS scc_id, SUM(weight) AS iw FROM j
                    WHERE a = b GROUP BY 1) i USING (scc_id)
         LEFT JOIN (SELECT b AS scc_id, SUM(weight) AS nw FROM j
                    WHERE a <> b GROUP BY 1) n USING (scc_id)
         LEFT JOIN (SELECT a AS scc_id, SUM(weight) AS ow FROM j
                    WHERE a <> b GROUP BY 1) o USING (scc_id)
         ORDER BY g.scc_id""",
    "graph_widest_path" ->
      // 6 unrolled relaxation rounds, exact integer min/max throughout;
      // MATERIALIZED per round (the kcore fd-blowup lesson)
      s"""${widestSql()}
         SELECT node, cap FROM w6
         WHERE cap < 4611686018427387904 ORDER BY node""",
    "graph_bfs_distances" ->
      s"""${bfsSql()}
         SELECT node, dist FROM b6 ORDER BY node""",
    "graph_clustering_coeff" ->
      s"""$triangleBaseSql
         SELECT node, degree, triangles,
                CASE WHEN degree >= 2
                     THEN CAST(triangles * 2 AS DOUBLE)
                          / (CAST(degree AS DOUBLE) * CAST(degree - 1 AS DOUBLE))
                     ELSE CAST(0.0 AS DOUBLE) END AS lcc
         FROM pn ORDER BY node""",
    "graph_random_walks" -> walksSql(),
    // the walks CTE replays the registered walks oracle verbatim; the
    // pair extraction is a windowed self-join with exact-integer counts
    "graph_walk_skipgrams" ->
      s"""WITH walks AS (
           ${walksSql()}
         )
         SELECT a.node AS center, b.node AS context, COUNT(*) AS cnt
         FROM walks a JOIN walks b
           ON a.walk_id = b.walk_id AND a.step <> b.step
          AND abs(a.step - b.step) <= 2
         GROUP BY 1, 2
         ORDER BY center, context""",
    "retrieval_hard_negatives" ->
      // positives: nearest same-label neighbor; hard negatives: top-5
      // wrong-label neighbors — float-washed sims, vec_id tie-breaks
      """WITH v AS (
           SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         q AS (SELECT vec_id AS qid, label AS ql, v AS qv FROM v WHERE vec_id < 8),
         sc AS (
           SELECT qid, ql, vec_id, label,
                  CAST(list_cosine_similarity(qv, v) AS FLOAT) AS sim
           FROM q CROSS JOIN v WHERE vec_id <> qid),
         pos AS (
           SELECT qid, vec_id AS pos_id, sim AS pos_sim FROM (
             SELECT qid, vec_id, sim,
                    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
             FROM sc WHERE label = ql) WHERE rn = 1),
         neg AS (
           SELECT qid, CAST(rn AS INT) AS neg_rank, vec_id AS neg_id, sim AS neg_sim FROM (
             SELECT qid, vec_id, sim,
                    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
             FROM sc WHERE label <> ql) WHERE rn <= 5)
         SELECT qid, pos_id, pos_sim, neg_rank, neg_id, neg_sim
         FROM pos JOIN neg USING (qid) ORDER BY qid, neg_rank""",
    "retrieval_hybrid_rrf" ->
      // lexical rank: unigram Jaccard (exact-integer division); dense
      // rank: float-washed cosine; RRF contribution round(1e9/(60+r)) has
      // no representable .5 case in rank range, so the fused key is an
      // exact BIGINT sum on both engines
      """WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts FROM documents),
         sized AS (SELECT doc_id, len(ts) AS nd, ts FROM d),
         q AS (SELECT doc_id AS qid, len(ts) AS qn, ts FROM d WHERE doc_id < 4),
         qt AS (SELECT qid, qn, unnest(ts) AS term FROM q),
         ct AS (SELECT doc_id, nd, unnest(ts) AS term FROM sized),
         inter AS (
           SELECT qt.qid, ct.doc_id, ANY_VALUE(ct.nd) AS nd, ANY_VALUE(qt.qn) AS qn,
                  COUNT(*) AS ninter
           FROM ct JOIN qt USING (term) WHERE ct.doc_id <> qt.qid GROUP BY 1, 2),
         lex AS (
           SELECT qid, doc_id, CAST(rn AS INT) AS lex_rank FROM (
             SELECT qid, doc_id,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY CAST(ninter AS DOUBLE) / CAST(nd + qn - ninter AS DOUBLE) DESC, doc_id) AS rn
             FROM inter) WHERE rn <= 50),
         v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         qv AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 4),
         den AS (
           SELECT qid, doc_id, CAST(rn AS INT) AS dense_rank FROM (
             SELECT qid, vec_id AS doc_id,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY CAST(list_cosine_similarity(qv, v) AS FLOAT) DESC, vec_id) AS rn
             FROM qv CROSS JOIN v WHERE vec_id <> qid) WHERE rn <= 50),
         fuse AS (
           SELECT COALESCE(l.qid, de.qid) AS qid, COALESCE(l.doc_id, de.doc_id) AS doc_id,
                  l.lex_rank, de.dense_rank,
                  COALESCE(CAST(round(1000000000.0 / (CAST(60 AS DOUBLE) + CAST(l.lex_rank AS DOUBLE))) AS BIGINT), 0)
                  + COALESCE(CAST(round(1000000000.0 / (CAST(60 AS DOUBLE) + CAST(de.dense_rank AS DOUBLE))) AS BIGINT), 0) AS rrf_fix
           FROM lex l FULL OUTER JOIN den de ON l.qid = de.qid AND l.doc_id = de.doc_id)
         SELECT qid, doc_id, lex_rank, dense_rank,
                CAST(rrf_fix AS DOUBLE) / 1000000000.0 AS rrf
         FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rrf_fix DESC, doc_id) AS rn
               FROM fuse) WHERE rn <= 10
         ORDER BY qid, doc_id""",
    "corpus_source_overlap" ->
      """WITH fp AS (
           SELECT DISTINCT md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp, source
           FROM documents)
         SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
         FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
         GROUP BY 1, 2 ORDER BY src_a, src_b""",
    "txt_domains" ->
      """WITH u AS (
           SELECT doc_id,
                  unnest(regexp_extract_all(text, 'https?://[^\s]+')) AS url
           FROM documents),
         d AS (
           SELECT doc_id, lower(regexp_extract(url, '^https?://([^/:?#]+)', 1)) AS domain
           FROM u)
         SELECT domain,
                CAST(COUNT(*) AS BIGINT) AS n_urls,
                CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         FROM d GROUP BY domain ORDER BY domain""",
    "ann_recall_report" ->
      // both rankings replay their own registered oracles (brute +
      // IVF per rung); hits are exact integers, recall one exact divide
      """WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         cent AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < 16),
         assign AS (
           SELECT vec_id, v, cid FROM (
             SELECT v.vec_id, v.v, c.cid,
                    row_number() OVER (PARTITION BY v.vec_id
                      ORDER BY CAST(list_cosine_similarity(v.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM v CROSS JOIN cent c) WHERE rn = 1),
         q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         bs AS (
           SELECT qid, vec_id, CAST(list_cosine_similarity(qv, v) AS FLOAT) AS sim
           FROM q CROSS JOIN v WHERE vec_id <> qid),
         brute AS (
           SELECT qid, vec_id FROM (
             SELECT qid, vec_id,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY sim DESC, vec_id) AS rnk
             FROM bs) WHERE rnk <= 5),
         pr AS (
           SELECT q.qid, q.qv, c.cid,
                  row_number() OVER (PARTITION BY q.qid
                    ORDER BY CAST(list_cosine_similarity(q.qv, c.cv) AS FLOAT) DESC, c.cid) AS rn
           FROM q CROSS JOIN cent c),
         p1 AS (SELECT qid, qv, cid FROM pr WHERE rn <= 1),
         s1 AS (
           SELECT p.qid, a.vec_id,
                  CAST(list_cosine_similarity(p.qv, a.v) AS FLOAT) AS sim
           FROM assign a JOIN p1 p USING (cid)
           WHERE a.vec_id <> p.qid),
         i1 AS (
           SELECT 1 AS nprobe, qid, vec_id FROM (
             SELECT qid, vec_id,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY sim DESC, vec_id) AS rnk
             FROM s1) WHERE rnk <= 5),
         p2 AS (SELECT qid, qv, cid FROM pr WHERE rn <= 2),
         s2 AS (
           SELECT p.qid, a.vec_id,
                  CAST(list_cosine_similarity(p.qv, a.v) AS FLOAT) AS sim
           FROM assign a JOIN p2 p USING (cid)
           WHERE a.vec_id <> p.qid),
         i2 AS (
           SELECT 2 AS nprobe, qid, vec_id FROM (
             SELECT qid, vec_id,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY sim DESC, vec_id) AS rnk
             FROM s2) WHERE rnk <= 5),
         p4 AS (SELECT qid, qv, cid FROM pr WHERE rn <= 4),
         s4 AS (
           SELECT p.qid, a.vec_id,
                  CAST(list_cosine_similarity(p.qv, a.v) AS FLOAT) AS sim
           FROM assign a JOIN p4 p USING (cid)
           WHERE a.vec_id <> p.qid),
         i4 AS (
           SELECT 4 AS nprobe, qid, vec_id FROM (
             SELECT qid, vec_id,
                    row_number() OVER (PARTITION BY qid
                      ORDER BY sim DESC, vec_id) AS rnk
             FROM s4) WHERE rnk <= 5),
         allp AS (SELECT * FROM i1 UNION ALL SELECT * FROM i2
                  UNION ALL SELECT * FROM i4),
         lad AS (SELECT np.nprobe, q.qid
                 FROM (VALUES (1), (2), (4)) np(nprobe) CROSS JOIN q),
         h AS (SELECT nprobe, qid, COUNT(*) AS hits
               FROM allp JOIN brute USING (qid, vec_id) GROUP BY 1, 2)
         SELECT lad.nprobe, lad.qid,
                CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
                CAST(COALESCE(h.hits, 0) AS DOUBLE) / 5.0 AS recall
         FROM lad LEFT JOIN h USING (nprobe, qid)
         ORDER BY nprobe, qid""",
    "ann_topk_bruteforce" ->
      """WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         scored AS (
           SELECT qid, vec_id, CAST(list_cosine_similarity(qv, v) AS FLOAT) AS sim
           FROM q CROSS JOIN v WHERE vec_id <> qid)
         SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS "rank",
                vec_id, sim
         FROM scored QUALIFY "rank" <= 5 ORDER BY qid, "rank"""",
    // identical oracle for the native-expression variant: the custom
    // Expression is spec-pinned bitwise-equal to the HOF composition
    "ann_topk_native" ->
      """WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         scored AS (
           SELECT qid, vec_id, CAST(list_cosine_similarity(qv, v) AS FLOAT) AS sim
           FROM q CROSS JOIN v WHERE vec_id <> qid)
         SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS "rank",
                vec_id, sim
         FROM scored QUALIFY "rank" <= 5 ORDER BY qid, "rank"""",
    "ann_topk_quantized" ->
      """WITH v0 AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         m AS (
           SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS max_abs
           FROM v0),
         v AS (
           SELECT vec_id,
                  list_transform(v, x -> round(x / (CASE WHEN max_abs > 0 THEN max_abs / 127.0 ELSE 1.0 END), 0)) AS v
           FROM m),
         q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         scored AS (
           SELECT qid, vec_id, CAST(list_cosine_similarity(qv, v) AS FLOAT) AS sim
           FROM q CROSS JOIN v WHERE vec_id <> qid)
         SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS "rank",
                vec_id, sim
         FROM scored QUALIFY "rank" <= 5 ORDER BY qid, "rank"""",
    // IVF: centroids are corpus rows (vec_id < 16), so the oracle derives
    // the SAME codebook from the table; cell assignment ties break on
    // (float sim DESC, cid ASC) in both engines
    "ann_topk_ivf" ->
      """WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         cent AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < 16),
         assign AS (
           SELECT vec_id, v, cid FROM (
             SELECT v.vec_id, v.v, c.cid,
                    row_number() OVER (PARTITION BY v.vec_id
                      ORDER BY CAST(list_cosine_similarity(v.v, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM v CROSS JOIN cent c) WHERE rn = 1),
         q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         probes AS (
           SELECT qid, qv, cid FROM (
             SELECT q.qid, q.qv, c.cid,
                    row_number() OVER (PARTITION BY q.qid
                      ORDER BY CAST(list_cosine_similarity(q.qv, c.cv) AS FLOAT) DESC, c.cid) AS rn
             FROM q CROSS JOIN cent c) WHERE rn <= 4),
         scored AS (
           SELECT p.qid, a.vec_id,
                  CAST(list_cosine_similarity(p.qv, a.v) AS FLOAT) AS sim
           FROM assign a JOIN probes p USING (cid)
           WHERE a.vec_id <> p.qid)
         SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS "rank",
                vec_id, sim
         FROM scored QUALIFY "rank" <= 5 ORDER BY qid, "rank"""",
    "ann_topk_dot" ->
      """WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         scored AS (
           SELECT qid, vec_id, CAST(list_inner_product(qv, v) AS FLOAT) AS sim
           FROM q CROSS JOIN v WHERE vec_id <> qid)
         SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS "rank",
                vec_id, sim
         FROM scored QUALIFY "rank" <= 5 ORDER BY qid, "rank"""",
    // Matryoshka two-stage: 32-dim-prefix cosine shortlist (float-ranked,
    // 50/query), then full-dim rerank of shortlist rows only — both
    // stages' ranks tie-break on vec_id like every ANN row
    "ann_topk_mrl" ->
      """WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         short AS (
           SELECT qid, vec_id FROM (
             SELECT q.qid, v.vec_id,
                    row_number() OVER (PARTITION BY q.qid
                      ORDER BY CAST(list_cosine_similarity(q.qv[1:32], v.v[1:32]) AS FLOAT) DESC,
                               v.vec_id) AS rn
             FROM q CROSS JOIN v WHERE v.vec_id <> q.qid)
           WHERE rn <= 50),
         scored AS (
           SELECT s.qid, s.vec_id,
                  CAST(list_cosine_similarity(q.qv, v.v) AS FLOAT) AS sim
           FROM short s JOIN q USING (qid) JOIN v USING (vec_id))
         SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS INT) AS "rank",
                vec_id, sim
         FROM scored QUALIFY "rank" <= 5 ORDER BY qid, "rank"""",
    // full simhash pipeline on md5-prefix hashes: majority vote per bit
    // (ties set, empty -> 0), 4 x 16-bit packed band keys, bucket self-join,
    // bit_count(xor) Hamming verify — mirrors Dedup.simHashNearDupPairs(Md5)
    "dedup_simhash_md5" ->
      """WITH t AS (
           SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')),
                    tok -> ('0x' || substr(md5(tok), 1, 15))::BIGINT) AS hs
           FROM documents),
         s AS (
           SELECT doc_id,
                  CASE WHEN len(hs) = 0 THEN 0
                       ELSE CAST(list_sum(list_transform(range(60), b ->
                         CASE WHEN 2 * list_sum(list_transform(hs, h -> (h >> b) & 1)) >= len(hs)
                              THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT)
                  END AS simhash
           FROM t),
         bb AS (
           SELECT doc_id, simhash,
                  unnest([CAST(0 * 65536 + ((simhash >> 0) & 65535) AS BIGINT),
                          CAST(1 * 65536 + ((simhash >> 16) & 65535) AS BIGINT),
                          CAST(2 * 65536 + ((simhash >> 32) & 65535) AS BIGINT),
                          CAST(3 * 65536 + ((simhash >> 48) & 65535) AS BIGINT)]) AS band_key
           FROM s),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
           FROM bb a JOIN bb b USING (band_key) WHERE a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3
         ORDER BY doc_a, doc_b""",
    // incremental exact dedup: batch rows whose content fingerprint exists
    // in the corpus are rejected (NOT EXISTS — null-safe, unlike NOT IN),
    // survivors deduped within the batch by lowest doc_id
    "dedup_incremental_exact" ->
      """WITH corpus AS (
           SELECT md5(text) AS fp FROM documents WHERE doc_id % 10 <> 0),
         batch AS (
           SELECT doc_id, lang, source, n_chars, md5(text) AS fp
           FROM documents WHERE doc_id % 10 = 0),
         fresh AS (
           SELECT * FROM batch b
           WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp))
         SELECT doc_id, lang, source, n_chars FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
           FROM fresh)
         WHERE rn = 1 ORDER BY doc_id""",
    // incremental minhash verdicts: the full md5-minhash replay (affine
    // HUGEINT mixing, banding) on batch-vs-corpus slices with the exact
    // Jaccard verify and best-match selection
    "dedup_incremental_minhash" -> minHashIncrementalOracleSql(),
    // incremental near-dup verdicts: md5-prefix simhash banding, batch
    // bands joined against corpus bands, Hamming <= 3, nearest corpus doc
    // per batch doc (min hamming, ties to lowest corpus id)
    "dedup_incremental_simhash" ->
      """WITH t AS (
           SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')),
                    tok -> ('0x' || substr(md5(tok), 1, 15))::BIGINT) AS hs
           FROM documents),
         s AS (
           SELECT doc_id,
                  CASE WHEN len(hs) = 0 THEN 0
                       ELSE CAST(list_sum(list_transform(range(60), b ->
                         CASE WHEN 2 * list_sum(list_transform(hs, h -> (h >> b) & 1)) >= len(hs)
                              THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT)
                  END AS simhash
           FROM t),
         bb AS (
           SELECT doc_id, simhash,
                  unnest([CAST(0 * 65536 + ((simhash >> 0) & 65535) AS BIGINT),
                          CAST(1 * 65536 + ((simhash >> 16) & 65535) AS BIGINT),
                          CAST(2 * 65536 + ((simhash >> 32) & 65535) AS BIGINT),
                          CAST(3 * 65536 + ((simhash >> 48) & 65535) AS BIGINT)]) AS band_key
           FROM s),
         m AS (
           SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id,
                  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
           FROM bb a JOIN bb b USING (band_key)
           WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
         best AS (
           SELECT batch_id, corpus_id, hamming FROM (
             SELECT *, ROW_NUMBER() OVER (
               PARTITION BY batch_id ORDER BY hamming, corpus_id) AS rn
             FROM m WHERE hamming <= 3)
           WHERE rn = 1)
         SELECT d.doc_id, best.corpus_id IS NULL AS is_new,
                best.corpus_id AS dup_of, best.hamming
         FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
         LEFT JOIN best ON d.doc_id = best.batch_id
         ORDER BY d.doc_id""",
    // cross-doc line dedup over the 8-tokens-per-line rendering: lines in
    // more than 2 distinct docs are boilerplate and removed everywhere,
    // survivors reassembled in order (unnest WITH ORDINALITY + list(ORDER
    // BY ord) replays the Spark-side filter HOF)
    "corpus_line_dedup" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         lined AS (
           SELECT doc_id, list_transform(range(0, (len(toks) - 1) // 8 + 1),
                    i -> array_to_string(list_slice(toks, i * 8 + 1, i * 8 + 8), ' ')) AS lines
           FROM t),
         common AS (
           SELECT line FROM (
             SELECT line, COUNT(*) AS n_docs FROM (
               SELECT DISTINCT doc_id, unnest(lines) AS line FROM lined)
             GROUP BY line)
           WHERE n_docs > 2),
         ex AS (
           -- parallel unnests in one SELECT zip positionally in DuckDB
           -- (WITH ORDINALITY is unimplemented there)
           SELECT doc_id, unnest(lines) AS line,
                  unnest(range(1, len(lines) + 1)) AS ord
           FROM lined),
         keptl AS (
           SELECT e.doc_id, e.line, e.ord
           FROM ex e LEFT JOIN common c ON e.line = c.line
           WHERE c.line IS NULL),
         agg AS (
           SELECT doc_id, list(line ORDER BY ord) AS kept
           FROM keptl GROUP BY doc_id)
         SELECT l.doc_id,
                COALESCE(array_to_string(a.kept, chr(10)), '') AS text,
                CAST(COALESCE(len(a.kept), 0) AS BIGINT) AS n_lines_kept,
                CAST(len(l.lines) - COALESCE(len(a.kept), 0) AS BIGINT) AS n_lines_dropped
         FROM lined l LEFT JOIN agg a USING (doc_id)
         ORDER BY l.doc_id""",
    "corpus_boilerplate_report" ->
      // domain-scoped recurrence at 4-token lines; share is one divide
      // of exact integer operands
      """WITH t AS (
           SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
         lined AS (
           SELECT doc_id, source,
                  list_transform(range(0, (len(toks) - 1) // 4 + 1),
                    i -> array_to_string(list_slice(toks, i * 4 + 1, i * 4 + 4), ' ')) AS lines
           FROM t),
         src_tot AS (SELECT source, COUNT(*) AS src_docs FROM lined GROUP BY 1),
         per AS (
           SELECT source, line, COUNT(*) AS n_docs FROM (
             SELECT DISTINCT doc_id, source, unnest(lines) AS line FROM lined)
           GROUP BY 1, 2)
         SELECT p.source, p.line, p.n_docs, s.src_docs,
                CAST(p.n_docs AS DOUBLE) / CAST(s.src_docs AS DOUBLE) AS share
         FROM per p JOIN src_tot s USING (source)
         WHERE p.n_docs > 1
         ORDER BY p.source, p.n_docs DESC, p.line""",
    "corpus_boilerplate_scrub" ->
      // the line_dedup scrub replay, keyed by (source, line)
      """WITH t AS (
           SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
         lined AS (
           SELECT doc_id, source,
                  list_transform(range(0, (len(toks) - 1) // 4 + 1),
                    i -> array_to_string(list_slice(toks, i * 4 + 1, i * 4 + 4), ' ')) AS lines
           FROM t),
         common AS (
           SELECT source, line FROM (
             SELECT source, line, COUNT(*) AS n_docs FROM (
               SELECT DISTINCT doc_id, source, unnest(lines) AS line FROM lined)
             GROUP BY 1, 2)
           WHERE n_docs > 1),
         ex AS (
           SELECT doc_id, source, unnest(lines) AS line,
                  unnest(range(1, len(lines) + 1)) AS ord
           FROM lined),
         keptl AS (
           SELECT e.doc_id, e.line, e.ord
           FROM ex e LEFT JOIN common c
             ON e.source = c.source AND e.line = c.line
           WHERE c.line IS NULL),
         agg AS (
           SELECT doc_id, list(line ORDER BY ord) AS kept
           FROM keptl GROUP BY doc_id)
         SELECT l.doc_id, l.source,
                COALESCE(array_to_string(a.kept, chr(10)), '') AS text,
                CAST(COALESCE(len(a.kept), 0) AS BIGINT) AS n_lines_kept,
                CAST(len(l.lines) - COALESCE(len(a.kept), 0) AS BIGINT) AS n_lines_dropped
         FROM lined l LEFT JOIN agg a USING (doc_id)
         ORDER BY l.doc_id""",
    // per-source cap: 10 docs per source by content-hash order (md5 hex
    // digits 17-24, disjoint from the split/sample key digits)
    "corpus_cap_per_source" ->
      """SELECT doc_id, source, lang, n_chars FROM (
           SELECT doc_id, source, lang, n_chars,
                  ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY ('0x' || substr(md5(text), 17, 8))::BIGINT, doc_id) AS rn
           FROM documents)
         WHERE rn <= 10 ORDER BY doc_id""",
    "corpus_weighted_sample" ->
      // priority sampling: q = w/u, u = (md5-hex[25..32] + 1)/2^32 —
      // one IEEE division of exact operands, no transcendental
      """SELECT source, rn, doc_id, n_chars, priority FROM (
           SELECT source, doc_id, n_chars,
                  CAST(n_chars AS DOUBLE)
                    / (CAST(('0x' || substr(md5(text), 25, 8))::BIGINT + 1 AS DOUBLE)
                       / 4294967296.0) AS priority,
                  ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY CAST(n_chars AS DOUBLE)
                      / (CAST(('0x' || substr(md5(text), 25, 8))::BIGINT + 1 AS DOUBLE)
                         / 4294967296.0) DESC, doc_id) AS rn
           FROM documents WHERE n_chars > 0)
         WHERE rn <= 20 ORDER BY source, rn""",
    "dedup_ngram_jaccard" ->
      """WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 200),
         g AS (
           SELECT doc_id, list_distinct(list_transform(range(0, greatest(len(toks) - 2, 0) + 1),
                    i -> array_to_string(list_slice(toks, i + 1, i + 2), ' '))) AS grams
           FROM d),
         p AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
           FROM g a JOIN g b ON a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= 0.3 ORDER BY doc_a, doc_b""",
    "dedup_jaccard_stored" ->
      // row-identical to dedup_jaccard_prefix by construction (the
      // artifact IS the index), so the stored row reuses the same
      // naive all-pairs oracle
      """WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         g AS (
           SELECT doc_id,
                  list_distinct(list_transform(range(0, greatest(len(toks) - 2, 0) + 1),
                    i -> array_to_string(list_slice(toks, i + 1, i + 2), ' '))) AS grams
           FROM d),
         pr AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  len(list_intersect(a.grams, b.grams)) AS o,
                  len(a.grams) AS na, len(b.grams) AS nb
           FROM g a JOIN g b ON a.doc_id < b.doc_id)
         SELECT doc_a, doc_b,
                CAST(o AS DOUBLE) / CAST(na + nb - o AS DOUBLE) AS jaccard
         FROM pr WHERE o * 19 >= (na + nb) * 9 AND na + nb > o
         ORDER BY doc_a, doc_b""",
    "dedup_jaccard_prefix" ->
      // deliberately the NAIVE all-pairs join (no prefix-filter replay):
      // a hash match proves the engine's filter lossless on this corpus.
      // Same bigram-shingle sets as dedup_ngram_jaccard; J >= 9/10
      // tested in exact integer cross-multiplication, the jaccard double
      // is one exact integer division — engine-identical.
      """WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         g AS (
           SELECT doc_id,
                  list_distinct(list_transform(range(0, greatest(len(toks) - 2, 0) + 1),
                    i -> array_to_string(list_slice(toks, i + 1, i + 2), ' '))) AS grams
           FROM d),
         pr AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  len(list_intersect(a.grams, b.grams)) AS o,
                  len(a.grams) AS na, len(b.grams) AS nb
           FROM g a JOIN g b ON a.doc_id < b.doc_id)
         SELECT doc_a, doc_b,
                CAST(o AS DOUBLE) / CAST(na + nb - o AS DOUBLE) AS jaccard
         FROM pr WHERE o * 19 >= (na + nb) * 9 AND na + nb > o
         ORDER BY doc_a, doc_b""",
    "ps1_twin_parquet" ->
      """SELECT user_id,
                CASE WHEN MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) = 1 THEN 0.0
                     ELSE COALESCE(
                       CAST(SUM(CASE WHEN event_type <> 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
                         / COUNT(CASE WHEN event_type <> 'view' THEN value END), 0.0)
                END AS avg_polarity
         FROM events GROUP BY user_id ORDER BY user_id""",
    "ps2_twin_parquet" ->
      "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_totalprice >= 150000.0 ORDER BY o_orderkey",
    "ps3_twin_parquet" ->
      """SELECT o_custkey,
                array_to_string(list_sort(list(o_orderpriority)), '|') AS priorities,
                MAX(o_totalprice) AS max_price,
                MAX(CAST(o_orderdate AS DATE)) AS max_date,
                MAX(o_orderstatus) AS max_status,
                array_to_string(MAX(string_split(o_orderpriority, '-')), '|') AS max_prio_parts
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    "ps4_twin_parquet" ->
      """WITH perc AS (
           SELECT o_custkey,
                  array_to_string(list_sort(list(o_orderpriority)), '|') AS priorities,
                  MAX(o_totalprice) AS max_price,
                  MAX(CAST(o_orderdate AS DATE)) AS max_date,
                  MAX(o_orderstatus) AS max_status,
                  array_to_string(MAX(string_split(o_orderpriority, '-')), '|') AS max_prio_parts
           FROM orders GROUP BY o_custkey),
         sent AS (
           SELECT user_id,
                  CASE WHEN MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) = 1 THEN 0.0
                       ELSE COALESCE(
                         CAST(SUM(CASE WHEN event_type <> 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
                           / COUNT(CASE WHEN event_type <> 'view' THEN value END), 0.0)
                  END AS avg_polarity
           FROM events GROUP BY user_id)
         SELECT o_custkey, priorities, max_price, max_date, max_status, max_prio_parts, avg_polarity
         FROM perc LEFT JOIN sent ON sent.user_id = perc.o_custkey
         ORDER BY o_custkey""",
    "ps5_twin_parquet" ->
      """WITH w AS (SELECT unnest(string_split(p_name, ' ')) AS word, p_retailprice FROM part)
         SELECT word, COUNT(*) AS cnt,
                CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(p_retailprice) AS avg_price
         FROM w GROUP BY word ORDER BY word""",
  )
}
