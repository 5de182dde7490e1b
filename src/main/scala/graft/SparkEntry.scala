package graft

import graft.core.Tables
import graft.ml.{FeatureEngineering, PricePipeline, Recommender}
import graft.multimodal.MultimodalOps
import graft.operators._
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the SURVEY §2 operator inventory (plus the training-data
  * extensions: dedup / similarity / text analysis / multimodal), one entry
  * per operator family; `oracleSql` carries the DuckDB-equivalent ANSI SQL
  * for every query whose semantics SQL can express — hash-equality is the
  * correctness gate. Non-SQL-expressible entries (xxhash64 sketches, ML
  * fits, the mapPartitions decode) are rows-only checked here and
  * property-tested in src/test.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.q1GroupCountAvg(Tables(spark, "/root/testdata/sf0.001"))

  private def q(f: Tables => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => f(Tables(s, dir))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- core single-table surface (SURVEY §2.2/2.4/2.6/2.8) ---
    "q1_group_count_avg"    -> q(CoreQueries.q1GroupCountAvg),
    "q2_median_by_priority" -> q(CoreQueries.q2MedianByPriority),
    "q2_approx_median"      -> q(CoreQueries.q2ApproxMedian),
    // hash-gated since round 9: exact per-group counts + a GK-median-in-
    // [P49,P51]-band verdict the oracle states constant (independently
    // recomputed at verify time); the raw engine-specific GK value stays
    // spec-gated via q2ApproxMedianDefault
    "q2_approx_median_default" -> q(CoreQueries.q2ApproxMedianDefaultGate),
    "q3_status_share"       -> q(CoreQueries.q3StatusShare),
    "agg_multikey_avg"      -> q(CoreQueries.aggMultiKeyAvg),
    "agg_by_year"           -> q(CoreQueries.aggByYear),
    "agg_skewness"          -> q(CoreQueries.aggSkewness),
    "agg_describe_stats"    -> q(CoreQueries.aggDescribeStats),
    "agg_selectexpr_sum"    -> q(CoreQueries.aggSelectExprSum),
    "agg_global_sum"        -> q(CoreQueries.aggGlobalSum),
    "filter_range"          -> q(CoreQueries.filterRange),
    "filter_isin"           -> q(CoreQueries.filterIsin),
    "filter_not_like"       -> q(CoreQueries.filterNotLike),
    "filter_not_null"       -> q(CoreQueries.filterNotNull),
    "cast_columns"          -> q(CoreQueries.castColumns),
    "case_when_tier"        -> q(CoreQueries.caseWhenTier),
    "regexp_extract_num"    -> q(CoreQueries.regexpExtract),
    "date_parts"            -> q(CoreQueries.dateParts),
    "date_arithmetic"       -> q(CoreQueries.dateArithmetic),
    "null_fill_replace"     -> q(CoreQueries.nullFillReplace),
    "math_funcs"            -> q(CoreQueries.mathFuncs),
    "topk_orders"           -> q(CoreQueries.topKOrders),
    "project_derive"        -> q(CoreQueries.projectDerive),
    "dedup_exact_keys"      -> q(CoreQueries.dedupExact),
    "agg_rollup"            -> q(CoreQueries.aggRollup),
    "agg_cube"              -> q(CoreQueries.aggCube),
    "agg_grouping_sets"     -> q(CoreQueries.aggGroupingSets),
    "agg_collect_sorted"    -> q(CoreQueries.aggCollectSorted),
    "agg_exact_percentiles" -> q(CoreQueries.aggExactPercentiles),
    "agg_max_by"            -> q(CoreQueries.aggMaxBy),
    "agg_count_distinct"    -> q(CoreQueries.aggCountDistinct),
    "agg_approx_distinct"   -> q(CoreQueries.aggApproxDistinct),
    // hash-gated since round 9: exact top-20 keys/counts + CMS bound
    // verdicts (independently recomputed at verify time)
    "sketch_cms_topk"       -> q(t => CoreQueries.sketchCmsTopK(t)),
    "sketch_kmv_distinct"   -> q(t => CoreQueries.sketchKmvDistinct(t)),
    // hash-gated since round 9: source count + band/subset verdicts over
    // the actual seeded sample / split (independently recomputed)
    "sample_orders"         -> q(CoreQueries.sampleOrdersGate),
    "split_counts"          -> q(CoreQueries.splitCountsGate),
    // F10's monotonically_increasing_id is partition-dependent BY
    // CONTRACT, so the gate (round-10, was rows-only) emits the source
    // count + uniqueness/nonnegativity verdicts over the actual ids; the
    // hash-gated row_ids_stable twin covers the deterministic formulation
    "row_ids"               -> q(CoreQueries.rowIdsGate),
    "row_ids_stable"        -> q(CoreQueries.rowIdsStable),
    "sql_top_unshipped"     -> q(CoreQueries.sqlTopUnshippedOrders),
    "partitioned_roundtrip" -> q(graft.sources.PartitionedParquet.partitionedRoundtrip),
    // partition-spec evolution (round-12): year= then year=/month= trees,
    // per-spec listings unioned by name — Iceberg's spec evolution,
    // Spark-native; cross-boundary pruned read gated alongside
    "partition_spec_rollup" -> q(graft.sources.PartitionedParquet.specEvolutionRollup),
    "partition_spec_pruned" -> q(graft.sources.PartitionedParquet.specPrunedCounts),
    // dynamic partition pruning (round-12): the dim-side runtime filter
    // prunes fact directories the planner cannot see statically
    "join_dpp_pruned"       -> q(graft.sources.PartitionedParquet.dppPrunedJoin),
    "json_roundtrip"        -> q(graft.sources.JsonIO.jsonRoundtrip),
    "orc_roundtrip"         -> q(graft.sources.OrcIO.orcRoundtrip),
    "csv_column_roundtrip"  -> q(graft.sources.CsvIO.csvColumnRoundtrip),
    "pivot_flag_status"     -> q(CoreQueries.pivotFlagStatus),
    "unpivot_flag_status"   -> q(CoreQueries.unpivotFlagStatus),
    "stat_corr_covar"       -> q(CoreQueries.statCorrCovar),
    "sample_stratified"     -> q(CoreQueries.stratifiedSample),
    "topk_part_keys"        -> q(t => CoreQueries.topPartKeys(t)),
    // typed Dataset surface: groupByKey + mapGroups with case-class
    // Encoders; order-independent per-group aggregates keep it hash-gated
    "typed_group_stats"     -> q(TypedOps.customerOrderStats),
    // --- joins & set ops (§2.3) ---
    "join_customers_per_region" -> q(JoinOps.customersPerRegion),
    "join_revenue_by_priority"  -> q(JoinOps.revenueByPriority),
    // same join through bucketed+sorted tables: zero exchanges at read
    // time (plan spec-asserted); the gate proves result parity
    "join_revenue_bucketed"     -> q(sources.BucketedTables.revenueByPriorityBucketed),
    "join_revenue_by_brand"     -> q(JoinOps.revenueByBrand),
    // salted join on the correctness surface (round-10): salting must be
    // invisible in the result — oracle states the plain equi-join
    "join_salted_events"        -> q(t => JoinOps.saltedEventCategoryAgg(t)),
    "join_supplier_volume"      -> q(JoinOps.supplierVolumeByRegion),
    "join_semi_with_orders"     -> q(JoinOps.customersWithOrders),
    "join_anti_without_orders"  -> q(JoinOps.customersWithoutOrders),
    "join_left_order_counts"    -> q(JoinOps.orderCountPerCustomer),
    "set_union_slices"          -> q(JoinOps.unionSlices),
    "set_except_slices"         -> q(JoinOps.exceptSlices),
    "set_intersect_slices"      -> q(JoinOps.intersectSlices),
    "set_union_by_name"         -> q(JoinOps.unionByNameSlices),
    "set_except_all"            -> q(JoinOps.exceptAllSlices),
    "set_intersect_all"         -> q(JoinOps.intersectAllSlices),
    "scalar_above_avg"          -> q(JoinOps.aboveAveragePrice),
    // --- windows (§2.5) ---
    "window_top_per_segment" -> q(WindowOps.topCustomersPerSegment),
    "window_running_revenue" -> q(WindowOps.runningRevenuePerCustomer),
    "window_price_delta"     -> q(WindowOps.orderPriceDelta),
    "window_part_ranks"      -> q(WindowOps.partSizeRanks),
    "window_price_quartiles" -> q(WindowOps.priceQuartiles),
    "window_dist_ranks"      -> q(WindowOps.distributionRanks),
    "window_range_frame"     -> q(WindowOps.rollingSpend30d),
    "window_first_last"      -> q(WindowOps.firstLastOrderStats),
    // --- events: JSON + time windows + sessionization ---
    "events_json_stats"        -> q(EventOps.jsonPropStats),
    "events_props_map"         -> q(EventOps.propsMapStats),
    "events_map_transform"     -> q(EventOps.propsMapTransform),
    "events_json_get"          -> q(EventOps.jsonGetObject),
    "events_hourly"            -> q(EventOps.hourlyTypeCounts),
    "events_interval_join"     -> q(t => EventOps.intervalJoinBusyWindows(t, 20)),
    "events_sliding"           -> q(EventOps.slidingTypeCounts),
    "events_session_native"    -> q(EventOps.nativeSessionWindows),
    // ordered conversion funnel (round-12): one exchange, array-expression
    // step times; the oracle derives the steps via correlated min-joins
    "events_funnel"            -> q(EventOps.funnelCounts),
    // retention cohort matrix (round-12): first-active-day cohorts ×
    // day offsets, distinct users per cell — fully hash-gated
    "events_retention_cohorts" -> q(t => EventOps.retentionCohorts(t)),
    // tolerance-bounded as-of (round-12): merge_asof(tolerance=2h) — the
    // attribution-window rule, same no-join plan
    "events_asof_tolerance"    -> q(t => EventOps.nextPurchaseAsofTolerance(t)),
    // KS-style split-representativeness (round-12): train-vs-test length
    // CDFs on an exact integer grid, cross-multiplied ppm gaps
    "dq_split_distribution"    -> q(CoreQueries.splitDistributionKs),
    // per-language calibrated quality cutoffs (round-12): P10-of-score
    // per lang, keep counts — fully hash-gated
    "text_quality_calibrated"  -> q(t => TextOps.calibratedQualityCutoffs(t)),
    // hourly volume anomalies (round-12): trailing-24h fence via exact
    // integer cross-multiplication — fully hash-gated
    "events_hourly_anomaly"    -> q(EventOps.hourlyAnomalies),
    // profiling (round-12): equi-width histogram + ANALYZE-style per-column
    // stats — the optimizer/drift-monitoring surface, fully hash-gated
    "profile_histogram"        -> q(ProfileOps.priceHistogram),
    "analyze_column_stats"     -> q(ProfileOps.analyzeOrders),
    // incremental ANALYZE (round-12): stats maintained through the
    // insert-only CDC slice — self-proving vs the oracle's direct stats
    "analyze_incremental_stats" -> q(ProfileOps.incrementalColumnStats),
    // join-size estimation from count-min sketches (round-12): the
    // join-planning primitive — verdict gate, GateInvariants-recomputed
    "profile_join_size_cms"    -> q(t => ProfileOps.cmsJoinSizeGate(t)),
    // join-skew report (round-12): top keys by self-join contribution
    // f(k)^2 — what AQE skew-split / salting decide on; fully hash-gated
    "profile_join_skew"        -> q(t => ProfileOps.joinSkewTopK(t)),
    // per-source distribution drift between snapshots (round-12): the
    // accept/reject check before publishing an ingest — fully hash-gated
    "drift_source_distribution" -> q(SnapshotOps.sourceDriftGate),
    // inverted-index build + stored lookup (round-12): keyword queries
    // answered from the persisted index vs the oracle's full scan
    "index_inverted_lookup"    -> q(IndexOps.indexLookupGate),
    // incremental index maintenance (round-12): postings refreshed from
    // the CDC batch — proven equal to a full rebuild of snapshot B
    "index_incremental_lookup" -> q(IndexOps.incrementalIndexLookupGate),
    // token-clustered index + zone-map pruning (round-12): the lookup
    // opens only files whose token extent can contain the probe
    "index_pruned_lookup"      -> q(t => IndexOps.prunedIndexLookupGate(t)),
    "events_sessions"          -> q(EventOps.userSessions),
    "events_click_to_purchase" -> q(EventOps.clickToPurchase),
    "events_asof_purchase"     -> q(EventOps.nextPurchaseAsof),
    "events_asof_prev"         -> q(EventOps.prevPurchaseAsof),
    "events_gap_fill"          -> q(EventOps.gapFillHourly),
    "events_hourly_streaming"  -> ((s, dir) =>
      EventStream.hourlyCounts(s, dir, s"graft_stream_${System.nanoTime()}")),
    "events_interval_join_streaming" -> ((s, dir) =>
      EventStream.intervalJoinStreaming(s, dir, s"graft_ivj_${System.nanoTime()}")),
    "events_sliding_streaming" -> ((s, dir) =>
      EventStream.slidingCounts(s, dir, s"graft_slide_${System.nanoTime()}")),
    "events_hourly_streaming_append" -> ((s, dir) =>
      EventStream.hourlyCountsAppend(s, dir, s"graft_hca_${System.nanoTime()}")),
    "events_sliding_streaming_append" -> ((s, dir) =>
      EventStream.slidingCountsAppend(s, dir, s"graft_sca_${System.nanoTime()}")),
    "events_sessions_streaming" -> ((s, dir) =>
      EventStream.sessionize(s, dir, s"graft_sess_${System.nanoTime()}")),
    "events_sessions_native_streaming" -> ((s, dir) =>
      EventStream.sessionizeNativeWindows(s, dir, s"graft_snw_${System.nanoTime()}")),
    "events_dedup_streaming" -> ((s, dir) =>
      EventStream.dedupCounts(s, dir, s"graft_dedup_${System.nanoTime()}")),
    "events_file_sink" -> ((s, dir) => EventStream.fileSinkRoundtrip(s, dir)),
    "events_foreach_upsert" -> ((s, dir) => EventStream.foreachBatchUpsert(s, dir)),
    "events_stream_join" -> ((s, dir) =>
      EventStream.clickPurchaseJoin(s, dir, s"graft_ssj_${System.nanoTime()}")),
    "events_stream_left_join" -> ((s, dir) =>
      EventStream.clickPurchaseLeftJoin(s, dir, s"graft_ssl_${System.nanoTime()}")),
    "events_stream_full_join" -> ((s, dir) =>
      EventStream.clickPurchaseFullJoin(s, dir, s"graft_ssf_${System.nanoTime()}")),
    "dedup_minhash_streaming" -> ((s, dir) =>
      streaming.DedupStream.minhashPairs(s, dir, s"graft_mhs_${System.nanoTime()}", 0.3)),
    "dedup_minhash_windowed" -> ((s, dir) =>
      streaming.DedupStream.minhashPairsWindowed(
        s, dir, s"graft_mhw_${System.nanoTime()}", 0.3, 200)),
    // --- text analysis (training-data extensions) ---
    "text_token_stats"      -> q(TextOps.tokenStats),
    "text_quality_by_lang"  -> q(TextOps.qualityByLang),
    "text_langid_confusion" -> q(TextOps.langIdConfusion),
    "text_fingerprints"     -> q(TextOps.fingerprints),
    "text_category_counts"  -> q(TextOps.categoryCounts),
    "text_rolling_hash"     -> q(TextOps.rollingHashes),
    "text_quality_filter"   -> q(TextOps.qualityFilter),
    "text_top_tokens"       -> q(t => TextOps.topTokens(t)),
    "text_redact_ids"       -> q(TextOps.redactIds),
    "text_repetition_stats" -> q(t => TextOps.repetitionStats(t)),
    "text_doc_chunks"       -> q(t => TextOps.docChunks(t)),
    // length-curriculum staging (round-12): equal-population ntile stages
    // over the (n_chars, doc_id) total order — fully hash-gated
    "text_length_curriculum" -> q(t => TextOps.lengthCurriculum(t)),
    // BPE merge training (round-12): the first 5 tokenizer merges learned
    // from the word-frequency dict — fully hash-gated, the oracle unrolls
    // the same 5 argmax+replace rounds
    "text_bpe_merges"       -> q(t => TextOps.bpeMerges(t)),
    // BPE corpus ENCODING (round-14): the trained merge table applied to
    // the corpus — per-language encoded token counts + exact-integer
    // compression ratio; the oracle replays training AND encoding
    "text_bpe_encode"       -> q(t => TextOps.bpeEncode(t)),
    // frozen-tokenizer OOV encode (round-16): train on the md5-lower half
    // of the vocabulary, encode the FULL corpus — held-out words replay
    // the frozen merge table rank by rank instead of being inner-joined
    // away; the oracle replays training, the dict join AND the OOV
    // merge-replay chain
    "text_bpe_encode_oov"   -> q(t => TextOps.bpeEncodeOov(t)),
    // the same frozen-tokenizer contract ABOVE the expression threshold
    // (round-16 verdict item 4: the production broadcast-replay regime —
    // a 32k-merge table is a mapPartitions replay over the distinct OOV
    // vocabulary, not a 32k-deep codegen replace chain — had spec parity
    // but no oracle row). 66 merges > the 64-merge threshold; the
    // trained split is md5 ≤ 'c' (24 of 31 words) because the half split
    // exhausts at 47 learnable merges (measured, all fixture
    // generations) and can never reach the replay regime; 66 sits 4
    // under the 'c' split's measured 70-merge exhaustion point, and
    // GateInvariants requires all 66 merges learned so a fixture drift
    // toward exhaustion fails loudly instead of silently NULLing the
    // oracle's replace chain
    "text_bpe_encode_oov_replay" -> q(t => TextOps.bpeEncodeOov(t, 66, "c")),
    // training-path parity (round-15): the production driver-side merge
    // loop vs the reference cluster loop at 12 merges, merge tables +
    // final dicts compared; the
    // oracle states vocab count + constant verdicts, GateInvariants
    // re-runs both paths
    "text_bpe_path_parity"  -> q(t => TextOps.bpePathParityGate(t)),
    // weak-label quality-classifier distillation (round-12): exact label
    // counts hash-gated; distillation verdicts recomputed by GateInvariants
    "ml_quality_classifier" -> q(graft.ml.QualityClassifier.classifierGate),
    "sample_hash_per_group" -> q(t => TextOps.hashSamplePerLang(t)),
    "text_zipf_slope"       -> q(t => TextOps.zipfSlope(t)),
    // --- corpus packing / budget sampling (training-data extensions) ---
    "pack_concat_chunks"    -> q(t => PackingOps.packConcatChunks(t, 1024)),
    // training-shard manifest (round-14): exact md5-uniform hash sharding
    // (no global sort), per-shard doc/token/char manifest value-hashed
    "pack_shard_manifest"   -> q(t => PackingOps.shardManifest(t, 8)),
    "sample_token_budget"   -> q(t => PackingOps.sampleTokenBudget(t, 8000)),
    // the encoded-token twin (round-14): budget spent in BPE tokens (what
    // a trained tokenizer actually emits), same shuffle order + prefix sum
    "sample_token_budget_encoded" -> q(t => PackingOps.sampleTokenBudgetEncoded(t)),
    "sample_mixture"        -> q(t => PackingOps.sampleMixture(t, 600)),
    // sequential Poisson weighted sampling: priorities are exact dyadic
    // uniforms over one IEEE division, so the oracle replays them
    // bit-for-bit — no band verdicts needed for a WEIGHTED sampler
    "sample_weighted"       -> q(t => PackingOps.weightedSample(t)),
    // the k-in-the-millions scale path: τ from a quantile sketch, filter,
    // re-rank the ~4k survivors — provably the same rows as the top-k
    // (see weightedSampleTau's scaladoc), so it shares sample_weighted's
    // oracle verbatim and hash-matching here proves the equivalence
    "sample_weighted_tau"   -> q(t => PackingOps.weightedSampleTau(t)),
    // temperature mixture (round-11): sqrt-share budgets via exact
    // integer micro-weights — budget arithmetic AND draw both hash-checked
    "sample_mixture_temperature" -> q(t => PackingOps.sampleMixtureTemperature(t)),
    "sample_weighted_per_group" -> q(t => PackingOps.weightedSamplePerGroup(t)),
    // --- data layout (training-data extensions) ---
    "layout_zorder"         -> q(LayoutOps.zorderIndex),
    "layout_zorder_roundtrip" -> q(LayoutOps.zorderRoundtrip),
    // production-boundary variant (clamped P1/P99 sketch bounds): z values
    // are sketch-dependent, so the gate states LOSSLESSNESS — the same
    // probe as the exact-bounds roundtrip, same oracle
    "layout_zorder_approx_roundtrip" -> q(LayoutOps.zorderRoundtripApprox),
    // small-file compaction (round-11): 64-file fragmented lineitem →
    // listing-sized compacted rewrite → probe; the oracle states the probe
    // from the source table, so the hash proves the cycle is lossless
    "layout_compact_roundtrip" -> q(LayoutOps.compactRoundtrip),
    // dynamic partition overwrite (round-12): a backfill batch replaces
    // exactly the partitions it carries — appended duplicates or a
    // static-mode truncation of the other 7 buckets both break the hash
    "layout_dynamic_overwrite" -> q(LayoutOps.dynamicOverwriteRoundtrip),
    // range-clustered write judged from footers alone (round-12); every
    // verdict recomputed from the data by GateInvariants
    "layout_range_write"     -> q(t => LayoutOps.rangeWriteStats(t)),
    // --- deduplication (training-data extensions) ---
    // snapshot reconciliation (round-11): digests-only full-outer diff →
    // the added/changed slice is what incremental stages re-process
    "snapshot_diff_stats" -> q(SnapshotOps.snapshotDiffStats),
    // batch CDC apply (round-11): merge(A, diff(A→B)) must reconstruct B
    // exactly — the oracle states the rollup over B directly
    "merge_apply_roundtrip" -> q(SnapshotOps.mergeApplyRoundtrip),
    // incremental aggregate maintenance (round-11): refresh rollup(A) from
    // the CDC feed's signed before/after deltas WITHOUT rescanning the
    // corpus; the oracle states rollup(B) directly — self-proving like the
    // CDC gate, with every term exact (long counts, DECIMAL digest sums)
    "agg_incremental_rollup" -> q(SnapshotOps.incrementalRollupGate),
    // multi-batch CDC (round-12): two consecutive feeds applied
    // sequentially, applied as ONE compacted net feed, and folded into
    // the maintained rollup — all three against oracles stating the
    // second-hop snapshot C directly (self-proving composition)
    "merge_apply_multibatch" -> q(SnapshotOps.multibatchApplyRoundtrip),
    // anti-entropy replica reconciliation (round-12): Merkle-style
    // per-bucket digest compare + bucket-scoped repair, both hash-gated
    "replica_antientropy_diff" -> q(SnapshotOps.antiEntropyGate),
    "replica_repair_roundtrip" -> q(t => SnapshotOps.antiEntropyRepairRoundtrip(t)),
    "merge_apply_compacted" -> q(SnapshotOps.compactedApplyRoundtrip),
    "agg_incremental_rollup_multi" -> q(SnapshotOps.incrementalRollupMultiGate),
    // the maintained rollup driven by the STREAMING plane (round-12):
    // CDC batches arrive as files, foreachBatch folds signed deltas into
    // a versioned parquet view — third independent path to rollup(C)
    "agg_incremental_rollup_streamed" ->
      q(t => streaming.CdcStream.streamedRollupGate(t)),
    // checkpoint / snapshot expiry (round-12): snapshot B materialized
    // as the new base, Δ₂ applied to the STORED checkpoint — proves
    // expiring history before a checkpoint is safe (same rollup(C)
    // oracle as the multibatch gate, two more independent engine paths)
    "merge_apply_checkpointed" -> q(SnapshotOps.checkpointedApplyRoundtrip),
    // retention purge (round-12): right-to-be-forgotten through the
    // changelog chain — purge-commutes-with-apply, oracle filters after
    "retention_purge" -> q(SnapshotOps.retentionPurgeRoundtrip),
    // time travel (round-12): versioned reads over the base+changelog
    // chain — DESCRIBE HISTORY shape, one row per version, every version
    // proven to reconstruct exactly against the oracle's own derivations
    "time_travel_history" -> q(SnapshotOps.versionHistory),
    // write-audit-publish (round-12): batches stage unlisted, the audit
    // runs over the STAGED files, and only a passing batch's files join
    // the published manifest — the aborted double-write's rows are
    // proven invisible to manifest readers (n_rows_published = 0)
    "pipeline_wap_commit" -> q(PublishOps.wapGate),
    // data-quality constraint suite (round-12): Deequ-shaped report —
    // uniqueness / completeness / domains / ranges in ONE pass per table,
    // referential integrity via anti joins; fully hash-gated
    "dq_constraint_report" -> q(DataQualityOps.constraintReport),
    // deterministic hash split (round-12): md5-bucket train/val/test —
    // the reproducible, insertion-stable split a 100 TB corpus needs;
    // the oracle replays every doc's assignment
    "split_hash_counts" -> q(CoreQueries.hashSplitGate),
    // deterministic stratified sample (round-12): smallest-digest top-k
    // per source — exactly k per stratum, row-by-row hash-gated
    "sample_hash_stratified" -> q(t => CoreQueries.hashStratifiedSample(t)),
    // column storage audit (round-12): per-column byte totals from
    // footers vs DuckDB parquet_metadata() — zero data pages
    "stats_column_sizes" -> q(t => sources.ParquetStats.columnSizesGate(t)),
    // KMV shard-sketch mergeability (round-11): per-source bottom-k
    // sketches merged (≤ #sources×k digests) must estimate EXACTLY what
    // one direct corpus-wide graft_kmv_distinct estimates — the theorem
    // that answers corpus distincts from stored shard sketches at 100 TB
    "sketch_kmv_merge" -> q(t => CoreQueries.sketchKmvMerge(t)),
    // Datasketches HLL shard-merge twin (round-11): native persistable
    // sketches — estimates are engine-specific, so only exact counts +
    // recomputed booleans are emitted (verdict gate, GateInvariants)
    "sketch_hll_merge" -> q(t => CoreQueries.sketchHllMerge(t)),
    // the storage hop behind the merge claim: per-source sketches
    // persisted to parquet, read back, unioned (round-12) — lossless
    // round trip + band verdicts, GateInvariants-recomputed
    "sketch_hll_persisted" -> q(t => CoreQueries.sketchHllPersisted(t)),
    // Dataset.observe intake counters (round-11): exact metrics collected
    // on the SAME pass as the driving action — full hash gate
    "observe_intake_stats" -> q(t => ObservabilityOps.observedIntakeStats(t)),
    // schema evolution (round-11): two-generation parquet dir (early
    // files lack lang/n_chars) read schema-first; the rollup backfills
    // the old generation's chars from the text — full hash gate
    "schema_evolution_rollup" -> q(t => sources.SchemaEvolution.evolutionRollup(t)),
    // parquet footer zone maps (round-11): per-file min/max/null stats
    // from footers only — Spark's parquet-hadoop vs DuckDB's
    // parquet_metadata must agree byte-for-byte
    "stats_parquet_footer" -> q(t => sources.ParquetStats.documentsFooterStats(t)),
    // manifest-driven file pruning (round-11): files skipped by zone map
    // BEFORE being opened; the rollup hash proves pruning lossless and
    // skipped_some (recomputed by GateInvariants) proves it happened
    "stats_pruned_scan" -> q(t => sources.ParquetStats.prunedScanGate(t)),
    // streaming progress ledger (round-11): monitoring-plane numInputRows
    // reconciled against the sink and the oracle's direct count
    "events_progress_ledger" -> ((s, dir) =>
      EventStream.progressLedger(s, dir, s"graft_ledger_${System.nanoTime()}")),
    // clustering-depth meter (round-11): exact span arithmetic over the
    // footer stats — the re-cluster decision signal, footers only
    "stats_clustering_depth" -> q(t => sources.ParquetStats.documentsClusteringDepth(t)),
    // typed zone maps (round-12): footer min/max for strings, doubles and
    // timestamps — parquet-hadoop vs DuckDB parquet_metadata per type
    "stats_footer_typed" -> q(t => sources.ParquetStats.ordersFooterStatsTyped(t)),
    // multi-file clustering depth (round-12): the meter's clustered-vs-
    // scattered separation on two DETERMINISTIC 8-file layouts whose
    // per-file extents the oracle recomputes from the source table
    "stats_clustering_depth_multi" -> q(t => sources.ParquetStats.bucketedClusteringDepth(t)),
    // type-widening evolution (round-12): int32→long / float→double files
    // under one stated wide schema — values proven unshifted by the hash
    "schema_evolution_widen" -> q(t => sources.SchemaEvolution.wideningRollup(t)),
    // typed pruning consumers (round-12): the scans the typed zone maps
    // exist for — whole year-files skipped by timestamp extents, string
    // buckets by UTF8 extents, and a parquet-bloom point lookup on a
    // scattered key where zone maps keep everything
    "stats_pruned_scan_date" -> q(t => sources.ParquetStats.datePrunedScanGate(t)),
    "stats_pruned_scan_string" -> q(t => sources.ParquetStats.stringPrunedScanGate(t)),
    "stats_bloom_point_lookup" -> q(t => sources.ParquetStats.bloomLookupGate(t)),
    // metadata-only aggregation (round-12): count/min/max answered from
    // footers alone, zero data pages — vs the oracle's full-scan answers
    "stats_metadata_agg" -> q(t => sources.ParquetStats.metadataAggGate(t)),
    // vacuum (round-12): orphan files = storage listing minus manifest;
    // the rollup of the rows INSIDE the detected orphans hash-proves the
    // partition exact in both directions (a false positive would delete
    // live data); found_orphans recomputed by GateInvariants
    "vacuum_orphan_scan" -> q(t => sources.ParquetStats.vacuumOrphanGate(t)),
    // mergeable quantile sketch (round-12): deterministic hash sample
    // persisted per shard, corpus quantiles answered from the STORED
    // sample — fully hash-gated (the oracle restates predicate,
    // interpolation, and the in-band verdict from its own values)
    "sketch_quantile_sample" -> q(t => QuantileOps.quantileSketchGate(t)),
    "sketch_quantile_by_source" -> q(t => QuantileOps.quantileBySourceGate(t)),
    // CCNet-style bigram-LM perplexity scoring (round-11): exact-count
    // probabilities, 6-decimal ln terms, DECIMAL sums — fully hash-gated
    "text_bigram_perplexity" -> q(t => TextOps.bigramPerplexity(t)),
    // BM25 lexical retrieval (round-12): corpus search top-k — 6-decimal
    // term scores, DECIMAL per-doc sums, deterministic tie-break
    "text_bm25_topk" -> q(t => TextOps.bm25TopK(t)),
    "dedup_exact_stats"   -> q(DedupOps.exactDupStats),
    "dedup_exact_docs"    -> q(DedupOps.exactDedup),
    "dedup_ngram_jaccard" -> q(t => DedupOps.ngramJaccardPairs(t, 0.3)),
    "dedup_ngram_containment" -> q(t => DedupOps.ngramContainmentPairs(t, 0.6)),
    "dedup_minhash"       -> q(t => DedupOps.minhashDupPairs(t, 0.3)),
    // hot-band guard meter (round-10): the oracle rebuilds the identical
    // md5 band keys and recounts, so zero hot bands on the fixture is a
    // CHECKED fact — which is what licenses dedup_minhash's oracle to not
    // model the maxBand sub-split
    "dedup_minhash_hotband" -> q(t => DedupOps.minhashHotBandStats(t)),
    "dedup_clusters"      -> q(t => DedupOps.dupClusters(t, 0.5)),
    // cluster-size distribution (round-12): the dedup dashboard headline
    "dedup_cluster_histogram" -> q(t => DedupOps.clusterSizeHistogram(t)),
    "dedup_cluster_resolve" -> q(t => DedupOps.resolveClusters(t, 0.5)),
    // drifting-revision chain clusters (round-13): per-source chain graph
    // with diameter > 20 hops — the gate that holds connectedComponents'
    // star contraction to O(log n) rounds on a high-diameter graph
    "dedup_revision_chains" -> q(GraphOps.revisionChainClusters),
    // leakage-safe eval split (round-12): split key = md5 of the near-dup
    // cluster representative, so no cluster spans train and holdout
    "split_cluster_holdout" -> q(t => DedupOps.clusterHoldoutCounts(t, 0.5)),
    // graph analytics (round-12): degree-oriented triangle census +
    // exact-integer PageRank over the capped co-activity graph — both
    // fully hash-gated (fixed-point arithmetic, no float accumulation)
    "graph_triangle_stats" -> q(t => GraphOps.triangleStats(t)),
    "graph_pagerank"       -> q(t => GraphOps.pagerankTop(t)),
    "graph_community_leaders" -> q(t => GraphOps.communityLeaders(t)),
    "dedup_incremental"   -> q(t => DedupOps.incrementalDedup(t, "src0")),
    "dedup_decontaminate" -> q(t => DedupOps.decontaminate(t, "src15")),
    "dedup_substring_spans" -> q(t => DedupOps.duplicateSpans(t.documentsBalanced)),
    // composed intake pipeline: quality → repetition → exact-dup →
    // decontamination, first-failing reason per doc + per-source rollup
    "pipeline_intake_decisions" -> q(t => PipelineOps.intakeDecisions(t)),
    "pipeline_intake_stats"     -> q(t => PipelineOps.intakeStats(t)),
    // Full corpus at threshold 0.7: MLlib's scheme (1 hash per table, no
    // banding) is OR-amplified, so it is run where its candidate noise
    // vanishes — high-similarity dedup (see the operator's scaladoc for
    // the P(candidate) analysis; the low-threshold workhorse is the
    // banded dedup_minhash above).
    // hash-gated since round 9: oracle-recomputable exact-dup pair count
    // + LSH-guarantee verdicts (independently recomputed at verify time);
    // the raw engine-specific pair set stays spec-gated
    "dedup_minhash_mllib" -> ((s, dir) =>
      DedupOps.minhashMllibVerdictGate(Tables(s, dir), 0.7)),
    "dedup_simhash"       -> q(t => DedupOps.simhashDupPairs(t, 6)),
    "dedup_edit_distance" -> q(t => DedupOps.editDistancePairs(t)),
    // --- similarity search (training-data extensions) ---
    "ann_brute_force"    -> q(t => SimilarityOps.bruteForceTopK(t, 0L, 10)),
    // matryoshka-style truncated-dimension retrieval (round-12): prefix
    // cosine top-k + full-dim-membership flag, fully hash-gated
    "ann_truncated_dims" -> q(t => SimilarityOps.truncatedDimsTopK(t)),
    "ann_lsh"            -> q(t => SimilarityOps.lshTopK(t, 0L, 5, 6)),
    // hash-gated since round 9: the approximate neighbor SET is
    // engine-specific (IVF cells / random projections), so the gates emit
    // the ANN contract as verdicts — score exactness, descending order,
    // recall floor vs brute force — independently recomputed at verify
    // time; the raw row-level probes stay spec-gated
    "ann_ivf"            -> q(t => SimilarityOps.ivfVerdictGate(t)),
    // recall-vs-nprobe tuning curve (round-13): one row per probe width,
    // closing at exact recall when nprobe = nlist
    "ann_ivf_recall_curve" -> q(t => SimilarityOps.ivfRecallCurveGate(t)),
    // routed-ingest recall floors (round-16): the production two-level
    // assignment at nlist = 4096 on UNSTRUCTURED (isotropic) centroids —
    // the worst case for coarse pruning — with measured per-width floors
    // and an exact close at the full sweep
    "ann_ivf_recall_routed" -> q(t => SimilarityOps.ivfRecallRoutedGate(t)),
    // the same contract deep in the two-level ingest range (round-16
    // verdict item 3): nlist = 16384 — ncoarse = 128, pcoarse = 4, where
    // the two-level table is the measured production win (8.0 s flat vs
    // 0.5 s routed per 200k vectors) — with floors measured on the
    // sparse fixture indexes and an exact close at the full sweep
    "ann_ivf_recall_routed_hier" ->
      q(t => SimilarityOps.ivfRecallRoutedHierGate(t)),
    // incremental IVF maintenance (round-13): subset-built index +
    // zero-shuffle nearest-centroid append; conservation, id uniqueness,
    // full-probe exactness and nearest-assignment verdicts
    "ann_ivf_append"     -> q(t => SimilarityOps.ivfAppendGate(t)),
    // streaming twin: the same append operator tailing a staged feed via
    // foreachBatch, ≥2 micro-batches pinned
    "ann_ivf_ingest_streaming" -> q(t => graft.streaming.AnnIngestStream.ingestGate(t)),
    // rebuild advisor: cell-balance drift meter over the appended index —
    // metadata-grade aggregation, rebuild trigger + probe-reachability
    "ann_ivf_drift"      -> q(t => SimilarityOps.ivfDriftGate(t)),
    // two-level coarse-quantized assignment (round-14): O(2·√nlist·dim)
    // per vector instead of O(nlist·dim); full-sweep identity theorem +
    // pruned-agreement floor verdicts
    "ann_ivf_assign_hier" -> q(t => SimilarityOps.ivfAssignHierGate(t)),
    // flat assignment at 256 cells (round-15): graft_ivf_assign over a
    // closed-form surrogate table — per-cell histogram, FULL hash gate
    // (the oracle replays the argmin)
    "ann_ivf_assign_expr" -> q(t => SimilarityOps.ivfAssignExprGate(t)),
    "ann_brp_lsh"        -> q(t => SimilarityOps.brpLshVerdictGate(t)),
    // int8-quantized scoring (round-11): exact IEEE quantization rule ⇒
    // the quantized cosine AND its approximation error hash-gate, unlike
    // the engine-specific IVF/BRP indexes
    "ann_quantized"      -> q(t => SimilarityOps.quantizedTopK(t, 0L, 10)),
    "emb_neardup_exact"  -> q(t => SimilarityOps.embeddingNearDupExact(t, 0.35)),
    "emb_neardup_lsh"    -> q(t => SimilarityOps.embeddingNearDupLsh(t, 0.35, 8)),
    // batch k-NN JOIN (top-k per vector) over deterministic sign buckets;
    // the oracle recomputes the identical buckets → full hash gate
    "ann_knn_join"       -> q(t => SimilarityOps.knnJoinLsh(t, 3)),
    // int8 twin (round-11): identical buckets, candidate scoring on the
    // 8x-smaller packed codes — exchanges carry 64-byte codes, not fp64
    "ann_knn_join_q8"    -> q(t => SimilarityOps.knnJoinQ8(t, 3)),
    "emb_neardup_clusters" -> q(t => SimilarityOps.embNearDupClusters(t, 0.35, 8)),
    // SemDeDup-style keep/drop resolution (round-11): one max-norm
    // representative per semantic cluster, singletons keep themselves
    "emb_semantic_resolve" -> q(t => SimilarityOps.semanticResolve(t, 0.35, 8)),
    "emb_norms_by_label" -> q(SimilarityOps.normsByLabel),
    "emb_vector_stats"   -> q(SimilarityOps.vectorStatsByLabel),
    // --- ML + multimodal (reference parity M1-M14 / extension) ---
    // hash-gated since round 9: the fitted values are engine-specific, so
    // the gates emit the model set (part of the reference contract) plus
    // the documented metric identities as verdicts — independently
    // recomputed at verify time by re-running the fits; raw tables stay
    // exposed for the specs
    "ml_price_metrics"    -> q(PricePipeline.fastMetricsGate),
    // all nine reference configs (M3-M11) behind a driver gate; rows-only
    // like its fast sibling (ML fits are engine-specific) with the model
    // set + metric-consistency invariants verified in GateInvariants
    "ml_price_metrics_full" -> q(PricePipeline.fullMetricsGate),
    "ml_cv_linear"        -> q(PricePipeline.cvVerdictGate),
    // round-10: the reference's imported-but-unwired feature transformers
    // (Imputer/OneHotEncoder/Bucketizer + SQLTransformer/IndexToString in
    // the plumbing). Bucketize is fully oracle-exact; the other two are
    // verdict gates with GateInvariants re-fits
    "ml_feature_bucketize" -> q(FeatureEngineering.bucketizedPriceCounts),
    "ml_feature_impute"    -> q(FeatureEngineering.imputeGate),
    // round-11: the median-strategy twin (GK sketch surrogate pinned to
    // the exact [P49.5, P50.5] band) and the last unwired reference
    // import, VectorIndexer (recomendation-system.py:21-23)
    "ml_feature_impute_median" -> q(FeatureEngineering.imputeMedianGate),
    "ml_feature_vector_index"  -> q(FeatureEngineering.vectorIndexGate),
    "ml_feature_onehot"    -> q(FeatureEngineering.onehotGate),
    "ml_recommend_tfidf"  -> q(t => Recommender.similarDocs(t, 0L, 5)),
    // same oracle as the dense variant: sparse merge-dot scoring is
    // bit-identical (SparseDotSpec), so it earns its own hash gate
    "ml_recommend_tfidf_sparse" -> q(t => Recommender.similarDocsSparse(t, 0L, 5)),
    // hash-gated: the decode pattern is closed-form arithmetic, so the
    // oracle regenerates the pixel grid with range() joins and recomputes
    // every output — the real ImageIO codec is pinned cross-engine
    "multimodal_features" -> q(MultimodalOps.assetFeatureStats),
    "multimodal_binary_ingest" -> q(MultimodalOps.binaryIngestStats),
    "multimodal_png_files" -> q(MultimodalOps.pngFileDecodeStats),
    // round-11: the brief's remaining multimodal primitives. Both gates
    // are all-long outputs (exact nearest-neighbor indices / exact pixel
    // sums), so they hash-gate with zero rounding — the oracle replays
    // the resized grid / sampled frames from the closed-form pattern
    "multimodal_resize"       -> q(MultimodalOps.resizedAssetStats),
    "multimodal_frame_sample" -> q(MultimodalOps.frameSampleStats),
    // frame-level dedup (round-12): duplicated frames found by content
    // digest of the encoded bytes — no codec; duplication histogram
    // restated closed-form by the oracle
    "multimodal_frame_dedup"  -> q(MultimodalOps.frameDedupStats))

  /** Shared oracle CTE: the md5-minhash candidate pairs with verified
    * Jaccard (mirrors DedupOps.minhashDupPairs with k=16, 8 bands × 2
    * rows). Ends with relation `j(doc_a, doc_b, jaccard)`; callers append
    * their threshold filter.
    */
  /** Shared DuckDB CTE: the capped co-activity edge list — replays
    * GraphOps.coActivityEdges (cap 10, hour × event_type buckets, per-
    * bucket lowest-10 user ids, unordered distinct pairs u < v).
    */
  private val coActivityEdgesCte: String =
    """bkt AS (
      |  SELECT DISTINCT date_trunc('hour', ts) AS h, event_type AS et,
      |         user_id AS uid
      |  FROM events),
      |capped AS (
      |  SELECT h, et, uid FROM (
      |    SELECT h, et, uid,
      |           row_number() OVER (PARTITION BY h, et ORDER BY uid) AS rn
      |    FROM bkt)
      |  WHERE rn <= 10),
      |e AS (
      |  SELECT DISTINCT a.uid AS u, b.uid AS v
      |  FROM capped a JOIN capped b
      |    ON a.h = b.h AND a.et = b.et AND a.uid < b.uid)""".stripMargin

  /** DuckDB replay of GraphOps.pagerankTop: `iters` unrolled power
    * iterations in the same exact fixed-point integer arithmetic (units of
    * 10⁻⁹; per-node share `pr // deg`, damping (Σ·85) // 100, teleport
    * 150 000 000) — hash-equality is only possible because both sides stay
    * closed over BIGINT.
    */
  private def pagerankIterCtes(iters: Int): String = (1 to iters).map { i =>
    s"""r$i AS (
       |  SELECT s.v AS id,
       |         CAST(150000000 + (sum(r.pr // d.deg) * 85) // 100 AS BIGINT) AS pr
       |  FROM sym s JOIN r${i - 1} r ON s.u = r.id JOIN deg d ON s.u = d.id
       |  GROUP BY s.v)""".stripMargin
  }.mkString(",\n")

  private val pagerankBaseCtes: String =
    s"""sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
       |deg AS (SELECT u AS id, count(*) AS deg FROM sym GROUP BY u),
       |r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS pr FROM deg)""".stripMargin

  private def pagerankSql(iters: Int, k: Int): String =
    s"""WITH $coActivityEdgesCte,
       |$pagerankBaseCtes,
       |${pagerankIterCtes(iters)}
       |SELECT id, pr FROM r$iters ORDER BY pr DESC, id LIMIT $k""".stripMargin

  /** DuckDB replay of GraphOps.communityLeaders: the recursive closure
    * gives each node its component (min reachable id, self included —
    * identical to GraphOps.connectedComponents' label), the unrolled integer
    * iterations its rank; the leader is the per-community rank argmax.
    */
  private def communityLeadersSql(iters: Int): String =
    s"""WITH RECURSIVE $coActivityEdgesCte,
       |$pagerankBaseCtes,
       |${pagerankIterCtes(iters)},
       |walk(id, rr) AS (
       |  SELECT u, v FROM sym
       |  UNION
       |  SELECT w.id, s.v FROM walk w JOIN sym s ON w.rr = s.u),
       |reps AS (
       |  SELECT id, least(id, min(rr)) AS community FROM walk GROUP BY id),
       |m AS (
       |  SELECT reps.id, reps.community, r$iters.pr
       |  FROM reps JOIN r$iters ON reps.id = r$iters.id),
       |ranked AS (
       |  SELECT community, id, pr,
       |         row_number() OVER (PARTITION BY community
       |                            ORDER BY pr DESC, id) AS rn,
       |         count(*) OVER (PARTITION BY community) AS n_members
       |  FROM m)
       |SELECT community, n_members, id AS leader_id, pr AS leader_pr
       |FROM ranked WHERE rn = 1""".stripMargin

  /** DuckDB replay of TextOps.bpeMerges: the word-frequency dict built
    * once, then `n` unrolled merge rounds — each round's argmax pair as a
    * 1-row CTE consumed by scalar subqueries in the next round's literal
    * replace. Leftmost-non-overlapping `replace` scan order matches
    * Spark's, which is what makes the whole derivation hash-gateable.
    */
  private def bpeMergesSql(n: Int): String = {
    val rows = (1 to n).map(r =>
      s"SELECT $r AS rank, pair, replace(pair, ' ', '') AS merged, cnt FROM b$r")
      .mkString("\nUNION ALL ")
    s"""WITH ${bpeDictCtes(n)}
       |$rows""".stripMargin
  }

  /** Shared CTE prefix for the BPE oracles: the word-frequency dict
    * (the word itself kept as the encode join key), then `n` unrolled
    * merge rounds — each round's argmax pair as a 1-row CTE (b$r)
    * consumed by scalar subqueries in the next round's literal replace.
    * Ends with relations b1..b$n and d$n (the final encoded dict).
    * `vocabPred` restricts the TRAINING vocabulary (the OOV oracle's
    * frozen-tokenizer split); the full-corpus dict stays available as
    * w_all.
    */
  private def bpeDictCtes(n: Int, vocabPred: String = "TRUE"): String = {
    // every CTE is MATERIALIZED: DuckDB inlines single-reference CTEs,
    // and each b$r is consumed TWICE by scalar subqueries — at the
    // replay gate's 66 rounds the inlined expansion re-opened the base
    // parquet once per expanded reference and died on the fd limit
    // (measured; 3.5 s materialized). Results are identical either way.
    val iters = (1 to n).map { r =>
      val src = if (r == 1) "w" else s"d${r - 1}"
      s"""p$r AS MATERIALIZED (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq,
         |           unnest(list_transform(generate_series(1, len(syms) - 1),
         |             i -> syms[i] || ' ' || syms[i + 1])) AS pair
         |    FROM (SELECT freq, string_split(seq, ' ') AS syms FROM $src)
         |    WHERE len(syms) >= 2)
         |  GROUP BY pair),
         |b$r AS MATERIALIZED (SELECT pair, cnt FROM p$r ORDER BY cnt DESC, pair LIMIT 1),
         |d$r AS MATERIALIZED (
         |  SELECT w, replace(seq, (SELECT pair FROM b$r),
         |                    replace((SELECT pair FROM b$r), ' ', '')) AS seq, freq
         |  FROM $src)""".stripMargin
    }.mkString(",\n")
    s"""w_all AS MATERIALIZED (
       |  SELECT w, array_to_string(list_transform(generate_series(1, length(w)),
       |           i -> substr(w, i, 1)), ' ') AS seq,
       |         CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS w FROM documents)
       |  WHERE length(w) > 0 GROUP BY w),
       |w AS MATERIALIZED (SELECT * FROM w_all WHERE $vocabPred),
       |$iters""".stripMargin
  }

  /** DuckDB replay of TextOps.bpeEncodeOov: train on the md5-lower half
    * of the vocabulary, then encode the FULL corpus — seen words via the
    * final training dict d$n, OOV words by replaying the same n merges
    * over their char splits (v0..v$n — the identical scalar-subquery
    * replace chain, applied to the held-out vocabulary).
    */
  private def bpeEncodeOovSql(
      n: Int, vocabPred: String = "substr(md5(w), 1, 1) <= '7'"): String = {
    val oovIters = (1 to n).map { r =>
      val src = if (r == 1) "v0" else s"v${r - 1}"
      s"""v$r AS MATERIALIZED (
         |  SELECT w, replace(seq, (SELECT pair FROM b$r),
         |                    replace((SELECT pair FROM b$r), ' ', '')) AS seq
         |  FROM $src)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bpeDictCtes(n, vocabPred)},
       |enc AS (SELECT w, len(string_split(seq, ' ')) AS n_toks FROM d$n),
       |lw AS (
       |  SELECT lang, w, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT lang, unnest(string_split_regex(text, '\\s+')) AS w
       |        FROM documents)
       |  WHERE length(w) > 0 GROUP BY lang, w),
       |v0 AS (
       |  SELECT w, array_to_string(list_transform(generate_series(1, length(w)),
       |           i -> substr(w, i, 1)), ' ') AS seq
       |  FROM (SELECT DISTINCT w FROM lw WHERE w NOT IN (SELECT w FROM enc))),
       |$oovIters,
       |oenc AS (SELECT w, len(string_split(seq, ' ')) AS n_toks FROM v$n),
       |j AS (
       |  SELECT lw.lang, lw.w, lw.freq,
       |         coalesce(enc.n_toks, oenc.n_toks) AS n_toks,
       |         enc.w IS NULL AS oov
       |  FROM lw LEFT JOIN enc ON lw.w = enc.w
       |          LEFT JOIN oenc ON lw.w = oenc.w)
       |SELECT lang,
       |       CAST(sum(freq) AS BIGINT) AS n_words,
       |       CAST(sum(CASE WHEN oov THEN freq ELSE 0 END) AS BIGINT)
       |         AS n_oov_words,
       |       CAST(sum(freq * n_toks) AS BIGINT) AS n_tokens,
       |       CAST(sum(CASE WHEN oov THEN freq * n_toks ELSE 0 END) AS BIGINT)
       |         AS n_oov_tokens
       |FROM j GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** DuckDB replay of TextOps.bpeEncode: the final dict d$n gives each
    * word's encoded token count; per-(lang, word) frequencies join to it
    * and aggregate per language. Compression stays in exact integer
    * fixed-point — no float division to ulp-drift the hash.
    */
  private def bpeEncodeSql(n: Int): String =
    s"""WITH ${bpeDictCtes(n)},
       |enc AS (SELECT w, len(string_split(seq, ' ')) AS n_toks FROM d$n),
       |lw AS (
       |  SELECT lang, w, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT lang, unnest(string_split_regex(text, '\\s+')) AS w
       |        FROM documents)
       |  WHERE length(w) > 0 GROUP BY lang, w)
       |SELECT lang,
       |       CAST(sum(freq) AS BIGINT) AS n_words,
       |       CAST(sum(freq * length(w)) AS BIGINT) AS n_chars,
       |       CAST(sum(freq * n_toks) AS BIGINT) AS n_tokens,
       |       CAST((CAST(sum(freq * length(w)) AS BIGINT) * 10000)
       |            // CAST(sum(freq * n_toks) AS BIGINT) AS BIGINT)
       |         AS chars_per_token_x10000
       |FROM lw JOIN enc USING (w)
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** DuckDB replay of PackingOps.sampleTokenBudgetEncoded: the BPE
    * training/encoding CTEs give per-doc encoded token counts (docs with
    * no words coalesce to 0), then the established md5-ordered exclusive
    * running total + stop-after-crossing rule from sample_token_budget.
    */
  private def sampleTokenBudgetEncodedSql(n: Int, budget: Long): String =
    s"""WITH ${bpeDictCtes(n)},
       |enc AS (SELECT w, len(string_split(seq, ' ')) AS n_toks FROM d$n),
       |dw AS (
       |  SELECT doc_id, w
       |  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
       |        FROM documents)
       |  WHERE length(w) > 0),
       |pd AS (
       |  SELECT doc_id, CAST(sum(n_toks) AS BIGINT) AS n_tok
       |  FROM dw JOIN enc USING (w) GROUP BY doc_id),
       |tk AS (
       |  SELECT d.doc_id, coalesce(pd.n_tok, 0) AS n_tok,
       |         md5(d.doc_id::VARCHAR) AS k
       |  FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id),
       |c AS (
       |  SELECT doc_id, n_tok,
       |         sum(n_tok) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
       |           - n_tok AS cum0
       |  FROM tk)
       |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok
       |FROM c WHERE cum0 < $budget""".stripMargin

  private val minhashPairsCte: String =
    """toks AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
      |                                for i in range(1, len(tk)-1)]) AS sh
      |  FROM toks),
      |d AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
      |sig AS (
      |  SELECT doc_id, sh,
      |         [list_min([md5(j::VARCHAR || ':' || s) for s in sh])
      |          for j in range(0, 16)] AS sig
      |  FROM d),
      |band AS (
      |  SELECT doc_id, sh,
      |         unnest([b::VARCHAR || '_' || md5(sig[b*2+1] || ',' || sig[b*2+2])
      |                 for b in range(0, 8)]) AS band
      |  FROM sig),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         a.sh AS sh_a, b.sh AS sh_b
      |  FROM band a JOIN band b ON a.band = b.band AND a.doc_id < b.doc_id),
      |j AS (
      |  SELECT doc_a, doc_b,
      |         floor((len(list_intersect(sh_a, sh_b))::DOUBLE
      |                / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))))
      |               * 10000 + 0.5) / 10000 AS jaccard
      |  FROM pairs)""".stripMargin

  /** Shared oracle CTE: sign-LSH bucketed embedding near-dup candidate
    * pairs with cosine (mirrors SimilarityOps.embeddingNearDupLsh with 8
    * sign bits). Ends with relation `p(vec_a, vec_b, cos_sim)`; callers
    * append their threshold filter.
    */
  private val embLshPairsCte: String =
    """e AS (
      |  SELECT vec_id, [x::DOUBLE for x in embedding] AS emb FROM embeddings),
      |n AS (
      |  SELECT vec_id, emb, sqrt(list_sum([x*x for x in emb])) AS nrm,
      |         (CASE WHEN emb[1] >= 0 THEN '1' ELSE '0' END)||(CASE WHEN emb[2] >= 0 THEN '1' ELSE '0' END)||
      |         (CASE WHEN emb[3] >= 0 THEN '1' ELSE '0' END)||(CASE WHEN emb[4] >= 0 THEN '1' ELSE '0' END)||
      |         (CASE WHEN emb[5] >= 0 THEN '1' ELSE '0' END)||(CASE WHEN emb[6] >= 0 THEN '1' ELSE '0' END)||
      |         (CASE WHEN emb[7] >= 0 THEN '1' ELSE '0' END)||(CASE WHEN emb[8] >= 0 THEN '1' ELSE '0' END) AS bucket
      |  FROM e),
      |p AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |         floor((CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
      |                ELSE list_sum([a.emb[i]*b.emb[i] for i in range(1, len(a.emb)+1)])
      |                     / (a.nrm*b.nrm) END) * 1000000 + 0.5)/1000000 AS cos_sim
      |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)""".stripMargin

  /** MLlib's default English stop-word list (StopWordsRemover resource
    * `org/apache/spark/ml/feature/stopwords/english.txt`, 181 words) MINUS
    * the 50 contractions containing an apostrophe: the recommender's
    * tokens come from splitting on `[^a-z0-9_]`, so a token can never
    * contain `'` and the contraction entries are provably unmatchable —
    * the subset filter is semantically identical to the full list.
    */
  private val englishStopwordsSql: String = Seq(
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves", "you",
    "your", "yours", "yourself", "yourselves", "he", "him", "his", "himself",
    "she", "her", "hers", "herself", "it", "its", "itself", "they", "them",
    "their", "theirs", "themselves", "what", "which", "who", "whom", "this",
    "that", "these", "those", "am", "is", "are", "was", "were", "be", "been",
    "being", "have", "has", "had", "having", "do", "does", "did", "doing",
    "a", "an", "the", "and", "but", "if", "or", "because", "as", "until",
    "while", "of", "at", "by", "for", "with", "about", "against", "between",
    "into", "through", "during", "before", "after", "above", "below", "to",
    "from", "up", "down", "in", "out", "on", "off", "over", "under", "again",
    "further", "then", "once", "here", "there", "when", "where", "why",
    "how", "all", "any", "both", "each", "few", "more", "most", "other",
    "some", "such", "no", "nor", "not", "only", "own", "same", "so", "than",
    "too", "very", "s", "t", "can", "will", "just", "don", "should", "now",
    "cannot", "could", "ought", "would").map(w => s"'$w'").mkString(", ")

  /** DuckDB oracle SQL. Column names/aliases MUST match the Spark output —
    * the driver sorts columns by name before hashing. Omitted keys (hash
    * sketches, ML, streaming-only) get the driver's rows-only check.
    *
    * TYPE-STABILITY RULE (every output column of every new oracle, enforced
    * by dev_check.py's TYPE-HAZARD gate):
    *  1. The DuckDB type of each OUTPUT column must equal the Spark output
    *     type. DuckDB widens integer `sum()`/windowed sums to HUGEINT —
    *     always `CAST(sum(...) AS BIGINT)`; INT128 canonicalizes
    *     differently from int64 in the driver even when values match
    *     (round-2's three red rows were exactly this).
    *  2. No DECIMAL or FLOAT outputs: double sums/avgs go through the exact
    *     DECIMAL(28,6) accumulation idiom and are CAST back to DOUBLE
    *     (mirrors NumericFunctions.decSum/decAvg).
    *  3. Rounding is floor(x*10^n+0.5)/10^n on BOTH sides — never round()
    *     (Spark rounds the decimal string, DuckDB the binary double).
    *  4. Benign width drift (Spark int32 vs DuckDB BIGINT) is fine; both
    *     stringify identically.
    */
  /** Raw production probes benched IN PLACE of verdict gates whose query
    * path embeds heavy verification (round-9 advice: ann_ivf ran a full
    * brute-force sweep, ml_* gates re-fit models, dedup_minhash_mllib
    * re-derived the exact-dup pair set — so their bench rows measured
    * verification, not the production operator). The gate stays the
    * correctness surface (Verify still runs `queries(name)`); Bench times
    * the probe the gate wraps. Names absent here bench their `queries`
    * entry unchanged. BENCH artifacts list the substituted names under
    * `probe_benched`.
    */
  def benchProbes: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_ivf"             -> q(t => SimilarityOps.ivfTopK(t, 0L, 10)),
    // curve gate embeds 5 probes + exhaustive ground truth; the production
    // cost it meters is one wide probe
    "ann_ivf_recall_curve" -> q(t => SimilarityOps.ivfTopK(t, 0L, 10, 16, 8)),
    "ann_ivf_recall_routed" -> q(t => SimilarityOps.ivfRecallRoutedProbe(t)),
    "ann_ivf_recall_routed_hier" ->
      q(t => SimilarityOps.ivfRecallRoutedProbe(t, 10, 16384, 64)),
    // append gate embeds brute-force verification; the production cost is
    // the assignment projection over the ingest batch
    "ann_ivf_append" -> q(t => SimilarityOps.ivfAssignProbe(t)),
    // hier gate embeds three assignments + verification joins; the
    // production cost is one pruned two-level assignment over the batch
    "ann_ivf_assign_hier" -> q(t => SimilarityOps.ivfAssignHierProbe(t)),
    // the histogram aggregate is the gate's verification device; the
    // production cost is the raw flat assignment projection
    "ann_ivf_assign_expr" -> q(t => SimilarityOps.ivfAssignExprProbe(t)),
    "ann_brp_lsh"         -> q(t => SimilarityOps.brpLshTopK(t, 0L, 10)),
    "dedup_minhash_mllib" -> q(t => DedupOps.minhashDupPairsMllib(t, 0.7)),
    // parity gate re-runs BOTH training paths; the production cost is
    // one corpus pass + the driver-side merge loop
    "text_bpe_path_parity" -> q(t => TextOps.bpeDriverTrainProbe(t)),
    "ml_price_metrics"    -> q(t => PricePipeline.metricsTable(t,
      Seq("LinearRegression", "DecisionTree", "GeneralizedLinear"))),
    "ml_price_metrics_full" -> q(t => PricePipeline.metricsTable(t,
      PricePipeline.regressors.map(_._1))),
    "ml_cv_linear"        -> q(PricePipeline.cvLinearSweep),
    "sample_orders"       -> q(CoreQueries.sampleOrders),
    "split_counts"        -> q(CoreQueries.splitCounts),
    "sample_stratified"   -> q(CoreQueries.stratifiedSampleCounts),
    "row_ids"             -> q(CoreQueries.rowIds),
    // the gate derives rollup(A) + the CDC envelope from the corpus (a
    // verification device); production reads both from storage — the
    // probe times the refresh alone over materialized inputs with a
    // bounded changes batch, the delta-bound cost the operator claims
    "agg_incremental_rollup" -> q(t => SnapshotOps.incrementalRollupProbe(t)),
    "ml_feature_impute"   -> q(FeatureEngineering.imputedOrders),
    "ml_feature_impute_median" -> q(FeatureEngineering.imputedOrdersMedian),
    "ml_feature_vector_index"  -> q(FeatureEngineering.vectorIndexedFeatures),
    "ml_feature_onehot"   -> q(FeatureEngineering.onehotFeatures),
    // both approx-median rows carry verification devices, not production
    // semantics: the 10^6 accuracy pin exists solely so the DuckDB compare
    // is exact (its GK buffer saturates past ~1M rows — the sf10 leg read
    // 29.8x growth on 10x data), and the default-accuracy gate computes
    // two EXACT percentiles for its [P49, P51] band. The production call
    // is the reference's default-accuracy shape (data-understanding
    // .py:202), linear at every measured scale
    "q2_approx_median"    -> q(CoreQueries.q2ApproxMedianDefault),
    "q2_approx_median_default" -> q(CoreQueries.q2ApproxMedianDefault))

  /** rollup(C) stated in the rollupStats shape (mod-2^48 BIGINT digest
    * sums) — ONE statement of the maintained view's truth, shared by the
    * batch multi-hop and streamed maintenance oracles so the two gates
    * can never silently assert different answers.
    */
  private lazy val rollupOfCMaintainedSql: String = {
    val nibbles = (0 until 12)
      .map(i => s"(strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1) * ${math.pow(16, 11 - i).toLong}.0")
      .mkString(" + ")
    s"""WITH b AS (
       |  SELECT doc_id, source,
       |         CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS text
       |  FROM documents WHERE doc_id % 7 <> 0
       |  UNION ALL
       |  SELECT doc_id + 1099511627776 AS doc_id, source, text
       |  FROM documents WHERE doc_id % 13 = 0),
       |c AS (
       |  SELECT doc_id, source,
       |         CASE WHEN doc_id % 9 = 0 THEN text || ' v2' ELSE text END AS text
       |  FROM b WHERE doc_id % 5 <> 0
       |  UNION ALL
       |  SELECT doc_id + 2199023255552 AS doc_id, source, text
       |  FROM b WHERE doc_id % 21 = 0),
       |h AS (SELECT source, text, md5(text) AS hx FROM c)
       |SELECT source, count(*) AS n_docs,
       |       CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS total_chars,
       |       CAST(coalesce(sum(CAST(($nibbles) AS DECIMAL(38,0))), 0)
       |            % 281474976710656 AS BIGINT) AS digest_sum
       |FROM h GROUP BY source""".stripMargin
  }

  def oracleSql: Map[String, String] = oracleSqlBase +
    // the sparse-scored variant shares the dense oracle verbatim: same
    // pipeline, same rounding, bit-identical scores by construction
    ("ml_recommend_tfidf_sparse" -> oracleSqlBase("ml_recommend_tfidf")) +
    // the τ-threshold scale path provably returns EXACTLY the top-k rows
    // (filter keeps ≥ k survivors ⇒ τ ≥ the k-th priority ⇒ superset ⇒
    // the re-rank is the same sort over the same bit-exact priorities),
    // so it shares the top-k oracle verbatim — the hash match IS the
    // equivalence proof at fixture scale
    ("sample_weighted_tau" -> oracleSqlBase("sample_weighted")) +
    // the approximate-boundary layout write is gated on LOSSLESSNESS:
    // whatever boundaries the sketch picked, the probe over the read-back
    // table must equal the same probe over the source table
    ("layout_zorder_approx_roundtrip" -> oracleSqlBase("layout_zorder_roundtrip"))

  private lazy val oracleSqlBase: Map[String, String] = Map(
    // NOTE on the CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE) idiom used
    // below: it mirrors graft.functions.NumericFunctions.decSum/decAvg —
    // exact decimal accumulation is order-independent, so Spark and DuckDB
    // produce bit-identical doubles regardless of parallelism (round-1
    // driver hash-fail fix).
    "q1_group_count_avg" ->
      """SELECT l_returnflag,
        |       count(l_returnflag) AS num_items,
        |       floor((CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
        |              / count(l_extendedprice)) * 100 + 0.5) / 100 AS avg_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q2_median_by_priority" ->
      """SELECT upper(o_orderpriority) AS priority,
        |       count(*) AS num_orders,
        |       floor((quantile_cont(o_totalprice, 0.5)) * 100 + 0.5) / 100 AS median_price
        |FROM orders GROUP BY upper(o_orderpriority)""".stripMargin,
    "q2_approx_median" ->
      """SELECT o_orderpriority,
        |       floor((quantile_disc(o_totalprice, 0.5)) * 100 + 0.5) / 100 AS approx_median_price
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    // hash-gated verdict gates (round 9): the engine-specific quantity
    // (GK median / seeded sample / seeded split) lands as a boolean the
    // oracle states constant; GateInvariants recomputes each verdict
    // independently from raw values, so the constants are not
    // self-certified
    "q2_approx_median_default" ->
      """SELECT o_orderpriority, count(*) AS num_orders, TRUE AS in_band
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "sample_orders" ->
      """SELECT count(*) AS n_source, TRUE AS sampled_in_band,
        |       TRUE AS sampled_distinct_subset
        |FROM orders""".stripMargin,
    "split_counts" ->
      """SELECT count(*) AS n_source, TRUE AS partitions_source,
        |       TRUE AS train_in_band
        |FROM orders""".stripMargin,
    "q3_status_share" ->
      """WITH c AS (
        |  SELECT o_orderpriority, count(*) AS f_count
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority)
        |SELECT o_orderpriority, f_count,
        |       floor((f_count * 100.0 / sum(f_count) OVER ()) * 100 + 0.5) / 100 AS percentage
        |FROM c""".stripMargin,
    "agg_multikey_avg" ->
      """SELECT l_returnflag, l_linestatus,
        |       floor((CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
        |              / count(l_extendedprice)) * 100 + 0.5) / 100 AS avg_price,
        |       floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "agg_by_year" ->
      """SELECT year(o_orderdate) AS order_year,
        |       floor((CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
        |              / count(o_totalprice)) * 100 + 0.5) / 100 AS avg_price,
        |       count(*) AS num_orders
        |FROM orders GROUP BY year(o_orderdate)""".stripMargin,
    "agg_skewness" ->
      """WITH m AS (
        |  SELECT avg(l_extendedprice) AS m1,
        |         avg(l_extendedprice * l_extendedprice) AS m2,
        |         avg(l_extendedprice * l_extendedprice * l_extendedprice) AS m3,
        |         avg(l_quantity) AS q1,
        |         avg(l_quantity * l_quantity) AS q2,
        |         avg(l_quantity * l_quantity * l_quantity) AS q3
        |  FROM lineitem)
        |SELECT floor(((m3 - 3*m1*(m2 - m1*m1) - m1*m1*m1) / pow(m2 - m1*m1, 1.5)) * 10000 + 0.5) / 10000 AS skew_price,
        |       floor(((q3 - 3*q1*(q2 - q1*q1) - q1*q1*q1) / pow(q2 - q1*q1, 1.5)) * 10000 + 0.5) / 10000 AS skew_qty
        |FROM m""".stripMargin,
    "agg_describe_stats" ->
      """SELECT count(l_extendedprice) AS cnt,
        |       floor((CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
        |              / count(l_extendedprice)) * 100 + 0.5) / 100 AS mean_price,
        |       floor((stddev(l_extendedprice)) * 100 + 0.5) / 100 AS std_price,
        |       floor((min(l_extendedprice)) * 100 + 0.5) / 100 AS min_price,
        |       floor((max(l_extendedprice)) * 100 + 0.5) / 100 AS max_price
        |FROM lineitem""".stripMargin,
    "agg_selectexpr_sum" ->
      "SELECT floor((sum(l_quantity)) * 100 + 0.5) / 100 AS total_qty FROM lineitem",
    "agg_global_sum" ->
      """SELECT floor((CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS total_revenue,
        |       count(*) AS num_orders FROM orders""".stripMargin,
    "filter_range" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_quantity >= 10 AND l_quantity <= 40
        |  AND l_extendedprice > 1000 AND l_extendedprice <= 50000""".stripMargin,
    "filter_isin" ->
      """SELECT l_returnflag, count(*) AS n
        |FROM lineitem
        |WHERE l_returnflag IN ('A', 'R') AND l_linestatus <> 'O'
        |GROUP BY l_returnflag""".stripMargin,
    "filter_not_like" ->
      """SELECT p_partkey, upper(p_name) AS name_upper, p_type
        |FROM part
        |WHERE NOT (lower(p_name) LIKE '%widget%' OR lower(p_name) LIKE '%gear%')""".stripMargin,
    "filter_not_null" ->
      """SELECT count(*) AS non_null_orders
        |FROM orders
        |WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL""".stripMargin,
    // floor() before the integer casts: Spark truncates double→int while
    // DuckDB rounds; quantities are integral-valued so floor == truncate.
    "cast_columns" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(floor(l_quantity) AS INTEGER) AS qty_int,
        |       CAST(floor(l_quantity) AS BIGINT) AS qty_long,
        |       CAST(CAST(l_extendedprice AS DECIMAL(20,2)) AS DOUBLE) AS price_2dp,
        |       CAST(CAST(l_tax AS DECIMAL(4,2)) AS VARCHAR) AS tax_str
        |FROM lineitem""".stripMargin,
    "case_when_tier" ->
      """SELECT CASE WHEN o_totalprice >= 300000 THEN 'high'
        |            WHEN o_totalprice >= 150000 THEN 'mid'
        |            WHEN o_totalprice >= 50000 THEN 'low'
        |            ELSE 'minimal' END AS tier,
        |       count(*) AS n,
        |       floor((CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
        |              / count(o_totalprice)) * 100 + 0.5) / 100 AS avg_price
        |FROM orders GROUP BY 1""".stripMargin,
    "regexp_extract_num" ->
      """SELECT c_custkey, regexp_extract(c_name, '([0-9]+)', 1) AS cust_num
        |FROM customer
        |WHERE regexp_extract(c_name, '([0-9]+)', 1) <> ''""".stripMargin,
    "date_parts" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        |       year(o_orderdate) AS y, month(o_orderdate) AS m
        |FROM orders""".stripMargin,
    // interval month-add clamps to end-of-month in both engines; Spark
    // dayofweek is 1=Sunday, DuckDB dayofweek is 0=Sunday — shift by one
    "date_arithmetic" ->
      """SELECT o_orderkey,
        |       CAST(o_orderdate AS DATE) + 30 AS due_date,
        |       CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS quarter_later,
        |       last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |       dayofweek(o_orderdate) + 1 AS dow,
        |       quarter(o_orderdate) AS qtr
        |FROM orders""".stripMargin,
    "null_fill_replace" ->
      """SELECT c_custkey,
        |       CASE WHEN c_acctbal < 0 THEN 0.0 ELSE c_acctbal END AS bal_filled,
        |       CASE c_mktsegment WHEN 'BUILDING' THEN 'B2B'
        |                         WHEN 'MACHINERY' THEN 'IND'
        |                         ELSE c_mktsegment END AS segment
        |FROM customer""".stripMargin,
    "math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |       floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS net_price,
        |       floor((sqrt(l_extendedprice)) * 10000 + 0.5) / 10000 AS sqrt_price,
        |       floor((ln(l_extendedprice)) * 10000 + 0.5) / 10000 AS log_price
        |FROM lineitem""".stripMargin,
    // verdict-gate: the id values are partition-dependent by contract, so
    // the gate carries the exact source count plus booleans over the
    // actual ids; GateInvariants re-derives each boolean from a raw re-run
    "row_ids" ->
      """SELECT count(*) AS n_source,
        |       TRUE AS one_id_per_row,
        |       TRUE AS ids_unique,
        |       TRUE AS ids_nonnegative
        |FROM orders""".stripMargin,
    "row_ids_stable" ->
      """SELECT o_orderkey,
        |       row_number() OVER (ORDER BY o_orderkey) AS row_id
        |FROM orders""".stripMargin,
    "partitioned_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       floor((CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS revenue
        |FROM orders WHERE year(o_orderdate) = 1997
        |GROUP BY o_orderstatus""".stripMargin,
    // partition-SPEC evolution: the oracle states both rollups from the
    // source table — the hash proves the two-spec layout (year= then
    // year=/month=) lost/invented nothing across the boundary
    "partition_spec_rollup" ->
      """SELECT year(o_orderdate) AS order_year, count(*) AS n_orders,
        |       floor((CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS total_price,
        |       count(DISTINCT month(o_orderdate)) AS n_months
        |FROM orders GROUP BY 1""".stripMargin,
    "partition_spec_pruned" ->
      """SELECT year(o_orderdate) AS order_year,
        |       month(o_orderdate) AS order_month, count(*) AS n
        |FROM orders
        |WHERE year(o_orderdate) BETWEEN 1997 AND 1998
        |  AND month(o_orderdate) IN (1, 2, 3)
        |GROUP BY 1, 2""".stripMargin,
    // DPP: the kept-years join is semantically a year filter — the
    // oracle states it directly; the runtime pruning is the spec's plan
    // assertion
    "join_dpp_pruned" ->
      """SELECT year(o_orderdate) AS order_year, o_orderstatus,
        |       count(*) AS n,
        |       floor((CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS revenue
        |FROM orders WHERE year(o_orderdate) IN (1996, 1997)
        |GROUP BY 1, 2""".stripMargin,
    "topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "project_derive" ->
      """SELECT 2026 - year(o_orderdate) AS order_age_years,
        |       o_orderkey, o_totalprice FROM orders""".stripMargin,
    "dedup_exact_keys" ->
      """SELECT DISTINCT l_orderkey, l_partkey, l_suppkey FROM lineitem
        |WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |  AND l_suppkey IS NOT NULL""".stripMargin,
    "join_customers_per_region" ->
      """SELECT r_name, count(*) AS num_customers,
        |       floor((CAST(sum(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
        |              / count(c_acctbal)) * 100 + 0.5) / 100 AS avg_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "join_revenue_by_priority" ->
      """SELECT o_orderpriority,
        |       floor((CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS revenue,
        |       count(*) AS num_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    // the bucketed twin computes the identical rollup — exchange-free
    // engine-side, same relational statement oracle-side
    "join_revenue_bucketed" ->
      """SELECT o_orderpriority,
        |       floor((CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS revenue,
        |       count(*) AS num_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "join_revenue_by_brand" ->
      """SELECT p_brand, floor((CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,
    // the salt sub-key must be invisible: plain equi-join + rollup
    "join_salted_events" ->
      """WITH dim(event_type, category) AS (VALUES
        |  ('click', 'engagement'), ('view', 'engagement'),
        |  ('purchase', 'commerce'), ('signup', 'commerce'),
        |  ('error', 'system'))
        |SELECT category, count(*) AS n,
        |       floor((CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS total_value
        |FROM events JOIN dim USING (event_type)
        |GROUP BY category""".stripMargin,
    "join_supplier_volume" ->
      """SELECT r_name, n_name,
        |       floor((CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS revenue,
        |       CAST(count(DISTINCT s_suppkey) AS BIGINT) AS n_suppliers
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "join_semi_with_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "join_anti_without_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "join_left_order_counts" ->
      """SELECT c_custkey, count(o_orderkey) AS num_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin,
    "set_union_slices" ->
      """SELECT o_orderstatus, count(*) AS n FROM (
        |  SELECT * FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_orderstatus = 'P')
        |GROUP BY o_orderstatus""".stripMargin,
    "set_except_slices" ->
      """SELECT o_orderkey FROM orders WHERE o_totalprice > 200000
        |EXCEPT
        |SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    "set_intersect_slices" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) <= 1998
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) >= 1999""".stripMargin,
    "set_except_all" ->
      """SELECT o_custkey, count(*) AS n_copies FROM (
        |  SELECT o_custkey FROM orders WHERE year(o_orderdate) <= 1998
        |  EXCEPT ALL
        |  SELECT o_custkey FROM orders WHERE year(o_orderdate) >= 1999)
        |GROUP BY o_custkey""".stripMargin,
    "set_intersect_all" ->
      """SELECT o_custkey, count(*) AS n_copies FROM (
        |  SELECT o_custkey FROM orders WHERE year(o_orderdate) <= 1998
        |  INTERSECT ALL
        |  SELECT o_custkey FROM orders WHERE year(o_orderdate) >= 1999)
        |GROUP BY o_custkey""".stripMargin,
    "scalar_above_avg" ->
      """SELECT o_orderstatus, count(*) AS n_above_avg
        |FROM orders
        |WHERE o_totalprice > (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
        |                             / count(o_totalprice) FROM orders)
        |GROUP BY o_orderstatus""".stripMargin,
    "window_top_per_segment" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |         row_number() OVER (PARTITION BY c_mktsegment
        |                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        |  FROM customer)
        |WHERE rn <= 3""".stripMargin,
    "window_running_revenue" ->
      """SELECT o_custkey, o_orderkey,
        |       floor((CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)) * 100 + 0.5) / 100 AS running_total
        |FROM orders""".stripMargin,
    "window_price_delta" ->
      """SELECT o_custkey, o_orderkey,
        |       floor((o_totalprice - prev_price) * 100 + 0.5) / 100 AS price_delta
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         lag(o_totalprice, 1) OVER (
        |           PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_price
        |  FROM orders)
        |WHERE prev_price IS NOT NULL""".stripMargin,
    "window_part_ranks" ->
      """SELECT p_type, p_partkey, p_size, rnk, drnk FROM (
        |  SELECT p_type, p_partkey, p_size,
        |         rank() OVER w AS rnk, dense_rank() OVER w AS drnk
        |  FROM part
        |  WINDOW w AS (PARTITION BY p_type ORDER BY p_size DESC, p_partkey ASC))
        |WHERE rnk <= 5""".stripMargin,
    "window_price_quartiles" ->
      """SELECT quartile, count(*) AS n,
        |       floor((CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
        |              / count(o_totalprice)) * 100 + 0.5) / 100 AS avg_price
        |FROM (
        |  SELECT o_totalprice,
        |         ntile(4) OVER (PARTITION BY year(o_orderdate)
        |                        ORDER BY o_totalprice ASC, o_orderkey ASC) AS quartile
        |  FROM orders)
        |GROUP BY quartile""".stripMargin,
    // percent_rank = (rank−1)/(n−1), cume_dist = peers≤x / n — both single
    // integer divisions, bit-identical across engines before the rounding
    "window_dist_ranks" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        |       floor(percent_rank() OVER (PARTITION BY c_mktsegment
        |                                  ORDER BY c_acctbal) * 1000000 + 0.5)
        |         / 1000000 AS pct_rank,
        |       floor(cume_dist() OVER (PARTITION BY c_mktsegment
        |                               ORDER BY c_acctbal) * 1000000 + 0.5)
        |         / 1000000 AS cum_dist
        |FROM customer""".stripMargin,
    // value-based RANGE frame over an integer day ordinal — same-day peers
    // all join the frame, so no tiebreak column is needed for determinism
    "window_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        |       datediff('day', DATE '1992-01-01', o_orderdate) AS day_ord,
        |       floor((CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
        |         PARTITION BY o_custkey
        |         ORDER BY datediff('day', DATE '1992-01-01', o_orderdate)
        |         RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE)) * 100 + 0.5)
        |         / 100 AS spend_30d
        |FROM orders""".stripMargin,
    // full-partition frame: the default frame ends at CURRENT ROW, which
    // would make last_value the current row's value — both engines need
    // the explicit UNBOUNDED FOLLOWING
    "window_first_last" ->
      """SELECT o_custkey, first_price, last_price, second_key FROM (
        |  SELECT o_custkey,
        |         first_value(o_totalprice) OVER w AS first_price,
        |         last_value(o_totalprice)  OVER w AS last_price,
        |         nth_value(o_orderkey, 2)  OVER w AS second_key,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |WHERE rn = 1""".stripMargin,
    "events_json_stats" ->
      """WITH e AS (
        |  SELECT event_type, CAST(json_extract(props, '$.k') AS INTEGER) AS k
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |       floor((CAST(sum(k) AS DOUBLE) / count(k)) * 10000 + 0.5) / 10000 AS avg_k,
        |       max(k) AS max_k
        |FROM e GROUP BY event_type""".stripMargin,
    "events_json_get" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS k
        |FROM events WHERE CAST(json_extract(props, '$.k') AS INTEGER) > 50""".stripMargin,
    "events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |       count(*) AS n,
        |       floor((CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "events_hourly_streaming" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |       count(*) AS n,
        |       floor((CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // stream-static twin: stateless micro-batch probe of the static
    // window dimension == the batch interval join minus the distinct-user
    // column (streaming forbids count(DISTINCT))
    "events_interval_join_streaming" ->
      """WITH busy AS (
        |  SELECT date_trunc('hour', ts) AS h, count(*) AS n
        |  FROM events GROUP BY 1 ORDER BY n DESC, h ASC LIMIT 20),
        |w AS (
        |  SELECT h + INTERVAL 10 MINUTE AS w_start,
        |         h + INTERVAL 100 MINUTE AS w_end
        |  FROM busy)
        |SELECT w_start, w_end, count(*) AS n_events
        |FROM w JOIN events e ON e.ts >= w_start AND e.ts < w_end
        |GROUP BY w_start, w_end""".stripMargin,
    // interval join: the oracle states the naive range join directly —
    // the engine's bucket-explode equi-join must produce the same matches
    "events_interval_join" ->
      """WITH busy AS (
        |  SELECT date_trunc('hour', ts) AS h, count(*) AS n
        |  FROM events GROUP BY 1 ORDER BY n DESC, h ASC LIMIT 20),
        |w AS (
        |  SELECT h + INTERVAL 10 MINUTE AS w_start,
        |         h + INTERVAL 100 MINUTE AS w_end
        |  FROM busy)
        |SELECT w_start, w_end, count(*) AS n_events,
        |       count(DISTINCT e.user_id) AS n_users
        |FROM w JOIN events e ON e.ts >= w_start AND e.ts < w_end
        |GROUP BY w_start, w_end""".stripMargin,
    // append-mode twin: only windows CLOSED by the final watermark (window
    // end <= max event time − 2 h, µs precision — the same <= boundary the
    // session twin pins) are ever emitted; open tails stay in state
    "events_hourly_streaming_append" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |       count(*) AS n,
        |       floor((CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS total_value
        |FROM events GROUP BY 1, 2
        |HAVING epoch_ns(date_trunc('hour', ts)) // 1000 + 3600000000
        |       <= (SELECT max(epoch_ns(ts) // 1000) FROM events) - 7200000000""".stripMargin,
    // whole-payload map parse: every key of every props object, no
    // key-specific schema. Casting the JSON object to MAP(VARCHAR,BIGINT)
    // is exactly the engine's from_json map<string,long> — keys containing
    // '.', quotes, or brackets resolve verbatim, where a concatenated
    // '$.' || key path would silently misresolve them.
    "events_props_map" ->
      """WITH kv AS (
        |  SELECT unnest(map_entries(CAST(props::JSON AS MAP(VARCHAR, BIGINT)))) AS e
        |  FROM events WHERE props IS NOT NULL)
        |SELECT e.key AS key, count(*) AS n, min(e.value) AS min_v, max(e.value) AS max_v,
        |       CAST(sum(e.value) AS BIGINT) AS sum_v
        |FROM kv GROUP BY e.key""".stripMargin,
    // map lambdas: list_filter/list_transform over map_entries are the
    // exact twins of map_filter/transform_values; COALESCE mirrors
    // Spark's 0-seeded fold on an empty map
    "events_map_transform" ->
      """WITH e AS (
        |  SELECT event_type, CAST(props::JSON AS MAP(VARCHAR, BIGINT)) AS m
        |  FROM events WHERE props IS NOT NULL)
        |SELECT event_type, count(*) AS n,
        |       CAST(sum(len(list_filter(map_entries(m), x -> x.value > 50))) AS BIGINT)
        |         AS n_high_entries,
        |       CAST(sum(COALESCE(list_sum(list_transform(map_entries(m), x -> x.value * 2)), 0))
        |         AS BIGINT) AS total_doubled
        |FROM e GROUP BY event_type""".stripMargin,
    // sliding 2h/1h windows: each event expands into the two epoch-aligned
    // hourly starts covering it — mirrors Spark's Expand, no self-join;
    // the streaming twin (Complete mode over the finite replay) emits
    // every window, so it shares this oracle verbatim
    "events_sliding_streaming" ->
      """WITH e AS (
        |  SELECT unnest([date_trunc('hour', ts),
        |                 date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start,
        |         event_type, value
        |  FROM events)
        |SELECT win_start, event_type, count(*) AS n,
        |       floor((CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS total_value
        |FROM e GROUP BY 1, 2""".stripMargin,
    "events_sliding" ->
      """WITH e AS (
        |  SELECT unnest([date_trunc('hour', ts),
        |                 date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start,
        |         event_type, value
        |  FROM events)
        |SELECT win_start, event_type, count(*) AS n,
        |       floor((CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS total_value
        |FROM e GROUP BY 1, 2""".stripMargin,
    // append-mode sliding twin: a 2 h-wide window is closed once
    // win_start + 2 h <= max event time − 2 h (µs, <= boundary)
    "events_sliding_streaming_append" ->
      """WITH e AS (
        |  SELECT unnest([date_trunc('hour', ts),
        |                 date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start,
        |         event_type, value
        |  FROM events)
        |SELECT win_start, event_type, count(*) AS n,
        |       floor((CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS total_value
        |FROM e GROUP BY 1, 2
        |HAVING epoch_ns(win_start) // 1000 + 7200000000
        |       <= (SELECT max(epoch_ns(ts) // 1000) FROM events) - 7200000000""".stripMargin,
    // streaming twin: the same sessions, emitted only once the final
    // watermark (max event time − 2 h) passes their end — open tails stay
    // in state; µs precision end-to-end
    "events_sessions_native_streaming" ->
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR epoch_ns(ts) // 1000 - epoch_ns(lag(ts) OVER w) // 1000
        |                 >= 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT user_id,
        |       make_timestamp(min(epoch_ns(ts) // 1000)) AS session_start,
        |       make_timestamp(max(epoch_ns(ts) // 1000) + 1800000000) AS session_end,
        |       count(*) AS n_events,
        |       floor((CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS total_value
        |FROM s GROUP BY user_id, sid
        |HAVING max(epoch_ns(ts) // 1000) + 1800000000
        |       <= (SELECT max(epoch_ns(ts) // 1000) FROM events) - 7200000000""".stripMargin,
    // native session_window: islands with the HALF-OPEN break (gap >= 30
    // min starts a new session, matching [first, last+gap)); start/end
    // truncated to the engine's µs timestamps
    "events_session_native" ->
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR epoch_ns(ts) // 1000 - epoch_ns(lag(ts) OVER w) // 1000
        |                 >= 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT user_id,
        |       make_timestamp(min(epoch_ns(ts) // 1000)) AS session_start,
        |       make_timestamp(max(epoch_ns(ts) // 1000) + 1800000000) AS session_end,
        |       count(*) AS n_events,
        |       floor((CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS total_value
        |FROM s GROUP BY user_id, sid""".stripMargin,
    // anomalies: same hourly pre-agg + trailing RANGE window over the
    // epoch-hour index (true calendar window, gap-safe); the verdict is
    // integer cross-multiplication on both sides
    "events_hourly_anomaly" ->
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS hour_start,
        |         epoch(date_trunc('hour', ts)) // 3600 AS epoch_hour,
        |         event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |tw AS (
        |  SELECT event_type, hour_start, n,
        |         sum(n) OVER w AS trailing_sum,
        |         count(n) OVER w AS trailing_n
        |  FROM h
        |  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_hour
        |               RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, hour_start, n,
        |       CAST(trailing_sum AS BIGINT) AS trailing_sum,
        |       CAST(trailing_n AS BIGINT) AS trailing_n,
        |       n * trailing_n > trailing_sum * 2 AS anomalous
        |FROM tw WHERE trailing_n >= 12
        |ORDER BY event_type, hour_start""".stripMargin,
    // funnel: the oracle derives each step via correlated min-joins (a
    // third formulation vs the engine's single-exchange array expressions)
    // — strictly-after semantics at every hop
    "events_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
        |SELECT stage, n_users FROM (
        |  SELECT 'step1_view' AS stage, count(*) AS n_users FROM v
        |  UNION ALL SELECT 'step2_click', count(*) FROM c
        |  UNION ALL SELECT 'step3_purchase', count(*) FROM p)
        |ORDER BY stage""".stripMargin,
    // equi-width histogram: bucket arithmetic is pure IEEE ops on exact
    // inputs, bit-identical across engines; last bucket right-closed
    "profile_histogram" ->
      """WITH s AS (
        |  SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders)
        |SELECT CAST(least(floor((o_totalprice - mn) / ((mx - mn) / 10)), 9) AS INT) AS bucket,
        |       count(*) AS n_rows,
        |       min(o_totalprice) AS bucket_min,
        |       max(o_totalprice) AS bucket_max
        |FROM orders, s
        |WHERE o_totalprice IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // join-skew: exact per-key frequencies and contributions restated;
    // same (contribution desc, key asc) deterministic top-k both sides
    "profile_join_skew" ->
      """SELECT user_id, count(*) AS n_events,
        |       count(*) * count(*) AS contribution
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY user_id
        |ORDER BY contribution DESC, user_id LIMIT 10""".stripMargin,
    // drift: the oracle re-derives snapshot B and restates every count,
    // delta and 5% verdict (exact integer arithmetic end to end)
    "drift_source_distribution" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |         CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1099511627776 AS doc_id, source, text
        |  FROM documents WHERE doc_id % 13 = 0),
        |ca AS (SELECT source, count(*) AS n_a FROM documents GROUP BY source),
        |cb AS (SELECT source, count(*) AS n_b FROM b GROUP BY source)
        |SELECT coalesce(ca.source, cb.source) AS source,
        |       coalesce(n_a, 0) AS n_a,
        |       coalesce(n_b, 0) AS n_b,
        |       coalesce(n_b, 0) - coalesce(n_a, 0) AS delta,
        |       abs(coalesce(n_b, 0) - coalesce(n_a, 0)) * 20 > coalesce(n_a, 0)
        |         AS drifted
        |FROM ca FULL OUTER JOIN cb ON ca.source = cb.source
        |ORDER BY 1""".stripMargin,
    // inverted index: the oracle answers the same keyword queries by
    // SCANNING (tokenize + membership per doc) — a hash match proves the
    // stored index is complete and exact
    "index_inverted_lookup" ->
      """SELECT token, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM (
        |  SELECT doc_id, n_chars,
        |         unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents WHERE text IS NOT NULL)
        |WHERE token IN ('spark', 'stream', 'join')
        |GROUP BY token ORDER BY token""".stripMargin,
    // pruned index lookup: the oracle tokenize-scans for the one probe;
    // skipped_some stated TRUE and GateInvariants-recomputed
    "index_pruned_lookup" ->
      """SELECT token, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc,
        |       TRUE AS skipped_some
        |FROM (
        |  SELECT doc_id, n_chars,
        |         unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents WHERE text IS NOT NULL)
        |WHERE token = 'spark'
        |GROUP BY token ORDER BY token""".stripMargin,
    // maintained index: the oracle derives snapshot B and answers the
    // same keyword queries by tokenizing scan — n_chars from length(text)
    // on both sides
    "index_incremental_lookup" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |         CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1099511627776 AS doc_id, source, text
        |  FROM documents WHERE doc_id % 13 = 0)
        |SELECT token, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM (
        |  SELECT doc_id, length(text) AS n_chars,
        |         unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM b WHERE text IS NOT NULL)
        |WHERE token IN ('spark', 'stream', 'join')
        |GROUP BY token ORDER BY token""".stripMargin,
    // join-size estimate: exact terms restated (frequency dot product ==
    // join count); the sketch verdicts are oracle-stated TRUE and
    // independently recomputed at verify time
    "profile_join_size_cms" ->
      """SELECT (SELECT count(*) FROM lineitem WHERE l_partkey IS NOT NULL) AS n_left,
        |       (SELECT count(*) FROM part WHERE p_partkey IS NOT NULL) AS n_right,
        |       (SELECT count(*) FROM lineitem JOIN part ON l_partkey = p_partkey)
        |         AS exact_size,
        |       TRUE AS never_under,
        |       TRUE AS within_bound""".stripMargin,
    // ANALYZE-style column stats: one wide aggregate restated per column,
    // typed min/max pairs (the zone-map convention)
    // incremental ANALYZE: the oracle recomputes the stats DIRECTLY over
    // base ∪ inserts (the %13 re-adds), proving the engine's maintained
    // add/least/greatest combination exact
    "analyze_incremental_stats" ->
      """WITH ins AS (
        |  SELECT source, CAST(length(text) AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id % 13 = 0),
        |u AS (
        |  SELECT source, n_chars FROM documents
        |  UNION ALL SELECT source, n_chars FROM ins)
        |SELECT count(*) AS n_rows,
        |       CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls_chars,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |       CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls_source,
        |       min(source) AS min_source, max(source) AS max_source
        |FROM u""".stripMargin,
    "analyze_column_stats" ->
      """WITH w AS (
        |  SELECT count(*) AS n_rows,
        |         count(DISTINCT o_orderkey) AS ndv1,
        |         CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn1,
        |         CAST(min(o_orderkey) AS BIGINT) AS mn1,
        |         CAST(max(o_orderkey) AS BIGINT) AS mx1,
        |         count(DISTINCT o_custkey) AS ndv2,
        |         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn2,
        |         CAST(min(o_custkey) AS BIGINT) AS mn2,
        |         CAST(max(o_custkey) AS BIGINT) AS mx2,
        |         count(DISTINCT o_orderstatus) AS ndv3,
        |         CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn3,
        |         count(DISTINCT o_orderpriority) AS ndv4,
        |         CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn4,
        |         count(DISTINCT o_totalprice) AS ndv5,
        |         CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn5,
        |         min(o_totalprice) AS mnd5, max(o_totalprice) AS mxd5
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT 'o_orderkey' AS "column", n_rows, ndv1 AS n_distinct, nn1 AS n_nulls,
        |         mn1 AS min_long, mx1 AS max_long,
        |         CAST(NULL AS DOUBLE) AS min_double, CAST(NULL AS DOUBLE) AS max_double FROM w
        |  UNION ALL SELECT 'o_custkey', n_rows, ndv2, nn2, mn2, mx2,
        |         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM w
        |  UNION ALL SELECT 'o_orderstatus', n_rows, ndv3, nn3,
        |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM w
        |  UNION ALL SELECT 'o_orderpriority', n_rows, ndv4, nn4,
        |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM w
        |  UNION ALL SELECT 'o_totalprice', n_rows, ndv5, nn5,
        |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), mnd5, mxd5 FROM w)
        |ORDER BY 1""".stripMargin,
    // events_file_sink's engine side lands the stream in exactly-once
    // parquet files and reads them back through _spark_metadata; the
    // oracle aggregates the source directly — a hash match proves no row
    // was dropped or doubled by the sink.
    "events_file_sink" ->
      """SELECT event_type, count(*) AS n,
        |       floor((CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS total_value
        |FROM events GROUP BY event_type""".stripMargin,
    // events_foreach_upsert maintains a latest-event-per-user table by
    // merging each micro-batch (foreachBatch); the oracle is the batch
    // argmax over the source. Ordering truncates ns → µs like the engine's
    // stream timestamps, so ties resolve identically (event_id is unique).
    "events_foreach_upsert" ->
      """WITH ranked AS (
        |  SELECT user_id, epoch_ns(ts) // 1000000 AS last_ms, event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_ns(ts) // 1000 DESC,
        |                                     event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, last_ms, event_type AS last_type, value AS last_value
        |FROM ranked WHERE rn = 1""".stripMargin,
    "events_sessions" ->
      """WITH g AS (
        |  SELECT user_id, event_id, value, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR CAST(floor(epoch(ts)) AS BIGINT)
        |                 - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |s AS (
        |  SELECT user_id, value,
        |         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |              AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, count(*) AS events_in_session,
        |       floor((CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS session_value
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    // Streaming twin emits exactly the CLOSED sessions: closed by a break
    // (a later event of the same user >30 min after) or by event-time
    // timeout (the final watermark, max ts - 2h, passed the session's
    // end + 30 min). Each user's still-open tail session — within 2h30m of
    // the last event in the replay — cannot be emitted in Append mode (the
    // watermark never advances past max ts); see EventStream.sessionize.
    // The timeout boundary is stated in MILLISECONDS to match Spark exactly:
    // the engine compares a floor-second-derived timeout (lastSec*1000 +
    // 1800_000 — ts.getTime/1000 floors) against the ms watermark
    // (floor-ms(max ts) - 7200_000); fixture timestamps all carry
    // sub-second parts, so a floor-second max would misclassify a session
    // sitting exactly on the 2h30m boundary.
    "events_sessions_streaming" ->
      """WITH g AS (
        |  SELECT user_id, event_id, value, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR CAST(floor(epoch(ts)) AS BIGINT)
        |                 - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |s AS (
        |  SELECT user_id, value, ts,
        |         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |              AS BIGINT) AS session_id
        |  FROM g),
        |a AS (
        |  SELECT user_id, session_id, count(*) AS events_in_session,
        |         floor((CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS session_value,
        |         CAST(floor(epoch(max(ts))) AS BIGINT) AS end_sec,
        |         max(max(epoch_ms(ts))) OVER () AS max_ms,
        |         max(session_id) OVER (PARTITION BY user_id) AS max_sid
        |  FROM s GROUP BY user_id, session_id)
        |SELECT user_id, session_id, events_in_session, session_value FROM a
        |WHERE session_id < max_sid OR (end_sec + 1800) * 1000 < max_ms - 7200000""".stripMargin,
    "events_click_to_purchase" ->
      """SELECT c.user_id AS user_id, count(*) AS click_buy_pairs
        |FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
        |JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') b
        |  ON c.user_id = b.user_id AND b.ts > c.ts
        |GROUP BY c.user_id""".stripMargin,
    "events_dedup_streaming" ->
      """SELECT event_type, count(DISTINCT event_id) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    // Inner stream-stream join with both-side watermarks emits every
    // in-interval match exactly once over a finite replay — the oracle is
    // simply the batch interval join.
    "events_stream_join" ->
      """SELECT c.user_id AS user_id, count(*) AS click_buy_pairs
        |FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
        |JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') b
        |  ON c.user_id = b.user_id AND b.ts > c.ts
        |     AND b.ts <= c.ts + INTERVAL 1 HOUR
        |GROUP BY c.user_id""".stripMargin,
    // The outer form: matched pairs emit as they arrive; an unmatched
    // click emits null-padded once the watermark passes click + 1 h
    // (STRICT <, empirically pinned). The watermark is the MIN across the
    // two input nodes of (that side's max event time − 2 h) — each
    // withWatermark tracks its own max, not the global events max.
    "events_stream_left_join" ->
      """WITH wm AS (
        |  SELECT least(
        |    (SELECT max(epoch_ns(ts) // 1000) FROM events WHERE event_type = 'click'),
        |    (SELECT max(epoch_ns(ts) // 1000) FROM events WHERE event_type = 'purchase'))
        |    - 7200000000 AS w),
        |l AS (
        |  SELECT c.user_id AS u, c.ts AS click_ts, b.ts AS buy_ts
        |  FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
        |  LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') b
        |    ON c.user_id = b.user_id AND b.ts > c.ts
        |       AND b.ts <= c.ts + INTERVAL 1 HOUR),
        |emitted AS (
        |  SELECT * FROM l
        |  WHERE buy_ts IS NOT NULL
        |     OR epoch_ns(click_ts) // 1000 + 3600000000 < (SELECT w FROM wm))
        |SELECT u AS user_id, count(buy_ts) AS click_buy_pairs,
        |       count(CASE WHEN buy_ts IS NULL THEN 1 END) AS closed_unmatched
        |FROM emitted GROUP BY u""".stripMargin,
    // full outer: click null-rows close like the left form; a purchase
    // null-row closes once the watermark passes its OWN event time
    // (buy_ts > click_ts means purchases only match EARLIER clicks)
    "events_stream_full_join" ->
      """WITH wm AS (
        |  SELECT least(
        |    (SELECT max(epoch_ns(ts) // 1000) FROM events WHERE event_type = 'click'),
        |    (SELECT max(epoch_ns(ts) // 1000) FROM events WHERE event_type = 'purchase'))
        |    - 7200000000 AS w),
        |f AS (
        |  SELECT c.user_id AS cu, b.user_id AS bu, c.ts AS click_ts, b.ts AS buy_ts
        |  FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
        |  FULL OUTER JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') b
        |    ON c.user_id = b.user_id AND b.ts > c.ts
        |       AND b.ts <= c.ts + INTERVAL 1 HOUR),
        |emitted AS (
        |  SELECT * FROM f
        |  WHERE (click_ts IS NOT NULL AND buy_ts IS NOT NULL)
        |     OR (buy_ts IS NULL
        |         AND epoch_ns(click_ts) // 1000 + 3600000000 < (SELECT w FROM wm))
        |     OR (click_ts IS NULL
        |         AND epoch_ns(buy_ts) // 1000 < (SELECT w FROM wm)))
        |SELECT coalesce(cu, bu) AS user_id,
        |       count(CASE WHEN click_ts IS NOT NULL AND buy_ts IS NOT NULL THEN 1 END) AS click_buy_pairs,
        |       count(CASE WHEN buy_ts IS NULL THEN 1 END) AS closed_unmatched_clicks,
        |       count(CASE WHEN click_ts IS NULL THEN 1 END) AS closed_unmatched_buys
        |FROM emitted GROUP BY coalesce(cu, bu)""".stripMargin,
    // benchmark decontamination: training docs sharing a word 3-gram with
    // the eval source; shingle counts are xxhash64-invariant engine-side
    // (same argument as dedup_ngram_jaccard), so the text-shingle oracle
    // hash-matches
    "dedup_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, source, string_split_regex(text, '\s+') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id, source,
        |         list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |                        for i in range(1, len(tk)-1)]) AS sh
        |  FROM toks),
        |ev AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE source = 'src15'),
        |tr AS (
        |  SELECT doc_id, source, len(sh) AS n_shingles, unnest(sh) AS s
        |  FROM sh WHERE source <> 'src15')
        |SELECT doc_id, source, n_shingles, count(*) AS n_leaked,
        |       floor(count(*)::DOUBLE / n_shingles * 10000 + 0.5) / 10000 AS leak_frac
        |FROM tr JOIN ev USING (s)
        |GROUP BY doc_id, source, n_shingles""".stripMargin,
    // Substring-span dedup: positioned text 3-grams (the engine hashes them
    // to xxhash64 longs; duplicated-position membership is hash-invariant),
    // df≥2 positions merged into spans by a lag/running-sum window — the
    // same relational shape as the engine, recomputed from raw text
    "dedup_substring_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, source, string_split_regex(text, '\s+') AS tk FROM documents),
        |ps0 AS (
        |  SELECT doc_id, source, CAST(len(tk) AS BIGINT) AS n_tokens,
        |         unnest([{'pos': i, 'sh': tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]}
        |                 for i in range(1, len(tk)-1)]) AS e
        |  FROM toks),
        |ps AS (SELECT doc_id, source, n_tokens, e.pos AS pos, e.sh AS sh FROM ps0),
        |dup AS (SELECT sh FROM ps GROUP BY sh HAVING count(DISTINCT doc_id) >= 2),
        |dp AS (SELECT ps.* FROM ps WHERE sh IN (SELECT sh FROM dup)),
        |brk AS (
        |  SELECT doc_id, source, n_tokens, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 3
        |              THEN 0 ELSE 1 END AS brk
        |  FROM dp),
        |sp AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |                           ROWS UNBOUNDED PRECEDING) AS span_id
        |  FROM brk),
        |spans AS (
        |  SELECT doc_id, source, n_tokens, span_id,
        |         min(pos) AS p0, max(pos) AS p1
        |  FROM sp GROUP BY doc_id, source, n_tokens, span_id)
        |SELECT doc_id, source, n_tokens,
        |       count(*) AS n_spans,
        |       CAST(max(p1 - p0 + 3) AS BIGINT) AS max_span_tokens,
        |       CAST(sum(p1 - p0 + 3) AS BIGINT) AS dup_tokens,
        |       floor(CAST(sum(p1 - p0 + 3) AS DOUBLE) / n_tokens * 10000 + 0.5)
        |         / 10000 AS dup_token_frac
        |FROM spans GROUP BY doc_id, source, n_tokens""".stripMargin,
    // Gopher-style repetition stats: most-frequent-token share + duplicate
    // bigram fraction per doc, keep under (0.2, 0.3); exact integer counts
    // and single integer/integer divisions on both sides
    // Composed intake verdicts: the four stage oracles (quality band,
    // repetition keep, md5 winners, eval-shingle leak) re-stated in one
    // CTE chain with the same first-failing-reason precedence.
    "pipeline_intake_decisions" ->
      """WITH cand AS (
        |  SELECT doc_id, source, text, string_split_regex(text, '\s+') AS tk,
        |         md5(text) AS digest
        |  FROM documents WHERE source <> 'src15'),
        |q AS (
        |  SELECT doc_id, source, tk, len(tk) AS n_tokens,
        |         CASE WHEN len(tk) = 0 THEN 0.0
        |              ELSE len(list_filter(tk, t -> list_contains(
        |                ['the','a','an','of','and','to','in','is','it','for'], t)))::DOUBLE
        |                   / len(tk) END AS swr,
        |         min(doc_id) OVER (PARTITION BY digest) AS winner
        |  FROM cand),
        |bgl AS (
        |  SELECT doc_id, [tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))] AS bg
        |  FROM cand),
        |bstat AS (
        |  SELECT doc_id,
        |         CASE WHEN len(bg) = 0 THEN 0.0
        |              ELSE floor((len(bg) - len(list_distinct(bg)))::DOUBLE
        |                         / len(bg) * 10000 + 0.5) / 10000
        |         END AS dbf
        |  FROM bgl),
        |w AS (SELECT doc_id, unnest(tk) AS w FROM cand),
        |cnt AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
        |dom AS (
        |  SELECT doc_id, floor(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT)
        |                       * 10000 + 0.5) / 10000 AS ttf
        |  FROM cnt GROUP BY doc_id),
        |ev AS (
        |  SELECT DISTINCT unnest(list_distinct(
        |           [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |            for i in range(1, len(tk)-1)])) AS s
        |  FROM (SELECT string_split_regex(text, '\s+') AS tk
        |        FROM documents WHERE source = 'src15')),
        |leaked AS (
        |  SELECT DISTINCT doc_id
        |  FROM (SELECT doc_id, unnest(list_distinct(
        |                 [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |                  for i in range(1, len(tk)-1)])) AS s
        |        FROM cand)
        |  WHERE s IN (SELECT s FROM ev)),
        |verdict AS (
        |  SELECT q.doc_id, q.source,
        |         CASE WHEN NOT (q.n_tokens >= 20 AND q.n_tokens <= 100
        |                        AND q.swr >= 0.05) THEN 'quality'
        |              WHEN NOT coalesce(d.ttf <= 0.2 AND b.dbf <= 0.3, false)
        |                   THEN 'repetition'
        |              WHEN q.doc_id <> q.winner THEN 'duplicate'
        |              WHEN q.doc_id IN (SELECT doc_id FROM leaked)
        |                   THEN 'contaminated'
        |              ELSE 'kept' END AS reason
        |  FROM q JOIN bstat b USING (doc_id) LEFT JOIN dom d USING (doc_id))
        |SELECT doc_id, source, reason, (reason = 'kept') AS keep FROM verdict""".stripMargin,
    "pipeline_intake_stats" ->
      """WITH cand AS (
        |  SELECT doc_id, source, text, string_split_regex(text, '\s+') AS tk,
        |         md5(text) AS digest
        |  FROM documents WHERE source <> 'src15'),
        |q AS (
        |  SELECT doc_id, source, tk, len(tk) AS n_tokens,
        |         CASE WHEN len(tk) = 0 THEN 0.0
        |              ELSE len(list_filter(tk, t -> list_contains(
        |                ['the','a','an','of','and','to','in','is','it','for'], t)))::DOUBLE
        |                   / len(tk) END AS swr,
        |         min(doc_id) OVER (PARTITION BY digest) AS winner
        |  FROM cand),
        |bgl AS (
        |  SELECT doc_id, [tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))] AS bg
        |  FROM cand),
        |bstat AS (
        |  SELECT doc_id,
        |         CASE WHEN len(bg) = 0 THEN 0.0
        |              ELSE floor((len(bg) - len(list_distinct(bg)))::DOUBLE
        |                         / len(bg) * 10000 + 0.5) / 10000
        |         END AS dbf
        |  FROM bgl),
        |w AS (SELECT doc_id, unnest(tk) AS w FROM cand),
        |cnt AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
        |dom AS (
        |  SELECT doc_id, floor(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT)
        |                       * 10000 + 0.5) / 10000 AS ttf
        |  FROM cnt GROUP BY doc_id),
        |ev AS (
        |  SELECT DISTINCT unnest(list_distinct(
        |           [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |            for i in range(1, len(tk)-1)])) AS s
        |  FROM (SELECT string_split_regex(text, '\s+') AS tk
        |        FROM documents WHERE source = 'src15')),
        |leaked AS (
        |  SELECT DISTINCT doc_id
        |  FROM (SELECT doc_id, unnest(list_distinct(
        |                 [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |                  for i in range(1, len(tk)-1)])) AS s
        |        FROM cand)
        |  WHERE s IN (SELECT s FROM ev)),
        |verdict AS (
        |  SELECT q.doc_id, q.source,
        |         CASE WHEN NOT (q.n_tokens >= 20 AND q.n_tokens <= 100
        |                        AND q.swr >= 0.05) THEN 'quality'
        |              WHEN NOT coalesce(d.ttf <= 0.2 AND b.dbf <= 0.3, false)
        |                   THEN 'repetition'
        |              WHEN q.doc_id <> q.winner THEN 'duplicate'
        |              WHEN q.doc_id IN (SELECT doc_id FROM leaked)
        |                   THEN 'contaminated'
        |              ELSE 'kept' END AS reason
        |  FROM q JOIN bstat b USING (doc_id) LEFT JOIN dom d USING (doc_id))
        |SELECT source, reason, count(*) AS n FROM verdict
        |GROUP BY source, reason""".stripMargin,
    "text_repetition_stats" ->
      """WITH toks AS (
        |  SELECT doc_id, source, string_split_regex(text, '\s+') AS tk FROM documents),
        |bg AS (
        |  SELECT doc_id, source,
        |         [tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))] AS bg
        |  FROM toks),
        |bstat AS (
        |  SELECT doc_id, source,
        |         CASE WHEN len(bg) = 0 THEN 0.0
        |              ELSE floor((len(bg) - len(list_distinct(bg)))::DOUBLE
        |                         / len(bg) * 10000 + 0.5) / 10000
        |         END AS dup_bigram_frac
        |  FROM bg),
        |w AS (SELECT doc_id, unnest(tk) AS w FROM toks),
        |cnt AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
        |dom AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
        |         floor(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT)
        |               * 10000 + 0.5) / 10000 AS top_tok_frac
        |  FROM cnt GROUP BY doc_id)
        |SELECT b.doc_id, b.source, d.n_tok, d.top_tok_frac, b.dup_bigram_frac,
        |       (d.top_tok_frac <= 0.2 AND b.dup_bigram_frac <= 0.3) AS keep
        |FROM bstat b JOIN dom d USING (doc_id)""".stripMargin,
    "dedup_incremental" ->
      """WITH d AS (
        |  SELECT doc_id, source, md5(text) AS digest FROM documents),
        |corpus AS (SELECT DISTINCT digest FROM d WHERE source <> 'src0')
        |SELECT min(doc_id) AS doc_id, digest, count(*) AS n_copies
        |FROM d
        |WHERE source = 'src0' AND digest NOT IN (SELECT digest FROM corpus)
        |GROUP BY digest""".stripMargin,
    "set_union_by_name" ->
      """WITH u AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal, NULL AS c_name
        |  FROM customer WHERE c_acctbal > 5000
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, NULL AS c_acctbal, c_name
        |  FROM customer WHERE c_acctbal <= 0)
        |SELECT c_mktsegment, count(*) AS n,
        |       count(c_acctbal) AS n_with_balance,
        |       count(c_name) AS n_with_name
        |FROM u GROUP BY c_mktsegment""".stripMargin,
    "pivot_flag_status" ->
      """SELECT l_linestatus,
        |       floor(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) * 100 + 0.5) / 100 AS qty_a,
        |       floor(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) * 100 + 0.5) / 100 AS qty_n,
        |       floor(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) * 100 + 0.5) / 100 AS qty_r
        |FROM lineitem GROUP BY l_linestatus""".stripMargin,
    // the unpivot of the pivoted frame must equal the long form computed
    // directly from the source — wide↔long is a lossless round trip
    "unpivot_flag_status" ->
      """SELECT l_linestatus, l_returnflag,
        |       floor(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty
        |FROM lineitem
        |WHERE l_returnflag IN ('A', 'N', 'R')
        |GROUP BY l_linestatus, l_returnflag""".stripMargin,
    "stat_corr_covar" ->
      """SELECT floor(corr(l_quantity, l_extendedprice) * 1000000 + 0.5) / 1000000 AS corr_qty_price,
        |       floor(covar_samp(l_quantity, l_extendedprice) * 10000 + 0.5) / 10000 AS covar_qty_price
        |FROM lineitem""".stripMargin,
    "topk_part_keys" ->
      """SELECT l_partkey, count(*) AS n
        |FROM lineitem GROUP BY l_partkey
        |ORDER BY n DESC, l_partkey ASC LIMIT 20""".stripMargin,
    "sql_top_unshipped" ->
      """SELECT l_orderkey,
        |       floor(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) * 100 + 0.5) / 100 AS revenue,
        |       o_orderdate
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderstatus <> 'F'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,
    "events_asof_purchase" ->
      """WITH e AS (
        |  SELECT event_id, user_id,
        |         make_timestamp(epoch_ns(ts) // 1000) AS ts, event_type
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |c AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts FROM e WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.ts AS click_ts,
        |       (SELECT min(p.ts) FROM p
        |        WHERE p.user_id = c.user_id AND p.ts >= c.ts) AS next_purchase_ts
        |FROM c""".stripMargin,
    // tolerance-bounded as-of: the same correlated-min formulation, the
    // match kept only within the 120-minute attribution window
    "events_asof_tolerance" ->
      """WITH e AS (
        |  SELECT event_id, user_id,
        |         make_timestamp(epoch_ns(ts) // 1000) AS ts, event_type
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |c AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts FROM e WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT c.event_id, c.user_id, c.ts AS click_ts,
        |         (SELECT min(p.ts) FROM p
        |          WHERE p.user_id = c.user_id AND p.ts >= c.ts) AS np
        |  FROM c)
        |SELECT event_id, user_id, click_ts,
        |       CASE WHEN np <= click_ts + INTERVAL 120 MINUTE THEN np END AS next_purchase_ts,
        |       coalesce(np <= click_ts + INTERVAL 120 MINUTE, false) AS matched
        |FROM m""".stripMargin,
    // backward as-of: last purchase at-or-before each click
    "events_asof_prev" ->
      """WITH e AS (
        |  SELECT event_id, user_id,
        |         make_timestamp(epoch_ns(ts) // 1000) AS ts, event_type
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |c AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts FROM e WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.ts AS click_ts,
        |       (SELECT max(p.ts) FROM p
        |        WHERE p.user_id = c.user_id AND p.ts <= c.ts) AS prev_purchase_ts
        |FROM c""".stripMargin,
    // gap-fill: generate_series spine per type, zero-filled left join
    "events_gap_fill" ->
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hs FROM events),
        |counts AS (SELECT event_type, hs, count(*) AS n FROM h GROUP BY 1, 2),
        |spine AS (
        |  SELECT event_type,
        |         unnest(generate_series(min(hs), max(hs), INTERVAL 1 HOUR)) AS hs
        |  FROM h GROUP BY event_type)
        |SELECT s.event_type AS event_type, s.hs AS hour_start,
        |       COALESCE(c.n, 0) AS n
        |FROM spine s
        |LEFT JOIN counts c ON s.event_type = c.event_type AND s.hs = c.hs""".stripMargin,
    "text_token_stats" ->
      """SELECT source, count(*) AS n_docs,
        |       CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT) AS total_ws_tokens,
        |       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS total_bpe_tokens,
        |       floor((CAST(sum(length(text)) AS DOUBLE) / count(length(text))) * 100 + 0.5) / 100 AS avg_chars
        |FROM documents GROUP BY source""".stripMargin,
    "text_top_tokens" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin,
    "text_bpe_merges" -> bpeMergesSql(5),
    "text_bpe_encode" -> bpeEncodeSql(5),
    "text_bpe_encode_oov" -> bpeEncodeOovSql(5),
    // the replay-regime twin: 66 training iterations + 66 replay steps
    // over the md5 ≤ 'c' split — the SAME scalar-subquery replace chain,
    // just past the engine's expression threshold (the oracle has no
    // threshold; one chain verifies both engine regimes)
    "text_bpe_encode_oov_replay" ->
      bpeEncodeOovSql(66, "substr(md5(w), 1, 1) <= 'c'"),
    // thresholded-path parity: the vocab count is genuinely recomputed
    // (the shared corpus pass conserves), the two equality verdicts land
    // as constants GateInvariants re-derives by re-running both paths
    "text_bpe_path_parity" ->
      """SELECT CAST(12 AS INT) AS n_merges,
        |       (SELECT count(DISTINCT w) FROM (
        |          SELECT unnest(string_split_regex(text, '\s+')) AS w
        |          FROM documents) t WHERE len(w) > 0) AS n_vocab,
        |       TRUE AS merges_identical, TRUE AS dicts_identical""".stripMargin,
    "sample_token_budget_encoded" -> sampleTokenBudgetEncodedSql(5, 40000L),
    // retention cohorts: exact (user, day) distinct → per-user min →
    // offset matrix, every count restated
    "events_retention_cohorts" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |f AS (SELECT user_id, min(d) AS cohort_day FROM days GROUP BY user_id)
        |SELECT f.cohort_day,
        |       date_diff('day', f.cohort_day, days.d) AS day_offset,
        |       count(DISTINCT days.user_id) AS n_users
        |FROM days JOIN f ON days.user_id = f.user_id
        |WHERE date_diff('day', f.cohort_day, days.d) <= 7
        |GROUP BY 1, 2""".stripMargin,
    // calibrated quality: the per-doc 4-decimal score and the P10 cutoff
    // replayed (quantile_cont ↔ percentile — the agg_exact_percentiles
    // parity), keep = score >= rounded cutoff on both sides
    "text_quality_calibrated" ->
      """WITH s AS (
        |  SELECT lang, string_split_regex(text, '\s+') AS tk,
        |         length(text)::DOUBLE AS nchars
        |  FROM documents),
        |m AS (
        |  SELECT lang, len(tk)::DOUBLE AS nt, nchars,
        |         CASE WHEN len(tk)=0 THEN 0.0
        |              ELSE len(list_filter(tk, t -> list_contains(
        |                ['the','a','an','of','and','to','in','is','it','for'], t)))::DOUBLE
        |                / len(tk) END AS sw
        |  FROM s),
        |qs AS (
        |  SELECT lang,
        |         floor(((least(nt/50.0, 1.0) + least(sw*5.0, 1.0) +
        |                 (CASE WHEN (CASE WHEN nt=0 THEN 0.0 ELSE nchars/nt END) >= 3
        |                        AND (CASE WHEN nt=0 THEN 0.0 ELSE nchars/nt END) <= 10
        |                       THEN 1.0 ELSE 0.5 END)) / 3.0) * 10000 + 0.5) / 10000 AS q
        |  FROM m),
        |c AS (
        |  SELECT lang, count(*) AS n_docs,
        |         floor(quantile_cont(q, 0.1) * 10000 + 0.5) / 10000 AS p10
        |  FROM qs GROUP BY lang)
        |SELECT qs.lang, c.n_docs, c.p10,
        |       CAST(sum(CASE WHEN qs.q >= c.p10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM qs JOIN c ON qs.lang = c.lang
        |GROUP BY qs.lang, c.n_docs, c.p10""".stripMargin,
    // curriculum stages: ntile over the identical (n_chars, doc_id) total
    // order — both engines fill earlier tiles first on remainders
    "text_length_curriculum" ->
      """WITH s AS (
        |  SELECT doc_id, n_chars,
        |         ntile(4) OVER (ORDER BY n_chars, doc_id) AS stage
        |  FROM documents)
        |SELECT stage, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM s GROUP BY stage""".stripMargin,
    // weak-label distillation: the oracle replays the rule band for the
    // exact counts and states the tree verdicts as constants (re-fit +
    // recomputed independently by GateInvariants)
    "ml_quality_classifier" ->
      """WITH s AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS tk
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, len(tk) AS n_tokens,
        |         CASE WHEN len(tk)=0 THEN 0.0
        |              ELSE len(list_filter(tk, t -> list_contains(
        |                ['the','a','an','of','and','to','in','is','it','for'], t)))::DOUBLE
        |                / len(tk) END AS sw
        |  FROM s)
        |SELECT count(*) AS n_docs,
        |       count(*) FILTER (WHERE n_tokens >= 20 AND n_tokens <= 100
        |                          AND sw >= 0.05) AS n_weak_pos,
        |       true AS tree_accuracy_high, true AS labels_nondegenerate
        |FROM m""".stripMargin,
    // overlapping chunking: starts 0, 48, 96, … while start < n_tokens;
    // chunk_idx = start // stride; 1-based list indexing on both sides
    "text_doc_chunks" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
        |starts AS (
        |  SELECT doc_id, t,
        |         unnest(generate_series(0, greatest(len(t) - 1, 0), 48)) AS start
        |  FROM toks)
        |SELECT doc_id, start // 48 AS chunk_idx, start,
        |       least(64, len(t) - start) AS chunk_len,
        |       t[start + 1] AS first_tok,
        |       t[start + least(64, len(t) - start)] AS last_tok
        |FROM starts""".stripMargin,
    // deterministic hash-order sample: identical rows on any engine or
    // partitioning (md5 of the decimal-rendered doc_id)
    "sample_hash_per_group" ->
      """SELECT lang, doc_id, h, rn FROM (
        |  SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 3""".stripMargin,
    // prefix-blocked candidates, Levenshtein-verified — the oracle states
    // the same blocking (prefix + length band with the adjacent-band probe
    // and the md5-sub-split of >1000-doc hot cells), so candidate sets
    // match exactly even when a guard binds; the band split alone never
    // changes the output because levenshtein >= |len difference|, and
    // both engines compute the identical lowercase-hex md5 sub-key
    "dedup_edit_distance" ->
      """WITH k AS (
        |  SELECT doc_id, text, substr(text, 1, 16) AS blk,
        |         CAST(floor(len(text) / 20) AS BIGINT) AS band,
        |         substr(md5(text), 1, 2) AS h2
        |  FROM documents),
        |c AS (
        |  SELECT blk, band, count(*) AS cdf FROM k GROUP BY 1, 2),
        |s AS (
        |  SELECT k.*, CASE WHEN c.cdf <= 1000 THEN '' ELSE k.h2 END AS sub
        |  FROM k JOIN c USING (blk, band))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       levenshtein(a.text, b.text) AS dist
        |FROM s a JOIN s b
        |  ON a.blk = b.blk AND abs(a.band - b.band) <= 1
        | AND a.sub = b.sub
        | AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.text, b.text) <= 20""".stripMargin,
    // The engine computes the global running total with range partitioning
    // + two parallel passes (PackingOps.exclusiveRunningTotal); the oracle
    // states the same quantity as the naive single-partition window — the
    // formulations agree exactly because doc_id (resp. the md5 shuffle
    // key) is unique, so the order is total.
    "pack_concat_chunks" ->
      """WITH tk AS (
        |  SELECT doc_id, len(string_split_regex(text, '\s+')) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |         sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |           - n_tok AS cum0
        |  FROM tk)
        |SELECT CAST(floor(cum0 / 1024) AS BIGINT) AS bin_id,
        |       count(*) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS bin_tokens
        |FROM c GROUP BY 1""".stripMargin,
    // hash sharding over the same exact dyadic md5-uniform as
    // sample_weighted: every term and partial sum is exact in doubles,
    // the ×8 is an exponent shift, so floor/least replay bit-for-bit
    "pack_shard_manifest" -> {
      val terms = (1 to 12).map { p =>
        val den = math.pow(16.0, p).toLong
        s"(strpos('0123456789abcdef', substr(h, $p, 1)) - 1) / $den.0"
      }.mkString("\n        + ")
      s"""WITH d AS (
         |  SELECT len(string_split_regex(text, '\\s+')) AS n_tok, n_chars,
         |         md5(doc_id::VARCHAR) AS h
         |  FROM documents),
         |s AS (
         |  SELECT n_tok, n_chars,
         |         CAST(least(floor(($terms
         |          + ${math.pow(16.0, -12.0)}) * 8), 7) AS INT) AS shard_id
         |  FROM d)
         |SELECT shard_id, count(*) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "sample_token_budget" ->
      """WITH tk AS (
        |  SELECT doc_id, len(string_split_regex(text, '\s+')) AS n_tok,
        |         md5(doc_id::VARCHAR) AS k
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |         sum(n_tok) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
        |           - n_tok AS cum0
        |  FROM tk)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok
        |FROM c WHERE cum0 < 8000""".stripMargin,
    // json_roundtrip's engine side goes documents → JSON lines → read-back;
    // the oracle aggregates the source table directly, so a hash match
    // proves the JSON escape/parse path is lossless.
    "json_roundtrip" ->
      """SELECT lang, source, count(*) AS n_docs,
        |       CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY lang, source""".stripMargin,
    // orc_roundtrip's engine side goes documents → ORC → read-back; the
    // oracle aggregates the source table directly, so a hash match proves
    // the ORC encode/decode path is lossless for strings and integers.
    "orc_roundtrip" ->
      """SELECT lang, source, count(*) AS n_docs,
        |       CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT) AS total_tokens,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang, source""".stripMargin,
    // csv_column_roundtrip encodes structs to embedded CSV lines and parses
    // them back inside one projection; the oracle aggregates the raw source,
    // so a hash match proves the to_csv/from_csv hop is lossless
    "csv_column_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       floor((CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS total_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "sample_mixture" ->
      """WITH tk AS (
        |  SELECT doc_id, source, len(string_split_regex(text, '\s+')) AS n_tok,
        |         md5(doc_id::VARCHAR) AS k
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tok,
        |         sum(n_tok) OVER (PARTITION BY source ORDER BY k
        |                          ROWS UNBOUNDED PRECEDING) - n_tok AS cum0
        |  FROM tk)
        |SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok
        |FROM c WHERE cum0 < 600""".stripMargin,
    // temperature mixture: the sqrt micro-weight v = floor(sqrt(n)*1e6+0.5)
    // is an exact integer, S = sum(v) an exact long, and the budget one
    // integer-valued-double division under floor — every step restated
    // verbatim, so budgets AND draw hash-match
    "sample_mixture_temperature" ->
      """WITH tk AS (
        |  SELECT doc_id, source, len(string_split_regex(text, '\s+')) AS n_tok,
        |         md5(doc_id::VARCHAR) AS k
        |  FROM documents),
        |tot AS (
        |  SELECT source,
        |         CAST(floor(sqrt(CAST(sum(n_tok) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS v
        |  FROM tk GROUP BY source),
        |s AS (SELECT sum(v) AS sv FROM tot),
        |b AS (
        |  SELECT source,
        |         CAST(floor(CAST(v * 8000 AS DOUBLE) / CAST(sv AS DOUBLE)) AS BIGINT) AS budget
        |  FROM tot, s),
        |c AS (
        |  SELECT doc_id, source, n_tok,
        |         sum(n_tok) OVER (PARTITION BY source ORDER BY k
        |                          ROWS UNBOUNDED PRECEDING) - n_tok AS cum0
        |  FROM tk)
        |SELECT c.doc_id, c.source, CAST(c.n_tok AS BIGINT) AS n_tok, b.budget
        |FROM c JOIN b ON c.source = b.source
        |WHERE c.cum0 < b.budget""".stripMargin,
    // sequential Poisson sampling: u is a dyadic rational (12 exact
    // nibble terms + 2^-48, every partial sum <= 48 fractional bits), the
    // priority one correctly-rounded division — bit-identical doubles in
    // both engines with NO rounding helper, by IEEE-754 alone
    "sample_weighted" -> {
      val terms = (1 to 12).map { p =>
        val den = math.pow(16.0, p).toLong
        s"(strpos('0123456789abcdef', substr(h, $p, 1)) - 1) / $den.0"
      }.mkString("\n        + ")
      s"""WITH h AS (
         |  SELECT doc_id, CAST(n_chars + 1 AS DOUBLE) AS weight,
         |         md5(doc_id::VARCHAR) AS h
         |  FROM documents)
         |SELECT doc_id, weight,
         |       ($terms
         |        + ${math.pow(16.0, -12.0)}) / weight AS priority
         |FROM h ORDER BY priority, doc_id LIMIT 100""".stripMargin
    },
    // per-group top-k over the same bit-exact priorities: the rank window
    // restates the engine's row_number contract verbatim
    "sample_weighted_per_group" -> {
      val terms = (1 to 12).map { p =>
        val den = math.pow(16.0, p).toLong
        s"(strpos('0123456789abcdef', substr(h, $p, 1)) - 1) / $den.0"
      }.mkString("\n        + ")
      s"""WITH h AS (
         |  SELECT lang, doc_id, CAST(n_chars + 1 AS DOUBLE) AS weight,
         |         md5(doc_id::VARCHAR) AS h
         |  FROM documents),
         |p AS (
         |  SELECT lang, doc_id, weight,
         |         ($terms
         |          + ${math.pow(16.0, -12.0)}) / weight AS priority
         |  FROM h),
         |r AS (
         |  SELECT lang, doc_id, weight, priority,
         |         row_number() OVER (PARTITION BY lang
         |                            ORDER BY priority, doc_id) AS rn
         |  FROM p)
         |SELECT lang, doc_id, weight, priority, rn
         |FROM r WHERE rn <= 10""".stripMargin
    },
    // z-order: the oracle replays the whole pipeline — exact min/max
    // bounds, the bit-identical floor(·65536/range) normalization (exact
    // integer dividend, one correctly-rounded IEEE division), then the
    // generated 32-term shift/mask Morton interleave pinning the custom
    // expression's output word per row
    "layout_zorder" -> {
      // joined on ONE line: a line-leading "|" would be eaten by the
      // surrounding stripMargin (it IS the margin character)
      val zterms = (0 until 16).flatMap(i => Seq(
        s"(((xn >> $i) & 1) << ${2 * i})",
        s"(((yn >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
      s"""WITH d AS (
         |  SELECT o_orderkey, o_custkey AS x,
         |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS y
         |  FROM orders),
         |m AS (SELECT min(x) AS mnx, max(x) AS mxx,
         |             min(y) AS mny, max(y) AS mxy FROM d),
         |n AS (
         |  SELECT o_orderkey, x, y,
         |         CAST(floor((x - mnx) * 65536.0 / (mxx - mnx + 1)) AS BIGINT) AS xn,
         |         CAST(floor((y - mny) * 65536.0 / (mxy - mny + 1)) AS BIGINT) AS yn
         |  FROM d, m)
         |SELECT o_orderkey, x, y,
         |       ($zterms) AS z
         |FROM n""".stripMargin
    },
    // the z-layout write path must be lossless: the oracle states the
    // same two-sided probe straight from the source table
    "layout_zorder_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       floor((CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS revenue
        |FROM orders
        |WHERE o_custkey BETWEEN 20 AND 99
        |  AND CAST(o_orderdate AS DATE) - DATE '1970-01-01' BETWEEN 9500 AND 10499
        |GROUP BY o_orderstatus""".stripMargin,
    // the fragment→compact cycle must be lossless: the oracle states the
    // same probe straight from the source table
    "layout_compact_roundtrip" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       floor((CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    // dynamic partition overwrite: the oracle states the END state from
    // the source table — bucket 3's prices +1 (the replaced partition),
    // every other bucket untouched (a static-mode truncation or an
    // append-instead-of-replace both diverge from this statement)
    "layout_dynamic_overwrite" ->
      """SELECT CAST(o_orderkey % 8 AS INT) AS bucket, count(*) AS n_orders,
        |       floor(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6)) +
        |                      CASE WHEN o_orderkey % 8 = 3 THEN 1 ELSE 0 END)
        |             AS DOUBLE) * 100 + 0.5) / 100 AS total_price,
        |       CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |       CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // range-clustered write: boundaries are sample-dependent AND the
    // non-empty partition count can be < buckets on duplicate-heavy keys,
    // so the gate emits the layout CONTRACT (file count within bound,
    // footer row conservation, disjoint ranges, balance) — the oracle
    // states the verdicts + count(*); GateInvariants recomputes every
    // verdict from the data
    "layout_range_write" ->
      """SELECT true AS n_files_in_bound, count(*) AS n_rows,
        |       true AS ranges_disjoint, true AS files_balanced,
        |       true AS stats_complete_all
        |FROM orders""".stripMargin,
    // Zipf slope: ln terms rounded to 6 decimals, regression sums in exact
    // DECIMAL — the slope is one IEEE expression over identical operands
    "text_zipf_slope" ->
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS token FROM documents),
        |cnt AS (
        |  SELECT token, count(*) AS n FROM tok GROUP BY token
        |  ORDER BY n DESC, token ASC LIMIT 100),
        |rk AS (
        |  SELECT n, row_number() OVER (ORDER BY n DESC, token ASC) AS rank FROM cnt),
        |xy AS (
        |  SELECT floor(ln(rank::DOUBLE) * 1000000 + 0.5) / 1000000 AS x,
        |         floor(ln(n::DOUBLE) * 1000000 + 0.5) / 1000000 AS y
        |  FROM rk),
        |s AS (
        |  SELECT count(*) AS n_ranks,
        |         CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
        |         CAST(sum(CAST(x*y AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
        |         CAST(sum(CAST(x*x AS DECIMAL(28,6))) AS DOUBLE) AS sxx
        |  FROM xy)
        |SELECT n_ranks,
        |       floor((n_ranks*sxy - sx*sy) / (n_ranks*sxx - sx*sx) * 10000 + 0.5)
        |         / 10000 AS zipf_slope
        |FROM s""".stripMargin,
    "text_redact_ids" ->
      """SELECT c_custkey,
        |       regexp_replace(c_name, '[0-9]+', '<ID>', 'g') AS redacted_name,
        |       len(regexp_extract_all(c_name, '[0-9]+')) AS n_redactions
        |FROM customer""".stripMargin,
    "text_langid_confusion" ->
      """SELECT lang AS labeled_lang,
        |       CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
        |            WHEN regexp_matches(text, '[äöüß]') THEN 'de'
        |            WHEN regexp_matches(text, '[ñ¡¿]') THEN 'es'
        |            WHEN regexp_matches(text, '[àâçèêëîïôùûœ]') THEN 'fr'
        |            ELSE 'en' END AS guessed_lang,
        |       count(*) AS n
        |FROM documents GROUP BY 1, 2""".stripMargin,
    "text_fingerprints" ->
      """WITH toks AS (
        |  SELECT doc_id, text, string_split_regex(text, '\s+') AS tk FROM documents)
        |SELECT doc_id, md5(text) AS doc_md5,
        |       list_min([md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
        |                 for i in range(1, len(tk)-1)]) AS min_shingle_md5
        |FROM toks""".stripMargin,
    "text_quality_by_lang" ->
      """WITH s AS (
        |  SELECT lang, string_split_regex(text, '\s+') AS tk,
        |         length(text)::DOUBLE AS nchars
        |  FROM documents),
        |m AS (
        |  SELECT lang, len(tk)::DOUBLE AS nt, nchars,
        |         CASE WHEN len(tk)=0 THEN 0.0
        |              ELSE len(list_filter(tk, t -> list_contains(
        |                ['the','a','an','of','and','to','in','is','it','for'], t)))::DOUBLE
        |                / len(tk) END AS sw
        |  FROM s),
        |q AS (
        |  SELECT lang, sw,
        |         floor(((least(nt/50.0, 1.0) + least(sw*5.0, 1.0) +
        |                 (CASE WHEN (CASE WHEN nt=0 THEN 0.0 ELSE nchars/nt END) >= 3
        |                        AND (CASE WHEN nt=0 THEN 0.0 ELSE nchars/nt END) <= 10
        |                       THEN 1.0 ELSE 0.5 END)) / 3.0) * 10000 + 0.5) / 10000 AS q
        |  FROM m)
        |SELECT lang, count(*) AS n_docs,
        |       floor((CAST(sum(CAST(q AS DECIMAL(28,6))) AS DOUBLE) / count(q))*10000 + 0.5)/10000 AS avg_quality,
        |       floor((CAST(sum(CAST(sw AS DECIMAL(28,6))) AS DOUBLE) / count(sw))*10000 + 0.5)/10000 AS avg_stopword_ratio
        |FROM q GROUP BY lang""".stripMargin,
    "text_quality_filter" ->
      """WITH s AS (
        |  SELECT doc_id, lang, source, string_split_regex(text, '\s+') AS tk
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, lang, source, len(tk) AS n_tokens,
        |         CASE WHEN len(tk)=0 THEN 0.0
        |              ELSE len(list_filter(tk, t -> list_contains(
        |                ['the','a','an','of','and','to','in','is','it','for'], t)))::DOUBLE
        |                / len(tk) END AS sw
        |  FROM s)
        |SELECT doc_id, lang, source, n_tokens FROM m
        |WHERE n_tokens >= 20 AND n_tokens <= 100 AND sw >= 0.05""".stripMargin,
    // verdict gates for the engine-specific ANN probes (round 9): the
    // ANN contract lands as constants the engine derives from its actual
    // result and GateInvariants recomputes independently
    "ann_ivf" ->
      """SELECT CAST(10 AS BIGINT) AS n_neighbors, TRUE AS scores_exact,
        |       TRUE AS scores_descending, TRUE AS recall_floor_met""".stripMargin,
    "ann_brp_lsh" ->
      """SELECT CAST(10 AS BIGINT) AS n_neighbors, TRUE AS scores_exact,
        |       TRUE AS scores_descending, TRUE AS recall_floor_met""".stripMargin,
    // the nprobe tuning curve's statable contract per probe width:
    // exact scores, monotone recall (nested candidate sets), floors met
    // (2 hits from nprobe=4 per the ann_ivf precedent, exact recall at
    // nprobe = nlist = 16)
    "ann_ivf_recall_curve" ->
      """SELECT CAST(nprobe AS INT) AS nprobe, CAST(10 AS BIGINT) AS n_neighbors,
        |       TRUE AS scores_exact, TRUE AS recall_monotone,
        |       TRUE AS recall_floor_met
        |FROM (VALUES (1),(2),(4),(8),(16)) AS t(nprobe)
        |ORDER BY nprobe""".stripMargin,
    // the routed-ingest curve's statable contract per probe width: exact
    // scores, monotone recall, the measured floors met (2/5/8 hits at
    // nprobe 16/64/256 on the isotropic worst case, exact close at 4096)
    "ann_ivf_recall_routed" ->
      """SELECT CAST(nprobe AS INT) AS nprobe, CAST(10 AS BIGINT) AS n_neighbors,
        |       TRUE AS scores_exact, TRUE AS recall_monotone,
        |       TRUE AS recall_floor_met
        |FROM (VALUES (16),(64),(256),(4096)) AS t(nprobe)
        |ORDER BY nprobe""".stripMargin,
    // the deep-hier twin at nlist = 16384 (floors 1/5/7/8 at nprobe
    // 16/64/256/1024, exact at the full sweep — GateInvariants
    // recomputes the whole curve from fresh probes)
    "ann_ivf_recall_routed_hier" ->
      """SELECT CAST(nprobe AS INT) AS nprobe, CAST(10 AS BIGINT) AS n_neighbors,
        |       TRUE AS scores_exact, TRUE AS recall_monotone,
        |       TRUE AS recall_floor_met
        |FROM (VALUES (16),(64),(256),(1024),(16384)) AS t(nprobe)
        |ORDER BY nprobe""".stripMargin,
    // append-maintenance contract: the oracle's count(*) makes the
    // subset-build + append conserve every source row; the verdicts land
    // as constants GateInvariants recomputes from the index directory
    "ann_ivf_append" ->
      """SELECT count(*) AS n_vectors, TRUE AS ids_unique,
        |       TRUE AS full_probe_exact, TRUE AS appended_nearest
        |FROM embeddings""".stripMargin,
    "ann_ivf_ingest_streaming" ->
      """SELECT count(*) AS n_vectors, TRUE AS ids_unique,
        |       TRUE AS full_probe_exact, TRUE AS appended_nearest,
        |       TRUE AS multi_batch
        |FROM embeddings""".stripMargin,
    // two-level assignment contract: conservation by count(*), the
    // full-sweep identity theorem, cell validity, and the pruned-path
    // agreement floor — all recomputed distributed by the engine
    "ann_ivf_assign_hier" ->
      """SELECT count(*) AS n_assigned, TRUE AS cells_valid,
        |       TRUE AS full_sweep_identical, TRUE AS agreement_floor_met
        |FROM embeddings""".stripMargin,
    "ann_ivf_drift" ->
      """SELECT count(*) AS n_vectors, TRUE AS cells_within_nlist,
        |       TRUE AS no_dominant_cell, TRUE AS all_cells_probe_reachable
        |FROM embeddings""".stripMargin,
    // the expression-path assignment replayed EXACTLY: the surrogate
    // centroids are the 256 lowest-vec_id embeddings (cell = rank), |c|²
    // and each dot are ascending list_sum folds (the graft_dot parity
    // ann_knn_join proved), d2 = |c|² − 2·dot, argmin ties to the lowest
    // cell — a full hash check of the codegen reference-object path
    "ann_ivf_assign_expr" ->
      """WITH e AS (
        |  SELECT vec_id, [x::DOUBLE for x in embedding] AS emb FROM embeddings),
        |c AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, emb AS cent,
        |         list_sum([x*x for x in emb]) AS n2
        |  FROM (SELECT vec_id, emb FROM e ORDER BY vec_id LIMIT 256) s),
        |d AS (
        |  SELECT e.vec_id, c.cell,
        |         c.n2 - 2.0 * list_sum([e.emb[i]*c.cent[i]
        |                                for i in range(1, len(e.emb)+1)]) AS d2
        |  FROM e CROSS JOIN c),
        |a AS (
        |  SELECT vec_id, cell,
        |         row_number() OVER (PARTITION BY vec_id
        |                            ORDER BY d2 ASC, cell ASC) AS rk
        |  FROM d)
        |SELECT CAST(cell AS INTEGER) AS cell, count(*) AS n_vecs
        |FROM a WHERE rk = 1 GROUP BY cell ORDER BY cell""".stripMargin,
    // verdict gate for MLlib's OR-amplified minhash join: the exact-dup
    // pair count is genuinely recomputed (same shingle + maxDf pipeline
    // as the ngram family, pairs at rounded Jaccard 1.0); the LSH
    // guarantees land as constants
    "dedup_minhash_mllib" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |                                for i in range(1, len(tk)-1)]) AS sh
        |  FROM toks),
        |d AS (SELECT doc_id, sh, len(sh) AS n_sh FROM sh WHERE len(sh) > 0),
        |e AS (SELECT doc_id, n_sh, unnest(sh) AS s FROM d),
        |rare AS (SELECT s FROM e GROUP BY s HAVING count(*) <= 1000),
        |er AS (SELECT e.* FROM e JOIN rare USING (s)),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS inter
        |  FROM er a JOIN er b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1,2,3,4)
        |SELECT count(*) AS n_exact_dup_pairs,
        |       TRUE AS exact_dups_all_found, TRUE AS sims_in_range
        |FROM pairs
        |WHERE floor((inter::DOUBLE / (n_a + n_b - inter)) * 10000 + 0.5)/10000 >= 1.0""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |                                for i in range(1, len(tk)-1)]) AS sh
        |  FROM toks),
        |d AS (SELECT doc_id, sh, len(sh) AS n_sh FROM sh WHERE len(sh) > 0),
        |e AS (SELECT doc_id, n_sh, unnest(sh) AS s FROM d),
        |rare AS (SELECT s FROM e GROUP BY s HAVING count(*) <= 1000),
        |er AS (SELECT e.* FROM e JOIN rare USING (s)),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS inter
        |  FROM er a JOIN er b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1,2,3,4)
        |SELECT doc_a, doc_b,
        |       floor((inter::DOUBLE / (n_a + n_b - inter)) * 10000 + 0.5)/10000 AS jaccard
        |FROM pairs
        |WHERE floor((inter::DOUBLE / (n_a + n_b - inter)) * 10000 + 0.5)/10000 >= 0.3""".stripMargin,
    // asymmetric twin: containment = |A∩B| / min(|A|,|B|) over the same
    // rare-shingle candidate pairs — catches doc-in-doc duplication that
    // symmetric Jaccard (and minhash banding) structurally miss
    "dedup_ngram_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
        |                                for i in range(1, len(tk)-1)]) AS sh
        |  FROM toks),
        |d AS (SELECT doc_id, sh, len(sh) AS n_sh FROM sh WHERE len(sh) > 0),
        |e AS (SELECT doc_id, n_sh, unnest(sh) AS s FROM d),
        |rare AS (SELECT s FROM e GROUP BY s HAVING count(*) <= 1000),
        |er AS (SELECT e.* FROM e JOIN rare USING (s)),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.n_sh AS n_a, b.n_sh AS n_b, count(*) AS inter
        |  FROM er a JOIN er b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1,2,3,4)
        |SELECT doc_a, doc_b,
        |       floor((inter::DOUBLE / least(n_a, n_b)) * 10000 + 0.5)/10000 AS containment
        |FROM pairs
        |WHERE floor((inter::DOUBLE / least(n_a, n_b)) * 10000 + 0.5)/10000 >= 0.6""".stripMargin,
    // Bit-exact twin of DedupOps.minhashDupPairs (k=16, 8 bands × 2 rows):
    // md5 permutation mins and md5 band keys reproduce the engine's
    // signature exactly; Jaccard is computed on text shingle sets
    // (hash-invariant, equal to the engine's long-hashed sets).
    "dedup_minhash" ->
      s"""WITH $minhashPairsCte
         |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.3""".stripMargin,
    // band-key df recount over the identical md5 banding: pins that no
    // band exceeds the engine's maxBand=1000 sub-split trigger on this
    // corpus (hot_bands = 0), keeping the unguarded dedup_minhash oracle
    // above exact rather than assumed-exact
    "dedup_minhash_hotband" ->
      s"""WITH $minhashPairsCte,
         |bdf AS (SELECT band, count(*) AS n_docs FROM band GROUP BY band),
         |hot AS (SELECT n_docs FROM bdf WHERE n_docs > 1000)
         |SELECT CAST(coalesce(count(*), 0) AS BIGINT) AS hot_bands,
         |       CAST(coalesce(sum(n_docs), 0) AS BIGINT) AS docs_in_hot_bands
         |FROM hot""".stripMargin,
    // The streaming stateful variant emits exactly the batch pair set over
    // a finite replay (see DedupStream.minhashPairs) — same oracle.
    "dedup_minhash_streaming" ->
      s"""WITH $minhashPairsCte
         |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.3""".stripMargin,
    // Trailing-window variant: event time is timestamp_seconds(doc_id+86400)
    // (one doc per second in id order; the shift keeps doc 0 off epoch 0,
    // which stateful ops always drop as late), so the |Δts| ≤ 200 s window
    // contract is exactly doc_b − doc_a ≤ 200 — stated directly. Excludes
    // roughly half the full pair set, so the gate exercises the window.
    "dedup_minhash_windowed" ->
      s"""WITH $minhashPairsCte
         |SELECT doc_a, doc_b, jaccard FROM j
         |WHERE jaccard >= 0.3 AND doc_b - doc_a <= 200""".stripMargin,
    // Duplicate-cluster resolution over the same verified pair graph at
    // threshold 0.5: a recursive CTE computes each node's transitive
    // closure, the cluster representative is the component-min doc_id —
    // the oracle for the engine's star-contraction components.
    "dedup_clusters" ->
      s"""WITH RECURSIVE $minhashPairsCte,
         |jp AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM jp
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM jp),
         |walk(id, r) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT w.id, e.dst FROM walk w JOIN edges e ON w.r = e.src),
         |reps AS (
         |  SELECT id, least(id, min(r)) AS rep FROM walk GROUP BY id)
         |SELECT id AS doc_id, rep AS cluster_rep,
         |       count(*) OVER (PARTITION BY rep) AS cluster_size
         |FROM reps""".stripMargin,
    // cluster-size distribution over the same recursive closure
    "dedup_cluster_histogram" ->
      s"""WITH RECURSIVE $minhashPairsCte,
         |jp AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM jp
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM jp),
         |walk(id, r) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT w.id, e.dst FROM walk w JOIN edges e ON w.r = e.src),
         |reps AS (
         |  SELECT id, least(id, min(r)) AS rep FROM walk GROUP BY id),
         |sizes AS (SELECT rep, count(*) AS cluster_size FROM reps GROUP BY rep)
         |SELECT cluster_size, count(*) AS n_clusters,
         |       cluster_size * count(*) AS n_docs
         |FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    // leakage-safe holdout: same recursive closure for the reps, then the
    // md5-mod-5 split replayed digit by digit
    "split_cluster_holdout" -> {
      val nibbles = (0 until 12)
        .map(i => s"(strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1) * ${math.pow(16, 11 - i).toLong}.0")
        .mkString(" +\n           ")
      s"""WITH RECURSIVE $minhashPairsCte,
         |jp AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM jp
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM jp),
         |walk(id, r) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT w.id, e.dst FROM walk w JOIN edges e ON w.r = e.src),
         |reps AS (
         |  SELECT id, least(id, min(r)) AS rep FROM walk GROUP BY id),
         |lab AS (
         |  SELECT d.doc_id, coalesce(r.rep, d.doc_id) AS rep
         |  FROM documents d LEFT JOIN reps r ON d.doc_id = r.id),
         |h AS (SELECT doc_id, rep, md5(CAST(rep AS VARCHAR)) AS hx FROM lab),
         |s AS (
         |  SELECT doc_id, rep,
         |         CASE WHEN CAST(($nibbles) AS DECIMAL(38,0)) % 5 < 4
         |              THEN 'train' ELSE 'holdout' END AS split
         |  FROM h)
         |SELECT split, count(*) AS n_docs,
         |       count(DISTINCT rep) AS n_clusters
         |FROM s GROUP BY split""".stripMargin
    },
    // degree-oriented triangle census: orientation by (degree, id) gives
    // each triangle a unique lowest-order apex, and the closing edge is
    // oriented low→high in the same total order — identical derivation on
    // both sides, all-integer output
    "graph_triangle_stats" ->
      s"""WITH $coActivityEdgesCte,
         |deg AS (
         |  SELECT id, count(*) AS deg
         |  FROM (SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e)
         |  GROUP BY id),
         |wk AS (
         |  SELECT e.u, e.v, du.deg AS du, dv.deg AS dv
         |  FROM e JOIN deg du ON e.u = du.id JOIN deg dv ON e.v = dv.id),
         |o AS (
         |  SELECT CASE WHEN (du, u) < (dv, v) THEN u ELSE v END AS s,
         |         CASE WHEN (du, u) < (dv, v) THEN v ELSE u END AS d,
         |         CASE WHEN (du, u) < (dv, v) THEN dv ELSE du END AS dd
         |  FROM wk),
         |tri AS (
         |  SELECT count(*) AS n_triangles
         |  FROM o o1
         |  JOIN o o2 ON o1.s = o2.s AND (o1.dd, o1.d) < (o2.dd, o2.d)
         |  JOIN o o3 ON o3.s = o1.d AND o3.d = o2.d),
         |nn AS (
         |  SELECT count(*) AS n_nodes,
         |         CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges
         |  FROM deg),
         |ne AS (SELECT count(*) AS n_edges FROM e)
         |SELECT nn.n_nodes, ne.n_edges, nn.n_wedges, tri.n_triangles,
         |       CAST(CASE WHEN nn.n_wedges > 0
         |                 THEN (3 * tri.n_triangles * 1000000) // nn.n_wedges
         |                 ELSE 0 END AS BIGINT) AS transitivity_ppm
         |FROM nn, ne, tri""".stripMargin,
    "graph_pagerank" -> pagerankSql(3, 20),
    "graph_community_leaders" -> communityLeadersSql(3),
    // Semantic-dedup resolution over the same clusters: the longest doc
    // (ties to min doc_id) is kept per cluster, singletons keep
    // themselves. Same recursive closure, then an argmax row_number.
    "dedup_cluster_resolve" ->
      s"""WITH RECURSIVE $minhashPairsCte,
         |jp AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.5),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM jp
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM jp),
         |walk(id, r) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT w.id, e.dst FROM walk w JOIN edges e ON w.r = e.src),
         |reps AS (
         |  SELECT id, least(id, min(r)) AS rep FROM walk GROUP BY id),
         |alldocs AS (
         |  SELECT d.doc_id,
         |         coalesce(reps.rep, d.doc_id) AS cluster_rep,
         |         coalesce(length(d.text), 0) AS text_len
         |  FROM documents d LEFT JOIN reps ON d.doc_id = reps.id),
         |sized AS (
         |  SELECT doc_id, cluster_rep, text_len,
         |         count(*) OVER (PARTITION BY cluster_rep) AS cluster_size,
         |         row_number() OVER (PARTITION BY cluster_rep
         |                            ORDER BY text_len DESC, doc_id) AS rn
         |  FROM alldocs)
         |SELECT doc_id, cluster_rep, cluster_size, text_len, rn = 1 AS keep
         |FROM sized""".stripMargin,
    // revision-chain components: per-source chains make the component =
    // the source, so the oracle needs NO recursive closure — cluster_rep
    // and cluster_size are window functions over documents. Sources with
    // a single doc contribute no edge and are absent (n > 1 filter).
    "dedup_revision_chains" ->
      """WITH s AS (
        |  SELECT doc_id,
        |         count(*)  OVER (PARTITION BY source) AS n,
        |         min(doc_id) OVER (PARTITION BY source) AS rep
        |  FROM documents)
        |SELECT doc_id, rep AS cluster_rep, CAST(n AS BIGINT) AS cluster_size
        |FROM s WHERE n > 1 ORDER BY doc_id""".stripMargin,
    "text_rolling_hash" ->
      """SELECT doc_id,
        |       list_reduce(string_split_regex(text, '\s+'),
        |                   (acc, t) -> md5(acc || '|' || t)) AS rolling_hash
        |FROM documents""".stripMargin,
    // Bit-exact twin of DedupOps.simhashDupPairs (maxHamming=6): the 64
    // per-bit sign sums, the '0'/'1' sketch string, the four 16-bit bands
    // and the hamming sum are generated below with the same md5-nibble bit
    // rule ((strpos('0123456789abcdef', substr(md5(tk), 1+i/4, 1))-1 >>
    // (3-i%4)) & 1) the engine uses.
    "dedup_simhash" -> {
      val bitSums = (0 until 64).map { i =>
        s"sum((((strpos('0123456789abcdef', substr(h, ${1 + i / 4}, 1)) - 1) >> ${3 - i % 4}) & 1) * 2 - 1) AS b$i"
      }.mkString(",\n         ")
      val simExpr = (0 until 64)
        .map(i => s"(CASE WHEN b$i > 0 THEN '1' ELSE '0' END)")
        .mkString(" || ")
      val hamming = (1 to 64)
        .map(i => s"(CASE WHEN substr(sim_a, $i, 1) <> substr(sim_b, $i, 1) THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tk FROM documents),
         |h AS (SELECT doc_id, md5(tk) AS h FROM tok),
         |bits AS (
         |  SELECT doc_id,
         |         $bitSums
         |  FROM h GROUP BY doc_id),
         |sim AS (SELECT doc_id, $simExpr AS sim FROM bits),
         |band AS (
         |  SELECT doc_id, sim,
         |         unnest([b::VARCHAR || '_' || substr(sim, b*16 + 1, 16)
         |                 for b in range(0, 4)]) AS band
         |  FROM sim),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         a.sim AS sim_a, b.sim AS sim_b
         |  FROM band a JOIN band b ON a.band = b.band AND a.doc_id < b.doc_id),
         |hm AS (
         |  SELECT doc_a, doc_b, CAST($hamming AS INTEGER) AS hamming
         |  FROM pairs)
         |SELECT doc_a, doc_b, hamming FROM hm WHERE hamming <= 6""".stripMargin
    },
    "emb_neardup_exact" ->
      """WITH e AS (
        |  SELECT vec_id, label, [x::DOUBLE for x in embedding] AS emb FROM embeddings),
        |n AS (
        |  SELECT vec_id, label, emb, sqrt(list_sum([x*x for x in emb])) AS nrm FROM e),
        |p AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
        |         floor((CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
        |                ELSE list_sum([a.emb[i]*b.emb[i] for i in range(1, len(a.emb)+1)])
        |                     / (a.nrm*b.nrm) END) * 1000000 + 0.5)/1000000 AS cos_sim
        |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, label, cos_sim FROM p WHERE cos_sim >= 0.35""".stripMargin,
    "emb_neardup_lsh" ->
      s"""WITH $embLshPairsCte
         |SELECT vec_a, vec_b, cos_sim FROM p WHERE cos_sim >= 0.35""".stripMargin,
    // k-NN join: same deterministic sign buckets, BOTH directions (every
    // vector ranks its own neighbors), row_number over (rounded cos desc,
    // neighbor asc) — the engine's exact tie rule. The bit count is
    // ADAPTIVE (smallest b in [1,16] with 128·2^b >= n — restating
    // SimilarityOps.adaptiveSignBits in integer SQL), so the oracle picks
    // the identical bucket granularity from the data at any scale. Two
    // large-n/small-dim edges are pinned to the engine's exact behavior:
    // coalesce(min(b), 16) matches adaptiveSignBits' getOrElse(16) when no
    // b in [1,16] covers n, and rpad(..., 16, '0') matches signBucket's
    // null-element_at-past-the-end → '0' padding when dim < 16 — including
    // dim = 0, where list_aggregate([]) returns NULL (not '') and the
    // inner coalesce keeps the all-zeros bucket the engine emits.
    "ann_knn_join" ->
      """WITH p AS (
        |  SELECT coalesce(min(b), 16) AS bits
        |  FROM range(1, 17) t(b), (SELECT count(*) AS n FROM embeddings) nn
        |  WHERE 128 * (1 << b) >= n),
        |e AS (
        |  SELECT vec_id, [x::DOUBLE for x in embedding] AS emb FROM embeddings),
        |n AS (
        |  SELECT vec_id, emb, sqrt(list_sum([x*x for x in emb])) AS nrm,
        |         substr(rpad(coalesce(list_aggregate(
        |             [CASE WHEN x >= 0 THEN '1' ELSE '0' END for x in emb[1:16]],
        |             'string_agg', ''), ''), 16, '0'), 1, (SELECT bits FROM p)) AS bucket
        |  FROM e),
        |c AS (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
        |         floor((CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
        |                ELSE list_sum([a.emb[i]*b.emb[i] for i in range(1, len(a.emb)+1)])
        |                     / (a.nrm*b.nrm) END) * 1000000 + 0.5)/1000000 AS cos_sim
        |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        |r AS (
        |  SELECT vec_id, neighbor_id, cos_sim,
        |         row_number() OVER (PARTITION BY vec_id
        |                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        |  FROM c)
        |SELECT vec_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank
        |FROM r WHERE rank <= 3""".stripMargin,
    // the fp64 knn-join oracle with scoring moved onto the exact int8
    // codes (the ann_quantized quantization CTE): buckets from the raw
    // signs, codes/norms/scores replayed bit-for-bit
    "ann_knn_join_q8" ->
      """WITH p AS (
        |  SELECT coalesce(min(b), 16) AS bits
        |  FROM range(1, 17) t(b), (SELECT count(*) AS n FROM embeddings) nn
        |  WHERE 128 * (1 << b) >= n),
        |e AS (
        |  SELECT vec_id, [x::DOUBLE for x in embedding] AS emb FROM embeddings),
        |qz AS (
        |  SELECT vec_id, emb,
        |         CASE WHEN list_max([abs(x) for x in emb]) = 0
        |              THEN [0.0 for x in emb]
        |              ELSE [floor(x * 127.0 / list_max([abs(y) for y in emb]) + 0.5) for x in emb]
        |         END AS qv,
        |         substr(rpad(coalesce(list_aggregate(
        |             [CASE WHEN x >= 0 THEN '1' ELSE '0' END for x in emb[1:16]],
        |             'string_agg', ''), ''), 16, '0'), 1, (SELECT bits FROM p)) AS bucket
        |  FROM e),
        |n AS (
        |  SELECT vec_id, qv, sqrt(list_inner_product(qv, qv)) AS qn, bucket FROM qz),
        |c AS (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
        |         floor((CASE WHEN a.qn = 0 OR b.qn = 0 THEN 0.0
        |                ELSE list_inner_product(a.qv, b.qv) / (a.qn*b.qn) END) * 1000000 + 0.5)
        |           / 1000000 AS cos_q
        |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        |r AS (
        |  SELECT vec_id, neighbor_id, cos_q,
        |         row_number() OVER (PARTITION BY vec_id
        |                            ORDER BY cos_q DESC, neighbor_id ASC) AS rank
        |  FROM c)
        |SELECT vec_id, neighbor_id, cos_q, CAST(rank AS INTEGER) AS rank
        |FROM r WHERE rank <= 3""".stripMargin,
    // Cluster resolution over the embedding near-dup pair graph — same
    // recursive-closure oracle shape as dedup_clusters.
    "emb_neardup_clusters" ->
      s"""WITH RECURSIVE $embLshPairsCte,
         |jp AS (SELECT vec_a, vec_b FROM p WHERE cos_sim >= 0.35),
         |edges AS (
         |  SELECT vec_a AS src, vec_b AS dst FROM jp
         |  UNION
         |  SELECT vec_b AS src, vec_a AS dst FROM jp),
         |walk(id, r) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT w.id, e.dst FROM walk w JOIN edges e ON w.r = e.src),
         |reps AS (
         |  SELECT id, least(id, min(r)) AS rep FROM walk GROUP BY id)
         |SELECT id AS vec_id, rep AS cluster_rep,
         |       count(*) OVER (PARTITION BY rep) AS cluster_size
         |FROM reps""".stripMargin,
    // the closure CTE extended with a max-norm argmax window — the same
    // oracle shape as dedup_cluster_resolve, over embeddings
    "emb_semantic_resolve" ->
      s"""WITH RECURSIVE $embLshPairsCte,
         |jp AS (SELECT vec_a, vec_b FROM p WHERE cos_sim >= 0.35),
         |edges AS (
         |  SELECT vec_a AS src, vec_b AS dst FROM jp
         |  UNION
         |  SELECT vec_b AS src, vec_a AS dst FROM jp),
         |walk(id, r) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT w.id, e2.dst FROM walk w JOIN edges e2 ON w.r = e2.src),
         |reps AS (
         |  SELECT id, least(id, min(r)) AS rep FROM walk GROUP BY id),
         |nv AS (
         |  SELECT vec_id,
         |         floor(sqrt(list_sum([x*x for x in [y::DOUBLE for y in embedding]])) * 1000000 + 0.5)
         |           / 1000000 AS norm
         |  FROM embeddings),
         |lab AS (
         |  SELECT nv.vec_id, COALESCE(reps.rep, nv.vec_id) AS cluster_rep, nv.norm
         |  FROM nv LEFT JOIN reps ON nv.vec_id = reps.id)
         |SELECT vec_id, cluster_rep,
         |       count(*) OVER (PARTITION BY cluster_rep) AS cluster_size,
         |       norm,
         |       row_number() OVER (PARTITION BY cluster_rep
         |                          ORDER BY norm DESC, vec_id) = 1 AS keep
         |FROM lab""".stripMargin,
    "ann_lsh" ->
      """WITH e AS (
        |  SELECT vec_id, label, [x::DOUBLE for x in embedding] AS emb FROM embeddings),
        |n AS (
        |  SELECT vec_id, label, emb, sqrt(list_sum([x*x for x in emb])) AS nrm,
        |         (CASE WHEN emb[1] >= 0 THEN '1' ELSE '0' END)||(CASE WHEN emb[2] >= 0 THEN '1' ELSE '0' END)||
        |         (CASE WHEN emb[3] >= 0 THEN '1' ELSE '0' END)||(CASE WHEN emb[4] >= 0 THEN '1' ELSE '0' END)||
        |         (CASE WHEN emb[5] >= 0 THEN '1' ELSE '0' END)||(CASE WHEN emb[6] >= 0 THEN '1' ELSE '0' END) AS bucket
        |  FROM e),
        |q AS (SELECT emb AS qe, nrm AS qn, bucket AS qb FROM n WHERE vec_id = 0)
        |SELECT n.vec_id, n.label,
        |       floor((list_sum([n.emb[i]*qe[i] for i in range(1, len(n.emb)+1)])
        |              / (n.nrm*qn)) * 1000000 + 0.5)/1000000 AS cos_sim
        |FROM n, q
        |WHERE n.vec_id <> 0 AND n.bucket = qb
        |ORDER BY cos_sim DESC, n.vec_id ASC
        |LIMIT 5""".stripMargin,
    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "typed_group_stats" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
        |       min(o_totalprice) AS min_price,
        |       max(o_totalprice) AS max_price
        |FROM orders GROUP BY o_custkey""".stripMargin,
    "agg_collect_sorted" ->
      """SELECT l_returnflag,
        |       string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
        |       count(DISTINCT l_linestatus) AS n_statuses
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // exact type-7 interpolated percentiles: quantile_cont twins Spark's
    // percentile(); both interpolate linearly over the sorted group
    "agg_exact_percentiles" ->
      """SELECT o_orderpriority,
        |       floor(quantile_cont(o_totalprice, 0.5) * 10000 + 0.5) / 10000 AS p50,
        |       floor(quantile_cont(o_totalprice, 0.9) * 10000 + 0.5) / 10000 AS p90,
        |       count(*) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    // argmax over the total order (price, key) — stated as a window so the
    // tiebreak is explicit
    "agg_max_by" ->
      """WITH r AS (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderstatus
        |                            ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |SELECT o_orderstatus, o_orderkey AS top_orderkey,
        |       o_totalprice AS top_price
        |FROM r WHERE rn = 1""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
        |       count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,
    "agg_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // the HLL estimate is engine-specific, but the gate emits the exact
    // count plus an in-engine 6·rsd band verdict — the oracle recomputes
    // the exact count and expects the verdict true, so a drifted sketch
    // hash-fails
    "agg_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact,
        |       TRUE AS within_6rsd
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // hash-gated since round 9 (was rows-only): the exact top-20 keys and
    // counts are oracle-recomputable; the CMS bin layout is not, so the
    // sketch's guarantees land as two booleans the oracle states as
    // constants (never_under is a hard CMS property; within_bound is the
    // 5·(⌈eps·N⌉+1) Markov slack). GateInvariants independently
    // recomputes the estimates and requires verdict == recomputation, so
    // the booleans are not self-certified.
    "sketch_cms_topk" ->
      """WITH c AS (
        |  SELECT l_partkey, count(*) AS n_exact
        |  FROM lineitem GROUP BY 1
        |  ORDER BY n_exact DESC, l_partkey ASC
        |  LIMIT 20)
        |SELECT l_partkey, CAST(n_exact AS BIGINT) AS n_exact,
        |       TRUE AS never_under, TRUE AS within_bound
        |FROM c
        |ORDER BY n_exact DESC, l_partkey ASC""".stripMargin,
    // KMV bottom-k sketch: deterministic (k smallest md5 digests of the
    // value set), so the ESTIMATE itself is recomputed bit-for-bit — the
    // k-th digest's first 12 nibbles parsed with the same strpos
    // arithmetic the simhash oracle uses, one exact-double division
    "sketch_kmv_distinct" -> {
      val nibbles = (0 until 12)
        .map(i => s"(strpos('0123456789abcdef', substr(hk, ${i + 1}, 1)) - 1) * ${math.pow(16, 11 - i).toLong}.0")
        .mkString(" +\n         ")
      s"""WITH v AS (
         |  SELECT DISTINCT l_returnflag AS g, md5(CAST(l_partkey AS VARCHAR)) AS h
         |  FROM lineitem),
         |r AS (
         |  SELECT g, h,
         |         row_number() OVER (PARTITION BY g ORDER BY h) AS rn,
         |         count(*) OVER (PARTITION BY g) AS nd
         |  FROM v),
         |kth AS (SELECT g, h AS hk FROM r WHERE rn = 32),
         |base AS (SELECT g, max(nd) AS nd FROM r GROUP BY g),
         |est AS (
         |  SELECT b.g, b.nd,
         |         CASE WHEN k.hk IS NULL THEN CAST(b.nd AS DOUBLE)
         |              ELSE 31.0 * 281474976710656.0 /
         |       ($nibbles)
         |         END AS e
         |  FROM base b LEFT JOIN kth k ON b.g = k.g)
         |SELECT g AS l_returnflag, nd AS n_exact,
         |       floor(e * 100 + 0.5) / 100 AS kmv_estimate
         |FROM est""".stripMargin
    },
    // seeded sampleBy counts are partition-layout dependent; the gate
    // emits source counts plus an in-engine 6σ binomial band verdict per
    // stratum — wrong fraction / double sample / lost stratum flips it
    "sample_stratified" ->
      """SELECT o_orderstatus, count(*) AS n_source, TRUE AS in_band
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "text_category_counts" ->
      """SELECT CASE
        |         WHEN text IS NULL THEN 'scalar'
        |         WHEN lower(text) LIKE '%stream%' OR lower(text) LIKE '%window%'
        |              OR lower(text) LIKE '%watermark%' THEN 'streaming'
        |         WHEN lower(text) LIKE '%join%' OR lower(text) LIKE '%merge%'
        |              OR lower(text) LIKE '%hash%' THEN 'relational'
        |         ELSE 'scalar' END AS category,
        |       count(*) AS n
        |FROM documents GROUP BY 1""".stripMargin,
    // BM25 restated end-to-end: same Lucene formula, same 6-decimal
    // floor-rounding per term score, same DECIMAL accumulation per doc,
    // same (score desc, doc_id) tie-break. Every numeric literal is
    // e-notation so DuckDB parses DOUBLE, not DECIMAL — a DECIMAL
    // intermediate (e.g. exact tf·(1.2+1)) converts to double ONCE where
    // Spark's all-double pipeline rounds at each op, a 1-ulp divergence
    // on ~19% of inputs (measured) that a floor edge would turn into a
    // hash mismatch — the round-11 agg_incremental_rollup failure class
    "text_bm25_topk" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |dl AS (SELECT doc_id, len(toks) AS dl FROM d),
        |s AS (SELECT count(*) AS n_docs, sum(len(toks)) AS sum_dl FROM d),
        |tf AS (
        |  SELECT doc_id, w, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS w FROM d)
        |  WHERE w IN ('spark', 'join', 'stream')
        |  GROUP BY doc_id, w),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |ts AS (
        |  SELECT tf.doc_id,
        |         floor(ln(1e0 + (s.n_docs - df.df + 5e-1) / (df.df + 5e-1)) *
        |               (tf.tf * (1.2e0 + 1e0)) /
        |               (tf.tf + 1.2e0 * ((1e0 - 7.5e-1) + 7.5e-1 * dl.dl /
        |                 (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))
        |               * 1e6 + 5e-1) / 1e6 AS term_score
        |  FROM tf
        |  JOIN df USING (w)
        |  JOIN dl ON tf.doc_id = dl.doc_id
        |  CROSS JOIN s)
        |SELECT doc_id, count(*) AS n_terms,
        |       CAST(sum(CAST(term_score AS DECIMAL(28,6))) AS DOUBLE) AS score
        |FROM ts GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,
    // the bigram model restated on token text (the engine keys the same
    // counts by xxhash64 — identical counts absent a 2^-64 collision);
    // probabilities are exact counts under one double division, ln terms
    // 6-decimal-rounded then DECIMAL-summed (the zipf-slope idiom)
    "text_bigram_perplexity" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents),
        |bg0 AS (
        |  SELECT doc_id,
        |         unnest([{'w1': tk[i], 'sh': tk[i] || ' ' || tk[i+1]}
        |                 for i in range(1, len(tk))]) AS e
        |  FROM tok),
        |b AS (SELECT doc_id, e.w1 AS w1, e.sh AS sh FROM bg0),
        |c12 AS (SELECT sh, count(*) AS c12 FROM b GROUP BY sh),
        |c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY w1),
        |v AS (
        |  SELECT count(DISTINCT w) AS v
        |  FROM (SELECT unnest(tk) AS w FROM tok)),
        |sc AS (
        |  SELECT b.doc_id,
        |         floor(ln(CAST(c12.c12 + 1 AS DOUBLE) / CAST(c1.c1 + v.v AS DOUBLE))
        |               * 1000000 + 0.5) / 1000000 AS ln6
        |  FROM b JOIN c12 USING (sh) JOIN c1 USING (w1), v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       floor(((-CAST(sum(CAST(ln6 AS DECIMAL(28,6))) AS DOUBLE)) / count(*))
        |             * 1000000 + 0.5) / 1000000 AS avg_nll,
        |       floor(((-CAST(sum(CAST(ln6 AS DECIMAL(28,6))) AS DOUBLE)) / count(*))
        |             * 1000000 + 0.5) / 1000000 <= 3.4 AS keep
        |FROM sc GROUP BY doc_id""".stripMargin,
    // the merge-apply gate's oracle states the per-source rollup over
    // snapshot B DIRECTLY — the engine reconstructs B by applying the
    // derived changes feed to A, so the hash match is the CDC-apply proof
    "merge_apply_roundtrip" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |         CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1099511627776 AS doc_id, source, text
        |  FROM documents WHERE doc_id % 13 = 0)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |       min(md5(text)) AS min_digest,
        |       max(md5(text)) AS max_digest
        |FROM b GROUP BY source""".stripMargin,
    // anti-entropy: the oracle re-derives replica B and replays the same
    // three per-bucket accumulators (count, mod-2^48 id sum, mod-2^48
    // content-digest sum), then states the diverged buckets
    "replica_antientropy_diff" -> {
      val nibbles = (0 until 12)
        .map(i => s"(strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1) * ${math.pow(16, 11 - i).toLong}.0")
        .mkString(" +\n           ")
      s"""WITH b AS (
         |  SELECT doc_id, source,
         |         CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS text
         |  FROM documents WHERE doc_id % 7 <> 0
         |  UNION ALL
         |  SELECT doc_id + 1099511627776 AS doc_id, source, text
         |  FROM documents WHERE doc_id % 13 = 0),
         |ha AS (
         |  SELECT CAST(doc_id % 32 AS INT) AS bucket, doc_id,
         |         md5(coalesce(source, chr(1)) || '|' || coalesce(text, chr(1))) AS hx
         |  FROM documents),
         |hb AS (
         |  SELECT CAST(doc_id % 32 AS INT) AS bucket, doc_id,
         |         md5(coalesce(source, chr(1)) || '|' || coalesce(text, chr(1))) AS hx
         |  FROM b),
         |sa AS (
         |  SELECT bucket, count(*) AS n_rows_a,
         |         CAST(sum(CAST(doc_id AS DECIMAL(38,0))) % 281474976710656 AS BIGINT) AS id_sum_a,
         |         CAST(sum(CAST(($nibbles) AS DECIMAL(38,0))) % 281474976710656 AS BIGINT) AS digest_a
         |  FROM ha GROUP BY bucket),
         |sb AS (
         |  SELECT bucket, count(*) AS n_rows_b,
         |         CAST(sum(CAST(doc_id AS DECIMAL(38,0))) % 281474976710656 AS BIGINT) AS id_sum_b,
         |         CAST(sum(CAST(($nibbles) AS DECIMAL(38,0))) % 281474976710656 AS BIGINT) AS digest_b
         |  FROM hb GROUP BY bucket)
         |SELECT coalesce(sa.bucket, sb.bucket) AS bucket,
         |       n_rows_a, n_rows_b, digest_a, digest_b
         |FROM sa FULL OUTER JOIN sb ON sa.bucket = sb.bucket
         |WHERE NOT (n_rows_a IS NOT DISTINCT FROM n_rows_b
         |       AND id_sum_a IS NOT DISTINCT FROM id_sum_b
         |       AND digest_a IS NOT DISTINCT FROM digest_b)""".stripMargin
    },
    // bucket-scoped repair restores replica A exactly — the oracle states
    // rollup(A) straight from the source table
    "replica_repair_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |       min(md5(text)) AS min_digest,
        |       max(md5(text)) AS max_digest
        |FROM documents GROUP BY source""".stripMargin,
    // multi-batch CDC gates: the oracle derives snapshot C (the second
    // hop) as a nested CTE over the same B derivation — doc_id % 5
    // dropped, ' v2' appended where % 9 (null text stays null on both
    // engines), % 21 re-added under +2^41 — and states rollup(C)
    // directly. Sequential-apply and compacted-apply are two independent
    // engine paths against this ONE oracle.
    "merge_apply_multibatch" ->
      """WITH b AS (
          |  SELECT doc_id, source,
          |         CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS text
          |  FROM documents WHERE doc_id % 7 <> 0
          |  UNION ALL
          |  SELECT doc_id + 1099511627776 AS doc_id, source, text
          |  FROM documents WHERE doc_id % 13 = 0),
          |c AS (
          |  SELECT doc_id, source,
          |         CASE WHEN doc_id % 9 = 0 THEN text || ' v2' ELSE text END AS text
          |  FROM b WHERE doc_id % 5 <> 0
          |  UNION ALL
          |  SELECT doc_id + 2199023255552 AS doc_id, source, text
          |  FROM b WHERE doc_id % 21 = 0)
          |SELECT source, count(*) AS n_docs,
          |       CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS total_chars,
          |       min(md5(text)) AS min_digest,
          |       max(md5(text)) AS max_digest
          |FROM c GROUP BY source""".stripMargin,
    "merge_apply_compacted" ->
      """WITH b AS (
          |  SELECT doc_id, source,
          |         CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS text
          |  FROM documents WHERE doc_id % 7 <> 0
          |  UNION ALL
          |  SELECT doc_id + 1099511627776 AS doc_id, source, text
          |  FROM documents WHERE doc_id % 13 = 0),
          |c AS (
          |  SELECT doc_id, source,
          |         CASE WHEN doc_id % 9 = 0 THEN text || ' v2' ELSE text END AS text
          |  FROM b WHERE doc_id % 5 <> 0
          |  UNION ALL
          |  SELECT doc_id + 2199023255552 AS doc_id, source, text
          |  FROM b WHERE doc_id % 21 = 0)
          |SELECT source, count(*) AS n_docs,
          |       CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS total_chars,
          |       min(md5(text)) AS min_digest,
          |       max(md5(text)) AS max_digest
          |FROM c GROUP BY source""".stripMargin,
    // checkpointed apply — the THIRD independent engine path to snapshot
    // C (stored checkpoint of B + Δ₂), against the same rollup(C) oracle
    "merge_apply_checkpointed" ->
      """WITH b AS (
          |  SELECT doc_id, source,
          |         CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS text
          |  FROM documents WHERE doc_id % 7 <> 0
          |  UNION ALL
          |  SELECT doc_id + 1099511627776 AS doc_id, source, text
          |  FROM documents WHERE doc_id % 13 = 0),
          |c AS (
          |  SELECT doc_id, source,
          |         CASE WHEN doc_id % 9 = 0 THEN text || ' v2' ELSE text END AS text
          |  FROM b WHERE doc_id % 5 <> 0
          |  UNION ALL
          |  SELECT doc_id + 2199023255552 AS doc_id, source, text
          |  FROM b WHERE doc_id % 21 = 0)
          |SELECT source, count(*) AS n_docs,
          |       CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS total_chars,
          |       min(md5(text)) AS min_digest,
          |       max(md5(text)) AS max_digest
          |FROM c GROUP BY source""".stripMargin,
    // maintained rollup through BOTH batches — same C derivation, stated
    // in the rollupStats shape (mod-2^48 BIGINT digest sums)
    "agg_incremental_rollup_multi" -> rollupOfCMaintainedSql,
    // the STREAMED maintenance path lands on the same truth: rollup(C)
    // in the rollupStats shape (identical oracle to the batch multi-hop
    // gate — three independent engine paths, one stated answer)
    "agg_incremental_rollup_streamed" -> rollupOfCMaintainedSql,
    // purge: the oracle derives C and filters AFTER the fact — a hash
    // match proves purging base+changelog commutes with reconstruction
    "retention_purge" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |         CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1099511627776 AS doc_id, source, text
        |  FROM documents WHERE doc_id % 13 = 0),
        |c AS (
        |  SELECT doc_id, source,
        |         CASE WHEN doc_id % 9 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM b WHERE doc_id % 5 <> 0
        |  UNION ALL
        |  SELECT doc_id + 2199023255552 AS doc_id, source, text
        |  FROM b WHERE doc_id % 21 = 0)
        |SELECT source, count(*) AS n_docs,
        |       CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS total_chars,
        |       min(md5(text)) AS min_digest,
        |       max(md5(text)) AS max_digest
        |FROM c WHERE doc_id % 17 <> 3
        |GROUP BY source""".stripMargin,
    // time travel: the oracle restates every version's global rollup from
    // its own A/B/C derivations — same nibble digest arithmetic as the
    // maintained-rollup oracles, mod-2^48 BIGINT digest sums
    "time_travel_history" -> {
      val nibbles = (0 until 12)
        .map(i => s"(strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1) * ${math.pow(16, 11 - i).toLong}.0")
        .mkString(" + ")
      s"""WITH b AS (
         |  SELECT doc_id, source,
         |         CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS text
         |  FROM documents WHERE doc_id % 7 <> 0
         |  UNION ALL
         |  SELECT doc_id + 1099511627776 AS doc_id, source, text
         |  FROM documents WHERE doc_id % 13 = 0),
         |c AS (
         |  SELECT doc_id, source,
         |         CASE WHEN doc_id % 9 = 0 THEN text || ' v2' ELSE text END AS text
         |  FROM b WHERE doc_id % 5 <> 0
         |  UNION ALL
         |  SELECT doc_id + 2199023255552 AS doc_id, source, text
         |  FROM b WHERE doc_id % 21 = 0),
         |h0 AS (SELECT text, md5(text) AS hx FROM documents),
         |h1 AS (SELECT text, md5(text) AS hx FROM b),
         |h2 AS (SELECT text, md5(text) AS hx FROM c)
         |SELECT 0 AS version, count(*) AS n_docs,
         |       CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS total_chars,
         |       CAST(coalesce(sum(CAST(($nibbles) AS DECIMAL(38,0))), 0)
         |            % 281474976710656 AS BIGINT) AS digest_sum
         |FROM h0
         |UNION ALL
         |SELECT 1, count(*), CAST(coalesce(sum(length(text)), 0) AS BIGINT),
         |       CAST(coalesce(sum(CAST(($nibbles) AS DECIMAL(38,0))), 0)
         |            % 281474976710656 AS BIGINT)
         |FROM h1
         |UNION ALL
         |SELECT 2, count(*), CAST(coalesce(sum(length(text)), 0) AS BIGINT),
         |       CAST(coalesce(sum(CAST(($nibbles) AS DECIMAL(38,0))), 0)
         |            % 281474976710656 AS BIGINT)
         |FROM h2
         |ORDER BY 1""".stripMargin
    },
    // write-audit-publish: the oracle restates both batches (b2 is the
    // ≡1 mod 3 slice twice — the double-write), the audit arithmetic,
    // the verdicts, and each batch's published row count (aborted ⇒ 0) —
    // a protocol that leaked the bad batch would fail on the last column
    "pipeline_wap_commit" ->
      """WITH b1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        |b2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
        |       UNION ALL
        |       SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
        |a1 AS (SELECT count(*) AS n_rows,
        |              count(*) - count(DISTINCT doc_id) AS v_pk,
        |              CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
        |                   AS BIGINT) AS v_text
        |       FROM b1),
        |a2 AS (SELECT count(*) AS n_rows,
        |              count(*) - count(DISTINCT doc_id) AS v_pk,
        |              CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
        |                   AS BIGINT) AS v_text
        |       FROM b2)
        |SELECT 'b1' AS batch, n_rows, v_pk, v_text,
        |       v_pk = 0 AND v_text * 20 <= n_rows AS published,
        |       CASE WHEN v_pk = 0 AND v_text * 20 <= n_rows
        |            THEN n_rows ELSE 0 END AS n_rows_published
        |FROM a1
        |UNION ALL
        |SELECT 'b2', n_rows, v_pk, v_text,
        |       v_pk = 0 AND v_text * 20 <= n_rows,
        |       CASE WHEN v_pk = 0 AND v_text * 20 <= n_rows
        |            THEN n_rows ELSE 0 END
        |FROM a2
        |ORDER BY 1""".stripMargin,
    // data-quality constraint report: every count restated independently
    // (aggregates + NOT EXISTS anti-joins); `passed` derived from the
    // counts on both sides, never engine-stated
    "dq_constraint_report" ->
      """WITH o AS (
        |  SELECT count(*) AS n_rows,
        |         count(*) - count(DISTINCT o_orderkey) AS v_pk,
        |         sum(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) AS v_custkey,
        |         sum(CASE WHEN o_orderstatus IN ('F','O','P') THEN 0 ELSE 1 END) AS v_status,
        |         sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM')
        |             THEN 0 ELSE 1 END) AS v_priority,
        |         sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS v_price
        |  FROM orders),
        |ofk AS (
        |  SELECT count(*) AS v FROM orders o2
        |  WHERE o2.o_custkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o2.o_custkey)),
        |d AS (
        |  SELECT count(*) AS n_rows,
        |         count(*) - count(DISTINCT doc_id) AS v_pk,
        |         sum(CASE WHEN text IS NOT NULL THEN 0 ELSE 1 END) AS v_text
        |  FROM documents),
        |l AS (
        |  SELECT count(*) AS n_rows,
        |         sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS v_qty
        |  FROM lineitem),
        |lfk AS (
        |  SELECT count(*) AS v FROM lineitem li
        |  WHERE li.l_orderkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = li.l_orderkey)),
        |r AS (
        |  SELECT 'orders_pk_unique' AS c, o.n_rows AS n, o.v_pk AS v FROM o
        |  UNION ALL SELECT 'orders_custkey_not_null', o.n_rows, o.v_custkey FROM o
        |  UNION ALL SELECT 'orders_status_domain', o.n_rows, o.v_status FROM o
        |  UNION ALL SELECT 'orders_priority_subset', o.n_rows, o.v_priority FROM o
        |  UNION ALL SELECT 'orders_totalprice_positive', o.n_rows, o.v_price FROM o
        |  UNION ALL SELECT 'orders_fk_customer', o.n_rows, ofk.v FROM o, ofk
        |  UNION ALL SELECT 'documents_pk_unique', d.n_rows, d.v_pk FROM d
        |  UNION ALL SELECT 'documents_text_complete', d.n_rows, d.v_text FROM d
        |  UNION ALL SELECT 'lineitem_quantity_range', l.n_rows, l.v_qty FROM l
        |  UNION ALL SELECT 'lineitem_fk_orders', l.n_rows, lfk.v FROM l, lfk)
        |SELECT c AS "constraint", CAST(n AS BIGINT) AS n_rows,
        |       CAST(v AS BIGINT) AS n_violations,
        |       CASE WHEN c = 'documents_text_complete' THEN v * 20 <= n
        |            ELSE v = 0 END AS passed
        |FROM r ORDER BY 1""".stripMargin,
    // deterministic hash split: the oracle replays the md5-nibble bucket
    // of every doc_id's decimal string, so each doc's train/val/test
    // assignment must agree, not just the totals
    "split_hash_counts" ->
      """WITH h AS (
        |  SELECT n_chars,
        |         (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 +
        |         (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bucket
        |  FROM documents),
        |s AS (
        |  SELECT CASE WHEN bucket < 205 THEN 'train'
        |              WHEN bucket < 230 THEN 'val'
        |              ELSE 'test' END AS split, bucket, n_chars
        |  FROM h)
        |SELECT split, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       CAST(min(bucket) AS INT) AS min_bucket,
        |       CAST(max(bucket) AS INT) AS max_bucket
        |FROM s GROUP BY split ORDER BY split""".stripMargin,
    // KS-style split-representativeness: same bucketing, equal-width
    // integer grid, cross-multiplied integer ppm gaps — all replayed
    "dq_split_distribution" ->
      """WITH h AS (
        |  SELECT n_chars,
        |         (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 +
        |         (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bucket
        |  FROM documents),
        |s AS (
        |  SELECT CASE WHEN bucket < 205 THEN 'train'
        |              WHEN bucket < 230 THEN 'val'
        |              ELSE 'test' END AS split, n_chars
        |  FROM h),
        |a AS (SELECT split, n_chars FROM s WHERE split IN ('train', 'test')),
        |x AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM a),
        |g AS (SELECT k, mn + ((mx - mn) * k) // 10 AS grid_value
        |      FROM x, unnest(generate_series(1, 9)) AS t(k)),
        |c AS (
        |  SELECT g.k, g.grid_value,
        |         CAST(sum(CASE WHEN a.split = 'train' AND a.n_chars <= g.grid_value
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_train_le,
        |         CAST(sum(CASE WHEN a.split = 'test' AND a.n_chars <= g.grid_value
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_test_le,
        |         CAST(sum(CASE WHEN a.split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_tr,
        |         CAST(sum(CASE WHEN a.split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_te
        |  FROM a, g GROUP BY g.k, g.grid_value)
        |SELECT CAST(k AS INT) AS k, grid_value, n_train_le, n_test_le,
        |       CAST(abs(CAST(n_train_le AS HUGEINT) * n_te -
        |                CAST(n_test_le AS HUGEINT) * n_tr) * 1000000
        |            // (CAST(n_tr AS HUGEINT) * n_te) AS BIGINT) AS gap_ppm
        |FROM c""".stripMargin,
    // incremental rollup maintenance: the oracle states rollup(B) from its
    // own derivation of B (the engine path only ever reads rollup(A) + the
    // delta feed) — per-row digest terms are the first 12 md5 nibbles
    // parsed with the kmv oracle's strpos arithmetic, summed exactly as
    // DECIMAL(38,0) then reduced mod 2^48 into a BIGINT: the round-11
    // driver capture proved an unbounded DECIMAL column is hash-hostile
    // (the raw sum crosses 2^53 between SFs and a float hop in any
    // canonicalizer silently rounds it), so every emitted digest_sum is
    // now an exactly-float-representable int64 on both sides; char sums
    // coalesce to 0 to match the engine's non-null maintenance contract
    "agg_incremental_rollup" -> {
      val nibbles = (0 until 12)
        .map(i => s"(strpos('0123456789abcdef', substr(hx, ${i + 1}, 1)) - 1) * ${math.pow(16, 11 - i).toLong}.0")
        .mkString(" +\n           ")
      s"""WITH b AS (
         |  SELECT doc_id, source,
         |         CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS text
         |  FROM documents WHERE doc_id % 7 <> 0
         |  UNION ALL
         |  SELECT doc_id + 1099511627776 AS doc_id, source, text
         |  FROM documents WHERE doc_id % 13 = 0),
         |h AS (SELECT source, text, md5(text) AS hx FROM b)
         |SELECT source, count(*) AS n_docs,
         |       CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS total_chars,
         |       CAST(coalesce(sum(CAST(($nibbles) AS DECIMAL(38,0))), 0)
         |            % 281474976710656 AS BIGINT) AS digest_sum
         |FROM h GROUP BY source""".stripMargin
    },
    // KMV shard-merge: BOTH estimates restated structurally — merged via
    // per-source bottom-k windows then a global window over the ≤ k×sources
    // merge input, direct via the corpus-wide bottom-k (the existing kmv
    // oracle's shape) — same exact nibble arithmetic, one IEEE division;
    // the equality flag is computed from the two restatements, not assumed
    "sketch_kmv_merge" -> {
      def nib(c: String) = (0 until 12)
        .map(i => s"(strpos('0123456789abcdef', substr($c, ${i + 1}, 1)) - 1) * ${math.pow(16, 11 - i).toLong}.0")
        .mkString(" +\n           ")
      s"""WITH v AS (
         |  SELECT DISTINCT source, md5(text) AS h
         |  FROM documents WHERE text IS NOT NULL),
         |shard AS (
         |  SELECT source, h,
         |         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         |  FROM v),
         |mu AS (SELECT DISTINCT h FROM shard WHERE rn <= 32),
         |mr AS (
         |  SELECT h, row_number() OVER (ORDER BY h) AS rn,
         |         count(*) OVER () AS tot
         |  FROM mu),
         |mb AS (SELECT least(max(tot), 32) AS sz FROM mr),
         |mk AS (SELECT h AS hk FROM mr WHERE rn = 32),
         |me AS (
         |  SELECT CASE WHEN k.hk IS NULL THEN CAST(b.sz AS DOUBLE)
         |              ELSE 31.0 * 281474976710656.0 / (${nib("k.hk")})
         |         END AS e
         |  FROM mb b LEFT JOIN mk k ON TRUE),
         |d AS (SELECT DISTINCT h FROM v),
         |dr AS (
         |  SELECT h, row_number() OVER (ORDER BY h) AS rn,
         |         count(*) OVER () AS nd
         |  FROM d),
         |db AS (SELECT least(max(nd), 32) AS sz FROM dr),
         |dk AS (SELECT h AS hk FROM dr WHERE rn = 32),
         |de AS (
         |  SELECT CASE WHEN k.hk IS NULL THEN CAST(b.sz AS DOUBLE)
         |              ELSE 31.0 * 281474976710656.0 / (${nib("k.hk")})
         |         END AS e
         |  FROM db b LEFT JOIN dk k ON TRUE)
         |SELECT (SELECT count(DISTINCT source) FROM documents) AS n_sources,
         |       (SELECT count(DISTINCT md5(text)) FROM documents) AS n_exact,
         |       floor(me.e * 100 + 0.5) / 100 AS merged_estimate,
         |       floor(de.e * 100 + 0.5) / 100 AS direct_estimate,
         |       floor(me.e * 100 + 0.5) / 100 = floor(de.e * 100 + 0.5) / 100
         |         AS merge_equals_direct
         |FROM me, de""".stripMargin
    },
    // HLL estimates are DataSketches-internal, so the oracle states only
    // the exact counts and the two booleans as `true`; GateInvariants
    // recomputes both booleans from the raw estimates engine-side, so a
    // doctored or inverted verdict fails at verify time (the standard
    // verdict-gate posture)
    "sketch_hll_merge" ->
      """SELECT count(DISTINCT source) AS n_sources,
        |       count(DISTINCT md5(text)) AS n_exact,
        |       TRUE AS merged_in_band,
        |       TRUE AS direct_in_band
        |FROM documents WHERE text IS NOT NULL""".stripMargin,
    // persisted-sketch round trip: oracle states the exact counts and
    // the three booleans as TRUE; GateInvariants recomputes all three
    // from a fresh read of the stored table (verdict-gate posture)
    "sketch_hll_persisted" ->
      """SELECT count(DISTINCT source) AS n_sources,
        |       count(DISTINCT md5(text)) AS n_exact,
        |       TRUE AS stored_rows_match,
        |       TRUE AS storage_lossless,
        |       TRUE AS merged_in_band
        |FROM documents WHERE text IS NOT NULL""".stripMargin,
    // column storage audit: byte totals per column chunk — DuckDB reads
    // the same footers via parquet_metadata(); floor of the ×10 ratio is
    // exact-integer on both sides (dir literal rewritten per SF)
    "stats_column_sizes" ->
      """SELECT path_in_schema AS "column",
        |       CAST(sum(total_compressed_size) AS BIGINT) AS compressed_bytes,
        |       CAST(sum(total_uncompressed_size) AS BIGINT) AS uncompressed_bytes,
        |       CAST(floor(sum(total_uncompressed_size) * 10 /
        |                  sum(total_compressed_size)) AS BIGINT) AS compression_x10
        |FROM parquet_metadata('/root/testdata/sf0.01/documents.parquet')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // deterministic stratified sample: the oracle replays the digest
    // order row by row — exactly k per stratum on both engines
    "sample_hash_stratified" ->
      """SELECT source, doc_id, n_chars, CAST(rk AS INT) AS rk FROM (
        |  SELECT source, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY source
        |             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 5 ORDER BY source, rk""".stripMargin,
    // two independent parquet implementations reading the same footers:
    // the engine aggregates row-group stats via parquet-hadoop, DuckDB
    // via parquet_metadata() — the dir literal is the verify scale and
    // dev_check/driver rewrite it per SF (the binary-ingest convention)
    "stats_parquet_footer" ->
      """SELECT parse_filename(file_name) AS file_name,
        |       path_in_schema AS "column",
        |       CAST(sum(row_group_num_rows) AS BIGINT) AS n_rows,
        |       CAST(sum(stats_null_count) AS BIGINT) AS null_count,
        |       min(CAST(stats_min_value AS BIGINT)) AS min_value,
        |       max(CAST(stats_max_value AS BIGINT)) AS max_value,
        |       bool_and(stats_min_value IS NOT NULL
        |                AND stats_max_value IS NOT NULL) AS stats_complete
        |FROM parquet_metadata('/root/testdata/sf0.01/documents.parquet')
        |WHERE path_in_schema IN ('doc_id', 'n_chars')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // both ledger sides must equal the direct event count; the boolean
    // is derived from the two oracle-stated counts, so the whole row
    // hash-gates (no engine-specific value escapes into the hash)
    "events_progress_ledger" ->
      """SELECT count(*) AS rows_ingested,
        |       count(*) AS rows_in_sink,
        |       TRUE AS ledger_balanced
        |FROM events""".stripMargin,
    // same parquet_metadata surface as the stats gate; spans are exact
    // +1-inclusive long arithmetic on both sides
    "stats_clustering_depth" ->
      """WITH f AS (
        |  SELECT file_name, path_in_schema AS c,
        |         min(CAST(stats_min_value AS BIGINT)) AS mn,
        |         max(CAST(stats_max_value AS BIGINT)) AS mx
        |  FROM parquet_metadata('/root/testdata/sf0.01/documents.parquet')
        |  WHERE path_in_schema IN ('doc_id', 'n_chars')
        |  GROUP BY 1, 2
        |  HAVING bool_and(stats_min_value IS NOT NULL
        |                  AND stats_max_value IS NOT NULL))
        |SELECT c AS "column",
        |       count(*) AS n_files,
        |       CAST(sum(mx - mn + 1) AS BIGINT) AS span_sum,
        |       CAST(max(mx) - min(mn) + 1 AS BIGINT) AS global_span
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    // the pruned scan's lo/hi derive from integer min/max arithmetic the
    // oracle replays exactly (// is floor division; both operands
    // non-negative, so it equals Scala's Long truncation); the rollup is
    // stated from the SOURCE table — pruning must be invisible
    "stats_pruned_scan" -> {
      """WITH b AS (SELECT min(o_orderkey) AS lo0, max(o_orderkey) AS hi0
        |           FROM orders),
        |r AS (SELECT lo0 + (hi0 - lo0) // 4 AS lo,
        |             lo0 + 3 * (hi0 - lo0) // 4 AS hi FROM b)
        |SELECT o_orderstatus,
        |       count(*) AS n_orders,
        |       floor(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
        |             * 100 + 0.5) / 100 AS total_price,
        |       TRUE AS skipped_some
        |FROM orders, r
        |WHERE o_orderkey >= r.lo AND o_orderkey <= r.hi
        |GROUP BY o_orderstatus""".stripMargin
    },
    // the oracle replays the generation split (doc_id mod 2) on the source
    // table: even rows were written WITHOUT lang/n_chars, so their chars
    // backfill from the text and their lang reads null; odd rows keep the
    // fixture values (coalesce mirrors the engine's backfill exactly)
    "schema_evolution_rollup" ->
      """SELECT source, count(*) AS n_docs,
        |       count(CASE WHEN doc_id % 2 = 1 AND lang IS NOT NULL THEN 1 END)
        |         AS n_evolved,
        |       CAST(sum(CASE WHEN doc_id % 2 = 0 THEN length(text)
        |                     ELSE coalesce(n_chars, length(text)) END) AS BIGINT)
        |         AS total_chars
        |FROM documents GROUP BY source""".stripMargin,
    // typed zone maps: DuckDB renders every footer stat as VARCHAR; the
    // CASE-guarded casts decode each per the column's type (BIGINT and
    // shortest-round-trip DOUBLE round-trip exactly; TIMESTAMP via its
    // own MICROS decode; strings verbatim) — the dir literal is the
    // verify scale, rewritten per SF like the other metadata gates
    "stats_footer_typed" ->
      """WITH m AS (
        |  SELECT parse_filename(file_name) AS file_name,
        |         path_in_schema AS c, stats_min_value AS smin,
        |         stats_max_value AS smax, stats_null_count,
        |         row_group_num_rows
        |  FROM parquet_metadata('/root/testdata/sf0.01/orders.parquet')
        |  WHERE path_in_schema IN ('o_orderkey', 'o_orderstatus',
        |        'o_orderpriority', 'o_totalprice', 'o_orderdate'))
        |SELECT file_name, c AS "column",
        |       CAST(sum(row_group_num_rows) AS BIGINT) AS n_rows,
        |       CAST(coalesce(sum(stats_null_count), 0) AS BIGINT) AS null_count,
        |       min(CASE WHEN c = 'o_orderkey' THEN CAST(smin AS BIGINT) END) AS min_long,
        |       max(CASE WHEN c = 'o_orderkey' THEN CAST(smax AS BIGINT) END) AS max_long,
        |       min(CASE WHEN c = 'o_totalprice' THEN CAST(smin AS DOUBLE) END) AS min_double,
        |       max(CASE WHEN c = 'o_totalprice' THEN CAST(smax AS DOUBLE) END) AS max_double,
        |       min(CASE WHEN c IN ('o_orderstatus', 'o_orderpriority') THEN smin END) AS min_string,
        |       max(CASE WHEN c IN ('o_orderstatus', 'o_orderpriority') THEN smax END) AS max_string,
        |       min(CASE WHEN c = 'o_orderdate' THEN CAST(smin AS TIMESTAMP) END) AS min_ts,
        |       max(CASE WHEN c = 'o_orderdate' THEN CAST(smax AS TIMESTAMP) END) AS max_ts,
        |       bool_and(smin IS NOT NULL AND smax IS NOT NULL) AS stats_complete
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // multi-file clustering depth: both layouts' bucket arithmetic is
    // restated from the source table (range: (key-lo)*8 div span;
    // scatter: key mod 8) — per-bucket min/max ARE the per-file footer
    // extents because each bucket writes exactly one file, so the meter's
    // clustered-vs-scattered separation hash-gates end to end
    "stats_clustering_depth_multi" ->
      """WITH bounds AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi
        |                FROM orders),
        |rf AS (SELECT (o_orderkey - lo) * 8 // (hi - lo + 1) AS b,
        |              min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |       FROM orders, bounds GROUP BY 1),
        |sf AS (SELECT o_orderkey % 8 AS b,
        |              min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |       FROM orders GROUP BY 1)
        |SELECT 'range' AS layout, 'o_orderkey' AS "column",
        |       count(*) AS n_files,
        |       CAST(sum(mx - mn + 1) AS BIGINT) AS span_sum,
        |       CAST(max(mx) - min(mn) + 1 AS BIGINT) AS global_span
        |FROM rf
        |UNION ALL
        |SELECT 'scatter', 'o_orderkey', count(*),
        |       CAST(sum(mx - mn + 1) AS BIGINT),
        |       CAST(max(mx) - min(mn) + 1 AS BIGINT)
        |FROM sf
        |ORDER BY 1""".stripMargin,
    // typed pruning gates: the oracle restates each probe's derivation
    // (epoch-micros window arithmetic / fixed priority / one-third key)
    // and the filtered rollup from the source table — pruning must be
    // lossless regardless of which files were skipped; skipped_some is
    // oracle-stated TRUE and recomputed by GateInvariants
    "stats_pruned_scan_date" ->
      """WITH b AS (SELECT epoch_us(min(o_orderdate)) AS lo0,
        |                  epoch_us(max(o_orderdate)) AS hi0 FROM orders),
        |r AS (SELECT lo0 + (hi0 - lo0) // 4 AS lo,
        |             lo0 + 3 * (hi0 - lo0) // 4 AS hi FROM b)
        |SELECT o_orderpriority,
        |       count(*) AS n_orders,
        |       floor(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
        |             * 100 + 0.5) / 100 AS total_price,
        |       TRUE AS skipped_some
        |FROM orders, r
        |WHERE epoch_us(o_orderdate) >= r.lo AND epoch_us(o_orderdate) <= r.hi
        |GROUP BY o_orderpriority""".stripMargin,
    "stats_pruned_scan_string" ->
      """SELECT o_orderstatus,
        |       count(*) AS n_orders,
        |       floor(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
        |             * 100 + 0.5) / 100 AS total_price,
        |       TRUE AS skipped_some
        |FROM orders WHERE o_orderpriority = '3-MEDIUM'
        |GROUP BY o_orderstatus""".stripMargin,
    "stats_bloom_point_lookup" ->
      """WITH b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi
        |           FROM orders)
        |SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice,
        |       TRUE AS skipped_some
        |FROM orders, b WHERE o_orderkey = lo + (hi - lo) // 3""".stripMargin,
    // metadata-only aggregation: the oracle runs the DIRECT data
    // aggregates the footer answers must equal; the range layout holds
    // exactly the orders rows, so its key stats restate from the table
    "stats_metadata_agg" ->
      """SELECT 'documents.doc_id' AS "column", count(*) AS n_rows,
        |       CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS null_count,
        |       min(doc_id) AS min_value, max(doc_id) AS max_value,
        |       TRUE AS metadata_only
        |FROM documents
        |UNION ALL
        |SELECT 'documents.n_chars', count(*),
        |       CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       min(n_chars), max(n_chars), TRUE
        |FROM documents
        |UNION ALL
        |SELECT 'orders_range.o_orderkey', count(*),
        |       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       min(o_orderkey), max(o_orderkey), TRUE
        |FROM orders
        |ORDER BY 1""".stripMargin,
    // vacuum: orphans = the two uncommitted buckets of the deterministic
    // range layout; the oracle restates the bucket arithmetic (≥ 6) over
    // the source table — the rollup of the rows INSIDE the detected
    // orphans must match exactly in both directions (a false positive
    // would vacuum live data); found_orphans recomputed by GateInvariants
    "vacuum_orphan_scan" ->
      """WITH bounds AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi
        |                FROM orders)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |       floor(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
        |             * 100 + 0.5) / 100 AS total_price,
        |       CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |       CAST(max(o_orderkey) AS BIGINT) AS max_key,
        |       TRUE AS found_orphans
        |FROM orders, bounds
        |WHERE (o_orderkey - lo) * 8 // (hi - lo + 1) >= 6
        |GROUP BY o_orderstatus""".stripMargin,
    // mergeable quantile sketch: the oracle restates the hash-sample
    // predicate, the interpolated quantiles (shared floor-rounding), and
    // derives the in-band verdict from its OWN restated values — the
    // whole row hash-gates, estimate included (unlike HLL's
    // implementation-defined estimates)
    "sketch_quantile_sample" ->
      """WITH s AS (SELECT n_chars FROM documents
        |           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '3'),
        |sq AS (SELECT count(*) AS n_sample,
        |       floor(quantile_cont(n_chars, 0.25) * 10000 + 0.5) / 10000 AS s_p25,
        |       floor(quantile_cont(n_chars, 0.5) * 10000 + 0.5) / 10000 AS s_p50,
        |       floor(quantile_cont(n_chars, 0.75) * 10000 + 0.5) / 10000 AS s_p75
        |       FROM s),
        |eq AS (SELECT count(*) AS n_total,
        |       floor(quantile_cont(n_chars, 0.25) * 10000 + 0.5) / 10000 AS e_p25,
        |       floor(quantile_cont(n_chars, 0.5) * 10000 + 0.5) / 10000 AS e_p50,
        |       floor(quantile_cont(n_chars, 0.75) * 10000 + 0.5) / 10000 AS e_p75
        |       FROM documents)
        |SELECT n_total, n_sample, s_p25, s_p50, s_p75, e_p25, e_p50, e_p75,
        |       abs(s_p50 - e_p50) <= e_p50 * 0.2 AS p50_in_band
        |FROM eq, sq""".stripMargin,
    "sketch_quantile_by_source" ->
      """SELECT source, count(*) AS n_sample,
        |       floor(quantile_cont(n_chars, 0.5) * 10000 + 0.5) / 10000 AS s_p50,
        |       CAST(min(n_chars) AS BIGINT) AS s_min,
        |       CAST(max(n_chars) AS BIGINT) AS s_max
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '3'
        |GROUP BY source ORDER BY source""".stripMargin,
    // type-widening: the narrow generation's int32/float casts are
    // lossless by construction (n_chars < 2^31, score = n_chars*0.5 is
    // exact in float), so the oracle restates the widened values from
    // the source table directly — any widening shift breaks the hash
    "schema_evolution_widen" ->
      """SELECT source, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       min(CAST(n_chars AS DOUBLE) * 0.5) AS min_score,
        |       max(CAST(n_chars AS DOUBLE) * 0.5) AS max_score
        |FROM documents GROUP BY source""".stripMargin,
    // observed metrics are exact count/sum accumulators on the driving
    // pass — the oracle states every column directly (full hash gate)
    "observe_intake_stats" ->
      """SELECT count(*) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |       count(CASE WHEN length(text) < 100 THEN 1 END) AS short_docs,
        |       count(CASE WHEN length(text) >= 100 THEN 1 END) AS n_kept
        |FROM documents WHERE text IS NOT NULL""".stripMargin,
    // snapshot B derived in SQL exactly as SnapshotOps.syntheticSnapshotB
    // derives it; the diff compares md5 digests, so "a %11 doc whose text
    // has no letters stays unchanged" falls out identically on both sides
    "snapshot_diff_stats" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |         CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1099511627776 AS doc_id, source, text
        |  FROM documents WHERE doc_id % 13 = 0),
        |da AS (SELECT doc_id, source AS src_a, md5(text) AS dig_a FROM documents),
        |db AS (SELECT doc_id, source AS src_b, md5(text) AS dig_b FROM b),
        |d AS (
        |  SELECT COALESCE(db.src_b, da.src_a) AS source,
        |         CASE WHEN da.doc_id IS NULL THEN 'added'
        |              WHEN db.doc_id IS NULL THEN 'removed'
        |              WHEN da.dig_a IS DISTINCT FROM db.dig_b THEN 'changed'
        |              ELSE 'unchanged' END AS status
        |  FROM da FULL OUTER JOIN db ON da.doc_id = db.doc_id)
        |SELECT source, status, count(*) AS n
        |FROM d GROUP BY source, status""".stripMargin,
    "dedup_exact_stats" ->
      """SELECT source, count(*) AS n_docs,
        |       count(DISTINCT md5(text)) AS n_distinct,
        |       count(*) - count(DISTINCT md5(text)) AS n_dupes
        |FROM documents GROUP BY source""".stripMargin,
    "dedup_exact_docs" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "ann_brute_force" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, label,
        |       floor((list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |                                    CAST(qe AS DOUBLE[]))) * 1000000 + 0.5) / 1000000 AS cos_sim
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin,
    // truncated-dimension retrieval: prefix slice + the same cosine
    // idiom; the membership flag restated as a full-dim top-k subquery
    "ann_truncated_dims" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
        |tr AS (
        |  SELECT vec_id, label,
        |         floor(list_cosine_similarity(CAST(embedding AS DOUBLE[])[1:8], qe[1:8]) * 1000000 + 0.5) / 1000000 AS cos_trunc
        |  FROM embeddings, q WHERE vec_id <> 0
        |  ORDER BY cos_trunc DESC, vec_id ASC LIMIT 10),
        |f AS (
        |  SELECT vec_id,
        |         floor(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe) * 1000000 + 0.5) / 1000000 AS cos_sim
        |  FROM embeddings, q WHERE vec_id <> 0
        |  ORDER BY cos_sim DESC, vec_id ASC LIMIT 10)
        |SELECT tr.vec_id, tr.label, tr.cos_trunc,
        |       tr.vec_id IN (SELECT vec_id FROM f) AS in_full_topk
        |FROM tr""".stripMargin,
    // int8 quantization restated verbatim (Q8Pack's contract): q_i =
    // floor(x*127.0/ma + 0.5) is one IEEE op per step in a fixed order, so
    // the integer codes match the engine's packed bytes bit-for-bit and
    // every quantized quantity is exact (integer sums under sqrt + one
    // division). The exact-cosine error column reuses the ann_brute_force
    // list_cosine_similarity idiom.
    "ann_quantized" ->
      """WITH qz AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
        |         CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) = 0
        |              THEN list_transform(CAST(embedding AS DOUBLE[]), x -> 0.0)
        |              ELSE list_transform(CAST(embedding AS DOUBLE[]),
        |                     x -> floor(x * 127.0 / list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))) + 0.5))
        |         END AS qv
        |  FROM embeddings),
        |qq AS (SELECT emb AS q_emb, qv AS q_qv FROM qz WHERE vec_id = 0),
        |s AS (
        |  SELECT z.vec_id, z.label,
        |         list_inner_product(z.qv, q.q_qv) AS dq,
        |         sqrt(list_inner_product(z.qv, z.qv)) AS qn_a,
        |         sqrt(list_inner_product(q.q_qv, q.q_qv)) AS qn_b,
        |         list_cosine_similarity(z.emb, q.q_emb) AS cos_raw
        |  FROM qz z, qq q WHERE z.vec_id <> 0),
        |c AS (
        |  SELECT vec_id, label,
        |         CASE WHEN qn_a = 0 OR qn_b = 0 THEN 0.0
        |              ELSE dq / (qn_a * qn_b) END AS cos_q_raw,
        |         cos_raw
        |  FROM s)
        |SELECT vec_id, label,
        |       floor(cos_q_raw * 1000000 + 0.5) / 1000000 AS cos_q,
        |       floor(cos_raw * 1000000 + 0.5) / 1000000 AS cos_exact,
        |       floor(abs(cos_q_raw - cos_raw) * 1000000 + 0.5) / 1000000 AS q_err
        |FROM c
        |ORDER BY cos_q DESC, vec_id ASC LIMIT 10""".stripMargin,
    "emb_norms_by_label" ->
      """WITH n AS (
        |  SELECT label, sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
        |                                             x -> x * x))) AS nrm
        |  FROM embeddings)
        |SELECT label, count(*) AS n,
        |       floor((CAST(sum(CAST(nrm AS DECIMAL(28,6))) AS DOUBLE) / count(nrm)) * 10000 + 0.5) / 10000 AS avg_norm
        |FROM n GROUP BY label""".stripMargin,
    // higher-order list surface: per-vector fold/min/max, DECIMAL-stable
    // cross-row average (the emb_norms_by_label idiom)
    "emb_vector_stats" ->
      """WITH v AS (
        |  SELECT label,
        |         list_sum(CAST(embedding AS DOUBLE[])) / len(embedding) AS elem_mean,
        |         list_min(CAST(embedding AS DOUBLE[])) AS mn,
        |         list_max(CAST(embedding AS DOUBLE[])) AS mx
        |  FROM embeddings)
        |SELECT label, count(*) AS n,
        |       floor((CAST(sum(CAST(elem_mean AS DECIMAL(28,6))) AS DOUBLE) / count(elem_mean)) * 1000000 + 0.5)
        |         / 1000000 AS avg_elem_mean,
        |       min(mn) AS min_elem, max(mx) AS max_elem
        |FROM v GROUP BY label""".stripMargin,
    // TF-IDF recommender, fully relational (round-2 verdict item 8):
    // The multimodal gates regenerate the closed-form test pattern
    // (MultimodalOps.patternRgb / assetDims) as a pixel grid: range(0,32)
    // joined under the per-asset width/height bound (DuckDB 1.0 has no
    // lateral range over a column). All compared values reduce to exact
    // integer sums and single integer/integer double divisions, so the
    // hash pins the engine's REAL javax.imageio decode bit-for-bit —
    // see MultimodalOps.assetFeatureStats's exactness argument.
    // hash-gated since round 9 (was rows-only): DuckDB reads the same
    // files with read_blob and computes the same md5-of-uppercase-hex
    // digest (no md5(BLOB) overload in DuckDB 1.0; hex() is uppercase in
    // BOTH engines). The glob is pinned to the driver's verify scale —
    // the correctness contract runs Verify at sf0.01 — because the
    // oracle SQL has no way to receive the gate's dir argument; a scale
    // change would surface as a loud hash mismatch, not silent green.
    "multimodal_binary_ingest" ->
      """SELECT parse_filename(filename) AS file_name,
        |       octet_length(content) AS byte_len,
        |       md5(hex(content)) AS content_md5
        |FROM read_blob('/root/testdata/sf0.01/*.parquet')
        |ORDER BY file_name""".stripMargin,
    "multimodal_png_files" ->
      """WITH d AS (
        |  SELECT i AS asset_id,
        |         16 + i % 16 AS width,
        |         16 + (i * 7) % 16 AS height
        |  FROM range(0, 64) t(i)),
        |px AS (
        |  SELECT d.asset_id, d.width, d.height, xs.i AS x, ys.i AS y
        |  FROM d
        |  JOIN range(0, 32) xs(i) ON xs.i < d.width
        |  JOIN range(0, 32) ys(i) ON ys.i < d.height)
        |SELECT asset_id, width, height,
        |       floor((CAST(sum((x*31 + y*7 + asset_id*13) % 256) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS mean_r,
        |       floor((CAST(sum((x*7 + y*31 + asset_id*29) % 256) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS mean_g,
        |       floor((CAST(sum((x + y + asset_id) % 256) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS mean_b
        |FROM px
        |GROUP BY asset_id, width, height""".stripMargin,
    // per-format rollup over the documents-derived synthetic assets; the
    // luminance bin is integer ITU-R 601 luma (r*299+g*587+b*114)//1000
    // with bin width 32 — bin 0 = luma < 32, matching the decode kernel
    "multimodal_features" ->
      """WITH d AS (
        |  SELECT doc_id AS id, 'png/' || source AS format,
        |         16 + doc_id % 16 AS w, 16 + (doc_id * 7) % 16 AS h
        |  FROM documents),
        |fmt AS (
        |  SELECT format, count(*) AS n_assets,
        |         CAST(sum(w * h) AS BIGINT) AS n_px,
        |         floor((CAST(sum(w) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS avg_width,
        |         floor((CAST(sum(h) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS avg_height
        |  FROM d GROUP BY format),
        |v AS (
        |  SELECT d.format,
        |         (xs.i*31 + ys.i*7 + d.id*13) % 256 AS r,
        |         (xs.i*7 + ys.i*31 + d.id*29) % 256 AS g,
        |         (xs.i + ys.i + d.id) % 256 AS b
        |  FROM d
        |  JOIN range(0, 32) xs(i) ON xs.i < d.w
        |  JOIN range(0, 32) ys(i) ON ys.i < d.h),
        |pxa AS (
        |  SELECT format, count(*) AS npx,
        |         CAST(sum(r) AS BIGINT) AS sr,
        |         CAST(sum(g) AS BIGINT) AS sg,
        |         CAST(sum(b) AS BIGINT) AS sb,
        |         CAST(sum(CASE WHEN ((r*299 + g*587 + b*114) // 1000) // 32 = 0
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS l0
        |  FROM v GROUP BY format)
        |SELECT f.format, f.n_assets, f.n_px, f.avg_width, f.avg_height,
        |       floor((CAST(p.sr AS DOUBLE) / p.npx) * 10000 + 0.5) / 10000 AS mean_r_px,
        |       floor((CAST(p.sg AS DOUBLE) / p.npx) * 10000 + 0.5) / 10000 AS mean_g_px,
        |       floor((CAST(p.sb AS DOUBLE) / p.npx) * 10000 + 0.5) / 10000 AS mean_b_px,
        |       floor((CAST(p.l0 AS DOUBLE) / p.npx) * 1000000 + 0.5) / 1000000 AS lum0_share
        |FROM fmt f JOIN pxa p USING (format)""".stripMargin,
    // nearest-neighbor resize: src index (x'·w)//8 is exact integer
    // arithmetic, so the oracle rebuilds the 8x8 resized grid from the
    // closed-form pattern and every output is an exact long
    "multimodal_resize" ->
      """WITH d AS (
        |  SELECT doc_id AS id, 16 + doc_id % 16 AS w, 16 + (doc_id * 7) % 16 AS h
        |  FROM documents),
        |px AS (
        |  SELECT d.id, d.w, d.h,
        |         (((xs.i * d.w) // 8) * 31 + ((ys.i * d.h) // 8) * 7 + d.id * 13) % 256 AS r,
        |         (((xs.i * d.w) // 8) * 7 + ((ys.i * d.h) // 8) * 31 + d.id * 29) % 256 AS g,
        |         (((xs.i * d.w) // 8) + ((ys.i * d.h) // 8) + d.id) % 256 AS b
        |  FROM d CROSS JOIN range(0, 8) xs(i) CROSS JOIN range(0, 8) ys(i))
        |SELECT id AS asset_id, w AS width, h AS height,
        |       CAST(sum(r) AS BIGINT) AS sum_r,
        |       CAST(sum(g) AS BIGINT) AS sum_g,
        |       CAST(sum(b) AS BIGINT) AS sum_b
        |FROM px GROUP BY 1, 2, 3""".stripMargin,
    // frame sampling: the engine parses a real PNG container and decodes
    // only frames f % 2 = 0 of the 4 + id % 5 declared; the oracle
    // replays exactly those frames' pattern (frame id = id*100 + f)
    "multimodal_frame_sample" ->
      """WITH d AS (SELECT doc_id AS id, 4 + doc_id % 5 AS nf FROM documents),
        |fr AS (
        |  SELECT d.id, d.nf, fs.i AS f
        |  FROM d JOIN range(0, 8) fs(i) ON fs.i < d.nf AND fs.i % 2 = 0),
        |s AS (SELECT id, max(nf) AS n_frames, count(*) AS n_sampled
        |      FROM fr GROUP BY id),
        |px AS (
        |  SELECT fr.id,
        |         (xs.i * 31 + ys.i * 7 + (fr.id * 100 + fr.f) * 13) % 256 AS r,
        |         (xs.i * 7 + ys.i * 31 + (fr.id * 100 + fr.f) * 29) % 256 AS g,
        |         (xs.i + ys.i + (fr.id * 100 + fr.f)) % 256 AS b
        |  FROM fr CROSS JOIN range(0, 8) xs(i) CROSS JOIN range(0, 8) ys(i)),
        |p AS (SELECT id, sum(r) AS sr, sum(g) AS sg, sum(b) AS sb
        |      FROM px GROUP BY id)
        |SELECT s.id AS asset_id, CAST(s.n_frames AS BIGINT) AS n_frames,
        |       CAST(s.n_sampled AS BIGINT) AS n_sampled,
        |       CAST(p.sr AS BIGINT) AS sum_r,
        |       CAST(p.sg AS BIGINT) AS sum_g,
        |       CAST(p.sb AS BIGINT) AS sum_b
        |FROM s JOIN p USING (id)""".stripMargin,
    // frame dedup: byte-identical frames ⇔ shared closed-form pattern key
    // (doc_id mod 7)·100 + f — the oracle states the duplication
    // histogram from the keys alone, no bytes
    "multimodal_frame_dedup" ->
      """WITH d AS (SELECT doc_id AS id, 4 + doc_id % 5 AS nf FROM documents),
        |fr AS (
        |  SELECT d.id, fs.i AS f FROM d
        |  JOIN range(0, 8) fs(i) ON fs.i < d.nf),
        |k AS (SELECT (id % 7) * 100 + f AS pk FROM fr),
        |sz AS (SELECT pk, count(*) AS dup_count FROM k GROUP BY pk)
        |SELECT dup_count, count(*) AS n_patterns,
        |       CAST(dup_count * count(*) AS BIGINT) AS n_frames
        |FROM sz GROUP BY dup_count""".stripMargin,
    // RegexTokenizer(\W, lowercase) = split on [^a-z0-9_] after lower()
    // (Java \w is ASCII); StopWordsRemover = NOT IN the default english
    // list above; CountVectorizer = per-doc term counts (vocab order is
    // irrelevant to a dot product — terms join by name); IDF(minDocFreq=5)
    // = tf * ln((m+1)/(df+1)) with idf pinned to 0 below the df cutoff;
    // Normalizer(p=2) = w/nrm with the zero-norm guard; score = dot of
    // normalized weights over shared terms, half-up-rounded at 1e6 on both
    // sides. Docs sharing no term with the query score 0 in the engine and
    // are absent here — they can never enter a positive top-5.
    // ML verdict gates (round 9): model sets are part of the reference
    // contract and stated directly; the metric identities (adjR²==R²
    // quirk, rmse²≈mse, mae≤rmse/finite) land as constants the engine
    // derives from its actual fits and GateInvariants recomputes by
    // re-fitting
    "ml_price_metrics" ->
      """SELECT * FROM (VALUES
        |  ('LinearRegression', TRUE, TRUE, TRUE),
        |  ('DecisionTree', TRUE, TRUE, TRUE),
        |  ('GeneralizedLinear', TRUE, TRUE, TRUE))
        |  t(model, r2adj_eq_r2, rmse2_eq_mse, metrics_sane)
        |ORDER BY model""".stripMargin,
    "ml_price_metrics_full" ->
      """SELECT * FROM (VALUES
        |  ('LinearRegression', TRUE, TRUE, TRUE),
        |  ('Lasso', TRUE, TRUE, TRUE),
        |  ('Ridge', TRUE, TRUE, TRUE),
        |  ('IsotonicRegression', TRUE, TRUE, TRUE),
        |  ('FMRegressor', TRUE, TRUE, TRUE),
        |  ('DecisionTree', TRUE, TRUE, TRUE),
        |  ('RandomForest', TRUE, TRUE, TRUE),
        |  ('GradientBoosting', TRUE, TRUE, TRUE),
        |  ('GeneralizedLinear', TRUE, TRUE, TRUE))
        |  t(model, r2adj_eq_r2, rmse2_eq_mse, metrics_sane)
        |ORDER BY model""".stripMargin,
    "ml_cv_linear" ->
      """SELECT CAST(2 AS BIGINT) AS n_grid_points, TRUE AS grid_expected,
        |       TRUE AS winner_unique_minimal, TRUE AS metrics_finite""".stripMargin,
    // Bucketizer with constant splits is a CASE expression — fully exact,
    // no verdict booleans needed
    "ml_feature_bucketize" ->
      """SELECT CAST(CASE WHEN o_totalprice < 50000 THEN 0
        |            WHEN o_totalprice < 150000 THEN 1
        |            WHEN o_totalprice < 300000 THEN 2
        |            ELSE 3 END AS BIGINT) AS price_bucket,
        |       count(*) AS n
        |FROM orders WHERE o_totalprice IS NOT NULL
        |GROUP BY 1""".stripMargin,
    // verdict gate: n_source and the deterministic gap count are exact;
    // fill-completeness and the surrogate-vs-DECIMAL-exact-mean band come
    // from the actual Imputer fit (GateInvariants re-fits and recomputes)
    "ml_feature_impute" ->
      """SELECT count(*) AS n_source,
        |       CAST(count(*) FILTER (WHERE o_orderkey % 10 = 0) AS BIGINT) AS n_gapped,
        |       TRUE AS gapped_all_filled,
        |       TRUE AS imputed_mean_in_band
        |FROM orders""".stripMargin,
    // median-strategy twin: same exact counts; the GK-sketch surrogate's
    // [P49.5, P50.5] containment and fill-completeness are fit-derived
    // verdicts (GateInvariants re-fits and recomputes both)
    "ml_feature_impute_median" ->
      """SELECT count(*) AS n_source,
        |       CAST(count(*) FILTER (WHERE o_orderkey % 10 = 0) AS BIGINT) AS n_gapped,
        |       TRUE AS gapped_all_filled,
        |       TRUE AS median_in_band
        |FROM orders""".stripMargin,
    // VectorIndexer over [l_linenumber, l_quantity] at maxCategories=10:
    // l_linenumber (7 distinct, zero-free) is categorical and its map is
    // exactly ascending-value rank (the zero-first sparsity quirk can't
    // fire on a zero-free column); l_quantity (50 distinct) must stay
    // continuous, so n_categorical = 1. The transform verdict is
    // fit-derived (GateInvariants re-fits and replays it)
    "ml_feature_vector_index" ->
      """WITH c AS (
        |  SELECT CAST(l_linenumber AS BIGINT) AS value, count(*) AS n_rows
        |  FROM lineitem GROUP BY 1)
        |SELECT value, n_rows,
        |       CAST(row_number() OVER (ORDER BY value) - 1 AS BIGINT) AS category_index,
        |       CAST(1 AS BIGINT) AS n_categorical,
        |       TRUE AS transform_ok
        |FROM c""".stripMargin,
    // StringIndexer frequencyDesc index IS oracle-recomputable: rank by
    // count desc with alphabetic tie-break (the sf0.01 fixture ties
    // 2-HIGH/3-MEDIUM at 3003, so the tie-break is actually exercised);
    // onehot_size = numCategories - 1 (dropLast). Vector shape and the
    // IndexToString round-trip are fit-derived verdicts
    "ml_feature_onehot" ->
      """WITH c AS (
        |  SELECT o_orderpriority, count(*) AS n_orders
        |  FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1)
        |SELECT o_orderpriority, n_orders,
        |       CAST(row_number() OVER (ORDER BY n_orders DESC, o_orderpriority ASC) - 1
        |            AS BIGINT) AS priority_index,
        |       CAST(count(*) OVER () - 1 AS BIGINT) AS onehot_size,
        |       TRUE AS onehot_ok,
        |       TRUE AS roundtrip_ok
        |FROM c""".stripMargin,
    "ml_recommend_tfidf" ->
      s"""WITH tok AS (
         |  SELECT doc_id,
         |         [t for t in string_split_regex(lower(text), '[^a-z0-9_]')
         |          if t <> ''] AS toks
         |  FROM documents),
         |ex AS (SELECT doc_id, unnest(toks) AS term FROM tok),
         |f AS (SELECT doc_id, term FROM ex
         |      WHERE term NOT IN ($englishStopwordsSql)),
         |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
         |       FROM f GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df
         |          FROM f GROUP BY term),
         |m AS (SELECT count(*)::DOUBLE AS m FROM documents),
         |w AS (
         |  SELECT tf.doc_id, tf.term,
         |         tf.tf * (CASE WHEN dfreq.df >= 5
         |                       THEN ln((m.m + 1) / (dfreq.df + 1))
         |                       ELSE 0.0 END) AS w
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN m),
         |nrm AS (SELECT doc_id, sqrt(sum(w*w)) AS nrm FROM w GROUP BY doc_id),
         |wn AS (
         |  SELECT w.doc_id, w.term,
         |         CASE WHEN nrm.nrm = 0 THEN 0.0 ELSE w.w / nrm.nrm END AS wn
         |  FROM w JOIN nrm USING (doc_id)),
         |q AS (SELECT term, wn AS qwn FROM wn WHERE doc_id = 0),
         |s AS (
         |  SELECT wn.doc_id, sum(wn.wn * q.qwn) AS dot
         |  FROM wn JOIN q USING (term) WHERE wn.doc_id <> 0 GROUP BY wn.doc_id)
         |SELECT s.doc_id, d.lang, d.source,
         |       floor(dot * 1000000 + 0.5) / 1000000 AS score
         |FROM s JOIN documents d USING (doc_id)
         |ORDER BY score DESC, s.doc_id
         |LIMIT 5""".stripMargin)
}
