package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import java.nio.file.{Files, Paths}

/** Dumps physical plans for representative queries and asserts the
  * scale-critical plan properties (filter/column pushdown into the parquet
  * scan, broadcast joins on dimension tables, TakeOrderedAndProject for
  * top-k) — the `.explain`-and-iterate loop, mechanized. Output: PLANS.md.
  *
  * Run: sbt "runMain graft.tools.PlanAudit /root/testdata/sf0.01"
  */
object PlanAudit {
  private[graft] val Audited: Seq[(String, Seq[(String, String)])] = Seq(
    "q02_filter_project" -> Seq(
      "filters pushed to parquet scan" -> "PushedFilters: [",
      "column-pruned read" -> "ReadSchema: struct<l_orderkey"),
    "q01_pricing_summary" -> Seq(
      "partial aggregation before shuffle" -> "HashAggregate",
      "whole-stage codegen spans" -> "codegen:WholeStageCodegen subtrees"),
    "q03_join_broadcast_agg" -> Seq(
      "dimension broadcast" -> "BroadcastHashJoin"),
    "q23_top20" -> Seq(
      "top-k without global sort" -> "TakeOrderedAndProject"),
    "q07_join_semi" -> Seq(
      "semi join strategy" -> "LeftSemi"),
    "q45_sim_topk_brute" -> Seq(
      "query side broadcast" -> "BroadcastNestedLoopJoin"),
    "q42_dedup_minhash_lsh" -> Seq(
      "band candidate join is an equi hash join" -> "HashJoin",
      "no cartesian product anywhere" -> "!CartesianProduct"),
    "q65_multijoin_revenue" -> Seq(
      "dimension tables broadcast" -> "BroadcastHashJoin",
      "date filter pushed to orders scan" -> "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
    "q89_salted_join" -> Seq(
      "salted join is an equi hash join" -> "HashJoin",
      "no cartesian product from salting" -> "!CartesianProduct"),
    "q79_tfidf_top_term" -> Seq(
      "vocabulary side broadcast into scoring join" -> "BroadcastHashJoin",
      "map-side partial aggregation" -> "HashAggregate"),
    "q86_orc_roundtrip" -> Seq(
      "columnar ORC scan" -> "Scan orc",
      "partial aggregation before shuffle" -> "HashAggregate"),
    "q10_join_range" -> Seq(
      "band join rewritten to equi hash join" -> "HashJoin",
      "no nested-loop join for the range condition" -> "!BroadcastNestedLoopJoin"),
    "q100_decontaminate" -> Seq(
      "eval n-gram side broadcast (corpus never shuffles for the probe)" -> "BroadcastHashJoin",
      "no cartesian product in the contamination probe" -> "!CartesianProduct"),
    "q101_token_packing" -> Seq(
      "map-side partial aggregation after the packing window" -> "HashAggregate",
      "block offsets broadcast back to the row pass" -> "BroadcastHashJoin",
      "lang-partitioned window present" -> "windowspecdefinition(lang",
      // a revert to the pre-round-10 whole-lang window has no blk column
      // at all, so this needle is what actually detects the regression
      "two-phase block machinery present (blk column in the plan)" -> "blk#"),
    "q104_stratified_sample" -> Seq(
      "text column never read for the sampling pass" -> "ReadSchema: struct<doc_id:bigint,lang:string>"),
    "q108_winsorize" -> Seq(
      "percentile bounds broadcast (clip stays map-side)" -> "BroadcastNestedLoopJoin",
      "only event_id and value read" -> "ReadSchema: struct<event_id:bigint"),
    "q109_zscore_normalize" -> Seq(
      "per-type stats broadcast back over the facts" -> "BroadcastHashJoin",
      "decimal-exact partial aggregation" -> "partial_sum(cast"),
    "q114_bloom_semijoin" -> Seq(
      "bloom probe filters the fact scan before any exchange" -> "might_contain",
      "exact semi-join finishes the bloom prefilter" -> "LeftSemi"),
    "q111_multijoin_profit" -> Seq(
      "all dimensions broadcast (one fact-to-fact shuffle only)" -> "BroadcastHashJoin",
      "part name filter pushed to its scan" -> "PushedFilters: [IsNotNull(p_name)",
      "no cartesian product in the five-table star" -> "!CartesianProduct"),
    "q116_paragraph_dedup" -> Seq(
      "first-occurrence dedup is one window pass" -> "Window",
      "only doc_id and text read for chunking" -> "ReadSchema: struct<doc_id:bigint,text:string>"),
    "q117_zorder_layout" -> Seq(
      "column bounds broadcast (bucket assignment stays map-side)" -> "BroadcastNestedLoopJoin",
      "partial aggregation before the bucket shuffle" -> "HashAggregate",
      "only the two layout dimensions read" -> "ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>"),
    "q118_decontaminate_13gram" -> Seq(
      "capped eval probe broadcast (corpus never shuffles for the join)" -> "BroadcastHashJoin",
      "no cartesian product in the contamination probe" -> "!CartesianProduct"),
    "q121_changelog_compaction" -> Seq(
      "latest-state compaction is one aggregation, not a window sort" -> "!Window",
      "partial max_by before the key shuffle" -> "partial_max_by"),
    "q122_user_history" -> Seq(
      "history truncation happens in the window pass (bounded collect)" -> "Window",
      "only the three needed columns read" -> "ReadSchema: struct<event_id:bigint,user_id:bigint,event_type:string>"),
    "q123_leakage_safe_split" -> Seq(
      "canonical assignment is one window pass on the text hash" -> "Window",
      "only doc_id and text read" -> "ReadSchema: struct<doc_id:bigint,text:string>"),
    "q124_hard_negatives" -> Seq(
      "anchor side broadcast (corpus scan shuffle-free)" -> "BroadcastNestedLoopJoin",
      "per-anchor top-k via one window pass" -> "Window"),
    "q126_regression" -> Seq(
      "decimal-exact partial moment sums before the one shuffle" -> "partial_sum(cast",
      "only the three needed columns read" -> "ReadSchema: struct<user_id:bigint,event_type:string,value:double>"),
    "q129_quality_filter" -> Seq(
      "verdict is pure map-side (no join, no aggregation)" -> "!HashAggregate",
      "only doc_id and text read" -> "ReadSchema: struct<doc_id:bigint,text:string>"),
    "q132_batch_time_slice" -> Seq(
      "lower ts bound pushed into the log scan (segment pruning)" -> "GreaterThanOrEqual(ts",
      "upper ts bound pushed into the log scan (segment pruning)" -> "LessThan(ts",
      "partial aggregation before the key shuffle" -> "partial_count"),
    "q133_curation_pipeline" -> Seq(
      "dedup is the one wide shuffle (single window pass on the text hash)" -> "Window",
      "gates and split assignment stay map-side (no equi join)" -> "!HashJoin",
      "no nested-loop join smuggled in for the gates or split" -> "!BroadcastNestedLoopJoin",
      "no cartesian product anywhere" -> "!CartesianProduct",
      "rollup partial-aggregates before its shuffle" -> "partial_sum",
      "only the three needed columns read" -> "ReadSchema: struct<doc_id:bigint,text:string,lang:string>"),
    "q130_corpus_stats" -> Seq(
      "one-row total broadcast back over the per-lang stats" -> "BroadcastNestedLoopJoin",
      "only lang and text read" -> "ReadSchema: struct<text:string,lang:string>"),
    "q92_dedup_jaccard_prefix" -> Seq(
      "prefix-index candidate join is an equi hash join" -> "HashJoin",
      "no cartesian product in the ppjoin pipeline" -> "!CartesianProduct",
      "exact-verify joins stay equi (no nested loop)" -> "!BroadcastNestedLoopJoin"),
    "q134_multimodal_decode" -> Seq(
      "decode/resize run as object mapPartitions stages (no per-row UDF)" -> "MapPartitions",
      "feature joins are equi joins" -> "!BroadcastNestedLoopJoin",
      "no cartesian product in the media pipeline" -> "!CartesianProduct"),
    "q135_gopher_topngram" -> Seq(
      "top-gram selection is a window pass over the gram counts" -> "Window",
      "gram branches read only doc_id and text" -> "ReadSchema: struct<doc_id:bigint,text:string>",
      "stats branch reads only doc_id and n_chars (text pruned)" -> "ReadSchema: struct<doc_id:bigint,n_chars:bigint>",
      "no cartesian product in the gram pipeline" -> "!CartesianProduct"),
    "q136_unigram_logprob" -> Seq(
      "token-frequency join is an equi hash join" -> "HashJoin",
      "corpus-total single row broadcast over the tokens" -> "BroadcastNestedLoopJoin",
      "only doc_id and text read" -> "ReadSchema: struct<doc_id:bigint,text:string>",
      "no cartesian product in the scoring pipeline" -> "!CartesianProduct"),
    "q137_span_dedup" -> Seq(
      "span dup test is one window pass, not a self-join" -> "Window",
      "no join anywhere in the span pipeline" -> "!Join",
      "only doc_id and text read" -> "ReadSchema: struct<doc_id:bigint,text:string>"),
    "q141_semantic_dedup" -> Seq(
      "hyperplanes and global scale broadcast (vector side never shuffles to hash)" -> "BroadcastNestedLoopJoin",
      "bucket-sum join is an equi hash join" -> "HashJoin",
      "no cartesian product in the cluster pipeline" -> "!CartesianProduct"),
    "q142_kmeans" -> Seq(
      "centroid table broadcast (assignment never shuffles the vectors)" -> "BroadcastNestedLoopJoin",
      "argmin is an aggregation, not a window sort" -> "min(struct(dist",
      "no cartesian product across the unrolled iterations" -> "!CartesianProduct"),
    "q146_audio_decode" -> Seq(
      "decode runs as an object mapPartitions stage (no per-row UDF)" -> "MapPartitions",
      "no join anywhere in the audio pipeline" -> "!Join"),
    "q147_product_quantization" -> Seq(
      "codebooks and ADC table broadcast (vectors never shuffle to encode)" -> "BroadcastHashJoin",
      "sub-vector argmin is an aggregation, not a window sort" -> "min(struct(dist",
      "no cartesian product in the PQ pipeline" -> "!CartesianProduct"),
    "q161_matryoshka_recall" -> Seq(
      "query set broadcast (corpus side scans shuffle-free for all three rankings)" -> "BroadcastNestedLoopJoin",
      "recall joins are equi joins (hash or sort-merge, never nested-loop)" -> "SortMergeJoin",
      "no cartesian product in the truncation eval" -> "!CartesianProduct"),
    "q162_chunk_overlap" -> Seq(
      "chunking is map-side explode — no join anywhere" -> "!Join",
      "no aggregation shuffle (fingerprints are per-chunk map-side)" -> "!partial_count",
      "only doc_id and text read" -> "ReadSchema: struct<doc_id:bigint,text:string>"),
    "q160_subword_tokens" -> Seq(
      "dictionary join is an equi hash join (tokenizer runs once per distinct word)" -> "HashJoin",
      "per-doc totals partial-aggregate before the shuffle" -> "partial_sum",
      "only doc_id and text read" -> "ReadSchema: struct<doc_id:bigint,text:string>",
      "no cartesian product in the tokenizer pipeline" -> "!CartesianProduct"),
    "q159_consumer_lag" -> Seq(
      "committed-offset table broadcast over the distributed log scan" -> "BroadcastHashJoin",
      "lag count partial-aggregates before the group shuffle" -> "partial_count",
      "no cartesian product in the lag pipeline" -> "!CartesianProduct"),
    "q158_schema_on_read" -> Seq(
      "typed pruned projection reaches the log scan (4 payload columns only)" -> "Output [4]: [event_id",
      "no schemaless values map anywhere in the plan" -> "!values#",
      "no join in the typed roundtrip" -> "!Join"),
    "q156_ivfpq_ann" -> Seq(
      "centroids and codebooks broadcast (corpus vectors never shuffle to assign/encode)" -> "BroadcastNestedLoopJoin",
      "cell/code argmins are aggregations, not window sorts" -> "min(struct(dist",
      "ADC scoring joins are equi hash joins on fixed-width keys" -> "HashJoin",
      "no cartesian product anywhere in the index pipeline" -> "!CartesianProduct"),
    "q153_bigram_backoff_lm" -> Seq(
      "bigrams come from one window pass, not a self-join" -> "Window",
      "count joins are equi hash joins" -> "HashJoin",
      "no cartesian product in the scoring pipeline" -> "!CartesianProduct",
      "only doc_id and text read" -> "ReadSchema: struct<doc_id:bigint,text:string>"),
    "q151_interval_overlap_join" -> Seq(
      "bucket-banded candidate join is an equi hash join" -> "HashJoin",
      "no nested-loop join for the overlap condition" -> "!BroadcastNestedLoopJoin",
      "no cartesian product in the interval join" -> "!CartesianProduct"),
    "q152_merge_upsert" -> Seq(
      "latest-per-key is a partial max before the shuffle" -> "partial_max",
      "merge is one equi join (full outer)" -> "FullOuter",
      "no window sort in the merge" -> "!Window"),
    "q148_scd2_dimension" -> Seq(
      "interval stitching is window passes, not a self-join" -> "Window",
      "no join anywhere in the dimension build" -> "!Join",
      "only the four needed columns read (ts arrives as parquet micros)" -> "ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,user_id:bigint,event_type:string>"),
    "q163_html_extract" -> Seq(
      "extraction is pure map-side (no join, no aggregation shuffle)" -> "!Join",
      "no aggregation anywhere before the presentation sort" -> "!HashAggregate",
      "only doc_id, text, source read" -> "ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
    "q164_url_canonicalize" -> Seq(
      "duplicate grouping is one window pass on canon_url" -> "Window",
      "no join in the canonicalize pipeline" -> "!Join",
      "text column never read (urls derive from doc_id+source)" -> "ReadSchema: struct<doc_id:bigint,source:string>"),
    "q165_source_mixture" -> Seq(
      "rate table broadcast back over the corpus (docs never shuffle to pick)" -> "BroadcastHashJoin",
      "per-group counts partial-aggregate before their shuffle" -> "partial_count",
      "no cartesian product in the mixture pipeline" -> "!CartesianProduct",
      "text column never read for mixing" -> "ReadSchema: struct<doc_id:bigint,source:string>"),
    "q166_count_min" -> Seq(
      "sketch is a partial-aggregating UDAF (256 longs cross the shuffle)" -> "partial_cmssketch",
      "one-row sketch broadcast to the estimate lookup" -> "BroadcastNestedLoopJoin",
      "top-20 without a global sort" -> "TakeOrderedAndProject",
      "only text read for the token stream" -> "ReadSchema: struct<text:string>"),
    "q167_bucketed_join" -> Seq(
      "fact-fact join is sort-merge over bucket files" -> "SortMergeJoin",
      "NO hash shuffle anywhere — join AND aggregation reuse the bucketing" -> "!Exchange hashpartitioning",
      "per-order aggregation reuses the join's bucket partitioning" -> "HashAggregate"),
    "q168_pagerank" -> Seq(
      "dimension/degree/scalar sides broadcast" -> "BroadcastHashJoin",
      "contributions partial-aggregate before the node shuffle" -> "partial_sum",
      "no cartesian product across the unrolled iterations" -> "!CartesianProduct"),
    "q169_bm25_topk" -> Seq(
      "query-term table broadcast into the postings join" -> "BroadcastHashJoin",
      "top-k without global sort" -> "TakeOrderedAndProject",
      "postings partial-aggregate before the shuffle" -> "HashAggregate"),
    "q170_line_dedup" -> Seq(
      "boilerplate drop list broadcast (rebuild stays map-side)" -> "BroadcastNestedLoopJoin",
      "line-frequency partial aggregation before the shuffle" -> "HashAggregate",
      "only the needed columns read" -> "ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
    "q171_incremental_agg" -> Seq(
      "both partial states aggregate before the merge join" -> "HashAggregate",
      "state-vs-state merge is a full-outer sort-merge join" -> "FullOuter",
      "only the three needed columns read" -> "ReadSchema: struct<o_custkey:bigint,o_totalprice:double,o_orderdate:timestamp_ntz>"),
    "q172_late_interaction" -> Seq(
      "query tokens broadcast (corpus token side scans shuffle-free)" -> "BroadcastNestedLoopJoin",
      "per-(query,candidate) MaxSim partial-aggregates map-side" -> "partial_max",
      "no cartesian product" -> "!CartesianProduct"),
    "q173_mad_outliers" -> Seq(
      "per-type median stats broadcast back over the facts" -> "BroadcastHashJoin",
      "only the three needed columns read" -> "ReadSchema: struct<event_id:bigint,event_type:string,value:double>"),
    "q174_ohlc_bars" -> Seq(
      "both window orderings and the bar agg share one (type,hour) exchange" -> "Window",
      "bar metrics partial-aggregate before the presentation sort" -> "HashAggregate",
      "no join anywhere (single-pass downsample)" -> "!Join"),
    "q175_dsir_resample" -> Seq(
      "top-k without global sort" -> "TakeOrderedAndProject",
      "per-doc scores partial-aggregate before the shuffle" -> "HashAggregate",
      "no cartesian product from the constants frame" -> "!CartesianProduct"),
    "q176_triangle_count" -> Seq(
      "degree table broadcast into the orientation join" -> "BroadcastHashJoin",
      "wedge closure is an equi join, not a cross product" -> "!CartesianProduct"),
    "q177_bpe_train" -> Seq(
      "winning merge broadcast into the re-segmentation" -> "BroadcastNestedLoopJoin",
      "pair counts partial-aggregate map-side" -> "HashAggregate",
      "no cartesian product across the unrolled merges" -> "!CartesianProduct"),
    "q178_rank_fusion" -> Seq(
      "query side broadcast (candidate scan shuffle-free)" -> "BroadcastNestedLoopJoin",
      "all three rankings share the q_id window partition" -> "Window"),
    "q179_histogram_quantiles" -> Seq(
      "histogram partial-aggregates before the shuffle (the sketch merge)" -> "HashAggregate",
      "global bounds broadcast (bin assignment stays map-side)" -> "BroadcastNestedLoopJoin",
      "only event_type and value read" -> "ReadSchema: struct<event_type:string,value:double>"),
    "q180_bpe_segment" -> Seq(
      "winning merges broadcast into the vocab re-segmentation" -> "BroadcastNestedLoopJoin",
      "per-doc piece counts partial-aggregate before the shuffle" -> "HashAggregate",
      "no cartesian product" -> "!CartesianProduct"),
    "q181_containment" -> Seq(
      "candidate pairs meet in an equi hash join on the shingle hash" -> "HashJoin",
      "no cartesian product anywhere" -> "!CartesianProduct",
      "only doc_id and text read" -> "ReadSchema: struct<doc_id:bigint,text:string>"),
    "q183_weighted_sample" -> Seq(
      "weighted top-k without a global sort" -> "TakeOrderedAndProject",
      "key computation is pure map-side (no join, no aggregation)" -> "!HashAggregate",
      "only doc_id and n_chars read" -> "ReadSchema: struct<doc_id:bigint,n_chars:bigint>"),
    "q184_kmv_distinct" -> Seq(
      "sketch partial-aggregates map-side (K longs cross the shuffle)" -> "partial_kmvsketch",
      "only event_type and user_id read" -> "ReadSchema: struct<user_id:bigint,event_type:string>"),
    "q185_click_attribution" -> Seq(
      "time window rides the user equi-join, not a nested loop" -> "!BroadcastNestedLoopJoin",
      "no cartesian product" -> "!CartesianProduct",
      "first/last touch are window passes on one pid partition" -> "Window"),
    "q186_twap" -> Seq(
      "single-pass downsample (no join anywhere)" -> "!Join",
      "interval weights from one LEAD window pass" -> "Window",
      "weighted sums partial-aggregate before the presentation sort" -> "HashAggregate"),
    "q187_ngram_novelty" -> Seq(
      "first-seen resolution aggregates — no window sort over the gram stream" -> "!Window",
      "partial aggregation before each shuffle" -> "HashAggregate",
      "only doc_id and text read" -> "ReadSchema: struct<doc_id:bigint,text:string>"),
    "q188_char_entropy" -> Seq(
      "both aggregations partial before their shuffles" -> "HashAggregate",
      "no join anywhere (pure per-doc statistic)" -> "!Join",
      "only doc_id and text read" -> "ReadSchema: struct<doc_id:bigint,text:string>"),
    "q189_sql_entry" -> Seq(
      "SQL-text entry plans the same window as the DSL would" -> "Window",
      "aggregation partial before the shuffle" -> "HashAggregate",
      "column pruning reaches the scan through the temp view" -> "ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,user_id:bigint,event_type:string>"),
    "q190_decayed_counts" -> Seq(
      "decay math runs on day-counts (pre-aggregated), never raw events" -> "HashAggregate",
      "max-day frame broadcast (weighting stays map-side)" -> "BroadcastNestedLoopJoin",
      "only event_type and ts read" -> "ReadSchema: struct<ts:timestamp_ntz,event_type:string>"),
    "q192_incremental_novelty" -> Seq(
      "index and delta meet in gram-keyed equi joins (index never broadcast by hand)" -> "HashJoin",
      "no window sort over the gram stream" -> "!Window",
      "no cartesian product" -> "!CartesianProduct"),
    "q193_column_profile" -> Seq(
      // string-buffered min/max forces sort-based aggregation (hash agg
      // needs fixed-width mutable buffers) — still partial before the
      // one exchange, still a single scan
      "all 24 profile aggregates partial-aggregate before the one exchange" -> "SortAggregate",
      "exact multi-column count-distinct planned as a single Expand" -> "Expand",
      "no join anywhere (profile is scan + aggregate + unpivot)" -> "!Join"),
    "q194_markov_transitions" -> Seq(
      "adjacency pairs from one user-keyed window pass" -> "Window",
      "transition counts partial-aggregate before the shuffle" -> "HashAggregate",
      "props/value never read" -> "ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,user_id:bigint,event_type:string>"),
    "q195_bfs_hops" -> Seq(
      "node-sized frontier broadcast into every hop join" -> "BroadcastHashJoin",
      "no cartesian product in any iteration" -> "!CartesianProduct",
      "min-distance resolution partial-aggregates before each shuffle" -> "HashAggregate"),
    "q196_readability" -> Seq(
      "pure map-side scoring (no join, no aggregation)" -> "!Join",
      "no shuffle except the presentation sort" -> "!HashAggregate",
      "only doc_id and text read" -> "ReadSchema: struct<doc_id:bigint,text:string>"),
    "q197_group_topk_sample" -> Seq(
      "one lang-keyed window pass ranks every stratum" -> "Window",
      "no join anywhere" -> "!Join",
      "text column never read for the sampling pass" -> "ReadSchema: struct<doc_id:bigint,lang:string>"),
    "q198_session_paths" -> Seq(
      "top-20 cut without a global sort" -> "TakeOrderedAndProject",
      "path counts partial-aggregate before the shuffle" -> "HashAggregate",
      "props/value never read" -> "ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,user_id:bigint,event_type:string>"),
    "q199_correlation_matrix" -> Seq(
      "all 15 moment sums ride ONE aggregation pass" -> "HashAggregate",
      "no join anywhere (single scan + single-row unpivot)" -> "!Join",
      "only the four profiled columns read" -> "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_tax:double>"),
    "q201_skew_profile" -> Seq(
      "top-20 hot keys without a global sort" -> "TakeOrderedAndProject",
      "per-key counts partial-aggregate map-side" -> "HashAggregate",
      "1-row total broadcast into the share projection" -> "BroadcastNestedLoopJoin"),
    "q202_source_kl_divergence" -> Seq(
      "corpus LM meets source counts in a word-keyed equi join" -> "HashJoin",
      "source-sized tables broadcast" -> "BroadcastHashJoin",
      "no cartesian product except the 1-row total" -> "!CartesianProduct"),
    "q203_churn_labels" -> Seq(
      "label and features from ONE user-keyed aggregation" -> "HashAggregate",
      "corpus horizon broadcast (1 row)" -> "BroadcastNestedLoopJoin",
      "props/value never read" -> "ReadSchema: struct<ts:timestamp_ntz,user_id:bigint,event_type:string>"),
    "q204_cumulative_reach" -> Seq(
      "day-keyed DAU/new-user join is an equi join" -> "HashJoin",
      "distinct and first-seen partial-aggregate map-side" -> "HashAggregate",
      "only ts and user_id read" -> "ReadSchema: struct<ts:timestamp_ntz,user_id:bigint>"),
    "q205_inverted_index" -> Seq(
      "postings assembled by aggregation, no self-join" -> "!Join",
      "term frequencies partial-aggregate before the shuffle" -> "HashAggregate",
      "only doc_id and text read" -> "ReadSchema: struct<doc_id:bigint,text:string>"),
    "q206_cms_join_estimate" -> Seq(
      "both sketches partial-aggregate map-side" -> "partial_cmssketch",
      "sketch inner product is a 1-row broadcast cross join" -> "BroadcastNestedLoopJoin",
      "exact certificate join is user-keyed equi, never nested-loop" -> "HashJoin"),
    "q207_gap_fill" -> Seq(
      "observed counts meet the grid in an equi join" -> "HashJoin",
      "grid generated from broadcast-small sides" -> "BroadcastNestedLoopJoin",
      "counts partial-aggregate before the grid join" -> "HashAggregate"),
    "q208_ab_readout" -> Seq(
      "per-user collapse partial-aggregates map-side" -> "HashAggregate",
      "no join anywhere (pivot is an aggregation)" -> "!Join",
      "only user_id and event_type read" -> "ReadSchema: struct<user_id:bigint,event_type:string>"),
    "q210_pmi_collocations" -> Seq(
      "top-30 collocations without a global sort" -> "TakeOrderedAndProject",
      "no positional self-join (pairs generated inside the token array)" -> "Generate",
      "PMI joins are vocab-keyed equi joins" -> "HashJoin"),
    "q211_roc_auc" -> Seq(
      "rank pass partial-aggregates to the per-score table before the window" -> "HashAggregate",
      "only value and event_type read" -> "ReadSchema: struct<event_type:string,value:double>",
      "no join anywhere (pure aggregation + window)" -> "!Join"),
    "q214_burst_detection" -> Seq(
      "daily counts partial-aggregate before the shuffle" -> "HashAggregate",
      "trailing baseline is one partitioned window pass" -> "Window",
      "no self-join for the baseline" -> "!Join"),
    "q215_association_rules" -> Seq(
      "basket self-join is an equi hash join on the order key" -> "HashJoin",
      "per-part counts broadcast onto surviving pairs" -> "BroadcastHashJoin",
      "top-20 without a global sort" -> "TakeOrderedAndProject",
      "no cartesian product anywhere" -> "!CartesianProduct"),
    "q217_rake_keywords" -> Seq(
      "vocab-sized score table broadcast onto phrase words" -> "BroadcastHashJoin",
      "top-20 phrases without a global sort" -> "TakeOrderedAndProject",
      "no cartesian product anywhere" -> "!CartesianProduct"),
    "q219_quantile_normalize" -> Seq(
      "mapping joined back on (source, value) equi keys" -> "BroadcastHashJoin",
      "value-domain inequality join stays broadcast-small" -> "BroadcastNestedLoopJoin",
      "no corpus-sized cartesian product" -> "!CartesianProduct"),
    "q222_label_noise" -> Seq(
      "anchors broadcast, corpus scanned shuffle-free" -> "BroadcastNestedLoopJoin",
      "per-anchor neighbor rank is one window pass" -> "Window",
      "no cartesian product" -> "!CartesianProduct"),
    "q223_poisson_bootstrap" -> Seq(
      "replica weights generated map-side (explode, no join)" -> "Generate",
      "replica means partial-aggregate before the 64-key shuffle" -> "HashAggregate",
      "CI selection crosses only broadcast-1-row sides" -> "BroadcastNestedLoopJoin"),
    "q227_funnel_conversion" -> Seq(
      "each step's type filter pushed to its scan" -> "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,view)",
      "every stage joins/aggregates on the one user_id key" -> "HashAggregate",
      "props/value never read" -> "ReadSchema: struct<ts:timestamp_ntz,user_id:bigint,event_type:string>",
      "no cartesian product outside the 1-row baseline" -> "!CartesianProduct"),
    "q228_retention_matrix" -> Seq(
      "cohort day-0 sizes broadcast onto the matrix" -> "BroadcastHashJoin",
      "first-seen and matrix cells partial-aggregate map-side" -> "HashAggregate",
      "only ts and user_id read" -> "ReadSchema: struct<ts:timestamp_ntz,user_id:bigint>"),
    // q229 drives its peel rounds imperatively (each round's count
    // materializes the cached edge frame; a single union query over the
    // 3-deep cached-join tree cost ~10 s of AQE re-planning on one-task
    // data) — the iterative-algorithm pattern of q106/q142. The returned
    // frame is therefore the pre-computed trajectory; the per-round join
    // shape (broadcast node-set semi-joins, no cartesian) is asserted
    // semantically in AnalyticsSpec's K4 fixed-point test.
    "q229_kcore_decomposition" -> Seq(
      "result is the pre-materialized trajectory (rounds run imperatively)" -> "LocalTableScan"),
    "q231_llr_copurchase" -> Seq(
      "margins meet the pairs in broadcast equi joins" -> "BroadcastHashJoin",
      "top-20 cut without a global sort" -> "TakeOrderedAndProject",
      "only the basket columns read" -> "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>"),
    "q232_cusum_changepoint" -> Seq(
      "CUSUM windows run on day-counts, never raw events" -> "Window",
      "daily counts partial-aggregate before the one shuffle" -> "HashAggregate",
      "only ts and event_type read" -> "ReadSchema: struct<ts:timestamp_ntz,event_type:string>"),
    "q234_source_dup_matrix" -> Seq(
      "band candidates meet in an equi hash join" -> "HashJoin",
      "no cartesian product anywhere" -> "!CartesianProduct",
      "only doc_id, text, source read" -> "ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
    // q235/q236 are table-MAINTENANCE ops: the interesting behavior (which
    // partitions a dynamic overwrite swaps, how many files a compaction
    // emits) lives in the write path and is pinned by
    // ExtrasMaintenanceSpec; the returned frames are plain reads of the
    // maintained tables.
    "q235_partition_backfill" -> Seq(
      "result is a plain scan of the repaired partitioned table" -> "Scan parquet",
      "no join anywhere in the readback" -> "!Join"),
    "q236_small_file_compaction" -> Seq(
      "parity counts partial-aggregate over the compacted scan" -> "HashAggregate",
      "result reads the compacted files, not the fragments" -> "Scan parquet"),
    "q237_table_diff" -> Seq(
      "reconciliation is ONE full-outer join on the key" -> "FullOuter",
      "per-status rollup partial-aggregates before its shuffle" -> "HashAggregate",
      "only key, price, status read" -> "ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string,o_totalprice:double>",
      "no cartesian product anywhere" -> "!CartesianProduct"),
    "q238_naive_bayes" -> Seq(
      "bounded class/prior tables broadcast onto test tokens" -> "BroadcastNestedLoopJoin",
      "per-(doc,class) score partial-aggregates map-side" -> "HashAggregate",
      "argmax is one window pass per doc" -> "Window",
      "no cartesian product beyond the broadcast class fan-out" -> "!CartesianProduct"),
    "q239_kaplan_meier" -> Seq(
      "per-user extents partial-aggregate before the one user shuffle" -> "HashAggregate",
      "corpus high-water broadcast (1 row)" -> "BroadcastNestedLoopJoin",
      "risk-set windows run on the compacted duration domain" -> "Window",
      "only ts and user_id read" -> "ReadSchema: struct<ts:timestamp_ntz,user_id:bigint>"),
    "q240_retrieval_metrics" -> Seq(
      "probe queries broadcast, corpus scanned shuffle-free" -> "BroadcastNestedLoopJoin",
      "per-query top-10 is one window pass" -> "Window",
      "no cartesian product" -> "!CartesianProduct"),
    "q243_acf" -> Seq(
      "daily counts partial-aggregate before the one data-sized shuffle" -> "HashAggregate",
      "lag self-join runs on the bounded day domain (broadcast-small)" -> "BroadcastNestedLoopJoin",
      "only ts read" -> "ReadSchema: struct<ts:timestamp_ntz>"),
    "q244_grid_spatial_join" -> Seq(
      "spatial candidates meet in an EQUI join on the cell key" -> "HashJoin",
      "9-offset fan-out rides a broadcast, not a cartesian" -> "!CartesianProduct",
      "only the key column read (coords are derived)" -> "ReadSchema: struct<c_custkey:bigint>"),
    "q246_forecast_backtest" -> Seq(
      "daily counts partial-aggregate before the one shuffle" -> "HashAggregate",
      "lag features are window passes over the bounded grid" -> "Window",
      "only ts and event_type read" -> "ReadSchema: struct<ts:timestamp_ntz,event_type:string>"),
    "q247_point_in_time_join" -> Seq(
      "as-of lookup is an EQUI join on user_id (interval rides it)" -> "HashJoin",
      "dimension intervals are window passes on one user shuffle" -> "Window",
      "only the four needed columns read" -> "ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,user_id:bigint,event_type:string>",
      "no interval cross join" -> "!CartesianProduct"),
    "q249_sketch_table_merge" -> Seq(
      "range membership rides the broadcast ranges table" -> "BroadcastNestedLoopJoin",
      "per-day and per-range order statistics are window passes" -> "Window",
      "only ts and user_id read" -> "ReadSchema: struct<ts:timestamp_ntz,user_id:bigint>"),
    "q264_zipf_fit" -> Seq(
      "token counts partial-aggregate before the vocab shuffle" -> "HashAggregate",
      "rank window runs on the Zipf-bounded vocabulary" -> "Window",
      "only text read" -> "ReadSchema: struct<text:string>"),
    "q262_gini_lorenz" -> Seq(
      "per-customer revenue partial-aggregates before the rank" -> "HashAggregate",
      "Lorenz/Gini windows run on the entity-sized aggregate" -> "Window",
      "only custkey and totalprice read" -> "ReadSchema: struct<o_custkey:bigint,o_totalprice:double>"),
    "q263_neyman_allocation" -> Seq(
      "per-stratum stats partial-aggregate before one shuffle" -> "HashAggregate",
      "apportionment windows run on the bounded strata table" -> "Window",
      "only lang and n_chars read" -> "ReadSchema: struct<lang:string,n_chars:bigint>"),
    "q265_benford_audit" -> Seq(
      "digit counts partial-aggregate into a 9-key shuffle" -> "HashAggregate",
      "expected table and total broadcast onto the 9-row join" -> "BroadcastHashJoin",
      "only totalprice read" -> "ReadSchema: struct<o_totalprice:double>"),
    "q266_spearman_corr" -> Seq(
      "rank maps broadcast back onto the corpus" -> "BroadcastHashJoin",
      "rank windows run on the compacted value domains" -> "Window",
      "moment sums partial-aggregate map-side" -> "HashAggregate",
      "only text and n_chars read" -> "ReadSchema: struct<text:string,n_chars:bigint>"),
    "q267_rolling_wau" -> Seq(
      "coverage fan-out joins DAU in a day-keyed equi join" -> "HashJoin",
      "per-user-day collapse partial-aggregates map-side" -> "HashAggregate",
      "no windowed distinct anywhere" -> "!Window",
      "only ts and user_id read" -> "ReadSchema: struct<ts:timestamp_ntz,user_id:bigint>"),
    "q268_k_anonymity" -> Seq(
      "quasi-identifier classes partial-aggregate map-side" -> "HashAggregate",
      "1-row totals broadcast into the violations projection" -> "BroadcastNestedLoopJoin",
      "only the three quasi-identifier columns read" -> "ReadSchema: struct<c_nationkey:int,c_acctbal:double,c_mktsegment:string>"),
    "q270_prf_expansion" -> Seq(
      "feedback doc ids broadcast into a semi-join on the postings" -> "BroadcastHashJoin",
      "both top-k cuts avoid a global sort" -> "TakeOrderedAndProject",
      "term stats partial-aggregate before the one postings shuffle" -> "HashAggregate",
      "only doc_id and text read" -> "ReadSchema: struct<doc_id:bigint,text:string>"),
    "q271_erasure_sweep" -> Seq(
      "purge is a keyed LEFT ANTI with the request list broadcast" -> "BroadcastHashJoin LeftAnti",
      "zero-remaining verification is a broadcast semi join" -> "LeftSemi",
      "only event_type and user_id read" -> "ReadSchema: struct<user_id:bigint,event_type:string>"),
    "q272_spend_deciles" -> Seq(
      "entities range-partition instead of a global sort" -> "rangepartitioning(cents",
      "rank window is per-range-partition" -> "Window",
      "spend partial-aggregates before the entity shuffle" -> "HashAggregate",
      "only custkey and totalprice read" -> "ReadSchema: struct<o_custkey:bigint,o_totalprice:double>"),
    "q273_chi2_independence" -> Seq(
      "both dimension tables broadcast into the fact join" -> "BroadcastHashJoin",
      "contingency cells partial-aggregate map-side" -> "HashAggregate",
      "marginal/total sums are window passes on <= 25 cells" -> "Window"),
    // q274's only exchange is the oracle's deterministic ORDER BY on the
    // emitted chunks; the chunking itself is map-side (no agg, no join).
    "q274_doc_chunking" -> Seq(
      "no aggregation anywhere (chunks emitted straight off the scan)" -> "!HashAggregate",
      "no join anywhere" -> "!Join",
      "only doc_id and text read" -> "ReadSchema: struct<doc_id:bigint,text:string>"),
    "q275_dedup_retention" -> Seq(
      "one shuffle on the cluster hash, both windows share it" -> "Window",
      "no join anywhere (representative picked by window, not self-join)" -> "!Join",
      "only doc_id, text, n_chars read" -> "ReadSchema: struct<doc_id:bigint,text:string,n_chars:bigint>"),
    "q276_file_provenance" -> Seq(
      "per-file stats partial-aggregate map-side" -> "HashAggregate",
      "no join anywhere (union of per-table audits)" -> "!Join",
      "row_index rides the scan as metadata, no data columns read" -> "_metadata"),
    "q277_item_cf" -> Seq(
      "pairs come from the per-order equi self-join, never all-pairs" -> "HashJoin",
      "item counts broadcast onto surviving pairs" -> "BroadcastHashJoin",
      "top-20 without a global sort" -> "TakeOrderedAndProject",
      "no cartesian product" -> "!CartesianProduct"),
    "q278_markov_backtest" -> Seq(
      "adjacency windows run on the user partitioning" -> "Window",
      "trained model broadcast into the test transitions" -> "BroadcastHashJoin",
      "only the four needed event columns read" -> "ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,user_id:bigint,event_type:string>"),
    "q279_capture_recapture" -> Seq(
      "overlap is a keyed LEFT SEMI on the collapsed user sets" -> "LeftSemi",
      "estimator arithmetic runs on broadcast 1-row sides" -> "BroadcastNestedLoopJoin",
      "only user_id and event_type read" -> "ReadSchema: struct<user_id:bigint,event_type:string>"),
    "q280_spatial_hotspot" -> Seq(
      "neighbor mass via the 9-offset EQUI join on the cell table" -> "HashJoin",
      "points shuffle once into cells, partial-aggregated map-side" -> "HashAggregate",
      "totals broadcast (1 row)" -> "BroadcastNestedLoopJoin",
      "no all-pairs cell join" -> "!CartesianProduct"),
    "q281_schema_evolution" -> Seq(
      "pruning reaches THROUGH the merged scan (doc_id dropped)" -> "ReadSchema: struct<n_chars:bigint,lang:string>",
      "epoch rollup partial-aggregates map-side" -> "HashAggregate",
      "no join anywhere" -> "!Join"),
    "q283_generalization_tradeoff" -> Seq(
      "region rollup rides broadcast dims" -> "BroadcastHashJoin",
      "both levels partial-aggregate map-side" -> "HashAggregate",
      "no cartesian product" -> "!CartesianProduct"),
    "q284_share_of_parent" -> Seq(
      "fact touched once; revenue partial-aggregates on the join" -> "HashAggregate",
      "dims broadcast into the rollup" -> "BroadcastHashJoin",
      "share windows run on the nation-sized rollup" -> "Window"),
    "q285_personalized_pagerank" -> Seq(
      "each power iteration is an equi join + keyed aggregation" -> "HashJoin",
      "top-20 without a global sort" -> "TakeOrderedAndProject",
      "no cartesian product" -> "!CartesianProduct"),
    "q286_kwic_concordance" -> Seq(
      "probe broadcast; matches found map-side in the token array" -> "BroadcastNestedLoopJoin",
      "top-50 without a global sort" -> "TakeOrderedAndProject",
      "no positional self-join" -> "!SortMergeJoin"),
    "q287_rate_limit_audit" -> Seq(
      "activity cells partial-aggregate map-side" -> "HashAggregate",
      "top-20 without a global sort" -> "TakeOrderedAndProject",
      "only ts and user_id read" -> "ReadSchema: struct<ts:timestamp_ntz,user_id:bigint>"),
    "q288_embedding_drift" -> Seq(
      "global scale broadcast into the quantization" -> "BroadcastNestedLoopJoin",
      "per-(label,half,dim) sums partial-aggregate map-side" -> "HashAggregate",
      "halves meet in a keyed equi join on (label, dim)" -> "HashJoin"),
    "q289_weighted_median" -> Seq(
      "price domain compacts before the cumulative windows" -> "HashAggregate",
      "cumulative/total windows share the flag partitioning" -> "Window",
      "only the three needed columns read" -> "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_returnflag:string>"),
    "q290_ks_test" -> Seq(
      "both ECDFs accumulate on one merged compacted domain" -> "Window",
      "per-value counts partial-aggregate map-side" -> "HashAggregate",
      "no join anywhere" -> "!Join"),
    "q291_pseudonymization" -> Seq(
      "token join is a keyed equi join, never nested-loop" -> "HashJoin",
      "certificate assembled from broadcast 1-row sides" -> "BroadcastNestedLoopJoin",
      "no cartesian beyond the 1-row certificate assembly" -> "!CartesianProduct"),
    "q292_cep_pattern" -> Seq(
      "whole pattern is one user-keyed window pass" -> "Window",
      "no self-join per pattern stage" -> "!SortMergeJoin",
      "only the four needed event columns read" -> "ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,user_id:bigint,event_type:string>"),
    "q293_fk_conformance" -> Seq(
      "orphans found by keyed LEFT ANTI with the dimension broadcast" -> "BroadcastHashJoin LeftAnti",
      "fact scans read only the key column" -> "ReadSchema: struct<l_partkey:bigint>",
      "no cartesian beyond 1-row report assembly" -> "!CartesianProduct"),
    "q294_rolling_corr" -> Seq(
      "moment windows run on the bounded zero-filled day grid" -> "Window",
      "daily counts partial-aggregate map-side" -> "HashAggregate",
      "grid join is day-keyed equi" -> "HashJoin"),
    "q295_delta_attribution" -> Seq(
      "one fact aggregation feeds current and baseline" -> "HashAggregate",
      "horizon and totals broadcast (1 row)" -> "BroadcastNestedLoopJoin",
      "segment report join is keyed equi" -> "HashJoin"),
    "q296_column_matching" -> Seq(
      "per-table profiles are single-pass aggregations" -> "HashAggregate",
      "pair scoring runs on the 5-row profile table" -> "BroadcastNestedLoopJoin",
      "each profile reads only its one column" -> "ReadSchema: struct<c_acctbal:double>"),
    "q297_conformal_interval" -> Seq(
      "per-quantity model broadcast into both residual joins" -> "BroadcastHashJoin",
      "calibration quantile is a window over the compacted residuals" -> "Window",
      "only quantity/price/orderkey read" -> "ReadSchema: struct<l_orderkey:bigint,l_quantity:double,l_extendedprice:double>"),
    "q298_kfold_cv" -> Seq(
      "one moment aggregation serves all 5 folds (global-minus-fold)" -> "HashAggregate",
      "fold coefficients broadcast into the out-of-fold scoring" -> "BroadcastHashJoin",
      "no per-fold rescan join" -> "!SortMergeJoin"),
    "q299_diff_in_diff" -> Seq(
      "customer dimension broadcast into the fact join" -> "BroadcastHashJoin",
      "one (segment, period) aggregation; DiD is 1-row arithmetic" -> "HashAggregate",
      "no cartesian beyond the 1-row horizon" -> "!CartesianProduct"),
    "q301_incremental_join" -> Seq(
      "dimension broadcast into every view join" -> "BroadcastHashJoin",
      "view rollups partial-aggregate map-side" -> "HashAggregate",
      "report joins are nation-keyed equi" -> "!CartesianProduct"),
    "q302_rank_movers" -> Seq(
      "rank windows run on the part-sized rollup" -> "Window",
      "top-10 without a global sort" -> "TakeOrderedAndProject",
      "period rollup partial-aggregates map-side" -> "HashAggregate"),
    "q303_trimmed_mean" -> Seq(
      "trim weights computed on the compacted value domain" -> "Window",
      "value compaction partial-aggregates map-side" -> "HashAggregate",
      "no join anywhere" -> "!Join"),
    "q322_capped_common_neighbors" -> Seq(
      "adjacency cap is a per-node partitioned rank window" -> "Window",
      "wedge join is an equi hash/merge join on the center key" -> "!CartesianProduct",
      "top-20 without a global sort" -> "TakeOrderedAndProject",
      "only orderkey and suppkey read" -> "ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint>"),
    "q341_stream_pipe_replication" -> Seq(
      "replica digest partial-aggregates map-side" -> "HashAggregate",
      "no join anywhere in the certificate" -> "!Join"),
    "q355_quarantine_pipeline" -> Seq(
      "lane digests partial-aggregate map-side" -> "HashAggregate",
      "certificate assembles via broadcast (1-row sides)" -> "BroadcastNestedLoopJoin"),
    "q356_time_travel_diff" -> Seq(
      "both as-of states fold in ONE per-key aggregation" -> "HashAggregate",
      "cutoff broadcast (1 row)" -> "BroadcastNestedLoopJoin",
      "no per-key window anywhere" -> "!Window"),
    "q357_slo_burn_rate" -> Seq(
      "daily pre-aggregation partial-aggregates map-side" -> "HashAggregate",
      "high-water broadcast (1 row) into the window sums" -> "BroadcastNestedLoopJoin",
      "only ts and event_type read" -> "ReadSchema: struct<ts:timestamp_ntz,event_type:string>"),
    "q353_streaming_psi" -> Seq(
      "ln-term finalization runs on the bounded 10-bin grid" -> "Window",
      "grid join broadcasts the drained 20-cell sink" -> "BroadcastHashJoin"),
    "q354_data_contract" -> Seq(
      "whole contract is one scan + conditional aggregates" -> "HashAggregate",
      "FK probe is a broadcast join against the dimension" -> "BroadcastHashJoin",
      "no cartesian anywhere" -> "!CartesianProduct"),
    "q352_ktable_materialization" -> Seq(
      "compacted state reads back through one ordered projection" -> "Sort",
      "no join anywhere in the readback" -> "!Join"),
    "q342_pipe_resume_replication" -> Seq(
      "resumed-replica digest partial-aggregates map-side" -> "HashAggregate",
      "no join anywhere in the certificate" -> "!Join"),
    "q343_sharded_pipe_replication" -> Seq(
      "four shard streams digest through one aggregation" -> "HashAggregate",
      "no join anywhere in the certificate" -> "!Join"),
    "q344_log_key_compaction" -> Seq(
      "compacted-log digest partial-aggregates map-side" -> "HashAggregate",
      "no join anywhere in the certificate" -> "!Join"),
    "q358_index_freshness_audit" -> Seq(
      "coverage classes from one full-outer id join" -> "FullOuter",
      "class rollup partial-aggregates map-side" -> "HashAggregate"),
    "q359_dataloader_replay" -> Seq(
      "per-shard fingerprints partial-aggregate map-side" -> "HashAggregate",
      "epoch check assembles via broadcast" -> "BroadcastHashJoin",
      "only doc_id read" -> "ReadSchema: struct<doc_id:bigint>"),
    "q360_label_noise" -> Seq(
      "class/prior/vocab stats broadcast into scoring" -> "BroadcastHashJoin",
      "likelihood table joins KEYED on (class, token)" -> "!CartesianProduct",
      "argmax and margins are per-doc partitioned windows" -> "Window"),
    "q361_hard_negative_mining" -> Seq(
      "probes broadcast, corpus never shuffles for the scan" -> "BroadcastNestedLoopJoin",
      "positive/negative picks are per-probe partitioned windows" -> "Window",
      "per-label rollup partial-aggregates map-side" -> "HashAggregate"),
    "q345_embedding_drift" -> Seq(
      "per-dim sufficient statistics partial-aggregate map-side" -> "HashAggregate",
      "half counts broadcast into the shift assembly" -> "BroadcastHashJoin",
      "no pairwise comparison anywhere" -> "!CartesianProduct"),
    "q346_changelog_to_scd2" -> Seq(
      "interval fold is one LEAD window on the key partitioning" -> "Window",
      "version digest partial-aggregates map-side" -> "HashAggregate"),
    "q351_experiment_readout" -> Seq(
      "per-user metrics aggregate once, replicas ride one explode" -> "HashAggregate",
      "srm/point/ci assemble via broadcast (1-row sides)" -> "BroadcastNestedLoopJoin",
      "only user_id, ts, value read" -> "ReadSchema: struct<ts:timestamp_ntz,user_id:bigint,value:double>"),
    "q347_isotonic_calibration" -> Seq(
      "minimax windows are joins of the broadcast 10-row prefix table" -> "BroadcastNestedLoopJoin",
      "binning partial-aggregates map-side" -> "HashAggregate",
      "only event_type and value read" -> "ReadSchema: struct<event_type:string,value:double>"),
    "q348_srm_check" -> Seq(
      "variant counts partial-aggregate map-side" -> "HashAggregate",
      "only user_id read" -> "ReadSchema: struct<user_id:bigint>",
      "no join anywhere" -> "!Join"),
    "q349_shard_balance" -> Seq(
      "shard stats partial-aggregate map-side" -> "HashAggregate",
      "only doc_id and text read" -> "ReadSchema: struct<doc_id:bigint,text:string>",
      "no join anywhere" -> "!Join"),
    "q350_index_segment_merge" -> Seq(
      "segment merge is a term-keyed full-outer join" -> "FullOuter",
      "postings partial-aggregate map-side" -> "HashAggregate",
      "no cartesian beyond the 1-row digest assembly" -> "!CartesianProduct"),
    "q362_schema_drift" -> Seq(
      // the parquet round-trip + footer introspection happen at plan-build
      // time; the emitted diff is a bounded local relation by design
      "diff emission is a bounded local relation" -> "LocalTableScan",
      "no join anywhere" -> "!SortMergeJoin"),
    "q339_table_checksum" -> Seq(
      "digests partial-aggregate map-side (3 longs per table cross the shuffle)" -> "HashAggregate",
      "no join anywhere" -> "!Join"),
    "q340_raking_weights" -> Seq(
      "margins broadcast into every IPF round" -> "BroadcastHashJoin",
      "IPF rounds are windows on the bounded cell grid" -> "Window",
      "only mktsegment and nationkey read" -> "ReadSchema: struct<c_nationkey:int,c_mktsegment:string>"),
    "q364_alpha_mixture" -> Seq(
      "token counts partial-aggregate map-side" -> "HashAggregate",
      "weight total broadcast over the lang rows" -> "BroadcastNestedLoopJoin",
      "only lang and text read" -> "ReadSchema: struct<text:string,lang:string>"),
    "q365_bradley_terry" -> Seq(
      // the distributed transition window + win aggregation run at
      // plan-build time (driver collects the bounded |types|^2 statistics
      // and fits MM locally — q362's emission pattern); the emitted
      // ranking is a bounded local relation by design
      "ranking emission is a bounded local relation" -> "LocalTableScan",
      "no join in the emission" -> "!SortMergeJoin"),
    "q366_source_ablation" -> Seq(
      "one (source,lang) aggregation feeds every ablation" -> "HashAggregate",
      "lang totals broadcast into the subtraction grid" -> "BroadcastNestedLoopJoin",
      "no shuffle-side join of corpus-sized tables" -> "!SortMergeJoin"),
    "q367_kcenter_coreset" -> Seq(
      "chosen centers broadcast each round" -> "BroadcastNestedLoopJoin",
      "farthest-point argmax without a global sort" -> "TakeOrderedAndProject",
      "only vec_id and embedding read" -> "ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
    "q368_span_corruption" -> Seq(
      "mask accounting partial-aggregates map-side" -> "HashAggregate",
      "no join anywhere (pure map + one doc aggregation)" -> "!Join"),
    "q369_conformal_threshold" -> Seq(
      "per-lang thresholds broadcast over the evaluation split" -> "BroadcastHashJoin",
      "order statistic on the compacted (lang,score) domain" -> "Window",
      "no cartesian product" -> "!CartesianProduct"),
    "q370_monotone_calibration" -> Seq(
      "bin counts partial-aggregate map-side" -> "HashAggregate",
      "value bounds broadcast (binning stays map-side)" -> "BroadcastNestedLoopJoin",
      "only event_type and value read" -> "ReadSchema: struct<event_type:string,value:double>"),
    "q371_kneser_ney" -> Seq(
      "bigrams from one per-doc window (no positional self-join)" -> "Window",
      "count tables join keyed on tokens (vocab grows with the corpus)" -> "HashJoin",
      "no cartesian product" -> "!CartesianProduct"),
    "q372_dedup_roi_curve" -> Seq(
      "band candidates from an equi hash join" -> "HashJoin",
      "no cartesian product (never all-pairs)" -> "!CartesianProduct",
      "yield rollup partial-aggregates map-side" -> "HashAggregate"),
    "q373_uncertainty_sampling" -> Seq(
      "class stats broadcast over the scored tokens" -> "BroadcastNestedLoopJoin",
      "labeling queue cut without a global sort" -> "TakeOrderedAndProject",
      "likelihoods join keyed on the token" -> "HashJoin"),
    "q378_leakage_audit" -> Seq(
      "one user-keyed dimension window (no self-join beyond the PIT lookup)" -> "Window",
      "PIT and current-state lookups are equi hash joins" -> "HashJoin",
      "only user_id, event_id, event_type, ts read" -> "ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,user_id:bigint,event_type:string>"),
    "q379_prefix_cache_share" -> Seq(
      "prefix hash computed map-side before the one aggregation" -> "HashAggregate",
      "no join anywhere" -> "!Join",
      "only text read" -> "ReadSchema: struct<text:string>"),
    "q380_semantic_decontaminate" -> Seq(
      "train x test candidates from an equi hash join on (band, bucket)" -> "HashJoin",
      "no cartesian product (never all-pairs across splits)" -> "!CartesianProduct",
      "hyperplanes and global scale broadcast" -> "BroadcastNestedLoopJoin"),
    "q381_fleiss_kappa" -> Seq(
      "raters are map-side; agreement sums partial-aggregate before the single-row exchange" -> "HashAggregate",
      "no join anywhere" -> "!Join",
      "only text read" -> "ReadSchema: struct<text:string>"),
    "q382_data_budget_epochs" -> Seq(
      "single-row source count broadcast over the per-source table" -> "BroadcastNestedLoopJoin",
      "dedup + source rollup partial-aggregate map-side" -> "HashAggregate",
      "no cartesian beyond the 1-row broadcast" -> "!CartesianProduct"),
    "q383_paired_bootstrap" -> Seq(
      "per-(doc,replica) weight draw map-side before the 64-row replicate aggregation" -> "HashAggregate",
      "replicate stats broadcast onto the 1-row point estimate" -> "BroadcastNestedLoopJoin",
      "no cartesian beyond the 1-row broadcast" -> "!CartesianProduct"),
    "q384_tokenizer_fertility" -> Seq(
      "tokenizer applied after the distinct-word dictionary aggregation" -> "HashAggregate",
      "dictionary joined back by an equi hash join" -> "HashJoin",
      "corpus baseline broadcast; no cartesian" -> "!CartesianProduct",
      "only source and text read" -> "ReadSchema: struct<text:string,source:string>"),
    "q386_preference_cycles" -> Seq(
      "one user-keyed transition window is the only corpus-sized pass" -> "Window",
      "cycle/triple joins run on the bounded majority-edge set" -> "HashJoin",
      "only ts, event_id, user_id, event_type read" -> "ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,user_id:bigint,event_type:string>"),
    "q387_watermark_screen" -> Seq(
      "bigram hashing map-side before the doc aggregation" -> "HashAggregate",
      "no join anywhere" -> "!Join",
      "only doc_id, source, text read" -> "ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
    "q389_spec_decode_acceptance" -> Seq(
      "draft argmax is a per-context (vocabulary-bounded) rank window" -> "Window",
      "draft table joined by an equi hash join" -> "HashJoin",
      "no cartesian product" -> "!CartesianProduct",
      "only doc_id, source, text read" -> "ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
    "q390_knn_ood" -> Seq(
      "coarse centroids broadcast into both assignment passes" -> "BroadcastNestedLoopJoin",
      "candidates from the cell equi-join, never test x train" -> "HashJoin",
      "no cartesian beyond the centroid broadcast" -> "!CartesianProduct"),
    "q391_doremi_reweight" -> Seq(
      "token-keyed frequency join (the corpus-sized shuffle)" -> "HashJoin",
      "per-source loss partial-aggregates map-side" -> "HashAggregate",
      "corpus scalar broadcast; no cartesian" -> "!CartesianProduct",
      "only source and text read" -> "ReadSchema: struct<text:string,source:string>"),
    "q392_dataset_card" -> Seq(
      "both rollups partial-aggregate before their source-keyed exchanges" -> "HashAggregate",
      "language majority is a per-source bounded rank window" -> "Window",
      "card join on source is an equi hash join" -> "HashJoin"),
    "q394_ess_diagnostic" -> Seq(
      "token-keyed frequency join (the corpus-sized shuffle)" -> "HashJoin",
      "weight moments partial-aggregate before the single-row exchange" -> "HashAggregate",
      "corpus scalar broadcast; no cartesian" -> "!CartesianProduct"),
    "q395_gate_length_bias" -> Seq(
      "gates evaluate map-side; 10-bin rollup partial-aggregates" -> "HashAggregate",
      "no join anywhere" -> "!Join",
      "only text read" -> "ReadSchema: struct<text:string>"),
    "q396_incremental_bm25_idf" -> Seq(
      "old/delta document frequencies merge by a term-keyed join" -> "Join",
      "no cartesian beyond the 1-row stats broadcasts" -> "!CartesianProduct",
      "top movers cut without a global sort" -> "TakeOrderedAndProject",
      "only doc_id and text read" -> "ReadSchema: struct<doc_id:bigint,text:string>"),
    "q397_preference_holdout" -> Seq(
      "one user-keyed transition window is the only corpus-sized pass" -> "Window",
      "trained edge set broadcast into both scoring joins" -> "BroadcastHashJoin",
      "no cartesian product" -> "!CartesianProduct"),
    "q398_segmentation_optimality" -> Seq(
      "greedy and DP tokenize only the distinct-word dictionary" -> "HashAggregate",
      "per-source totals from term-keyed equi hash joins" -> "HashJoin",
      "no cartesian product" -> "!CartesianProduct",
      "only source and text read" -> "ReadSchema: struct<text:string,source:string>"),
    "q400_mix_planner" -> Seq(
      "gate evaluates map-side before the dedup window" -> "HashAggregate",
      "planner reads the MATERIALIZED release seam" -> "Scan parquet",
      "token-keyed LM join; corpus scalars broadcast" -> "HashJoin",
      "no cartesian beyond the 1-row broadcasts" -> "!CartesianProduct"),
    "q401_vocab_ablation" -> Seq(
      "all three ablation walks tokenize only the distinct-word dictionary" -> "HashAggregate",
      "per-source totals from term-keyed equi hash joins" -> "HashJoin",
      "no cartesian product" -> "!CartesianProduct",
      "only source and text read" -> "ReadSchema: struct<text:string,source:string>"),
    "q402_pass_at_k" -> Seq(
      "per-problem (n, c) partial-aggregates map-side" -> "HashAggregate",
      "the k-fan is the 3-row broadcast, the only non-equi join" -> "BroadcastNestedLoopJoin",
      "only user_id and event_type read" -> "ReadSchema: struct<user_id:bigint,event_type:string>"),
    "q403_best_of_n" -> Seq(
      "rank and sample-count are bounded per-problem windows" -> "Window",
      "the n-fan is the 3-row broadcast, the only non-equi join" -> "BroadcastNestedLoopJoin",
      "only event_id, user_id, value read" -> "ReadSchema: struct<event_id:bigint,user_id:bigint,value:double>"),
    "q405_simpsons_audit" -> Seq(
      "stratum sufficient stats partial-aggregate map-side" -> "HashAggregate",
      "the reversal flag is a 1-row broadcast over the bounded stratum table" -> "BroadcastNestedLoopJoin",
      "only ts, event_type, value read" -> "ReadSchema: struct<ts:timestamp"),
    "q406_loo_influence" -> Seq(
      "moment sums partial-aggregate map-side" -> "HashAggregate",
      "global totals broadcast onto the bounded group table" -> "BroadcastNestedLoopJoin",
      "only user_id, event_type, value read" -> "ReadSchema: struct<user_id:bigint,event_type:string,value:double>"),
    "q407_fold_leakage" -> Seq(
      "near-dup candidates from the (band, key) equi hash join" -> "HashJoin",
      "no all-pairs comparison anywhere" -> "!CartesianProduct",
      "only doc_id and text read" -> "ReadSchema: struct<doc_id:bigint,text:string>"),
    "q408_clean_eval_gap" -> Seq(
      "rare eval n-grams broadcast into the train-side contamination probe" -> "BroadcastHashJoin",
      "no cartesian product anywhere" -> "!CartesianProduct",
      "only doc_id, source, text read" -> "ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
    "q409_curriculum_schedule" -> Seq(
      "difficulty histogram partial-aggregates map-side" -> "HashAggregate",
      "cutpoints broadcast into the map-side phase assignment" -> "BroadcastNestedLoopJoin",
      "the cumsum window runs over the bounded score domain, then 1-row aggregates" -> "Window"),
    "q411_fim_spans" -> Seq(
      "per-source accounting partial-aggregates map-side" -> "HashAggregate",
      "only source and text read" -> "ReadSchema: struct<text:string,source:string>"),
    "q412_packing_contamination" -> Seq(
      "block offsets broadcast back to the row pass" -> "BroadcastHashJoin",
      "row-level cumsum window partitions by block, never corpus-wide" -> "windowspecdefinition(blk",
      "per-chunk pair accounting partial-aggregates map-side" -> "HashAggregate"),
    "q415_window_mixture" -> Seq(
      "block offsets broadcast back to the row pass" -> "BroadcastHashJoin",
      "row-level cumsum window partitions by block, never corpus-wide" -> "windowspecdefinition(blk",
      "per-(chunk, source) token sums partial-aggregate map-side" -> "HashAggregate"),
    "q413_dp_accountant" -> Seq(
      "release-policy table broadcast into the count join" -> "BroadcastHashJoin",
      "per-type counts partial-aggregate map-side" -> "HashAggregate",
      "only event_type read" -> "ReadSchema: struct<event_type:string>"),
    "q414_streaming_dp_ledger" -> Seq(
      "ledger readout joins the drained counts to the broadcast policy table" -> "BroadcastHashJoin"),
    "q416_chunking_dependency_loss" -> Seq(
      "per-(doc, gram) spans partial-aggregate map-side before the offsets join" -> "HashAggregate",
      "no cartesian product anywhere" -> "!CartesianProduct",
      "only doc_id and text read" -> "ReadSchema: struct<doc_id:bigint,text:string>"),
    "q417_deletion_neighborhood" -> Seq(
      "candidate generation is keyed (never all-pairs)" -> "!CartesianProduct",
      "candidate dedup partial-aggregates map-side" -> "HashAggregate",
      "only doc_id and text read" -> "ReadSchema: struct<doc_id:bigint,text:string>"),
    "q419_streaming_fim_spans" -> Seq(
      "readout runs on the drained per-source snapshot (no corpus rescan)" -> "!Scan parquet"),
    "q420_dawid_skene" -> Seq(
      // the distributed work is one 3^3-pattern count aggregation over the
      // corpus at plan-build time (q365's emission pattern: the bounded
      // pattern table collects and the EM fits driver-side in exact BigInt)
      "confusion emission is a bounded local relation" -> "LocalTableScan",
      "no join in the emission" -> "!SortMergeJoin"),
    "q434_streaming_manifest" -> Seq(
      "readout runs on the drained per-source snapshot (no corpus rescan)" -> "!Scan parquet"),
    "q435_gate_ablation" -> Seq(
      "one metrics pass, per-source partial aggregation" -> "HashAggregate",
      "gate fan-out runs on the bounded per-source table (no corpus re-read)" -> "!SortMergeJoin",
      "only source and text read" -> "ReadSchema: struct<text:string,source:string>"),
    "q433_release_manifest" -> Seq(
      "one map-side hash pass, per-source partial aggregation" -> "HashAggregate",
      "no join, no window anywhere" -> "!Join",
      "only doc_id, source, text read" -> "ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
    "q432_l_diversity" -> Seq(
      "spend fact aggregates once per customer (keyed join, map-side partials)" -> "HashAggregate",
      "1-row corpus totals broadcast over the bounded class table" -> "BroadcastNestedLoopJoin",
      "no cartesian product anywhere" -> "!CartesianProduct"),
    "q431_span_scrub" -> Seq(
      "probe set broadcast into one map-side scrub pass" -> "BroadcastNestedLoopJoin",
      "span marking, rebuild and re-scan happen inside the row (no self-join)" -> "!SortMergeJoin",
      "no cartesian product anywhere" -> "!CartesianProduct"),
    "q430_tokenizer_staleness" -> Seq(
      "corpus collapses once to (source, half, word) counts" -> "HashAggregate",
      "old-half piece-cost map broadcast into the union-dictionary walk" -> "BroadcastNestedLoopJoin",
      "no cartesian product anywhere" -> "!CartesianProduct"),
    "q429_padding_waste" -> Seq(
      "per-doc accounting partial-aggregates map-side" -> "HashAggregate",
      "no cartesian product across strategies" -> "!CartesianProduct",
      "only source and text read" -> "ReadSchema: struct<text:string,source:string>"),
    "q428_scene_cuts" -> Seq(
      "decode + pair walk run as object map stages (no per-row UDF)" -> "MapPartitions",
      "no join, no shuffle in the per-clip pass" -> "!Join",
      "only doc_id read" -> "ReadSchema: struct<doc_id:bigint>"),
    "q436_mp4_box_walk" -> Seq(
      "encode + box walk run as one object map stage per file" -> "MapPartitions",
      "no join, no shuffle in the per-file pass" -> "!Join",
      "only doc_id read" -> "ReadSchema: struct<doc_id:bigint>"),
    "q442_fmp4_fragments" -> Seq(
      "encode + fragment walk run as one object map stage per file" -> "MapPartitions",
      "no join, no shuffle in the per-file pass" -> "!Join",
      "only doc_id read" -> "ReadSchema: struct<doc_id:bigint>"),
    "q457_cc_star_contraction" -> Seq(
      // rounds run imperatively with a localCheckpoint each (q106/q229
      // discipline), so the audited plan reads the materialized star
      // forest; the per-round shape (keyed aggs + equi joins) is pinned
      // by StarContractionProps + the q457==q106 equivalence spec
      "result reads the materialized star forest (rounds imperative)" -> "Scan ExistingRDD",
      "no cartesian product in the final labeling" -> "!CartesianProduct"),
    "q456_neardup_explain" -> Seq(
      "candidates form via the banded (band, key) equi hash join" -> "HashJoin",
      "no all-pairs comparison anywhere" -> "!CartesianProduct",
      "only doc_id and text read" -> "ReadSchema: struct<doc_id:bigint,text:string>"),
    "q455_source_budget_mixing" -> Seq(
      "every window keyed (source / source+quality) — no unpartitioned window anywhere" -> "!windowspecdefinition(quality_ppm#",
      "per-source running totals windowed by source" -> "windowspecdefinition(source",
      "compacted mass + allocations broadcast back over the docs" -> "BroadcastHashJoin",
      "only the three needed columns read" -> "ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
    "q453_token_budget_selection" -> Seq(
      "in-value running total is a window KEYED on quality_ppm (never a corpus-wide single partition)" -> "windowspecdefinition(quality_ppm",
      "compacted quality mass broadcast back over the docs" -> "BroadcastHashJoin",
      "budget (1 row) broadcast into the verdict" -> "BroadcastNestedLoopJoin",
      "only doc_id and text read" -> "ReadSchema: struct<doc_id:bigint,text:string>"),
    "q451_corpus_release_diff" -> Seq(
      "release diff is ONE full-outer equi join on doc_id" -> "SortMergeJoin FullOuter",
      "no cartesian product anywhere" -> "!CartesianProduct",
      "lang column pruned from both release scans" -> "ReadSchema: struct<doc_id:bigint,text:string,source:string,n_chars:bigint>"),
    "q472_key_skew_profile" -> Seq(
      "both keyings partial-aggregate map-side to key-sized tables" -> "HashAggregate",
      "per-keying totals broadcast back over the 64-row bucket domain" -> "BroadcastHashJoin",
      "no cartesian product anywhere" -> "!CartesianProduct",
      "only user_id read" -> "ReadSchema: struct<user_id:bigint>"),
    "q468_json_schema_census" -> Seq(
      "JSON synth + parse are map-side; only the type rollup shuffles" -> "HashAggregate",
      "no join anywhere" -> "!Join",
      "only event_id, event_type, props read" -> "ReadSchema: struct<event_id:bigint,event_type:string,props:string>"),
    "q469_silhouette" -> Seq(
      "bounded centroid table broadcast over the points" -> "BroadcastNestedLoopJoin",
      "no cartesian product anywhere" -> "!CartesianProduct",
      "quantized vectors staged once through the in-memory barrier" -> "InMemoryTableScan"),
    "q470_sitemap_coverage" -> Seq(
      "sitemap/crawl reconciliation is ONE loc-keyed full-outer equi join" -> "SortMergeJoin FullOuter",
      "no cartesian product anywhere" -> "!CartesianProduct"),
    "q466_dtw_alignment" -> Seq(
      "corpus-scale work is the keyed day rollup; DP runs in-plan on the calendar-bounded row" -> "HashAggregate",
      "no join anywhere" -> "!Join",
      "only ts, event_type read" -> "ReadSchema: struct<ts:timestamp_ntz,event_type:string>"),
    "q467_wasserstein_drift" -> Seq(
      "cumulative CDF windows keyed per event_type (compacted cents domain)" -> "windowspecdefinition(event_type",
      "per-type totals broadcast back over the domain" -> "BroadcastHashJoin",
      "no cartesian product anywhere" -> "!CartesianProduct"),
    "q464_margin_pair_mining" -> Seq(
      "fixed probe set broadcast against the corpus (q45's audited shape)" -> "BroadcastNestedLoopJoin",
      "neighborhood windows keyed per probe" -> "windowspecdefinition(q_id",
      "corpus-side neighborhood join is keyed, never cartesian" -> "!CartesianProduct"),
    "q465_rendezvous_resharding" -> Seq(
      "assignment is map-side; only the 9-row shard rollups shuffle" -> "HashAggregate",
      "no cartesian product anywhere" -> "!CartesianProduct",
      "only doc_id read" -> "ReadSchema: struct<doc_id:bigint>"),
    "q462_iban_pii" -> Seq(
      "plant + mod-97 validation are map-side; only the source rollup shuffles" -> "HashAggregate",
      "no join anywhere" -> "!Join",
      "only doc_id, source read (text never touched)" -> "ReadSchema: struct<doc_id:bigint,source:string>"),
    "q463_jl_projection" -> Seq(
      "probe pairs are ONE keyed equi self-join on vec_id" -> "HashJoin",
      "no cartesian product anywhere" -> "!CartesianProduct",
      "projection staged once through the in-memory barrier" -> "InMemoryTableScan"),
    "q460_label_spreading" -> Seq(
      "spreading rounds are node-keyed equi hash joins" -> "HashJoin",
      "majority pick is a window KEYED on node (never one partition)" -> "windowspecdefinition(node",
      "no cartesian product anywhere" -> "!CartesianProduct"),
    "q461_mojibake_detect" -> Seq(
      "plant, detect and repair are pure map-side string work" -> "!Join",
      "no aggregation shuffle either (per-doc rows)" -> "!HashAggregate",
      "only doc_id, text, source read" -> "ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
    "q458_warc_ingest" -> Seq(
      "archive parse is an object map stage per source blob" -> "MapPartitions",
      "no join anywhere (census columns come from the parser)" -> "!Join",
      "no cartesian product anywhere" -> "!CartesianProduct",
      "only doc_id, text, source read" -> "ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
    "q459_outlink_graph" -> Seq(
      "edge-anchor rollup partial-aggregates map-side" -> "HashAggregate",
      "modal-anchor window keyed on (source, dst_host), never one partition" -> "windowspecdefinition(source",
      "no join anywhere" -> "!Join",
      "no cartesian product anywhere" -> "!CartesianProduct"),
    "q449_mp4_sample_census" -> Seq(
      "encode + stbl parse run as one object map stage per file" -> "MapPartitions",
      "no join, no shuffle in the per-file pass" -> "!Join",
      "only doc_id read" -> "ReadSchema: struct<doc_id:bigint>"),
    "q437_cdc_chunking" -> Seq(
      "chunk-hash occurrence count is the one corpus shuffle (the storage-dedup plan)" -> "HashAggregate",
      "no cartesian product anywhere" -> "!CartesianProduct",
      "word-hash array staged through the in-memory barrier (HOF lambdas must reference an attribute)" -> "InMemoryTableScan"),
    "q443_incremental_cdc" -> Seq(
      "delta instances meet the persisted index in a bucketed hash equi-join" -> "HashJoin",
      "no cartesian product anywhere" -> "!CartesianProduct",
      "word-hash array staged through the in-memory barrier" -> "InMemoryTableScan"),
    "q438_luhn_pii" -> Seq(
      "plant, scan and Luhn validation are map-side; only the source rollup shuffles" -> "HashAggregate",
      "no join anywhere" -> "!Join",
      "only doc_id, text, source read" -> "ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
    "q445_streaming_luhn" -> Seq(
      "readout runs on the drained per-source snapshot (no corpus rescan)" -> "!Scan parquet"),
    "q447_source_vocab_overlap" -> Seq(
      "corpus collapses once to (source, word) counts" -> "HashAggregate",
      "top-k window keyed by source (dictionary-sized, never corpus-sized)" -> "windowspecdefinition(source",
      "pair join only touches the bounded top sets" -> "!CartesianProduct",
      "only source and text read" -> "ReadSchema: struct<text:string,source:string>"),
    "q446_streaming_admission_cap" -> Seq(
      "rollup runs on the drained admission verdicts (no corpus rescan)" -> "!Scan parquet"),
    "q444_contribution_capping" -> Seq(
      "selection window is keyed by (user, event_type) — group-sized, never corpus-sized" -> "Window",
      "no join anywhere" -> "!Join"),
    "q439_winnowing" -> Seq(
      "partner degree via the fingerprint equi-join (MOSS candidates, never all-pairs)" -> "HashAggregate",
      "no cartesian product anywhere" -> "!CartesianProduct",
      "gram-hash array staged through the in-memory barrier" -> "InMemoryTableScan"),
    "q440_epoch_shuffle" -> Seq(
      "per-epoch keys hash map-side; aggregations are keyed (bucket table bounded at 3x1024)" -> "HashAggregate",
      "no global sort of the corpus order" -> "!Sort [k",
      "only doc_id read" -> "ReadSchema: struct<doc_id:bigint>"),
    "q441_prefix_cache" -> Seq(
      "the (depth, prefix-key) count is the only corpus shuffle" -> "HashAggregate",
      "no join anywhere" -> "!Join",
      "only text read (doc_id pruned away)" -> "ReadSchema: struct<text:string>"),
    "q427_streaming_periods" -> Seq(
      "readout runs on the drained per-source snapshot (no corpus rescan)" -> "!Scan parquet"),
    "q426_lm_gate_agreement" -> Seq(
      "LM-score and gate passes meet in one doc-keyed equi join" -> "HashJoin",
      "decile bands broadcast back onto the doc table" -> "BroadcastHashJoin",
      "the decile window runs over the bounded score domain" -> "Window",
      "no cartesian product anywhere" -> "!CartesianProduct"),
    "q425_period_detection" -> Seq(
      "periodicity test is map-side inside the token array (no join)" -> "!Join",
      "per-source rollup partial-aggregates map-side" -> "HashAggregate",
      "only doc_id, source, text read" -> "ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
    "q423_unigram_lm_tokenizer" -> Seq(
      "corpus collapses once to (source, word) counts" -> "HashAggregate",
      "piece-cost maps broadcast into the dictionary walks" -> "BroadcastNestedLoopJoin",
      "no cartesian product anywhere" -> "!CartesianProduct",
      // r12: the corpus collapse is checkpointed at build time (its scan
      // prunes to text+source there); the readout plan must never rescan
      // the corpus — the q427/q424 pattern for build-time-consumed input
      "readout runs on the checkpointed collapse (no corpus rescan)" -> "!Scan parquet"),
    "q424_streaming_anisotropy" -> Seq(
      // the corpus pass ran through the engine source at plan-build time
      // (complete-mode Gram counters); the readout is the drained snapshot
      "readout runs on the drained state snapshot (no corpus rescan)" -> "!Scan parquet",
      "loading emission is a bounded local relation" -> "LocalTableScan"),
    "q422_abtt_whitening" -> Seq(
      // same one-Gram-pass shape as q421; deflation + second power
      // iteration run driver-side on the bounded d x d matrix
      "loading emission is a bounded local relation" -> "LocalTableScan",
      "no join in the emission" -> "!SortMergeJoin"),
    "q421_pca_anisotropy" -> Seq(
      // the corpus-sized work is one double-posexplode Gram aggregation
      // into d^2 bounded cells at plan-build time; the power iteration runs
      // driver-side on the collected matrix (q365's emission pattern)
      "loading emission is a bounded local relation" -> "LocalTableScan",
      "no join in the emission" -> "!SortMergeJoin"),
    "q418_branching_entropy" -> Seq(
      "triple counts partial-aggregate map-side" -> "HashAggregate",
      "no window anywhere" -> "!Window",
      "only source and text read" -> "ReadSchema: struct<text:string,source:string>"),
    "q385_incremental_dedup" -> Seq(
      "delta-vs-index and in-batch candidates from (band, key) equi hash joins" -> "HashJoin",
      "no cartesian product (never delta x corpus)" -> "!CartesianProduct",
      "signature agreement partial-aggregates before the verdict join" -> "HashAggregate"),
    "q376_ivf_delta_assign" -> Seq(
      "persisted centroids broadcast into every assignment pass" -> "BroadcastNestedLoopJoin",
      "assignment argmin partial-aggregates map-side" -> "HashAggregate",
      "no cartesian beyond the broadcast centroid fan-out" -> "!CartesianProduct"),
    "q448_ivfpq_delta_maintenance" -> Seq(
      "persisted centroids/codebooks broadcast into every delta pass" -> "BroadcastNestedLoopJoin",
      "per-cell stats partial-aggregate map-side" -> "HashAggregate",
      "no cartesian beyond the broadcast index fan-outs" -> "!CartesianProduct",
      "only vec_id and embedding read" -> "ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
    "q377_embedding_outlier_triage" -> Seq(
      "label centroids broadcast over the scoring pass" -> "BroadcastHashJoin",
      "per-label queue is a bounded rank window" -> "Window",
      "only vec_id, label, embedding read" -> "ReadSchema: struct<vec_id:bigint,embedding:array<float>,label:int>"),
    "q334_rollup_revenue" -> Seq(
      "all rollup levels expand before one shuffle (Expand operator)" -> "Expand",
      "dimension tables broadcast into the fact join" -> "BroadcastHashJoin",
      "levels partial-aggregate map-side" -> "HashAggregate"),
    "q335_cube_quantity" -> Seq(
      "all cube margins expand before one shuffle" -> "Expand",
      "margins partial-aggregate map-side" -> "HashAggregate",
      "only flag, status, quantity read" -> "ReadSchema: struct<l_quantity:double,l_returnflag:string,l_linestatus:string>"),
    "q337_entity_resolution" -> Seq(
      "candidates form via an equi join on the block key" -> "HashJoin",
      "no cartesian distance matrix" -> "!CartesianProduct",
      "best match is a per-record partitioned rank window" -> "Window"),
    "q338_image_near_dup" -> Seq(
      "candidates form via an equi join on (band, key)" -> "HashJoin",
      "no all-pairs hamming comparison" -> "!CartesianProduct",
      "per-distance rollup partial-aggregates map-side" -> "HashAggregate"),
    "q330_bigram_perplexity" -> Seq(
      "bigram/unigram LM counts partial-aggregate map-side" -> "HashAggregate",
      "vocab size broadcast (1 row) into scoring" -> "BroadcastNestedLoopJoin",
      "only doc_id, text, source read" -> "ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
    "q331_minhash_merge" -> Seq(
      "per-permutation signature merge partial-aggregates map-side" -> "HashAggregate",
      "no cartesian product anywhere" -> "!CartesianProduct",
      "only doc_id, text, source read" -> "ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
    "q332_zonemap_advisor" -> Seq(
      "zones read back through the partitioned parquet seam" -> "Scan parquet",
      "threshold broadcast (1 row) into the zone pass" -> "BroadcastNestedLoopJoin",
      "zone stats partial-aggregate map-side" -> "HashAggregate"),
    "q333_length_batching" -> Seq(
      "bucketing windows run on the compacted length domain" -> "Window",
      "length compaction partial-aggregates map-side" -> "HashAggregate",
      "only text read" -> "ReadSchema: struct<text:string>"),
    "q324_cusum_change" -> Seq(
      "cusum is two window passes on the bounded day grid" -> "Window",
      "daily pre-aggregation partial-aggregates map-side" -> "HashAggregate",
      "only ts and event_type read" -> "ReadSchema: struct<ts:timestamp_ntz,event_type:string>"),
    "q325_pii_redaction" -> Seq(
      "redaction is pure map-side regex, no join anywhere" -> "!Join",
      "per-source rollup partial-aggregates map-side" -> "HashAggregate",
      "only doc_id, text, source read" -> "ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
    "q326_kendall_tau" -> Seq(
      "concordance self-join runs on the broadcast compacted cell grid" -> "BroadcastNestedLoopJoin",
      "cell compaction partial-aggregates map-side" -> "HashAggregate",
      "only user_id and event_type read" -> "ReadSchema: struct<user_id:bigint,event_type:string>"),
    "q327_psi_drift" -> Seq(
      "bin counts partial-aggregate map-side" -> "HashAggregate",
      "bounds broadcast (1 row) into the binning pass" -> "BroadcastNestedLoopJoin",
      "only ts and value read" -> "ReadSchema: struct<ts:timestamp_ntz,value:double>"),
    "q328_sprt_ab" -> Seq(
      "llr walk is window passes on the bounded (variant x day) grid" -> "Window",
      "daily conversion rollup partial-aggregates map-side" -> "HashAggregate",
      "only ts, user_id, event_type read" -> "ReadSchema: struct<ts:timestamp_ntz,user_id:bigint,event_type:string>"),
    "q329_pinball_eval" -> Seq(
      "quantiles from cumulative windows on the compacted value domain" -> "Window",
      "per-type quantile table broadcast into the loss join" -> "BroadcastHashJoin",
      "only event_type and value read" -> "ReadSchema: struct<event_type:string,value:double>"),
    "q323_release_pipeline" -> Seq(
      "LSH candidates are an equi join on (band, key), never all-pairs" -> "!CartesianProduct",
      "BM25 query terms broadcast into the postings join" -> "BroadcastHashJoin",
      "released corpus is a materialized parquet seam" -> "Scan parquet",
      "near-dup retention is a keyed LEFT ANTI" -> "LeftAnti"),
    "q304_crawl_schedule" -> Seq(
      "slot assignment is one per-source window pass" -> "Window",
      "global interleave window bounded by the slot<=40 prefix filter" -> "<= 40)",
      "no join anywhere" -> "!Join",
      "only doc_id and source read" -> "ReadSchema: struct<doc_id:bigint,source:string>"),
    "q305_late_dimension" -> Seq(
      "park/resolve are keyed ANTI/SEMI with dim keys broadcast" -> "BroadcastHashJoin LeftAnti",
      "resolution is a broadcast semi join" -> "LeftSemi",
      "facts read key columns only" -> "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint>"),
    "q306_encoding_advisor" -> Seq(
      "per-column profiles are single-pass aggregations" -> "HashAggregate",
      "distinct-bytes side broadcast (1 row)" -> "BroadcastNestedLoopJoin",
      "no cartesian beyond the 1-row profile assembly" -> "!CartesianProduct"),
    "q307_shadow_gate_diff" -> Seq(
      "both gates evaluate in one map-side pass" -> "HashAggregate",
      "no join anywhere (confusion cells from one aggregation)" -> "!SortMergeJoin",
      "only n_chars read" -> "ReadSchema: struct<n_chars:bigint>"),
    "q308_backfill_plan" -> Seq(
      "presence counts partial-aggregate map-side" -> "HashAggregate",
      "span broadcast (1 row)" -> "BroadcastNestedLoopJoin",
      "only ts and event_type read" -> "ReadSchema: struct<ts:timestamp_ntz,event_type:string>"),
    "q309_design_effect" -> Seq(
      "per-cluster moments partial-aggregate map-side" -> "HashAggregate",
      "no join anywhere" -> "!Join",
      "only nationkey and acctbal read" -> "ReadSchema: struct<c_nationkey:int,c_acctbal:double>"),
    "q310_bot_regularity" -> Seq(
      "gap series is one LAG window on the user partitioning" -> "Window",
      "moments partial-aggregate map-side" -> "HashAggregate",
      "top-20 without a global sort" -> "TakeOrderedAndProject"),
    "q311_quantization_ladder" -> Seq(
      "probe side broadcast before both brute passes" -> "BroadcastNestedLoopJoin",
      "per-probe top-10 are windows on the probe partitioning" -> "Window",
      "overlap join is keyed equi" -> "!CartesianProduct"),
    "q312_class_separation" -> Seq(
      "sufficient statistics partial-aggregate map-side" -> "HashAggregate",
      "label-pair arithmetic runs on the 10-row table" -> "BroadcastHashJoin",
      "no pairwise distance materialization" -> "!CartesianProduct"),
    "q313_percentile_ribbon" -> Seq(
      "order statistics over the compacted (day, cents) domain" -> "Window",
      "compaction partial-aggregates map-side" -> "HashAggregate",
      "no join anywhere" -> "!Join"),
    "q314_lsh_tuner" -> Seq(
      "sample pairs come from the gram-keyed equi join" -> "HashJoin",
      "S-curve table and masses meet on the 10-row decile key" -> "BroadcastHashJoin",
      "no all-pairs cross join" -> "!CartesianProduct"),
    "q315_heaps_law" -> Seq(
      "first-seen collapse partial-aggregates map-side" -> "HashAggregate",
      "cumulative series are windows on the checkpoint domain" -> "Window",
      "only doc_id and text read" -> "ReadSchema: struct<doc_id:bigint,text:string>"),
    "q316_assortativity" -> Seq(
      "degrees ride the edge list in broadcast keyed joins" -> "BroadcastHashJoin",
      "moment sums partial-aggregate map-side" -> "HashAggregate",
      "no cartesian product" -> "!CartesianProduct"),
    "q317_modularity" -> Seq(
      "communities ride the broadcast supplier dimension" -> "BroadcastHashJoin",
      "within-edge and degree rollups are keyed aggregations" -> "HashAggregate",
      "no cartesian beyond the 1-row edge total" -> "!SortMergeJoin"),
    "q318_sla_attainment" -> Seq(
      "latency domain compacts before the order-statistic windows" -> "HashAggregate",
      "orders ride the join key (no cartesian)" -> "!CartesianProduct",
      "P90 windows run on the bounded latency domain" -> "Window"),
    "q319_mode_agg" -> Seq(
      "value compaction partial-aggregates map-side" -> "HashAggregate",
      "mode picked by a window on the compacted table" -> "Window",
      "no join anywhere" -> "!Join"),
    "q320_fdr_drift_screen" -> Seq(
      "per-source ECDFs accumulate on the compacted merged grid" -> "Window",
      "BH thresholds meet ranks in a broadcast keyed join" -> "BroadcastHashJoin",
      "per-value counts partial-aggregate map-side" -> "HashAggregate"),
    "q321_gini_split" -> Seq(
      "candidate splits are the compacted feature domain" -> "Window",
      "per-user collapse partial-aggregates map-side" -> "HashAggregate",
      "top-5 without a global sort" -> "TakeOrderedAndProject"),
    "q260_kmv_audience_overlap" -> Seq(
      "per-segment order statistics are window passes" -> "Window",
      "only ts-free columns read (event_type, user_id)" -> "ReadSchema: struct<user_id:bigint,event_type:string>",
      "no cartesian beyond the bounded pair fan-out" -> "!CartesianProduct"),
    "q261_link_prediction" -> Seq(
      "candidates come from the wedge EQUI join, never all-pairs" -> "HashJoin",
      "existing edges removed by a keyed LEFT ANTI" -> "LeftAnti",
      "top-20 without a global sort" -> "TakeOrderedAndProject",
      "no cartesian product" -> "!CartesianProduct"),
    "q258_ipf_mixture" -> Seq(
      "contingency counts partial-aggregate before the one shuffle" -> "HashAggregate",
      "marginals broadcast back onto the tiny cell table" -> "BroadcastHashJoin",
      "only source and lang read" -> "ReadSchema: struct<lang:string,source:string>"),
    "q255_stl_decompose" -> Seq(
      "trend/seasonal windows run on the bounded day grid" -> "Window",
      "daily counts partial-aggregate before the one shuffle" -> "HashAggregate",
      "only ts read" -> "ReadSchema: struct<ts:timestamp_ntz>"),
    "q256_time_to_convert" -> Seq(
      "next-purchase lookup is ONE reverse-running-min window" -> "Window",
      "no self-join / interval join for the next-event search" -> "!SortMergeJoin",
      "no cartesian product" -> "!CartesianProduct"),
    "q257_negative_sampling" -> Seq(
      "false-negative filter is a keyed LEFT ANTI join" -> "LeftAnti",
      "drawn keys validated by an equi join against part" -> "HashJoin",
      "no cartesian beyond the 2-row draw fan-out" -> "!CartesianProduct"),
    "q252_data_contract" -> Seq(
      "FK probe is a LEFT ANTI join against the dimension" -> "LeftAnti",
      "uniqueness check partial-aggregates on the key" -> "HashAggregate",
      "rule rows assemble from broadcast 1-row sides" -> "BroadcastNestedLoopJoin",
      "no cartesian beyond the 1-row assembly" -> "!CartesianProduct"),
    "q253_srm_check" -> Seq(
      "per-arm user counts partial-aggregate map-side" -> "HashAggregate",
      "only event_type and user_id read" -> "ReadSchema: struct<user_id:bigint,event_type:string>",
      "no join anywhere" -> "!Join"),
    "q254_cohort_ltv" -> Seq(
      "revenue joins first-seen on the one user key" -> "HashJoin",
      "cumulative window runs per cohort on the bounded grid" -> "Window",
      "only the three needed columns read" -> "ReadSchema: struct<ts:timestamp_ntz,user_id:bigint,event_type:string,value:double>"),
    // q250/q251 hash on executors inside the binary-codec mapPartitions
    // stage (no Catalyst expression decodes PPM/WAV); the plan surface to
    // pin is that bucket sizes come from ONE window pass and nothing joins.
    "q250_image_phash" -> Seq(
      "hash-bucket sizes are one window pass" -> "Window",
      "no join anywhere (hash computed map-side)" -> "!SortMergeJoin",
      "no cartesian product" -> "!CartesianProduct"),
    "q251_audio_fingerprint" -> Seq(
      "fingerprint-bucket sizes are one window pass" -> "Window",
      "no join anywhere (fingerprint computed map-side)" -> "!SortMergeJoin",
      "no cartesian product" -> "!CartesianProduct"),
    "q241_pareto_frontier" -> Seq(
      "skyline window runs on the compacted price domain, not raw parts" -> "Window",
      "frontier joined back on equi keys" -> "HashJoin",
      "only partkey, price, size read" -> "ReadSchema: struct<p_partkey:bigint,p_size:int,p_retailprice:double>",
      "no quadratic dominance join anywhere" -> "!CartesianProduct"))

  /** Runtime AQE skew-join probe (static plans can't show it — the
    * `skew=true` marker only exists in the ADAPTIVE executed plan after the
    * runtime re-plan): joins a deliberately skewed fact (85% of rows on one
    * key) against a flat side under sort-merge, with the skew thresholds
    * scaled down to fixture size, and asserts AQE split the hot partition.
    * This is the engine's first line against skewed JOIN keys at 100 TB;
    * the SALTED join (q89) is the documented fallback for what AQE cannot
    * split — skewed AGGREGATION state (skew-join only rewrites join
    * partitions) and hot keys whose single-key rows exceed an executor's
    * memory even after partition splitting (salting divides the KEY, AQE
    * only divides the PARTITION's row blocks on one side).
    */
  private[graft] def skewJoinHandled(spark: SparkSession): Boolean = {
    val tuned = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32768",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") // force the shuffle join
    val prev = tuned.map { case (k, _) => k -> spark.conf.getOption(k) }
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import spark.implicits._
      val fact = spark.range(120000).selectExpr(
        "IF(id % 7 = 0, id % 40, 999999L) AS k", // ~85% of rows on key 999999
        // skew detection compares COMPRESSED shuffle sizes — the pad must
        // not compress away, so derive it from the row id
        "repeat(md5(CAST(id AS STRING)), 2) AS pad")
      val dim = spark.range(1000000).selectExpr("id AS k", "id * 2 AS w")
      val joined = fact.join(dim, "k")
      // execute THIS queryExecution (df.count() would build and run a
      // different one, leaving this adaptive plan unfinalized); the RDD
      // count materializes no rows on the driver
      joined.queryExecution.toRdd.count()
      joined.queryExecution.executedPlan.toString.contains("skew=true")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runtime hub-cap wedge probe: on a planted hub (one node adjacent to
    * every other), the UNCAPPED wedge join would materialize ~n²/2 wedges
    * through the hub; q322's cappedAdjacency must keep the materialized
    * wedge volume <= cap × |capped edges|. Counted on the actual join
    * output (before the group-by), not inferred from the plan shape.
    */
  private[graft] def hubCapBounded(spark: SparkSession): Boolean = {
    import spark.implicits._
    val cap = 8
    val n = 2000
    // star: hub 0 with weight-ranked spokes, plus a sparse ring so
    // non-hub nodes have >1 neighbor
    val star = (1 until n).map(i => (0L, i.toLong, (n - i).toLong))
    val ring = (1 until n - 1).map(i => (i.toLong, (i + 1).toLong, 1L))
    val wts = (star ++ ring).toDF("s1", "s2", "c")
    val capped = graft.operators.Advanced.cappedAdjacency(wts, cap).cache()
    try {
      val edges = capped.count()
      val wedges = capped.as("a")
        .join(capped.as("b"), $"a.u" === $"b.u" && $"a.v" < $"b.v")
        .count()
      // uncapped volume through the hub alone would be (n-1)(n-2)/2 ≈ 2M
      wedges <= cap.toLong * edges && wedges < (n.toLong - 1) * (n - 2) / 4
    } finally { capped.unpersist(); () }
  }

  /** One needle interpreter for the audit tool AND PlanShapeSpec: plain
    * substring, "!" negation, or "codegen:" against the codegen plan.
    */
  private[graft] def holds(plan: String, codegenPlan: => String, needle: String): Boolean =
    if (needle.startsWith("!")) !plan.contains(needle.drop(1))
    else if (needle.startsWith("codegen:")) codegenPlan.contains(needle.drop(8))
    else plan.contains(needle)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of scale-critical queries\n\n")
    sb.append("Generated by `graft.tools.PlanAudit` (sf0.01 fixtures). Each section\n")
    sb.append("shows the formatted physical plan plus the properties asserted for it —\n")
    sb.append("the things that must stay true for the 100 TB posture: pushdown reaching\n")
    sb.append("the scan, dimensions broadcast, no accidental cross joins or global sorts.\n")

    var failures = 0
    Audited.foreach { case (name, checks) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n")
      lazy val codegenPlan =
        df.queryExecution.explainString(ExplainMode.fromString("codegen"))
      checks.foreach { case (what, needle) =>
        val ok = holds(plan, codegenPlan, needle)
        if (!ok) failures += 1
        sb.append(s"- ${if (ok) "PASS" else "FAIL"}: $what (`$needle`)\n")
      }
      // large enough that no audited plan is cut off — a PASS line next to
      // a truncated plan is unverifiable from the committed file
      sb.append("\n```\n").append(plan.take(20000)).append("\n```\n")
    }
    // runtime probe: AQE must split a skewed join partition (see scaladoc)
    val skewOk = skewJoinHandled(spark)
    if (!skewOk) failures += 1
    sb.append("\n## aqe_skew_join (runtime probe)\n\n")
    sb.append(s"- ${if (skewOk) "PASS" else "FAIL"}: deliberately skewed " +
      "sort-merge join re-planned with skew=true partition splits under AQE\n")
    sb.append("- fallback policy: AQE splits skewed JOIN partitions at " +
      "runtime; explicit salting (q89) remains the plan for skewed " +
      "AGGREGATION keys and for hot keys needing the KEY itself divided.\n")
    // runtime probe: hub-capped wedge volume stays <= cap × edges on a
    // planted hub (see scaladoc)
    val hubOk = hubCapBounded(spark)
    if (!hubOk) failures += 1
    sb.append("\n## hub_cap_wedge (runtime probe)\n\n")
    sb.append(s"- ${if (hubOk) "PASS" else "FAIL"}: planted-hub star graph " +
      "(degree ~2000) wedge volume bounded by cap(8) x capped-edges under " +
      "q322's cappedAdjacency, where the uncapped join would materialize " +
      "~2M wedges through the hub\n")
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written; ${Audited.map(_._2.size).sum + 1 - failures} checks passed, $failures failed")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
