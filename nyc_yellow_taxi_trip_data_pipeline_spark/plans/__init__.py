"""Query plans: the oracle-checked operator inventory.

Each query exists twice: as an idiomatic Spark DataFrame/SQL program and as
an ANSI-SQL oracle string for DuckDB. The registry in ``registry.py`` binds
them; ``__spark_entry__.py`` exposes them to the driver.
"""

from nyc_yellow_taxi_trip_data_pipeline_spark.plans.registry import (
    QUERIES,
    QuerySpec,
    register,
)

# Importing the modules populates the registry.
from nyc_yellow_taxi_trip_data_pipeline_spark.plans import analytics  # noqa: E402,F401
from nyc_yellow_taxi_trip_data_pipeline_spark.plans import datapipe  # noqa: E402,F401

# The external driver verifies the FIRST 50 registered queries against the
# DuckDB oracle (CORRECTNESS_r{N}.json has a 50-row budget). Registration
# order therefore decides which queries earn a hard external row. The r18
# window: the 16 memory-sink replays moved onto
# streaming.pipeline.replay_to_memory (body edits, so each plan hash moved
# — lesson 33) are MANDATORY; six of them (q44/q80/q130/q135/q154/q172)
# already sat in the r17 window, so 10 new slots were needed. The
# remaining 34 slots keep r17's fill rows; these 10 r17-green fills rotate
# out (double-coverage rationales):
# - q03_filter_group_count: pushed predicate + group-by count — covered
#   by q10_histogram (IN, single-shuffle group-by count) and
#   q61_conditional_aggs (IN, predicate aggregates over groups).
# - q04_null_counts: one-pass conditional-sum null audit — covered by
#   q61_conditional_aggs (IN, count_if conditional aggregates) and
#   q179_observed_metrics (IN, exact data-quality counters).
# - q39_fingerprint: md5 of normalized content — covered by
#   q79_curation_funnel (IN, md5(lower(text)) exact-dedup key) and
#   q95_streaming_incremental_dedup (IN, the same fingerprint).
# - q40_multimodal_meta: payload metadata without decoding — covered by
#   q41_multimodal_decode (IN, same payload columns) and
#   q65_frame_sample (IN, same binary payload path).
# - q42_approx_sketches: HLL++/approx-percentile error contracts —
#   covered by q84_grouped_sketch_quantiles (IN, percentile_approx rank
#   contract) and q91_grouped_hll_distinct (r15-green, HLL++ bound).
# - q56_regex_extract: regexp_extract/regexp_replace — covered by
#   q71_token_counts (IN, Java-regex segmentation) and
#   q88_pii_redaction_audit (r15-green, regexp_replace redaction).
# - q74_reservoir_topn: md5-ranked row_number per group — covered by
#   q70_stratified_sample (IN, md5 hash sampling) and
#   q177_shuffle_interleave_audit (IN, md5 global order + windows).
# - q161_session_window_batch: batch session_window — covered by
#   q172_streaming_session_window (IN, same SessionWindow operator) and
#   q67_streaming_sessionize (IN, same 30-min-gap sessionization oracle).
# - q173_chi2_independence: exact BIGINT contingency + fixed IEEE
#   sequence — covered by q180_cohens_kappa (IN, same lang/source
#   sufficient statistics) and q163_cuped_adjusted_ab (IN, fixed IEEE
#   sequence on exact BIGINT statistics).
# - q181_ece_calibration: deterministic-rater binning — covered by
#   q180_cohens_kappa (IN, same stopword rater) and q10_histogram (IN,
#   floor-bucketed bins).
# Slot math: 16 mandatory + 34 fill = 50.
# Sit-outs carried from r17 (r13 vintage; q76 is now mandatory):
# - q63_date_math: projection-only date arithmetic (datediff/date_add/
#   last_day/date_trunc on orders) — double-covered by
#   q44_streaming_hourly (IN this window, date_trunc bucketing on event
#   time) and q147_cohort_retention (r16-green, month-offset cohort
#   date arithmetic on the same orders table).
# - q86_trimmed_mean_udaf_bounded: the bounded Arrow-UDAF machinery is
#   double-covered by q178_arrow_python_udf (IN this window, same
#   Arrow-batched Python boundary) and the exact trimmed/fence
#   arithmetic by q140_winsorized_mean (r15-green, same exact-fence
#   trimming core) + q84_grouped_sketch_quantiles (IN this window).
# - q98_incremental_dedup_indexed: the persisted fingerprint-keyed
#   signature-index machinery is double-covered by q167_keep_best_indexed
#   (IN this window — the SAME `_signature_index` build/read path,
#   lesson 25) and the delta-vs-index asymmetric band join by
#   q94_incremental_dedup (r16-green).
# The next-owed rows after these three are all r14-vintage
# (q100/q12/q131/q13/q14/q15/q16/q170/q17/q18) — they sit out on
# vintage order alone (normal rotation).
_PRIORITY = [
    # mandatory: replay bodies moved onto replay_to_memory (r18)
    "q44_streaming_hourly",
    "q67_streaming_sessionize",
    "q76_stream_stream_join",
    "q80_stream_static_join",
    "q81_streaming_dedup",
    "q95_streaming_incremental_dedup",
    "q110_streaming_sliding_rate",
    "q130_streaming_late_drop",
    "q133_stream_outer_join",
    "q134_chained_stateful",
    "q135_streaming_dedup_within_watermark",
    "q154_streaming_union_watermarks",
    "q159_streaming_union_watermark_max",
    "q172_streaming_session_window",
    "q190_processing_time_timer_eviction",
    "q193_event_time_timer_eviction",
    # r17 fill kept (r12 vintage...)
    "q65_frame_sample",
    "q69_lookback_range_join",
    "q70_stratified_sample",
    "q71_token_counts",
    "q72_incremental_rollup",
    "q73_kmeans_step",
    "q75_embedding_quantize",
    "q79_curation_funnel",
    "q84_grouped_sketch_quantiles",
    # (...then r13 vintage)
    "q10_histogram",
    "q160_python_datasource_scan",
    "q163_cuped_adjusted_ab",
    "q167_keep_best_indexed",
    "q168_bpe_train_loop",
    "q171_batch_ann_topk",
    "q174_temperature_mix",
    "q176_hard_negative_mining",
    "q177_shuffle_interleave_audit",
    "q178_arrow_python_udf",
    "q179_observed_metrics",
    "q180_cohens_kappa",
    "q182_editdist_neardup",
    "q183_bm25_rational_rank",
    "q184_markov_transitions",
    "q185_pareto_frontier",
    "q186_scd2_history",
    "q187_runtime_bloom_join",
    "q188_spearman_trend",
    "q30_dedup_exact",
    "q33_simhash",
    "q38_lang_id",
    "q41_multimodal_decode",
    "q57_grouping_sets",
    "q61_conditional_aggs",
]
# --- r19 preview (slot arithmetic for the next window rewrite, lesson
# 19) --- owed rows after r18, oldest first: the three r13 sit-outs
# above (q63/q86/q98), then the r14-vintage pool (q100/q12/q131/q13/
# q14/q15/q16/q170/q17/q18/...), then the ten r17 rows rotated out
# above. The 16 replay bodies edited in r18 stay mandatory until
# tools/verified_hashes.json records their new hashes; any body edited
# or query added later joins them. Budget new queries BEFORE writing them
# (tests/test_round9_invariants.py staleness ratchet). The shared-build
# consolidation remains COMPLETE (see the r16 note in git history);
# r17 re-measured and REJECTED the two remaining candidates with
# committed evidence (plans/r17/: q172 state partitions, q157 shared
# scan), so no duplicate sub-pipeline builds remain anywhere in the
# inventory.
QUERIES_ORDERED = {n: QUERIES[n] for n in _PRIORITY if n in QUERIES}
QUERIES_ORDERED.update(QUERIES)
QUERIES.clear()
QUERIES.update(QUERIES_ORDERED)

__all__ = ["QUERIES", "QuerySpec", "register"]
