from daq_3i_spark.plans.registry import QUERIES, QueryDef, register, spark_queries, oracle_map  # noqa: F401

# importing the op modules populates the registry
import daq_3i_spark.plans.reference_ops  # noqa: F401,E402
import daq_3i_spark.plans.extension_ops  # noqa: F401,E402
import daq_3i_spark.plans.extension_ops2  # noqa: F401,E402
import daq_3i_spark.plans.sql_surface  # noqa: F401,E402
import daq_3i_spark.plans.sql_surface2  # noqa: F401,E402
import daq_3i_spark.plans.sql_surface3  # noqa: F401,E402
import daq_3i_spark.plans.streaming_ops  # noqa: F401,E402
import daq_3i_spark.plans.format_ops  # noqa: F401,E402
import daq_3i_spark.plans.corpus_ops  # noqa: F401,E402
import daq_3i_spark.plans.analytics_ops  # noqa: F401,E402

# The driver's correctness sweep checks the FIRST 50 queries() entries in
# dict order (CORRECTNESS_r01.json is exactly registry entries 0-49).  To get
# every registry entry oracle-verified across rounds, the checked window is
# rotated each round: lead with the cohort hitting the 4-round staleness
# horizon (tools/check_counts.py --census is authoritative), then ops whose
# EXECUTION changed this round so rewrites get fresh canonical rows, then
# the stalest of the next cohort.
#
# Round 19 window (generated by `python tools/check_counts.py --plan --reps
# op_stream_pipeline op_graceful_stop flagship_pipeline op_retention_topk
# op_scan_config_buses op_decode_registers --predrain r15:15`): the r14
# cohort leads (29 ops), then one rep per changed path: the live pipeline's
# persist_batch (observed status buckets, one-exchange merge) and its stop
# path, the ops that broadcast or scan the dims (now arrow-built
# LocalRelations), and the decode columns memoized on the SparkContext.
# Then 15 r15 pre-drain slots (cohort 47 -> 32).  29 + 6 + 15 = 50.
_CHECK_PRIORITY = [
    "op_source_modbus_sim",
    "op_sql_cube",
    "op_sql_grouping_sets",
    "op_sql_having_bigorders",
    "op_sql_json",
    "op_sql_q1",
    "op_sql_q10_returned",
    "op_sql_q11_topvalue",
    "op_sql_q22_idle_rich",
    "op_sql_q3_topk",
    "op_sql_q5_region",
    "op_sql_q7_volume",
    "op_sql_q8_market_share",
    "op_sql_rollup",
    "op_sql_scalar_subquery",
    "op_sql_window_suite",
    "op_stream_due_filter",
    "op_stream_forecast_monitor",
    "op_stream_rollup_refresh",
    "op_stream_session_window",
    "op_stream_trend",
    "op_stream_window_agg",
    "op_stream_window_sliding",
    "op_text_bm25",
    "op_text_lm_score",
    "op_text_vocab",
    "op_timeseries_downsample",
    "op_window_agg_events",
    "op_window_sliding",
    "op_stream_pipeline",
    "op_graceful_stop",
    "flagship_pipeline",
    "op_retention_topk",
    "op_scan_config_buses",
    "op_decode_registers",
    "op_corpus_curriculum",
    "op_corpus_dsir_select",
    "op_corpus_dsir_weights",
    "op_corpus_softdedup_weights",
    "op_corpus_split_safe",
    "op_corpus_training_shards",
    "op_dedup_minhash_capped",
    "op_dedup_ngram_capped",
    "op_dedup_semantic",
    "op_embed_outliers",
    "op_events_ab_ci",
    "op_events_concurrency",
    "op_events_forecast_naive",
    "op_events_funnel_time",
    "op_events_markov",
]


def _rotate_check_window() -> None:
    unknown = [n for n in _CHECK_PRIORITY if n not in QUERIES]
    if unknown:
        # a real raise, not an assert: `python -O` strips asserts, which
        # would silently restore the typo-shrinks-the-window failure mode
        # this guard exists to prevent
        raise RuntimeError(
            f"_CHECK_PRIORITY names not in the registry: {unknown} — a typo "
            "here silently shrinks the driver-checked window"
        )
    ordered = {n: QUERIES[n] for n in _CHECK_PRIORITY}
    for name, q in QUERIES.items():
        if name not in ordered:
            ordered[name] = q
    QUERIES.clear()
    QUERIES.update(ordered)


_rotate_check_window()
