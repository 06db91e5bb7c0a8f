"""Streaming STATE-SIZE budgets (round-9 verdict ask #5): the batch
shuffle-budget table (test_plans.py) cannot see StateStore growth, so
every ``*_stream`` query pins its maximum total state rows
(``numRowsTotal`` summed over stateOperators, max across all
StreamingQueryProgress events) at fixture scale. Two-way set equality
against the streaming registry: a new ``*_stream`` query without a
state budget fails CI, and a stale budget for a removed query fails
too — the same enforcement the batch table got in round 8. A budget
bump needs an explicit justification comment: unbounded-state
regressions (a watermark dropped from a stateful op, a join key
widened, a dedup scope extended) surface HERE long before they OOM a
real cluster."""

from __future__ import annotations

import time

from pyspark.sql.streaming import StreamingQueryListener

from demo_segmenter_spark.registry import REGISTRY, load_all_operators
from tests.conftest import SF_SMOKE

load_all_operators()

# Max total state rows observed at sf0.001 (measured in a fresh
# session, round 9). Semantics of the bigger numbers:
# - sessionize-family (492): one state row per open session at the
#   watermark frontier — bounded by |users| x open-sessions, the
#   session_window contract.
# - stream-stream joins (412): both sides buffer until the watermark
#   passes the join window — bounded by 2 x window x rate.
# - a_stream_dedup (1000): one row per distinct key inside the
#   dropDuplicates watermark horizon == |events| at fixture scale;
#   the watermark is what keeps it from being unbounded.
# - foreachBatch/manifest twins (0): all state lives in the versioned
#   manifest tables, not the StateStore — their growth is governed by
#   the manifest snapshots, pinned in their own tests.
STATE_BUDGETS = {
    "a_absence_stream": 15,
    "a_alert_hysteresis_stream": 15,
    "a_anomaly_zscore_stream": 0,
    "a_attribution_stream": 15,
    "a_cep_pattern_stream": 15,
    "a_cogroup_stream": 150,
    # PSI histogram: complete-mode agg state == the realized
    # (type, wnd, bin) grid — bounded at types x 2 x PSI_BINS by
    # construction, stream-length-independent (61 of max 100 realized
    # at sf0.001)
    "a_drift_psi_stream": 61,
    # chi2 + binned-KS twins drive the SAME complete-mode histogram
    # stream (one sufficient statistic serves all three drift
    # monitors) — identical state
    "a_drift_chi2_stream": 61,
    "a_drift_ks_binned_stream": 61,
    # unified report twin: the SAME single histogram stream, three
    # constant-sized scoring tails off one snapshot — identical state
    "a_drift_report_stream": 61,
    "a_ewma_stream": 15,
    "a_forecast_holt_stream": 15,
    "a_funnel_stream": 15,
    "a_gapfill_locf_stream": 397,
    # KIP-213 FK join twin: all KTable state lives in the three
    # versioned manifest tables (left/right stores + compacted out),
    # not the StateStore — growth pinned in tests/test_fkjoin_stream.py
    "a_ktable_fk_join_stream": 0,
    "a_new_vs_returning_stream": 15,
    "a_ohlc_stream": 868,
    "a_peak_concurrency_stream": 492,
    "a_retention_cohorts_stream": 75,
    "a_session_capped_stream": 15,
    "a_session_dynamic_gap_stream": 622,
    "a_session_suppress_stream": 492,
    "a_sessionize_stream": 492,
    "a_sli_burn_rate_stream": 531,
    "a_sliding_window_stream": 123,
    # stickiness: the two dedup stores hold (user, day) + 30x
    # (user, window-day) distinct rows plus the day agg — the exact
    # sets any exact 30-day MAU must hold (watermark-evicted at scale)
    "a_stickiness_stream": 1340,
    "a_stream_dedup_stream": 1000,
    "a_stream_stream_join_outer_full_stream": 412,
    "a_stream_stream_join_outer_stream": 412,
    "a_stream_stream_join_stream": 412,
    "a_stream_table_join_stream": 0,
    "a_suppress_emit_final_stream": 150,
    "a_throttle_stream": 15,
    "a_trending_stream": 150,
    "a_tumbling_window_stream": 150,
    "a_window_dau_stream": 575,
    "b_agg_bitmap_distinct_stream": 5,
    # IVM retract stream: complete-mode agg state == one row per
    # realized (status, priority) group — bounded at 15 by the view's
    # group domain, stream-length-independent
    "b_ivm_agg_stream": 15,
    # streaming native HLL: complete-mode state == the register
    # maxima — realized (type, register) keys, hard-bounded at
    # types x HLL_M = 320 regardless of stream length (70 realized at
    # sf0.001: 14 of 64 registers hit by the 15 distinct users)
    "b_agg_hll_native_stream": 70,
    # streaming quantile sketch: complete-mode state == the histogram
    # grid — realized (type, bin) cells, hard-bounded at
    # types x QSK_BINS = 320 regardless of stream length (115 realized
    # at sf0.001)
    "b_agg_quantile_sketch_stream": 115,
    # streaming count-min: complete-mode state == the sketch grid —
    # realized (d, bucket) cells, hard-bounded at 3 x CM_W = 192
    # regardless of stream length (45 realized at sf0.001)
    "b_agg_countmin_stream": 45,
    # streaming reservoir: all state is the k-row snapshot in the
    # versioned manifest (foreachBatch semilattice merge), never the
    # StateStore — k-row bound pinned in tests/test_reservoir_stream.py
    "b_sample_reservoir_stream": 0,
    "b_rollup_hierarchy_stream": 868,
    # streaming bloom build: complete-mode state == the filter's word
    # array — realized 63-bit words, hard-bounded at
    # ceil(BLOOM_M/63)+1 = 261 regardless of corpus size (250 realized
    # at sf0.001); corpus hashes live in the manifest, never here
    "c_dedup_bloom_stream": 250,
    "c_dedup_incremental_stream": 0,
    # incremental DSIR fit: complete-mode state == the two hashed
    # feature models — realized (bucket -> raw/target count) keys,
    # bounded at DSIR_BUCKETS regardless of stream length (430 of max
    # 512 realized at sf0.001)
    "c_select_dsir_stream": 430,
    # incremental NB trainer: complete-mode state == the trained model
    # itself — realized (bucket, class-count) keys + the b=-1 prior
    # row, bounded at NB_BUCKETS+1 regardless of stream length (28 of
    # max 129 realized at sf0.001)
    "c_quality_nb_stream": 28,
    # logreg sufficient-statistic stream: one state row per realized
    # integer margin profile (x2, x3, x4, y) — 363 of the train docs'
    # 400 at sf0.001; bounded by the margin grid, not the corpus
    "c_quality_logreg_stream": 363,
    "c_pipeline_pretrain_stream": 0,
}


# State-partition count every query routed through
# streaming/sinks.run_to_memory reports (numShufflePartitions of its
# stateful operators), read with the caller's session at 7 shuffle
# partitions so a pin that leaks or goes missing shows. 4: the
# SESSION_STATE_PARTS pin; 1: STREAM_STATE_PARTS; 7: the PAPI
# processors, which run at the caller's count; None: no stateful
# operator (stateless filter / stream-static join).
CALLER_PARTS = 7
STATE_PARTS = {
    "a_absence_stream": 7,
    "a_alert_hysteresis_stream": 7,
    "a_anomaly_zscore_stream": None,
    "a_attribution_stream": 7,
    "a_cep_pattern_stream": 7,
    "a_cogroup_stream": 4,
    "a_ewma_stream": 7,
    "a_forecast_holt_stream": 7,
    "a_funnel_stream": 7,
    "a_new_vs_returning_stream": 4,
    "a_ohlc_stream": 4,
    "a_papi_session_suppress": 7,
    "a_papi_sessionize": 7,
    "a_peak_concurrency_stream": 4,
    "a_session_capped_stream": 7,
    "a_session_dynamic_gap_stream": 4,
    "a_session_suppress_stream": 4,
    "a_sessionize_kafka_shape": 4,
    "a_sessionize_stream": 4,
    "a_sli_burn_rate_stream": 4,
    "a_sliding_window_stream": 4,
    "a_stickiness_stream": 4,
    "a_stream_dedup_stream": 4,
    "a_stream_stream_join_outer_full_stream": 4,
    "a_stream_stream_join_outer_stream": 4,
    "a_stream_stream_join_stream": 4,
    "a_stream_table_join_stream": None,
    "a_suppress_emit_final_stream": 4,
    "a_throttle_stream": 7,
    "a_trending_stream": 4,
    "a_tumbling_window_stream": 4,
    "a_window_dau_stream": 4,
    "b_agg_bitmap_distinct_stream": 4,
    "b_agg_countmin_stream": 4,
    "b_agg_hll_native_stream": 4,
    "b_agg_quantile_sketch_stream": 4,
    "b_ivm_agg_stream": 1,
    "b_rollup_hierarchy_stream": 4,
}


def test_budget_table_matches_streaming_registry():
    streaming = {n for n in REGISTRY if n.endswith("_stream")}
    missing = streaming - STATE_BUDGETS.keys()
    assert not missing, f"streaming queries with no state budget: {sorted(missing)}"
    stale = STATE_BUDGETS.keys() - streaming
    assert not stale, f"state budgets for unregistered queries: {sorted(stale)}"


def _observe(spark, names):
    """Run each query at sf0.001 and yield ``(name, events)``, one
    ``(state rows, {state partition counts})`` pair per progress event."""
    events: list[tuple[int, set[int]]] = []

    class _L(StreamingQueryListener):
        def onQueryStarted(self, e):
            pass

        def onQueryProgress(self, e):
            ops = e.progress.stateOperators
            events.append(
                (
                    sum(op.numRowsTotal for op in ops),
                    {op.numShufflePartitions for op in ops},
                )
            )

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            pass

    listener = _L()
    spark.streams.addListener(listener)
    try:
        for name in names:
            events.clear()
            REGISTRY[name].fn(spark, SF_SMOKE).count()
            # the listener is async: wait for the event stream to go
            # quiet before reading it
            stable, quiet = len(events), 0
            while quiet < 15:
                time.sleep(0.1)
                if len(events) == stable:
                    quiet += 1
                else:
                    stable, quiet = len(events), 0
            yield name, list(events)
    finally:
        spark.streams.removeListener(listener)


def test_state_rows_within_budget(spark):
    over = {}
    for name, events in _observe(spark, sorted(STATE_BUDGETS)):
        got = max((rows for rows, _ in events), default=0)
        if got > STATE_BUDGETS[name]:
            over[name] = (got, STATE_BUDGETS[name])
    assert not over, f"state budget exceeded (rows, budget): {over}"


def test_state_partitions_pinned(spark):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(CALLER_PARTS))
    wrong = {}
    try:
        for name, events in _observe(spark, sorted(STATE_PARTS)):
            got = set().union(*(parts for _, parts in events))
            want = set() if STATE_PARTS[name] is None else {STATE_PARTS[name]}
            if not events or got != want:
                wrong[name] = (sorted(got), STATE_PARTS[name])
            if spark.conf.get("spark.sql.shuffle.partitions") != str(CALLER_PARTS):
                wrong[name] = "caller's shuffle.partitions not restored"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert not wrong, f"state partitions (got, want): {wrong}"
