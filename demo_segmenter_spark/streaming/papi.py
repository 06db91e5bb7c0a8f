"""PAPI-style custom stateful processor (SURVEY.md §2 Layer A, the
"Stateful processor" row): the Kafka Streams Processor API equivalent —
arbitrary per-key state with explicit update logic — via
``applyInPandasWithState`` (GroupState + Arrow batches).

(Spark 4 also offers ``transformWithStateInPandas``; it needs the
protobuf python package for its state-server protocol, which is broken
in this container — ImportError on google.protobuf.descriptor — so the
GroupState API is the deliberate choice here. Same state semantics.)

The processor re-implements gap sessionization imperatively (per-user
state = last-seen timestamp + session counter) to prove the custom-state
path produces identical results to both the declarative batch rewrite
and the native session_window twin — asserted by the driver's oracle
and tests. In production this is the escape hatch for semantics
session_window can't express (punctuation-driven emits, cross-window
state machines).

Scale notes: state is partitioned by the grouping key exactly like a
Kafka Streams task's RocksDB store; Arrow batches cross the Python
boundary per key-group; the state store checkpoints per micro-batch and
GroupStateTimeout handles eviction.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from demo_segmenter_spark.operators.layer_a import GAP_US
from demo_segmenter_spark.streaming.sinks import run_to_memory
from demo_segmenter_spark.streaming.sources import stream_events

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts_us", LongType()),
        StructField("session_id", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [StructField("last_us", LongType()), StructField("sid", LongType())]
)


def _assign_sessions(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user state machine: new session when gap > GAP_US.

    Vectorized within each Arrow batch (the same shift/cumsum core as
    the batch rewrite — a row loop here made the Python stage the
    bottleneck); only the carried (last_us, sid) state is scalar."""
    last_us, sid = state.get if state.exists else (None, 0)
    # Concat ALL Arrow chunks before the order-sensitive scan: chunk
    # boundaries (arrow.maxRecordsPerBatch) carry no ordering guarantee.
    chunks = [p for p in pdfs if len(p)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts_us", "event_id"]
        )
        us = pdf["ts_us"].astype("int64").to_numpy()
        # prev stays int64 end-to-end: pd.Series.shift would promote to
        # float64 and lose exactness for timestamps >= 2^53 µs, so the
        # gap compare is done on an int64 concat instead, with the
        # no-prior-event case handled as an explicit first-row flag.
        prev = np.concatenate(
            (np.asarray([last_us if last_us is not None else 0], dtype="int64"), us[:-1])
        )
        is_new = (us - prev) > GAP_US
        if last_us is None:
            is_new[0] = True  # no prior event ever -> new session
        sids = sid + np.cumsum(is_new.astype("int64"))
        sid = int(sids[-1])
        last_us = int(us[-1])
        yield pd.DataFrame(
            {
                "user_id": int(key[0]),
                "event_id": pdf["event_id"].astype("int64").values,
                "ts_us": us,
                "session_id": sids,
            }
        )
    state.update((last_us, sid))


def papi_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the custom processor over the event stream to completion."""
    ev = stream_events(spark, sf_dir).select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    out = ev.groupBy("user_id").applyInPandasWithState(
        _assign_sessions,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(out, "update")


# ---------------------------------------------------------------------------
# Second custom processor: per-user funnel state machine (view -> click
# -> purchase). Unlike sessionization, the transition predicate is
# SEQUENTIAL (a click only counts after the first view, a purchase only
# after that click) — a shape session_window cannot express, which is
# precisely the PAPI escape hatch's job. Stage timestamps are monotone
# (set once, never overwritten), so the update-mode re-emissions across
# micro-batches resolve with a trivial max-aggregate downstream.
# Ordering contract: per-user event-time order within a batch is
# restored by the sort; across batches the file replay preserves it —
# the same per-key ordering assumption Kafka Streams makes.
# ---------------------------------------------------------------------------

FUNNEL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("t1", LongType()),
        StructField("t2", LongType()),
        StructField("t3", LongType()),
    ]
)

FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("t1", LongType()),
        StructField("t2", LongType()),
        StructField("t3", LongType()),
    ]
)


def _advance_funnel(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Vectorized per batch: in (ts, event_id) order, the sequential
    scan's 'first view' equals min(view ts), 'first click after t1'
    equals min(click ts strictly > t1), and likewise for purchase —
    the strict > reproduces the scan's tie behavior exactly (an event
    sharing t1's timestamp never advances the stage, in either
    formulation, regardless of event_id order)."""
    t1, t2, t3 = state.get if state.exists else (None, None, None)
    # Same chunk-ordering hazard: the staged mins must see the whole
    # micro-batch at once (a later chunk can hold an earlier view).
    chunks = [p for p in pdfs if len(p)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts_us", "event_id"]
        )
        us = pdf["ts_us"].astype("int64")
        ty = pdf["event_type"]
        if t1 is None:
            v = us[(ty == "view").values]
            t1 = int(v.iloc[0]) if len(v) else None
        if t1 is not None and t2 is None:
            c = us[((ty == "click") & (us > t1)).values]
            t2 = int(c.iloc[0]) if len(c) else None
        if t2 is not None and t3 is None:
            p = us[((ty == "purchase") & (us > t2)).values]
            t3 = int(p.iloc[0]) if len(p) else None
    state.update((t1, t2, t3))
    yield pd.DataFrame(
        {"user_id": [int(key[0])], "t1": [t1], "t2": [t2], "t3": [t3]}
    )


def papi_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the funnel processor to completion; one (user_id, t1, t2,
    t3) row per user per micro-batch (update mode) — aggregate with
    max() downstream to resolve re-emissions."""
    ev = stream_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    out = ev.groupBy("user_id").applyInPandasWithState(
        _advance_funnel,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(out, "update")


# ---------------------------------------------------------------------------
# Third custom processor: per-user EWMA (operators/layer_a.py::a_ewma's
# streaming twin). Unlike the sessionize/funnel processors the output
# is PER EVENT, so update-mode re-emission never happens — each row is
# produced exactly once, in the micro-batch that carried its event —
# and the completed stream equals the batch recurrence row-for-row.
# Carried state is (last smoothed value, count): the canonical
# O(1)-state streaming feature transform.
# ---------------------------------------------------------------------------

EWMA_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ewma", DoubleType()),
    ]
)

EWMA_STATE_SCHEMA = StructType(
    [StructField("y", DoubleType()), StructField("n", LongType())]
)


def _smooth_ewma(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    from demo_segmenter_spark.operators.layer_a import _ewma_rows

    y, n = state.get if state.exists else (None, 0)
    # applyInPandasWithState gives NO intra-group row ordering and splits a
    # group's micro-batch at arrow.maxRecordsPerBatch (~10k rows), so a later
    # chunk can carry earlier timestamps. The recurrence is order-sensitive:
    # concatenate the whole group's batch data FIRST, then sort once, then
    # fold — mirroring the batch twin's whole-partition sort.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts_us", "event_id"]
        )
        out, y, n = _ewma_rows(pdf["value"].tolist(), y, n)
        yield pd.DataFrame(
            {
                "user_id": int(key[0]),
                "event_id": pdf["event_id"].astype("int64").values,
                "ewma": out,
            }
        )
    state.update((y, n))


HOLT_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("forecast", DoubleType()),
    ]
)

HOLT_STATE_SCHEMA = StructType(
    [
        StructField("l", DoubleType()),
        StructField("b", DoubleType()),
        StructField("n", LongType()),
    ]
)


def _holt_smooth(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Streaming Holt's linear smoothing: (level, trend, count) carried
    in GroupState; same concat-sort-fold shape as _smooth_ewma (chunk
    order is not guaranteed within a micro-batch) and the SAME
    bit-exact _holt_rows core as the batch twin, so the completed
    stream hash-matches the recursive-CTE oracle."""
    from demo_segmenter_spark.operators.layer_a import _holt_rows

    l, b, n = state.get if state.exists else (None, None, 0)
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts_us", "event_id"]
        )
        out, l, b, n = _holt_rows(pdf["value"].tolist(), l, b, n)
        yield pd.DataFrame(
            {
                "user_id": int(key[0]),
                "event_id": pdf["event_id"].astype("int64").values,
                "level": [o[0] for o in out],
                "trend": [o[1] for o in out],
                "forecast": [o[2] for o in out],
            }
        )
    state.update((l, b, n))


def papi_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the Holt processor over the event stream to completion."""
    ev = stream_events(spark, sf_dir).select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    out = ev.groupBy("user_id").applyInPandasWithState(
        _holt_smooth,
        outputStructType=HOLT_OUTPUT_SCHEMA,
        stateStructType=HOLT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(out, "update")


def papi_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the EWMA processor over the event stream to completion."""
    ev = stream_events(spark, sf_dir).select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    out = ev.groupBy("user_id").applyInPandasWithState(
        _smooth_ewma,
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(out, "update")


# ---------------------------------------------------------------------------
# Fourth custom processor: emit-final gap sessions via EVENT-TIME STATE
# TIMEOUT — the GroupState mechanic the other processors don't touch.
# The native twin (a_session_suppress_stream) gets this behavior from
# session_window + append mode; here the SAME contract is built by
# hand: sessions accumulate in per-key state, and a session row is
# emitted exactly once, when the watermark passes its close boundary
# (last_event + gap) — either piggybacked on a data invocation or
# fired by setTimeoutTimestamp when the key goes quiet. State is
# REMOVED once drained: the 100 TB bounded-state contract, enforced by
# the processor itself rather than by session_window's internals.
#
# Boundary note: GroupState exposes the watermark in MILLISECONDS while
# the oracle rule is exact µs (s_end + gap <= max_ts - grace). The
# native twin hash-matches the µs oracle on every fixture sf, i.e.
# Spark's own ms-resolution watermark never disagrees with the µs rule
# on this data — so the processor applies the same ms-derived
# watermark (wm_ms * 1000) and the full-sweep hash gate would catch a
# sub-ms boundary collision loudly if a future fixture introduced one.
# ---------------------------------------------------------------------------

SESSION_FINAL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_us", LongType()),
        StructField("session_last_us", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

# pending sessions, oldest first; the newest entry is the open one
SESSION_FINAL_STATE_SCHEMA = StructType(
    [
        StructField("starts", ArrayType(LongType())),
        StructField("lasts", ArrayType(LongType())),
        StructField("ns", ArrayType(LongType())),
        StructField("cents", ArrayType(LongType())),
    ]
)


def _session_final(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    from demo_segmenter_spark.operators.layer_a import GAP_US

    starts, lasts, ns, cents = (
        [list(x) for x in state.get] if state.exists else ([], [], [], [])
    )
    # Same chunk-ordering hazard as _smooth_ewma: concat the whole group's
    # micro-batch data before the order-sensitive session fold.
    chunks = [p for p in pdfs if len(p)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts_us", "event_id"]
        )
        for us, c in zip(
            pdf["ts_us"].astype("int64").tolist(),
            pdf["cents"].astype("int64").tolist(),
        ):
            if lasts and us - lasts[-1] <= GAP_US:
                lasts[-1] = us
                ns[-1] += 1
                cents[-1] += c
            else:
                starts.append(us)
                lasts.append(us)
                ns.append(1)
                cents.append(c)
    wm_us = state.getCurrentWatermarkMs() * 1000
    emit = [i for i in range(len(lasts)) if lasts[i] + GAP_US <= wm_us]
    if emit:
        yield pd.DataFrame(
            {
                "user_id": int(key[0]),
                "session_start_us": [starts[i] for i in emit],
                "session_last_us": [lasts[i] for i in emit],
                "n_events": [ns[i] for i in emit],
                "sum_value": [
                    round(cents[i] / 100.0 + 1e-06, 2) + 0.0 for i in emit
                ],
            }
        )
        keep = [i for i in range(len(lasts)) if i not in set(emit)]
        starts = [starts[i] for i in keep]
        lasts = [lasts[i] for i in keep]
        ns = [ns[i] for i in keep]
        cents = [cents[i] for i in keep]
    if not starts:
        state.remove()
        return
    state.update((starts, lasts, ns, cents))
    # wake this key when the earliest remaining boundary is provably
    # past (timeout requires a timestamp strictly beyond the current
    # watermark; the closing no-data batch advances the watermark to
    # its final value and fires everything still eligible)
    boundary_ms = (min(lasts) + GAP_US) // 1000 + 1
    state.setTimeoutTimestamp(max(boundary_ms, state.getCurrentWatermarkMs() + 1))


def papi_session_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the emit-final session processor to completion."""
    from demo_segmenter_spark.functions.compat import cents as cents_expr
    from demo_segmenter_spark.operators.layer_a import SESSION_GRACE_US

    grace_sec = SESSION_GRACE_US // 1_000_000
    ev = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", f"{grace_sec} seconds")
        .select(
            "user_id",
            "event_id",
            "ts",
            F.unix_micros("ts").alias("ts_us"),
            cents_expr(F.col("value")).alias("cents"),
        )
    )
    out = ev.groupBy("user_id").applyInPandasWithState(
        _session_final,
        outputStructType=SESSION_FINAL_OUTPUT_SCHEMA,
        stateStructType=SESSION_FINAL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return run_to_memory(out, "append")


# ---------------------------------------------------------------------------
# Fifth custom processor: per-key RATE LIMITER with hour-window state —
# at most THROTTLE_N events admitted per (user, hour), admission in
# exact (ts, event_id) order, per-hour summaries emitted ONCE when the
# watermark passes the hour's end, state removed as it drains. The
# counter-per-window state shape is the canonical quota/throttle
# store; unlike the session processors the windows are FIXED, so
# eviction is a pure watermark comparison with no gap arithmetic.
# ---------------------------------------------------------------------------

THROTTLE_N = 3
HOUR_US = 3_600_000_000

THROTTLE_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("hour_us", LongType()),
        StructField("n_events", LongType()),
        StructField("n_kept", LongType()),
        StructField("n_dropped", LongType()),
    ]
)

THROTTLE_STATE_SCHEMA = StructType(
    [
        StructField("hours", ArrayType(LongType())),
        StructField("nev", ArrayType(LongType())),
        StructField("nkept", ArrayType(LongType())),
    ]
)


def _throttle_final(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    hours, nev, nkept = (
        [list(x) for x in state.get] if state.exists else ([], [], [])
    )
    idx = {h: i for i, h in enumerate(hours)}
    chunks = [p for p in pdfs if len(p)]
    if chunks:
        # Concat BEFORE the order-sensitive fold (the chunk-split
        # hazard proven by the adversarial maxRecordsPerBatch=7 test
        # on the session processors applies identically here).
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts_us", "event_id"]
        )
        for us in pdf["ts_us"].astype("int64").tolist():
            h = us - us % HOUR_US
            i = idx.get(h)
            if i is None:
                i = len(hours)
                idx[h] = i
                hours.append(h)
                nev.append(0)
                nkept.append(0)
            nev[i] += 1
            if nev[i] <= THROTTLE_N:
                nkept[i] += 1
    wm_us = state.getCurrentWatermarkMs() * 1000
    emit = [i for i in range(len(hours)) if hours[i] + HOUR_US <= wm_us]
    if emit:
        yield pd.DataFrame(
            {
                "user_id": int(key[0]),
                "hour_us": [hours[i] for i in emit],
                "n_events": [nev[i] for i in emit],
                "n_kept": [nkept[i] for i in emit],
                "n_dropped": [nev[i] - nkept[i] for i in emit],
            }
        )
        keep = [i for i in range(len(hours)) if i not in set(emit)]
        hours = [hours[i] for i in keep]
        nev = [nev[i] for i in keep]
        nkept = [nkept[i] for i in keep]
    if not hours:
        state.remove()
        return
    state.update((hours, nev, nkept))
    boundary_ms = (min(hours) + HOUR_US) // 1000 + 1
    state.setTimeoutTimestamp(max(boundary_ms, state.getCurrentWatermarkMs() + 1))


def papi_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the rate-limiter processor to completion (zero-delay
    watermark: the final no-data batch advances it to max event time,
    so every hour that ENDS at or before the stream's last event is
    emitted; the trailing partial hour stays pending by design — the
    oracle encodes the same rule)."""
    ev = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "0 seconds")
        .select("user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "ts")
    )
    out = ev.groupBy("user_id").applyInPandasWithState(
        _throttle_final,
        outputStructType=THROTTLE_OUTPUT_SCHEMA,
        stateStructType=THROTTLE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return run_to_memory(out, "append")


# ---------------------------------------------------------------------------
# Sixth + seventh processors: tiny-state monitors. Hysteresis alerting
# holds ONE long per user (the current alert state); absence detection
# holds the last-seen (ts, event_id). Both emit rows the moment the
# triggering event arrives (update mode, no watermark dependency): the
# decision depends only on the PAST of the per-user timeline, so
# in-order replay reproduces the batch twin exactly — the multibatch
# tests replay ts-ordered thirds to prove state survives boundaries.
# ---------------------------------------------------------------------------

ALERT_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts_us", LongType()),
        StructField("alert_on", LongType()),
    ]
)

ALERT_STATE_SCHEMA = StructType([StructField("state", LongType())])


def _alert_hysteresis(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    cur = int(state.get[0]) if state.exists else 0
    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        return
    pdf = pd.concat(chunks, ignore_index=True).sort_values(
        ["ts_us", "event_id"]
    )
    out_id, out_us, out_state = [], [], []
    for us, eid, val in zip(
        pdf["ts_us"].astype("int64").tolist(),
        pdf["event_id"].astype("int64").tolist(),
        pdf["value"].astype("float64").tolist(),
    ):
        nxt = 1 if val >= 100.0 else (0 if val < 20.0 else cur)
        if nxt != cur:
            out_id.append(eid)
            out_us.append(us)
            out_state.append(nxt)
        cur = nxt
    state.update((cur,))
    if out_id:
        yield pd.DataFrame(
            {
                "user_id": int(key[0]),
                "event_id": out_id,
                "ts_us": out_us,
                "alert_on": out_state,
            }
        )


ABSENCE_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("last_event_id", LongType()),
        StructField("gap_start_us", LongType()),
        StructField("gap_end_us", LongType()),
        StructField("gap_hours", LongType()),
    ]
)

ABSENCE_STATE_SCHEMA = StructType(
    [StructField("last_us", LongType()), StructField("last_id", LongType())]
)

ABSENCE_GAP_US = 86_400_000_000


def _absence_gaps(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    last_us, last_id = (
        (int(state.get[0]), int(state.get[1])) if state.exists else (None, None)
    )
    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        return
    pdf = pd.concat(chunks, ignore_index=True).sort_values(
        ["ts_us", "event_id"]
    )
    o_lid, o_start, o_end, o_hours = [], [], [], []
    for us, eid in zip(
        pdf["ts_us"].astype("int64").tolist(),
        pdf["event_id"].astype("int64").tolist(),
    ):
        if last_us is not None and us - last_us > ABSENCE_GAP_US:
            o_lid.append(last_id)
            o_start.append(last_us)
            o_end.append(us)
            o_hours.append((us - last_us) // 3_600_000_000)
        last_us, last_id = us, eid
    state.update((last_us, last_id))
    if o_lid:
        yield pd.DataFrame(
            {
                "user_id": int(key[0]),
                "last_event_id": o_lid,
                "gap_start_us": o_start,
                "gap_end_us": o_end,
                "gap_hours": o_hours,
            }
        )


def _run_update_processor(spark, sf_dir, fn, out_schema, st_schema, cols, prefix):
    ev = stream_events(spark, sf_dir).select(*cols)
    out = ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=st_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(out, "update")


def papi_alert_hysteresis(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_update_processor(
        spark, sf_dir, _alert_hysteresis, ALERT_OUTPUT_SCHEMA,
        ALERT_STATE_SCHEMA,
        ["user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value"],
        "alert",
    )


def papi_absence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_update_processor(
        spark, sf_dir, _absence_gaps, ABSENCE_OUTPUT_SCHEMA,
        ABSENCE_STATE_SCHEMA,
        ["user_id", "event_id", F.unix_micros("ts").alias("ts_us")],
        "absence",
    )


# Eighth processor: last-touch attribution — state is the user's most
# recent view (id, ts); a purchase reads it, credits it if within the
# 60-minute lookback, and emits immediately (update mode). The
# lookback bound is also the state-expiry rule a production store
# would enforce via TTL.

ATTR_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("touch_id", LongType()),
        StructField("age_us", LongType()),
    ]
)

ATTR_STATE_SCHEMA = StructType(
    [StructField("view_us", LongType()), StructField("view_id", LongType())]
)

ATTR_LOOKBACK_US = 60 * 60 * 1_000_000


def _attribution(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    view_us, view_id = (
        (int(state.get[0]), int(state.get[1])) if state.exists else (None, None)
    )
    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        return
    pdf = pd.concat(chunks, ignore_index=True).sort_values(
        ["ts_us", "kind", "event_id"]
    )
    o_eid, o_tid, o_age = [], [], []
    for us, kind, eid in zip(
        pdf["ts_us"].astype("int64").tolist(),
        pdf["kind"].astype("int64").tolist(),
        pdf["event_id"].astype("int64").tolist(),
    ):
        if kind == 0:  # view: newest-by-(ts, id) wins the state slot
            view_us, view_id = us, eid
        elif view_us is not None and us - view_us <= ATTR_LOOKBACK_US:
            o_eid.append(eid)
            o_tid.append(view_id)
            o_age.append(us - view_us)
    if view_us is None:
        state.remove()
    else:
        state.update((view_us, view_id))
    if o_eid:
        yield pd.DataFrame(
            {
                "event_id": o_eid,
                "user_id": int(key[0]),
                "touch_id": o_tid,
                "age_us": o_age,
            }
        )


def papi_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir).filter(
        F.col("event_type").isin("view", "purchase")
    )
    src = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.when(F.col("event_type") == "view", 0).otherwise(1).alias("kind"),
    )
    out = src.groupBy("user_id").applyInPandasWithState(
        _attribution,
        outputStructType=ATTR_OUTPUT_SCHEMA,
        stateStructType=ATTR_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(out, "update")


# ---------------------------------------------------------------------------
# CEP pattern state machine (a_cep_pattern_stream): per-user slot of the
# latest view and latest error timestamps. Kafka Streams would build this
# with a Processor + KeyValueStore; Flink with CEP `notFollowedBy`. The
# horizon doubles as the production state TTL (a view older than
# CEP_WINDOW_US past the watermark can never match again).
# ---------------------------------------------------------------------------

CEP_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("view_us", LongType()),
        StructField("latency_us", LongType()),
    ]
)

# -1 encodes "never seen" (all real epoch-µs are positive)
CEP_STATE_SCHEMA = StructType(
    [StructField("view_us", LongType()), StructField("error_us", LongType())]
)

CEP_WINDOW_US = 120 * 60 * 1_000_000


def _cep_pattern(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    lv, le = (
        (int(state.get[0]), int(state.get[1])) if state.exists else (-1, -1)
    )
    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        return
    # Concatenate ALL chunks before folding (arrow chunk splits carry no
    # order guarantee), then sort by the total order. The strict `< us`
    # guards below make the fold timestamp-pure, so same-us tie order
    # cannot change the answer — it only keeps the walk deterministic.
    pdf = pd.concat(chunks, ignore_index=True).sort_values(
        ["ts_us", "kind", "event_id"]
    )
    o_eid, o_view, o_lat = [], [], []
    for us, kind, eid in zip(
        pdf["ts_us"].astype("int64").tolist(),
        pdf["kind"].astype("int64").tolist(),
        pdf["event_id"].astype("int64").tolist(),
    ):
        if kind == 0:  # view
            lv = us
        elif kind == 1:  # error
            le = us
        else:  # purchase: strict timestamp rules == batch RANGE frame
            blocked = le >= lv and le < us and le != -1
            if lv != -1 and lv < us and us - lv <= CEP_WINDOW_US and not blocked:
                o_eid.append(eid)
                o_view.append(lv)
                o_lat.append(us - lv)
    state.update((lv, le))
    if o_eid:
        yield pd.DataFrame(
            {
                "event_id": o_eid,
                "user_id": int(key[0]),
                "view_us": o_view,
                "latency_us": o_lat,
            }
        )


def papi_cep_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir).filter(
        F.col("event_type").isin("view", "error", "purchase")
    )
    src = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.when(F.col("event_type") == "view", 0)
        .when(F.col("event_type") == "error", 1)
        .otherwise(2)
        .alias("kind"),
    )
    out = src.groupBy("user_id").applyInPandasWithState(
        _cep_pattern,
        outputStructType=CEP_OUTPUT_SCHEMA,
        stateStructType=CEP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(out, "update")


# ---------------------------------------------------------------------------
# Tenth processor: capped sessionization (gap + max-duration, the GA4
# rule a_session_capped implements in batch). The cap makes the fold
# truly sequential — each split depends on the running session's start
# — so unlike _assign_sessions there is no vectorized cumsum form: the
# scan is a plain row loop over the concat-sorted batch, carrying
# (prev_us, sess_start, seq) per user.
# ---------------------------------------------------------------------------

CAPPED_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts_us", LongType()),
        StructField("session_seq", LongType()),
    ]
)

CAPPED_STATE_SCHEMA = StructType(
    [
        StructField("prev_us", LongType()),
        StructField("sess_start", LongType()),
        StructField("seq", LongType()),
    ]
)


def _capped_sessions(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Forward-only capped-session fold.

    Cross-micro-batch ORDERED-ARRIVAL CONTRACT: the fold sequences
    events at arrival position, so an event that is event-time older
    than the carried `prev_us` but arrives in a LATER micro-batch
    would be folded out of order and could diverge from the batch
    twin / recursive-CTE oracle. Within-batch reordering is handled
    (concat-sort over ts_us, event_id; the chunk-split harness covers
    it); cross-batch reordering is NOT — the source must deliver each
    user's events in non-decreasing ts_us across batches (the
    rate-limited ordered parquet source used by a_session_capped_stream
    satisfies this). The state guard below turns a contract violation
    into a loud failure instead of a silent divergence.
    """
    from demo_segmenter_spark.operators.layer_a import (
        GAP_US,
        SESSION_CAP_US,
    )

    prev_us, sess_start, seq = (
        state.get if state.exists else (None, None, 0)
    )
    chunks = [p for p in pdfs if len(p)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts_us", "event_id"]
        )
        if prev_us is not None and len(pdf):
            first_us = int(pdf["ts_us"].astype("int64").iloc[0])
            if first_us < prev_us:
                raise ValueError(
                    "capped-session ordered-arrival contract violated: "
                    f"user {key[0]} event at {first_us}us arrived after "
                    f"state prev_us={prev_us}us in a later micro-batch"
                )
        seqs = []
        for us in pdf["ts_us"].astype("int64").tolist():
            if prev_us is None:
                seq, sess_start = 1, us
            elif us - prev_us > GAP_US or us - sess_start > SESSION_CAP_US:
                seq += 1
                sess_start = us
            prev_us = us
            seqs.append(seq)
        yield pd.DataFrame(
            {
                "user_id": int(key[0]),
                "ts_us": pdf["ts_us"].astype("int64").values,
                "session_seq": seqs,
            }
        )
    state.update((prev_us, sess_start, seq))


def papi_session_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir).select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    out = ev.groupBy("user_id").applyInPandasWithState(
        _capped_sessions,
        outputStructType=CAPPED_OUTPUT_SCHEMA,
        stateStructType=CAPPED_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(out, "update")
