"""Streaming sink semantics (SURVEY.md §2 Layer A "Sink" row): the
file sink's checkpoint + commit log must give exactly-once output
across query restarts — the Structured Streaming replacement for the
reference's Kafka producer + changelog story."""

from __future__ import annotations

import shutil
import uuid

from demo_segmenter_spark.registry import REGISTRY, load_all_operators
from demo_segmenter_spark.sources import load_table
from demo_segmenter_spark.streaming.sinks import (
    run_to_memory,
    write_stream_foreach_batch,
    write_stream_parquet,
)
from demo_segmenter_spark.streaming.sources import stream_events
from tests.conftest import SF_SMOKE

N_EVENTS_SMOKE = 1000  # TESTDATA.md: events rows at sf0.001


def _dirs(tag):
    base = f"/tmp/dss_sink_test/{tag}"
    shutil.rmtree(base, ignore_errors=True)
    return f"{base}/out", f"{base}/ckpt"


def test_parquet_sink_exactly_once_across_restart(spark):
    out, ckpt = _dirs(f"pq_{uuid.uuid4().hex[:8]}")
    ev = stream_events(spark, SF_SMOKE)

    q = write_stream_parquet(ev, out, ckpt)
    q.awaitTermination()
    assert spark.read.parquet(out).count() == N_EVENTS_SMOKE

    # Restart with the same checkpoint and no new input: the commit log
    # must replay NOTHING — same row count, no duplicates.
    q2 = write_stream_parquet(stream_events(spark, SF_SMOKE), out, ckpt)
    q2.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == N_EVENTS_SMOKE
    assert got.select("event_id").distinct().count() == N_EVENTS_SMOKE


def test_foreach_batch_sink_idempotent_restart(spark):
    out, ckpt = _dirs(f"fb_{uuid.uuid4().hex[:8]}")

    q = write_stream_foreach_batch(stream_events(spark, SF_SMOKE), out, ckpt)
    q.awaitTermination()
    first = spark.read.parquet(out).count()
    assert first == N_EVENTS_SMOKE

    q2 = write_stream_foreach_batch(stream_events(spark, SF_SMOKE), out, ckpt)
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == N_EVENTS_SMOKE


def test_incremental_arrival_processes_only_new_rows(spark):
    # The incremental-pipeline pattern: a second source file arrives
    # between runs; the checkpoint ensures run 2 reads ONLY the new
    # file (no reprocessing of the first 1000 events) and appends
    # exactly its rows. This is the 100 TB daily-partition-arrival
    # loop in miniature.
    import os

    from pyspark.sql import functions as F

    base = f"/tmp/dss_sink_test/incr_{uuid.uuid4().hex[:8]}"
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"
    os.makedirs(src)

    from demo_segmenter_spark.sources import load_table

    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "ts", "user_id")
    ev.coalesce(1).write.parquet(f"{base}/day1")
    _link_parquet(f"{base}/day1", src, "day1")

    def run():
        stream = spark.readStream.schema(ev.schema).parquet(src)
        q = write_stream_parquet(stream, out, ckpt)
        q.awaitTermination()

    run()
    assert spark.read.parquet(out).count() == N_EVENTS_SMOKE

    # Day 2 arrives: 50 new events with shifted ids.
    ev.limit(50).select(
        (F.col("event_id") + 10_000_000).alias("event_id"), "ts", "user_id"
    ).coalesce(1).write.parquet(f"{base}/day2")
    _link_parquet(f"{base}/day2", src, "day2")

    run()
    got = spark.read.parquet(out)
    assert got.count() == N_EVENTS_SMOKE + 50
    assert got.select("event_id").distinct().count() == N_EVENTS_SMOKE + 50


def _link_parquet(src_dir, dst_dir, tag):
    import os

    for f in os.listdir(src_dir):
        if f.endswith(".parquet"):
            os.symlink(f"{src_dir}/{f}", f"{dst_dir}/{tag}_{f}")


def test_run_to_memory_drops_its_view(spark):
    """The memory sink's temp view is gone once run_to_memory returns,
    and the returned DataFrame still reads every drained row."""
    def mem_views():
        return [t.name for t in spark.catalog.listTables()
                if t.name.startswith("mem_")]

    out = run_to_memory(stream_events(spark, SF_SMOKE), "append")
    assert mem_views() == []
    want = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id")
    got = out.select("event_id", "user_id")
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.count() == N_EVENTS_SMOKE  # reads again after the drop

    load_all_operators()
    rows = REGISTRY["a_tumbling_window_stream"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 150  # tests/test_stream_state_budgets.py
    assert mem_views() == []
