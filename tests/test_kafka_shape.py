"""Kafka-shaped events_log source (sources/kafka_shape.py): offset
continuation across query restarts, replay, and partition semantics.

The scenarios mirror what you'd demo against a real broker:

1. consume the log to the end, checkpointing offsets; APPEND to the
   log; restart the query on the same checkpoint → only the new rows
   are processed (committed offsets are honored, nothing re-read);
2. a fresh checkpoint replays the whole log from offset 0;
3. partitions(start, end) + read() slice exactly [start, end) per
   partition in stable append order (seek-to-offset replay);
4. partitioning is user_id % n — per-user ordering within a partition.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow.parquet as pq

from demo_segmenter_spark.sources.kafka_shape import (
    US_SCALE,
    EventsLogStreamReader,
    _partition_rows,
    register,
)
from tests.conftest import SF_SMOKE

N_PARTS = 4


def _read_tuples(reader, s):
    """Flatten the reader's Arrow RecordBatches to row tuples in
    LOG_SCHEMA column order."""
    out = []
    for b in reader.read(s):
        out.extend(tuple(d.values()) for d in b.to_pylist())
    return out


def _split_fixture(tmp_base):
    """sf0.001 events split into two 'appends' (A, B) by row position."""
    t = pq.read_table(f"{SF_SMOKE}/events.parquet")
    half = t.num_rows // 2
    os.makedirs(tmp_base)
    a, b = t.slice(0, half), t.slice(half)
    pq.write_table(a, f"{tmp_base}/chunk_a.parquet")
    return a.num_rows, b


def _run_once(spark, log_dir, ckpt, out_dir):
    stream = (
        spark.readStream.format("events_log")
        .option("path", log_dir)
        .option("partitions", str(N_PARTS))
        .load()
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_offset_continuation_and_replay(spark):
    base = f"/tmp/dss_kafka_shape/{uuid.uuid4().hex[:8]}"
    log_dir, ckpt, out_dir = f"{base}/log", f"{base}/ckpt", f"{base}/out"
    shutil.rmtree(base, ignore_errors=True)
    n_a, chunk_b = _split_fixture(log_dir)
    register(spark)

    # Run 1: consume chunk A to the end, committing offsets.
    _run_once(spark, log_dir, ckpt, out_dir)
    got1 = spark.read.parquet(out_dir)
    assert got1.count() == n_a

    # The log GROWS (a producer appends), then the query restarts on
    # the same checkpoint: only the appended rows may be processed.
    pq.write_table(chunk_b, f"{log_dir}/chunk_b.parquet")
    _run_once(spark, log_dir, ckpt, out_dir)
    got2 = spark.read.parquet(out_dir)
    assert got2.count() == n_a + chunk_b.num_rows
    # exactly-once across the restart: no event re-read
    assert got2.select("event_id").distinct().count() == n_a + chunk_b.num_rows

    # Replay: a fresh consumer group (new checkpoint) starts at 0.
    out2 = f"{base}/out_replay"
    _run_once(spark, log_dir, f"{base}/ckpt2", out2)
    assert spark.read.parquet(out2).count() == n_a + chunk_b.num_rows


def test_mid_stream_kill_restart_exactly_once(spark):
    """Kill between micro-batches, not at drain: a LIVE query
    (processingTime trigger) consumes appends as they land; stop() is
    issued right after a third append with no drain barrier — the stop
    races the in-flight batch exactly like an operator kill -9 between
    commits. A restart on the same checkpoint must end with every row
    exactly once: nothing the killed run committed is re-read, nothing
    the kill interrupted is lost."""
    import time

    base = f"/tmp/dss_kafka_shape/{uuid.uuid4().hex[:8]}"
    log_dir, ckpt, out_dir = f"{base}/log", f"{base}/ckpt", f"{base}/out"
    shutil.rmtree(base, ignore_errors=True)

    t = pq.read_table(f"{SF_SMOKE}/events.parquet")
    third = t.num_rows // 3
    chunks = [t.slice(0, third), t.slice(third, third), t.slice(2 * third)]
    os.makedirs(log_dir)
    pq.write_table(chunks[0], f"{log_dir}/chunk_a.parquet")
    register(spark)

    def _count():
        try:
            return spark.read.parquet(out_dir).count()
        except Exception:  # noqa: BLE001 — no commit yet
            return 0

    def _wait_for(n, timeout=60):
        deadline = time.time() + timeout
        while time.time() < deadline:
            if _count() >= n:
                return
            time.sleep(0.3)
        raise AssertionError(f"sink never reached {n} rows (at {_count()})")

    stream = (
        spark.readStream.format("events_log")
        .option("path", log_dir)
        .option("partitions", str(N_PARTS))
        .load()
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        # batch 1 commits chunk A; batch 2 commits the appended chunk B.
        _wait_for(chunks[0].num_rows)
        pq.write_table(chunks[1], f"{log_dir}/chunk_b.parquet")
        _wait_for(chunks[0].num_rows + chunks[1].num_rows)
        # append chunk C and kill IMMEDIATELY — no drain.
        pq.write_table(chunks[2], f"{log_dir}/chunk_c.parquet")
    finally:
        q.stop()

    # Restart on the same checkpoint drains whatever the kill left.
    _run_once(spark, log_dir, ckpt, out_dir)
    got = spark.read.parquet(out_dir)
    assert got.count() == t.num_rows  # no loss
    assert got.select("event_id").distinct().count() == t.num_rows  # no re-read


def test_seek_to_offset_slices(spark):
    """partitions(start, end)/read() == a consumer seeking to an
    arbitrary offset — replay is exact and stable."""
    base = f"/tmp/dss_kafka_shape/{uuid.uuid4().hex[:8]}"
    log_dir = f"{base}/log"
    shutil.rmtree(base, ignore_errors=True)
    _split_fixture(log_dir)

    reader = EventsLogStreamReader(
        {"path": log_dir, "partitions": str(N_PARTS)}
    )
    ends = reader.latestOffset()
    assert set(ends) == {str(p) for p in range(N_PARTS)}
    full = {
        p: _read_tuples(reader, s)
        for s in reader.partitions(reader.initialOffset(), ends)
        for p in [s.part_id]
    }
    # per-partition invariants: offsets contiguous from 0, key-hash
    # partitioning, counts match latestOffset
    for p, rows in full.items():
        assert [r[-1] for r in rows] == list(range(len(rows)))
        assert all(r[2] % N_PARTS == p for r in rows)
        assert len(rows) == ends[str(p)]
    # seek: an arbitrary [start, end) slice equals the same slice of
    # the full replay
    for s in reader.partitions(
        {str(p): 3 for p in range(N_PARTS)},
        {str(p): 8 for p in range(N_PARTS)},
    ):
        got = _read_tuples(reader, s)
        assert got == full[s.part_id][3:8]


def test_seek_skips_unneeded_files_and_caches_counts(spark, monkeypatch, tmp_path):
    """A slice starting inside the last log file must never OPEN the
    earlier files (broker-index seek, not full-log replay), and
    repeated latestOffset() polls must not re-scan files already
    counted (immutable once committed)."""
    import pyarrow.parquet as pqm

    t = pqm.read_table(f"{SF_SMOKE}/events.parquet")
    third = t.num_rows // 3
    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    for i in range(3):
        sl = t.slice(i * third, third) if i < 2 else t.slice(2 * third)
        pqm.write_table(sl, f"{log_dir}/chunk_{i}.parquet")

    reader = EventsLogStreamReader({"path": log_dir, "partitions": str(N_PARTS)})
    ends = reader.latestOffset()

    opened: list[str] = []
    real_parquet_file = pqm.ParquetFile
    monkeypatch.setattr(
        pqm, "ParquetFile",
        lambda f, **kw: opened.append(str(f)) or real_parquet_file(f, **kw),
    )

    # poll again: every file already counted, nothing re-opened
    assert reader.latestOffset() == ends
    assert opened == []

    # seek each partition to where the LAST file starts
    start = {
        str(p): ends[str(p)] - reader._file_counts(f"{log_dir}/chunk_2.parquet")[p]
        for p in range(N_PARTS)
    }
    slices = reader.partitions(start, ends)
    assert opened == []  # planning uses the count cache only
    for s in slices:
        got = _read_tuples(reader, s)
        assert got and all(s.start <= r[-1] < s.end for r in got)
    assert opened and all("chunk_2" in f for f in opened)


def test_arrow_read_matches_scalar_reference(spark):
    """The vectorized Arrow read path must yield EXACTLY the rows and
    offsets of the scalar _partition_rows reference — full replay and
    arbitrary offset windows."""
    base = f"/tmp/dss_kafka_shape/{uuid.uuid4().hex[:8]}"
    log_dir = f"{base}/log"
    shutil.rmtree(base, ignore_errors=True)
    n_a, chunk_b = _split_fixture(log_dir)
    pq.write_table(chunk_b, f"{log_dir}/chunk_b.parquet")

    reader = EventsLogStreamReader({"path": log_dir, "partitions": str(N_PARTS)})
    ends = reader.latestOffset()
    windows = [
        (reader.initialOffset(), ends),
        ({str(p): 5 for p in range(N_PARTS)}, {str(p): 17 for p in range(N_PARTS)}),
    ]
    for start, end in windows:
        for s in reader.partitions(start, end):
            got = _read_tuples(reader, s)
            ref = list(
                _partition_rows(
                    s.files, s.part_id, s.n_parts,
                    bases=s.bases, start=s.start, end=s.end,
                )
            )
            assert got == ref, (s.part_id, s.start, s.end)
            assert got, "window unexpectedly empty"


def test_empty_range_plans_no_partitions(spark):
    base = f"/tmp/dss_kafka_shape/{uuid.uuid4().hex[:8]}"
    log_dir = f"{base}/log"
    shutil.rmtree(base, ignore_errors=True)
    _split_fixture(log_dir)
    reader = EventsLogStreamReader(
        {"path": log_dir, "partitions": str(N_PARTS)}
    )
    ends = reader.latestOffset()
    assert reader.partitions(ends, ends) == []


def test_sink_round_trip_atomic_append(spark):
    """Producer twin: stream the fixture THROUGH the events_log sink
    (atomic per-batch rename commit), then consume the produced log
    with the events_log source — the full wire-path emulation. The
    produced log must contain exactly the fixture rows, no in-flight
    temp files may survive the run, and committed file names must
    carry the batch-order prefix the reader's append order relies on."""
    base = f"/tmp/dss_kafka_shape/{uuid.uuid4().hex[:8]}"
    src_log, out_log = f"{base}/src", f"{base}/out"
    shutil.rmtree(base, ignore_errors=True)
    n_a, chunk_b = _split_fixture(src_log)
    pq.write_table(chunk_b, f"{src_log}/chunk_b.parquet")
    register(spark)

    stream = (
        spark.readStream.format("events_log")
        .option("path", src_log)
        .option("partitions", str(N_PARTS))
        .load()
        .select("event_id", "ts_us", "user_id", "event_type", "value")
    )
    q = (
        stream.writeStream.format("events_log")
        .option("path", out_log)
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    files = sorted(os.listdir(out_log))
    assert files and all(f.endswith(".parquet") for f in files)
    assert not any(f.endswith(".tmp") for f in files)
    assert all(f.startswith("b") and f[1:11].isdigit() for f in files)

    # Consume the produced log back through the source: same rows.
    reader = EventsLogStreamReader({"path": out_log, "partitions": "2"})
    got = {
        (r[0], r[1], r[2])
        for s in reader.partitions(reader.initialOffset(), reader.latestOffset())
        for r in _read_tuples(reader, s)
    }
    want_t = pq.read_table(f"{SF_SMOKE}/events.parquet")
    # same unit→µs mapping as the source — fails loudly on an unknown unit
    ts_div, ts_mult = US_SCALE[want_t.column("ts").type.unit]
    want = {
        (e, t // ts_div * ts_mult, u)
        for e, t, u in zip(
            want_t.column("event_id").to_pylist(),
            want_t.column("ts").cast("int64").to_pylist(),
            want_t.column("user_id").to_pylist(),
        )
    }
    assert got == want
