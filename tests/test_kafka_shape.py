"""Kafka-shaped events_log source (sources/kafka_shape.py): offset
continuation across query restarts, replay, and partition semantics.

The scenarios mirror what you'd demo against a real broker:

1. consume the log to the end, checkpointing offsets; APPEND to the
   log; restart the query on the same checkpoint → only the new rows
   are processed (committed offsets are honored, nothing re-read);
2. a fresh checkpoint replays the whole log from offset 0;
3. partitions(start, end) + read() return exactly [start, end) per
   partition in stable append order (seek-to-offset replay), reading
   each log file once in at most n read tasks;
4. partitioning is user_id % n — per-user ordering within a partition;
5. an availableNow start runs one batch (Spark's fallback for Python
   sources): a restart replays an uncommitted batch and the next start
   picks up what was appended meanwhile;
6. the reader's driver-side methods never load pandas, since they run
   in a fresh source-runner process per stream start.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from demo_segmenter_spark.sources.kafka_shape import (
    US_SCALE,
    EventsLogStreamReader,
    _file_partition_counts,
    _partition_rows,
    register,
)
from tests.conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_PARTS = 4


def _read_tuples(reader, s):
    """Flatten the reader's Arrow RecordBatches to row tuples in
    LOG_SCHEMA column order."""
    out = []
    for b in reader.read(s):
        out.extend(tuple(d.values()) for d in b.to_pylist())
    return out


def _rows_by_partition(reader, plan):
    """Every planned task's rows, grouped by their log_partition in
    read order."""
    out: dict[int, list] = {}
    for s in plan:
        for r in _read_tuples(reader, s):
            out.setdefault(r[5], []).append(r)
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


def test_offset_continuation_and_replay(spark, tmp_path):
    base = str(tmp_path)
    log_dir, ckpt, out_dir = f"{base}/log", f"{base}/ckpt", f"{base}/out"
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


def test_mid_stream_kill_restart_exactly_once(spark, tmp_path):
    """Kill between micro-batches, not at drain: a LIVE query
    (processingTime trigger) consumes appends as they land; stop() is
    issued right after a third append with no drain barrier — the stop
    races the in-flight batch exactly like an operator kill -9 between
    commits. A restart on the same checkpoint must end with every row
    exactly once: nothing the killed run committed is re-read, nothing
    the kill interrupted is lost."""
    import time

    base = str(tmp_path)
    log_dir, ckpt, out_dir = f"{base}/log", f"{base}/ckpt", f"{base}/out"

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


def test_seek_to_offset_slices(spark, tmp_path):
    """partitions(start, end)/read() == a consumer seeking to an
    arbitrary offset — replay is exact and stable."""
    log_dir = str(tmp_path / "log")
    _split_fixture(log_dir)

    reader = EventsLogStreamReader(
        {"path": log_dir, "partitions": str(N_PARTS)}
    )
    ends = reader.latestOffset()
    assert set(ends) == {str(p) for p in range(N_PARTS)}
    full = _rows_by_partition(
        reader, reader.partitions(reader.initialOffset(), ends)
    )
    assert set(full) == set(range(N_PARTS))
    # per-partition invariants: offsets contiguous from 0, key-hash
    # partitioning, counts match latestOffset
    for p, rows in full.items():
        assert [r[-1] for r in rows] == list(range(len(rows)))
        assert all(r[2] % N_PARTS == p for r in rows)
        assert len(rows) == ends[str(p)]
    # seek: an arbitrary [start, end) slice equals the same slice of
    # the full replay
    got = _rows_by_partition(
        reader,
        reader.partitions(
            {str(p): 3 for p in range(N_PARTS)},
            {str(p): 8 for p in range(N_PARTS)},
        ),
    )
    assert got == {p: rows[3:8] for p, rows in full.items()}


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
    plan = reader.partitions(start, ends)
    assert opened == []  # planning uses the count cache only
    got = _rows_by_partition(reader, plan)
    assert set(got) == set(range(N_PARTS))
    for p, rows in got.items():
        assert all(start[str(p)] <= r[-1] < ends[str(p)] for r in rows)
    assert opened and all("chunk_2" in f for f in opened)


def test_arrow_read_matches_scalar_reference(spark, tmp_path):
    """The vectorized Arrow read path must yield EXACTLY the rows and
    offsets of the scalar _partition_rows reference — full replay and
    arbitrary offset windows."""
    log_dir = str(tmp_path / "log")
    n_a, chunk_b = _split_fixture(log_dir)
    pq.write_table(chunk_b, f"{log_dir}/chunk_b.parquet")

    reader = EventsLogStreamReader({"path": log_dir, "partitions": str(N_PARTS)})
    files = [f"{log_dir}/chunk_a.parquet", f"{log_dir}/chunk_b.parquet"]
    ends = reader.latestOffset()
    windows = [
        (reader.initialOffset(), ends),
        ({str(p): 5 for p in range(N_PARTS)}, {str(p): 17 for p in range(N_PARTS)}),
    ]
    for start, end in windows:
        got = _rows_by_partition(reader, reader.partitions(start, end))
        for p in range(N_PARTS):
            ref = list(
                _partition_rows(files, p, N_PARTS, start[str(p)], end[str(p)])
            )
            assert got.get(p) == ref, (p, start[str(p)], end[str(p)])
            assert ref, "window unexpectedly empty"


def _multi_file_log(log_dir):
    """sf0.001 events cut into 7 appends of uneven size (one a single
    row); returns the files in append order."""
    t = pq.read_table(f"{SF_SMOKE}/events.parquet")
    cuts = [0, 90, 300, 301, 520, 700, 880, t.num_rows]
    os.makedirs(log_dir)
    files = []
    for i, (a, b) in enumerate(zip(cuts, cuts[1:])):
        files.append(f"{log_dir}/c{i}.parquet")
        pq.write_table(t.slice(a, b - a), files[-1])
    return files


def test_grouped_read_matches_scalar_reference(spark, tmp_path):
    """For every partition count and seeded random windows, the rows
    of all planned file groups, grouped by log_partition, equal the
    scalar _partition_rows reference."""
    log_dir = str(tmp_path / "log")
    files = _multi_file_log(log_dir)
    rng = np.random.default_rng(15)
    for n in (1, 3, 4, 8, 16):
        reader = EventsLogStreamReader({"path": log_dir, "partitions": str(n)})
        ends = reader.latestOffset()
        for _ in range(8):
            start = {k: int(rng.integers(0, v + 1)) for k, v in ends.items()}
            end = {k: int(rng.integers(start[k], v + 1)) for k, v in ends.items()}
            got = _rows_by_partition(reader, reader.partitions(start, end))
            for p in range(n):
                ref = list(_partition_rows(files, p, n, start[str(p)], end[str(p)]))
                assert got.get(p, []) == ref, (n, p, start[str(p)], end[str(p)])


def test_plan_groups_files_and_reads_each_once(spark, monkeypatch, tmp_path):
    """The plan holds at most n tasks; every planned file sits in one
    group, holds a row of some partition's window, and is opened once
    by the read."""
    import pyarrow.parquet as pqm

    log_dir = str(tmp_path / "log")
    files = _multi_file_log(log_dir)
    opened: list[str] = []
    real_parquet_file = pqm.ParquetFile
    monkeypatch.setattr(
        pqm, "ParquetFile",
        lambda f, **kw: opened.append(str(f)) or real_parquet_file(f, **kw),
    )
    rng = np.random.default_rng(16)
    for n in (1, 3, 4, 8, 16):
        reader = EventsLogStreamReader({"path": log_dir, "partitions": str(n)})
        counts = [_file_partition_counts(f, n) for f in files]
        ends = reader.latestOffset()
        windows = [(reader.initialOffset(), ends)]
        for _ in range(6):
            start = {k: int(rng.integers(0, v + 1)) for k, v in ends.items()}
            end = {k: int(rng.integers(start[k], v + 1)) for k, v in ends.items()}
            windows.append((start, end))
        for start, end in windows:
            plan = reader.partitions(start, end)
            assert len(plan) <= n
            planned = [f for s in plan for f in s.files]
            assert len(planned) == len(set(planned))
            assert planned == sorted(planned)  # contiguous, append order
            for f in planned:
                i = files.index(f)
                lo = [sum(c[p] for c in counts[:i]) for p in range(n)]
                assert any(
                    max(lo[p], start[str(p)]) < min(lo[p] + counts[i][p], end[str(p)])
                    for p in range(n)
                ), f
            opened.clear()
            for s in plan:
                _read_tuples(reader, s)
            assert sorted(opened) == planned


def test_empty_range_plans_no_partitions(spark, tmp_path):
    log_dir = str(tmp_path / "log")
    _split_fixture(log_dir)
    reader = EventsLogStreamReader(
        {"path": log_dir, "partitions": str(N_PARTS)}
    )
    ends = reader.latestOffset()
    assert reader.partitions(ends, ends) == []


def test_sink_round_trip_atomic_append(spark, tmp_path):
    """Producer twin: stream the fixture THROUGH the events_log sink
    (atomic per-batch rename commit), then consume the produced log
    with the events_log source — the full wire-path emulation. The
    produced log must contain exactly the fixture rows, no in-flight
    temp files may survive the run, and committed file names must
    carry the batch-order prefix the reader's append order relies on."""
    base = str(tmp_path)
    src_log, out_log = f"{base}/src", f"{base}/out"
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


def test_restart_replays_uncommitted_batch_then_next_start_appends(spark, tmp_path):
    """Spark runs a Python source under availableNow as one batch per
    start. Drop the drain's commit (a crash after the sink wrote, before
    the checkpoint commit) and append a file: the first restart replays
    only the planned batch, the second start reads the appended rows,
    and every (log_partition, log_offset) lands exactly once."""
    base = str(tmp_path)
    log_dir, ckpt, out_dir = f"{base}/log", f"{base}/ckpt", f"{base}/out"
    n_a, chunk_b = _split_fixture(log_dir)
    register(spark)

    _run_once(spark, log_dir, ckpt, out_dir)
    last = max(int(f) for f in os.listdir(f"{ckpt}/commits") if f.isdigit())
    for f in (str(last), f".{last}.crc"):
        if os.path.exists(f"{ckpt}/commits/{f}"):
            os.remove(f"{ckpt}/commits/{f}")
    pq.write_table(chunk_b, f"{log_dir}/chunk_b.parquet")

    _run_once(spark, log_dir, ckpt, out_dir)
    assert os.path.exists(f"{ckpt}/commits/{last}")  # the replay committed
    assert spark.read.parquet(out_dir).count() == n_a  # appended rows not yet read

    _run_once(spark, log_dir, ckpt, out_dir)
    got = spark.read.parquet(out_dir)
    total = n_a + chunk_b.num_rows
    assert got.count() == total
    assert got.select("log_partition", "log_offset").distinct().count() == total


def _write_log(log_dir, name, user_id, row_group_size=None):
    os.makedirs(log_dir, exist_ok=True)
    n = len(user_id)
    t = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts_us": pa.array(np.arange(n, dtype=np.int64) * 1000),
            "user_id": user_id,
            "event_type": pa.array(["view"] * n),
            "value": pa.array(np.ones(n)),
        }
    )
    pq.write_table(t, f"{log_dir}/{name}.parquet", row_group_size=row_group_size)


def _reference_counts(fpath, n_parts):
    uid = pq.read_table(fpath, columns=["user_id"]).column("user_id")
    return np.bincount(
        uid.to_numpy(zero_copy_only=False) % n_parts, minlength=n_parts
    ).tolist()


def test_runner_methods_import_no_pandas(tmp_path):
    """initialOffset, latestOffset, partitions and commit run in a fresh
    python_streaming_source_runner process per stream start; none of
    them may import pandas there (its import cost 0.25-0.35 s a start).
    Nor may read(): a drain's single read task would pay the import
    whenever its Python worker is fresh."""
    rng = np.random.default_rng(7)
    log_dir = str(tmp_path / "log")
    _write_log(log_dir, "a", pa.array(rng.integers(0, 500, 5000)), row_group_size=700)
    _write_log(log_dir, "b", pa.array(rng.integers(0, 500, 900)))
    probe = f"""
import json, sys
import pyspark.sql.streaming.python_streaming_source_runner
from demo_segmenter_spark.sources.kafka_shape import EventsLogStreamReader
r = EventsLogStreamReader({{"path": {log_dir!r}, "partitions": "{N_PARTS}"}})
start = r.initialOffset()
end = r.latestOffset()
slices = r.partitions(start, end)
r.commit(end)
runner_pandas = "pandas" in sys.modules
rows = sum(b.num_rows for s in slices for b in r.read(s))
print(json.dumps({{"pandas": [runner_pandas, "pandas" in sys.modules],
                   "rows": rows, "end": end,
                   "bases": {{f: b for s in slices for f, b in zip(s.files, s.bases)}}}}))
"""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], env=env, capture_output=True,
        text=True, timeout=120, check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["pandas"] == [False, False]
    assert got["rows"] == 5900

    files = [f"{log_dir}/a.parquet", f"{log_dir}/b.parquet"]
    ref = [_reference_counts(f, N_PARTS) for f in files]
    assert got["end"] == {
        str(p): ref[0][p] + ref[1][p] for p in range(N_PARTS)
    }
    assert got["bases"] == {files[0]: [0] * N_PARTS, files[1]: ref[0]}


def test_partition_counts_match_reference(tmp_path, monkeypatch):
    """The buffer-view bincount equals a plain bincount over Arrow's
    numpy conversion: many row groups, chunks with a non-zero offset,
    an int32 user_id, an empty file; a null user_id raises TypeError."""
    rng = np.random.default_rng(11)
    log_dir = str(tmp_path / "log")
    _write_log(log_dir, "groups", pa.array(rng.integers(0, 10**9, 7000)), row_group_size=500)
    _write_log(
        log_dir, "int32", pa.array(rng.integers(0, 1000, 3000), type=pa.int32())
    )
    _write_log(log_dir, "empty", pa.array([], type=pa.int64()))
    for name in ("groups", "int32", "empty"):
        f = f"{log_dir}/{name}.parquet"
        for n in (1, N_PARTS, 7):
            assert _file_partition_counts(f, n) == _reference_counts(f, n), (name, n)

    class _Sliced(pq.ParquetFile):
        """Hands the user_id column back as slices of one array, so
        each chunk after the first starts at a non-zero offset."""

        def read(self, *args, **kwargs):
            col = super().read(*args, **kwargs).column("user_id").combine_chunks()
            return pa.table(
                {"user_id": pa.chunked_array([col[:7], col[7:300], col[300:]])}
            )

    f = f"{log_dir}/groups.parquet"
    want = _reference_counts(f, N_PARTS)
    monkeypatch.setattr(pq, "ParquetFile", _Sliced)
    assert _file_partition_counts(f, N_PARTS) == want
    monkeypatch.undo()

    _write_log(log_dir, "nulls", pa.array([3, None, 5], type=pa.int64()))
    with pytest.raises(TypeError, match="user_id"):
        _file_partition_counts(f"{log_dir}/nulls.parquet", N_PARTS)
