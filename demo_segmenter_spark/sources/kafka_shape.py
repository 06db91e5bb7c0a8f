"""Kafka-shaped partitioned streaming source on the Spark 4 Python
DataSource API (format "events_log").

The container has no Kafka connector jars (probed each round — SURVEY
§7.3), so the reference's ingest side (a Kafka consumer group) is
emulated with the SAME abstractions Kafka exposes, implemented against
an append-only directory of parquet files:

- **topic** = a directory; each parquet file is an append to the log
  (files ordered by name = broker arrival order);
- **partition** = ``user_id % n_partitions`` — key-hash partitioning,
  so per-user ordering holds within a partition exactly as it would
  with Kafka's keyed producer;
- **offset** = position within a partition's append order
  ``(file_index, row_index)`` flattened to a long;
- ``initialOffset / latestOffset / partitions(start, end) / read /
  commit`` map 1:1 onto a consumer's seek/poll/commit cycle. Offsets
  live in the checkpoint, so a restarted query resumes from the
  committed position and never re-reads (tests/test_kafka_shape.py
  proves continuation across two runs with log growth in between, and
  replay-from-arbitrary-offset via direct partitions()/read() calls).

Triggers: Spark runs ``trigger(availableNow=True)`` to the end only
for sources implementing ``SupportsTriggerAvailableNow``, which the
Python DataSource API does not expose. An availableNow query on this
source therefore runs ONE batch per start, up to the log end seen when
it plans (Spark warns "this may not guarantee processing new data if
there is an uncommitted batch"). A restart after a crash between the
sink write and the checkpoint commit replays the uncommitted batch
with its planned offsets and stops; rows appended meanwhile wait for
the next start (pinned in tests/test_kafka_shape.py). Nothing is lost
or read twice, but such a drain takes two starts.

Driver-side methods (``initialOffset / latestOffset / partitions /
commit``) run in a fresh ``python_streaming_source_runner`` process per
stream start, so they must not load pandas (a 0.25-0.35 s import paid
on every start). Arrow loads it behind the scenes in
``ChunkedArray.to_numpy``, ``pa.array`` over a numpy array or a Python
list, and ``pq.read_table`` (through ``pyarrow.dataset``); use
``pq.ParquetFile`` and ``np.frombuffer`` over the column buffers there.
The executor read path is exempt: its reused workers pay the import
once.

Scale note: ``partitions()`` plans one InputPartition per log
partition per batch — executors read only their slice, nothing
funnels through the driver (the driver touches metadata only: file
listing + per-partition counts). With a real broker the read() body
becomes a consumer.poll loop; every offset/partition mechanism above
is unchanged — that is the point of the emulation.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

LOG_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts_us", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("log_partition", IntegerType()),
        StructField("log_offset", LongType()),
    ]
)


# Exact integer (divisor, multiplier) to µs per timestamp unit — no
# float reciprocals; tests reuse this so source and oracle can't drift.
US_SCALE = {
    "ns": (1000, 1),
    "us": (1, 1),
    "ms": (1, 1000),
    "s": (1, 1_000_000),
}


def _log_files(path: str) -> list[str]:
    """The log's append order: parquet files sorted by name."""
    return sorted(
        f"{path}/{f}" for f in os.listdir(path) if f.endswith(".parquet")
    )


def _file_partition_counts(fpath: str, n_parts: int) -> list[int]:
    """Rows per log partition inside one committed file (user_id scan
    only, vectorized bincount). Committed files are immutable (atomic
    rename, append-only log), so callers may cache the result
    forever. Pandas-free (see the module docstring): each chunk is
    viewed in place over its int64 data buffer."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    with pq.ParquetFile(fpath) as pf:
        col = pf.read(columns=["user_id"]).column("user_id")
    counts = np.zeros(n_parts, dtype=np.int64)
    for chunk in col.chunks:
        if chunk.null_count:
            raise TypeError(f"{fpath}: 'user_id' has {chunk.null_count} nulls")
        if chunk.type != pa.int64():
            chunk = chunk.cast(pa.int64())
        uid = np.frombuffer(
            chunk.buffers()[1], dtype=np.int64, count=len(chunk),
            offset=chunk.offset * 8,
        )
        counts += np.bincount(uid % n_parts, minlength=n_parts)
    return counts.tolist()


def _partition_rows(
    files: list[str],
    part_id: int,
    n_parts: int,
    bases: list[int] | None = None,
    start: int = 0,
    end: float = float("inf"),
):
    """One partition's rows with offsets in [start, end), append order.

    With per-file offset ``bases`` (bases[i] = this partition's
    cumulative offset at the start of files[i], plus a final entry for
    the log end; planned driver-side from the immutable-file count
    cache), files wholly before ``start`` are never OPENED and
    iteration stops at the first file at/past ``end`` — the seek a real
    consumer gets from the broker's offset index, which keeps a
    long-lived query's micro-batch cost proportional to the NEW rows
    rather than the whole log. Without bases every file is scanned and
    offsets count from 0 (compat path; same yielded rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    off = 0
    for i, fpath in enumerate(files):
        if bases is not None:
            if bases[i + 1] <= start:
                continue  # wholly before the requested range: never opened
            if bases[i] >= end:
                break
            off = bases[i]
        with pq.ParquetFile(fpath) as pf:
            ts_col = "ts_us" if "ts_us" in pf.schema_arrow.names else "ts"
            t = pf.read(columns=["event_id", ts_col, "user_id", "event_type", "value"])
        ev = t.column("event_id").to_pylist()
        if ts_col == "ts_us":  # sink-written log: already µs longs
            ts = t.column("ts_us").to_pylist()
        else:
            # fixture ts is a parquet timestamp whose unit has varied
            # across drops (NANOS early, MICROS later); emit µs to match
            # the batch loader's normalization (sources/tables.py)
            col = t.column("ts")
            if not pa.types.is_timestamp(col.type):
                raise TypeError(
                    f"{fpath}: 'ts' must be a parquet timestamp column, "
                    f"got {col.type}"
                )
            raw = col.cast("int64").to_pylist()
            div, mult = US_SCALE[col.type.unit]
            ts = [v // div * mult for v in raw]
        us = t.column("user_id").to_pylist()
        ty = t.column("event_type").to_pylist()
        va = t.column("value").to_pylist()
        for j in range(len(ev)):
            if us[j] % n_parts == part_id:
                if off >= end:
                    return
                if off >= start:
                    yield (ev[j], ts[j], us[j], ty[j], va[j], part_id, off)
                off += 1


def _slice_record_batches(
    files: list[str],
    part_id: int,
    n_parts: int,
    bases: list[int],
    start: int,
    end: int,
):
    """Vectorized executor read: per overlapping file, one pyarrow
    filter + slice, yielded as Arrow RecordBatches — Spark's Python
    DataSource API consumes Arrow directly, so no per-row Python tuple
    ever exists on the wire path (measured ~20× the row-at-a-time
    throughput at sf0.1). Row/offset semantics are IDENTICAL to
    _partition_rows, which stays as the scalar reference twin; the
    equivalence is pinned in tests/test_kafka_shape.py."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i, fpath in enumerate(files):
        lo_off, hi_off = bases[i], bases[i + 1]
        if hi_off <= start:
            continue  # wholly before the range: never opened
        if lo_off >= end:
            break
        with pq.ParquetFile(fpath) as pf:
            ts_col = "ts_us" if "ts_us" in pf.schema_arrow.names else "ts"
            t = pf.read(columns=["event_id", ts_col, "user_id", "event_type", "value"])
        uid = t.column("user_id").to_numpy(zero_copy_only=False)
        ft = t.filter(pa.array(uid % n_parts == part_id))
        # partition-local offset range inside this file
        lo = max(start - lo_off, 0)
        hi = min(end, hi_off) - lo_off
        ft = ft.slice(lo, hi - lo)
        if ft.num_rows == 0:
            continue
        if ts_col == "ts_us":
            ts_us = ft.column("ts_us").cast(pa.int64())
        else:
            col = ft.column("ts")
            if not pa.types.is_timestamp(col.type):
                raise TypeError(
                    f"{fpath}: 'ts' must be a parquet timestamp column, "
                    f"got {col.type}"
                )
            div, mult = US_SCALE[col.type.unit]
            raw = col.cast(pa.int64()).to_numpy(zero_copy_only=False)
            ts_us = pa.array(raw // div * mult, type=pa.int64())
        n = ft.num_rows
        out = pa.table(
            {
                "event_id": ft.column("event_id").cast(pa.int64()),
                "ts_us": ts_us,
                "user_id": ft.column("user_id").cast(pa.int64()),
                "event_type": ft.column("event_type").cast(pa.string()),
                "value": ft.column("value").cast(pa.float64()),
                "log_partition": pa.array(
                    np.full(n, part_id, dtype=np.int32), type=pa.int32()
                ),
                "log_offset": pa.array(
                    np.arange(lo_off + lo, lo_off + lo + n, dtype=np.int64),
                    type=pa.int64(),
                ),
            }
        )
        yield from out.to_batches()


class _LogSlice(InputPartition):
    def __init__(self, files, part_id, n_parts, start, end, bases=None):
        self.files = files
        self.part_id = part_id
        self.n_parts = n_parts
        self.start = start
        self.end = end
        # per-file cumulative offsets for THIS partition (len(files)+1
        # entries); lets the executor seek instead of replaying the log
        self.bases = bases


class EventsLogStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("events_log source requires option 'path'")
        self.n_parts = int(options.get("partitions", 8))
        # file -> per-partition row counts. Committed files are
        # immutable (producer commit = atomic rename, append-only log),
        # so entries never invalidate; without this cache every
        # latestOffset() poll re-scanned the WHOLE log — O(n²) rows
        # over a long-lived query's lifetime. With it, each poll reads
        # only files it has never seen (a broker's endOffsets() is the
        # same idea: the index already knows).
        self._counts: dict[str, list[int]] = {}

    def _file_counts(self, fpath: str) -> list[int]:
        if fpath not in self._counts:
            self._counts[fpath] = _file_partition_counts(fpath, self.n_parts)
        return self._counts[fpath]

    def _ends(self) -> dict:
        """Current log-end offset per partition (a consumer's
        endOffsets()); cached per immutable file."""
        totals = [0] * self.n_parts
        for fpath in _log_files(self.path):
            for p, n in enumerate(self._file_counts(fpath)):
                totals[p] += n
        return {str(p): totals[p] for p in range(self.n_parts)}

    def initialOffset(self) -> dict:
        return {str(p): 0 for p in range(self.n_parts)}

    def latestOffset(self) -> dict:
        return self._ends()

    def partitions(self, start: dict, end: dict):
        files = _log_files(self.path)
        # bases[p][i] = partition p's first offset in files[i]
        per_file = [self._file_counts(f) for f in files]
        bases = {p: [0] for p in range(self.n_parts)}
        for counts in per_file:
            for p in range(self.n_parts):
                bases[p].append(bases[p][-1] + counts[p])
        return [
            _LogSlice(files, p, self.n_parts, start.get(str(p), 0), e, bases[p])
            for p in range(self.n_parts)
            for e in [end.get(str(p), 0)]
            if e > start.get(str(p), 0)
        ]

    def read(self, partition: _LogSlice):
        bases = partition.bases
        if bases is None:  # hand-built slice: plan offsets on the fly
            bases = [0]
            for f in partition.files:
                bases.append(
                    bases[-1]
                    + _file_partition_counts(f, partition.n_parts)[
                        partition.part_id
                    ]
                )
        yield from _slice_record_batches(
            partition.files,
            partition.part_id,
            partition.n_parts,
            bases,
            partition.start,
            partition.end,
        )

    def commit(self, end: dict) -> None:
        # Offsets are durable in the query checkpoint; a broker-backed
        # twin would commit to the consumer group here.
        pass


# ---------------------------------------------------------------------------
# Producer side (DataSourceStreamWriter): append micro-batches to the
# same log layout the reader consumes — the Kafka producer twin. Two
# invariants make it broker-grade:
#
# 1. **Atomic visibility per batch**: executors write `.tmp` files;
#    only the driver's commit() renames them to `.parquet` (rename is
#    atomic on POSIX), so a reader listing the log NEVER sees a
#    half-written batch — abort() deletes the orphaned temps instead.
# 2. **Append order**: committed names are `b<batchId:010d>-...`, so
#    the reader's name-sorted file order IS commit order and offsets
#    assigned by earlier batches never shift (Kafka's log-append
#    guarantee).
# ---------------------------------------------------------------------------

import dataclasses

from pyspark.sql.datasource import DataSourceStreamWriter, WriterCommitMessage


@dataclasses.dataclass
class _AppendCommit(WriterCommitMessage):
    tmp_file: str
    rows: int


class EventsLogStreamWriter(DataSourceStreamWriter):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("events_log sink requires option 'path'")

    def write(self, iterator):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.path, exist_ok=True)
        rows = list(iterator)
        tmp = f"{self.path}/inflight-{uuid.uuid4().hex}.tmp"
        cols = list(LOG_SCHEMA.fieldNames())[:5]  # producer writes data cols
        table = pa.table(
            {c: [getattr(r, c) for r in rows] for c in cols}
        )
        pq.write_table(table, tmp)
        return _AppendCommit(tmp_file=tmp, rows=len(rows))

    def commit(self, messages, batchId: int) -> None:
        for i, m in enumerate(sorted(
            (m for m in messages if m is not None and m.rows > 0),
            key=lambda m: m.tmp_file,
        )):
            os.rename(m.tmp_file, f"{self.path}/b{batchId:010d}-{i:05d}.parquet")
        for m in messages:
            if m is not None and m.rows == 0 and os.path.exists(m.tmp_file):
                os.remove(m.tmp_file)

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.tmp_file):
                os.remove(m.tmp_file)


class EventsLogSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "events_log"

    def schema(self):
        return LOG_SCHEMA

    def streamReader(self, schema):
        return EventsLogStreamReader(self.options)

    def streamWriter(self, schema, overwrite: bool):
        return EventsLogStreamWriter(self.options)


def register(spark) -> None:
    spark.dataSource.register(EventsLogSource)
