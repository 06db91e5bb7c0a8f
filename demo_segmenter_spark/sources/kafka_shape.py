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
The executor read follows the same rule: a drain's read is often a
single task, so a pandas import in it would sit on the batch's
critical path whenever its Python worker is fresh.

Scale note: ``partitions()`` plans read tasks as *file groups*: the
log files holding rows of the batch's window, split in append order
into at most ``n_partitions`` contiguous groups balanced by those rows
(the log partition count caps the tasks as a consumer group's size
caps its consumers). Each task reads each of its files once and emits
the rows of every log partition in them, with exact per-partition
offsets; nothing funnels through the driver, which touches metadata
only (file listing + the cached per-partition counts). The per-batch
cost is one file read per file, not one per (file, partition). With a
real broker the read() body becomes a consumer.poll loop; every
offset/partition mechanism above is unchanged — that is the point of
the emulation.
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


def _int64_values(table, name: str, fpath: str):
    """Column ``name`` as one int64 numpy array, each chunk viewed in
    place over its data buffer (pandas-free, see the module
    docstring). Nulls raise TypeError."""
    import numpy as np
    import pyarrow as pa

    parts = [np.empty(0, dtype=np.int64)]
    for chunk in table.column(name).chunks:
        if chunk.null_count:
            raise TypeError(f"{fpath}: '{name}' has {chunk.null_count} nulls")
        if chunk.type != pa.int64():
            chunk = chunk.cast(pa.int64())
        parts.append(
            np.frombuffer(
                chunk.buffers()[1], dtype=np.int64, count=len(chunk),
                offset=chunk.offset * 8,
            )
        )
    return np.concatenate(parts)


def _arrow(values):
    """A contiguous numpy array as an Arrow array over its buffer
    (pandas-free, unlike ``pa.array``)."""
    import pyarrow as pa

    return pa.Array.from_buffers(
        pa.from_numpy_dtype(values.dtype), len(values),
        [None, pa.py_buffer(values)],
    )


def _file_partition_counts(fpath: str, n_parts: int) -> list[int]:
    """Rows per log partition inside one committed file (user_id scan
    only, vectorized bincount). Committed files are immutable (atomic
    rename, append-only log), so callers may cache the result
    forever."""
    import numpy as np
    import pyarrow.parquet as pq

    with pq.ParquetFile(fpath) as pf:
        t = pf.read(columns=["user_id"])
    uid = _int64_values(t, "user_id", fpath)
    return np.bincount(uid % n_parts, minlength=n_parts).tolist()


def _partition_rows(
    files: list[str],
    part_id: int,
    n_parts: int,
    start: int = 0,
    end: float = float("inf"),
):
    """The scalar reference for ``EventsLogStreamReader.read``: one
    partition's rows with offsets in [start, end), in append order,
    walked row at a time through every file with offsets counted from
    0. Nothing reads through it; tests/test_kafka_shape.py compares the
    vectorized read against it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    off = 0
    for fpath in files:
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


class _FileGroup(InputPartition):
    """One read task: a run of consecutive log files, each read once.
    ``bases[i][p]`` is partition p's first offset in ``files[i]``;
    ``start[p]`` and ``end[p]`` bound partition p's offset window."""

    def __init__(self, files, bases, n_parts, start, end):
        self.files = files
        self.bases = bases
        self.n_parts = n_parts
        self.start = start
        self.end = end


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
        """Plan from the count cache alone: files with no row inside
        the window are dropped (never opened, the seek a broker's
        offset index gives), and the rest split, in append order, into
        at most ``n_parts`` contiguous groups balanced by their rows in
        the window, as a consumer group's size caps its consumers."""
        n = self.n_parts
        lo = [start.get(str(p), 0) for p in range(n)]
        hi = [end.get(str(p), 0) for p in range(n)]
        planned = []  # (file, its per-partition bases, its rows in window)
        base = [0] * n
        for fpath in _log_files(self.path):
            counts = self._file_counts(fpath)
            rows = sum(
                max(0, min(b + c, h) - max(b, s))
                for b, c, s, h in zip(base, counts, lo, hi)
            )
            if rows:
                planned.append((fpath, base, rows))
            base = [b + c for b, c in zip(base, counts)]
        total = sum(rows for _, _, rows in planned)
        k = min(n, len(planned))
        groups: dict[int, list] = {}
        seen = 0
        for fpath, b, rows in planned:
            # the group of the file's middle row: contiguous, balanced
            groups.setdefault((2 * seen + rows) * k // (2 * total), []).append(
                (fpath, b)
            )
            seen += rows
        return [
            _FileGroup([f for f, _ in g], [b for _, b in g], n, lo, hi)
            for g in groups.values()
        ]

    def read(self, partition: _FileGroup):
        """Vectorized executor read, yielded as Arrow RecordBatches
        (Spark's Python DataSource API consumes Arrow directly, so no
        per-row Python tuple exists on the wire path). Each file is
        read once and emits the rows of every partition inside its
        window; a row's offset is its file's base for the row's
        partition plus its rank among the file's rows of that
        partition, so rows and offsets equal _partition_rows'."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        n = partition.n_parts
        lo = np.asarray(partition.start, dtype=np.int64)
        hi = np.asarray(partition.end, dtype=np.int64)
        for fpath, base in zip(partition.files, partition.bases):
            with pq.ParquetFile(fpath) as pf:
                ts_col = "ts_us" if "ts_us" in pf.schema_arrow.names else "ts"
                t = pf.read(
                    columns=["event_id", ts_col, "user_id", "event_type", "value"]
                )
            part = _int64_values(t, "user_id", fpath) % n
            counts = np.bincount(part, minlength=n)
            order = np.argsort(part, kind="stable")  # by partition, append order
            rank = np.empty_like(order)
            rank[order] = np.arange(len(part)) - np.repeat(
                np.cumsum(counts) - counts, counts
            )
            off = np.asarray(base, dtype=np.int64)[part] + rank
            keep = np.flatnonzero((off >= lo[part]) & (off < hi[part]))
            ft = t.take(_arrow(keep))
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
                ts_us = _arrow(_int64_values(ft, "ts", fpath) // div * mult)
            out = pa.table(
                {
                    "event_id": ft.column("event_id").cast(pa.int64()),
                    "ts_us": ts_us,
                    "user_id": ft.column("user_id").cast(pa.int64()),
                    "event_type": ft.column("event_type").cast(pa.string()),
                    "value": ft.column("value").cast(pa.float64()),
                    "log_partition": _arrow(part[keep].astype(np.int32)),
                    "log_offset": _arrow(off[keep]),
                }
            )
            yield from out.to_batches()

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
