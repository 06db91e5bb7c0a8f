"""Streaming sources: the parquet fixtures replayed as micro-batch
streams (the Kafka-topic twin of sources/tables.py — SURVEY.md §1.1).

At 100 TB / production this is `spark.readStream.format("kafka")` (or a
file stream over an arriving-partitions directory); the query topology
downstream is identical — that is the point of Structured Streaming's
unified batch/stream model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _events_raw_schema(sf_dir: str) -> tuple[T.StructType, bool]:
    """File streams need an explicit schema, and the fixture's `ts`
    encoding has changed across drops (TIMESTAMP(NANOS) early, plain µs
    TIMESTAMP_NTZ later). Sniff the parquet footer (pyarrow, no Spark
    job) and return (raw schema, ts_is_raw_nanos)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts_type = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
    if not pa.types.is_timestamp(ts_type):
        raise TypeError(
            f"events.ts: expected a parquet timestamp column, got {ts_type}"
        )
    # Inspect (unit, tz) structurally, not via the stringified type: with
    # nanosAsLong any ns column (tz-adjusted or not) arrives as LongType;
    # non-ns columns are LTZ iff the parquet logical type carries a tz
    # (isAdjustedToUTC), else NTZ.
    nanos = ts_type.unit == "ns"
    if nanos:
        ts_field = T.StructField("ts", T.LongType())  # TIMESTAMP(NANOS) read as long
    elif ts_type.tz is not None:
        ts_field = T.StructField("ts", T.TimestampType())
    else:
        ts_field = T.StructField("ts", T.TimestampNTZType())
    return (
        T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                ts_field,
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        ),
        nanos,
    )


def _stream_dir(sf_dir: str, name: str) -> str:
    """Spark's file-stream source requires a *directory*; the fixture is
    one file per table. Build a scratch symlink dir per (sf_dir, table)
    — read-only on the fixture, idempotent, race-safe."""
    import os

    from demo_segmenter_spark.functions.scratch import scratch_dir

    d = f"{scratch_dir('stream', sf_dir)}/{name}"
    os.makedirs(d, exist_ok=True)
    link = f"{d}/{name}.parquet"
    if not os.path.lexists(link):
        try:
            os.symlink(f"{sf_dir}/{name}.parquet", link)
        except FileExistsError:
            pass
    return d


def stream_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders as an unbounded stream — the second changelog topic of
    the cogroup / KTable topologies. This helper OWNS the stream-side
    orders schema (file streams require one explicitly): it is sniffed
    from the parquet footer via pyarrow, so a fixture type tweak
    surfaces here — loudly, in one place — instead of silently
    misreading per-query schema copies. orders carries no ns-encoded
    column in any fixture drop, so no ts normalization is needed; if a
    drop ever adds one, the assert below fails with the real cause."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    arrow = pq.read_schema(f"{sf_dir}/orders.parquet")
    for field in arrow:
        if pa.types.is_timestamp(field.type) and field.type.unit == "ns":
            raise TypeError(
                f"orders.{field.name} is TIMESTAMP(NANOS); stream_orders "
                "needs the events-style nanos normalization added"
            )
    schema = from_arrow_schema(arrow, prefer_timestamp_ntz=True)
    return spark.readStream.schema(schema).parquet(_stream_dir(sf_dir, "orders"))


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as an unbounded stream; same ts normalization as the batch
    loader (sources/tables.py): raw nanos → truncate to µs, µs NTZ →
    cast to session-TZ (UTC) TimestampType."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema, nanos = _events_raw_schema(sf_dir)
    raw = spark.readStream.schema(schema).parquet(_stream_dir(sf_dir, "events"))
    ts = (
        F.timestamp_micros(F.expr("ts DIV 1000"))
        if nanos
        else F.col("ts").cast("timestamp")
    )
    return raw.select(
        "event_id",
        ts.alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def chunked_parquet_src(
    df: DataFrame,
    chunk: "F.Column",
    n_chunks: int,
    base: str,
    drop_cols: tuple = (),
) -> str:
    """Replay ``df`` as ``n_chunks`` ordered micro-batches: write one
    parquet file per chunk id, symlink them into ``base``/src with
    ascending mtimes so ``maxFilesPerTrigger=1`` delivers them in
    chunk order (the chunked-source idiom shared by every *_stream
    twin).

    Round-12 optimization (guide §2.4): ONE Spark job — the chunk id
    is computed as a column and the write is ``partitionBy`` on it
    (hash repartition sends all rows of a chunk to exactly one task,
    so each chunk directory holds exactly one file) — instead of
    n_chunks sequential filtered scans + coalesce(1) writes, which
    re-read the source n_chunks times for one comparison per row.
    Rows inside a chunk land in shuffle order rather than scan order;
    every consumer aggregates per micro-batch (counts / profile sums /
    state updates keyed independently of row order), so batch contents
    and final state are unchanged. A chunk with zero rows (degenerate
    fixture) still gets an empty schema-bearing file so the batch
    COUNT never changes."""
    import os
    import time as _time

    src = f"{base}/src"
    os.makedirs(src)
    cdir = f"{base}/chunkpq"
    (
        df.withColumn("__chunk", chunk)
        .drop(*drop_cols)
        .repartition(n_chunks, "__chunk")
        .write.partitionBy("__chunk")
        .parquet(cdir)
    )
    now = _time.time()
    for i in range(n_chunks):
        d = f"{cdir}/__chunk={i}"
        parq = (
            [f for f in os.listdir(d) if f.endswith(".parquet")]
            if os.path.isdir(d)
            else []
        )
        if not parq:
            d = f"{base}/empty{i}"
            df.drop(*drop_cols).limit(0).coalesce(1).write.mode(
                "overwrite"
            ).parquet(d)
            parq = [f for f in os.listdir(d) if f.endswith(".parquet")]
        for fname in parq:
            link = f"{src}/{i}_{fname}"
            os.symlink(f"{d}/{fname}", link)
            # Retime the TARGET file, not (only) the symlink: Hadoop's
            # local filesystem stat() FOLLOWS symlinks, so the stream
            # source orders micro-batches by the target's mtime. The
            # sequential writer got ascending target mtimes for free
            # (one job per chunk, seconds apart); the one-job write
            # stamps all chunks within the same few ms, leaving
            # delivery order to the listing tiebreak — set it
            # explicitly so chunk order IS batch order.
            os.utime(f"{d}/{fname}", (now + i * 10, now + i * 10))
            os.utime(
                link, (now + i * 10, now + i * 10), follow_symlinks=False
            )
    return src


def range_chunk_col(col: str, cuts: list[int]) -> "F.Column":
    """Chunk id for ``cuts``-bounded half-open ranges as a column
    expression: chunk i ⟺ cuts[i] <= col < cuts[i+1] (the exact
    per-chunk filters the sequential writer used — comparisons, not a
    closed-form division, because floor-division cut sequences are not
    inverted exactly by floor(x·n/W))."""
    n = len(cuts) - 1
    c = F.when(F.col(col) < F.lit(cuts[1]), 0)
    for i in range(1, n - 1):
        c = c.when(F.col(col) < F.lit(cuts[i + 1]), i)
    return c.otherwise(n - 1)


def memsink_state_parts(spark: SparkSession) -> "stream_state_parts":
    """State-partition context for the availableNow memory-sink twins
    (round-13, measured): their stateful aggregations ran at the
    session shuffle-partition count (32), paying one near-empty
    HDFSBackedStateStore instance + per-batch commit per partition —
    a_ohlc_stream read 6.6 s at 32 parts vs 1.9 s at 4 (rows
    identical); sessionize-class state (~48 k rows) measured BEST at 4
    (1 part is worse: one big store commits single-threaded). 4 is the
    robust right-size across both grid-bounded and session-scale
    fixture state; production cardinalities override via env. Scan
    parallelism is unaffected (file source + map-side partial
    aggregation, guide §2.2); AQE cannot coalesce stateful streaming
    exchanges, which is why this needs a knob at all."""
    import os

    return stream_state_parts(
        spark, parts=int(os.environ.get("SPARK_GRAFT_MEMSINK_STATE_PARTS", "4"))
    )


class stream_state_parts:
    """Context manager pinning ``spark.sql.shuffle.partitions`` for
    the duration of a bounded-state stream run (state-store partition
    count is fixed at query start from this conf). The twins' state is
    grid-/profile-bounded (≤ a few hundred rows) by construction, so
    a handful of state partitions is the right number at ANY corpus
    scale — the scan side's parallelism is governed by the file
    source, and the map-side partial aggregation still runs at scan
    parallelism; only the bounded reduce/state layer narrows (guide
    §2.2: fewer, larger reduce partitions). Override via
    SPARK_GRAFT_STREAM_STATE_PARTS for stress runs.

    Default 1 (round-12 pass 2, measured): for a ≤ few-hundred-row
    complete-mode state, every extra state partition is a per-batch
    HDFSBackedStateStore instance + delta file + task for rows that
    fit one partition a thousand times over — a_drift_psi_stream solo
    warm best-of-3 read 4.7 s at 1 part vs 6.5 s at the previous 4.
    A stream whose state is NOT grid-bounded must not use this
    manager (none of the callers qualify; the fk-join/cdc twins run
    their own partitioning)."""

    def __init__(self, spark: SparkSession, parts: int | None = None):
        import os

        self.spark = spark
        self.parts = parts or int(
            os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTS", "1")
        )

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.parts))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)
        return False
