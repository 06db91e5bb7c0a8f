"""Parquet table loaders for the driver's sf_dir layout (TESTDATA.md).

The reference ingests from Kafka topics (SURVEY.md §1.1 [REF?]); here
the batch source of record is one parquet file per table under
``{sf_dir}/{name}.parquet``. The streaming twin lives in
``demo_segmenter_spark.streaming.sources``.

Scale note (100 TB): a production deployment would point these loaders
at a partitioned parquet/iceberg layout; `spark.read.parquet` already
gives us predicate pushdown, column pruning and row-group skipping, and
the per-table helpers below never force materialization, so plans stay
lazily composable and Catalyst sees the whole tree.

Schema memo: a plain ``spark.read.parquet`` launches a schema-inference
job on every call (sf0.01 orders on a 4-core Xeon, median of 10 reads:
102 ms, vs 20 ms with a known schema). ``_read_parquet`` keeps the StructType Spark itself
inferred on a path's first read and hands it back to later reads
through ``spark.read.schema``. The memo key is the path, its stat
(mtime and size, per file for a parquet directory) and the session's
``nanosAsLong`` and ``inferTimestampNTZ`` values, so a rewritten file
or a flipped conf is inferred afresh.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        return _load_events(spark, path)
    return _read_parquet(spark, path)


# The confs that change what Spark infers from a parquet footer.
_INFER_CONFS = (
    ("spark.sql.legacy.parquet.nanosAsLong", "false"),
    ("spark.sql.parquet.inferTimestampNTZ.enabled", "true"),
)
# path -> (memo key, inferred schema); one entry per path, so a
# rewritten file or a flipped conf replaces its entry.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """The memo key of ``path``, or None where it cannot be stat'ed
    (a missing or non-local path reads without the memo)."""
    try:
        st = os.stat(path)
        files = ()
        if os.path.isdir(path):
            files = tuple(
                sorted(
                    (e.name, s.st_mtime_ns, s.st_size)
                    for e in os.scandir(path)
                    for s in (e.stat(),)
                )
            )
    except OSError:
        return None
    confs = tuple(spark.conf.get(k, d) for k, d in _INFER_CONFS)
    return (path, st.st_mtime_ns, st.st_size, files, confs)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job
    after the first read of an unchanged path (see the module doc)."""
    key = _schema_key(spark, path)
    hit = _SCHEMAS.get(path)
    if key and hit and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if key:
        _SCHEMAS[path] = (key, df.schema)
    return df


def ensure_nanos_as_long(spark: SparkSession) -> None:
    """Turn on ``spark.sql.legacy.parquet.nanosAsLong`` (TIMESTAMP(NANOS)
    columns read as raw LongType nanos) unless it is already on. Sessions
    built by session.py set it at build time, so the set here only fires
    for DRIVER-OWNED sessions passed into __spark_entry__, and a
    co-resident query in OUR sessions never sees a mid-job conf flip.
    The one place a query path sets this flag (batch and stream events
    loaders)."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    if spark.conf.get(key, "false") != "true":
        spark.conf.set(key, "true")


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Normalize `events.ts` to a µs TimestampType whatever the fixture
    drop encoded: early drops wrote parquet TIMESTAMP(NANOS) (Spark 4
    rejects it unless legacy nanosAsLong is on — read as raw nanos, then
    integer-truncate ns→µs exactly like DuckDB's read); later drops write
    plain TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
    TIMESTAMP_NTZ — under the UTC session (session.py) a cast to
    TimestampType preserves the epoch micros DuckDB sees, so oracle
    comparisons agree either way (SURVEY.md §1.2).
    """
    from pyspark.sql import functions as F

    ensure_nanos_as_long(spark)
    raw = _read_parquet(spark, path)
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "timestamp":
        return raw
    if ts_type == "timestamp_ntz":
        norm = F.col("ts").cast("timestamp").alias("ts")
    else:  # bigint: raw nanos; integer div truncates ns→µs
        norm = F.timestamp_micros(F.expr("ts DIV 1000")).alias("ts")
    return raw.select(*[norm if c == "ts" else F.col(c) for c in raw.columns])


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def spread(df: DataFrame) -> DataFrame:
    """Repartition a *compute-bound* narrow pipeline to the session's
    default parallelism.

    The fixture tables are single small parquet files, so Spark gives
    them one input split — and a per-row-expensive operator (15M md5
    shingles in c_doc_fingerprint, dot products in c_sim_knn) then
    serializes on 1 of N cores. Measured: fingerprint 1.86s → parallel
    across 32 cores after spread. At 100 TB the scan itself yields
    thousands of splits and this is a no-op by construction — the rule
    it encodes ("CPU-heavy map work must scale with cores, not input
    file count") is the same one that sizes maxPartitionBytes there.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
