"""The benchmark's workloads and their correctness checks.

Both run closed loop from one client.

``llm_pipeline`` runs a fixed list of registered queries; the seed sets
the query order of every pass. Python workers (ArrowEvalPython,
mapInPandas block lanes) and eager construction do the work, beside
scans, shuffles and aggregations; ``b_pipeline_tpch_q3`` adds the
broadcast joins. It is the control for stream changes.

``stream_ingest`` is the only workload that writes beside its reads: a
seeded producer appends events files to an ``events_log`` topic in
rounds, and after each append the log is drained through the Kafka-shaped
source into the parquet stream sink on one checkpoint, so offsets carry
on while the log grows. Each pass ends with ``a_sessionize_kafka_shape``,
a stateful session-window stream into the memory sink, so the
micro-batch floor and the state store are measured here too. It is the
control for Python-lane changes.

Every query listed here has a DuckDB oracle; the first pass of a run
collects each result and compares it with the oracle, normalized the way
``tests/test_oracle.py`` normalizes.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import time

import numpy as np

from fixture import append_log_round, events_table

QUERY_WORKLOADS = {
    "llm_pipeline": [
        "c_dedup_ngram",
        "c_token_bpe_encode",
        "b_graph_pagerank",
        "c_embed_pca",
        "b_pipeline_tpch_q3",
    ],
}
INGEST_QUERY = "a_sessionize_kafka_shape"
WORKLOADS = (*QUERY_WORKLOADS, "stream_ingest")

# Typical pass length on a 4-core machine. It only turns --seconds into a
# pass count fixed before measuring: passes keep getting faster for a
# while after set-up, so a deadline would change, from run to run, how
# many (and so which) passes the median sees.
PASS_SECONDS = {"llm_pipeline": 4.0, "stream_ingest": 8.0}

# Producer shape of stream_ingest: records and rounds per pass. The seed
# splits the records between rounds; the total stays fixed so that
# records_per_s compares across seeds.
INGEST_RECORDS = 100_000
INGEST_ROUNDS = 2
INGEST_PARTITIONS = 8


def input_records(name: str, table_rows: dict[str, int]) -> int:
    """Fixture rows a query reads: the tables its oracle SQL names."""
    from demo_segmenter_spark.registry import REGISTRY

    sql = REGISTRY[name].oracle
    return sum(n for t, n in table_rows.items() if re.search(rf"\b{t}\b", sql))


def run_query(spark, name: str, sf_dir: str, tracer, collect: bool = False):
    """One operation: build the query, drive it to its sink, release its
    caches. Returns (timings, (columns, row digest) or None)."""
    from demo_segmenter_spark.functions.cache import release_persisted
    from demo_segmenter_spark.registry import REGISTRY

    result = None
    t0 = time.perf_counter()
    with tracer.span("construct", query=name):
        df = REGISTRY[name].fn(spark, sf_dir)
    t1 = time.perf_counter()
    if collect:
        with tracer.span("sink.collect", query=name):
            rows = df.collect()
        result = (df.columns, row_digest(rows, df.columns))
    else:
        with tracer.span("sink.noop", query=name):
            df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    with tracer.span("cache.release", query=name):
        release_persisted(spark, owner=True)
        spark.catalog.clearCache()
    t3 = time.perf_counter()
    timings = {"op": name, "construct_s": t1 - t0, "sink_s": t2 - t1,
               "release_s": t3 - t2, "s": t3 - t0}
    return timings, result


class QueryWorkload:
    """A fixed query list, re-ordered by the seed on every pass."""

    sink_files = 0  # parquet files the last pass wrote

    def __init__(self, names, spark, sf_dir, table_rows, seed, tracer):
        self.names = list(names)
        self.spark, self.sf_dir, self.tracer = spark, sf_dir, tracer
        self.rng = random.Random(seed)
        self.records_per_pass = sum(input_records(n, table_rows) for n in self.names)

    def run_pass(self, collect: bool = False):
        order = list(self.names)
        self.rng.shuffle(order)
        ops, results = [], {}
        for name in order:
            timings, result = run_query(self.spark, name, self.sf_dir, self.tracer, collect)
            ops.append(timings)
            results[name] = result
        return ops, results

    def check_pass(self) -> dict[str, str]:
        return {}


class IngestWorkload:
    """Seeded producer rounds drained through the events_log source into
    the parquet stream sink, then the Kafka-shaped sessionization."""

    def __init__(self, spark, sf_dir, table_rows, seed, tracer, work_dir):
        self.spark, self.sf_dir, self.tracer = spark, sf_dir, tracer
        self.work_dir = work_dir
        rng = np.random.default_rng([seed, 1])
        n_users = max(2, table_rows["events"] // 60)
        user_map = rng.choice(1 << 31, n_users, replace=False)
        first_id = int(rng.integers(0, 1 << 40))
        cuts = np.sort(rng.integers(INGEST_RECORDS // 4, INGEST_RECORDS * 3 // 4, INGEST_ROUNDS - 1))
        sizes = np.diff([0, *cuts, INGEST_RECORDS])
        self.rounds = []
        for n in sizes:
            self.rounds.append(events_table(rng, int(n), n_users, first_id, user_map))
            first_id += int(n)
        self.generated = int(sizes.sum())
        self.records_per_pass = self.generated + input_records(INGEST_QUERY, table_rows)
        self.passes = 0
        self.sink_files = 0

    def run_pass(self, collect: bool = False):
        from demo_segmenter_spark.sources.kafka_shape import register
        from demo_segmenter_spark.streaming.sinks import write_stream_parquet

        spark, tracer = self.spark, self.tracer
        base = f"{self.work_dir}/ingest/pass{self.passes}"
        self.passes += 1
        log, out, ckpt = f"{base}/log", f"{base}/out", f"{base}/ckpt"
        ops = []
        with tracer.span("source.register"):
            register(spark)
        for i, table in enumerate(self.rounds):
            append_log_round(log, i, table)
            visible = time.perf_counter()
            with tracer.span("source.kafka_shape"):
                stream = (
                    spark.readStream.format("events_log")
                    .option("path", log)
                    .option("partitions", str(INGEST_PARTITIONS))
                    .load()
                )
            with tracer.span("sink.parquet"):
                write_stream_parquet(stream, out, ckpt).awaitTermination()
            done = time.perf_counter()
            ops.append({"op": f"drain{i}", "s": done - visible})
        timings, result = run_query(spark, INGEST_QUERY, self.sf_dir, tracer, collect)
        ops.append(timings)
        self.last_pass = base
        return ops, {INGEST_QUERY: result}

    def check_pass(self) -> dict[str, str]:
        """The last pass committed every generated record, each log
        position once."""
        import pyarrow.parquet as pq

        out = f"{self.last_pass}/out"
        failures = {}
        t = pq.read_table(out, columns=["log_partition", "log_offset"])
        self.sink_files = sum(f.endswith(".parquet") for f in os.listdir(out))
        keys = t.column("log_partition").to_numpy().astype(np.int64) << 40
        keys += t.column("log_offset").to_numpy()
        if t.num_rows != self.generated:
            failures["ingest.count"] = f"committed {t.num_rows} != generated {self.generated}"
        elif len(np.unique(keys)) != t.num_rows:
            failures["ingest.duplicates"] = "duplicate (log_partition, log_offset)"
        shutil.rmtree(self.last_pass, ignore_errors=True)
        return failures


def make_workload(name, spark, sf_dir, table_rows, seed, tracer, work_dir):
    if name in QUERY_WORKLOADS:
        return QueryWorkload(QUERY_WORKLOADS[name], spark, sf_dir, table_rows, seed, tracer)
    return IngestWorkload(spark, sf_dir, table_rows, seed, tracer, work_dir)


def row_digest(rows, columns) -> list[int]:
    """Order-insensitive fingerprint of a result: the sorted hashes of its
    rows, each normalized as tests/test_oracle.py normalizes. A run keeps
    these small digests until the oracles are checked, after the memory
    peak has been read."""
    from tests.test_oracle import _normalize

    return sorted(hash(_normalize([row], columns)[1][0]) for row in rows)


def check_oracles(sf_dir: str, results) -> dict[str, str]:
    """Compare collected results with each query's DuckDB oracle; returns
    {query: reason} for every mismatch."""
    import duckdb

    from demo_segmenter_spark.registry import REGISTRY
    from demo_segmenter_spark.sources.tables import TABLES

    results = {k: v for k, v in results.items() if v is not None}
    if not results:
        return {}
    failures = {}
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for name, (s_cols, s_digest) in results.items():
            cur = con.execute(REGISTRY[name].oracle)
            d_cols = [c[0] for c in cur.description]
            d_digest = []
            while chunk := cur.fetchmany(50_000):
                d_digest += row_digest(chunk, d_cols)
            d_digest.sort()
            if sorted(s_cols) != sorted(d_cols):
                failures[name] = "column names differ"
            elif len(s_digest) != len(d_digest):
                failures[name] = f"row count spark={len(s_digest)} duckdb={len(d_digest)}"
            elif s_digest != d_digest:
                failures[name] = "values differ"
    finally:
        con.close()
    return failures
