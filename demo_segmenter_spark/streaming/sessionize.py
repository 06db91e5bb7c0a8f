"""Streaming sessionization — the reference's core semantics
(Kafka Streams SessionWindows [REF?, SURVEY.md §2 Layer A]) on Spark's
native `session_window` + watermark, run to completion over the fixture
via Trigger.AvailableNow into a memory sink by `streaming/sinks.run_to_memory`
(complete mode, SESSION_STATE_PARTS state partitions).

Twin-equivalence contract (SURVEY.md §5.4): with the whole fixture in
one micro-batch and a zero watermark delay, update-mode output equals
the batch lag/cumsum rewrite in operators/layer_a.py exactly —
asserted both in tests and by the driver's DuckDB oracle (the streaming
query registers with the SAME oracle CTE as the batch one).

Semantics note: Spark emits session_window.end = last_event + gap
(half-open window), so the last-event time is end - gap; Kafka Streams'
session end is the last-event timestamp itself. We emit last-event time
to match the reference's notion. Spark's session merge is INCLUSIVE at
the boundary (an event at exactly prev+GAP merges into the same
session — verified empirically, pinned in tests/test_session_ties.py),
identical tie behavior to the batch lag/cumsum rewrite's
`diff > GAP_US`.

Scale notes (100 TB streaming): state lives in the state store keyed by
(user, session); watermark bounds state size by evicting closed
sessions; `spark.sql.streaming.statefulOperator.stateRebalancing` and
RocksDB provider are the production knobs. The plan below is exactly
what a Kafka-sourced deployment would run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from demo_segmenter_spark.functions.compat import cents, rnd
from demo_segmenter_spark.operators.layer_a import GAP_HOURS, GAP_US
from demo_segmenter_spark.streaming.sinks import run_to_memory
from demo_segmenter_spark.streaming.sources import SESSION_STATE_PARTS, stream_events


def sessionize_topology(ev: DataFrame, gap_hours: int = GAP_HOURS) -> DataFrame:
    """The session aggregation over any (streaming or batch) events
    relation with a ``ts`` timestamp — shared by the file-stream twin
    and the Kafka-shaped events_log twin so both run the IDENTICAL
    topology against the same oracle."""
    agg = ev.groupBy(
        F.session_window("ts", f"{gap_hours} hours").alias("w"), "user_id"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(cents(F.col("value"))).alias("sum_cents"),
    )
    return agg.select(
        "user_id",
        F.unix_micros("w.start").alias("session_start_us"),
        (F.unix_micros("w.end") - gap_hours * 3600 * 1_000_000).alias(
            "session_last_us"
        ),
        "n_events",
        rnd(F.col("sum_cents") / 100.0, 2).alias("sum_value"),
    )


def sessionize_stream(
    spark: SparkSession,
    sf_dir: str,
    gap_hours: int = GAP_HOURS,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Run the session_window aggregation over the events stream to
    completion (AvailableNow) and return the final session table."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", watermark)
    return run_to_memory(
        sessionize_topology(ev, gap_hours), "complete", SESSION_STATE_PARTS
    )


def sessionize_kafka_shape(
    spark: SparkSession, sf_dir: str, n_partitions: int = 8
) -> DataFrame:
    """The same topology fed by the Kafka-shaped partitioned events_log
    source (sources/kafka_shape.py): per-partition offsets, key-hash
    partitioning on user_id, checkpointed consume positions."""
    from demo_segmenter_spark.sources.kafka_shape import register
    from demo_segmenter_spark.streaming.sources import _stream_dir

    register(spark)
    ev = (
        spark.readStream.format("events_log")
        .option("path", _stream_dir(sf_dir, "events"))
        .option("partitions", str(n_partitions))
        .load()
        .select(
            "event_id",
            F.timestamp_micros("ts_us").alias("ts"),
            "user_id",
            "event_type",
            "value",
        )
        .withWatermark("ts", "0 seconds")
    )
    return run_to_memory(sessionize_topology(ev), "complete", SESSION_STATE_PARTS)
